package graft.encode

import graft.core._
import graft.format.{ChunkOps, EncodedChunk, Offsets, PackedIds}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Compressed-domain document DELETION: remove whole documents from an
  * encoded chunk table by id — takedown/right-to-erasure requests, and the
  * MATERIALIZATION step of every dedup pipeline (the near-dup queries emit a
  * loser set; this applies it) — without decompressing a row. Fourth
  * write-side maintenance op after [[Scrub]] (redaction), [[Truncate]]
  * (max-seq-len) and [[Compact]] (small files).
  *
  * Every codec stores rows as independent byte ranges behind the offsets
  * plane, so deletion is a per-plane SPLICE of the kept rows:
  *
  *   - data plane: kept rows' byte ranges copy verbatim — FSST rows are
  *     greedy-canonical under the (unchanged, possibly shared) symbol table,
  *     FoR bases are per-row, RLE/raw rows are self-contained, bitpack rows
  *     keep the chunk header's width, so every kept row stays byte-identical
  *     to a fresh canonical encode under the chunk's header (the invariant
  *     equality pushdown memcmps against).
  *   - DICT: if a deleted row held the only occurrences of a dictionary
  *     entry, the dictionary re-normalizes (sorted distinct set of the
  *     SURVIVING tokens — the exact-set invariant the dict-domain matchers
  *     and gates rely on) and kept rows re-pack old-index → new-index at the
  *     new width, same as [[Scrub]]'s and [[Truncate]]'s dict paths.
  *   - id slab / offsets: kept entries splice; chunks whose every row is
  *     deleted DROP from the table entirely.
  *
  * Stats (zone map, blooms, distinct, escape census) recompute exactly via
  * [[ChunkWalker]]; crc is refreshed. Untouched chunks (no hit in the delete
  * set) pass through byte-identical.
  *
  * Scale shape (100 TB): the plan branches on Spark's own size estimate of
  * the id set, under the rule Spark's planner uses to broadcast a join side
  * (`sizeInBytes <= spark.sql.autoBroadcastJoinThreshold`, threshold −1
  * disables it):
  *
  *   - broadcast branch (the common case — a takedown list or a dedup loser
  *     set is small next to the corpus): the ids are collected once into a
  *     hash set, broadcast, and every chunk is probed and rewritten in ONE
  *     map pass over the chunk table — one scan, no exchange;
  *   - shuffle branch (id set over the threshold, or broadcasts disabled):
  *     the hit derivation reads ONLY the id slab + chunk_id (column pruning
  *     keeps the data plane out of the scan), shuffles (doc_id) pairs —
  *     never payloads — and aggregates per-chunk drop lists bounded by the
  *     chunk row cap; the rewrite joins those small lists back to the chunk
  *     table. This is the branch that handles an id set too big to hold in
  *     one task.
  *
  * Both branches hand the same sorted drop ordinals to [[deleteChunk]], so
  * they write the same chunks byte for byte. Cost is priced by the deleted
  * fraction, not the corpus size.
  */
object Delete {

  /** Per-chunk drop list: row ordinals to remove, sorted ascending. */
  final case class DropRows(chunk_id: Long, drop: Array[Int])

  /** Delete every document whose id appears in `docIds` (first column,
    * cast to string) from an encoded chunk table. Chunks left empty are
    * dropped; untouched chunks pass through byte-identical.
    */
  def delete(chunks: DataFrame, docIds: DataFrame): Dataset[EncodedChunk] = {
    val spark = chunks.sparkSession
    val ids = docIds.select(col(docIds.columns.head).cast("string").as("doc_id"))
    val estimate = ids.queryExecution.optimizedPlan.stats.sizeInBytes
    val threshold = spark.sessionState.conf.autoBroadcastJoinThreshold
    if (estimate >= 0 && estimate <= threshold) deleteBroadcast(chunks, ids)
    else deleteShuffled(chunks, ids)
  }

  /** One map pass: probe each chunk's id slab against a broadcast set. */
  private def deleteBroadcast(chunks: DataFrame, ids: DataFrame): Dataset[EncodedChunk] = {
    val spark = chunks.sparkSession
    import spark.implicits._
    val doomed = new java.util.HashSet[String]()
    ids.as[String].collect().foreach(id => if (id != null) doomed.add(id))
    val bc = spark.sparkContext.broadcast(doomed)
    chunks.as[EncodedChunk].flatMap { c =>
      val set = bc.value
      val rowIds = PackedIds.unpackAll(c.doc_ids, c.row_count)
      val drop = Array.range(0, c.row_count).filter(i => set.contains(rowIds(i)))
      if (drop.isEmpty) Iterator.single(c) else deleteChunk(c, drop).iterator
    }
  }

  /** Hit scan over the id plane, shuffled per-chunk drop lists, join back. */
  private def deleteShuffled(chunks: DataFrame, ids: DataFrame): Dataset[EncodedChunk] = {
    val spark = chunks.sparkSession
    import spark.implicits._
    // metadata-plane hit scan: chunk_id + packed id slab only
    val meta = chunks.select(col("chunk_id"), col("row_count"), col("doc_ids"))
      .as[(Long, Int, Array[Byte])]
      .flatMap { case (cid, n, slab) =>
        val arr = PackedIds.unpackAll(slab, n)
        Iterator.tabulate(n)(i => (cid, i, arr(i)))
      }
      .toDF("chunk_id", "row_idx", "doc_id")
    val hits = meta.join(ids.distinct(), "doc_id")
      .groupBy(col("chunk_id"))
      .agg(sort_array(collect_list(col("row_idx"))).as("drop"))
      .as[DropRows]
    val encDs = chunks.as[EncodedChunk]
    encDs.joinWith(hits, encDs("chunk_id") === hits("chunk_id"), "left_outer")
      .flatMap { case (c, d) =>
        if (d == null) Iterator.single(c) else deleteChunk(c, d.drop).iterator
      }
  }

  /** Delete the given row ordinals from one chunk. `drop` must be sorted
    * ascending (duplicates tolerated). Returns None when every row is
    * dropped, and the chunk UNCHANGED (same object, same crc) when `drop`
    * is empty.
    */
  def deleteChunk(c: EncodedChunk, drop: Array[Int]): Option[EncodedChunk] = {
    require(c.ver == ChunkOps.FormatVersion,
      s"chunk ${c.chunk_id}: unsupported chunk format version ${c.ver}")
    if (drop.isEmpty) return Some(c)
    val del = new Array[Boolean](c.row_count)
    var nDel = 0
    var d = 0
    while (d < drop.length) {
      val i = drop(d)
      require(i >= 0 && i < c.row_count,
        s"chunk ${c.chunk_id}: drop ordinal $i out of range [0, ${c.row_count})")
      if (!del(i)) { del(i) = true; nDel += 1 }
      d += 1
    }
    if (nDel == 0) return Some(c)
    if (nDel == c.row_count) return None
    val offs = Offsets.unpack(c.offsets, c.row_count)
    val keptCount = c.row_count - nDel
    // id-slab splice: kept records copy verbatim, no per-row String
    val idsOut = new ByteWriter(c.doc_ids.length)
    val ids = new PackedIds.Cursor(c.doc_ids)
    var i = 0
    while (i < c.row_count) {
      if (del(i)) ids.skip() else ids.copyNext(idsOut)
      i += 1
    }
    val idsPacked = idsOut.toBytes
    val firstId = new PackedIds.Cursor(idsPacked).next().toString
    val rewritten = c.codec match {
      case DictCodec.name => deleteDict(c, offs, del, keptCount, idsPacked, firstId)
      case _ =>
        // all other codecs: kept rows splice verbatim
        val out = new ByteWriter(c.data.length)
        val ends = new Array[Int](keptCount)
        var k = 0
        i = 0
        while (i < c.row_count) {
          if (!del(i)) {
            out.writeBytes(c.data, offs(i), offs(i + 1) - offs(i))
            ends(k) = out.size
            k += 1
          }
          i += 1
        }
        Truncate.finishRows(c, c.symtab, out.toBytes, ends, idsPacked, firstId)
    }
    Some(rewritten)
  }

  /** Dict rows splice when every dictionary entry survives; otherwise the
    * dictionary re-normalizes and kept rows re-pack at the new width.
    */
  private def deleteDict(c: EncodedChunk, offs: Array[Int], del: Array[Boolean],
                         keptCount: Int, idsPacked: Array[Byte],
                         firstId: String): EncodedChunk = {
    val dict = DictCodec.readDict(c.symtab)
    val oldW = BitPack.bitsFor(math.max(dict.length - 1, 0))
    val rd = new ByteReader(c.data, 0, c.data.length)
    // pass 1: which dictionary entries survive?
    val used = new Array[Boolean](dict.length)
    var usedCnt = 0
    var row = 0
    while (row < c.row_count) {
      if (!del(row)) {
        rd.pos = offs(row)
        val n = rd.readVarUInt()
        if (n > 0) {
          val idx = BitPack.unpack(c.data, rd.pos, n, oldW, i => i)
          var j = 0
          while (j < n) {
            val k = idx(j)
            if (!used(k)) { used(k) = true; usedCnt += 1 }
            j += 1
          }
        }
      }
      row += 1
    }
    val out = new ByteWriter(c.data.length)
    val ends = new Array[Int](keptCount)
    if (usedCnt == dict.length) {
      // dictionary intact: kept rows splice verbatim
      var k = 0
      row = 0
      while (row < c.row_count) {
        if (!del(row)) {
          out.writeBytes(c.data, offs(row), offs(row + 1) - offs(row))
          ends(k) = out.size
          k += 1
        }
        row += 1
      }
      Truncate.finishRows(c, c.symtab, out.toBytes, ends, idsPacked, firstId)
    } else {
      // stranded entries: re-normalize (a sorted subset stays sorted) and
      // re-pack every kept row old-index → new-index at the new width
      val idxMap = new Array[Int](dict.length)
      val newDict = new Array[Int](usedCnt)
      var k = 0
      var iD = 0
      while (iD < dict.length) {
        if (used(iD)) { idxMap(iD) = k; newDict(k) = dict(iD); k += 1 }
        iD += 1
      }
      val newW = BitPack.bitsFor(math.max(usedCnt - 1, 0))
      val header = {
        val w = new ByteWriter(usedCnt * 2 + 8)
        w.writeVarUInt(usedCnt)
        var j = 0
        while (j < usedCnt) { w.writeZigZag(newDict(j)); j += 1 }
        w.toBytes
      }
      k = 0
      row = 0
      while (row < c.row_count) {
        if (!del(row)) {
          rd.pos = offs(row)
          val n = rd.readVarUInt()
          out.writeVarUInt(n)
          if (n > 0) {
            val idx = BitPack.unpack(c.data, rd.pos, n, oldW, i => idxMap(i))
            BitPack.pack(idx, 0, n, j => j, newW, out)
          }
          ends(k) = out.size
          k += 1
        }
        row += 1
      }
      Truncate.finishRows(c, header, out.toBytes, ends, idsPacked, firstId)
    }
  }
}
