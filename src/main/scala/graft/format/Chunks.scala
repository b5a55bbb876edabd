package graft.format

import graft.core._

/** Per-chunk statistics persisted with the chunk (FIXTURES.md §3) — the
  * generalization of the reference's per-block `used_chars` bitmap
  * (/root/reference/src/BenchmarkDriver.hpp:28-37) into selector inputs +
  * a chunk-skipping bloom filter.
  */
final case class ChunkStatsRow(
    distinct_est: Long,
    min_tok: Int,
    max_tok: Int,
    max_run: Int,
    escape_cnt: Long,
    symbol_bitmap: Array[Byte],   // bloom over ALL tokens in the chunk (chunk skip)
    escaped_bitmap: Array[Byte])  // bloom over tokens written as ESCAPES (row-level skip gate)

/** One encoded chunk = one Dataset row. The Spark analog of the reference's
  * FsstBlock (/root/reference/src/BenchmarkDriver.hpp:14-38): the symbol
  * table / codec header travels WITH the chunk (block-local, never global),
  * and `offsets` delimit per-row slices of `data` for selective decode
  * (/root/reference/sketch.cc:770-785).
  */
final case class EncodedChunk(
    ver: Int,                     // chunk-format version (ChunkOps.FormatVersion):
                                  // bumped when the binary layout or crc coverage
                                  // changes, so old tables fail decode with a clear
                                  // "unsupported format" instead of a crc mismatch
    chunk_id: Long,
    part_id: Int,
    codec: String,
    symtab: Array[Byte],          // codec header: symbol table / dict / FoR params
    data: Array[Byte],            // concatenated encoded rows
    offsets: Array[Byte],         // delta-varint row end positions
    row_count: Int,
    n_tokens: Long,
    first_doc_id: String,
    doc_ids: Array[Byte],         // packed ids: per row varUInt(len) + UTF-8 bytes —
                                  // one binary cell instead of row_count string cells
                                  // (string-array materialization dominated chunk scans)
    source: String,               // chunks never span sources (EncodeJob)
    stats: ChunkStatsRow,
    crc: Long)

final case class TokenRow(doc_id: String, tokens: Array[Int], n_tok: Int, source: String)

/** Manifest row: per-bucket lineage + metrics; the checkpoint/resume unit
  * (north_rule). One row per committed bucket per run.
  */
final case class ManifestRow(
    run_id: String,
    wave: Long, // batch wave, or the streaming micro-batch id (a Long)
    part_id: Int,
    status: String,
    n_chunks: Long,
    rows: Long,
    tokens: Long,
    bytes: Long,
    committed_at: Long,
    // file-commit this bucket's chunks live in (chunks/commit=<id>/...);
    // commits absent from the manifest are orphans a resume may delete —
    // the plain-Parquet analog of an Iceberg snapshot id
    commit_id: String)

object Offsets {
  /** Row end positions (offsets(0)=first row end, ... length=rowCount),
    * delta-varint packed. Row i occupies [prev_end, end_i).
    */
  def pack(ends: Array[Int]): Array[Byte] = {
    val w = new ByteWriter(ends.length + 8)
    var prev = 0
    var i = 0
    while (i < ends.length) { w.writeVarUInt(ends(i) - prev); prev = ends(i); i += 1 }
    w.toBytes
  }
  /** Returns rowCount+1 boundaries, starting at 0. */
  def unpack(bytes: Array[Byte], rowCount: Int): Array[Int] = {
    val out = new Array[Int](rowCount + 1)
    val r = new ByteReader(bytes, 0, bytes.length)
    var i = 0
    while (i < rowCount) { out(i + 1) = out(i) + r.readVarUInt(); i += 1 }
    out
  }
}

/** Packed per-row doc ids: varUInt(byteLen) + UTF-8 bytes per row. Sequential
  * cursor access matches the matchers' row loops; only matched ids are ever
  * materialized as strings.
  */
object PackedIds {
  def pack(ids: Array[String]): Array[Byte] = {
    val w = new graft.core.ByteWriter(ids.length * 12)
    var i = 0
    while (i < ids.length) {
      val b = ids(i).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      w.writeVarUInt(b.length)
      w.writeBytes(b, 0, b.length)
      i += 1
    }
    w.toBytes
  }
  def unpackAll(packed: Array[Byte], rowCount: Int): Array[String] = {
    val ids = new Cursor(packed)
    Array.fill(rowCount)(ids.next().toString)
  }

  /** Sequential reader over a packed id slab: each id is a zero-copy
    * UTF8String view into the slab (callers that keep an id past the slab's
    * lifetime copy it, as Spark's output projections do).
    */
  final class Cursor(slab: Array[Byte]) {
    private var pos = 0

    private def readLen(): Int = {
      var len = 0
      var shift = 0
      var b = 0
      do {
        b = slab(pos) & 0xff; pos += 1
        len |= (b & 0x7f) << shift; shift += 7
      } while ((b & 0x80) != 0)
      len
    }

    def next(): org.apache.spark.unsafe.types.UTF8String = {
      val len = readLen()
      val id = org.apache.spark.unsafe.types.UTF8String.fromBytes(slab, pos, len)
      pos += len
      id
    }

    def skip(): Unit = {
      val len = readLen()
      pos += len
    }

    /** Append the next record, length prefix included, to `out` unchanged. */
    def copyNext(out: graft.core.ByteWriter): Unit = {
      val start = pos
      skip()
      out.writeBytes(slab, start, pos - start)
    }
  }
}

object ChunkOps {
  /** Current chunk-format version. v2 = whole-chunk crc (data+symtab+offsets
    * +doc_ids) and Long manifest waves; v1 tables (round-1 format, crc over
    * data only) predate the `ver` column, so they fail Dataset resolution
    * with a missing-column error rather than a misleading crc mismatch.
    */
  val FormatVersion: Int = 2

  def crc32(data: Array[Byte]): Long = {
    val c = new java.util.zip.CRC32()
    c.update(data)
    c.getValue
  }

  /** Chunk-integrity CRC over EVERY field a decode depends on — data,
    * symtab, offsets, and packed doc ids — so a corrupt header or row index
    * cannot yield a silently wrong decode or misattributed doc ids (it fails
    * the decodeAll require instead).
    */
  def chunkCrc(data: Array[Byte], symtab: Array[Byte], offsets: Array[Byte],
               docIds: Array[Byte]): Long = {
    val c = new java.util.zip.CRC32()
    c.update(data)
    c.update(symtab)
    c.update(offsets)
    c.update(docIds)
    c.getValue
  }

  /** Build one EncodedChunk from buffered rows (codec chosen by stats unless
    * forced). `fsstHeaderCache`, when given, is consulted/updated so the
    * expensive symbol-table training runs once per (bucket, source) group.
    */
  def build(chunkId: Long, partId: Int, docIds: Array[String], source: String,
            rowArrays: IndexedSeq[Array[Int]], forceCodec: Option[String],
            fsstHeaderCache: scala.collection.mutable.Map[(Int, String), Array[Byte]],
            precomputedStats: ChunkStats): EncodedChunk =
    build(chunkId, partId, docIds, source, TokenRows.ofArrays(rowArrays),
      forceCodec, fsstHeaderCache, precomputedStats)

  def build(chunkId: Long, partId: Int, docIds: Array[String], source: String,
            rows: TokenRows, forceCodec: Option[String],
            fsstHeaderCache: scala.collection.mutable.Map[(Int, String), Array[Byte]] = null,
            precomputedStats: ChunkStats = null): EncodedChunk =
    buildPacked(chunkId, partId, PackedIds.pack(docIds),
      if (docIds.nonEmpty) docIds(0) else "", source, rows,
      forceCodec, fsstHeaderCache, precomputedStats)

  /** Same as build, but doc ids arrive already in PackedIds wire format
    * (the encode reduce path keeps ids as bytes end-to-end — no per-row
    * String materialization).
    */
  def buildPacked(chunkId: Long, partId: Int, idsPacked: Array[Byte], firstDocId: String,
                  source: String, rows: TokenRows, forceCodec: Option[String],
                  fsstHeaderCache: scala.collection.mutable.Map[(Int, String), Array[Byte]] = null,
                  precomputedStats: ChunkStats = null): EncodedChunk = {
    val stats = if (precomputedStats != null) precomputedStats else ChunkStats.compute(rows)
    val groupKey = (partId, source)
    val cached = if (fsstHeaderCache == null) None else fsstHeaderCache.get(groupKey)
    val (codec, header) = forceCodec match {
      case Some(name) =>
        val c = Codecs.byName(name)
        val h = if (c eq FsstTokenCodec) cached.getOrElse(c.buildHeader(rows, stats))
                else c.buildHeader(rows, stats)
        (c, h)
      case None =>
        val ch = CodecSelector.choose(rows, stats, cached)
        (ch.codec, ch.header)
    }
    if (fsstHeaderCache != null && cached.isEmpty && (codec eq FsstTokenCodec)) {
      fsstHeaderCache(groupKey) = header
    }
    val enc = codec.encoder(header)
    val out = new ByteWriter(1 << 16)
    val ends = new Array[Int](rows.rowCount)
    var i = 0
    while (i < rows.rowCount) {
      enc.encode(rows.buf(i), rows.start(i), rows.len(i), out)
      ends(i) = out.size
      i += 1
    }
    val data = out.toBytes
    val offsetsPacked = Offsets.pack(ends)
    EncodedChunk(
      ver = ChunkOps.FormatVersion,
      chunk_id = chunkId,
      part_id = partId,
      codec = codec.name,
      symtab = header,
      data = data,
      offsets = offsetsPacked,
      row_count = rows.rowCount,
      n_tokens = stats.totalTokens,
      first_doc_id = firstDocId,
      doc_ids = idsPacked,
      source = source,
      stats = ChunkStatsRow(stats.distinctEst, stats.minTok, stats.maxTok,
        stats.maxRun, enc.escapeCount, stats.bloom,
        if (enc.escapedBloom != null) enc.escapedBloom
        else stats.bloom), // non-FSST codecs decode-then-match: every token "escaped"
      crc = chunkCrc(data, header, offsetsPacked, idsPacked))
  }

  /** Bit-identical round-trip decode of a whole chunk (D1). */
  def decodeAll(c: EncodedChunk): Iterator[TokenRow] = {
    require(c.ver == ChunkOps.FormatVersion,
      s"chunk ${c.chunk_id}: unsupported chunk format version ${c.ver} " +
        s"(this build reads v${ChunkOps.FormatVersion}); re-encode the table")
    val codec = Codecs.byName(c.codec)
    val dec = codec.decoder(c.symtab)
    val offs = Offsets.unpack(c.offsets, c.row_count)
    require(ChunkOps.chunkCrc(c.data, c.symtab, c.offsets, c.doc_ids) == c.crc,
      s"chunk ${c.chunk_id}: crc mismatch")
    val ids = PackedIds.unpackAll(c.doc_ids, c.row_count)
    (0 until c.row_count).iterator.map { i =>
      val toks = dec.decode(c.data, offs(i), offs(i + 1))
      TokenRow(ids(i), toks, toks.length, c.source)
    }
  }

  /** Selective decode: only the given row indices (late materialization, D2). */
  def decodeRows(c: EncodedChunk, rowIdx: Array[Int]): Iterator[TokenRow] = {
    val codec = Codecs.byName(c.codec)
    val dec = codec.decoder(c.symtab)
    val offs = Offsets.unpack(c.offsets, c.row_count)
    val ids = PackedIds.unpackAll(c.doc_ids, c.row_count)
    rowIdx.iterator.map { i =>
      val toks = dec.decode(c.data, offs(i), offs(i + 1))
      TokenRow(ids(i), toks, toks.length, c.source)
    }
  }
}
