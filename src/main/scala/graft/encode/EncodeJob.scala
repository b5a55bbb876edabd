package graft.encode

import graft.core._
import graft.format._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The encode job (SURVEY.md §3.4): read a token table, repartition by
  * explicit n_tok-aware buckets with salting for skewed sources, build
  * chunks inside mapPartitions (sample → stats → codec select → encode),
  * and write chunk + manifest tables.
  *
  * Partitioning (north_rule "partitioning / shuffle / skew handled
  * explicitly"): bucket = hash(source, log2-length-class, salt(doc_id)).
  * - same (source, length-class) rows cluster → compression locality, the
  *   Spark analog of the reference's block-local symbol tables
  *   (/root/reference/src/BenchmarkDriver.cpp:87-140);
  * - the salt term splits a heavy (source, length-class) cell across up to
  *   `saltBuckets` buckets → no straggler task at 100 TB;
  * - bucket ids are a pure function of the row → reruns assign identical
  *   buckets, which is what makes manifest-based resume exact.
  * Chunks never span (bucket, source) groups; chunk MEMBERSHIP and
  * within-chunk row order follow shuffle arrival order, which the
  * decode-equals-input invariant does not depend on.
  */
final case class EncodeOptions(
    numBuckets: Int = 32,
    saltBuckets: Int = 32,
    maxRowsPerChunk: Int = 65536,
    maxTokensPerChunk: Long = 1L << 19, // 512Ki tokens ≈ 2 MiB buffered per concurrent task

    forceCodec: Option[String] = None,
    // Encode only these buckets (ResumableEncode's uncommitted-wave set).
    // Filtering INSIDE encode keeps the bucket computed once and lets a
    // bare-parquet-scan input keep the columnar pack path (an external
    // Filter node would force the row path).
    onlyBuckets: Option[Set[Int]] = None,
    waves: Int = 1,
    // job/batch discriminator mixed into chunk_id's high bits so appends
    // from several encode jobs (streaming micro-batches) to one table never
    // collide: chunk_id = (jobTag << 40) | (bucket << 24) | seq.
    jobTag: Long = 0L)

object EncodeJob {

  /** Deterministic bucket id for every row (the explicit repartition key). */
  def withBucket(df: DataFrame, opts: EncodeOptions): DataFrame = {
    val lenClass = floor(log2(greatest(col("n_tok").cast("double"), lit(1.0))))
    val salt = pmod(xxhash64(col("doc_id")), lit(opts.saltBuckets))
    df.withColumn("__bucket",
      pmod(xxhash64(col("source"), lenClass, salt), lit(opts.numBuckets)).cast("int"))
  }

  /** Shuffle rows to their buckets. No Spark-level sort: ordering for
    * determinism happens per (bucket, source) group inside the chunk
    * iterator, which is far cheaper than an UnsafeExternalSorter pass over
    * the full token payload (measured: the external sort dominated the
    * reduce stage and spilled at high task counts).
    */
  def plan(ds: Dataset[TokenRow], opts: EncodeOptions): Dataset[(Int, TokenRow)] = {
    val spark = ds.sparkSession
    import spark.implicits._
    withBucket(ds.toDF(), opts)
      .repartition(opts.numBuckets, col("__bucket"))
      .select(col("__bucket"), struct(col("doc_id"), col("tokens"), col("n_tok"), col("source")).as("row"))
      .as[(Int, TokenRow)]
  }

  /** Pure encode: token rows → encoded chunks (no I/O).
    *
    * Map-side combine before the bucket shuffle: rows are packed per
    * (bucket, source) into varint blocks (TokenBlocks) INSIDE each map task,
    * so the shuffle moves ~2–3 B/token of packed payload in a few thousand
    * block rows instead of ~4.3 B/token of per-row UnsafeRows in millions of
    * rows. On a real cluster this is the network-bytes lever; on a shared
    * memory bus it is the measured scaling lever (the row shuffle's CPU
    * inflated ~6× from 8 to 32 local threads — memory-bandwidth bound).
    * The reduce side unpacks blocks and chunk-builds exactly as before;
    * bucket assignment, per-chunk row order, and the decode invariant are
    * unchanged (chunk MEMBERSHIP follows arrival order, as documented).
    */
  def encode(ds: Dataset[TokenRow], opts: EncodeOptions = EncodeOptions()): Dataset[EncodedChunk] = {
    val spark = ds.sparkSession
    import spark.implicits._
    // Columnar fast path: when the input IS a bare parquet scan (the
    // 100-TB deployment shape — encode jobs read the token table directly),
    // pack straight from the scan's ColumnarBatch vectors: ColumnarToRow's
    // per-row UnsafeRow materialization (~8 B/token of map-side memory
    // traffic, a measured 8→32-thread scaling cost) never runs. Buckets are
    // computed per row bit-identically to the SQL expression (Buckets.of).
    // Derived inputs (tokenization, filters — e.g. ResumableEncode's
    // uncommitted-bucket filter) take the row path below.
    val packed = org.apache.spark.sql.GraftBridge.columnarScan(ds.toDF()) match {
      case Some((batches, names))
          if Seq("doc_id", "tokens", "n_tok", "source").forall(names.contains) =>
        val Seq(iDoc, iTok, iN, iSrc) =
          Seq("doc_id", "tokens", "n_tok", "source").map(names.indexOf)
        val (nb, sb, only) = (opts.numBuckets, opts.saltBuckets, opts.onlyBuckets)
        batches.mapPartitions(it =>
          TokenBlocks.packColumnar(it, iDoc, iTok, iN, iSrc, nb, sb, only))
      case _ =>
        val withB = withBucket(ds.toDF(), opts)
        val filtered = opts.onlyBuckets match {
          case Some(set) =>
            withB.filter(col("__bucket").isin(set.toSeq.map(Integer.valueOf): _*))
          case None => withB
        }
        val df = filtered
          .select(col("__bucket"), col("doc_id"), col("tokens"), col("n_tok"), col("source"))
        org.apache.spark.sql.GraftBridge.toInternalRdd(df)
          .mapPartitions(TokenBlocks.pack)
    }
    // Partition count ≠ bucket count: buckets are the GROUPING identity
    // (chunks never span (bucket, source)); the shuffle's task count follows
    // spark.sql.shuffle.partitions so small clusters aren't fragmented into
    // 64 micro-tasks and large ones aren't capped at 64. Partitioning is
    // EXPLICIT round-robin (bucket % P), not hash-of-key: salted buckets are
    // near-equal-sized, so modulo gives each reduce task the same number of
    // buckets — hashing 64 bucket ids into 32 partitions left some tasks
    // with 3 buckets and others with 1 (a measured 1.5× straggler at
    // local[32], exactly the tail a 1000-executor run cannot afford).
    val reduceParts = math.max(1, math.min(opts.numBuckets,
      spark.sessionState.conf.numShufflePartitions))
    val rdd = packed
      .partitionBy(new BucketPartitioner(reduceParts))
      .mapPartitions(it => new BlockChunkIterator(it, opts))
    spark.createDataset(rdd)
  }

  /** Decode every chunk back to token rows (bit-identical invariant).
    * Typed facade over [[decodeDf]]: the plan is the InternalRow fast path;
    * `.as[TokenRow]` only adds deserialization at a caller's typed boundary
    * (collect/map), never inside the decode itself.
    */
  def decode(chunks: Dataset[EncodedChunk]): Dataset[TokenRow] = {
    val spark = chunks.sparkSession
    import spark.implicits._
    decodeDf(chunks.toDF()).as[TokenRow]
  }

  private[graft] val decodedSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.StringType, nullable = false),
    org.apache.spark.sql.types.StructField("tokens",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.IntegerType, containsNull = false), nullable = false),
    org.apache.spark.sql.types.StructField("n_tok",
      org.apache.spark.sql.types.IntegerType, nullable = false),
    org.apache.spark.sql.types.StructField("source",
      org.apache.spark.sql.types.StringType, nullable = false)))

  /** Bulk decode on the InternalRow plane (D1 hot path). The round-3 typed
    * path deserialized every chunk to an `EncodedChunk` case class and
    * re-encoded every decoded row through the Dataset encoder — two extra
    * copies of every token plus a String round-trip per doc id; the two
    * decode-everything bench queries spent 30% of the round-3 total there.
    * Here chunk fields are read by ordinal from the scan's InternalRows,
    * doc ids become zero-copy UTF8String views over the chunk's packed id
    * slab, token arrays go out as UnsafeArrayData (one memcpy into the
    * output UnsafeRow — the codegen'd writer has an UnsafeArrayData fast
    * path), and the only projection is RDDScanExec's single UnsafeProjection.
    */
  def decodeDf(chunkDf: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeArrayData}
    val spark = chunkDf.sparkSession
    // fixed-ordinal projection; also prunes stats/first_doc_id out of the
    // (possibly cached) chunk-table read
    val proj = chunkDf.select(col("ver"), col("chunk_id"), col("codec"),
      col("symtab"), col("data"), col("offsets"), col("row_count"),
      col("doc_ids"), col("source"), col("crc"))
    val rdd = org.apache.spark.sql.GraftBridge.toInternalRdd(proj).mapPartitions { it =>
      it.flatMap { r =>
        // scan rows are reused: every field is copied out (getBinary copies;
        // UTF8String views are cloned) BEFORE the lazy per-row iterator below
        val ver = r.getInt(0)
        val chunkId = r.getLong(1)
        val codecName = r.getUTF8String(2).toString
        val symtab = r.getBinary(3)
        val data = r.getBinary(4)
        val offBytes = r.getBinary(5)
        val rowCount = r.getInt(6)
        val docIds = r.getBinary(7)
        val source = r.getUTF8String(8).clone()
        val crc = r.getLong(9)
        require(ver == ChunkOps.FormatVersion,
          s"chunk $chunkId: unsupported chunk format version $ver " +
            s"(this build reads v${ChunkOps.FormatVersion}); re-encode the table")
        require(ChunkOps.chunkCrc(data, symtab, offBytes, docIds) == crc,
          s"chunk $chunkId: crc mismatch")
        val dec = graft.core.Codecs.byName(codecName).decoder(symtab)
        val offs = graft.format.Offsets.unpack(offBytes, rowCount)
        // ids are views into docIds (fresh per chunk, shared across its rows)
        val ids = new PackedIds.Cursor(docIds)
        new Iterator[InternalRow] {
          private var i = 0
          def hasNext: Boolean = i < rowCount
          def next(): InternalRow = {
            val id = ids.next()
            val toks = dec.decode(data, offs(i), offs(i + 1))
            i += 1
            new GenericInternalRow(Array[Any](
              id, UnsafeArrayData.fromPrimitiveArray(toks), toks.length, source))
          }
        }
      }
    }
    org.apache.spark.sql.GraftBridge.internalCreateDataFrame(spark, rdd, decodedSchema)
  }

  /** Size accounting mirroring the reference (blob + offsets + header;
    * /root/reference/sketch.cc:746-755): returns (tokens, bytes, bytes/token).
    */
  def sizeReport(chunks: Dataset[EncodedChunk]): (Long, Long, Double) = {
    val row = chunks.toDF().agg(
      sum(col("n_tokens")),
      sum(length(col("data")) + length(col("symtab")) + length(col("offsets")))).collect()(0)
    val toks = row.getLong(0)
    val bytes = row.getLong(1)
    (toks, bytes, bytes.toDouble / math.max(toks, 1L))
  }
}

/** Single-pass chunking with one OPEN accumulator per (bucket, source) group:
  * a chunk is emitted the moment its group hits the row/token limit, so live
  * memory per task is bounded by (groups-per-partition × maxTokensPerChunk) —
  * NOT by partition size. Whole-partition buffering was measured to push
  * young-GC pauses to ~1s at local[32] (the collector re-copies the buffered
  * token graph every collection); this accumulator keeps tokens in one
  * growing primitive array per group.
  *
  * Input is (bucket, packedBlock) pairs from the map-side combine: one
  * block = many rows of one (bucket, source) group, varint-decoded DIRECTLY
  * into the group's primitive array — no per-row Array[Int] or TokenRow
  * allocation on the reduce side. Rows are emitted in arrival order (every
  * shipped codec encodes rows independently, so within-chunk order never
  * changes compressed size); the engine's correctness invariant (decode ==
  * input, per-bucket resume) depends on neither membership nor order.
  */
private final class BlockChunkIterator(
    it: Iterator[(Int, Array[Byte])], opts: EncodeOptions)
    extends Iterator[EncodedChunk] {

  private val fsstHeaders = scala.collection.mutable.HashMap.empty[(Int, String), Array[Byte]]
  private val open = scala.collection.mutable.HashMap.empty[(Int, String), GroupBuffer]
  private val seqInBucket = scala.collection.mutable.HashMap.empty[Int, Int]
  private var drain: Iterator[(Int, String)] = _
  private var ready: EncodedChunk = _

  /** Pull ONE block into `open`; return the touched key, or null when the
    * input is exhausted. Chunk limits are checked after each block, so a
    * chunk may overshoot the limit by at most one block (bounded by
    * TokenBlocks' flush threshold).
    */
  private def ingestNext(): (Int, String) = {
    if (!it.hasNext) return null
    val (bucket, block) = it.next()
    val rd = new graft.core.ByteReader(block, 0, block.length)
    val srcLen = rd.readVarUInt()
    val source = new String(block, rd.pos, srcLen, java.nio.charset.StandardCharsets.UTF_8)
    rd.pos += srcLen
    val nRows = TokenBlocks.readFixed32(block, rd)
    val key = (bucket, source)
    val g = open.getOrElseUpdate(key, new GroupBuffer)
    var i = 0
    while (i < nRows) {
      val idLen = rd.readVarUInt()
      val idFrom = rd.pos
      rd.pos += idLen
      g.addPacked(rd, rd.readVarUInt(), block, idFrom, idLen)
      i += 1
    }
    key
  }

  private def emit(key: (Int, String), g: GroupBuffer): EncodedChunk = {
    val bucket = key._1
    val seq = seqInBucket.getOrElse(bucket, 0)
    seqInBucket(bucket) = seq + 1
    // rows go to the codecs as a slab VIEW — no per-row Array[Int] copies
    // (8 B/token of pure memory traffic at 100 TB scale); doc ids travel as
    // the already-packed byte slab (no per-row Strings)
    val chunk = ChunkOps.buildPacked(
      (opts.jobTag << 40) | (bucket.toLong << 24) | seq.toLong, bucket,
      g.packedIds, g.firstDocId,
      key._2, g.view, opts.forceCodec, fsstHeaders, g.buildStats())
    g.reset()
    chunk
  }

  private def advance(): Unit = {
    while (ready == null) {
      val key = ingestNext()
      if (key == null) {
        if (drain == null) drain = open.keys.toArray.sorted.iterator
        while (ready == null && drain.hasNext) {
          val k = drain.next()
          val g = open(k)
          if (g.size > 0) ready = emit(k, g)
        }
        return
      }
      val g = open(key)
      if (g.size >= opts.maxRowsPerChunk || g.tokenCount >= opts.maxTokensPerChunk) {
        ready = emit(key, g)
      }
    }
  }

  override def hasNext: Boolean = {
    if (ready == null) advance()
    ready != null
  }

  override def next(): EncodedChunk = {
    if (!hasNext) throw new NoSuchElementException
    val c = ready
    ready = null
    c
  }
}

/** Deterministic bucket→partition assignment: round-robin modulo. Buckets
  * are near-equal-sized by construction (salted hash), so modulo balances
  * reduce tasks exactly; equality by numPartitions so co-partitioned RDDs
  * compare correctly.
  */
private[encode] final class BucketPartitioner(n: Int) extends org.apache.spark.Partitioner {
  override def numPartitions: Int = n
  override def getPartition(key: Any): Int = {
    val b = key.asInstanceOf[Int]
    ((b % n) + n) % n
  }
  override def equals(o: Any): Boolean = o match {
    case p: BucketPartitioner => p.numPartitions == n
    case _ => false
  }
  override def hashCode: Int = n
}

/** Compact open-chunk accumulator: tokens in one growing primitive array.
  * Chunk statistics accrue during addPacked() (fused pass — all stats are
  * row-internal or order-independent, see ChunkStats.Builder).
  */
private final class GroupBuffer {
  private var big = new Array[Int](1 << 12)
  private var len = 0
  // primitive offset tables — scala ArrayBuffer[Int] boxes every element
  // (two boxed Integers per row; at 32 threads the allocation rate turned
  // into the dominant young-GC load)
  private var starts = new Array[Int](256)
  private var lens = new Array[Int](256)
  private var nRows = 0
  // doc ids live in ONE byte slab, already in PackedIds wire format
  // (varUInt(len) + UTF-8 bytes per row): ingest copies bytes straight
  // from the shuffle block and emit copies the slab straight into the
  // chunk — no per-row String (2 allocations + 2 transcodes per row in
  // earlier rounds).
  private var idSlab = new graft.core.ByteWriter(4096)
  private val statsB = new graft.core.ChunkStats.Builder

  private def ensure(n: Int): Unit = {
    if (len + n > big.length) {
      var cap = big.length << 1
      while (cap < len + n) cap <<= 1
      big = java.util.Arrays.copyOf(big, cap)
    }
    if (nRows == starts.length) {
      starts = java.util.Arrays.copyOf(starts, nRows << 1)
      lens = java.util.Arrays.copyOf(lens, nRows << 1)
    }
  }

  /** One row decoded from a TokenBlocks cursor straight into the primitive
    * array — the zero-intermediate-allocation reduce path. The id bytes
    * come straight from the shuffle block (`src[idFrom, idFrom+idLen)`).
    */
  def addPacked(rd: graft.core.ByteReader, n: Int,
                src: Array[Byte], idFrom: Int, idLen: Int): Unit = {
    ensure(n)
    var p = len
    val end = len + n
    while (p < end) { big(p) = rd.readZigZag(); p += 1 }
    starts(nRows) = len
    lens(nRows) = n
    idSlab.writeVarUInt(idLen)
    idSlab.writeBytes(src, idFrom, idLen)
    nRows += 1
    statsB.addRowRange(big, len, n)
    len += n
  }

  def buildStats(): graft.core.ChunkStats = statsB.build()

  def size: Int = nRows
  def tokenCount: Long = len.toLong

  /** The first row's doc id ("" when empty). */
  def firstDocId: String =
    if (nRows == 0) ""
    else {
      val raw = idSlab.ensureRaw(0)
      val r = new graft.core.ByteReader(raw, 0, idSlab.size)
      val l = r.readVarUInt()
      new String(raw, r.pos, l, java.nio.charset.StandardCharsets.UTF_8)
    }

  /** The rows' doc ids in PackedIds wire format: one slab copy. */
  def packedIds: Array[Byte] = idSlab.toBytes

  /** Slab view of the rows in arrival order — the codecs encode straight
    * out of `big`; only the two offset tables are copied.
    */
  def view: graft.core.TokenRows = graft.core.TokenRows.ofSlab(
    big, java.util.Arrays.copyOf(starts, nRows), java.util.Arrays.copyOf(lens, nRows), nRows)

  def reset(): Unit = {
    len = 0
    nRows = 0
    idSlab = new graft.core.ByteWriter(4096)
    statsB.reset()
  }
}
