package perfbench

import graft.encode.{Compact, Delete, EncodeJob, EncodeOptions, Scrub, Truncate}
import graft.format.{EncodedChunk, TokenRow}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.col
import Oracle.Digest

/** Encode the five-source token table with automatic codec selection,
  * write it, then delete, truncate, scrub and compact the written table,
  * each step reading the previous step's table and writing a new one.
  */
final class Ingest(ctx: Ctx) extends Workload {
  import ctx.spark.implicits._
  private val spark = ctx.spark

  val Rows = 24000
  val MaxLen = 256
  val Unk = 0
  val Options = EncodeOptions(numBuckets = 16, saltBuckets = 8, maxTokensPerChunk = 1L << 16)
  val CompactTarget: Long = 1L << 18

  private var input: Dataset[TokenRow] = _
  private var raw: Array[TokenRow] = _
  private var deleted: Set[String] = _
  private var banned: Seq[Int] = _
  private var want: Map[String, Digest] = _
  private var tokens: Map[String, Long] = _

  /** The encode and the four rewrites: each step's name, the digest its
    * input table must have, and the one its output table must have.
    */
  private val Steps = Seq(("encode", "encode", "encode"), ("delete", "encode", "delete"),
    ("truncate", "delete", "truncate"), ("scrub", "truncate", "scrub"), ("compact", "scrub", "scrub"))

  def setup(): Unit = {
    val (seed, phr, low) = (ctx.seed, Gen.phrases(ctx.seed), Gen.lowcardValues(ctx.seed))
    spark.range(0L, Rows.toLong, 1L, 2 * ctx.cores)
      .map(id => Gen.tableRow(seed, id, phr, low))
      .write.parquet(ctx.path("input"))
    input = spark.read.parquet(ctx.path("input")).as[TokenRow]
  }

  def prepare(): Unit = {
    raw = Gen.table(ctx.seed, Rows)
    deleted = raw.iterator.map(_.doc_id)
      .filter(id => Rng.forRow(ctx.seed, 41L, id.toLong).nextDouble() < 0.02).toSet
    val r = Rng.forRow(ctx.seed, 43L, 0L)
    // common and rare zipf tokens plus some low-cardinality values
    banned = (Seq(1, 2, 3) ++ Seq.fill(6)(r.nextInt(Gen.ZipfVocab)) ++
      Gen.lowcardValues(ctx.seed).take(3)).distinct
    val kept = raw.filterNot(t => deleted(t.doc_id))
    val trunc = Oracle.truncate(kept, MaxLen)
    val scr = Oracle.scrub(trunc, banned.toSet, Unk)
    val full = Oracle.digest(raw)
    want = Map("encode" -> full,
      "delete" -> (full - Oracle.digest(raw.filter(t => deleted(t.doc_id)))),
      "truncate" -> Oracle.digest(trunc), "scrub" -> Oracle.digest(scr))
    tokens = want.map { case (k, d) => k -> d.tokens }
    ctx.log(s"input: ${raw.length} rows, ${tokens("encode")} tokens")
  }

  def sampleRows: Array[TokenRow] = raw

  /** The laps keep getting faster for about five laps; with three untimed
    * ones, the timed laps sit where the curve is nearly flat.
    */
  override def warmupLaps: Int = 3

  private def lapPath(step: String): String = ctx.path(s"lap-${ctx.lap}/$step")
  private def read(step: String): DataFrame = spark.read.parquet(lapPath(step))
  private def write(ds: Dataset[EncodedChunk], step: String): Unit =
    ds.write.parquet(lapPath(step))

  /** Order-free digest of a written chunk table, over its decoded rows. */
  private def tableDigest(step: String): Digest =
    EncodeJob.decodeDf(read(step)).select(col("doc_id"), col("tokens")).as[(String, Array[Int])]
      .mapPartitions { it =>
        Iterator(it.foldLeft(Oracle.EmptyDigest) { case (d, (id, t)) => d + Oracle.digestOf(id, t) })
      }.collect().foldLeft(Oracle.EmptyDigest)(_ + _)

  private def chunkCount(step: String): Long = read(step).count()

  def lap(check: Boolean): Seq[String] = {
    val prev = new java.io.File(ctx.path(s"lap-${ctx.lap - 1}"))
    if (prev.exists()) org.apache.commons.io.FileUtils.deleteDirectory(prev)
    ctx.op("encode", "encode")(write(EncodeJob.encode(input, Options), "encode"))
    val ids = deleted.toSeq.toDF("doc_id")
    ctx.op("delete", "encode")(write(Delete.delete(read("encode"), ids), "delete"))
    ctx.op("truncate", "encode")(write(Truncate.truncate(read("delete"), MaxLen), "truncate"))
    ctx.op("scrub", "encode")(write(Scrub.scrub(read("truncate"), banned, Unk), "scrub"))
    ctx.op("compact", "encode")(write(Compact.compact(read("scrub"), CompactTarget), "compact"))
    // every written table is decoded into its digest and checked: the
    // lap's decode operations
    Steps.flatMap { case (step, _, out) =>
      ctx.op(s"decode.$step", "encode")(tableDigest(step)) match {
        case Some(d) if step == "compact" && check =>
          Checks.compact(chunkCount("scrub"), chunkCount("compact"), want(out), d)
        case Some(d) => Checks.digest(step, d, want(out))
        case None => Nil
      }
    }
  }

  private def payload(step: String): (Long, Long) = {
    val (t, b, _) = EncodeJob.sizeReport(read(step).as[EncodedChunk])
    (t, b)
  }

  private def decodeSeconds(laps: Seq[Lap]): Double = Steps.map(s => Lap.median(laps, s"decode.${s._1}")).sum

  def endToEnd(laps: Seq[Lap]): Seq[Metric] = {
    val (t, b) = payload("encode")
    Seq(
      Metric("tok_per_s", Steps.map(s => tokens(s._2)).sum / Steps.map(s => Lap.median(laps, s._1)).sum, "tok/s"),
      Metric("decode_tok_per_s", Steps.map(s => tokens(s._3)).sum / decodeSeconds(laps), "tok/s"),
      Metric("bytes_per_token", b.toDouble / t, "B/tok"))
  }

  def perLayer(laps: Seq[Lap]): Seq[Metric] = {
    val n = tokens("encode").toDouble
    val enc = laps.map(l => Stage.of(ctx, Stage.spans(ctx, Seq(l), "encode")))
    val mapStages = enc.map(_.stages.filter(_.shuffleWrite > 0))
    val reduceStages = enc.map(_.stages.filter(_.shuffleRead > 0))
    def skew(st: Seq[StageTotals]): Double = {
      val ms = st.flatMap(_.taskMs).map(_.toDouble)
      if (ms.isEmpty) 0.0 else ms.max / math.max(1.0, Main.median(ms))
    }
    // chunk layout and sizes of the last lap's tables
    val codecs = read("encode").groupBy(col("codec")).count().as[(String, Long)].collect().toMap
    val (pt, pb) = payload("encode")
    val stored = org.apache.commons.io.FileUtils.sizeOfDirectory(new java.io.File(lapPath("encode")))
    // format probe: write the chunk table from memory, then read it back
    val cached = read("encode").cache()
    cached.count()
    val writeS = Main.median((1 to 3).map { i =>
      val t0 = System.nanoTime()
      cached.write.parquet(ctx.path(s"format-probe-$i"))
      (System.nanoTime() - t0) / 1e9
    })
    cached.unpersist()
    val layer = Seq(
      Metric("encode.wall_s", Lap.median(laps, "encode"), "s"),
      Metric("encode.map_stage_s", Main.median(mapStages.map(_.map(_.wallSeconds).sum)), "s"),
      Metric("encode.reduce_stage_s", Main.median(reduceStages.map(_.map(_.wallSeconds).sum)), "s"),
      Metric("encode.shuffle_bytes_per_token", Main.median(enc.map(_.shuffleWrite / n)), "B/tok"),
      Metric("encode.reduce_task_skew", Main.median(reduceStages.map(skew)), "ratio"),
      Metric("encode.gc_frac", Main.median(enc.map(e => e.gcMs.toDouble / math.max(1L, e.runMs))), "ratio"),
      Metric("encode.spill_bytes", Main.median(enc.map(_.spill.toDouble)), "B"),
      Metric("encode.chunks", codecs.values.sum.toDouble, "count"),
      Metric("encode.delete_s", Lap.median(laps, "delete"), "s"),
      Metric("encode.truncate_s", Lap.median(laps, "truncate"), "s"),
      Metric("encode.scrub_s", Lap.median(laps, "scrub"), "s"),
      Metric("encode.compact_s", Lap.median(laps, "compact"), "s"),
      Metric("encode.decode_s", decodeSeconds(laps), "s"),
      Metric("encode.compact_chunks_in", chunkCount("scrub").toDouble, "count"),
      Metric("encode.compact_chunks_out", chunkCount("compact").toDouble, "count"),
      Metric("format.write_s", writeS, "s"),
      Metric("format.stored_bytes_per_token", stored.toDouble / pt, "B/tok"),
      Metric("format.payload_bytes_per_token", pb.toDouble / pt, "B/tok"))
    layer ++ CoreProbe.Codecs.map(c =>
      Metric(s"encode.codec_chunks.$c", codecs.getOrElse(c, 0L).toDouble, "count"))
  }
}
