package perfbench

import graft.core.PatternMode
import graft.encode.{EncodeJob, EncodeOptions}
import graft.format.TokenRow
import graft.query.Graft
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.col

/** One predicate of the scan mix, in its compressed-domain form and its
  * decode-then-match twin.
  */
final case class Query(name: String, kind: String, compressed: DataFrame => DataFrame,
                       decoded: Column => Column, naive: Array[Int] => Boolean)

/** A seeded mix of contains, prefix, suffix, multi-infix, not-contains,
  * range and set predicates over the encoded table read from parquet,
  * each followed by its decode-then-match twin. Selectivities run from
  * the planted hot phrases down to rare tokens. Encode runs only in set-up.
  */
final class Scan(ctx: Ctx) extends Workload {
  import ctx.spark.implicits._
  private val spark = ctx.spark

  val Rows = 20000
  val Kinds: Seq[String] =
    Seq("contains", "prefix", "suffix", "multi_infix", "not_contains", "range", "set")

  private var chunks: DataFrame = _
  private var raw: Array[TokenRow] = _
  private var queries: Seq[Query] = _
  private var expected: Map[String, Long] = _
  private var tableTokens = 0L

  def setup(): Unit = {
    val (seed, phr, low) = (ctx.seed, Gen.phrases(ctx.seed), Gen.lowcardValues(ctx.seed))
    val input = spark.range(0L, Rows.toLong, 1L, 2 * ctx.cores)
      .map(id => Gen.tableRow(seed, id, phr, low))
    EncodeJob.encode(input, EncodeOptions(numBuckets = 16, saltBuckets = 8))
      .write.parquet(ctx.path("chunks"))
    chunks = spark.read.parquet(ctx.path("chunks"))
  }

  private def pattern(name: String, mode: String, parts: Seq[Array[Int]]): Query = {
    val ps = parts.map(_.toSeq)
    val dec: Column => Column = mode match {
      case PatternMode.Contains => Graft.containsTokens(_, ps.head)
      case PatternMode.Prefix => Graft.startsWithTokens(_, ps.head)
      case PatternMode.Suffix => Graft.endsWithTokens(_, ps.head)
      case PatternMode.MultiInfix => Graft.multiInfixTokens(_, ps)
    }
    val naive: Array[Int] => Boolean = mode match {
      case PatternMode.Contains => Oracle.contains(_, parts.head)
      case PatternMode.Prefix => Oracle.prefix(_, parts.head)
      case PatternMode.Suffix => Oracle.suffix(_, parts.head)
      case PatternMode.MultiInfix => Oracle.multiInfix(_, parts)
    }
    Query(name, mode, Graft.scanPattern(_, mode, ps), dec, naive)
  }

  /** Two predicates of every kind, drawn from the seed: one on the planted
    * hot phrases or common tokens, one on rare tokens or narrow ranges.
    */
  private def mix(): Seq[Query] = {
    val r = Rng.forRow(ctx.seed, 47L, 0L)
    val phr = Gen.phrases(ctx.seed)
    def phrase(): Array[Int] = phr(r.nextInt(phr.length))
    def rare(): Int = Gen.ZipfVocab - 1 - r.nextInt(Gen.ZipfVocab / 20)
    val low = Gen.lowcardValues(ctx.seed)
    val (p1, p2, p3, p4) = (phrase(), phrase(), phrase(), phrase())
    val (c1, c2) = (r.nextInt(4), r.nextInt(4))
    val notHot = Array(r.nextInt(3))
    val notRare = phrase()
    val narrowLo = (1 << 22) + r.nextInt(1 << 22)
    val tailLo = Gen.ZipfVocab - 200 - r.nextInt(400)
    val setRare = Seq.fill(5)(rare()).distinct
    val setLow = Seq(low(r.nextInt(low.length)), low(r.nextInt(low.length)))
    def notContains(name: String, p: Array[Int]) = Query(name, "not_contains",
      c => Graft.encodedRows(c).filter(!Graft.containsTokens(col("tokens"), p.toSeq)),
      t => !Graft.containsTokens(t, p.toSeq), t => !Oracle.contains(t, p))
    def range(name: String, lo: Int, hi: Int) = Query(name, "range",
      Graft.scanRange(_, lo, hi), Graft.anyTokenInRange(_, lo, hi), Oracle.inRange(_, lo, hi))
    def set(name: String, s: Seq[Int]) = Query(name, "set",
      Graft.scanSet(_, s), Graft.anyTokenInSet(_, s), Oracle.inSet(_, s.toSet))
    Seq(
      pattern("contains_hot", PatternMode.Contains, Seq(p1)),
      pattern("contains_rare", PatternMode.Contains, Seq(Array(rare(), rare()))),
      pattern("prefix_hot", PatternMode.Prefix, Seq(p2.take(3))),
      pattern("prefix_common", PatternMode.Prefix, Seq(Array(c1))),
      pattern("suffix_hot", PatternMode.Suffix, Seq(p3.takeRight(3))),
      pattern("suffix_common", PatternMode.Suffix, Seq(Array(c2))),
      pattern("multi_infix_hot", PatternMode.MultiInfix, Seq(p1.take(2), p4.take(2))),
      pattern("multi_infix_rare", PatternMode.MultiInfix, Seq(Array(c1), Array(rare()))),
      notContains("not_contains_common", notHot),
      notContains("not_contains_phrase", notRare),
      range("range_narrow", narrowLo, narrowLo + 3000),
      range("range_tail", tailLo, tailLo + 40),
      set("set_rare", setRare),
      set("set_lowcard", setLow))
  }

  def prepare(): Unit = {
    raw = Gen.table(ctx.seed, Rows)
    tableTokens = raw.iterator.map(_.tokens.length.toLong).sum
    queries = mix()
    ctx.log(s"input: ${raw.length} rows, $tableTokens tokens")
    expected = queries.map(q => q.name -> raw.count(t => q.naive(t.tokens)).toLong).toMap
  }

  def sampleRows: Array[TokenRow] = raw

  /** Each query is mostly Spark planning and scheduling at this table
    * size, and that planning code keeps getting faster for about six laps.
    */
  override def warmupLaps: Int = 5

  def lap(check: Boolean): Seq[String] = {
    queries.flatMap { q =>
      val c = ctx.op(s"q.${q.name}", "query")(q.compressed(chunks).count())
      val d = ctx.op(s"d.${q.name}", "query")(EncodeJob.decodeDf(chunks).filter(q.decoded(col("tokens"))).count())
      (c, d) match {
        case (Some(cn), Some(dn)) => Checks.scanCount(q.name, cn, dn, expected(q.name))
        case _ => Nil
      }
    }
  }

  private def latencies(laps: Seq[Lap], prefix: String, kinds: Seq[String]): Seq[Double] =
    for (l <- laps; q <- queries if kinds.contains(q.kind)) yield l.secs(s"$prefix.${q.name}")

  def endToEnd(laps: Seq[Lap]): Seq[Metric] = {
    val n = queries.size * tableTokens.toDouble
    val (t, b, _) = EncodeJob.sizeReport(chunks.as[graft.format.EncodedChunk])
    Seq(
      Metric("tok_per_s", n / queries.map(q => Lap.median(laps, s"q.${q.name}")).sum, "tok/s"),
      Metric("decode_tok_per_s", n / queries.map(q => Lap.median(laps, s"d.${q.name}")).sum, "tok/s"),
      Metric("bytes_per_token", b.toDouble / t, "B/tok"))
  }

  def perLayer(laps: Seq[Lap]): Seq[Metric] = {
    val qSpans = queries.flatMap(q => Stage.spans(ctx, laps, s"q.${q.name}"))
    val t = Stage.of(ctx, qSpans)
    val nChunks = chunks.count()
    val readS = Main.median((1 to 3).map { _ =>
      val t0 = System.nanoTime()
      chunks.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    })
    Kinds.map(k => Metric(s"query.latency_s.$k", Main.median(latencies(laps, "q", Seq(k))), "s")) ++ Seq(
      Metric("query.chunks_read_frac", t.recordsRead.toDouble / math.max(1.0, qSpans.size * nChunks.toDouble), "ratio"),
      Metric("query.bytes_read_per_query", t.inputBytes.toDouble / math.max(1, qSpans.size), "B"),
      Metric("query.decode_s", Main.median(latencies(laps, "d", Kinds)), "s"),
      Metric("format.read_s", readS, "s"))
  }
}
