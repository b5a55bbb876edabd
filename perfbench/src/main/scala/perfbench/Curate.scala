package perfbench

import graft.encode.{EncodeJob, EncodeOptions}
import graft.format.TokenRow
import graft.pipeline.Dedup
import graft.query.Graft
import org.apache.spark.sql.{DataFrame, Row}
import Oracle.Overlap

/** Profiling and near-duplicate detection over an encoded corpus with
  * planted exact and near-duplicate clusters. Only the signature kernels
  * and the shuffle and join stages run after set-up; the cache is cleared
  * between laps so each lap pays the full work.
  */
final class Curate(ctx: Ctx) extends Workload {
  import ctx.spark.implicits._
  private val spark = ctx.spark

  val Docs = 6000
  val Tau = 0.7
  val Bands = 16
  val Hashes = 64
  val MaxHamming = 3
  val MinShared = 2
  val MinInter = 10
  val Profile: Seq[String] = Seq("histogram", "quality", "exact")
  val NearDup: Seq[String] = Seq("minhash", "simhash", "fingerprint", "jaccard", "components")

  private var chunks: DataFrame = _
  private var raw: Array[TokenRow] = _
  private var ids: Set[String] = _
  private var grams3: Map[String, Set[Seq[Int]]] = _
  private var grams5: Map[String, Set[Seq[Int]]] = _
  private var wantHist: Map[Int, Long] = _
  private var wantQuality: Map[String, (Int, Int, Int, Int)] = _
  private var wantExact: Map[(Long, Long), Int] = _
  private var wantJaccard: Map[(String, String), Overlap] = _
  private var identical: Set[(String, String)] = _
  private var totalTokens = 0L
  private var cachedLeft = 0
  private val counts = scala.collection.mutable.HashMap.empty[String, Double]

  def setup(): Unit = {
    val seed = ctx.seed
    val input = spark.range(0L, Docs.toLong, 1L, 2 * ctx.cores).map(id => Gen.corpusRow(seed, id))
    EncodeJob.encode(input, EncodeOptions(numBuckets = 16, saltBuckets = 8))
      .write.parquet(ctx.path("chunks"))
    chunks = spark.read.parquet(ctx.path("chunks"))
  }

  def prepare(): Unit = {
    raw = Gen.corpus(ctx.seed, Docs)
    ids = raw.map(_.doc_id).toSet
    totalTokens = raw.iterator.map(_.tokens.length.toLong).sum
    ctx.log(s"input: ${raw.length} documents, $totalTokens tokens")
    grams3 = raw.map(r => r.doc_id -> Oracle.shingles(r.tokens, 3)).toMap
    grams5 = raw.map(r => r.doc_id -> Oracle.shingles(r.tokens, 5)).toMap
    wantHist = Oracle.histogram(raw)
    wantQuality = raw.map(r => r.doc_id -> Oracle.quality(r.tokens)).toMap
    wantExact = Oracle.exactGroups(raw)
    wantJaccard = Oracle.sharedGramPairs(raw, grams3, MinInter)
    identical = raw.groupBy(_.tokens.toSeq).values.flatMap { rs =>
      val s = rs.map(_.doc_id).sorted
      for (i <- s.indices; j <- i + 1 until s.length) yield (s(i), s(j))
    }.toSet
  }

  def sampleRows: Array[TokenRow] = raw

  private def truth(a: String, b: String): Overlap = Oracle.overlap(grams3(a), grams3(b))

  def lap(check: Boolean): Seq[String] = {
    val p = scala.collection.mutable.ArrayBuffer.empty[String]
    def got[T](r: Option[T])(f: T => Seq[String]): Unit = r.foreach(x => p ++= f(x))
    def num(r: Row, i: Int): Long = r.getAs[Number](i).longValue
    def pairs[T](op: String, rs: Seq[T]): Seq[T] = { counts(op) = rs.size.toDouble; rs }
    got(ctx.op("histogram", "query")(Graft.tokenHistogram(chunks).collect())) { rs =>
      Checks.histogram(rs.map(r => num(r, 0).toInt -> num(r, 1)).toMap, wantHist, totalTokens)
    }
    got(ctx.op("quality", "query")(Graft.qualityEncoded(chunks).collect())) { rs =>
      Checks.quality(rs.map(r => r.getString(0) ->
        ((num(r, 2).toInt, num(r, 3).toInt, num(r, 4).toInt, num(r, 5).toInt))).toMap,
        wantQuality)
    }
    got(ctx.op("exact", "query")(Graft.dedupExactEncoded(chunks).collect())) { rs =>
      Checks.exact(rs.map(r => (num(r, 0), num(r, 1))).toSeq, wantExact, raw.length.toLong)
    }
    val mh = ctx.op("minhash", "pipeline")(Graft.dedupMinhashEncoded(chunks, 3, Hashes, Bands, Tau).collect())
      .map(rs => pairs("minhash", rs.map(r => (r.getString(0), r.getString(1), num(r, 2).toInt, num(r, 3).toInt)).toSeq))
    got(mh)(Checks.minhash(_, ids, truth, wantJaccard, Tau, Bands, Hashes / Bands))
    got(ctx.op("simhash", "pipeline")(Graft.dedupSimhashEncoded(chunks, MaxHamming).collect())) { rs =>
      Checks.simhash(pairs("simhash", rs.map(r => (r.getString(0), r.getString(1), num(r, 2).toInt)).toSeq), ids, identical, MaxHamming)
    }
    got(ctx.op("fingerprint", "pipeline")(Graft.fingerprintPairsEncoded(chunks, 5, 4, MinShared).collect())) { rs =>
      Checks.fingerprint(pairs("fingerprint", rs.map(r => (r.getString(0), r.getString(1), num(r, 2))).toSeq), ids,
        (a, b) => grams5(a).exists(grams5(b).contains), identical, MinShared)
    }
    got(ctx.op("jaccard", "pipeline")(Graft.ngramJaccardPairsEncoded(chunks, 3, MinInter).collect())) { rs =>
      Checks.jaccard(pairs("jaccard",
        rs.map(r => (r.getString(0), r.getString(1), num(r, 2).toInt, num(r, 3).toInt)).toSeq), wantJaccard)
    }
    mh.foreach { pairs =>
      val pairDf = pairs.map(x => (x._1, x._2)).toDF("doc_a", "doc_b")
      got(ctx.op("components", "pipeline")(Dedup.connectedComponents(pairDf).collect())) { rs =>
        val labels = rs.map(r => (r.getString(0), r.getString(1))).toSeq
        counts("components") = labels.map(_._2).distinct.size
        Checks.components(labels, pairs.map(x => (x._1, x._2)))
      }
    }
    p.toSeq
  }

  override def betweenLaps(): Unit = {
    cachedLeft = spark.sparkContext.getPersistentRDDs.size
    spark.catalog.clearCache()
  }

  def endToEnd(laps: Seq[Lap]): Seq[Metric] = Seq(
    Metric("dedup_docs_per_s", Docs * NearDup.size / NearDup.map(Lap.median(laps, _)).sum, "doc/s"),
    Metric("profile_tok_per_s", totalTokens.toDouble * Profile.size / Profile.map(Lap.median(laps, _)).sum, "tok/s"))

  /** Time one signature pass alone, written to a no-op sink. */
  private def sigSeconds(df: => DataFrame): Double = Main.median((1 to 3).map { _ =>
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  })

  def perLayer(laps: Seq[Lap]): Seq[Metric] = {
    val sig = Seq(
      "minhash" -> sigSeconds(Graft.minhashRowsEncoded(chunks, 3, Hashes, 42L, collectGrams = false)),
      "simhash" -> sigSeconds(Graft.simhashRowsEncoded(chunks)),
      "winnow" -> sigSeconds(Graft.winnowRowsEncoded(chunks, 5, 4)))
    Profile.map(o => Metric(s"query.profile_s.$o", Lap.median(laps, o), "s")) ++
      NearDup.map(o => Metric(s"pipeline.latency_s.$o", Lap.median(laps, o), "s")) ++
      sig.map { case (o, s) => Metric(s"pipeline.sig_s.$o", s, "s") } ++
      NearDup.map(o => Metric(s"pipeline.shuffle_bytes.$o",
        Main.median(laps.map(l => Stage.of(ctx, Stage.spans(ctx, Seq(l), o)).shuffleWrite.toDouble)), "B")) ++
      NearDup.map(o => Metric(s"pipeline.jobs.$o",
        Main.median(laps.map(l => Stage.of(ctx, Stage.spans(ctx, Seq(l), o)).jobs.toDouble)), "count")) ++
      Seq("minhash", "simhash", "fingerprint", "jaccard").map(o =>
        Metric(s"pipeline.pairs.$o", counts.getOrElse(o, 0.0), "count")) ++ Seq(
        Metric("pipeline.components", counts.getOrElse("components", 0.0), "count"),
        Metric("pipeline.cached_rdds_left", cachedLeft.toDouble, "count"))
  }
}
