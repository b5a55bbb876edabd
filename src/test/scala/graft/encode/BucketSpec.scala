package graft.encode

import graft.format.TokenRow
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** Buckets.of must equal the SQL withBucket expression BIT-FOR-BIT: the
  * columnar pack path assigns buckets with the Scala replica while
  * ResumableEncode filters uncommitted rows with the SQL expression — one
  * diverging row breaks exact manifest resume (see Buckets scaladoc).
  */
class BucketSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("Scala bucket replica equals the SQL expression (incl. power-of-two n_tok)") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    // power-of-two lengths are the floating-point hazard for
    // floor(log2(x)): log(8)/log(2) = 2.9999999999999996 with some log
    // implementations — the replica must drift exactly as Spark drifts
    val lens = (0 to 20).map(1 << _) ++ (1 to 200).map(_ => rng.nextInt(100000))
    val rows = lens.zipWithIndex.flatMap { case (n, i) =>
      Seq(
        TokenRow(s"doc_$i", Array.fill(math.min(n, 4))(1), n, s"src${i % 7}"),
        TokenRow(s"Ünïcode-doc-$i-€", Array.fill(math.min(n, 4))(1), n, s"sörce-ß-${i % 3}"))
    }
    val opts = EncodeOptions(numBuckets = 64, saltBuckets = 32)
    val df = EncodeJob.withBucket(rows.toDF(), opts)
      .select(col("doc_id"), col("n_tok"), col("source"), col("__bucket"))
    val got = df.collect()
    got.foreach { r =>
      val sql = r.getInt(3)
      val scala_ = Buckets.of(
        UTF8String.fromString(r.getString(0)), r.getInt(1),
        UTF8String.fromString(r.getString(2)), opts.numBuckets, opts.saltBuckets)
      assert(sql == scala_,
        s"bucket drift for (${r.getString(0)}, n_tok=${r.getInt(1)}, ${r.getString(2)}): sql=$sql scala=$scala_")
    }
  }

  test("columnar pack path produces the identical chunk table as the row path") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val rows = (0 until 3000).map { i =>
      val n = 1 + rng.nextInt(60)
      TokenRow(s"d$i", Array.fill(n)(rng.nextInt(500)), n, s"s${i % 4}")
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_colpack").toString
    rows.toDF().write.mode("overwrite").parquet(dir)
    val input = spark.read.parquet(dir).as[TokenRow]
    // the comparison only means something if the columnar branch is live
    // for this input (nested-array vectorized parquet reads supported)
    assert(org.apache.spark.sql.GraftBridge.columnarScan(input.toDF()).isDefined,
      "expected a bare columnar parquet scan for this input")
    // a derived input over the same scan takes the row pack path
    val derived = input.map(identity)
    assert(org.apache.spark.sql.GraftBridge.columnarScan(derived.toDF()).isEmpty,
      "expected a derived input to take the row path")
    val opts = EncodeOptions(numBuckets = 16)
    def fingerprint(ds: org.apache.spark.sql.Dataset[TokenRow]): Seq[(Long, Long, String, Int)] =
      EncodeJob.encode(ds, opts).collect()
        .map(c => (c.chunk_id, c.crc, c.codec, c.row_count)).sortBy(_._1).toSeq
    val columnar = fingerprint(input)
    val viaRows = fingerprint(derived)
    assert(columnar == viaRows, "columnar pack diverged from the row pack")
    assert(columnar.nonEmpty)
  }
}
