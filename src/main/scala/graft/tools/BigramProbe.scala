package graft.tools

import graft.query.Graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Decomposes the pattern_bench bigram pair (round-5 verdict "what's wrong
  * #1": sec_bigram_compressed lost to decode-group 2.5×) over the 385M-token
  * bench chunk table: codec mix, generator-only cost (sum(cnt) — no
  * pair-key aggregation), full histogram cost, and the decode-group
  * reference, each min-of-N interleaved.
  */
object BigramProbe {
  def main(args: Array[String]): Unit = {
    val path = if (args.nonEmpty) args(0) else "/tmp/graft_bench_input_2000000_chunks_auto_v3"
    val laps = if (args.length > 1) args(1).toInt else 3
    val spark = SparkSession.builder().master("local[32]")
      .appName("graft-bigram-probe")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", "/dev/shm/spark-tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val chunks = spark.read.parquet(path)
    chunks.groupBy("codec").agg(count(lit(1)).as("n_chunks"),
      sum("n_tokens").as("tokens"), sum("row_count").as("rows"))
      .collect().foreach(println)

    val gen = Graft.bigramCounts(chunks)

    val variants: Seq[(String, () => Long)] = Seq(
      // generator only: stream every (t1,t2,cnt) row through a trivial agg
      "gen_sum" -> (() => gen.agg(sum(col("cnt"))).collect()(0).getLong(0)),
      // full compressed histogram (the bench side)
      "cmp_full" -> (() => Graft.bigramHistogram(chunks).count()),
      // decode-group reference (the other bench side)
      "dec_full" -> (() => graft.encode.EncodeJob.decodeDf(chunks).filter(col("n_tok") >= 2)
        .select(explode(expr(
          "transform(sequence(1, size(tokens) - 1), i -> struct(tokens[i-1] AS t1, tokens[i] AS t2))")).as("bg"))
        .groupBy("bg.t1", "bg.t2").count().count()),
      // decode only: stream decoded pairs through a trivial agg (no pair agg)
      "dec_sum" -> (() => graft.encode.EncodeJob.decodeDf(chunks).filter(col("n_tok") >= 2)
        .agg(sum(size(col("tokens")) - 1)).collect()(0).getLong(0))
    )
    val times = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(Double.MaxValue)
    val counts = scala.collection.mutable.Map.empty[String, Long]
    for (lap <- 1 to laps + 1; (name, f) <- variants) {
      val t0 = System.nanoTime()
      val n = f()
      val sec = (System.nanoTime() - t0) / 1e9
      counts(name) = n
      if (lap > 1 && sec < times(name)) times(name) = sec
      println(f"lap $lap $name%-9s $sec%7.2f s  n=$n")
    }
    println("--- min over timed laps ---")
    variants.foreach { case (name, _) => println(f"$name%-9s ${times(name)}%7.2f s  n=${counts(name)}") }
    spark.stop()
  }
}
