package graft.tools

import graft.core.{PatternMode, PatternPredicate}
import graft.format.EncodedChunk
import graft.query.Graft
import graft.spark.SyntheticData
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Decomposes the compressed-scan cost: where does scanPattern's time go
  * relative to raw scan and late decode? Run after a Bench has materialized
  * /tmp/graft_bench_input_<rows> and its _chunks_fsst_v3 table.
  */
object PatternProfile {
  def main(args: Array[String]): Unit = {
    val rows = if (args.nonEmpty) args(0) else "1000000"
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", "/dev/shm/spark-tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    Graft.install(spark)

    val inputPath = s"/tmp/graft_bench_input_$rows"
    val chunksPath = s"${inputPath}_chunks_fsst_v3"
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(inputPath))) {
      SyntheticData.tokenTable(spark, rows.toLong, 64)
        .write.mode("overwrite").parquet(inputPath)
    }
    if (!fs.exists(new org.apache.hadoop.fs.Path(chunksPath))) {
      graft.encode.EncodeJob.encode(
        spark.read.parquet(inputPath).as[graft.format.TokenRow],
        graft.encode.EncodeOptions(numBuckets = 64, forceCodec = Some("fsst")))
        .write.mode("overwrite").parquet(chunksPath)
    }
    val pat = (0 until 64).map(SyntheticData.hotPhrase).maxBy(_.length).toSeq
    val input = spark.read.parquet(inputPath)
    val chunks = spark.read.parquet(chunksPath)

    // the chunk scan's matcher column (doc ids of each chunk's matching rows)
    def matchCol = Graft.chunkDocIds(PatternPredicate(PatternMode.Contains, Seq(pat)))

    def best(name: String)(f: => Long): Unit = {
      f
      val r = (1 to 5).map { _ =>
        val t0 = System.nanoTime()
        val n = f
        (n, (System.nanoTime() - t0) / 1e9)
      }.minBy(_._2)
      println(f"$name%-28s n=${r._1}%8d best=${r._2}%6.3f s")
    }

    best("raw_scan") {
      input.filter(Graft.containsTokens(col("tokens"), pat)).count()
    }
    best("chunk_scan (scanPattern)") {
      Graft.scanPattern(chunks, PatternMode.Contains, Seq(pat)).count()
    }
    best("chunk_scan size(arr) only") {
      // same expression, but SUM of per-chunk match counts without Generate
      chunks.select(size(matchCol).as("n")).agg(sum("n")).collect()(0).getLong(0)
    }
    best("flatmap_match_count") {
      chunks.as[EncodedChunk].mapPartitions { it =>
        val parts = Array(pat.toArray)
        var n = 0L
        it.foreach { c =>
          val offs = graft.format.Offsets.unpack(c.offsets, c.row_count)
          val st = graft.core.SymTab.fromBytes(c.symtab)
          val pm = new graft.core.PatternMachine(parts, st)
          var i = 0
          while (i < c.row_count) {
            if (graft.core.FsstMatch.contains(c.data, offs(i), offs(i + 1), pm)) n += 1
            i += 1
          }
        }
        Iterator(n)
      }.reduce(_ + _)
    }
    best("late_decode (scanAndDecode)") {
      Graft.scanAndDecode(chunks.as[EncodedChunk], PatternMode.Contains, Seq(pat)).count()
    }
    // --- decomposition variants for the Generate overhead ---
    best("explode(direct)") {
      chunks.select(explode(matchCol).as("doc_id")).count()
    }
    best("project_then_explode") {
      chunks.select(matchCol.as("arr")).select(explode(col("arr")).as("doc_id")).count()
    }
    val autoPath = s"${inputPath}_chunks_auto_v3"
    if (!fs.exists(new org.apache.hadoop.fs.Path(autoPath))) {
      graft.encode.EncodeJob.encode(
        spark.read.parquet(inputPath).as[graft.format.TokenRow],
        graft.encode.EncodeOptions(numBuckets = 64))
        .write.mode("overwrite").parquet(autoPath)
    }
    val autoChunks = spark.read.parquet(autoPath)
    best("auto_codec_chunk_scan") {
      Graft.scanPattern(autoChunks, PatternMode.Contains, Seq(pat)).count()
    }
    best("floor_chunks_sum_len(data)") {
      chunks.agg(sum(length(col("data")))).collect()(0).getLong(0)
    }
    best("floor_raw_sum_size(tokens)") {
      input.agg(sum(size(col("tokens")))).collect()(0).getLong(0)
    }
    // driver-side kernel decomposition: gate cost vs match cost per chunk
    locally {
      val metas = chunks.select(col("symtab"), col("stats.escaped_bitmap"),
        col("n_tokens")).collect()
      val partsArr = Array(pat.toArray)
      println(s"n_chunks=${metas.length}")
      def timeIt(name: String)(f: => Unit): Unit = {
        f
        val t0 = System.nanoTime(); f
        println(f"$name%-28s ${(System.nanoTime() - t0) / 1e9}%6.3f s (driver, single-thread)")
      }
      timeIt("pm_lookup_only") {
        metas.foreach { r =>
          val st = graft.core.SymTab.fromBytes(r.getAs[Array[Byte]](0))
          new graft.core.PatternMachine(partsArr, st)
        }
      }
      val sts = metas.map(r => graft.core.SymTab.fromBytes(r.getAs[Array[Byte]](0)))
      val pms = sts.map(st => new graft.core.PatternMachine(partsArr, st))
      timeIt("required_code_table") {
        var i = 0
        while (i < metas.length) {
          pms(i).requiredCodeTable(metas(i).getAs[Array[Byte]](1))
          i += 1
        }
      }
    }
    spark.stop()
  }
}
