package graft.query

import graft.core.PatternMode
import graft.encode.{EncodeJob, EncodeOptions}
import graft.spark.Tokenize
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Spark-level dual-run oracle (SURVEY.md §5.2): the same predicate through
  * (a) built-in-style eval on the raw token table, (b) the decoded view with
  * the pushdown rule (compressed eval), and (c) the chunk-granularity scan —
  * `except` must be empty in every direction.
  */
class QuerySpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    Graft.install(s)
    s
  }

  private val sf = "/root/testdata/sf0.001"

  private lazy val (input, vocab) = Tokenize.documents(spark, sf)
  private lazy val chunks = EncodeJob.encode(input,
    EncodeOptions(numBuckets = 8, maxRowsPerChunk = 64, forceCodec = Some("fsst")))
    .cache().toDF()

  private def dualRun(mode: String, parts: Seq[Seq[Int]]): Unit = {
    import spark.implicits._
    val pred = mkPred(mode, parts, col("tokens"))
    val want = input.toDF().filter(pred).select("doc_id")
    val view = Graft.encodedRows(chunks)
    val gotPushed = view.filter(mkPred(mode, parts, col("tokens"))).select("doc_id")
    val gotScan = Graft.scanPattern(chunks, mode, parts)
    assert(want.except(gotPushed).isEmpty && gotPushed.except(want).isEmpty,
      s"$mode/$parts: pushed-view result differs from raw oracle")
    assert(want.except(gotScan).isEmpty && gotScan.except(want).isEmpty,
      s"$mode/$parts: chunk-scan result differs from raw oracle")
    // negation path
    val wantNot = input.toDF().filter(!pred).select("doc_id")
    val gotNot = view.filter(!mkPred(mode, parts, col("tokens"))).select("doc_id")
    assert(wantNot.except(gotNot).isEmpty && gotNot.except(wantNot).isEmpty)
  }

  private def mkPred(mode: String, parts: Seq[Seq[Int]], tokens: org.apache.spark.sql.Column) =
    mode match {
      case PatternMode.Contains   => Graft.containsTokens(tokens, parts.head)
      case PatternMode.Prefix     => Graft.startsWithTokens(tokens, parts.head)
      case PatternMode.Suffix     => Graft.endsWithTokens(tokens, parts.head)
      case PatternMode.Equals     => Graft.equalsTokens(tokens, parts.head)
      case PatternMode.MultiInfix => Graft.multiInfixTokens(tokens, parts)
    }

  test("encodedRows explodes lazily through a Generate of encoded_rows") {
    val view = Graft.encodedRows(chunks)
    val optimized = view.queryExecution.optimizedPlan.toString()
    assert(optimized.contains("encoded_rows"),
      s"expected the encoded_rows generator in the plan:\n$optimized")
    assert(!optimized.contains("arrays_zip") && !optimized.contains("row_slices"),
      s"the eager arrays_zip/row_slices formulation must be gone:\n$optimized")
    // and the lazy view returns exactly the chunk contents
    val n = view.count()
    assert(n == input.count(), s"view rows $n != input rows")
  }

  test("pushdown rule rewrites decode-then-match into compressed match") {
    val view = Graft.encodedRows(chunks)
    val q = view.filter(Graft.containsTokens(col("tokens"), Seq(vocab("value"), vocab("table"))))
      .select("doc_id")
    val optimized = q.queryExecution.optimizedPlan.toString()
    assert(optimized.contains("compressed_match_contains"),
      s"expected compressed_match in optimized plan:\n$optimized")
    assert(!optimized.contains("decode_row"),
      s"decode_row should have been eliminated (column pruning + rewrite):\n$optimized")
  }

  test("dual-run: contains / prefix / suffix / equals / multi-infix vs raw oracle") {
    val v = vocab
    dualRun(PatternMode.Contains, Seq(Seq(v("value"), v("table"))))
    dualRun(PatternMode.Contains, Seq(Seq(v("table"))))
    dualRun(PatternMode.Contains, Seq(Seq(v("table"), v("table"), v("table"))))
    dualRun(PatternMode.Prefix, Seq(Seq(v("key"))))
    dualRun(PatternMode.Suffix, Seq(Seq(v("value"))))
    dualRun(PatternMode.Equals, Seq(Seq(v("value"))))
    dualRun(PatternMode.MultiInfix, Seq(Seq(v("table")), Seq(v("scan"))))
    dualRun(PatternMode.MultiInfix, Seq(Seq(v("a")), Seq(v("a")), Seq(v("a"))))
    // absent token: bloom-gated chunk skip must still agree (empty result)
    dualRun(PatternMode.Contains, Seq(Seq(999999)))
  }

  test("projecting tokens from the encoded view runs decode_row inside codegen") {
    val view = Graft.encodedRows(chunks).select(col("doc_id"), col("tokens"))
    val plan = view.queryExecution.executedPlan.toString()
    assert(plan.contains("decode_row"), plan)
    // the Project hosting decode_row must be inside a WholeStageCodegen stage
    // (a CodegenFallback expression would split the stage)
    val lines = plan.linesIterator.toSeq
    val stage = lines.find(_.contains("decode_row")).get
    assert(stage.trim.startsWith("*"), s"decode_row not codegen'd:\n$plan")
    // and the decoded projection is correct
    val bad = view.alias("d")
      .join(input.toDF().alias("i"), Seq("doc_id"), "full_outer")
      .filter(!(col("d.tokens") <=> col("i.tokens"))).count()
    assert(bad == 0)
  }

  test("dict-forced chunks: dual-run green via dict-domain (index) matching") {
    val dictChunks = EncodeJob.encode(input,
      EncodeOptions(numBuckets = 8, maxRowsPerChunk = 64, forceCodec = Some("dict")))
      .cache().toDF()
    val v = vocab
    val view = Graft.encodedRows(dictChunks)
    for ((mode, parts) <- Seq(
        PatternMode.Contains -> Seq(Seq(v("value"), v("table"))),
        PatternMode.Prefix -> Seq(Seq(v("key"))),
        PatternMode.Suffix -> Seq(Seq(v("value"))),
        PatternMode.MultiInfix -> Seq(Seq(v("table")), Seq(v("scan"))),
        PatternMode.Equals -> Seq(Seq(v("value"))),
        PatternMode.Contains -> Seq(Seq(999999)))) { // outside every dictionary
      val want = input.toDF().filter(mkPred(mode, parts, col("tokens"))).select("doc_id")
      val gotScan = Graft.scanPattern(dictChunks, mode, parts)
      val gotView = view.filter(mkPred(mode, parts, col("tokens"))).select("doc_id")
      assert(want.except(gotScan).isEmpty && gotScan.except(want).isEmpty, s"$mode scan")
      assert(want.except(gotView).isEmpty && gotView.except(want).isEmpty, s"$mode view")
    }
  }

  test("for/bitpack-forced chunks: anchored dual-run green via packed-domain matching") {
    val v = vocab
    for (codecName <- Seq("for", "bitpack")) {
      val forced = EncodeJob.encode(input,
        EncodeOptions(numBuckets = 4, maxRowsPerChunk = 64, forceCodec = Some(codecName)))
        .cache().toDF()
      for ((mode, parts) <- Seq(
          PatternMode.Prefix -> Seq(Seq(v("key"))),
          PatternMode.Prefix -> Seq(Seq(v("key"), v("agg"))),
          PatternMode.Suffix -> Seq(Seq(v("value"))),
          PatternMode.Prefix -> Seq(Seq(999999)), // outside every frame
          // round 4: sliding bit-phase matching — no decode for these either
          PatternMode.Contains -> Seq(Seq(v("value"), v("table"))),
          PatternMode.Contains -> Seq(Seq(v("scan"))),
          PatternMode.Contains -> Seq(Seq(999999)),
          PatternMode.MultiInfix -> Seq(Seq(v("table")), Seq(v("scan"))))) {
        val want = input.toDF().filter(mkPred(mode, parts, col("tokens"))).select("doc_id")
        val gotScan = Graft.scanPattern(forced, mode, parts)
        assert(want.except(gotScan).isEmpty && gotScan.except(want).isEmpty,
          s"$codecName/$mode scan differs from raw oracle")
      }
      forced.unpersist()
    }
  }

  test("rle-forced chunks: dual-run green via run-level matching") {
    // events-derived table has genuine runs (bursts per user)
    val runs = Tokenize.eventTypes(spark, sf)
    val rleChunks = EncodeJob.encode(runs,
      EncodeOptions(numBuckets = 4, maxRowsPerChunk = 64, forceCodec = Some("rle")))
      .cache().toDF()
    for ((mode, parts) <- Seq(
        PatternMode.Contains -> Seq(Seq(0, 0)),
        PatternMode.Contains -> Seq(Seq(1)),
        PatternMode.Prefix -> Seq(Seq(0)),
        PatternMode.Suffix -> Seq(Seq(2)),
        PatternMode.Equals -> Seq(Seq(1, 1, 1)),
        PatternMode.MultiInfix -> Seq(Seq(0), Seq(1)))) {
      val want = runs.toDF().filter(mkPred(mode, parts, col("tokens"))).select("doc_id")
      val gotScan = Graft.scanPattern(rleChunks, mode, parts)
      val gotView = Graft.encodedRows(rleChunks)
        .filter(mkPred(mode, parts, col("tokens"))).select("doc_id")
      assert(want.except(gotScan).isEmpty && gotScan.except(want).isEmpty,
        s"$mode/$parts rle scan")
      assert(want.except(gotView).isEmpty && gotView.except(want).isEmpty,
        s"$mode/$parts rle view")
    }
  }

  test("mixed-codec chunk table: compressed match falls back to decode-then-match") {
    val auto = EncodeJob.encode(input, EncodeOptions(numBuckets = 8, maxRowsPerChunk = 64))
      .cache().toDF()
    val parts = Seq(Seq(vocab("value"), vocab("table")))
    val want = input.toDF()
      .filter(Graft.containsTokens(col("tokens"), parts.head)).select("doc_id")
    val got = Graft.scanPattern(auto, PatternMode.Contains, parts)
    assert(want.except(got).isEmpty && got.except(want).isEmpty)
  }

  test("range predicate: per-codec compressed-domain eval, pushdown rewrite, zone-map prune") {
    val ids = vocab.values.toSeq.sorted
    // mid-vocab span, single point, disjoint-above (zone-map prune → empty),
    // and a full-cover span
    val ranges = Seq((ids(2), ids(5)), (ids(7), ids(7)),
      (ids.last + 1, ids.last + 1000), (ids.head, ids.last))
    for (codec <- Seq("fsst", "dict", "rle", "for", "bitpack", "raw")) {
      val ch = EncodeJob.encode(input,
        EncodeOptions(numBuckets = 4, maxRowsPerChunk = 64, forceCodec = Some(codec))).toDF()
      for ((lo, hi) <- ranges) {
        val want = input.toDF()
          .filter(Graft.anyTokenInRange(col("tokens"), lo, hi)).select("doc_id")
        val gotScan = Graft.scanRange(ch, lo, hi)
        assert(want.except(gotScan).isEmpty && gotScan.except(want).isEmpty,
          s"$codec [$lo,$hi]: chunk range scan differs from raw oracle")
        val gotView = Graft.encodedRows(ch)
          .filter(Graft.anyTokenInRange(col("tokens"), lo, hi)).select("doc_id")
        assert(want.except(gotView).isEmpty && gotView.except(want).isEmpty,
          s"$codec [$lo,$hi]: pushed-view range result differs from raw oracle")
      }
    }
    // disjoint range returns nothing (and proves the gate path is exercised)
    assert(Graft.scanRange(chunks, ids.last + 1, ids.last + 1000).count() == 0)
    // the optimizer rewrites the view predicate into the compressed domain
    val q = Graft.encodedRows(chunks)
      .filter(Graft.anyTokenInRange(col("tokens"), ids(2), ids(5))).select("doc_id")
    val optimized = q.queryExecution.optimizedPlan.toString()
    assert(optimized.contains("compressed_range_match"),
      s"expected compressed_range_match in optimized plan:\n$optimized")
    assert(!optimized.contains("decode_row"),
      s"decode_row should have been eliminated:\n$optimized")
    // SQL surface
    input.toDF().createOrReplaceTempView("__rng_raw")
    val sqlGot = spark.sql(
      s"SELECT doc_id FROM __rng_raw WHERE any_token_in_range(tokens, ${ids(2)}, ${ids(5)})")
    val want = input.toDF()
      .filter(Graft.anyTokenInRange(col("tokens"), ids(2), ids(5))).select("doc_id")
    assert(want.except(sqlGot).isEmpty && sqlGot.except(want).isEmpty)
  }

  test("set predicate: per-codec compressed-domain eval, pushdown rewrite, bloom + zone-map gates") {
    val ids = vocab.values.toSeq.sorted
    // scattered mid-vocab set, singleton, fully out-of-vocab (both gates →
    // empty), and a mixed in/out set
    val sets = Seq(Seq(ids(1), ids(6), ids(11)), Seq(ids(4)),
      Seq(ids.last + 5, ids.last + 9), Seq(ids(0), ids.last + 7))
    for (codec <- Seq("fsst", "dict", "rle", "for", "bitpack", "raw")) {
      val ch = EncodeJob.encode(input,
        EncodeOptions(numBuckets = 4, maxRowsPerChunk = 64, forceCodec = Some(codec))).toDF()
      for (set <- sets) {
        val want = input.toDF()
          .filter(Graft.anyTokenInSet(col("tokens"), set)).select("doc_id")
        val gotScan = Graft.scanSet(ch, set)
        assert(want.except(gotScan).isEmpty && gotScan.except(want).isEmpty,
          s"$codec $set: chunk set scan differs from raw oracle")
        val gotView = Graft.encodedRows(ch)
          .filter(Graft.anyTokenInSet(col("tokens"), set)).select("doc_id")
        assert(want.except(gotView).isEmpty && gotView.except(want).isEmpty,
          s"$codec $set: pushed-view set result differs from raw oracle")
      }
    }
    // optimizer rewrite + SQL surface
    val q = Graft.encodedRows(chunks)
      .filter(Graft.anyTokenInSet(col("tokens"), Seq(ids(1), ids(6)))).select("doc_id")
    val optimized = q.queryExecution.optimizedPlan.toString()
    assert(optimized.contains("compressed_set_match") && !optimized.contains("decode_row"),
      s"expected compressed_set_match without decode_row:\n$optimized")
    input.toDF().createOrReplaceTempView("__set_raw")
    val sqlGot = spark.sql(
      s"SELECT doc_id FROM __set_raw WHERE any_token_in_set(tokens, array(${ids(1)}, ${ids(6)}))")
    val want = input.toDF()
      .filter(Graft.anyTokenInSet(col("tokens"), Seq(ids(1), ids(6)))).select("doc_id")
    assert(want.except(sqlGot).isEmpty && sqlGot.except(want).isEmpty)
  }

  test("set counts: per-codec compressed-domain density equals the decoded occurrence count") {
    import org.apache.spark.sql.functions.expr
    val ids = vocab.values.toSeq.sorted
    // scattered mid-vocab set, singleton, fully out-of-vocab (gate-skip
    // path: every row must still surface with n_in_set = 0 and a correct
    // n_tok), and a mixed in/out set
    val sets = Seq(Seq(ids(1), ids(6), ids(11)), Seq(ids(4)),
      Seq(ids.last + 5, ids.last + 9), Seq(ids(0), ids.last + 7))
    for (codec <- Seq("fsst", "dict", "rle", "for", "bitpack", "raw")) {
      val ch = EncodeJob.encode(input,
        EncodeOptions(numBuckets = 4, maxRowsPerChunk = 64, forceCodec = Some(codec))).toDF()
      for (set <- sets) {
        val want = input.toDF().select(col("doc_id"),
          org.apache.spark.sql.functions.size(col("tokens")).cast("int").as("n_tok"),
          expr(s"aggregate(tokens, 0L, (a, t) -> a + IF(array_contains(" +
            s"array(${set.mkString(",")}), t), 1L, 0L))").as("n_in_set"))
        val got = Graft.setCountsEncoded(ch, set)
        assert(want.except(got).isEmpty && got.except(want).isEmpty,
          s"$codec $set: compressed set counts differ from decoded occurrence counts")
      }
    }
  }

  test("first token position: per-codec compressed-domain equals array_position") {
    import org.apache.spark.sql.functions.expr
    val ids = vocab.values.toSeq.sorted
    // common token, rare-ish token, and fully out-of-vocab (gate-skip path:
    // every row must still surface with first_pos = 0 and a correct n_tok)
    val targets = Seq(ids(1), ids(ids.length / 2), ids.last + 9)
    for (codec <- Seq("fsst", "dict", "rle", "for", "bitpack", "raw")) {
      val ch = EncodeJob.encode(input,
        EncodeOptions(numBuckets = 4, maxRowsPerChunk = 64, forceCodec = Some(codec))).toDF()
      for (t <- targets) {
        val want = input.toDF().select(col("doc_id"),
          org.apache.spark.sql.functions.size(col("tokens")).cast("int").as("n_tok"),
          expr(s"CAST(array_position(tokens, $t) AS INT)").as("first_pos"))
        val got = Graft.firstPosEncoded(ch, t)
        assert(want.except(got).isEmpty && got.except(want).isEmpty,
          s"$codec target=$t: compressed first position differs from array_position")
      }
    }
  }

  test("quality profile: per-codec compressed-domain stats equal the decoded oracle") {
    import org.apache.spark.sql.functions.expr
    // decoded-domain oracle built from higher-order functions on the raw
    // token arrays: exact distinct count, longest equal-adjacent run
    // (aggregate carrying (prev, run, best)), and mode weight
    val maxRunExpr = expr(
      "aggregate(tokens, named_struct('prev', CAST(NULL AS INT), 'run', 0, 'best', 0), " +
        "(s, t) -> named_struct('prev', t, " +
        "'run', IF(s.prev IS NOT NULL AND s.prev = t, s.run + 1, 1), " +
        "'best', GREATEST(s.best, IF(s.prev IS NOT NULL AND s.prev = t, s.run + 1, 1))), " +
        "s -> s.best)")
    val topCntExpr = expr(
      "coalesce(array_max(transform(array_distinct(tokens), " +
        "d -> size(filter(tokens, t -> t = d)))), 0)")
    val want = input.toDF().select(col("doc_id"),
      size(col("tokens")).cast("int").as("n_tok"),
      size(array_distinct(col("tokens"))).cast("int").as("n_distinct"),
      maxRunExpr.cast("int").as("max_run"),
      topCntExpr.cast("int").as("top_cnt"))
    for (codec <- Seq("fsst", "dict", "rle", "for", "bitpack", "raw")) {
      val ch = EncodeJob.encode(input,
        EncodeOptions(numBuckets = 4, maxRowsPerChunk = 64, forceCodec = Some(codec))).toDF()
      val got = Graft.qualityEncoded(ch)
        .select("doc_id", "n_tok", "n_distinct", "max_run", "top_cnt")
      assert(want.except(got).isEmpty && got.except(want).isEmpty,
        s"$codec: compressed quality profile differs from decoded oracle")
    }
  }

  test("length pushdown: size(tokens) on the encoded view reads the row prefix, no decode") {
    // correctness vs the raw table, across codecs (the prefix is uniform)
    for (codec <- Seq("fsst", "dict", "rle", "for", "bitpack", "raw")) {
      val ch = EncodeJob.encode(input,
        EncodeOptions(numBuckets = 4, maxRowsPerChunk = 64, forceCodec = Some(codec))).toDF()
      val want = input.toDF().filter(size(col("tokens")).between(10, 40)).select("doc_id")
      val got = Graft.encodedRows(ch)
        .filter(size(col("tokens")).between(10, 40)).select("doc_id")
      assert(want.except(got).isEmpty && got.except(want).isEmpty,
        s"$codec: length filter on the view differs from raw oracle")
    }
    // the rewrite fires: row_token_count in the plan, decode_row gone
    val q = Graft.encodedRows(chunks)
      .filter(size(col("tokens")) >= 10).select("doc_id")
    val optimized = q.queryExecution.optimizedPlan.toString()
    assert(optimized.contains("row_token_count"),
      s"expected row_token_count in optimized plan:\n$optimized")
    assert(!optimized.contains("decode_row"),
      s"decode_row should have been eliminated:\n$optimized")
    // and projecting the length works too (not just filtering)
    val lens = Graft.encodedRows(chunks)
      .select(col("doc_id"), size(col("tokens")).as("n"))
    val wantLens = input.toDF().select(col("doc_id"), size(col("tokens")).as("n"))
    assert(wantLens.except(lens).isEmpty && lens.except(wantLens).isEmpty)
  }

  test("SQL surface: pattern functions + pushdown through spark.sql") {
    val view = Graft.encodedRows(chunks)
    view.createOrReplaceTempView("encoded_docs")
    input.toDF().createOrReplaceTempView("raw_docs")
    val v = vocab
    val sql = s"SELECT doc_id FROM encoded_docs WHERE contains_tokens(tokens, array(${v("value")}, ${v("table")}))"
    val got = spark.sql(sql)
    val want = spark.sql(s"SELECT doc_id FROM raw_docs WHERE contains_tokens(tokens, array(${v("value")}, ${v("table")}))")
    assert(got.queryExecution.optimizedPlan.toString().contains("compressed_match_contains"))
    assert(want.except(got).isEmpty && got.except(want).isEmpty)
    // multi-infix + simhash from SQL
    val mi = spark.sql(s"SELECT count(*) FROM raw_docs WHERE multi_infix_tokens(tokens, array(array(${v("table")}), array(${v("scan")})))")
      .head().getLong(0)
    assert(mi > 0)
    assert(spark.sql("SELECT simhash64(tokens) FROM raw_docs LIMIT 1").head().getLong(0) != 0L)
    // every pipeline kernel is reachable from SQL and agrees with the
    // column API on the same row
    val sqlRow = spark.sql(
      """SELECT minhash_sig(shingle_hashes(tokens, 3), 16, 42L) AS mh,
        |       winnow_fingerprint(tokens, 3, 4) AS wf,
        |       lsh_buckets(CAST(array(0.5, -1.0, 2.0) AS array<float>), 4, 2, 3L) AS lb
        |  FROM raw_docs ORDER BY doc_id LIMIT 1""".stripMargin).head()
    import graft.pipeline.PipelineFunctions
    val apiRow = spark.table("raw_docs").orderBy("doc_id")
      .select(
        PipelineFunctions.minhashSig(PipelineFunctions.shingleHashes(col("tokens"), 3), 16, 42L).as("mh"),
        PipelineFunctions.winnowFingerprint(col("tokens"), 3, 4).as("wf"),
        PipelineFunctions.lshBuckets(
          array(lit(0.5f), lit(-1.0f), lit(2.0f)), 4, 2, 3L).as("lb"))
      .head()
    assert(sqlRow.getSeq[Long](0) == apiRow.getSeq[Long](0))
    assert(sqlRow.getSeq[Long](1) == apiRow.getSeq[Long](1))
    assert(sqlRow.getSeq[Long](2) == apiRow.getSeq[Long](2))
    // sample_bucket from SQL equals the column API
    val sb = spark.sql(
      "SELECT sample_bucket(CAST(doc_id AS BIGINT), 100) AS b FROM raw_docs ORDER BY doc_id LIMIT 1").head()
    val sbApi = spark.table("raw_docs").orderBy("doc_id")
      .select(PipelineFunctions.sampleBucket(col("doc_id").cast("bigint"), 100).as("b")).head()
    assert(sb.getInt(0) == sbApi.getInt(0))
    // integer-literal params accept any integral type (SMALLINT seed here)
    // and reject non-integers with a clear message
    val smallintRow = spark.sql(
      "SELECT minhash_sig(shingle_hashes(tokens, 3), CAST(16 AS SMALLINT), CAST(42 AS SMALLINT)) AS mh " +
        "FROM raw_docs ORDER BY doc_id LIMIT 1").head()
    assert(smallintRow.getSeq[Long](0) == apiRow.getSeq[Long](0))
    // ... the shingle length too (BIGINT and SMALLINT n)
    for (n <- Seq("3L", "CAST(3 AS SMALLINT)")) {
      val nRow = spark.sql(s"SELECT minhash_sig(shingle_hashes(tokens, $n), 16, 42L) AS mh " +
        "FROM raw_docs ORDER BY doc_id LIMIT 1").head()
      assert(nRow.getSeq[Long](0) == apiRow.getSeq[Long](0), s"shingle_hashes n = $n")
    }
    val nonLit = intercept[Exception] {
      spark.sql("SELECT shingle_hashes(tokens, size(tokens)) FROM raw_docs LIMIT 1").collect()
    }
    assert(nonLit.getMessage.contains("must be a literal"), nonLit.getMessage)
    val err = intercept[Exception] {
      spark.sql("SELECT minhash_sig(shingle_hashes(tokens, 3), 16, 'x') FROM raw_docs LIMIT 1").collect()
    }
    assert(err.getMessage.contains("integer literal"), err.getMessage)
  }

  test("fingerprint parameters out of range are refused when the expression is built") {
    import graft.pipeline.PipelineFunctions
    import spark.implicits._
    // no action runs: an empty chunk table only resolves the generators
    val empty = spark.emptyDataset[graft.format.EncodedChunk].toDF()
    def refused(what: String)(build: => Any): Unit = {
      val err = intercept[IllegalArgumentException](build)
      assert(err.getMessage.contains(">= 1"), s"$what: ${err.getMessage}")
    }
    refused("winnowRowsEncoded w = 0")(Graft.winnowRowsEncoded(empty, 3, 0))
    refused("winnowRowsEncoded k = 0")(Graft.winnowRowsEncoded(empty, 0, 4))
    refused("minhashRowsEncoded n = 0")(
      Graft.minhashRowsEncoded(empty, shingleN = 0, numHashes = 8, seed = 1L))
    refused("gramRowsEncoded n = 0")(Graft.gramRowsEncoded(empty, 0))
    refused("winnowFingerprint w = 0")(PipelineFunctions.winnowFingerprint(col("tokens"), 3, 0))
    refused("winnowFingerprint k = 0")(PipelineFunctions.winnowFingerprint(col("tokens"), 0, 4))
    refused("shingleHashes n = 0")(PipelineFunctions.shingleHashes(col("tokens"), 0))
  }

  test("late materialization decodes exactly the matching rows (InternalRow path)") {
    import spark.implicits._
    val v = vocab
    for ((codecName, chunkDf) <- Seq(
        "fsst" -> chunks,
        "bitpack" -> EncodeJob.encode(input,
          EncodeOptions(numBuckets = 4, maxRowsPerChunk = 64,
            forceCodec = Some("bitpack"))).toDF(),
        "auto" -> EncodeJob.encode(input,
          EncodeOptions(numBuckets = 4, maxRowsPerChunk = 64)).toDF());
        (mode, parts) <- Seq(
          PatternMode.Contains -> Seq(Seq(v("value"), v("table"))),
          PatternMode.Prefix -> Seq(Seq(v("key"))))) {
      val got = Graft.scanAndDecodeDf(chunkDf, mode, parts)
        .select(col("doc_id"), col("tokens"), col("n_tok"), col("source"))
      val want = input.toDF().filter(mkPred(mode, parts, col("tokens")))
      assert(want.except(got).isEmpty && got.except(want).isEmpty,
        s"$codecName/$mode late-decode differs from raw oracle")
    }
  }

  test("compressed-domain token histogram equals the decoded histogram per codec") {
    val want = input.toDF()
      .select(explode(col("tokens")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n"))
    for (codecName <- Seq("fsst", "dict", "rle", "for", "bitpack", "raw")) {
      val table = EncodeJob.encode(input,
        EncodeOptions(numBuckets = 8, maxRowsPerChunk = 64, forceCodec = Some(codecName))).toDF()
      val got = Graft.tokenHistogram(table)
      assert(want.except(got).isEmpty && got.except(want).isEmpty,
        s"$codecName: compressed-domain histogram differs from decoded oracle")
    }
    // auto-selected (mixed-codec) table too — the production path
    val auto = EncodeJob.encode(input, EncodeOptions(numBuckets = 8, maxRowsPerChunk = 64)).toDF()
    val gotAuto = Graft.tokenHistogram(auto)
    assert(want.except(gotAuto).isEmpty && gotAuto.except(want).isEmpty,
      "auto-codec compressed-domain histogram differs from decoded oracle")
  }

  test("compressed-domain bigram histogram equals the decoded pair counts per codec") {
    val wantBase = input.toDF()
      .select(col("doc_id"), posexplode(col("tokens")).as(Seq("i", "tok")))
    val a = wantBase.select(col("doc_id"), col("i"), col("tok").as("t1"))
    val b = wantBase.select(col("doc_id"), (col("i") - 1).as("i"), col("tok").as("t2"))
    val want = a.join(b, Seq("doc_id", "i"))
      .groupBy("t1", "t2").agg(count(lit(1)).as("n"))
    for (codecName <- Seq("fsst", "dict", "rle", "for", "bitpack", "raw")) {
      val table = EncodeJob.encode(input,
        EncodeOptions(numBuckets = 8, maxRowsPerChunk = 64, forceCodec = Some(codecName))).toDF()
      val got = Graft.bigramHistogram(table)
      assert(want.except(got).isEmpty && got.except(want).isEmpty,
        s"$codecName: compressed-domain bigram histogram differs from decoded oracle")
    }
    val auto = EncodeJob.encode(input, EncodeOptions(numBuckets = 8, maxRowsPerChunk = 64)).toDF()
    val gotAuto = Graft.bigramHistogram(auto)
    assert(want.except(gotAuto).isEmpty && gotAuto.except(want).isEmpty,
      "auto-codec compressed-domain bigram histogram differs from decoded oracle")
  }

  test("compressed-domain exact dedup equals decoded-domain dedup per codec") {
    val want = input.toDF()
      .groupBy(col("tokens"))
      .agg(min(col("doc_id")).as("rep"), count(lit(1)).as("n_dups"))
      .select(col("rep").cast("bigint").as("rep_doc_id"), col("n_dups"))
    for (codecName <- Seq("fsst", "dict", "rle", "for", "bitpack", "raw")) {
      val table = EncodeJob.encode(input,
        EncodeOptions(numBuckets = 8, maxRowsPerChunk = 64, forceCodec = Some(codecName))).toDF()
      val got = Graft.dedupExactEncoded(table)
      assert(want.except(got).isEmpty && got.except(want).isEmpty,
        s"$codecName: encoded-domain dedup differs from decoded-domain dedup")
    }
    val auto = EncodeJob.encode(input, EncodeOptions(numBuckets = 8, maxRowsPerChunk = 64)).toDF()
    val gotAuto = Graft.dedupExactEncoded(auto)
    assert(want.except(gotAuto).isEmpty && gotAuto.except(want).isEmpty,
      "auto-codec encoded-domain dedup differs from decoded-domain dedup")
    // plan shape: the hash path never decodes a row — content_hashes
    // generates straight off the slabs, so decode_row must be absent
    val plan = Graft.contentHashes(auto).queryExecution.optimizedPlan.toString()
    assert(plan.contains("content_hashes"), plan)
    assert(!plan.contains("decode_row"), plan)
  }

  test("compressed-domain minhash LSH pairs equal the decoded-domain pairs per codec") {
    val want = graft.pipeline.Dedup.minhashLshPairs(input.toDF(), tau = 0.7)
    for (codecName <- Seq("fsst", "dict", "rle", "for", "bitpack", "raw")) {
      val table = EncodeJob.encode(input,
        EncodeOptions(numBuckets = 8, maxRowsPerChunk = 64, forceCodec = Some(codecName))).toDF()
      val got = Graft.dedupMinhashEncoded(table, tau = 0.7)
      assert(want.except(got).isEmpty && got.except(want).isEmpty,
        s"$codecName: encoded-domain minhash pairs differ from decoded-domain pairs")
    }
    val auto = EncodeJob.encode(input, EncodeOptions(numBuckets = 8, maxRowsPerChunk = 64)).toDF()
    val gotAuto = Graft.dedupMinhashEncoded(auto, tau = 0.7)
    assert(want.except(gotAuto).isEmpty && gotAuto.except(want).isEmpty,
      "auto-codec encoded-domain minhash pairs differ from decoded-domain pairs")
    // plan shape: signatures come from the minhash_rows generator; no row
    // decode and no shingle_hashes-on-decoded-arrays anywhere in the plan
    val plan = Graft.dedupMinhashEncoded(auto, tau = 0.7)
      .queryExecution.optimizedPlan.toString()
    assert(plan.contains("minhash_rows"), plan)
    assert(!plan.contains("decode_row"), plan)
  }

  test("compressed-domain simhash pairs equal the decoded-domain pairs per codec") {
    val want = graft.pipeline.Dedup.simhashPairs(input.toDF(), maxHamming = 3)
    for (codecName <- Seq("fsst", "dict", "rle", "for", "bitpack", "raw")) {
      val table = EncodeJob.encode(input,
        EncodeOptions(numBuckets = 8, maxRowsPerChunk = 64, forceCodec = Some(codecName))).toDF()
      val got = Graft.dedupSimhashEncoded(table, maxHamming = 3)
      assert(want.except(got).isEmpty && got.except(want).isEmpty,
        s"$codecName: encoded-domain simhash pairs differ from decoded-domain pairs")
    }
    val auto = EncodeJob.encode(input, EncodeOptions(numBuckets = 8, maxRowsPerChunk = 64)).toDF()
    val gotAuto = Graft.dedupSimhashEncoded(auto, maxHamming = 3)
    assert(want.except(gotAuto).isEmpty && gotAuto.except(want).isEmpty,
      "auto-codec encoded-domain simhash pairs differ from decoded-domain pairs")
    val plan = Graft.dedupSimhashEncoded(auto, maxHamming = 3)
      .queryExecution.optimizedPlan.toString()
    assert(plan.contains("simhash_rows"), plan)
    assert(!plan.contains("decode_row"), plan)
  }

  test("compressed-domain winnowing pairs equal the decoded-domain pairs per codec") {
    val want = graft.pipeline.TextAnalysis.fingerprintPairs(input.toDF())
    for (codecName <- Seq("fsst", "dict", "rle", "for", "bitpack", "raw")) {
      val table = EncodeJob.encode(input,
        EncodeOptions(numBuckets = 8, maxRowsPerChunk = 64, forceCodec = Some(codecName))).toDF()
      val got = Graft.fingerprintPairsEncoded(table)
      assert(want.except(got).isEmpty && got.except(want).isEmpty,
        s"$codecName: encoded-domain winnowing pairs differ from decoded-domain pairs")
    }
    val auto = EncodeJob.encode(input, EncodeOptions(numBuckets = 8, maxRowsPerChunk = 64)).toDF()
    val gotAuto = Graft.fingerprintPairsEncoded(auto)
    assert(want.except(gotAuto).isEmpty && gotAuto.except(want).isEmpty,
      "auto-codec encoded-domain winnowing pairs differ from decoded-domain pairs")
    val plan = Graft.fingerprintPairsEncoded(auto)
      .queryExecution.optimizedPlan.toString()
    assert(plan.contains("winnow_rows"), plan)
    assert(!plan.contains("decode_row"), plan)
  }

  test("compressed-domain span dedup equals the decoded-domain result per codec") {
    val want = graft.pipeline.Dedup.spanDuplicates(input.toDF(), k = 7)
    for (codecName <- Seq("fsst", "dict", "rle", "for", "bitpack", "raw")) {
      val table = EncodeJob.encode(input,
        EncodeOptions(numBuckets = 8, maxRowsPerChunk = 64, forceCodec = Some(codecName))).toDF()
      val got = Graft.spanDuplicatesEncoded(table, k = 7)
      assert(want.except(got).isEmpty && got.except(want).isEmpty,
        s"$codecName: encoded-domain span duplicates differ from decoded-domain")
    }
    val auto = EncodeJob.encode(input, EncodeOptions(numBuckets = 8, maxRowsPerChunk = 64)).toDF()
    val gotAuto = Graft.spanDuplicatesEncoded(auto, k = 7)
    assert(want.except(gotAuto).isEmpty && gotAuto.except(want).isEmpty,
      "auto-codec encoded-domain span duplicates differ from decoded-domain")
    val plan = gotAuto.queryExecution.optimizedPlan.toString()
    assert(plan.contains("span_blocks"), plan)
    assert(!plan.contains("decode_row"), plan)
  }

  test("compressed-domain decontamination and clustering equal the decoded-domain results") {
    val auto = EncodeJob.encode(input, EncodeOptions(numBuckets = 8, maxRowsPerChunk = 64)).toDF()
    val benchPred = (id: org.apache.spark.sql.Column) => id.cast("bigint") % 29 === 0
    val wantOv = graft.pipeline.Dedup.benchmarkOverlap(
      input.toDF().filter(!benchPred(col("doc_id"))),
      input.toDF().filter(benchPred(col("doc_id"))), n = 5, minShared = 1)
    val gotOv = Graft.benchmarkOverlapEncoded(auto, n = 5, minShared = 1, benchPred)
    assert(wantOv.except(gotOv).isEmpty && gotOv.except(wantOv).isEmpty,
      "encoded-domain decontamination differs from decoded-domain")
    val wantCc = graft.pipeline.Dedup.connectedComponents(
      graft.pipeline.Dedup.minhashLshPairs(input.toDF(), tau = 0.7)
        .select(col("doc_a"), col("doc_b")))
    val gotCc = graft.pipeline.Dedup.connectedComponents(
      Graft.dedupMinhashEncoded(auto, tau = 0.7).select(col("doc_a"), col("doc_b")))
    assert(wantCc.except(gotCc).isEmpty && gotCc.except(wantCc).isEmpty,
      "encoded-domain dedup clusters differ from decoded-domain")
    val wantJc = graft.pipeline.Dedup.ngramJaccardPairs(input.toDF(), n = 3, minInter = 3)
    val gotJc = Graft.ngramJaccardPairsEncoded(auto, n = 3, minInter = 3)
    assert(wantJc.except(gotJc).isEmpty && gotJc.except(wantJc).isEmpty,
      "encoded-domain n-gram Jaccard pairs differ from decoded-domain")
  }

  test("compressed-domain repetition scores equal the decoded-domain scores per codec") {
    val want = graft.pipeline.TextAnalysis.repetitionScores(
      input.toDF().withColumn("doc_id", col("doc_id").cast("string")), n = 3)
    for (codecName <- Seq("fsst", "dict", "rle", "for", "bitpack", "raw")) {
      val table = EncodeJob.encode(input,
        EncodeOptions(numBuckets = 8, maxRowsPerChunk = 64, forceCodec = Some(codecName))).toDF()
      val got = Graft.repetitionScoresEncoded(table, n = 3)
      assert(want.except(got).isEmpty && got.except(want).isEmpty,
        s"$codecName: encoded-domain repetition scores differ from decoded-domain")
    }
    val auto = EncodeJob.encode(input, EncodeOptions(numBuckets = 8, maxRowsPerChunk = 64)).toDF()
    val gotAuto = Graft.repetitionScoresEncoded(auto, n = 3)
    assert(want.except(gotAuto).isEmpty && gotAuto.except(want).isEmpty,
      "auto-codec encoded-domain repetition scores differ from decoded-domain")
    val plan = gotAuto.queryExecution.optimizedPlan.toString()
    assert(plan.contains("minhash_rows") && !plan.contains("decode_row"), plan)
  }

  test("compressed-domain scrub equals decoded-domain remap per codec; gates pass clean chunks byte-identical") {
    val banned = Seq(vocab("dup"), vocab("spark"), vocab("vector"))
    val unk = vocab("table")
    val want = input.toDF().select(col("doc_id"),
      transform(col("tokens"),
        t => when(t.isin(banned: _*), lit(unk)).otherwise(t)).as("tokens"))
    for (codecName <- Seq("fsst", "dict", "rle", "for", "bitpack", "raw", "auto")) {
      val opts =
        if (codecName == "auto") EncodeOptions(numBuckets = 8, maxRowsPerChunk = 64)
        else EncodeOptions(numBuckets = 8, maxRowsPerChunk = 64, forceCodec = Some(codecName))
      val table = EncodeJob.encode(input, opts).toDF()
      val scrubbed = graft.encode.Scrub.scrub(table, banned, unk).toDF()
      val got = EncodeJob.decodeDf(scrubbed).select(col("doc_id"), col("tokens"))
      assert(want.except(got).isEmpty && got.except(want).isEmpty,
        s"$codecName: scrubbed decode differs from decoded-domain remap")
      // read-side cross-check: the blocklist scan finds nothing after scrubbing,
      // and every former hit now matches the unk token
      assert(Graft.scanSet(scrubbed, banned).isEmpty,
        s"$codecName: banned tokens survive scrub")
      val wantUnk = want.filter(array_contains(col("tokens"), unk)).select("doc_id")
      val gotUnk = Graft.scanSet(scrubbed, Seq(unk))
      assert(wantUnk.except(gotUnk).isEmpty && gotUnk.except(wantUnk).isEmpty,
        s"$codecName: unk-token scan on scrubbed table differs from oracle")
      // zone-map gate: a banned set outside the token domain touches nothing
      val maxId = vocab.values.max
      val untouched = graft.encode.Scrub.scrub(table, Seq(maxId + 7, maxId + 9), unk).toDF()
      val lhs = untouched.select("chunk_id", "codec", "crc")
      val rhs = table.select("chunk_id", "codec", "crc")
      assert(lhs.except(rhs).isEmpty && rhs.except(lhs).isEmpty,
        s"$codecName: clean chunks did not pass through byte-identical")
    }
  }

  test("compressed-domain remap equals element-wise map per codec; swap pair does not chain") {
    val a = vocab("dup"); val b = vocab("table")
    val c1 = vocab("spark"); val c2 = vocab("vector")
    // {a↔b swap, c1→c2}: element-wise once per token — chaining would send
    // a→b→a and collapse the swap to the identity, failing the oracle below
    val want = input.toDF().select(col("doc_id"),
      transform(col("tokens"), t =>
        when(t === a, lit(b)).when(t === b, lit(a))
          .when(t === c1, lit(c2)).otherwise(t)).as("tokens"))
    for (codecName <- Seq("fsst", "dict", "rle", "for", "bitpack", "raw", "auto")) {
      val opts =
        if (codecName == "auto") EncodeOptions(numBuckets = 8, maxRowsPerChunk = 64)
        else EncodeOptions(numBuckets = 8, maxRowsPerChunk = 64, forceCodec = Some(codecName))
      val table = EncodeJob.encode(input, opts).toDF()
      val remapped = graft.encode.Scrub.remap(table,
        Map(a -> b, b -> a, c1 -> c2)).toDF()
      val got = EncodeJob.decodeDf(remapped).select(col("doc_id"), col("tokens"))
      assert(want.except(got).isEmpty && got.except(want).isEmpty,
        s"$codecName: remapped decode differs from element-wise map")
      // c1 maps away and nothing maps onto it → the read-side scan finds none
      assert(Graft.scanSet(remapped, Seq(c1)).isEmpty,
        s"$codecName: remapped-away token survives")
      // identity mapping → every chunk passes through byte-identical
      val untouched = graft.encode.Scrub.remap(table, Map(a -> a, b -> b)).toDF()
      val lhs = untouched.select("chunk_id", "codec", "crc")
      val rhs = table.select("chunk_id", "codec", "crc")
      assert(lhs.except(rhs).isEmpty && rhs.except(lhs).isEmpty,
        s"$codecName: identity remap did not pass through byte-identical")
    }
  }

  test("compressed-domain delete equals decoded-domain filter per codec; empty/no-hit sets pass byte-identical") {
    val spark0 = spark
    import spark0.implicits._
    // delete every third document (deterministic, spans all chunks/sources)
    val doomed = input.toDF().select(col("doc_id"))
      .filter(col("doc_id").cast("bigint") % 3 === 0)
    val want = input.toDF()
      .filter(col("doc_id").cast("bigint") % 3 =!= 0)
      .select(col("doc_id"), col("tokens"))
    val ghost = Seq("no-such-doc-1", "no-such-doc-2").toDF("doc_id")
    val all = input.toDF().select(col("doc_id"))
    // Delete picks its branch from the id set's size estimate: the default
    // threshold takes the broadcast branch (no join at all), −1 forces the
    // shuffle branch (key joins); both must write the same chunks
    val threshold = "spark.sql.autoBroadcastJoinThreshold"
    def underBranch[T](shuffle: Boolean)(body: => T): T =
      if (!shuffle) body
      else {
        spark.conf.set(threshold, "-1")
        try body finally spark.conf.unset(threshold)
      }
    def joins(df: DataFrame): Boolean =
      df.queryExecution.executedPlan.toString.linesIterator.exists(_.contains("Join"))
    for (codecName <- Seq("fsst", "dict", "rle", "for", "bitpack", "raw", "auto")) {
      val opts =
        if (codecName == "auto") EncodeOptions(numBuckets = 8, maxRowsPerChunk = 64)
        else EncodeOptions(numBuckets = 8, maxRowsPerChunk = 64, forceCodec = Some(codecName))
      val table = EncodeJob.encode(input, opts).toDF()
      val crcs = for (shuffle <- Seq(false, true)) yield underBranch(shuffle) {
        val branch = if (shuffle) "shuffle" else "broadcast"
        val kept = graft.encode.Delete.delete(table, doomed).toDF()
        assert(joins(kept) == shuffle, s"$codecName: delete did not take its $branch branch")
        val got = EncodeJob.decodeDf(kept).select(col("doc_id"), col("tokens"))
        assert(want.except(got).isEmpty && got.except(want).isEmpty,
          s"$codecName/$branch: post-delete decode differs from decoded-domain filter")
        // no-hit delete set → every chunk passes through byte-identical
        val untouched = graft.encode.Delete.delete(table, ghost).toDF()
        val lhs = untouched.select("chunk_id", "codec", "crc")
        val rhs = table.select("chunk_id", "codec", "crc")
        assert(lhs.except(rhs).isEmpty && rhs.except(lhs).isEmpty,
          s"$codecName/$branch: no-hit delete did not pass chunks through byte-identical")
        kept.select("chunk_id", "codec", "crc").as[(Long, String, Long)].collect().toSet
      }
      assert(crcs(0) == crcs(1), s"$codecName: the delete branches wrote different chunks")
    }
    // deleting EVERY document empties the table (chunks drop, not zero-row husks)
    val auto = EncodeJob.encode(input, EncodeOptions(numBuckets = 8, maxRowsPerChunk = 64)).toDF()
    for (shuffle <- Seq(false, true)) underBranch(shuffle) {
      assert(graft.encode.Delete.delete(auto, all).count() == 0L,
        "deleting all documents should drop every chunk")
    }
  }

  test("compressed-domain truncate equals decoded-domain take per codec; pass-through byte-identical") {
    val L = 40
    val want = input.toDF().select(col("doc_id"),
      expr(s"slice(tokens, 1, $L)").as("tokens"))
    for (codecName <- Seq("fsst", "dict", "rle", "for", "bitpack", "raw", "auto")) {
      val opts =
        if (codecName == "auto") EncodeOptions(numBuckets = 8, maxRowsPerChunk = 64)
        else EncodeOptions(numBuckets = 8, maxRowsPerChunk = 64, forceCodec = Some(codecName))
      val table = EncodeJob.encode(input, opts).toDF()
      val truncated = graft.encode.Truncate.truncate(table, L).toDF()
      val got = EncodeJob.decodeDf(truncated).select(col("doc_id"), col("tokens"))
      assert(want.except(got).isEmpty && got.except(want).isEmpty,
        s"$codecName: truncated decode differs from decoded-domain take")
      // read-side cross-checks on the truncated table: the lazy view sees
      // capped lengths, and a pattern scan still matches within the kept head
      assert(Graft.encodedRows(truncated).filter(size(col("tokens")) > L).count() == 0,
        s"$codecName: rows over the cap survive truncation")
      val pat = Seq(vocab("value"), vocab("table"))
      val wantPat = want.filter(Graft.containsTokens(col("tokens"), pat)).select("doc_id")
      val gotPat = Graft.scanPattern(truncated, PatternMode.Contains, Seq(pat))
      assert(wantPat.except(gotPat).isEmpty && gotPat.except(wantPat).isEmpty,
        s"$codecName: contains scan on truncated table differs from oracle")
      // pass-through: a cap at/above every row length touches nothing
      val untouched = graft.encode.Truncate.truncate(table, 1 << 20).toDF()
      val lhs = untouched.select("chunk_id", "codec", "crc")
      val rhs = table.select("chunk_id", "codec", "crc")
      assert(lhs.except(rhs).isEmpty && rhs.except(lhs).isEmpty,
        s"$codecName: clean chunks did not pass through byte-identical")
    }
  }

  test("head/tail projections: slice on the encoded view partial-decodes per codec") {
    val k = 7
    val kt = 40 // straddles the corpus length distribution: some rows < kt → empty slice
    val want = input.toDF().select(col("doc_id"),
      expr(s"slice(tokens, 1, $k)").as("head"), expr(s"slice(tokens, -$kt, $kt)").as("tail"))
    for (codecName <- Seq("fsst", "dict", "rle", "for", "bitpack", "raw", "auto")) {
      val opts =
        if (codecName == "auto") EncodeOptions(numBuckets = 8, maxRowsPerChunk = 64)
        else EncodeOptions(numBuckets = 8, maxRowsPerChunk = 64, forceCodec = Some(codecName))
      val table = EncodeJob.encode(input, opts).toDF()
      val got = Graft.encodedRows(table).select(col("doc_id"),
        expr(s"slice(tokens, 1, $k)").as("head"), expr(s"slice(tokens, -$kt, $kt)").as("tail"))
      assert(want.except(got).isEmpty && got.except(want).isEmpty,
        s"$codecName: head/tail projection differs from decoded-domain slice")
    }
    // the rewrites must fire over the shared decode alias: exactly the two
    // windows as decode_slice plus row_token_count for size, no decode_row
    val q = Graft.encodedRows(chunks).select(expr(s"slice(tokens, 1, $k)"),
      expr(s"slice(tokens, -$kt, $kt)"), size(col("tokens")))
    val plan = q.queryExecution.optimizedPlan
    val windows = plan.flatMap(_.expressions.flatMap(_.collect {
      case d: DecodeSlice => (d.s, d.k)
    }))
    val counts = plan.flatMap(_.expressions.flatMap(_.collect { case r: RowTokenCount => r }))
    assert(windows.sorted == Seq((-kt, kt), (1, k)) && counts.size == 1,
      s"expected decode_slice (1, $k) and (-$kt, $kt) plus one row_token_count:\n$plan")
    assert(!plan.toString.contains("decode_row"),
      s"decode_row should have been eliminated by the head/tail rewrites:\n$plan")
    // SQL surface: decode_slice with the head and tail windows agrees with
    // the column API
    Graft.encodedRows(chunks).createOrReplaceTempView("__head_view")
    val viaSql = spark.sql(
      s"""SELECT doc_id, decode_slice(enc, symtab, codec, 1, $k) AS head,
         |       decode_slice(enc, symtab, codec, -$kt, $kt) AS tail FROM __head_view""".stripMargin)
    assert(want.except(viaSql).isEmpty && viaSql.except(want).isEmpty,
      "SQL decode_slice head/tail windows differ from the column-API slices")
  }

  test("sentinel injection: affix rewrites per codec, decode equals bos ++ tokens ++ eos") {
    import spark.implicits._
    val ids = vocab.values.toSeq.sorted
    // out-of-vocab pair (the common special-token case: FSST byte splice,
    // dict insert, packed widen), in-vocab pair (FSST resync, RLE merge),
    // bos-only, eos-only
    val cases = Seq(
      (Some(1000003), Some(1000001)), (Some(ids(0)), Some(ids(2))),
      (Some(ids(1)), None), (None, Some(1000001)))
    for (codecName <- Seq("fsst", "dict", "rle", "for", "bitpack", "raw", "auto")) {
      val opts =
        if (codecName == "auto") EncodeOptions(numBuckets = 8, maxRowsPerChunk = 64)
        else EncodeOptions(numBuckets = 8, maxRowsPerChunk = 64, forceCodec = Some(codecName))
      val table = EncodeJob.encode(input, opts).toDF()
      for ((bos, eos) <- cases) {
        val affixExpr = (bos, eos) match {
          case (Some(b), Some(e)) => expr(s"concat(array($b), tokens, array($e))")
          case (Some(b), None)    => expr(s"concat(array($b), tokens)")
          case (None, Some(e))    => expr(s"concat(tokens, array($e))")
          case _                  => col("tokens")
        }
        val want = input.toDF().select(col("doc_id"), affixExpr.as("tokens"))
        val affixed = graft.encode.Affix.affix(table, bos, eos).toDF()
        val got = EncodeJob.decodeDf(affixed).select(col("doc_id"), col("tokens"))
        assert(want.except(got).isEmpty && got.except(want).isEmpty,
          s"$codecName bos=$bos eos=$eos: affixed decode differs from concat")
      }
    }
    // no-op affix returns the chunk object unchanged
    val one = EncodeJob.encode(input,
      EncodeOptions(numBuckets = 2, maxRowsPerChunk = 64)).collect().head
    assert(graft.encode.Affix.affixChunk(one, None, None) eq one)
  }

  test("mid-window slice on the encoded view partial-decodes per codec with builtin semantics") {
    // adversarial (start, len) grid: mid window, negative non-tail window,
    // zero length, starts far past both ends, length clipping at the row end
    val grid = Seq((8, 12), (-30, 10), (2, 0), (1000, 5), (-1000, 5), (3, 1000), (-5, 3))
    val sliceCols = grid.zipWithIndex.map { case ((s, k), i) =>
      expr(s"slice(tokens, $s, $k)").as(s"w$i")
    }
    val want = input.toDF().select(col("doc_id") +: sliceCols: _*)
    for (codecName <- Seq("fsst", "dict", "rle", "for", "bitpack", "raw", "auto")) {
      val opts =
        if (codecName == "auto") EncodeOptions(numBuckets = 8, maxRowsPerChunk = 64)
        else EncodeOptions(numBuckets = 8, maxRowsPerChunk = 64, forceCodec = Some(codecName))
      val table = EncodeJob.encode(input, opts).toDF()
      val got = Graft.encodedRows(table).select(col("doc_id") +: sliceCols: _*)
      assert(want.except(got).isEmpty && got.except(want).isEmpty,
        s"$codecName: mid-window slice differs from decoded-domain builtin slice")
    }
    // the rewrite must fire: decode_slice, no decode_row
    val q = Graft.encodedRows(chunks)
      .select(expr("slice(tokens, 5, 9)"), expr("slice(tokens, -40, 6)"))
    val optimized = q.queryExecution.optimizedPlan.toString()
    assert(optimized.contains("decode_slice"),
      s"expected decode_slice in optimized plan:\n$optimized")
    assert(!optimized.contains("decode_row"),
      s"decode_row should have been eliminated by the slice rewrite:\n$optimized")
    // SQL surface: the registered function agrees with the column API
    Graft.encodedRows(chunks).createOrReplaceTempView("__slice_view")
    val viaSql = spark.sql(
      """SELECT doc_id, decode_slice(enc, symtab, codec, 8, 12) AS mid,
        |       decode_slice(enc, symtab, codec, -30, 10) AS win FROM __slice_view""".stripMargin)
    val wantSql = input.toDF().select(col("doc_id"),
      expr("slice(tokens, 8, 12)").as("mid"), expr("slice(tokens, -30, 10)").as("win"))
    assert(wantSql.except(viaSql).isEmpty && viaSql.except(wantSql).isEmpty,
      "SQL decode_slice differs from the builtin slice")
  }

  test("chunk compaction merges small chunks without decode per codec; idempotent; read-side intact") {
    import spark.implicits._
    val want = input.toDF().select(col("doc_id"), col("tokens"))
    val rowsBySource = input.collect().groupBy(_.source).toSeq.sortBy(_._1)
    for (codecName <- Seq("fsst", "dict", "rle", "for", "bitpack", "raw", "auto")) {
      // per-document single-row chunks, fsst headers shared per (bucket,
      // source) through the cache exactly as the encode reduce shares them —
      // the debris shape a row-granular ingest would leave behind
      val cache = scala.collection.mutable.Map.empty[(Int, String), Array[Byte]]
      var seq = 0L
      val built = rowsBySource.flatMap { case (source, docs) =>
        docs.sortBy(_.doc_id).map { d =>
          seq += 1
          graft.format.ChunkOps.build(seq, 0, Array(d.doc_id), source,
            graft.core.TokenRows.ofArrays(IndexedSeq(d.tokens)),
            if (codecName == "auto") None else Some(codecName), cache)
        }
      }
      val small = spark.createDataset(built).toDF().cache()
      val compacted = graft.encode.Compact.compact(small).toDF().cache()
      val (nSmall, nComp) = (small.count(), compacted.count())
      assert(nComp < nSmall, s"$codecName: compaction did not shrink ($nSmall -> $nComp chunks)")
      // conservation of rows/tokens across the merge
      val Array(smallAgg, compAgg) = Seq(small, compacted).map(df =>
        df.agg(sum("row_count"), sum("n_tokens")).collect()(0)).toArray
      assert(smallAgg == compAgg, s"$codecName: row/token totals changed: $smallAgg -> $compAgg")
      val got = EncodeJob.decodeDf(compacted).select(col("doc_id"), col("tokens"))
      assert(want.except(got).isEmpty && got.except(want).isEmpty,
        s"$codecName: compacted decode differs from input")
      // idempotent: compacting a compacted table changes nothing (same crcs)
      val again = graft.encode.Compact.compact(compacted).toDF()
      assert(again.select("crc").except(compacted.select("crc")).isEmpty &&
        compacted.select("crc").except(again.select("crc")).isEmpty,
        s"$codecName: compaction is not idempotent")
      // read-side cross-check: compressed-domain scan over compacted chunks
      // (covers the width-repacked for/bitpack and union-merged dict paths)
      if (Seq("auto", "for", "bitpack", "dict").contains(codecName)) {
        val banned = Seq(vocab("dup"), vocab("vector"))
        val wantScan = want.filter(array_contains(col("tokens"), banned.head) ||
          array_contains(col("tokens"), banned(1))).select("doc_id")
        val gotScan = Graft.scanSet(compacted, banned)
        assert(wantScan.except(gotScan).isEmpty && gotScan.except(wantScan).isEmpty,
          s"$codecName: set scan over compacted chunks differs from raw oracle")
      }
      small.unpersist(); compacted.unpersist()
    }
    // cross-batch fsst debris: per-chunk symbol tables (no shared header
    // cache — the streaming-ingest shape) force the TRANSCODE merge; decode
    // equality and the compressed contains scan must hold on merged chunks
    locally {
      var seq = 0L
      val built = rowsBySource.flatMap { case (source, docs) =>
        docs.sortBy(_.doc_id).map { d =>
          seq += 1
          graft.format.ChunkOps.build(seq, 0, Array(d.doc_id), source,
            graft.core.TokenRows.ofArrays(IndexedSeq(d.tokens)), Some("fsst"), null)
        }
      }
      val small = spark.createDataset(built).toDF()
      val compacted = graft.encode.Compact.compact(small).toDF().cache()
      assert(compacted.count() < built.length,
        "cross-header fsst debris did not merge via transcode")
      val got = EncodeJob.decodeDf(compacted).select(col("doc_id"), col("tokens"))
      assert(want.except(got).isEmpty && got.except(want).isEmpty,
        "fsst transcode: compacted decode differs from input")
      val parts = Seq(Seq(vocab("value"), vocab("table")))
      val wantScan = input.toDF()
        .filter(Graft.containsTokens(col("tokens"), parts.head)).select("doc_id")
      val gotScan = Graft.scanPattern(compacted, PatternMode.Contains, parts)
      assert(wantScan.except(gotScan).isEmpty && gotScan.except(wantScan).isEmpty,
        "fsst transcode: contains scan over merged chunks differs from raw oracle")
    }
  }

  test("rowMeta reads (doc_id, source, n_tok) off the encoded table with zero decode, per codec") {
    val want = input.toDF().select(col("doc_id").cast("string").as("doc_id"),
      col("source"), size(col("tokens")).as("n_tok"))
    for (codecName <- Seq("fsst", "dict", "rle", "for", "bitpack", "raw")) {
      val table = EncodeJob.encode(input,
        EncodeOptions(numBuckets = 8, maxRowsPerChunk = 64, forceCodec = Some(codecName))).toDF()
      val got = Graft.rowMeta(table)
      assert(want.except(got).isEmpty && got.except(want).isEmpty,
        s"$codecName: rowMeta differs from the raw-table metadata")
    }
    val auto = EncodeJob.encode(input, EncodeOptions(numBuckets = 8, maxRowsPerChunk = 64)).toDF()
    val gotAuto = Graft.rowMeta(auto)
    assert(want.except(gotAuto).isEmpty && gotAuto.except(want).isEmpty,
      "auto-codec rowMeta differs from the raw-table metadata")
    val plan = gotAuto.queryExecution.optimizedPlan.toString()
    assert(plan.contains("row_meta"), plan)
    assert(!plan.contains("decode_row"), plan)
  }

  test("packing plans and sampling decode off the encoded table (late-materialized sample)") {
    val auto = EncodeJob.encode(input, EncodeOptions(numBuckets = 8, maxRowsPerChunk = 64)).toDF()
    val rawDocs = input.toDF().withColumn("doc_id", col("doc_id").cast("bigint"))
    // packing: the two-level prefix sum over rowMeta must equal the same
    // plan over the raw table — and carry no decode
    val wantPack = graft.pipeline.Packing.packSummary(
      rawDocs.withColumn("n_tok", size(col("tokens"))), seqLen = 128, bucketWidth = 16)
    val gotPackDf = graft.pipeline.Packing.packSummary(
      Graft.rowMeta(auto).withColumn("doc_id", col("doc_id").cast("bigint")),
      seqLen = 128, bucketWidth = 16)
    assert(wantPack.except(gotPackDf).isEmpty && gotPackDf.except(wantPack).isEmpty,
      "encoded-table packing manifest differs from the raw-table manifest")
    assert(!gotPackDf.queryExecution.optimizedPlan.toString().contains("decode_row"))
    // sampling: survivors (and only survivors) decode; token sums prove the
    // decode really ran on the sampled rows
    val rate = when(col("source") === "src0", lit(80)).otherwise(lit(30))
    def project(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("__id", col("doc_id").cast("bigint"))
      .filter(graft.pipeline.PipelineFunctions.sampleBucket(col("__id"), 100) < rate)
      .select(col("__id").as("doc_id"),
        expr("aggregate(tokens, 0L, (a, x) -> a + x)").as("tok_sum"),
        size(col("tokens")).cast("long").as("n_tok"))
    val wantS = project(input.toDF())
    val gotS = project(Graft.encodedRows(auto))
    assert(wantS.except(gotS).isEmpty && gotS.except(wantS).isEmpty,
      "late-materialized sample differs from the raw-table sample")
    // plan shape: decode_row sits ABOVE the sample_bucket filter (top-down
    // plan string), i.e. only sampled rows pay the decode
    val plan = gotS.queryExecution.optimizedPlan.toString()
    val di = plan.indexOf("decode_row"); val si = plan.indexOf("sample_bucket")
    assert(di >= 0 && si >= 0 && di < si,
      s"decode must apply only to sampled rows (decode@$di filter@$si):\n$plan")
  }
}
