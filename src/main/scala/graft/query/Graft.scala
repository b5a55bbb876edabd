package graft.query

import graft.core.{PatternMode, PatternPredicate, RangePredicate, SetPredicate, TokenPredicate}
import graft.format.EncodedChunk
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions._
import org.apache.spark.sql.GraftBridge

/** Predicate pushdown across the compression boundary: rewrite
  * `tokens_match(decode_row(enc,…), pat)` into `compressed_match(enc,…, pat)`
  * so the match runs on compressed bytes and non-matching rows are never
  * decoded — the Spark form of the reference's entire research question
  * (LIKE on FSST codes without decompression; SURVEY.md §4 O2). The plan
  * shape (scan→filter) stays standard, so an expression-level rule suffices
  * and no SparkStrategy is needed.
  */
object PushPatternIntoCompressed extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference,
    IntegerLiteral, NamedExpression, Size, Slice}
  import org.apache.spark.sql.catalyst.plans.logical.Project

  override def apply(plan: LogicalPlan): LogicalPlan =
    pushThroughProjects(plan).transformAllExpressions {
    case TokensMatch(DecodeRow(enc, header, codec), pred) =>
      CompressedMatch(enc, header, codec, pred)
    // length pushdown: every codec writes a varUInt(n) row prefix, so
    // size(tokens) on the encoded view reads the prefix instead of decoding
    case Size(DecodeRow(enc, _, _), _) =>
      RowTokenCount(enc)
    // window pushdown: slice(tokens, s, k) with a literal nonzero start
    // (head s = 1, tail s = −k, any mid window) decodes O(skip + k) tokens
    // per row (s == 0 / k < 0 raise in the builtin at runtime — leave those
    // to it)
    case Slice(DecodeRow(enc, header, codec), IntegerLiteral(s), IntegerLiteral(k))
        if s != 0 && k >= 0 =>
      DecodeSlice(enc, header, codec, s, k)
  }

  /** The expression cases above need `decode_row` as the DIRECT child, which
    * Catalyst provides for predicates (filter pushdown substitutes aliases
    * into conditions unconditionally) but NOT for projections used more than
    * once: CollapseProject refuses to inline a non-cheap alias referenced
    * twice, so `slice(tokens, 1, k)` + `slice(tokens, −k, k)` over the
    * encoded view keeps `decode_row(…) AS tokens` in a lower Project and the
    * slices see only the attribute. This case substitutes the decode alias
    * into REWRITABLE uses only (slice, size) — sound duplication,
    * because each substituted use immediately rewrites to a partial/prefix
    * read strictly cheaper than the shared full decode — and leaves every
    * other use on the shared alias untouched. The lower Project grows
    * pass-through columns for the chunk fields the rewritten expressions
    * need (column pruning re-trims whatever ends up unused).
    */
  private def pushThroughProjects(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case p @ Project(parentList, childP @ Project(childList, _)) =>
      val decodeAliases = childList.collect {
        case a @ Alias(d: DecodeRow, _) => a.exprId -> d
      }.toMap
      if (decodeAliases.isEmpty) p
      else {
        var needed = Set.empty[Attribute]
        var changed = false
        def bind(ar: Attribute): DecodeRow = {
          val d = decodeAliases(ar.exprId)
          needed ++= d.references
          changed = true
          d
        }
        val newParent = parentList.map(_.transform {
          case Slice(ar: AttributeReference, IntegerLiteral(s), IntegerLiteral(k))
              if s != 0 && k >= 0 && decodeAliases.contains(ar.exprId) =>
            val d = bind(ar)
            DecodeSlice(d.enc, d.header, d.codecName, s, k)
          case Size(ar: AttributeReference, _) if decodeAliases.contains(ar.exprId) =>
            RowTokenCount(bind(ar).enc)
        }.asInstanceOf[NamedExpression])
        if (!changed) p
        else {
          // re-prune the lower Project ourselves: this batch runs after the
          // main optimizer's column pruning, so a decode alias this rewrite
          // orphaned would otherwise still be EVALUATED per row as dead code
          val parentRefs = org.apache.spark.sql.catalyst.expressions.AttributeSet(
            newParent.flatMap(_.references))
          val kept = childList.filter(ne => parentRefs.contains(ne.toAttribute))
          val extra = needed.toSeq.filterNot(a => kept.exists(_.toAttribute.exprId == a.exprId))
          Project(newParent, childP.copy(projectList = kept ++ extra))
        }
      }
  }
}

/** Registration for spark-submit users: `.withExtensions(new GraftExtensions)`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => PushPatternIntoCompressed)
  }
}

/** User-facing column API + the encoded-table views. */
object Graft {

  /** Idempotent install on an existing session (the driver owns session
    * construction in Verify/Bench, so injection goes through
    * experimental.extraOptimizations rather than withExtensions).
    */
  def install(spark: SparkSession): Unit = {
    val cur = spark.experimental.extraOptimizations
    if (!cur.contains(PushPatternIntoCompressed)) {
      spark.experimental.extraOptimizations = cur :+ PushPatternIntoCompressed
    }
    registerSqlFunctions(spark)
  }

  /** SQL surface: the engine's functions usable from spark.sql(...).
    * Pattern arguments must be foldable literals (they parameterize the DFA).
    */
  def registerSqlFunctions(spark: SparkSession): Unit = {
    import org.apache.spark.sql.catalyst.util.ArrayData
    val reg = spark.sessionState.functionRegistry
    def litInts(e: Expression): Seq[Int] = {
      require(e.foldable, s"pattern must be a literal: $e")
      e.eval().asInstanceOf[ArrayData].toIntArray().toSeq
    }
    def litIntss(e: Expression): Seq[Seq[Int]] = {
      require(e.foldable, s"pattern parts must be literals: $e")
      e.eval().asInstanceOf[ArrayData].toObjectArray(
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.IntegerType))
        .map(_.asInstanceOf[ArrayData].toIntArray().toSeq).toSeq
    }
    def litLong(e: Expression): Long = {
      require(e.foldable, s"parameter must be a literal: $e")
      e.eval() match {
        case n: java.lang.Number => n.longValue()
        case other => throw new IllegalArgumentException(
          s"parameter must be an integer literal, got: $other ($e)")
      }
    }
    def litInt(e: Expression): Int = {
      val v = litLong(e)
      require(v >= Int.MinValue && v <= Int.MaxValue,
        s"parameter out of Int range: $v ($e)")
      v.toInt
    }
    def predicateFn(name: String, pred: Seq[Expression] => TokenPredicate): Unit =
      reg.createOrReplaceTempFunction(name, es => TokensMatch(es.head, pred(es)), "scala_udf")
    predicateFn("contains_tokens", es => PatternPredicate(PatternMode.Contains, Seq(litInts(es(1)))))
    predicateFn("starts_with_tokens", es => PatternPredicate(PatternMode.Prefix, Seq(litInts(es(1)))))
    predicateFn("ends_with_tokens", es => PatternPredicate(PatternMode.Suffix, Seq(litInts(es(1)))))
    predicateFn("equals_tokens", es => PatternPredicate(PatternMode.Equals, Seq(litInts(es(1)))))
    predicateFn("multi_infix_tokens", es => PatternPredicate(PatternMode.MultiInfix, litIntss(es(1))))
    predicateFn("any_token_in_range", es => RangePredicate(litInt(es(1)), litInt(es(2))))
    predicateFn("any_token_in_set", es => SetPredicate(litInts(es(1))))
    reg.createOrReplaceTempFunction("decode_row",
      es => DecodeRow(es(0), es(1), es(2)), "scala_udf")
    reg.createOrReplaceTempFunction("decode_slice",
      es => DecodeSlice(es(0), es(1), es(2), litInt(es(3)), litInt(es(4))), "scala_udf")
    reg.createOrReplaceTempFunction("cosine_sim",
      es => graft.pipeline.CosineSim(es(0), es(1)), "scala_udf")
    reg.createOrReplaceTempFunction("simhash64",
      es => graft.pipeline.SimHash64(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("shingle_hashes",
      es => graft.pipeline.ShingleHashes(es(0), litInt(es(1))), "scala_udf")
    // remaining pipeline kernels, so every native expression is reachable
    // from spark.sql(...) — parameters must be foldable literals
    reg.createOrReplaceTempFunction("minhash_sig",
      es => graft.pipeline.MinHashSig(es(0), litInt(es(1)), litLong(es(2))), "scala_udf")
    reg.createOrReplaceTempFunction("winnow_fingerprint",
      es => graft.pipeline.WinnowFingerprint(es(0), litInt(es(1)), litInt(es(2))), "scala_udf")
    reg.createOrReplaceTempFunction("lsh_buckets",
      es => graft.pipeline.LshBuckets(es(0), litInt(es(1)), litInt(es(2)), litLong(es(3))), "scala_udf")
    reg.createOrReplaceTempFunction("sample_bucket",
      es => graft.pipeline.SampleBucket(es(0), litInt(es(1))), "scala_udf")
    // embedding-column quantization kernels (pipeline.Quantize)
    reg.createOrReplaceTempFunction("i8_scale",
      es => graft.pipeline.I8Scale(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("quantize_i8",
      es => graft.pipeline.QuantizeI8(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("i8_codes",
      es => graft.pipeline.I8Codes(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("dequantize_i8",
      es => graft.pipeline.DequantizeI8(es(0), es(1)), "scala_udf")
    reg.createOrReplaceTempFunction("dot_i8",
      es => graft.pipeline.DotI8(es(0), es(1)), "scala_udf")
    reg.createOrReplaceTempFunction("cosine_sim_i8",
      es => graft.pipeline.CosineSimI8(es(0), es(1)), "scala_udf")
    reg.createOrReplaceTempFunction("i8_recon_ok",
      es => graft.pipeline.I8ReconOk(es.head), "scala_udf")
  }

  private def col2expr(c: Column): Expression = GraftBridge.expression(c)
  private def mkCol(e: Expression): Column = GraftBridge.column(e)

  // child columns of the chunk-table expressions: the id-slab walk, the
  // per-codec kernels on top of it, and the compressed-domain counters
  private val RowCols = Seq("doc_ids", "data", "offsets", "row_count")
  private val KernelCols = RowCols ++ Seq("symtab", "codec")
  private val CountCols =
    Seq("data", "offsets", "row_count", "symtab", "codec", "stats.min_tok", "stats.max_tok")
  private def chunkExprs(names: Seq[String]): Seq[Expression] = names.map(n => col2expr(col(n)))
  private def statsCols(pred: TokenPredicate): Seq[String] = pred.statsFields.map("stats." + _)

  // --- column functions ----------------------------------------------------

  def decodeRow(enc: Column, header: Column, codec: Column): Column =
    mkCol(DecodeRow(col2expr(enc), col2expr(header), col2expr(codec)))

  private def tokensMatch(tokens: Column, pred: TokenPredicate): Column =
    mkCol(TokensMatch(col2expr(tokens), pred))
  def containsTokens(tokens: Column, pattern: Seq[Int]): Column =
    tokensMatch(tokens, PatternPredicate(PatternMode.Contains, Seq(pattern)))
  def startsWithTokens(tokens: Column, pattern: Seq[Int]): Column =
    tokensMatch(tokens, PatternPredicate(PatternMode.Prefix, Seq(pattern)))
  def endsWithTokens(tokens: Column, pattern: Seq[Int]): Column =
    tokensMatch(tokens, PatternPredicate(PatternMode.Suffix, Seq(pattern)))
  def equalsTokens(tokens: Column, pattern: Seq[Int]): Column =
    tokensMatch(tokens, PatternPredicate(PatternMode.Equals, Seq(pattern)))
  def multiInfixTokens(tokens: Column, parts: Seq[Seq[Int]]): Column =
    tokensMatch(tokens, PatternPredicate(PatternMode.MultiInfix, parts))
  def anyTokenInRange(tokens: Column, lo: Int, hi: Int): Column =
    tokensMatch(tokens, RangePredicate(lo, hi))
  def anyTokenInSet(tokens: Column, set: Seq[Int]): Column =
    tokensMatch(tokens, SetPredicate(set))

  // --- views over the chunk table -------------------------------------------

  /** Per-document view of an encoded chunk table WITHOUT decoding: columns
    * (doc_id, source, enc, symtab, codec) + a logical `tokens` column defined
    * as decode_row(enc). Filters written against `tokens` with the functions
    * above are pushed into the compressed domain by the injected rule;
    * `tokens` itself only decodes if (and where) it is actually projected.
    */
  def encodedRows(chunks: DataFrame): DataFrame = {
    chunks
      .select(col("codec"), col("symtab"), col("source"),
        mkCol(EncodedRowsGenerator(chunkExprs(RowCols))))
      .select(col("doc_id"), col("source"), col("enc"), col("symtab"), col("codec"))
      .withColumn("tokens", decodeRow(col("enc"), col("symtab"), col("codec")))
  }

  /** Metadata-only per-document view of an encoded chunk table: columns
    * (doc_id, source, n_tok) read from the packed id slab and each row's
    * leading varint token count — no decode, no per-row payload copy.
    * Planning-style operators (sequence packing, sampling manifests,
    * length stats) run off a compressed corpus at metadata CPU cost: the
    * parquet scan still reads the chunk blob column (same row group), but
    * the kernel touches exactly one ≤5-byte varint per document and emits
    * 16-byte rows, never materializing token payloads or enc slices.
    */
  def rowMeta(chunks: DataFrame): DataFrame = {
    chunks
      .select(col("source"),
        mkCol(RowMetaGenerator(chunkExprs(RowCols))))
      .select(col("doc_id"), col("source"), col("n_tok"))
  }

  /** Per-document 128-bit content hashes straight off the encoded chunks
    * (HashMatch kernels — no row decode in the plan): columns
    * (doc_id, source, h1, h2). The dedup-ready projection of a compressed
    * table: downstream exact dedup shuffles 16-byte keys, never payloads.
    */
  def contentHashes(chunks: DataFrame): DataFrame = {
    chunks
      .select(col("source"),
        mkCol(ContentHashesGenerator(chunkExprs(KernelCols))))
      .select(col("doc_id"), col("source"), col("h1"), col("h2"))
  }

  /** Exact dedup over the ENCODED table: group documents by compressed-domain
    * content hash; per group the representative is the minimum doc id
    * (string min, matching Dedup.exact's decoded-domain semantics so the two
    * paths share one oracle). Equivalent to grouping by the decoded token
    * array — the 128-bit key's collision probability at 10^12 rows is
    * ≈4·10^-16 — but the shuffle carries (h1, h2, doc_id): exact dedup of a
    * 100-TB corpus without decompressing a row.
    */
  def dedupExactEncoded(chunks: DataFrame): DataFrame = {
    contentHashes(chunks)
      .groupBy(col("h1"), col("h2"))
      .agg(min(col("doc_id")).as("rep"), count(lit(1)).as("n_dups"))
      .select(col("rep").cast("bigint").as("rep_doc_id"), col("n_dups"))
  }

  /** Per-document MinHash signatures (and optionally shingle-hash sets)
    * straight off the encoded chunks: columns (doc_id, grams, sig). Rows
    * shorter than shingleN are dropped (their sentinel signatures carry no
    * similarity signal — same filter as the decoded path). No decoded token
    * array or shingle explode appears anywhere in the plan.
    */
  def minhashRowsEncoded(chunks: DataFrame, shingleN: Int, numHashes: Int,
                         seed: Long, collectGrams: Boolean = true): DataFrame =
    chunks.select(
      mkCol(MinHashRowsGenerator(chunkExprs(KernelCols),
        shingleN, numHashes, seed, collectGrams)))

  /** MinHash + LSH near-duplicate pairs over the ENCODED table: signatures
    * stream off the compressed chunks (MinHashMatch), then the banding +
    * exact-Jaccard confirmation is literally the decoded path's code
    * (Dedup.lshConfirmPairs) — identical pairs, but the corpus is never
    * decompressed. At 100 TB the scan side reads compressed chunk blobs
    * (~1.4 B/token) instead of decoded arrays, and the only per-doc state
    * shuffled before confirmation is (doc_id, band, band-hash).
    */
  def dedupMinhashEncoded(chunks: DataFrame, shingleN: Int = 3, numHashes: Int = 64,
                          bands: Int = 16, tau: Double = 0.7, seed: Long = 42L): DataFrame =
    graft.pipeline.Dedup.lshConfirmPairs(
      minhashRowsEncoded(chunks, shingleN, numHashes, seed), numHashes, bands, tau)

  /** Per-document 64-bit SimHash signatures straight off the encoded
    * chunks: columns (doc_id, sig). No decoded token array in the plan;
    * RLE runs fold to one mix64 + 64 adds per run.
    */
  def simhashRowsEncoded(chunks: DataFrame): DataFrame =
    chunks.select(
      mkCol(SimHashRowsGenerator(chunkExprs(KernelCols))))

  /** SimHash near-duplicate pairs over the ENCODED table: signatures stream
    * off the compressed chunks (SimHashMatch), then banding + exact-Hamming
    * confirmation is literally the decoded path's code
    * (Dedup.simhashConfirmPairs) — identical pairs, corpus never
    * decompressed. The only per-doc state before confirmation is
    * (doc_id, sig, band, band-hash) — ≤32 bytes/doc through the shuffle.
    */
  def dedupSimhashEncoded(chunks: DataFrame, maxHamming: Int = 3): DataFrame =
    graft.pipeline.Dedup.simhashConfirmPairs(simhashRowsEncoded(chunks), maxHamming)

  /** Per-document winnowing fingerprints straight off the encoded chunks:
    * columns (doc_id, fingerprint). No decoded token array in the plan.
    */
  def winnowRowsEncoded(chunks: DataFrame, k: Int, w: Int): DataFrame =
    chunks.select(
      mkCol(WinnowRowsGenerator(chunkExprs(KernelCols), k, w)))

  /** Fingerprint-sharing pairs over the ENCODED table: winnowing signatures
    * stream off the compressed chunks (WinnowMatch), then the explode +
    * self-join + shared-count is literally the decoded path's code
    * (TextAnalysis.fingerprintConfirmPairs) — identical pairs, corpus never
    * decompressed.
    */
  def fingerprintPairsEncoded(chunks: DataFrame, k: Int = 5, w: Int = 4,
                              minShared: Int = 2,
                              maxPostings: Option[Int] = None): DataFrame =
    graft.pipeline.TextAnalysis.fingerprintConfirmPairs(
      winnowRowsEncoded(chunks, k, w), minShared, maxPostings)

  /** Per-block 128-bit hashes of every non-overlapping k-token block,
    * straight off the encoded chunks: columns (doc_id, blk, h1, h2).
    */
  def spanBlocksEncoded(chunks: DataFrame, k: Int): DataFrame =
    chunks.select(
      mkCol(SpanBlocksGenerator(chunkExprs(KernelCols), k)))

  /** C4-style duplicate-span detection over the ENCODED table: block keys
    * are 128-bit hashes streamed off the compressed chunks (SpanMatch), the
    * global first-occurrence filter is the decoded path's own code
    * (Dedup.spanDupFilter). Identical output barring a 128-bit collision;
    * the shuffle key shrinks from 4k content bytes to 16 hash bytes and the
    * corpus is never decompressed.
    */
  def spanDuplicatesEncoded(chunks: DataFrame, k: Int): DataFrame =
    graft.pipeline.Dedup.spanDupFilter(spanBlocksEncoded(chunks, k), Seq("h1", "h2"))

  /** Per-document distinct shingle-hash sets straight off the encoded
    * chunks, with the chunk's source carried through: columns
    * (doc_id, source, grams). Grams-only MinHash kernel (zero signature
    * lanes); rows shorter than shingleN are dropped, mirroring the decoded
    * path's `n_tok >= n` filter.
    */
  def gramRowsEncoded(chunks: DataFrame, shingleN: Int): DataFrame =
    chunks.select(col("source"),
      mkCol(MinHashRowsGenerator(chunkExprs(KernelCols),
        shingleN, 0, 0L, collectGrams = true)))
      .select(col("doc_id"), col("source"), col("grams"))

  /** Exact n-gram Jaccard pairs over the ENCODED table: distinct shingle
    * sets stream off the compressed chunks; the inverted-index self-join is
    * the decoded path's own code (Dedup.jaccardConfirmPairs) — identical
    * pairs, corpus never decompressed. Chunks never span sources, so the
    * block key rides along for free.
    */
  def ngramJaccardPairsEncoded(chunks: DataFrame, n: Int, minInter: Int,
                               maxPostings: Option[Int] = None): DataFrame =
    graft.pipeline.Dedup.jaccardConfirmPairs(
      gramRowsEncoded(chunks, n).select(col("doc_id"), col("source").as("__bk"), col("grams")),
      minInter, maxPostings)

  /** Gopher-style within-document repetition scoring over the ENCODED
    * table: duplicate-n-gram ratio per document computed from the same
    * rolling-window gram kernel the dedup suite streams off compressed
    * chunks (MinHashMatch with zero signature lanes) — distinct grams =
    * size of the per-row sorted-distinct gram set, total grams = n_tok −
    * (n−1) from the kernel's token count. The quality filter every
    * training pipeline runs, with no decoded token array in the plan.
    */
  def repetitionScoresEncoded(chunks: DataFrame, n: Int = 3,
                              maxDupRatio: Double = 0.05): DataFrame =
    minhashRowsEncoded(chunks, shingleN = n, numHashes = 0, seed = 0L)
      .select(col("doc_id"),
        (col("n_tok") - (n - 1)).cast("long").as("total_grams"),
        size(col("grams")).cast("long").as("distinct_grams"))
      .withColumn("dup_ratio",
        lit(1.0) - col("distinct_grams").cast("double") / col("total_grams"))
      .withColumn("repetitive", col("dup_ratio") > maxDupRatio)

  /** Benchmark decontamination over the ENCODED table: per-doc distinct
    * shingle-hash sets stream off the compressed chunks (MinHashMatch with
    * zero signature lanes — gram collection only); the broadcast probe +
    * shared-gram count is the decoded path's own code
    * (Dedup.overlapConfirm). `benchPred` selects the benchmark subset by
    * doc_id; the corpus side never shuffles.
    */
  def benchmarkOverlapEncoded(chunks: DataFrame, n: Int, minShared: Int,
                              benchPred: Column => Column): DataFrame = {
    val g = minhashRowsEncoded(chunks, shingleN = n, numHashes = 0, seed = 0L)
      .select(col("doc_id"), col("grams"))
    graft.pipeline.Dedup.overlapConfirm(
      g.filter(!benchPred(col("doc_id"))),
      g.filter(benchPred(col("doc_id"))).select(col("grams")),
      minShared)
  }

  /** The zone-gated column projection feeding the late-materialization RDD
    * bridge — extracted so PlanAudit can pin its PushedFilters (the bridge
    * hides this subplan behind a Scan ExistingRDD in the outer plan).
    */
  private[graft] def lateMatProjection(chunkDf: DataFrame,
                                       parts: Seq[Seq[Int]]): DataFrame =
    zoneGateAll(chunkDf, parts.flatten)
      .select(col("codec"), col("symtab"), col("data"),
        col("offsets"), col("row_count"), col("doc_ids"), col("source"))

  /** Zone-map gate as a PLAN-level conjunct, not just expression-internal
    * logic: a chunk can contain a match only if every required token lies in
    * its [min_tok, max_tok] interval, so the implied filter on the persisted
    * per-chunk stats is added BEFORE the matcher expression. On a
    * parquet-backed chunk table (TableIO.readChunks) Spark pushes the nested
    * `stats.min_tok`/`stats.max_tok` comparisons into the scan
    * (PushedFilters → row-group statistics + column-index page pruning).
    * That skips I/O only where a row group's chunks share a narrow token
    * range. A table `EncodeJob.encode` writes has no such layout — each row
    * group mixes all buckets and sources, so its min_tok/max_tok span the
    * whole token domain and no row group is skipped (every chunk's bytes
    * are read). What this conjunct saves there is CPU: the filter drops
    * non-matching chunks before the matcher runs, like the in-expression
    * gates (zone map, blooms, set cover). Conservative and exact-safe: the
    * matcher still evaluates the surviving chunks.
    */
  private def zoneGateAll(chunks: DataFrame, required: Seq[Int]): DataFrame =
    if (required.isEmpty) chunks
    else chunks.filter(col("stats.min_tok") <= lit(required.min) &&
      col("stats.max_tok") >= lit(required.max))

  /** Matching doc ids of each chunk row under `pred` (one ChunkDocIds eval
    * per chunk), reading only the stats columns the predicate's gate needs.
    */
  private[graft] def chunkDocIds(pred: TokenPredicate): Column =
    mkCol(ChunkDocIds(chunkExprs(KernelCols ++ statsCols(pred)), pred))

  /** The fast scan path: chunk-granularity pattern match returning matching
    * doc_ids, with bloom-based whole-chunk skipping. One expression eval per
    * chunk ≈ one Engine::Scan per block in the reference.
    */
  def scanPattern(chunks: DataFrame, mode: String, parts: Seq[Seq[Int]]): DataFrame =
    zoneGateAll(chunks, parts.flatten)
      .select(explode(chunkDocIds(PatternPredicate(mode, parts))).as("doc_id"))

  /** Chunk-granularity range scan (any token in [lo,hi]) with zone-map
    * pruning on the chunk's min/max token stats — the range analog of
    * [[scanPattern]].
    */
  def scanRange(chunks: DataFrame, lo: Int, hi: Int): DataFrame =
    // interval-overlap conjunct, pushed to the storage scan (see zoneGateAll)
    chunks.filter(col("stats.max_tok") >= lit(lo) && col("stats.min_tok") <= lit(hi))
      .select(explode(chunkDocIds(RangePredicate(lo, hi))).as("doc_id"))

  /** Chunk-granularity set-membership scan (any token ∈ set) with zone-map
    * AND bloom gating — the blocklist filter as a chunk scan.
    */
  def scanSet(chunks: DataFrame, set: Seq[Int]): DataFrame = {
    // ANY-semantics: a chunk can match only if its token interval overlaps
    // the set's hull [set.min, set.max] — conservative, pushed to storage
    val gated =
      if (set.isEmpty) chunks
      else chunks.filter(col("stats.max_tok") >= lit(set.min) &&
        col("stats.min_tok") <= lit(set.max))
    gated.select(explode(chunkDocIds(SetPredicate(set))).as("doc_id"))
  }

  /** Per-document token-SET COUNTS over the encoded table: (doc_id, n_tok,
    * n_in_set) with n_in_set the number of the document's tokens in `set` —
    * the quantitative dual of scanSet (blocklist density, rare-token
    * scoring, pre-Scrub severity accounting). Each codec streams its own
    * wire format (run-aware for RLE/constant rows); chunks whose zone map +
    * bloom exclude every set member emit their rows at metadata cost with
    * n_in_set = 0 and never touch the data plane — a rare set prices the
    * 100-TB pass near the id-slab scan.
    */
  def setCountsEncoded(chunks: DataFrame, set: Seq[Int]): DataFrame =
    chunks.select(
      mkCol(SetCountsGenerator(chunkExprs(KernelCols ++ statsCols(SetPredicate(set))), set)))

  /** Per-document FIRST POSITION of a target token over the encoded table:
    * (doc_id, n_tok, first_pos) with first_pos the 1-based position of the
    * first occurrence (0 when absent) — `array_position` off compressed
    * storage; the split-point discovery primitive (first EOS / separator /
    * special token) for segmentation and truncate-at-sentinel pipelines.
    * Chunks whose zone map + bloom exclude the target emit their rows at
    * metadata cost with first_pos = 0 and never touch the data plane — a
    * rare sentinel prices the 100-TB pass near the id-slab scan.
    */
  def firstPosEncoded(chunks: DataFrame, target: Int): DataFrame =
    chunks.select(
      mkCol(TokenPosGenerator(
        chunkExprs(KernelCols ++ statsCols(SetPredicate(Seq(target)))), target)))

  /** Per-document token-quality profile over the encoded table: (doc_id,
    * source, n_tok, n_distinct, max_run, top_cnt) — exact distinct-token
    * count, longest equal-token run, and mode weight, streamed off each
    * codec's wire format (core/QualityMatch; RLE folds whole runs in O(1)).
    * The compressed-domain form of TextAnalysis-style quality gating: a
    * 100-TB corpus is quality-scored (degenerate-repeat and
    * one-token-dominates signals) without decoding a single token array,
    * and the output is a slim 5-column frame a filter or stratifier
    * consumes directly.
    */
  def qualityEncoded(chunks: DataFrame): DataFrame =
    chunks.select(col("source"),
      mkCol(QualityGenerator(chunkExprs(KernelCols))))
      .select(col("doc_id"), col("source"), col("n_tok"),
        col("n_distinct"), col("max_run"), col("top_cnt"))

  /** Compressed-domain token histogram: per-chunk (token, count) pairs from
    * the CountMatch kernels (no row decode), merged by a standard
    * groupBy(token) whose partial aggregation bounds the shuffle at
    * |vocabulary| rows per map task. GROUP BY token over 100 TB without ever
    * decompressing a row.
    */
  def tokenHistogram(chunks: DataFrame): DataFrame = {
    chunks
      .select(explode(mkCol(ChunkTokenCounts(chunkExprs(CountCols)))).as("tc"))
      .groupBy(col("tc.tok").as("tok"))
      .agg(sum(col("tc.cnt")).as("n"))
  }

  /** Compressed-domain BIGRAM histogram: per-chunk (t1, t2, count) triples
    * from CountMatch.chunkBigrams (code-transition matrix + symbol expansion
    * for FSST; run arithmetic for RLE; packed-value cursors elsewhere),
    * merged by groupBy(t1, t2) under partial aggregation. The pair-count
    * table behind BPE-style merge analysis — over compressed storage, with
    * no row decode in the plan. Pairs stream through a lazy Generator
    * (one reused row off three primitive arrays) rather than an eager
    * array-of-structs + explode.
    */
  def bigramHistogram(chunks: DataFrame): DataFrame = {
    // aggregate on the generator's PACKED (t1 << 32 | t2) key — one 8-byte
    // group column instead of two ints through both aggregation levels and
    // the exchange — and unpack after the final aggregation. Arithmetic
    // shifts sign-extend each half back into int32 range BEFORE the cast
    // (ANSI-safe — no truncating cast), so any int32 pair, negative tokens
    // included, round-trips exactly.
    bigramCounts(chunks)
      .groupBy(col("pair"))
      .agg(sum(col("cnt")).as("n"))
      .select(shiftright(col("pair"), 32).cast("int").as("t1"),
        shiftright(shiftleft(col("pair"), 32), 32).cast("int").as("t2"), col("n"))
  }

  /** Per-chunk (pair, cnt) rows of the bigram generator, before any
    * aggregation (pair = t1 << 32 | t2 zero-extended).
    */
  private[graft] def bigramCounts(chunks: DataFrame): DataFrame =
    chunks.select(mkCol(BigramCountsGenerator(chunkExprs(CountCols))))

  /** Late materialization (the reference's decode-only-matches behavior,
    * /root/reference/sketch.cc:921-927): match on compressed bytes, then
    * decode ONLY the matching rows of each chunk. Typed facade over
    * [[scanAndDecodeDf]] (the plan is the InternalRow path either way).
    */
  def scanAndDecode(chunks: Dataset[EncodedChunk], mode: String,
                    parts: Seq[Seq[Int]]): Dataset[graft.format.TokenRow] = {
    val spark = chunks.sparkSession
    import spark.implicits._
    scanAndDecodeDf(chunks.toDF(), mode, parts).as[graft.format.TokenRow]
  }

  /** Late materialization on the InternalRow plane (mirrors
    * EncodeJob.decodeDf — round 4): the match runs on compressed bytes with
    * the same per-codec row test the chunk scan uses
    * (PatternPredicate.prepare; a chunk it rules out decodes nothing),
    * matched rows decode straight to InternalRows, matched doc ids become
    * zero-copy UTF8String views over the packed id slab. No EncodedChunk or
    * TokenRow object ever materializes.
    */
  def scanAndDecodeDf(chunkDf: DataFrame, mode: String, parts: Seq[Seq[Int]]): DataFrame = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeArrayData}
    val spark = chunkDf.sparkSession
    val pred = PatternPredicate(mode, parts)
    val proj = lateMatProjection(chunkDf, parts)
    val rdd = GraftBridge.toInternalRdd(proj).mapPartitions { it =>
      it.flatMap { r =>
        // copy every field out of the (reused) scan row before the lazy
        // per-row iterator (getBinary copies; UTF8Strings cloned)
        val codec = r.getUTF8String(0).toString
        val symtab = r.getBinary(1)
        val data = r.getBinary(2)
        val rowCount = r.getInt(4)
        val offs = graft.format.Offsets.unpack(r.getBinary(3), rowCount)
        val ids = new graft.format.PackedIds.Cursor(r.getBinary(5))
        val source = r.getUTF8String(6).clone()
        val test = pred.prepare(codec, symtab)
        if (test == null) Iterator.empty
        else new Iterator[InternalRow] {
          private val dec = graft.core.Codecs.byName(codec).decoder(symtab)
          private var i = 0
          private def advance(): Unit =
            while (i < rowCount && !test(data, offs(i), offs(i + 1))) {
              ids.skip()
              i += 1
            }
          advance()
          def hasNext: Boolean = i < rowCount
          def next(): InternalRow = {
            val id = ids.next()
            val toks = dec.decode(data, offs(i), offs(i + 1))
            i += 1
            advance()
            new GenericInternalRow(Array[Any](
              id, UnsafeArrayData.fromPrimitiveArray(toks), toks.length, source))
          }
        }
      }
    }
    GraftBridge.internalCreateDataFrame(spark, rdd,
      graft.encode.EncodeJob.decodedSchema)
  }
}
