package graft

import graft.encode.{EncodeJob, EncodeOptions}
import graft.query.Graft
import graft.spark.Tokenize
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Driver-contract query implementations (SparkEntry.queries) with their
  * DuckDB oracles (SparkEntry.oracleSql). Every engine query runs the full
  * pipeline — tokenize → explicit-bucket shuffle → chunk encode → compressed
  * query / decode — and returns a result a string-domain DuckDB query over
  * the same parquet can reproduce exactly (the token↔word mapping is a
  * bijection on the corpus vocabulary).
  */
object Queries {

  // One encode per (session, sfDir, flavor) — queries share the chunk table.
  // The SESSION is part of the key: cached DataFrames are bound to the
  // SparkSession that built them, and Bench stops/recreates sessions in one
  // JVM; a (dir, flavor)-only key would hand a later session a DataFrame on
  // a dead session. The vocab cache holds plain Scala data — session-free.
  private val chunkCache = mutable.HashMap.empty[(SparkSession, String, String), DataFrame]
  private val vocabCache = mutable.HashMap.empty[String, Map[String, Int]]

  def vocab(spark: SparkSession, dir: String): Map[String, Int] = synchronized {
    // documents() already collects the sorted vocabulary for its broadcast
    // tokenizer — reuse that Map instead of running a second vocab job
    vocabCache.getOrElseUpdate(dir, Tokenize.documents(spark, dir)._2)
  }

  /** Drop cache entries whose session is stopped — Bench cycles a dozen+
    * sessions in one JVM; strong references to dead sessions' DataFrames
    * would otherwise accumulate for the JVM lifetime (round-2 advisor).
    */
  private def evictStopped(): Unit =
    chunkCache.filterInPlace { case ((s, _, _), _) => !s.sparkContext.isStopped }

  /** FSST-forced chunks: the pattern-query path (compressed-domain DFA). */
  def fsstChunks(spark: SparkSession, dir: String): DataFrame = synchronized {
    evictStopped()
    chunkCache.getOrElseUpdate((spark, dir, "fsst"), {
      Graft.install(spark)
      val (input, _) = Tokenize.documents(spark, dir)
      EncodeJob.encode(input, EncodeOptions(forceCodec = Some("fsst"))).toDF().cache()
    })
  }

  /** Auto-selected chunks: the round-trip / accounting path. */
  def autoChunks(spark: SparkSession, dir: String): DataFrame = synchronized {
    evictStopped()
    chunkCache.getOrElseUpdate((spark, dir, "auto"), {
      Graft.install(spark)
      val (input, _) = Tokenize.documents(spark, dir)
      EncodeJob.encode(input, EncodeOptions()).toDF().cache()
    })
  }

  private def pat(spark: SparkSession, dir: String, words: String*): Seq[Int] = {
    val v = vocab(spark, dir)
    words.map(v)
  }

  import graft.core.PatternMode._

  // ---------------------------------------------------------------------
  // Engine queries (compression + compressed-domain predicates)
  // ---------------------------------------------------------------------

  /** Full encode→decode round-trip; only rows whose decoded tokens match a
    * re-tokenization of the source text survive the join, so the oracle (all
    * rows) catches any corruption. Scale shape: each side reduces its token
    * array to a 64-bit content hash BEFORE the join, so the shuffle moves
    * (doc_id, hash, n_tok) — not two copies of every token payload (the
    * round-2 committed bench showed the full-array join 12× slower). The
    * element-wise bit-identity guarantee lives in EncodeSpec/RoundTripCheck,
    * which compare full arrays without a shuffle.
    */
  def roundtripDecode(spark: SparkSession, dir: String): DataFrame = {
    val (input, _) = Tokenize.documents(spark, dir)
    val decoded = EncodeJob.decodeDf(autoChunks(spark, dir))
    val d = decoded.select(col("doc_id"), col("n_tok"),
      xxhash64(col("tokens")).as("__h"))
    val i = input.toDF().select(col("doc_id"), xxhash64(col("tokens")).as("__h"))
    d.join(i, Seq("doc_id", "__h"))
      .select(col("doc_id").cast("bigint").as("doc_id"),
        col("n_tok").cast("bigint").as("n_tok"))
  }

  def containsTokens(spark: SparkSession, dir: String): DataFrame =
    Graft.scanPattern(fsstChunks(spark, dir), Contains,
      Seq(pat(spark, dir, "value", "table")))
      .select(col("doc_id").cast("bigint").as("doc_id"))

  def prefixTokens(spark: SparkSession, dir: String): DataFrame =
    Graft.scanPattern(fsstChunks(spark, dir), Prefix, Seq(pat(spark, dir, "key", "agg")))
      .select(col("doc_id").cast("bigint").as("doc_id"))

  def suffixTokens(spark: SparkSession, dir: String): DataFrame =
    Graft.scanPattern(fsstChunks(spark, dir), Suffix, Seq(pat(spark, dir, "value")))
      .select(col("doc_id").cast("bigint").as("doc_id"))

  def multiInfixTokens(spark: SparkSession, dir: String): DataFrame =
    Graft.scanPattern(fsstChunks(spark, dir), MultiInfix,
      Seq(pat(spark, dir, "table"), pat(spark, dir, "scan")))
      .select(col("doc_id").cast("bigint").as("doc_id"))

  /** NOT LIKE analog (q13/q16) through the per-document encoded view — this
    * path exercises the optimizer rewrite (decode_row → compressed_match)
    * rather than the chunk-granularity scan.
    */
  def notContainsTokens(spark: SparkSession, dir: String): DataFrame =
    Graft.encodedRows(fsstChunks(spark, dir))
      .filter(!Graft.containsTokens(col("tokens"), pat(spark, dir, "value", "table")))
      .select(col("doc_id").cast("bigint").as("doc_id"))

  /** Value-range predicate on the AUTO-codec chunk table: docs containing
    * any token in [id("dup"), id("fast")], evaluated per codec in its own
    * compressed domain with zone-map (min/max token) chunk pruning — the
    * range analog of the LIKE family. Vocabulary ids are sorted word ranks,
    * so the token range is exactly the lexicographic word range and the
    * oracle can stay in the string domain.
    */
  def rangeTokens(spark: SparkSession, dir: String): DataFrame = {
    val v = vocab(spark, dir)
    Graft.scanRange(autoChunks(spark, dir), v("dup"), v("fast"))
      .select(col("doc_id").cast("bigint").as("doc_id"))
  }

  /** Set-membership predicate (the blocklist filter): docs containing any
    * of {"dup","spark","vector"}, evaluated per codec in the compressed
    * domain with zone-map + bloom chunk gating.
    */
  def blocklistTokens(spark: SparkSession, dir: String): DataFrame = {
    val v = vocab(spark, dir)
    Graft.scanSet(autoChunks(spark, dir), Seq(v("dup"), v("spark"), v("vector")))
      .select(col("doc_id").cast("bigint").as("doc_id"))
  }

  /** Blocklist DENSITY over the encoded table: per-document counts of
    * tokens in {"dup","spark","vector"} (the quantitative dual of the
    * q_blocklist_tokens predicate — how many replacements a Scrub pass
    * would make, or the rare-token/profanity score of a quality filter),
    * streamed off each codec's wire format with zone-map + bloom chunk
    * gating; gated chunks emit at metadata cost. Docs with zero hits are
    * filtered here (the density consumer's shape); the oracle counts
    * occurrences in the word domain.
    */
  def blocklistCounts(spark: SparkSession, dir: String): DataFrame = {
    val v = vocab(spark, dir)
    Graft.setCountsEncoded(autoChunks(spark, dir),
        Seq(v("dup"), v("spark"), v("vector")))
      .filter(col("n_in_set") > 0)
      .select(col("doc_id").cast("bigint").as("doc_id"),
        col("n_tok").cast("long").as("n_tok"), col("n_in_set"))
  }

  /** FIRST POSITION of a target token over the ENCODED table: per-document
    * (n_tok, first_pos) with first_pos the 1-based position of the first
    * occurrence of the 'dup' token (0 when absent) — `array_position` off
    * compressed storage; the split-point discovery primitive (first EOS /
    * separator) for segmentation and truncate-at-sentinel pipelines. Chunks
    * whose zone map + bloom exclude the target emit rows at metadata cost.
    */
  def firstTokenPos(spark: SparkSession, dir: String): DataFrame = {
    val v = vocab(spark, dir)
    Graft.firstPosEncoded(autoChunks(spark, dir), v("dup"))
      .select(col("doc_id").cast("bigint").as("doc_id"),
        col("n_tok").cast("long").as("n_tok"),
        col("first_pos").cast("long").as("first_pos"))
  }

  /** Token-domain quality profile over the ENCODED table: per-document
    * exact (n_tok, n_distinct, max_run, top_cnt) — the distinct ratio,
    * degenerate-repeat, and one-token-dominates signals of a C4/Gopher-style
    * quality gate, streamed off each codec's wire format with no row decode
    * anywhere in the plan. Vocabulary ids are word ranks, so the word-domain
    * oracle computes the identical integers.
    */
  def qualityEncodedProfile(spark: SparkSession, dir: String): DataFrame =
    Graft.qualityEncoded(autoChunks(spark, dir))
      .select(col("doc_id").cast("bigint").as("doc_id"),
        col("n_tok").cast("long").as("n_tok"),
        col("n_distinct").cast("long").as("n_distinct"),
        col("max_run").cast("long").as("max_run"),
        col("top_cnt").cast("long").as("top_cnt"))

  /** Document-length filter on the ENCODED view: size(tokens) rewrites to
    * the varUInt row-prefix read (row_token_count) — the standard length
    * gate of a training pipeline, decode-free on compressed data.
    */
  def lengthFilter(spark: SparkSession, dir: String): DataFrame =
    Graft.encodedRows(fsstChunks(spark, dir))
      .filter(size(col("tokens")).between(60, 80))
      .select(col("doc_id").cast("bigint").as("doc_id"))

  /** Exact dedup computed ENTIRELY in the compressed domain: per-row 128-bit
    * content hashes off the encoded chunks (HashMatch kernels — FSST code-
    * fragment streaming, RLE closed-form run folds, dict/packed table
    * loads), then groupBy(h1, h2) with min-doc-id representatives. The
    * shuffle carries 24-byte rows regardless of document length; no decode
    * anywhere in the plan. Same oracle as q_dedup_exact (which groups the
    * RAW text), so the compressed path is cross-checked end to end against
    * the decoded-domain semantics.
    */
  def dedupExactEncoded(spark: SparkSession, dir: String): DataFrame =
    Graft.dedupExactEncoded(autoChunks(spark, dir))

  /** MinHash + LSH near-dup pairs computed over the ENCODED table: shingle
    * sets and signatures stream off the compressed chunks (MinHashMatch
    * rolling-window kernels over every codec's wire format); banding and
    * exact-Jaccard confirmation are the decoded path's own code. Same
    * oracle as q_dedup_minhash — near-dedup without decompressing the
    * corpus, cross-checked against the decoded-domain plan end to end.
    */
  def dedupMinhashEncoded(spark: SparkSession, dir: String): DataFrame = {
    // The encoded table's doc_id is a string, so the pair orientation out of
    // lshConfirmPairs is lexicographic ("134" < "87"); the oracle (and the
    // decoded path over this dataset's bigint ids) orders numerically.
    // Counts are symmetric, so re-orient after the cast.
    val a = col("doc_a").cast("bigint"); val b = col("doc_b").cast("bigint")
    Graft.dedupMinhashEncoded(autoChunks(spark, dir), tau = 0.7)
      .select(least(a, b).as("doc_a"), greatest(a, b).as("doc_b"),
        col("inter_cnt"), col("union_cnt"))
  }

  /** SimHash near-dup pairs computed over the ENCODED table: 64-bit
    * signatures stream off the compressed chunks (SimHashMatch unigram
    * majority votes, RLE runs folded); banding and exact-Hamming
    * confirmation are the decoded path's own code. Same oracle as
    * q_dedup_simhash — near-dedup without decompressing the corpus.
    */
  def dedupSimhashEncoded(spark: SparkSession, dir: String): DataFrame = {
    // Same re-orientation as dedupMinhashEncoded: string doc_ids order
    // lexicographically, the oracle numerically; hamming is symmetric.
    val a = col("doc_a").cast("bigint"); val b = col("doc_b").cast("bigint")
    Graft.dedupSimhashEncoded(autoChunks(spark, dir), maxHamming = 3)
      .select(least(a, b).as("doc_a"), greatest(a, b).as("doc_b"), col("hamming"))
  }

  /** Near-dup CLUSTERS over the ENCODED table: the per-document canonical
    * assignment via connected components over the compressed-domain MinHash
    * pair list — the full dedup pipeline (shingle → signature → band →
    * confirm → cluster) with zero decode. Same oracle as q_dedup_clusters.
    */
  def dedupClustersEncoded(spark: SparkSession, dir: String): DataFrame =
    graft.pipeline.Dedup.connectedComponents(
        dedupMinhashEncoded(spark, dir).select(col("doc_a"), col("doc_b")))
      .select(col("doc_id").cast("bigint").as("doc_id"),
        col("rep_id").cast("bigint").as("rep_id"))

  /** C4-style duplicate-span removal over the ENCODED table: 128-bit block
    * hashes stream off the compressed chunks; the first-occurrence window
    * is the decoded path's own code. doc_id is cast to bigint BEFORE the
    * window so first-occurrence order matches the oracle's numeric order
    * (the encoded table's ids are strings). Same oracle as q_span_dedup.
    */
  def spanDedupEncoded(spark: SparkSession, dir: String): DataFrame =
    graft.pipeline.Dedup.spanDupFilter(
      Graft.spanBlocksEncoded(autoChunks(spark, dir), k = 10)
        .withColumn("doc_id", col("doc_id").cast("bigint")),
      Seq("h1", "h2"))

  /** Exact n-gram Jaccard pairs over the ENCODED table: distinct shingle
    * sets stream off the compressed chunks; the inverted-index self-join is
    * the decoded path's own code. Same oracle as q_ngram_jaccard.
    */
  def ngramJaccardEncoded(spark: SparkSession, dir: String): DataFrame = {
    // Pair orientation re-normalized after the bigint cast (string ids order
    // lexicographically); inter/union counts are symmetric.
    val a = col("doc_a").cast("bigint"); val b = col("doc_b").cast("bigint")
    Graft.ngramJaccardPairsEncoded(autoChunks(spark, dir), n = 3, minInter = 3)
      .select(least(a, b).as("doc_a"), greatest(a, b).as("doc_b"),
        col("inter_cnt").cast("bigint").as("inter_cnt"),
        col("union_cnt").cast("bigint").as("union_cnt"))
  }

  /** Benchmark decontamination over the ENCODED table: training-side
    * shingle sets stream off the compressed chunks (gram-only MinHash
    * kernel); the benchmark gram set is broadcast. Same oracle as
    * q_decontaminate.
    */
  def decontaminateEncoded(spark: SparkSession, dir: String): DataFrame =
    Graft.benchmarkOverlapEncoded(autoChunks(spark, dir), n = 5, minShared = 1,
        benchPred = id => id.cast("bigint") % 29 === 0)
      .select(col("doc_id").cast("bigint").as("doc_id"), col("n_shared"))

  /** Winnowing fingerprint-sharing pairs computed over the ENCODED table:
    * signatures stream off the compressed chunks (WinnowMatch rolling
    * k-grams + sliding window minima); the inverted-index self-join is the
    * decoded path's own code. Same oracle as q_fingerprint_pairs.
    */
  def fingerprintPairsEncoded(spark: SparkSession, dir: String): DataFrame = {
    // Same re-orientation as dedupMinhashEncoded: string doc_ids order
    // lexicographically, the oracle numerically; shared counts are symmetric.
    val a = col("doc_a").cast("bigint"); val b = col("doc_b").cast("bigint")
    Graft.fingerprintPairsEncoded(autoChunks(spark, dir))
      .select(least(a, b).as("doc_a"), greatest(a, b).as("doc_b"), col("shared"))
  }

  /** Vocabulary heavy hitters computed ENTIRELY in the compressed domain:
    * CountMatch per-codec kernels (FSST code-byte counting + one symbol
    * expansion per chunk, RLE run-sums, dict index counts, packed-value
    * counts) build per-chunk histograms that merge under partial
    * aggregation — GROUP BY token with no row decode anywhere in the plan.
    * Same oracle as q_vocab_topk (which tokenizes raw text), so the two
    * paths cross-check each other end to end.
    */
  def vocabTopKCompressed(spark: SparkSession, dir: String): DataFrame =
    Graft.tokenHistogram(autoChunks(spark, dir))
      .orderBy(col("n").desc, col("tok").asc)
      .limit(100)
      .select(col("tok").cast("bigint").as("tok"), col("n"))

  /** Bigram heavy hitters computed ENTIRELY in the compressed domain — the
    * pair-count table behind BPE-style merge analysis (which token pairs
    * would merge next), over compressed storage with no row decode: FSST
    * counts code transitions + per-code occurrences and expands through the
    * symbol table once per chunk; RLE contributes (v,v)×(run−1) per run.
    */
  def bigramTopKCompressed(spark: SparkSession, dir: String): DataFrame =
    Graft.bigramHistogram(autoChunks(spark, dir))
      .orderBy(col("n").desc, col("t1").asc, col("t2").asc)
      .limit(100)
      .select(col("t1").cast("bigint").as("t1"),
        col("t2").cast("bigint").as("t2"), col("n"))

  /** End-to-end SQL-text surface: the encoded per-document view registered
    * as a temp view and queried with spark.sql(...) — parser → function
    * registry → optimizer rewrite (contains_tokens → compressed_match,
    * size → row-prefix read) all on the SQL path, proving the SQL surface is
    * oracle-equivalent and not just the column API.
    */
  def sqlTextPushdown(spark: SparkSession, dir: String): DataFrame = {
    val v = vocab(spark, dir)
    Graft.encodedRows(fsstChunks(spark, dir)).createOrReplaceTempView("graft_encoded")
    spark.sql(
      s"""SELECT CAST(doc_id AS BIGINT) AS doc_id
         |FROM graft_encoded
         |WHERE contains_tokens(tokens, array(${v("value")}, ${v("table")}))
         |  AND size(tokens) <= 100""".stripMargin)
  }

  /** Exact per-source length percentiles over the ENCODED table:
    * size(tokens) on the encoded view rewrites to the varUInt row-prefix
    * read (RowTokenCount), so the histogram inverse-CDF runs with ZERO
    * decode — length analytics straight off compressed storage. Shares the
    * q_length_percentiles oracle, so the raw-table and compressed paths
    * cross-check each other.
    */
  def lengthPercentilesEncoded(spark: SparkSession, dir: String): DataFrame =
    graft.pipeline.TextAnalysis.lengthPercentiles(
      Graft.encodedRows(fsstChunks(spark, dir))
        .select(col("source"), size(col("tokens")).as("n_tok")))

  /** Sequence packing planned ENTIRELY off the encoded table: the two-level
    * distributed prefix sum (pipeline.Packing) runs over Graft.rowMeta —
    * (doc_id, source, n_tok) read from id slabs + each row's leading varint,
    * with zero decode and zero payload copies in the plan. The packing
    * manifest for a 100-TB compressed corpus is computed at metadata CPU
    * cost. Shares the q_pack_sequences oracle (naive single-window prefix
    * sum over the raw table), so the compressed-domain plan is checked
    * end-to-end against the string-domain truth.
    */
  def packSequencesEncoded(spark: SparkSession, dir: String): DataFrame =
    graft.pipeline.Packing.packSummary(
        Graft.rowMeta(autoChunks(spark, dir))
          .withColumn("doc_id", col("doc_id").cast("bigint")),
        seqLen = 1024, bucketWidth = 64)
      .select(col("source"), col("seq_id"), col("n_docs"), col("toks_in"),
        col("first_doc"), col("last_doc"))

  /** Gopher-style repetition scoring over the ENCODED table: the
    * duplicate-3-gram quality signal streamed off compressed chunks
    * (rolling-window gram kernel, zero decode). Shares the
    * q_repetition_scores oracle — the raw-table and compressed paths
    * cross-check each other down to the double-precision ratio.
    */
  def repetitionScoresEncoded(spark: SparkSession, dir: String): DataFrame =
    Graft.repetitionScoresEncoded(autoChunks(spark, dir))
      .withColumn("doc_id", col("doc_id").cast("bigint"))

  /** Chunk COMPACTION round trip (encode.Compact): the documents table is
    * encoded as four independent WAVES (disjoint doc_id slices with distinct
    * job tags — the small-file debris shape streaming micro-batches and
    * resume waves leave behind: several sub-target chunks per (bucket,
    * source) group), then the union compacts back to target-size chunks
    * WITHOUT decoding — FSST/RLE/raw/packed planes byte-splice under their
    * shared headers, dict chunks union-merge in the index domain — and the
    * decoded result is held to the same all-rows oracle as
    * q_roundtrip_decode (the hash join drops any corrupted row).
    */
  def compactRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val (input, _) = Tokenize.documents(spark, dir)
    val waves = (0 until 4).map { w =>
      // column-native wave split (any deterministic 4-way partition of doc
      // ids produces the intended cross-wave debris; the round-5 typed
      // closure deserialized every cached row to a TokenRow per wave)
      val slice = input.filter(pmod(xxhash64(col("doc_id")), lit(4)) === w)
      EncodeJob.encode(slice, EncodeOptions(numBuckets = 8, jobTag = w.toLong)).toDF()
    }
    // pinned: Compact.compact references its input twice (pass-through +
    // debris branches) — without this the four encode jobs would run twice
    val small = waves.reduce(_ unionByName _).localCheckpoint()
    val compacted = graft.encode.Compact.compact(small).toDF()
    val d = EncodeJob.decodeDf(compacted).select(col("doc_id"), col("n_tok"),
      xxhash64(col("tokens")).as("__h"))
    val i = input.toDF().select(col("doc_id"), xxhash64(col("tokens")).as("__h"))
    d.join(i, Seq("doc_id", "__h"))
      .select(col("doc_id").cast("bigint").as("doc_id"),
        col("n_tok").cast("bigint").as("n_tok"))
  }

  /** Compressed-domain token SCRUBBING (encode.Scrub): the blocklist set
    * {dup, spark, vector} is replaced by unk(=id("table")) directly over the
    * encoded chunk table — clean chunks pass through byte-identical via the
    * zone-map + bloom gate, RLE rewrites in the run domain, dict
    * re-normalizes in the index domain, the rest re-encode canonically.
    * The result is decoded and fingerprinted per document (count, sum, and
    * position-weighted sum — order-sensitive, so a token swapped or moved
    * fails the oracle); DuckDB reproduces the remap in the word domain.
    */
  def scrubDecode(spark: SparkSession, dir: String): DataFrame = {
    val v = vocab(spark, dir)
    val scrubbed = graft.encode.Scrub.scrub(autoChunks(spark, dir),
      Seq(v("dup"), v("spark"), v("vector")), v("table")).toDF()
    EncodeJob.decodeDf(scrubbed).select(
      col("doc_id").cast("bigint").as("doc_id"),
      col("n_tok").cast("bigint").as("n_tok"),
      expr("aggregate(tokens, 0L, (a, x) -> a + x)").as("tok_sum"),
      expr("aggregate(tokens, named_struct('s', 0L, 'i', 1L), " +
        "(acc, x) -> named_struct('s', acc.s + CAST(x AS BIGINT) * acc.i, 'i', acc.i + 1L), " +
        "acc -> acc.s)").as("pos_sum"))
  }

  /** Compressed-domain vocabulary REMAP (encode.Scrub.remap): the
    * tokenizer-migration rewrite — {dup↔table swap, spark→vector} applied
    * element-wise over the encoded chunk table, once per token (the swap
    * pair pins the non-chaining semantics: a chained rewrite would send
    * dup→table→dup and fail the positional oracle). Same gates and
    * canonical-encode guarantees as q_scrub_decode; fingerprinted the same
    * way; DuckDB reproduces the mapping with a non-chaining LEFT JOIN in
    * the word domain.
    */
  def remapDecode(spark: SparkSession, dir: String): DataFrame = {
    val v = vocab(spark, dir)
    val remapped = graft.encode.Scrub.remap(autoChunks(spark, dir),
      Map(v("dup") -> v("table"), v("table") -> v("dup"), v("spark") -> v("vector"))).toDF()
    EncodeJob.decodeDf(remapped).select(
      col("doc_id").cast("bigint").as("doc_id"),
      col("n_tok").cast("bigint").as("n_tok"),
      expr("aggregate(tokens, 0L, (a, x) -> a + x)").as("tok_sum"),
      expr("aggregate(tokens, named_struct('s', 0L, 'i', 1L), " +
        "(acc, x) -> named_struct('s', acc.s + CAST(x AS BIGINT) * acc.i, 'i', acc.i + 1L), " +
        "acc -> acc.s)").as("pos_sum"))
  }

  /** Compressed-domain dedup MATERIALIZATION (encode.Delete): the exact-dup
    * loser set — computed over the ENCODED table via content hashes
    * (Graft.contentHashes), rep = min numeric doc id per group — is DELETED
    * from the encoded chunk table without decoding: kept rows byte-splice
    * (dict re-normalizes if entries strand), emptied chunks drop, untouched
    * chunks pass through byte-identical. The survivors decode and
    * fingerprint exactly like q_scrub_decode; DuckDB keeps min(doc_id) per
    * text group. End to end this is the full dedup story at 100 TB: find
    * losers compressed, APPLY the verdict compressed. A deterministic
    * takedown slice (doc_id ≡ 0 mod 7) unions in so the query exercises
    * real row splices even at scale factors whose corpus has no exact
    * duplicates (sf0.01 has none — losers alone would only cover the
    * byte-identical pass-through path).
    */
  def deleteDecode(spark: SparkSession, dir: String): DataFrame = {
    val chunks = autoChunks(spark, dir)
    val h = Graft.contentHashes(chunks).withColumn("did", col("doc_id").cast("bigint"))
    val reps = h.groupBy(col("h1"), col("h2")).agg(min(col("did")).as("rep"))
    val losers = h.join(reps, Seq("h1", "h2"))
      .filter(col("did") =!= col("rep") || col("did") % 7 === 0)
      .select(col("doc_id"))
    val kept = graft.encode.Delete.delete(chunks, losers).toDF()
    EncodeJob.decodeDf(kept).select(
      col("doc_id").cast("bigint").as("doc_id"),
      col("n_tok").cast("bigint").as("n_tok"),
      expr("aggregate(tokens, 0L, (a, x) -> a + x)").as("tok_sum"),
      expr("aggregate(tokens, named_struct('s', 0L, 'i', 1L), " +
        "(acc, x) -> named_struct('s', acc.s + CAST(x AS BIGINT) * acc.i, 'i', acc.i + 1L), " +
        "acc -> acc.s)").as("pos_sum"))
  }

  /** Compressed-domain sequence TRUNCATION (encode.Truncate): every document
    * is capped at 48 tokens directly over the encoded chunk table — the
    * max-seq-len cutoff of a training pipeline. Rows at or under the cap
    * (and whole chunks without a long row) splice through byte-identical;
    * long rows cut in their own codec domain (FSST splices the code stream
    * at the last symbol boundary and re-encodes only the crossing symbol's
    * kept expansion). Decoded and fingerprinted exactly like q_scrub_decode
    * (the positional term catches a mis-cut); DuckDB slices the word list.
    */
  def truncateDecode(spark: SparkSession, dir: String): DataFrame = {
    val truncated = graft.encode.Truncate.truncate(autoChunks(spark, dir), 48).toDF()
    EncodeJob.decodeDf(truncated).select(
      col("doc_id").cast("bigint").as("doc_id"),
      col("n_tok").cast("bigint").as("n_tok"),
      expr("aggregate(tokens, 0L, (a, x) -> a + x)").as("tok_sum"),
      expr("aggregate(tokens, named_struct('s', 0L, 'i', 1L), " +
        "(acc, x) -> named_struct('s', acc.s + CAST(x AS BIGINT) * acc.i, 'i', acc.i + 1L), " +
        "acc -> acc.s)").as("pos_sum"))
  }

  /** Compressed-domain SENTINEL INJECTION (encode.Affix): BOS/EOS special
    * tokens (fresh out-of-vocabulary ids, the standard tokenizer convention)
    * attach to every document directly over the encoded chunk table — FSST
    * chunks splice bytes (escape + memcpy + escape, zero decode/re-encode),
    * dict chunks insert the sentinels into the sorted dictionary, packed
    * codecs widen. The fingerprint decodes the affixed table: count, sum,
    * position-weighted sum pin both sentinel VALUES and POSITIONS.
    */
  def affixDecode(spark: SparkSession, dir: String): DataFrame = {
    val affixed = graft.encode.Affix.affix(autoChunks(spark, dir),
      Some(1000003), Some(1000001)).toDF()
    EncodeJob.decodeDf(affixed).select(
      col("doc_id").cast("bigint").as("doc_id"),
      col("n_tok").cast("bigint").as("n_tok"),
      expr("aggregate(tokens, 0L, (a, x) -> a + x)").as("tok_sum"),
      expr("aggregate(tokens, named_struct('s', 0L, 'i', 1L), " +
        "(acc, x) -> named_struct('s', acc.s + CAST(x AS BIGINT) * acc.i, 'i', acc.i + 1L), " +
        "acc -> acc.s)").as("pos_sum"))
  }

  /** Read-side HEAD projection: `slice(tokens, 1, 16)` on the encoded view
    * rewrites (PushPatternIntoCompressed) into `decode_slice` with start 1,
    * a partial decode that materializes only each row's first 16 tokens —
    * O(k) per row instead of O(row), the read-side dual of
    * q_truncate_decode's write-side cut. n_head comes from the varint row prefix
    * (least(size, k) → row_token_count), so the full row never decodes
    * anywhere in this plan. DuckDB recomputes head sums positionally.
    */
  def headDecode(spark: SparkSession, dir: String): DataFrame =
    Graft.encodedRows(autoChunks(spark, dir)).select(
      col("doc_id").cast("bigint").as("doc_id"),
      expr("aggregate(slice(tokens, 1, 16), 0L, (a, x) -> a + x)").as("head_sum"),
      least(size(col("tokens")), lit(16)).cast("long").as("n_head"))

  /** Read-side TAIL projection: `slice(tokens, -12, 12)` on the encoded
    * view rewrites into `decode_slice` with start −12, which SKIPS to the
    * cut (FSST counts code lengths without expanding symbols; packed codecs
    * random-access the bit stream at n−k) and decodes only the last 12
    * tokens. Builtin
    * slice semantics are preserved exactly: rows shorter than 12 slice to
    * EMPTY (min doc length here is 10, so both branches occur). n_tail
    * derives from the varint prefix — no full decode anywhere.
    */
  def tailDecode(spark: SparkSession, dir: String): DataFrame =
    Graft.encodedRows(autoChunks(spark, dir)).select(
      col("doc_id").cast("bigint").as("doc_id"),
      expr("aggregate(slice(tokens, -12, 12), 0L, (a, x) -> a + x)").as("tail_sum"),
      when(size(col("tokens")) >= 12, lit(12)).otherwise(lit(0))
        .cast("long").as("n_tail"))

  /** Read-side MID-WINDOW projection: `slice(tokens, 8, 12)` and a negative
    * non-tail window `slice(tokens, -30, 10)` on the encoded view rewrite
    * into `decode_slice`, which decodes O(skip + k) tokens per row (packed
    * codecs random-access the bit stream at the window start; FSST skips via
    * code lengths without expanding symbols) — fixed-stride model-input
    * windows over a compressed corpus pay the window, not the document.
    * Builtin slice semantics preserved exactly: the mid window clips at the
    * row end and the negative window is EMPTY for rows shorter than 30.
    */
  def sliceDecode(spark: SparkSession, dir: String): DataFrame =
    Graft.encodedRows(autoChunks(spark, dir)).select(
      col("doc_id").cast("bigint").as("doc_id"),
      expr("aggregate(slice(tokens, 8, 12), 0L, (a, x) -> a + x)").as("mid_sum"),
      size(expr("slice(tokens, 8, 12)")).cast("long").as("n_mid"),
      expr("aggregate(slice(tokens, -30, 10), 0L, (a, x) -> a + x)").as("win_sum"),
      size(expr("slice(tokens, -30, 10)")).cast("long").as("n_win"))

  /** Late-materialized SAMPLING: the deterministic mixture-sampling
    * predicate (splitmix64(doc_id) mod 100 vs per-source rate) filters the
    * encoded view BEFORE any decode, so only surviving rows pay decode_row —
    * drawing a training subset from a compressed corpus decodes exactly the
    * sample, never the corpus. tok_sum aggregates the DECODED tokens of each
    * survivor (forcing real decode on the sampled rows); n_tok reads the
    * varint prefix. The oracle recomputes the same splitmix64 buckets and
    * token sums from the raw text in DuckDB.
    */
  def sampleDecodeEncoded(spark: SparkSession, dir: String): DataFrame = {
    val rate = (0 to 4).map(i => s"src$i").foldLeft(lit(30)) {
      case (acc, src) => when(col("source") === src, lit(80)).otherwise(acc)
    }
    Graft.encodedRows(autoChunks(spark, dir))
      .withColumn("__id", col("doc_id").cast("bigint"))
      .filter(graft.pipeline.PipelineFunctions.sampleBucket(col("__id"), 100) < rate)
      .select(col("__id").as("doc_id"),
        expr("aggregate(tokens, 0L, (a, x) -> a + x)").as("tok_sum"),
        size(col("tokens")).cast("long").as("n_tok"))
  }

  /** Aggregation over the DECODED table (exercises decode correctness at
    * aggregate granularity).
    */
  def tokenCountBySource(spark: SparkSession, dir: String): DataFrame = {
    EncodeJob.decodeDf(autoChunks(spark, dir))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("sum_tokens"))
  }

  /** Per-codec chunk accounting — the analog of the reference's
    * compressed-size report (/root/reference/sketch.cc:746-755). Detail rows
    * (codec split) feed tests and logs; the DRIVER query below rolls them up
    * through the partial-sum invariant so it has an exact SQL oracle.
    */
  def codecStatsDetail(spark: SparkSession, dir: String): DataFrame =
    autoChunks(spark, dir)
      .groupBy(col("codec"))
      .agg(count(lit(1)).as("n_chunks"), sum(col("row_count")).as("rows"),
        sum(col("n_tokens")).as("tokens"),
        sum(length(col("data")) + length(col("symtab")) + length(col("offsets"))).as("bytes"))

  /** Partial-sum invariant with an exact SQL oracle (closes the round-2
    * `no_oracle` row): whatever codecs the auto-selector picks, the
    * PER-CODEC splits must partition the corpus exactly — their rows/tokens
    * sum to the corpus totals — and the per-codec compressed payload must
    * not exceed raw 4 B/token in aggregate (every codec ≤ raw is asserted
    * per-codec in EncodeSpec; the 4 B bound is the BASELINE compression
    * target's ceiling). The two-level aggregation (groupBy(codec) → rollup)
    * is the plan under test; a dropped or double-counted chunk breaks the
    * hash match.
    */
  def codecStats(spark: SparkSession, dir: String): DataFrame =
    codecStatsDetail(spark, dir)
      .agg(sum(col("rows")).cast("bigint").as("n_docs"),
        sum(col("tokens")).cast("bigint").as("n_tokens"),
        (sum(col("bytes")) <= sum(col("tokens")) * 4L).as("bytes_le_raw"))

  /** Accounting invariant with an exact SQL oracle: whatever codecs the
    * auto-selector picks, the chunk table must account for every corpus row
    * and token exactly once.
    */
  def codecTotals(spark: SparkSession, dir: String): DataFrame =
    autoChunks(spark, dir)
      .agg(sum(col("row_count")).cast("bigint").as("n_docs"),
        sum(col("n_tokens")).cast("bigint").as("n_tokens"))

  // ---------------------------------------------------------------------
  // oracles
  // ---------------------------------------------------------------------

  private val ntokSql = """len(regexp_split_to_array(trim(text), '\s+'))"""
  private val padded = """(' ' || trim(text) || ' ')"""

  val oracles: Map[String, String] = Map(
    "q_roundtrip_decode" ->
      s"SELECT doc_id, CAST($ntokSql AS BIGINT) AS n_tok FROM documents",
    "q_contains_tokens" ->
      s"SELECT doc_id FROM documents WHERE $padded LIKE '% value table %'",
    "q_prefix_tokens" ->
      "SELECT doc_id FROM documents WHERE (trim(text) || ' ') LIKE 'key agg %'",
    "q_suffix_tokens" ->
      "SELECT doc_id FROM documents WHERE (' ' || trim(text)) LIKE '% value'",
    "q_multi_infix_tokens" ->
      s"""SELECT doc_id FROM documents
         | WHERE position(' table ' IN $padded) > 0
         |   AND position(' scan ' IN substr($padded, position(' table ' IN $padded) + 6)) > 0""".stripMargin,
    "q_not_contains_tokens" ->
      s"SELECT doc_id FROM documents WHERE $padded NOT LIKE '% value table %'",
    "q_range_tokens" ->
      s"""SELECT doc_id FROM documents
         | WHERE len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
         |           w -> w >= 'dup' AND w <= 'fast')) > 0""".stripMargin,
    "q_blocklist_tokens" ->
      s"""SELECT doc_id FROM documents
         | WHERE len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
         |           w -> w IN ('dup', 'spark', 'vector'))) > 0""".stripMargin,
    "q_length_filter" ->
      s"""SELECT doc_id FROM documents
         | WHERE len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
         |           x -> x <> '')) BETWEEN 60 AND 80""".stripMargin,
    "q_first_token_pos" ->
      s"""WITH __w AS (
         |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\\s+'),
         |                             x -> x <> '') AS w
         |  FROM documents)
         |SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(len(w) AS BIGINT) AS n_tok,
         |  CAST(COALESCE(list_position(w, 'dup'), 0) AS BIGINT) AS first_pos
         |FROM __w WHERE len(w) > 0""".stripMargin,
    "q_blocklist_counts" ->
      s"""SELECT doc_id, CAST($ntokSql AS BIGINT) AS n_tok,
         |  CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
         |           w -> w IN ('dup', 'spark', 'vector'))) AS BIGINT) AS n_in_set
         | FROM documents
         | WHERE len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
         |           w -> w IN ('dup', 'spark', 'vector'))) > 0""".stripMargin,
    "q_quality_encoded" ->
      s"""WITH t AS (
         |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\\s+'),
         |                             x -> x <> '') AS w
         |  FROM documents
         |), e AS (
         |  SELECT doc_id, unnest(w) AS tok, unnest(range(1, len(w)+1)) AS i FROM t
         |), agg AS (
         |  SELECT doc_id, count(*) AS n_tok, count(DISTINCT tok) AS n_distinct
         |  FROM e GROUP BY doc_id
         |), runs AS (
         |  SELECT doc_id, max(run_len) AS max_run FROM (
         |    SELECT doc_id, count(*) AS run_len FROM (
         |      SELECT doc_id, tok, i,
         |             i - ROW_NUMBER() OVER (PARTITION BY doc_id, tok ORDER BY i) AS grp
         |      FROM e)
         |    GROUP BY doc_id, tok, grp)
         |  GROUP BY doc_id
         |), modes AS (
         |  SELECT doc_id, max(c) AS top_cnt FROM (
         |    SELECT doc_id, tok, count(*) AS c FROM e GROUP BY doc_id, tok)
         |  GROUP BY doc_id
         |)
         |SELECT d.doc_id,
         |  CAST(coalesce(a.n_tok, 0) AS BIGINT) AS n_tok,
         |  CAST(coalesce(a.n_distinct, 0) AS BIGINT) AS n_distinct,
         |  CAST(coalesce(r.max_run, 0) AS BIGINT) AS max_run,
         |  CAST(coalesce(m.top_cnt, 0) AS BIGINT) AS top_cnt
         |FROM documents d
         |LEFT JOIN agg a USING (doc_id)
         |LEFT JOIN runs r USING (doc_id)
         |LEFT JOIN modes m USING (doc_id)""".stripMargin,
    "q_dedup_exact_encoded" ->
      "SELECT min(doc_id) AS rep_doc_id, count(*) AS n_dups FROM documents GROUP BY text",
    "q_dedup_minhash_encoded" -> PipelineQueries.oracles("q_dedup_minhash"),
    "q_dedup_simhash_encoded" -> PipelineQueries.oracles("q_dedup_simhash"),
    "q_fingerprint_pairs_encoded" -> PipelineQueries.oracles("q_fingerprint_pairs"),
    "q_dedup_clusters_encoded" -> PipelineQueries.oracles("q_dedup_clusters"),
    "q_span_dedup_encoded" -> PipelineQueries.oracles("q_span_dedup"),
    "q_decontaminate_encoded" -> PipelineQueries.oracles("q_decontaminate"),
    "q_ngram_jaccard_encoded" -> PipelineQueries.oracles("q_ngram_jaccard"),
    "q_vocab_hist_compressed" -> OracleSql.vocabTopKSql(k = 100),
    "q_bigram_topk_compressed" -> OracleSql.bigramTopKSql(k = 100),
    "q_length_pct_encoded" -> PipelineQueries.oracles("q_length_percentiles"),
    "q_pack_sequences_encoded" -> PipelineQueries.oracles("q_pack_sequences"),
    "q_repetition_encoded" -> PipelineQueries.oracles("q_repetition_scores"),
    "q_scrub_decode" ->
      OracleSql.scrubDecodeSql(Seq("dup", "spark", "vector"), "table"),
    "q_remap_decode" ->
      OracleSql.remapDecodeSql(
        Seq("dup" -> "table", "table" -> "dup", "spark" -> "vector")),
    "q_delete_decode" -> OracleSql.deleteDecodeSql,
    "q_truncate_decode" -> OracleSql.truncateDecodeSql(48),
    "q_head_decode" -> OracleSql.headDecodeSql(16),
    "q_tail_decode" -> OracleSql.tailDecodeSql(12),
    "q_slice_decode" -> OracleSql.sliceDecodeSql(8, 12, 30, 10),
    "q_affix_decode" -> OracleSql.affixDecodeSql(1000003, 1000001),
    "q_compact_roundtrip" ->
      s"SELECT doc_id, CAST($ntokSql AS BIGINT) AS n_tok FROM documents",
    "q_sample_decode_encoded" ->
      OracleSql.sampledDecodeSql((0 to 4).map(i => s"src$i"), 80, 30),
    "q_sql_text_pushdown" ->
      s"""SELECT doc_id FROM documents
         | WHERE $padded LIKE '% value table %'
         |   AND $ntokSql <= 100""".stripMargin,
    "q_token_count_by_source" ->
      s"""SELECT source, count(*) AS n_docs,
         | CAST(sum($ntokSql) AS BIGINT) AS sum_tokens
         | FROM documents GROUP BY source""".stripMargin,
    "q_codec_totals" ->
      s"""SELECT count(*) AS n_docs, CAST(sum($ntokSql) AS BIGINT) AS n_tokens
         | FROM documents""".stripMargin,
    "q_codec_stats" ->
      s"""SELECT count(*) AS n_docs, CAST(sum($ntokSql) AS BIGINT) AS n_tokens,
         | true AS bytes_le_raw
         | FROM documents""".stripMargin
  )

  val engineQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_roundtrip_decode" -> (roundtripDecode _),
    "q_contains_tokens" -> (containsTokens _),
    "q_prefix_tokens" -> (prefixTokens _),
    "q_suffix_tokens" -> (suffixTokens _),
    "q_multi_infix_tokens" -> (multiInfixTokens _),
    "q_not_contains_tokens" -> (notContainsTokens _),
    "q_range_tokens" -> (rangeTokens _),
    "q_blocklist_tokens" -> (blocklistTokens _),
    "q_blocklist_counts" -> (blocklistCounts _),
    "q_first_token_pos" -> (firstTokenPos _),
    "q_quality_encoded" -> (qualityEncodedProfile _),
    "q_length_filter" -> (lengthFilter _),
    "q_length_pct_encoded" -> (lengthPercentilesEncoded _),
    "q_pack_sequences_encoded" -> (packSequencesEncoded _),
    "q_repetition_encoded" -> (repetitionScoresEncoded _),
    "q_scrub_decode" -> (scrubDecode _),
    "q_remap_decode" -> (remapDecode _),
    "q_delete_decode" -> (deleteDecode _),
    "q_truncate_decode" -> (truncateDecode _),
    "q_head_decode" -> (headDecode _),
    "q_tail_decode" -> (tailDecode _),
    "q_slice_decode" -> (sliceDecode _),
    "q_affix_decode" -> (affixDecode _),
    "q_compact_roundtrip" -> (compactRoundtrip _),
    "q_sample_decode_encoded" -> (sampleDecodeEncoded _),
    "q_dedup_exact_encoded" -> (dedupExactEncoded _),
    "q_dedup_minhash_encoded" -> (dedupMinhashEncoded _),
    "q_dedup_simhash_encoded" -> (dedupSimhashEncoded _),
    "q_fingerprint_pairs_encoded" -> (fingerprintPairsEncoded _),
    "q_dedup_clusters_encoded" -> (dedupClustersEncoded _),
    "q_span_dedup_encoded" -> (spanDedupEncoded _),
    "q_decontaminate_encoded" -> (decontaminateEncoded _),
    "q_ngram_jaccard_encoded" -> (ngramJaccardEncoded _),
    "q_vocab_hist_compressed" -> (vocabTopKCompressed _),
    "q_bigram_topk_compressed" -> (bigramTopKCompressed _),
    "q_sql_text_pushdown" -> (sqlTextPushdown _),
    "q_token_count_by_source" -> (tokenCountBySource _),
    "q_codec_stats" -> (codecStats _),
    "q_codec_totals" -> (codecTotals _)
  )
}
