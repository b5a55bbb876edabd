package perfbench

import Oracle.{Digest, Overlap}

/** Output checks. Each returns the problems it found; empty means the
  * program's output agrees with the benchmark's own computation.
  */
object Checks {
  type Problems = Seq[String]

  private def when(bad: Boolean, msg: => String): Problems = if (bad) Seq(msg) else Nil

  // ---- ingest ------------------------------------------------------------

  def digest(step: String, got: Digest, want: Digest): Problems =
    when(got != want, s"$step: table digest $got, expected $want")

  def compact(chunksIn: Long, chunksOut: Long, before: Digest, after: Digest): Problems =
    digest("compact", after, before) ++
      when(chunksOut > chunksIn, s"compact: chunk count rose from $chunksIn to $chunksOut")

  // ---- scan --------------------------------------------------------------

  def scanCount(query: String, compressed: Long, decoded: Long, naive: Long): Problems =
    when(compressed != naive, s"$query: compressed count $compressed, naive matcher $naive") ++
      when(decoded != naive, s"$query: decode-then-match count $decoded, naive matcher $naive")

  // ---- curate: profiling -------------------------------------------------

  def histogram(got: Map[Int, Long], want: Map[Int, Long], totalTokens: Long): Problems =
    when(got.values.sum != totalTokens,
      s"histogram: counts sum to ${got.values.sum}, corpus has $totalTokens tokens") ++
      when(got.size != want.size, s"histogram: ${got.size} distinct tokens, expected ${want.size}") ++
      when(got != want && got.size == want.size && got.values.sum == totalTokens,
        s"histogram: ${want.count { case (t, n) => !got.get(t).contains(n) }} token counts differ")

  def quality(got: Map[String, (Int, Int, Int, Int)],
              want: Map[String, (Int, Int, Int, Int)]): Problems = {
    val wrong = want.count { case (id, q) => !got.get(id).contains(q) }
    when(got.size != want.size, s"quality: ${got.size} documents profiled, expected ${want.size}") ++
      when(wrong > 0, s"quality: $wrong documents with a wrong (n_tok, n_distinct, max_run, top_cnt)")
  }

  def exact(got: Seq[(Long, Long)], want: Map[(Long, Long), Int], rows: Long): Problems = {
    val g = got.groupBy(identity).map { case (k, v) => k -> v.size }
    when(got.map(_._2).sum != rows, s"exact dedup: n_dups sum to ${got.map(_._2).sum}, corpus has $rows rows") ++
      when(g != want, s"exact dedup: ${got.size} groups, expected ${want.values.sum}; " +
        s"${(g.keySet diff want.keySet).size} unexpected, ${(want.keySet diff g.keySet).size} missing")
  }

  // ---- curate: near duplicates -------------------------------------------

  private def pairShape(op: String, pairs: Seq[(String, String)], ids: Set[String]): Problems =
    when(pairs.exists { case (a, b) => !(a < b) }, s"$op: a pair is not ordered doc_a < doc_b") ++
      when(pairs.distinct.size != pairs.size, s"$op: duplicate pairs") ++
      when(pairs.exists { case (a, b) => !ids(a) || !ids(b) }, s"$op: a pair names an unknown document")

  /** MinHash pairs: each must have true Jaccard >= tau on the raw shingles
    * and report the true intersection and union; recall of the true pairs
    * must reach the LSH S-curve bound.
    */
  def minhash(got: Seq[(String, String, Int, Int)], ids: Set[String],
              truth: (String, String) => Overlap, truePairs: Map[(String, String), Overlap],
              tau: Double, bands: Int, rows: Int): Problems = {
    val below = got.count { case (a, b, _, _) => truth(a, b).jaccard < tau }
    val miscounted = got.count { case (a, b, i, u) => truth(a, b) != Overlap(i, u) }
    val want = truePairs.filter(_._2.jaccard >= tau)
    val found = got.map(p => (p._1, p._2)).toSet
    val hit = want.keySet.count(found.contains)
    val ps = want.values.map(o => Oracle.lshProbability(o.jaccard, bands, rows))
    val bound = math.floor(ps.sum - 4.0 * math.sqrt(ps.map(p => p * (1 - p)).sum))
    pairShape("minhash", got.map(p => (p._1, p._2)), ids) ++
      when(below > 0, s"minhash: $below pairs with true Jaccard below $tau") ++
      when(miscounted > 0, s"minhash: $miscounted pairs with a wrong intersection or union") ++
      when(hit < bound, s"minhash: recall $hit of ${want.size} true pairs, S-curve bound ${bound.toLong}")
  }

  /** SimHash pairs: Hamming distance within the limit, and every pair of
    * identical documents found.
    */
  def simhash(got: Seq[(String, String, Int)], ids: Set[String],
              identical: Set[(String, String)], maxHamming: Int): Problems = {
    val found = got.map(p => (p._1, p._2)).toSet
    pairShape("simhash", got.map(p => (p._1, p._2)), ids) ++
      when(got.exists(p => p._3 < 0 || p._3 > maxHamming), s"simhash: a pair beyond Hamming $maxHamming") ++
      when(!identical.subsetOf(found),
        s"simhash: ${(identical diff found).size} identical-document pairs missing")
  }

  /** Fingerprint pairs: at least `minShared` shared fingerprints, at least
    * one shared raw k-gram, and every pair of identical documents found.
    */
  def fingerprint(got: Seq[(String, String, Long)], ids: Set[String],
                  sharesGram: (String, String) => Boolean, identical: Set[(String, String)],
                  minShared: Int): Problems = {
    val found = got.map(p => (p._1, p._2)).toSet
    pairShape("fingerprint", got.map(p => (p._1, p._2)), ids) ++
      when(got.exists(_._3 < minShared), s"fingerprint: a pair with fewer than $minShared shared") ++
      when(got.exists(p => !sharesGram(p._1, p._2)), "fingerprint: a pair sharing no raw k-gram") ++
      when(!identical.subsetOf(found),
        s"fingerprint: ${(identical diff found).size} identical-document pairs missing")
  }

  /** n-gram Jaccard pairs: exactly the pairs the inverted index over the
    * raw grams finds, with the same intersection and union.
    */
  def jaccard(got: Seq[(String, String, Int, Int)], want: Map[(String, String), Overlap]): Problems = {
    val g = got.map { case (a, b, i, u) => (a, b) -> Overlap(i, u) }.toMap
    when(g.size != got.size, "jaccard: duplicate pairs") ++
      when(g.keySet != want.keySet, s"jaccard: ${g.size} pairs, expected ${want.size}; " +
        s"${(g.keySet diff want.keySet).size} unexpected, ${(want.keySet diff g.keySet).size} missing") ++
      when(g.exists { case (k, o) => want.get(k).exists(_ != o) }, "jaccard: a wrong intersection or union")
  }

  /** Components: one label per document of the pairs, both documents of a
    * pair in one component, and labels equal to the smallest id reachable.
    */
  def components(got: Seq[(String, String)], pairs: Seq[(String, String)]): Problems = {
    val label = got.toMap
    val want = Oracle.components(pairs)
    when(label.size != got.size, "components: a document has two labels") ++
      when(label.keySet != want.keySet, s"components: ${label.size} documents labelled, expected ${want.size}") ++
      when(pairs.exists { case (a, b) => label.get(a) != label.get(b) },
        "components: a pair split across components") ++
      when(label != want && label.keySet == want.keySet, "components: a label is not the smallest id reachable")
  }
}
