package perfbench

import graft.format.TokenRow
import scala.collection.mutable

/** Computations made apart from the program, over the raw generated rows.
  * Nothing here calls into graft's kernels; the checks compare the
  * program's outputs against these.
  */
object Oracle {

  /** Order-free digest of a set of (doc_id, tokens) rows: row count, token
    * count, and the sum (mod 2^64) of a per-row hash. Sums subtract, so the
    * digest of a table minus some rows is known without recomputing.
    */
  final case class Digest(rows: Long, tokens: Long, sum: Long) {
    def +(o: Digest): Digest = Digest(rows + o.rows, tokens + o.tokens, sum + o.sum)
    def -(o: Digest): Digest = Digest(rows - o.rows, tokens - o.tokens, sum - o.sum)
  }
  val EmptyDigest: Digest = Digest(0L, 0L, 0L)

  def rowHash(id: String, t: Array[Int]): Long = {
    var h = 0x243f6a8885a308d3L
    var i = 0
    while (i < id.length) { h = Rng.mix(h ^ id.charAt(i)); i += 1 }
    h = Rng.mix(h ^ (t.length.toLong << 32))
    i = 0
    while (i < t.length) { h = Rng.mix(h + t(i)); i += 1 }
    h
  }

  def digestOf(id: String, t: Array[Int]): Digest = Digest(1L, t.length.toLong, rowHash(id, t))

  def digest(rows: Iterable[TokenRow]): Digest =
    rows.foldLeft(EmptyDigest)((d, r) => d + digestOf(r.doc_id, r.tokens))

  def truncate(rows: Array[TokenRow], maxLen: Int): Array[TokenRow] = rows.map { r =>
    if (r.tokens.length <= maxLen) r
    else r.copy(tokens = r.tokens.take(maxLen), n_tok = maxLen)
  }

  def scrub(rows: Array[TokenRow], banned: Set[Int], unk: Int): Array[TokenRow] = rows.map { r =>
    r.copy(tokens = r.tokens.map(t => if (banned.contains(t)) unk else t))
  }

  // ---- naive matchers ----------------------------------------------------

  private def occursAt(t: Array[Int], i: Int, p: Array[Int]): Boolean = {
    if (i < 0 || i + p.length > t.length) return false
    var j = 0
    while (j < p.length) { if (t(i + j) != p(j)) return false; j += 1 }
    true
  }

  def indexFrom(t: Array[Int], from: Int, p: Array[Int]): Int = {
    var i = from
    while (i + p.length <= t.length) { if (occursAt(t, i, p)) return i; i += 1 }
    -1
  }

  def contains(t: Array[Int], p: Array[Int]): Boolean = indexFrom(t, 0, p) >= 0
  def prefix(t: Array[Int], p: Array[Int]): Boolean = occursAt(t, 0, p)
  def suffix(t: Array[Int], p: Array[Int]): Boolean = occursAt(t, t.length - p.length, p)

  /** Parts in order, each starting after the end of the previous one. */
  def multiInfix(t: Array[Int], parts: Seq[Array[Int]]): Boolean = {
    var pos = 0
    parts.forall { p =>
      val i = indexFrom(t, pos, p)
      if (i >= 0) pos = i + p.length
      i >= 0
    }
  }

  def inRange(t: Array[Int], lo: Int, hi: Int): Boolean = t.exists(x => x >= lo && x <= hi)
  def inSet(t: Array[Int], s: Set[Int]): Boolean = t.exists(s.contains)

  // ---- profiling ---------------------------------------------------------

  def histogram(rows: Array[TokenRow]): Map[Int, Long] = {
    val m = mutable.HashMap.empty[Int, Long]
    rows.foreach(_.tokens.foreach(t => m(t) = m.getOrElse(t, 0L) + 1L))
    m.toMap
  }

  /** Exact-duplicate groups: (smallest doc id, group size) per distinct
    * token sequence.
    */
  def exactGroups(rows: Array[TokenRow]): Map[(Long, Long), Int] = {
    val g = rows.groupBy(r => r.tokens.toSeq)
    g.values.toSeq.map(rs => (rs.map(_.doc_id).min.toLong, rs.length.toLong))
      .groupBy(identity).map { case (k, v) => k -> v.size }
  }

  /** (n_tok, n_distinct, max_run, top_cnt) of one document. */
  def quality(t: Array[Int]): (Int, Int, Int, Int) = {
    var maxRun = 0
    var run = 0
    var i = 0
    while (i < t.length) {
      run = if (i > 0 && t(i) == t(i - 1)) run + 1 else 1
      if (run > maxRun) maxRun = run
      i += 1
    }
    val counts = t.groupBy(identity).map(_._2.length)
    (t.length, counts.size, maxRun, if (counts.isEmpty) 0 else counts.max)
  }

  // ---- near duplicates ---------------------------------------------------

  /** Distinct n-grams of a document as one Long-free key each. */
  def shingles(t: Array[Int], n: Int): Set[Seq[Int]] =
    if (t.length < n) Set.empty else t.sliding(n).map(_.toSeq).toSet

  final case class Overlap(inter: Int, union: Int) {
    def jaccard: Double = if (union == 0) 0.0 else inter.toDouble / union
  }

  def overlap(a: Set[Seq[Int]], b: Set[Seq[Int]]): Overlap = {
    val i = a.count(b.contains)
    Overlap(i, a.size + b.size - i)
  }

  /** Every pair of documents in the same source sharing at least
    * `minInter` distinct n-grams, by an inverted index over the raw grams.
    */
  def sharedGramPairs(rows: Array[TokenRow], grams: Map[String, Set[Seq[Int]]],
                      minInter: Int): Map[(String, String), Overlap] = {
    val postings = mutable.HashMap.empty[(String, Seq[Int]), mutable.ArrayBuffer[String]]
    rows.foreach { r =>
      grams(r.doc_id).foreach(g =>
        postings.getOrElseUpdate((r.source, g), mutable.ArrayBuffer.empty[String]) += r.doc_id)
    }
    val inter = mutable.HashMap.empty[(String, String), Int]
    postings.valuesIterator.filter(_.size >= 2).foreach { ds =>
      val s = ds.sorted
      for (i <- s.indices; j <- i + 1 until s.length) {
        val k = (s(i), s(j))
        inter(k) = inter.getOrElse(k, 0) + 1
      }
    }
    inter.iterator.filter(_._2 >= minInter).map { case (k @ (a, b), n) =>
      k -> Overlap(n, grams(a).size + grams(b).size - n)
    }.toMap
  }

  /** Probability that two documents of Jaccard `j` share at least one of
    * `bands` bands of `rows` MinHash rows (the LSH S-curve).
    */
  def lshProbability(j: Double, bands: Int, rows: Int): Double =
    1.0 - math.pow(1.0 - math.pow(j, rows), bands)

  /** Connected components of an edge list: node -> smallest node reachable. */
  def components(edges: Seq[(String, String)]): Map[String, String] = {
    val parent = mutable.HashMap.empty[String, String]
    def find(x: String): String = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.map(k => k -> find(k)).toMap
  }
}
