package graft.pipeline

/** Plain transcriptions of the fingerprint definitions, written for
  * clarity, not speed: the reference the per-codec sinks
  * (core.MinHashMatch, SimHashMatch, WinnowMatch) and the decoded-array
  * expressions built on them are checked against.
  */
object ReferenceFingerprints {
  import Hashing.mix64

  private val FnvOffset = 0xcbf29ce484222325L

  /** Hash of the n tokens starting at i: FNV offset basis, mix64-chained. */
  def gramHash(toks: Array[Int], i: Int, n: Int): Long =
    (i until i + n).foldLeft(FnvOffset)((h, j) => mix64(h ^ toks(j)))

  /** Distinct n-gram hashes in ascending (signed) order. */
  def shingles(toks: Array[Int], n: Int): Array[Long] = {
    val set = scala.collection.mutable.HashSet.empty[Long]
    for (i <- 0 to toks.length - n) set += gramHash(toks, i, n)
    set.toArray.sorted
  }

  /** Lane i = min over the shingles of mix64(g ^ mix64(seed + i));
    * Long.MaxValue for an empty shingle set.
    */
  def minhash(shingles: Array[Long], k: Int, seed: Long): Array[Long] =
    Array.tabulate(k) { i =>
      val laneSeed = mix64(seed + i)
      shingles.foldLeft(Long.MaxValue)((m, g) => math.min(m, mix64(g ^ laneSeed)))
    }

  /** Bit b is set iff the ±1 tally over the token hashes (+1 when the
    * hash has bit b set, −1 otherwise) is positive.
    */
  def simhash(toks: Array[Int]): Long = {
    val tally = new Array[Long](64)
    for (t <- toks) {
      val h = mix64(t.toLong)
      for (b <- 0 until 64) tally(b) += (if (((h >>> b) & 1L) == 1L) 1 else -1)
    }
    (0 until 64).foldLeft(0L)((sig, b) => if (tally(b) > 0) sig | (1L << b) else sig)
  }

  /** Winnowing (Schleimer, Wilkerson, Aiken, SIGMOD'03): the m = n − k + 1
    * k-gram hashes; window j covers grams j .. j + w − 1, or one window
    * covers all grams when m < w; each window selects its minimum in
    * unsigned order; the fingerprint is the distinct selections in
    * ascending signed order.
    */
  def winnow(toks: Array[Int], k: Int, w: Int): Array[Long] = {
    val m = toks.length - k + 1
    if (m <= 0) return Array.emptyLongArray
    val grams = Array.tabulate(m)(i => gramHash(toks, i, k))
    val windows =
      if (m < w) Iterator(grams)
      else Iterator.range(0, m - w + 1).map(j => grams.slice(j, j + w))
    val selected = scala.collection.mutable.HashSet.empty[Long]
    for (win <- windows)
      selected += win.reduce((a, b) => if (java.lang.Long.compareUnsigned(a, b) <= 0) a else b)
    selected.toArray.sorted
  }
}
