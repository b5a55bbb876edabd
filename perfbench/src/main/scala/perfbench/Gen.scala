package perfbench

import graft.format.TokenRow

/** splitmix64 counter RNG: a pure function of (seed, counter), so every row
  * can be generated on its own, in a Spark task or in the checks, and come
  * out the same.
  */
final class Rng(seed: Long) {
  private var ctr = seed
  def nextLong(): Long = { ctr += 1; Rng.mix(ctr) }
  def nextDouble(): Double = (nextLong() >>> 11).toDouble / (1L << 53).toDouble
  def nextInt(bound: Int): Int = (nextDouble() * bound).toInt
}

object Rng {
  def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  def forRow(seed: Long, salt: Long, id: Long): Rng =
    new Rng(mix(mix(seed * 0x632be59bd9b4e019L + salt) + id))
}

/** The benchmark's own seeded input generator. It does not use the
  * program's synthetic data, so a change there cannot change a workload.
  * Every row is a pure function of (seed, row id); ids are zero-padded
  * decimal strings, so string order equals numeric order.
  */
object Gen {
  val Sources: Array[String] = Array("zipf", "lowcard", "runs", "narrow", "skew")
  val ZipfVocab = 32000
  val NPhrases = 32

  def docId(id: Long): String = f"$id%09d"

  /** Hot phrases of 3 to 8 tokens planted in zipf and skew documents. */
  def phrases(seed: Long): Array[Array[Int]] = {
    val r = Rng.forRow(seed, 11L, 0L)
    Array.fill(NPhrases)(Array.fill(3 + r.nextInt(6))(r.nextInt(ZipfVocab)))
  }

  /** The 200 values of the low-cardinality source. */
  def lowcardValues(seed: Long): Array[Int] = {
    val r = Rng.forRow(seed, 13L, 0L)
    Array.fill(200)(r.nextInt(1 << 20))
  }

  /** Row `id` of the five-source token table: zipf text with planted
    * phrases (some at the start or end of a document), a low-cardinality
    * source, long runs, a narrow value range, and a skewed source whose
    * documents are 4x longer and 8% of them 20 to 60x longer.
    */
  def tableRow(seed: Long, id: Long, phr: Array[Array[Int]], low: Array[Int]): TokenRow = {
    val r = Rng.forRow(seed, 17L, id)
    val source = Sources((id % Sources.length).toInt)
    val g = math.sqrt(-2.0 * math.log(r.nextDouble() + 1e-12)) *
      math.cos(2.0 * math.Pi * r.nextDouble())
    var n = math.max(4, (40.0 * math.exp(0.5 * g)).toInt)
    if (source == "skew") {
      n = if (r.nextDouble() < 0.08) 40 * (20 + r.nextInt(41)) else n * 4
    }
    val t = new Array[Int](n)
    source match {
      case "zipf" | "skew" =>
        var i = 0
        if (r.nextDouble() < 0.1) i = put(t, 0, phr(r.nextInt(NPhrases)))
        val tailPhrase = if (r.nextDouble() < 0.1) phr(r.nextInt(NPhrases)) else null
        while (i < n) {
          if (r.nextDouble() < 0.03) i = put(t, i, phr(r.nextInt(NPhrases)))
          else {
            val u = r.nextDouble()
            t(i) = (ZipfVocab * u * u * u).toInt
            i += 1
          }
        }
        if (tailPhrase != null && tailPhrase.length <= n) put(t, n - tailPhrase.length, tailPhrase)
      case "lowcard" =>
        var i = 0
        while (i < n) { t(i) = low(r.nextInt(low.length)); i += 1 }
      case "runs" =>
        var v = r.nextInt(1000)
        var i = 0
        while (i < n) {
          if (r.nextDouble() < 0.05) v = r.nextInt(1000)
          t(i) = v
          i += 1
        }
      case "narrow" =>
        val base = (1 << 22) + r.nextInt(1 << 22)
        var i = 0
        while (i < n) { t(i) = base + r.nextInt(256); i += 1 }
    }
    TokenRow(docId(id), t, n, source)
  }

  private def put(t: Array[Int], at: Int, p: Array[Int]): Int = {
    var i = at
    var j = 0
    while (j < p.length && i < t.length) { t(i) = p(j); i += 1; j += 1 }
    i
  }

  def table(seed: Long, rows: Int): Array[TokenRow] = {
    val phr = phrases(seed)
    val low = lowcardValues(seed)
    Array.tabulate(rows)(i => tableRow(seed, i.toLong, phr, low))
  }

  // ---- curate corpus ----------------------------------------------------

  val CorpusVocab = 50000
  val BlockSize = 8

  /** How a corpus document was made: `base` is the cluster's first id (its
    * own id for a document outside any cluster), `edits` the number of
    * token substitutions applied to the base (-1: not a copy).
    */
  final case class Planted(base: Long, edits: Int)

  /** Documents come in blocks of 8 ids. A third of the blocks open with a
    * cluster of 2 to 4 documents: the base, then exact copies or near
    * copies with 1 to 3 substituted tokens. The other documents draw
    * tokens from a 50k vocabulary with mild skew, so unrelated documents
    * share almost no 3-grams.
    */
  def planted(seed: Long, id: Long): Planted = {
    val block = id / BlockSize
    val pos = (id % BlockSize).toInt
    val r = Rng.forRow(seed, 23L, block)
    val clustered = r.nextDouble() < 0.34
    val size = 2 + r.nextInt(3)
    if (!clustered || pos >= size) Planted(id, -1)
    else if (pos == 0) Planted(id, -1)
    else {
      val rr = Rng.forRow(seed, 29L, id)
      Planted(block * BlockSize, if (rr.nextDouble() < 0.35) 0 else 1 + rr.nextInt(3))
    }
  }

  private def freshDoc(seed: Long, id: Long): (Array[Int], String) = {
    val r = Rng.forRow(seed, 31L, id)
    val g = math.sqrt(-2.0 * math.log(r.nextDouble() + 1e-12)) *
      math.cos(2.0 * math.Pi * r.nextDouble())
    val n = math.max(24, (110.0 * math.exp(0.45 * g)).toInt)
    val t = Array.fill(n) {
      val u = r.nextDouble()
      (CorpusVocab * math.pow(u, 1.5)).toInt
    }
    (t, if (r.nextDouble() < 0.7) "web" else "books")
  }

  def corpusRow(seed: Long, id: Long): TokenRow = {
    val p = planted(seed, id)
    val (t, source) = freshDoc(seed, p.base)
    if (p.edits > 0) {
      val r = Rng.forRow(seed, 37L, id)
      var e = 0
      while (e < p.edits) {
        t(r.nextInt(t.length)) = CorpusVocab + r.nextInt(CorpusVocab)
        e += 1
      }
    }
    TokenRow(docId(id), t, t.length, source)
  }

  def corpus(seed: Long, docs: Int): Array[TokenRow] =
    Array.tabulate(docs)(i => corpusRow(seed, i.toLong))
}
