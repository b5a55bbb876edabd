package perfbench

/** The benchmark's own tests: every check accepts a correct result and
  * rejects a perturbed one (a dropped row, a count off by one, a pair
  * below the threshold, ...). Needs no Spark session.
  *
  * Run: python3 perfbench/run.py --selftest
  */
object SelfTest {
  private var failures = 0
  private var cases = 0

  private def expect(name: String, problems: Seq[String], bad: Boolean): Unit = {
    cases += 1
    val ok = problems.nonEmpty == bad
    if (!ok) {
      failures += 1
      println(s"FAIL $name: expected ${if (bad) "rejection" else "acceptance"}, got $problems")
    }
  }
  private def accepts(name: String, p: Seq[String]): Unit = expect(name, p, bad = false)
  private def rejects(name: String, p: Seq[String]): Unit = expect(name, p, bad = true)

  def main(args: Array[String]): Unit = {
    ingest(); scan(); curate(); generator()
    println(s"selftest: $cases cases, $failures failed")
    if (failures > 0) sys.exit(1)
  }

  private def ingest(): Unit = {
    val rows = Gen.table(7L, 400)
    val full = Oracle.digest(rows)
    accepts("digest equal", Checks.digest("encode", Oracle.digest(rows.reverse), full))
    rejects("digest of a dropped row", Checks.digest("encode", Oracle.digest(rows.tail), full))
    val flipped = rows.updated(5, rows(5).copy(tokens = rows(5).tokens.updated(0, rows(5).tokens(0) + 1)))
    rejects("digest of a changed token", Checks.digest("encode", Oracle.digest(flipped), full))
    val moved = rows.updated(5, rows(5).copy(doc_id = rows(6).doc_id))
    rejects("digest of a renamed row", Checks.digest("encode", Oracle.digest(moved), full))
    val (del, keep) = rows.partition(_.doc_id.toLong % 10 == 3)
    accepts("delete digest", Checks.digest("delete", Oracle.digest(keep), full - Oracle.digest(del)))
    rejects("delete that kept a row", Checks.digest("delete", Oracle.digest(keep :+ del.head), full - Oracle.digest(del)))
    val trunc = Oracle.truncate(rows, 16)
    rejects("truncate one token short", Checks.digest("truncate",
      Oracle.digest(Oracle.truncate(rows, 15)), Oracle.digest(trunc)))
    val banned = Set(rows(0).tokens(0))
    rejects("scrub that missed a token", Checks.digest("scrub", Oracle.digest(rows), Oracle.digest(Oracle.scrub(rows, banned, -1))))
    accepts("compact", Checks.compact(10, 4, full, full))
    rejects("compact that raised the chunk count", Checks.compact(10, 11, full, full))
    rejects("compact that lost a row", Checks.compact(10, 4, full, Oracle.digest(rows.tail)))
  }

  private def scan(): Unit = {
    val t = Array(5, 6, 7, 8, 9, 5, 6)
    assert(Oracle.contains(t, Array(7, 8)) && !Oracle.contains(t, Array(8, 7)))
    assert(Oracle.prefix(t, Array(5, 6)) && !Oracle.prefix(t, Array(6)))
    assert(Oracle.suffix(t, Array(5, 6)) && !Oracle.suffix(t, Array(9)))
    assert(Oracle.multiInfix(t, Seq(Array(5, 6), Array(5, 6))) && !Oracle.multiInfix(t, Seq(Array(8), Array(7))))
    assert(Oracle.inRange(t, 9, 12) && !Oracle.inRange(t, 10, 12))
    accepts("scan counts agree", Checks.scanCount("q", 12, 12, 12))
    rejects("compressed count off by one", Checks.scanCount("q", 13, 12, 12))
    rejects("decoded count off by one", Checks.scanCount("q", 12, 11, 12))
  }

  private def curate(): Unit = {
    val rows = Gen.corpus(5L, 400)
    val ids = rows.map(_.doc_id).toSet
    val total = rows.map(_.tokens.length.toLong).sum
    val hist = Oracle.histogram(rows)
    accepts("histogram", Checks.histogram(hist, hist, total))
    val (t0, n0) = hist.head
    rejects("histogram count off by one", Checks.histogram(hist.updated(t0, n0 + 1), hist, total))
    rejects("histogram count moved", Checks.histogram(hist.updated(t0, n0 + 1).updated(hist.keys.toSeq(1), hist(hist.keys.toSeq(1)) - 1), hist, total))
    rejects("histogram missing a token", Checks.histogram(hist - t0, hist, total))

    val q = rows.map(r => r.doc_id -> Oracle.quality(r.tokens)).toMap
    accepts("quality", Checks.quality(q, q))
    val (qid, qv) = q.head
    rejects("quality max_run off by one", Checks.quality(q.updated(qid, qv.copy(_3 = qv._3 + 1)), q))
    rejects("quality missing a row", Checks.quality(q - qid, q))

    val ex = Oracle.exactGroups(rows)
    val exList = ex.toSeq.flatMap { case (k, n) => Seq.fill(n)(k) }
    accepts("exact groups", Checks.exact(exList, ex, rows.length))
    rejects("exact n_dups off by one", Checks.exact(exList.updated(0, (exList.head._1, exList.head._2 + 1)), ex, rows.length))
    rejects("exact group dropped", Checks.exact(exList.tail, ex, rows.length))

    val grams = rows.map(r => r.doc_id -> Oracle.shingles(r.tokens, 3)).toMap
    val truth = (a: String, b: String) => Oracle.overlap(grams(a), grams(b))
    val shared = Oracle.sharedGramPairs(rows, grams, 10)
    val near = shared.filter(_._2.jaccard >= 0.7).toSeq.sortBy(_._1)
      .map { case ((a, b), o) => (a, b, o.inter, o.union) }
    assert(near.nonEmpty, "the corpus plants near-duplicate pairs")
    accepts("minhash pairs", Checks.minhash(near, ids, truth, shared, 0.7, 16, 4))
    val low = shared.find(_._2.jaccard < 0.7).map { case ((a, b), o) => (a, b, o.inter, o.union) }
      .getOrElse(sys.error("the corpus plants a pair below the threshold"))
    rejects("minhash pair below tau", Checks.minhash(near :+ low, ids, truth, shared, 0.7, 16, 4))
    rejects("minhash pair miscounted", Checks.minhash(near.updated(0, near.head.copy(_3 = near.head._3 - 1)), ids, truth, shared, 0.7, 16, 4))
    rejects("minhash recall below the S-curve", Checks.minhash(near.drop(near.size / 2), ids, truth, shared, 0.7, 16, 4))
    rejects("minhash unordered pair", Checks.minhash(near :+ (near.head._2, near.head._1, near.head._3, near.head._4), ids, truth, shared, 0.7, 16, 4))

    val identical = rows.groupBy(_.tokens.toSeq).values.flatMap { rs =>
      val s = rs.map(_.doc_id).sorted
      for (i <- s.indices; j <- i + 1 until s.length) yield (s(i), s(j))
    }.toSet
    assert(identical.nonEmpty, "the corpus plants exact duplicates")
    val sim = identical.toSeq.map { case (a, b) => (a, b, 0) }
    accepts("simhash pairs", Checks.simhash(sim, ids, identical, 3))
    rejects("simhash missing an identical pair", Checks.simhash(sim.tail, ids, identical, 3))
    rejects("simhash pair beyond the limit", Checks.simhash(sim :+ ("000000001", "000000002", 4), ids, identical, 3))
    rejects("simhash unknown document", Checks.simhash(sim :+ ("000000001", "999999999", 1), ids, identical, 3))

    val g5 = rows.map(r => r.doc_id -> Oracle.shingles(r.tokens, 5)).toMap
    val sharesGram = (a: String, b: String) => g5(a).exists(g5(b).contains)
    val fp = identical.toSeq.map { case (a, b) => (a, b, 5L) }
    accepts("fingerprint pairs", Checks.fingerprint(fp, ids, sharesGram, identical, 2))
    val unrelated = rows.map(_.doc_id).sorted.sliding(2).map(s => (s(0), s(1)))
      .find { case (a, b) => !sharesGram(a, b) }.get
    rejects("fingerprint pair sharing nothing", Checks.fingerprint(fp :+ (unrelated._1, unrelated._2, 3L), ids, sharesGram, identical, 2))
    rejects("fingerprint pair below minShared", Checks.fingerprint(fp.updated(0, fp.head.copy(_3 = 1L)), ids, sharesGram, identical, 2))

    val jac = shared.toSeq.map { case ((a, b), o) => (a, b, o.inter, o.union) }
    accepts("jaccard pairs", Checks.jaccard(jac, shared))
    rejects("jaccard pair dropped", Checks.jaccard(jac.tail, shared))
    rejects("jaccard union off by one", Checks.jaccard(jac.updated(0, jac.head.copy(_4 = jac.head._4 + 1)), shared))
    rejects("jaccard extra pair", Checks.jaccard(jac :+ (unrelated._1, unrelated._2, 10, 20), shared))

    val pairs = Seq(("a", "b"), ("b", "c"), ("d", "e"))
    val labels = Seq("a" -> "a", "b" -> "a", "c" -> "a", "d" -> "d", "e" -> "d")
    accepts("components", Checks.components(labels, pairs))
    rejects("components split a pair", Checks.components(labels.updated(2, "c" -> "c"), pairs))
    rejects("components missing a document", Checks.components(labels.init, pairs))
    rejects("components wrong representative", Checks.components(labels.map { case (k, v) => k -> (if (v == "d") "e" else v) }, pairs))
    rejects("components double label", Checks.components(labels :+ ("a" -> "d"), pairs))
  }

  private def generator(): Unit = {
    val a = Gen.table(3L, 200)
    val b = Gen.table(3L, 200)
    val c = Gen.table(4L, 200)
    cases += 3
    if (!a.zip(b).forall { case (x, y) => x.doc_id == y.doc_id && x.tokens.sameElements(y.tokens) }) {
      failures += 1; println("FAIL generator: same seed gave different rows")
    }
    if (a.zip(c).forall { case (x, y) => x.tokens.sameElements(y.tokens) }) {
      failures += 1; println("FAIL generator: another seed gave the same rows")
    }
    val ids = a.map(_.doc_id)
    if (!(ids.sorted sameElements ids)) { failures += 1; println("FAIL generator: ids do not sort numerically") }
  }
}
