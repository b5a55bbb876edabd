package graft.core

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}

import scala.util.Random

/** Kernel-level round-trip + matcher-equivalence properties (SURVEY.md §5,
  * FIXTURES.md §4): decode(encode(xs)) == xs for every codec on adversarial
  * generators; compressed matchers == token-domain oracle matchers.
  */
class CodecSpec extends AnyFunSuite {

  def checkProp(p: Prop, n: Int = 50): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), p)
    assert(res.passed, res.status.toString)
  }

  // --- deterministic corpora (FIXTURES.md §1 distributions, miniature) ------

  private def zipfRows(seed: Int, nRows: Int, vocab: Int): IndexedSeq[Array[Int]] = {
    val rnd = new Random(seed)
    // 64 hot phrases of 2..8 tokens injected with p=0.2
    val phrases = Array.fill(64)(Array.fill(2 + rnd.nextInt(7))(rnd.nextInt(vocab)))
    (0 until nRows).map { _ =>
      val n = 1 + rnd.nextInt(120)
      val buf = scala.collection.mutable.ArrayBuffer.empty[Int]
      while (buf.length < n) {
        if (rnd.nextDouble() < 0.2) buf ++= phrases(rnd.nextInt(64))
        else buf += (vocab * math.pow(rnd.nextDouble(), 3)).toInt // skewed
      }
      buf.take(n).toArray
    }
  }

  private def runsRows(seed: Int, nRows: Int): IndexedSeq[Array[Int]] = {
    val rnd = new Random(seed)
    (0 until nRows).map { _ =>
      val n = rnd.nextInt(200)
      val buf = new Array[Int](n)
      var i = 0
      var v = rnd.nextInt(100)
      while (i < n) {
        if (rnd.nextDouble() < 0.05) v = rnd.nextInt(100)
        buf(i) = v
        i += 1
      }
      buf
    }
  }

  private val genToks: Gen[Array[Int]] = Gen.oneOf(
    Gen.const(Array.emptyIntArray),
    Gen.listOf(Gen.chooseNum(Int.MinValue, Int.MaxValue)).map(_.toArray),
    Gen.listOf(Gen.choose(0, 5)).map(_.toArray),
    Gen.choose(0, 3000).flatMap(n => Gen.containerOfN[Array, Int](n, Gen.choose(0, 50)))
  )

  private def roundTrip(codec: ChunkCodec, rows: IndexedSeq[Array[Int]]): Unit = {
    val stats = ChunkStats.compute(rows)
    if ((codec eq DictCodec) && stats.distinctSorted.isEmpty) return // ineligible
    if ((codec eq BitPackCodec) && stats.minTok < 0) return          // ineligible
    val header = codec.buildHeader(rows, stats)
    val enc = codec.encoder(header)
    val out = new ByteWriter()
    val offsets = new Array[Int](rows.length + 1)
    rows.zipWithIndex.foreach { case (r, i) =>
      enc.encode(r, out); offsets(i + 1) = out.size
    }
    val data = out.toBytes
    val dec = codec.decoder(header)
    rows.zipWithIndex.foreach { case (r, i) =>
      val got = dec.decode(data, offsets(i), offsets(i + 1))
      assert(java.util.Arrays.equals(got, r),
        s"${codec.name} row $i: ${r.take(20).mkString(",")} != ${got.take(20).mkString(",")}")
    }
  }

  for (codec <- Codecs.all) {
    test(s"${codec.name}: round-trip on generated rows") {
      checkProp(Prop.forAll(Gen.listOfN(30, genToks)) { rows =>
        roundTrip(codec, rows.toIndexedSeq); true
      })
    }
    test(s"${codec.name}: round-trip on corpora") {
      roundTrip(codec, zipfRows(42, 200, 32000))
      roundTrip(codec, runsRows(42, 200))
      roundTrip(codec, IndexedSeq(Array.emptyIntArray, Array(7), Array.fill(5000)(3)))
    }
  }

  test("varint zigzag round-trips int extremes") {
    val w = new ByteWriter()
    val vals = Array(0, 1, -1, 63, 64, -64, -65, Int.MaxValue, Int.MinValue, 12345, -98765)
    vals.foreach(w.writeZigZag)
    val r = new ByteReader(w.toBytes, 0, w.size)
    vals.foreach(v => assert(r.readZigZag() == v))
  }

  test("int set counts distinct values exactly up to its cap, growing or presized") {
    val genVals = Gen.choose(0, 3000).flatMap(n => Gen.listOfN(n, Gen.choose(-2000, 2000)))
    checkProp(Prop.forAll(genVals, Gen.oneOf(1, 5, 64, 1000, 1 << 20), Gen.oneOf(-1, 1, 16, 4096)) {
      (xs, cap, initial) =>
        val set = new IntSet(cap, initialCapacity = initial)
        xs.foreach(set.add)
        val d = xs.distinct
        set.size == math.min(d.size, cap) && set.overflowed == (d.size > cap) &&
          (set.overflowed || set.toSortedArray.toSeq == d.sorted)
    }, 200)
  }

  test("symtab serialization round-trips") {
    val st = new SymTab(Array(Array(1), Array(2, 3), Array(-5, 1000000, 7), Array.fill(8)(42)))
    val st2 = SymTab.fromBytes(st.toBytes)
    assert(st2.syms.map(_.toSeq).toSeq == st.syms.map(_.toSeq).toSeq)
    assert(st2.contentHash == st.contentHash)
  }

  test("trainer compresses repetitive token streams well") {
    val rows = zipfRows(7, 500, 32000)
    val stats = ChunkStats.compute(rows)
    val header = FsstTokenCodec.buildHeader(rows, stats)
    val enc = FsstTokenCodec.encoder(header)
    val out = new ByteWriter()
    rows.foreach(enc.encode(_, out))
    val fsstBytes = out.size + header.length
    // raw baseline: varint bytes + prefixes
    val rawBytes = stats.varintBytes + rows.length * 2
    assert(fsstBytes < rawBytes, s"fsst $fsstBytes !< raw $rawBytes")
  }

  // --- trainer vs the boxed reference: identical tables, byte for byte -----

  private def sameTable(rows: IndexedSeq[Array[Int]], maxSample: Int, gens: Int): Boolean =
    java.util.Arrays.equals(FsstTrainer.train(rows, maxSample, gens).toBytes,
      ReferenceFsstTrainer.train(rows, maxSample, gens).toBytes)

  /** Rows built from phrases of 9..20 tokens — longer than a symbol may be. */
  private def longPhraseRows(seed: Int, nRows: Int): IndexedSeq[Array[Int]] = {
    val rnd = new Random(seed)
    val phrases = Array.fill(6)(Array.fill(SymTab.MaxSymbolLen + 1 + rnd.nextInt(12))(rnd.nextInt(5000)))
    (0 until nRows).map(_ => Array.concat(Seq.fill(1 + rnd.nextInt(6))(phrases(rnd.nextInt(6))): _*))
  }

  private val genTrainRows: Gen[IndexedSeq[Array[Int]]] = Gen.oneOf(
    Gen.const(IndexedSeq.empty[Array[Int]]),
    Gen.const(IndexedSeq(Array.emptyIntArray, Array.emptyIntArray)),
    Gen.choose(0, 1000).map(s => IndexedSeq(zipfRows(s, 400, 3000).flatten.toArray)),
    Gen.choose(0, 1000).map(longPhraseRows(_, 60)),
    Gen.choose(0, 1000).map(s => runsRows(s, 80)),
    Gen.choose(0, 1000).map(s => zipfRows(s, 200, 50000)),
    Gen.listOf(Gen.listOf(Gen.choose(0, 7)).map(_.toArray)).map(_.toIndexedSeq),
    Gen.listOf(Gen.listOf(Gen.chooseNum(Int.MinValue, Int.MaxValue)).map(_.toArray)).map(_.toIndexedSeq)
  )

  test("trainer equals the reference trainer byte for byte (generated samples)") {
    checkProp(Prop.forAll(genTrainRows, Gen.oneOf(1, 7, 100, 1000, FsstTrainer.DefaultSampleTokens),
      Gen.oneOf(0, 1, 2, 5)) { (rows, maxSample, gens) =>
      sameTable(rows, maxSample, gens)
    }, 100)
  }

  test("trainer equals the reference trainer on named edge samples") {
    val single = zipfRows(3, 400, 3000).flatten.toArray // one row far over budget
    assert(sameTable(IndexedSeq.empty, 1000, 5))
    assert(sameTable(IndexedSeq(single), FsstTrainer.DefaultSampleTokens, 5))
    assert(sameTable(longPhraseRows(5, 200), FsstTrainer.DefaultSampleTokens, 5))
    val rnd = new Random(11)
    val low = Array.fill(12)(rnd.nextInt(1 << 20))
    assert(sameTable((0 until 300).map(_ => Array.fill(50)(low(rnd.nextInt(12)))), 4096, 5))
    assert(sameTable(zipfRows(7, 500, 32000), FsstTrainer.DefaultSampleTokens, 5))
    // the budget runs out in the middle of a row: that row is still taken whole
    val rows = (0 until 40).map(i => Array.tabulate(60)(j => (i * 7 + j) % 90))
    for (budget <- Seq(1, 59, 60, 61, 119, 130); gens <- Seq(1, 5))
      assert(sameTable(rows, budget, gens), s"budget $budget generations $gens")
    // slab-backed rows whose offsets are a permutation of the arrival order
    val zr = zipfRows(13, 300, 20000)
    val slab = zr.flatten.toArray
    val starts = zr.scanLeft(0)(_ + _.length).init.toArray.reverse
    val lens = zr.map(_.length).toArray.reverse
    val t = TokenRows.ofSlab(slab, starts, lens, zr.length)
    assert(java.util.Arrays.equals(FsstTrainer.train(t).toBytes, ReferenceFsstTrainer.train(t).toBytes))
  }

  test("selector picks sensible codecs per distribution (FIXTURES.md §1)") {
    def pick(rows: IndexedSeq[Array[Int]]): String =
      CodecSelector.choose(rows, ChunkStats.compute(rows)).codec.name
    val rnd = new Random(1)
    // lowcard → dict (vocab 200 uniform, values scattered so FoR can't win)
    val lowvals = Array.fill(200)(rnd.nextInt(1 << 28))
    val lowcard = (0 until 300).map(_ => Array.fill(100)(lowvals(rnd.nextInt(200))))
    assert(pick(lowcard) == "dict")
    // runs → rle
    assert(pick(runsRows(3, 300)) == "rle")
    // narrow range → for/bitpack
    val narrow = (0 until 300).map { _ =>
      val base = 500000 + rnd.nextInt(100000)
      Array.fill(100)(base + rnd.nextInt(256))
    }
    assert(Set("for", "bitpack").contains(pick(narrow)))
    // phrase-heavy zipf → fsst
    val phrasey = zipfRows(9, 300, 2000000)
    assert(pick(phrasey) == "fsst")
  }

  test("packed doc ids round-trip (ascii + unicode + empty)") {
    import graft.format.PackedIds
    val ids = Array("doc-0001", "", "ünïcödé-🚀", "a" * 300, "12345")
    val packed = PackedIds.pack(ids)
    assert(PackedIds.unpackAll(packed, ids.length).toSeq == ids.toSeq)
    checkProp(Prop.forAll(Gen.listOf(Gen.asciiPrintableStr)) { l =>
      PackedIds.unpackAll(PackedIds.pack(l.toArray), l.length).toSeq == l
    })
  }
}
