package graft.pipeline

import graft.core._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType}
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** The fingerprint kernels against ReferenceFingerprints: the per-codec
  * chunk walks (compressed domain) and the SQL expressions on decoded
  * arrays (`shingle_hashes`, `minhash_sig`, `simhash64`,
  * `winnow_fingerprint`), which run the same sinks.
  */
class FingerprintSpec extends AnyFunSuite {

  private val genToks: Gen[Array[Int]] = Gen.oneOf(
    Gen.const(Array.emptyIntArray),
    Gen.listOf(Gen.chooseNum(Int.MinValue, Int.MaxValue)).map(_.toArray),
    Gen.choose(0, 300).flatMap(n => Gen.containerOfN[Array, Int](n, Gen.choose(0, 50))),
    // long runs of a few values: the RLE fold paths of every sink
    Gen.listOf(Gen.zip(Gen.choose(1, 60), Gen.choose(-3, 3)))
      .map(_.flatMap { case (r, v) => Array.fill(r)(v) }.toArray))

  test("fingerprint kernels equal the reference definitions on every codec and on decoded arrays (property)") {
    val p = Prop.forAll(Gen.listOfN(12, genToks), Gen.choose(1, 5), Gen.choose(1, 6),
        Gen.chooseNum(Long.MinValue, Long.MaxValue)) { (rowsL, n, w, seed) =>
      val rows = rowsL.toIndexedSeq
      val lanes = 8
      val refGrams = rows.map(ReferenceFingerprints.shingles(_, n))
      val refSigs = refGrams.map(ReferenceFingerprints.minhash(_, lanes, seed))
      val refSim = rows.map(ReferenceFingerprints.simhash)
      val refWin = rows.map(ReferenceFingerprints.winnow(_, n, w))

      val stats = ChunkStats.compute(rows)
      val encodedOk = Codecs.all.forall { codec =>
        val eligible = !((codec eq DictCodec) && stats.distinctSorted.isEmpty) &&
          !((codec eq BitPackCodec) && stats.minTok < 0)
        !eligible || {
          val header = codec.buildHeader(rows, stats)
          val enc = codec.encoder(header)
          val out = new ByteWriter()
          val offs = new Array[Int](rows.length + 1)
          rows.zipWithIndex.foreach { case (r, i) => enc.encode(r, out); offs(i + 1) = out.size }
          val data = out.toBytes
          val (grams, sigs, nToks) = MinHashMatch.chunkRowSigs(codec.name, header, data,
            offs, rows.length, n, lanes, seed, collectGrams = true)
          val sims = SimHashMatch.chunkRowSigs(codec.name, header, data, offs, rows.length)
          val wins = WinnowMatch.chunkRowFingerprints(codec.name, header, data, offs,
            rows.length, n, w)
          val bad = rows.indices.filterNot { i =>
            nToks(i) == rows(i).length &&
              java.util.Arrays.equals(grams(i), refGrams(i)) &&
              java.util.Arrays.equals(sigs(i), refSigs(i)) &&
              sims(i) == refSim(i) &&
              java.util.Arrays.equals(wins(i), refWin(i))
          }
          bad.isEmpty || { println(s"${codec.name}: rows $bad differ from the reference"); false }
        }
      }

      // one expression instance per kernel, evaluated over every row in
      // turn, as a task evaluates it: per-row state must not leak
      val toks = BoundReference(0, ArrayType(IntegerType, containsNull = false), nullable = false)
      val shingleE = ShingleHashes(toks, n)
      val minhashE = MinHashSig(
        BoundReference(0, ArrayType(LongType, containsNull = false), nullable = false), lanes, seed)
      val simE = SimHash64(toks)
      val winE = WinnowFingerprint(toks, n, w)
      def longs(v: Any): Array[Long] = v.asInstanceOf[ArrayData].toLongArray()
      val decodedOk = rows.indices.forall { i =>
        val row = InternalRow(new GenericArrayData(rows(i)))
        java.util.Arrays.equals(longs(shingleE.eval(row)), refGrams(i)) &&
          java.util.Arrays.equals(
            longs(minhashE.eval(InternalRow(new GenericArrayData(refGrams(i))))), refSigs(i)) &&
          simE.eval(row) == refSim(i) &&
          java.util.Arrays.equals(longs(winE.eval(row)), refWin(i))
      }
      encodedOk && decodedOk
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), p)
    assert(res.passed, res.status.toString)
  }
}
