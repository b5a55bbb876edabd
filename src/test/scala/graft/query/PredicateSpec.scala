package graft.query

import graft.core._
import graft.format.{ChunkOps, EncodedChunk, Offsets}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** The three evaluation paths of every token predicate agree: the chunk
  * scan (ChunkDocIds, interpreted and codegen'd) returns exactly the ids
  * whose rows pass the per-row compressed match, and that match equals the
  * decoded evaluation. Chunk sets mix all six codecs and include chunks of
  * different codecs with byte-equal headers (for/bitpack at one width,
  * rle/raw with empty headers), all evaluated in one thread through one
  * expression per predicate — so a per-row row-test cache keyed on the
  * header alone would hand one codec's kernel another codec's rows.
  */
class PredicateSpec extends AnyFunSuite {

  private val genRow: Gen[Array[Int]] = Gen.frequency(
    1 -> Gen.const(Array.emptyIntArray),
    4 -> Gen.choose(1, 30).flatMap(n => Gen.containerOfN[Array, Int](n, Gen.choose(0, 9))),
    // long equal-token runs (the RLE domain)
    2 -> Gen.listOf(Gen.zip(Gen.choose(0, 9), Gen.choose(1, 6)))
      .map(_.flatMap { case (v, n) => Seq.fill(n)(v) }.toArray))
  private val genRows: Gen[IndexedSeq[Array[Int]]] =
    Gen.choose(1, 12).flatMap(n => Gen.listOfN(n, genRow)).map(_.toIndexedSeq)
  private val genPart: Gen[Seq[Int]] =
    Gen.choose(0, 3).flatMap(n => Gen.listOfN(n, Gen.choose(0, 10)))

  private var nextChunk = 0L
  private def chunk(codec: String, rows: IndexedSeq[Array[Int]]): EncodedChunk = {
    nextChunk += 1
    val ids = rows.indices.map(i => s"c$nextChunk-$i${if (i % 3 == 0) "-ü" else ""}").toArray
    ChunkOps.build(nextChunk, 0, ids, "s", TokenRows.ofArrays(rows), Some(codec))
  }

  /** One chunk per codec, a for/bitpack pair over rows that each hold a 0
    * (so the FoR row-range width equals the bitpack max width) and an
    * rle/raw pair over the same rows, in a random order.
    */
  private val genChunkSet: Gen[Seq[EncodedChunk]] = for {
    perCodec <- Gen.listOfN(Codecs.all.length, genRows)
    packed <- genRows
    runs <- genRows
    seed <- Gen.choose(0L, Long.MaxValue)
  } yield {
    val withZero = packed.map(0 +: _)
    val pairs = Seq(chunk(ForCodec.name, withZero), chunk(BitPackCodec.name, withZero),
      chunk(RleCodec.name, runs), chunk(RawCodec.name, runs))
    assert(pairs(0).symtab.sameElements(pairs(1).symtab) && pairs(0).symtab.length == 1)
    assert(pairs(2).symtab.sameElements(pairs(3).symtab))
    new scala.util.Random(seed).shuffle(
      Codecs.all.zip(perCodec).map { case (c, rows) => chunk(c.name, rows) } ++ pairs)
  }

  private def statType(field: String): DataType =
    if (field.endsWith("_tok")) IntegerType else BinaryType
  private def statValue(c: EncodedChunk, field: String): Any = field match {
    case "min_tok" => c.stats.min_tok
    case "max_tok" => c.stats.max_tok
    case "symbol_bitmap" => c.stats.symbol_bitmap
    case "escaped_bitmap" => c.stats.escaped_bitmap
  }
  private def ids(a: ArrayData): Seq[String] = a.toObjectArray(StringType).map(_.toString).toSeq

  private def check(chunks: Seq[EncodedChunk], pred: TokenPredicate): Unit = {
    val rowMatch = CompressedMatch(BoundReference(0, BinaryType, nullable = false),
      BoundReference(1, BinaryType, nullable = false),
      BoundReference(2, StringType, nullable = false), pred)
    val decoded = TokensMatch(
      BoundReference(0, ArrayType(IntegerType, containsNull = false), nullable = false), pred)
    val chunkTypes = Seq(BinaryType, BinaryType, BinaryType, IntegerType, BinaryType, StringType) ++
      pred.statsFields.map(statType)
    val scan = ChunkDocIds(chunkTypes.zipWithIndex.map { case (t, i) =>
      BoundReference(i, t, nullable = false) }, pred)
    val compiled = GenerateUnsafeProjection.generate(Seq(scan))
    for (c <- chunks) {
      val clue = s"$pred on ${c.codec} chunk ${c.chunk_id}"
      val offs = Offsets.unpack(c.offsets, c.row_count)
      val rows = ChunkOps.decodeAll(c).toIndexedSeq
      val codec = UTF8String.fromString(c.codec)
      val perRow = rows.indices.map { i =>
        val enc = java.util.Arrays.copyOfRange(c.data, offs(i), offs(i + 1))
        rowMatch.eval(InternalRow(enc, c.symtab, codec)).asInstanceOf[Boolean]
      }
      val oracle = rows.map(r =>
        decoded.eval(InternalRow(UnsafeArrayData.fromPrimitiveArray(r.tokens))).asInstanceOf[Boolean])
      assert(perRow == oracle, s"per-row compressed match != decoded: $clue")
      val want = rows.indices.filter(perRow).map(rows(_).doc_id)
      val in = InternalRow.fromSeq(Seq(c.doc_ids, c.data, c.offsets, c.row_count, c.symtab, codec) ++
        pred.statsFields.map(statValue(c, _)))
      assert(ids(scan.eval(in).asInstanceOf[ArrayData]) == want, s"chunk scan: $clue")
      assert(ids(compiled(in).getArray(0)) == want, s"codegen'd chunk scan: $clue")
    }
  }

  test("chunk scan, per-row compressed match and decoded eval agree for every predicate kind") {
    val prop = Prop.forAll(genChunkSet, Gen.listOfN(3, genPart), Gen.choose(0, 1000),
        Gen.choose(-2, 12), Gen.choose(-2, 12), Gen.listOf(Gen.choose(-1, 12))) {
      (chunks, parts, pick, a, b, set) =>
        // equality needs whole rows to hit: take one from the chunk set
        val rows = chunks.flatMap(ChunkOps.decodeAll(_).map(_.tokens.toSeq))
        val preds =
          Seq(PatternMode.Contains, PatternMode.Prefix, PatternMode.Suffix).map(m =>
            PatternPredicate(m, Seq(parts.head))) ++ Seq(
            PatternPredicate(PatternMode.Equals, Seq(parts.head)),
            PatternPredicate(PatternMode.Equals, Seq(rows(pick % rows.length))),
            PatternPredicate(PatternMode.MultiInfix, parts),
            RangePredicate(a, b), RangePredicate(math.min(a, b), math.max(a, b)),
            SetPredicate(set))
        preds.foreach(check(chunks, _))
        true
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(150), prop)
    assert(res.passed, res.status.toString)
  }
}
