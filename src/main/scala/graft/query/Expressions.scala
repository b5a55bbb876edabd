package graft.query

import graft.core._
import graft.format.{Offsets, PackedIds}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext,
  CodegenFallback, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Shared shape of the row decoders (enc, header, codec) → array<int>. Each
  * stays inside WholeStageCodegen (the per-row path a user hits when
  * projecting `tokens` from the encoded view): one virtual call per row, no
  * fallback-iterator boundary splitting the stage.
  */
abstract class RowDecodeExpression extends TernaryExpression {
  def enc: Expression
  def header: Expression
  def codecName: Expression
  override def first: Expression = enc
  override def second: Expression = header
  override def third: Expression = codecName
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = enc.nullable || header.nullable || codecName.nullable

  protected def decode(e: Array[Byte], h: Array[Byte], codec: String): Array[Int]

  // UnsafeArrayData.fromPrimitiveArray = one memcpy; GenericArrayData(int[])
  // boxes every element AND forces the row writer into an element loop
  def decodeOne(e: Array[Byte], h: Array[Byte], c: UTF8String): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(decode(e, h, c.toString))

  override protected def nullSafeEval(e: Any, h: Any, c: Any): Any =
    decodeOne(e.asInstanceOf[Array[Byte]], h.asInstanceOf[Array[Byte]],
      c.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("rowDecode", this, classOf[RowDecodeExpression].getName)
    nullSafeCodeGen(ctx, ev, (e, h, c) => s"${ev.value} = $ref.decodeOne($e, $h, $c);")
  }
}

/** decode_row(enc, header, codec) → array<int>: decodes one encoded row.
  * This is the decode boundary the optimizer rule pushes predicates through
  * (SURVEY.md §4 O2).
  */
case class DecodeRow(enc: Expression, header: Expression, codecName: Expression)
    extends RowDecodeExpression {
  override def prettyName: String = "decode_row"
  protected def decode(e: Array[Byte], h: Array[Byte], codec: String): Array[Int] =
    EvalCaches.decoder(codec, h).decode(e, 0, e.length)
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression) =
    copy(enc = f, header = s, codecName = t)
}

/** Partial decode of a row's first k tokens (read-side head projection):
  * the pushdown rule rewrites `slice(decode_row(…), 1, k)` into this, so
  * head-of-document features on the encoded view decode O(k) tokens per
  * row instead of the whole row — the read-side dual of encode.Truncate.
  */
case class DecodeHead(enc: Expression, header: Expression, codecName: Expression, k: Int)
    extends RowDecodeExpression {
  override def prettyName: String = "decode_head"
  // head decoder per (codec, header): header parsed once per chunk
  @transient private lazy val decoders = new CodecHeaderCache(HeadDecode.decoder)
  protected def decode(e: Array[Byte], h: Array[Byte], codec: String): Array[Int] =
    decoders.get(codec, h).decodeHead(e, 0, e.length, k)
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression) =
    copy(enc = f, header = s, codecName = t)
}

/** Partial decode of a row's LAST k tokens (read-side tail projection):
  * the pushdown rule rewrites `slice(decode_row(…), −k, k)` into this —
  * exact builtin semantics incl. rows shorter than k slicing to empty.
  * FSST skips to the cut via code lengths without expanding symbols (the
  * suffix matcher's skip phase); packed codecs random-access the bit
  * stream at index n−k.
  */
case class DecodeTail(enc: Expression, header: Expression, codecName: Expression, k: Int)
    extends RowDecodeExpression {
  override def prettyName: String = "decode_tail"
  @transient private lazy val decoders = new CodecHeaderCache(TailDecode.decoder)
  protected def decode(e: Array[Byte], h: Array[Byte], codec: String): Array[Int] =
    decoders.get(codec, h).decodeTail(e, 0, e.length, k)
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression) =
    copy(enc = f, header = s, codecName = t)
}

/** Partial decode of an arbitrary mid window (read-side slice projection):
  * the pushdown rule rewrites `slice(decode_row(…), s, k)` for ANY nonzero
  * literal start into this — exact builtin semantics (negative start from
  * the end, out-of-range start → empty, window clipped at the row end).
  * Generalizes DecodeHead/DecodeTail: fixed-stride model-input windows on
  * the encoded view decode O(skip + k) per row, never the whole row.
  */
case class DecodeSlice(enc: Expression, header: Expression, codecName: Expression,
                       s: Int, k: Int) extends RowDecodeExpression {
  require(s != 0, "slice start must be nonzero (builtin Slice semantics)")
  require(k >= 0, "slice length must be non-negative")
  override def prettyName: String = "decode_slice"
  @transient private lazy val decoders = new CodecHeaderCache(SliceDecode.decoder)
  protected def decode(e: Array[Byte], h: Array[Byte], codec: String): Array[Int] =
    decoders.get(codec, h).decodeSlice(e, 0, e.length, s, k)
  override protected def withNewChildrenInternal(f: Expression, s2: Expression, t: Expression) =
    copy(enc = f, header = s2, codecName = t)
}

/** A token predicate on a decoded/raw array<int> column — the logical
  * marker the pushdown rule looks for (`tokens_match_<mode>`,
  * `any_token_in_range`, `any_token_in_set`), and the decode-then-test
  * fallback path (the reference's StdEngine baseline,
  * /root/reference/src/algos/StdFind.hpp:25-46).
  */
case class TokensMatch(child: Expression, pred: TokenPredicate) extends UnaryExpression {
  override def dataType: DataType = BooleanType
  override def prettyName: String = pred.decodedName

  def matches(arr: ArrayData): Boolean = pred.evalDecoded(arr.toIntArray())

  override protected def nullSafeEval(v: Any): Any = matches(v.asInstanceOf[ArrayData])

  // stays inside WholeStageCodegen: one static-shaped call per row
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("tokensMatch", this, classOf[TokensMatch].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.matches($c);")
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** A token predicate evaluated directly on one compressed row — the
  * engine's raison d'être (the reference's compressed-domain LIKE,
  * reference `src/algos/Comet.hpp:63-96`). The predicate's row test is
  * prepared once per (codec, header) and cached per thread, so per-row eval
  * is one cache probe plus the codec's own kernel.
  */
case class CompressedMatch(enc: Expression, header: Expression, codecName: Expression,
                           pred: TokenPredicate) extends TernaryExpression {
  @transient private lazy val prepared = new CodecHeaderCache(pred.prepare)
  override def first: Expression = enc
  override def second: Expression = header
  override def third: Expression = codecName
  override def dataType: DataType = BooleanType
  override def prettyName: String = pred.compressedName

  def matches(bytes: Array[Byte], headerBytes: Array[Byte], codecU: UTF8String): Boolean = {
    val test = prepared.get(codecU.toString, headerBytes)
    test != null && test(bytes, 0, bytes.length)
  }

  override protected def nullSafeEval(e: Any, h: Any, c: Any): Any =
    matches(e.asInstanceOf[Array[Byte]], h.asInstanceOf[Array[Byte]], c.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("compressedMatch", this, classOf[CompressedMatch].getName)
    nullSafeCodeGen(ctx, ev, (e, h, c) => s"${ev.value} = $ref.matches($e, $h, $c);")
  }

  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression) =
    copy(enc = f, header = s, codecName = t)
}

/** An expression evaluated once per CHUNK row: every child is evaluated and
  * the values go, boxed in one array, to [[evalChunk]]; a null child yields
  * an empty array. Codegen'd (one call per chunk) so the enclosing scan +
  * Generate stay inside a single WholeStageCodegen stage.
  */
trait PerChunkExpression extends Expression {
  override def nullable: Boolean = false

  def evalChunk(vals: Array[Any]): ArrayData

  def emptyResult(): ArrayData = new GenericArrayData(Array.empty[Any])

  override def eval(input: InternalRow): Any = {
    val vals = children.map(_.eval(input)).toArray[Any]
    if (vals.contains(null)) emptyResult() else evalChunk(vals)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("perChunk", this, classOf[PerChunkExpression].getName)
    val evals = children.map(_.genCode(ctx))
    val anyNull = evals.map(_.isNull).mkString(" || ")
    val boxed = children.zip(evals).map { case (c, e) =>
      if (CodeGenerator.isPrimitiveType(c.dataType))
        s"${CodeGenerator.boxedType(c.dataType)}.valueOf(${e.value})"
      else e.value.toString
    }
    val code =
      code"""
        ${evals.map(_.code).mkString("\n")}
        ${classOf[ArrayData].getName} ${ev.value} = null;
        if ($anyNull) {
          ${ev.value} = $ref.emptyResult();
        } else {
          ${ev.value} = $ref.evalChunk(new Object[] {${boxed.mkString(", ")}});
        }
      """
    ev.copy(code = code, isNull = FalseLiteral)
  }
}

/** Chunk-granularity scan: evaluates a token predicate over ALL rows of a
  * chunk in one call and returns the matching doc_ids — the direct analog
  * of Engine::Scan filling a row-id vector
  * (reference `src/BenchmarkDriver.hpp:58-59`). The predicate's stats
  * gate runs first (zone map, bloom, FSST set cover: a gated chunk never
  * touches `data`), then its row test is prepared once for the chunk (null
  * = exact whole-chunk gate), then one loop walks rows and the id slab.
  */
case class ChunkDocIds(children: Seq[Expression], pred: TokenPredicate)
    extends PerChunkExpression {
  // children: doc_ids, data, offsets, row_count, symtab, codec,
  // then the predicate's statsFields
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = pred.chunkName

  def evalChunk(v: Array[Any]): ArrayData = {
    val header = v(4).asInstanceOf[Array[Byte]]
    val codec = v(5).toString
    if (!pred.gate(codec, header, v.drop(6))) return emptyResult()
    val test = pred.prepare(codec, header)
    if (test == null) return emptyResult()
    val data = v(1).asInstanceOf[Array[Byte]]
    val rowCount = v(3).asInstanceOf[Int]
    val offs = Offsets.unpack(v(2).asInstanceOf[Array[Byte]], rowCount)
    val ids = new PackedIds.Cursor(v(0).asInstanceOf[Array[Byte]])
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var i = 0
    while (i < rowCount) {
      if (test(data, offs(i), offs(i + 1))) out += ids.next() else ids.skip()
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]) =
    copy(children = cs)
}

/** Token count of an ENCODED row, read from the uniform varUInt(n) row
  * prefix every codec writes — O(prefix bytes) per row, no decode. The
  * pushdown rule rewrites `size(decode_row(enc,…))` into this, so length
  * filters and length projections on the encoded view never touch a
  * decoder (document-length filtering is a standard training-pipeline
  * gate).
  */
case class RowTokenCount(enc: Expression) extends UnaryExpression {
  override def child: Expression = enc
  override def dataType: DataType = IntegerType
  override def prettyName: String = "row_token_count"

  def count(bytes: Array[Byte]): Int = {
    var pos = 0
    var n = 0
    var shift = 0
    var b = 0
    do {
      b = bytes(pos) & 0xff; pos += 1
      n |= (b & 0x7f) << shift; shift += 7
    } while ((b & 0x80) != 0)
    n
  }

  override protected def nullSafeEval(v: Any): Any =
    count(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("rowTokenCount", this, classOf[RowTokenCount].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.count($c);")
  }

  override protected def withNewChildInternal(c: Expression) = copy(enc = c)
}

/** One chunk's evaluated columns, in the generators' child order: doc_ids,
  * data, offsets, row_count, then symtab, codec and any stats columns.
  */
final class ChunkInput(vals: Array[Any]) {
  def ids: Array[Byte] = vals(0).asInstanceOf[Array[Byte]]
  val data: Array[Byte] = vals(1).asInstanceOf[Array[Byte]]
  val rows: Int = vals(3).asInstanceOf[Int]
  lazy val offs: Array[Int] = Offsets.unpack(vals(2).asInstanceOf[Array[Byte]], rows)
  def header: Array[Byte] = vals(4).asInstanceOf[Array[Byte]]
  def codec: String = vals(5).toString
  def stats: Array[Any] = vals.drop(6)
}

/** One chunk's per-document output: `count(i)` rows for document i (one by
  * default), the j-th built by `row`.
  */
abstract class DocRows {
  def count(i: Int): Int = 1
  def row(id: UTF8String, i: Int, j: Int): InternalRow
}

/** Base of the lazy per-document generators over a chunk table: evaluates
  * the chunk's columns once, runs the subclass's chunk kernel (which never
  * decodes a row into a token array), then walks the packed id slab —
  * each doc id a zero-copy UTF8String view that GenerateExec's output
  * projection copies before the next row is requested.
  */
abstract class DocRowsGenerator extends Expression with Generator with CodegenFallback {
  protected def kernel(c: ChunkInput): DocRows

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val c = new ChunkInput(children.map(_.eval(input)).toArray[Any])
    if (c.rows == 0) return Iterator.empty
    val per = kernel(c)
    val ids = new PackedIds.Cursor(c.ids)
    new Iterator[InternalRow] {
      private var i = -1
      private var j = 0
      private var n = 0
      private var id: UTF8String = _
      private def advance(): Unit =
        while (j >= n && i + 1 < c.rows) {
          i += 1; j = 0
          id = ids.next()
          n = per.count(i)
        }
      advance()
      def hasNext: Boolean = j < n
      def next(): InternalRow = {
        val r = per.row(id, i, j)
        j += 1
        advance()
        r
      }
    }
  }
}

/** encoded_rows(doc_ids, data, offsets, row_count) — one (doc_id, enc) row
  * per encoded document straight off the chunk's two packed slabs; `enc` is
  * the row's byte slice, the only per-row allocation. Replaces the round-4
  * `arrays_zip(unpack_ids, row_slices) + explode` formulation, which
  * materialized ALL row slices plus an id array (~2× chunk memory) before
  * exploding.
  */
case class EncodedRowsGenerator(children: Seq[Expression]) extends DocRowsGenerator {
  override def elementSchema: StructType = StructType(Seq(
    StructField("doc_id", StringType, nullable = false),
    StructField("enc", BinaryType, nullable = false)))
  override def prettyName: String = "encoded_rows"
  protected def kernel(c: ChunkInput): DocRows = (id, i, _) =>
    new GenericInternalRow(Array[Any](id,
      java.util.Arrays.copyOfRange(c.data, c.offs(i), c.offs(i + 1))))
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]) =
    copy(children = cs)
}

/** row_meta(doc_ids, data, offsets, row_count) — one (doc_id, n_tok) row
  * per encoded document, reading ONLY the id slab and each row's leading
  * varint token count: the metadata projection that drives planning-style
  * operators (sequence packing, length stats, sampling manifests) off a
  * compressed table at file-metadata cost. One reused output row.
  */
case class RowMetaGenerator(children: Seq[Expression]) extends DocRowsGenerator {
  override def elementSchema: StructType = StructType(Seq(
    StructField("doc_id", StringType, nullable = false),
    StructField("n_tok", IntegerType, nullable = false)))
  override def prettyName: String = "row_meta"
  protected def kernel(c: ChunkInput): DocRows = {
    val nToks = SetCountMatch.rowTokenCounts(c.data, c.offs, c.rows)
    val out = new GenericInternalRow(2)
    (id, i, _) => { out.update(0, id); out.setInt(1, nToks(i)); out }
  }
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]) =
    copy(children = cs)
}

/** content_hashes(doc_ids, data, offsets, row_count, symtab, codec) — one
  * (doc_id, h1, h2) row per encoded document, (h1, h2) the 128-bit
  * compressed-domain content hash of its token sequence (HashMatch: FSST
  * code-fragment streaming, RLE closed-form run folds, dict/packed table
  * loads). Downstream groupBy(h1, h2) dedups exactly while shuffling
  * 16-byte keys instead of token payloads.
  */
case class ContentHashesGenerator(children: Seq[Expression]) extends DocRowsGenerator {
  override def elementSchema: StructType = StructType(Seq(
    StructField("doc_id", StringType, nullable = false),
    StructField("h1", LongType, nullable = false),
    StructField("h2", LongType, nullable = false)))
  override def prettyName: String = "content_hashes"
  protected def kernel(c: ChunkInput): DocRows = {
    val (h1, h2) = HashMatch.chunkRowHashes(c.codec, c.header, c.data, c.offs, c.rows)
    (id, i, _) => new GenericInternalRow(Array[Any](id, h1(i), h2(i)))
  }
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]) =
    copy(children = cs)
}

/** minhash_rows(doc_ids, data, offsets, row_count, symtab, codec) — one
  * (doc_id, grams, sig, n_tok) row per encoded document with at least
  * `shingleN` tokens: the k-permutation MinHash signature and the sorted
  * distinct shingle-hash set, streamed off the codec's wire format through
  * a rolling window (core/MinHashMatch) — bit-identical to ShingleHashes +
  * MinHashSig on the decoded array. Shorter rows are dropped, mirroring the
  * decoded path's `n_tok >= shingleN` filter (their all-sentinel signatures
  * would band every short row with every other). With collectGrams=false
  * the grams column is empty — sig-only callers skip the gram allocation.
  */
case class MinHashRowsGenerator(children: Seq[Expression], shingleN: Int, numHashes: Int,
                                seed: Long, collectGrams: Boolean) extends DocRowsGenerator {
  override def elementSchema: StructType = StructType(Seq(
    StructField("doc_id", StringType, nullable = false),
    StructField("grams", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("sig", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("n_tok", IntegerType, nullable = false)))
  override def prettyName: String = "minhash_rows"
  protected def kernel(c: ChunkInput): DocRows = {
    val (grams, sigs, nToks) = MinHashMatch.chunkRowSigs(c.codec, c.header, c.data,
      c.offs, c.rows, shingleN, numHashes, seed, collectGrams)
    val empty = UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    new DocRows {
      override def count(i: Int): Int = if (nToks(i) >= shingleN) 1 else 0
      def row(id: UTF8String, i: Int, j: Int): InternalRow = new GenericInternalRow(Array[Any](id,
        if (collectGrams) UnsafeArrayData.fromPrimitiveArray(grams(i)) else empty,
        UnsafeArrayData.fromPrimitiveArray(sigs(i)), nToks(i)))
    }
  }
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]) =
    copy(children = cs)
}

/** simhash_rows(doc_ids, data, offsets, row_count, symtab, codec) — one
  * (doc_id, sig) row per encoded document, sig the 64-bit unigram SimHash
  * streamed off the codec's wire format through the majority-vote
  * accumulator (core/SimHashMatch) — bit-identical to SimHash64 on the
  * decoded array. Every row is emitted (an empty row hashes to 0 on both
  * paths).
  */
case class SimHashRowsGenerator(children: Seq[Expression]) extends DocRowsGenerator {
  override def elementSchema: StructType = StructType(Seq(
    StructField("doc_id", StringType, nullable = false),
    StructField("sig", LongType, nullable = false)))
  override def prettyName: String = "simhash_rows"
  protected def kernel(c: ChunkInput): DocRows = {
    val sigs = SimHashMatch.chunkRowSigs(c.codec, c.header, c.data, c.offs, c.rows)
    (id, i, _) => new GenericInternalRow(Array[Any](id, sigs(i)))
  }
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]) =
    copy(children = cs)
}

/** winnow_rows(doc_ids, data, offsets, row_count, symtab, codec) — one
  * (doc_id, fingerprint) row per encoded document: the winnowing signature
  * (k-gram rolling hashes, minimum per window of w, distinct sorted)
  * streamed off the codec's wire format (core/WinnowMatch) — bit-identical
  * to WinnowFingerprint on the decoded array. Rows shorter than the gram
  * length get an empty fingerprint, same as the decoded expression.
  */
case class WinnowRowsGenerator(children: Seq[Expression], k: Int, w: Int)
    extends DocRowsGenerator {
  override def elementSchema: StructType = StructType(Seq(
    StructField("doc_id", StringType, nullable = false),
    StructField("fingerprint", ArrayType(LongType, containsNull = false), nullable = false)))
  override def prettyName: String = "winnow_rows"
  protected def kernel(c: ChunkInput): DocRows = {
    val fps = WinnowMatch.chunkRowFingerprints(c.codec, c.header, c.data, c.offs, c.rows, k, w)
    (id, i, _) => new GenericInternalRow(Array[Any](id, UnsafeArrayData.fromPrimitiveArray(fps(i))))
  }
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]) =
    copy(children = cs)
}

/** span_blocks(doc_ids, data, offsets, row_count, symtab, codec) — one
  * (doc_id, blk, h1, h2) row per non-overlapping k-token block of each
  * encoded document, (h1, h2) the 128-bit polynomial block hash
  * (core/SpanMatch, HashMatch's lanes) streamed off the codec's wire format.
  * Trailing partial blocks are dropped, mirroring the decoded path.
  */
case class SpanBlocksGenerator(children: Seq[Expression], k: Int) extends DocRowsGenerator {
  override def elementSchema: StructType = StructType(Seq(
    StructField("doc_id", StringType, nullable = false),
    StructField("blk", IntegerType, nullable = false),
    StructField("h1", LongType, nullable = false),
    StructField("h2", LongType, nullable = false)))
  override def prettyName: String = "span_blocks"
  protected def kernel(c: ChunkInput): DocRows = {
    val (l1, l2) = SpanMatch.chunkRowBlocks(c.codec, c.header, c.data, c.offs, c.rows, k)
    new DocRows {
      override def count(i: Int): Int = l1(i).length
      def row(id: UTF8String, i: Int, b: Int): InternalRow =
        new GenericInternalRow(Array[Any](id, b, l1(i)(b), l2(i)(b)))
    }
  }
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]) =
    copy(children = cs)
}

/** set_counts(doc_ids, data, offsets, row_count, symtab, codec, min_tok,
  * max_tok, bloom) — one (doc_id, n_tok, n_in_set) row per encoded
  * document, n_in_set counting its tokens in the literal set — blocklist
  * density / rare-token scoring off compressed storage
  * (core/SetCountMatch). A chunk the set predicate's stats gate excludes
  * emits its rows at METADATA cost (id slab + each row's leading varint)
  * with n_in_set = 0, never touching the data plane.
  */
case class SetCountsGenerator(children: Seq[Expression], tokens: Seq[Int])
    extends DocRowsGenerator {
  private val pred = SetPredicate(tokens)
  private val sorted: Array[Int] = SetMatch.sortedSet(tokens.toArray)
  override def elementSchema: StructType = StructType(Seq(
    StructField("doc_id", StringType, nullable = false),
    StructField("n_tok", IntegerType, nullable = false),
    StructField("n_in_set", LongType, nullable = false)))
  override def prettyName: String = "set_counts"
  protected def kernel(c: ChunkInput): DocRows =
    if (!pred.gate(c.codec, c.header, c.stats)) {
      val nToks = SetCountMatch.rowTokenCounts(c.data, c.offs, c.rows)
      (id, i, _) => new GenericInternalRow(Array[Any](id, nToks(i), 0L))
    } else {
      val (counts, nToks) =
        SetCountMatch.chunkRowSetCounts(c.codec, c.header, c.data, c.offs, c.rows, sorted)
      (id, i, _) => new GenericInternalRow(Array[Any](id, nToks(i), counts(i)))
    }
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]) =
    copy(children = cs)
}

/** token_pos(doc_ids, data, offsets, row_count, symtab, codec, min_tok,
  * max_tok, bloom) — one (doc_id, n_tok, first_pos) row per encoded
  * document, first_pos the 1-based position of the target token's first
  * occurrence (0 when absent) — `array_position` / split-point discovery
  * off compressed storage (core/PosMatch). Gated like SetCountsGenerator
  * with a single-token set: an excluded chunk emits first_pos = 0 at
  * metadata cost.
  */
case class TokenPosGenerator(children: Seq[Expression], target: Int) extends DocRowsGenerator {
  private val pred = SetPredicate(Seq(target))
  override def elementSchema: StructType = StructType(Seq(
    StructField("doc_id", StringType, nullable = false),
    StructField("n_tok", IntegerType, nullable = false),
    StructField("first_pos", IntegerType, nullable = false)))
  override def prettyName: String = "token_pos"
  protected def kernel(c: ChunkInput): DocRows =
    if (!pred.gate(c.codec, c.header, c.stats)) {
      val nToks = SetCountMatch.rowTokenCounts(c.data, c.offs, c.rows)
      (id, i, _) => new GenericInternalRow(Array[Any](id, nToks(i), 0))
    } else {
      val (poss, nToks) =
        PosMatch.chunkFirstPositions(c.codec, c.header, c.data, c.offs, c.rows, target)
      (id, i, _) => new GenericInternalRow(Array[Any](id, nToks(i), poss(i)))
    }
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]) =
    copy(children = cs)
}

/** quality_profiles(doc_ids, data, offsets, row_count, symtab, codec) — one
  * (doc_id, n_tok, n_distinct, max_run, top_cnt) row per encoded document:
  * the token-domain quality profile (exact distinct count, longest
  * equal-token run, mode weight) computed in each codec's wire format
  * (core/QualityMatch) — a C4/Gopher-style quality gate over a compressed
  * corpus without decoding a single token array.
  */
case class QualityGenerator(children: Seq[Expression]) extends DocRowsGenerator {
  override def elementSchema: StructType = StructType(Seq(
    StructField("doc_id", StringType, nullable = false),
    StructField("n_tok", IntegerType, nullable = false),
    StructField("n_distinct", IntegerType, nullable = false),
    StructField("max_run", IntegerType, nullable = false),
    StructField("top_cnt", IntegerType, nullable = false)))
  override def prettyName: String = "quality_profiles"
  protected def kernel(c: ChunkInput): DocRows = {
    val p = QualityMatch.chunkRowProfiles(c.codec, c.header, c.data, c.offs, c.rows)
    (id, i, _) => new GenericInternalRow(Array[Any](id, p.nTok(i),
      p.nDistinct(i), p.maxRun(i), p.topCnt(i)))
  }
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]) =
    copy(children = cs)
}

/** Chunk-granularity token histogram: (token, count) pairs for one whole
  * chunk computed in the codec's own compressed domain (CountMatch kernels) —
  * code-byte counting + one symbol expansion for FSST, run-sum for RLE,
  * index counting for dict, packed-value counting for for/bitpack. No decoded
  * row ever materializes; downstream `explode` + groupBy(token) merges chunk
  * histograms under Spark's partial aggregation, so the shuffle carries at
  * most |vocabulary| rows per map task regardless of corpus size.
  */
case class ChunkTokenCounts(children: Seq[Expression]) extends PerChunkExpression {
  // children: data, offsets, row_count, symtab, codec, min_tok, max_tok
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("tok", IntegerType, nullable = false),
    StructField("cnt", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "chunk_token_counts"

  def evalChunk(v: Array[Any]): ArrayData = {
    val rowCount = v(2).asInstanceOf[Int]
    val offs = Offsets.unpack(v(1).asInstanceOf[Array[Byte]], rowCount)
    // stats-driven sink: dense fold when the span fits, sorted fold when it
    // does not (CountMatch.TokenSortedFold — replaces the sparse LongMap)
    val (toks, cnts) = CountMatch.chunkCountsAuto(v(4).toString, v(3).asInstanceOf[Array[Byte]],
      v(0).asInstanceOf[Array[Byte]], offs, rowCount, v(5).asInstanceOf[Int], v(6).asInstanceOf[Int])
    val rows = new Array[Any](toks.length)
    var i = 0
    while (i < toks.length) {
      rows(i) = new GenericInternalRow(Array[Any](toks(i), cnts(i)))
      i += 1
    }
    new GenericArrayData(rows)
  }

  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]) =
    copy(children = cs)
}

/** bigram_counts(data, offsets, row_count, symtab, codec, min_tok, max_tok) —
  * lazy generator emitting one (t1, t2, cnt) row per DISTINCT adjacent token
  * pair of the chunk, computed in the codec's compressed domain
  * (CountMatch.chunkBigrams) — the pair-count statistic behind BPE-style
  * merge analysis, without decoding a row. FSST counts a 256×256
  * code-transition matrix + per-code occurrences and expands both once per
  * chunk; RLE contributes (v,v)×(run−1) per run. Rows stream straight off
  * the counter's three primitive result arrays through ONE reused mutable
  * row (GenerateExec projects each emitted row to unsafe before the next
  * call) — the previous eager-expression + explode shape materialized every
  * distinct pair twice (boxed struct array, then explode's copy) before the
  * partial aggregate saw it, which on wide-vocab chunks allocated millions
  * of short-lived rows per chunk.
  */
case class BigramCountsGenerator(children: Seq[Expression])
    extends Expression with Generator with CodegenFallback {
  // children: data, offsets, row_count, symtab, codec, min_tok, max_tok
  // (t1, t2) is emitted PACKED into one long — (t1 << 32) | (t2 zero-
  // extended), a bijection that round-trips any int32 pair exactly — so the
  // downstream groupBy aggregates one 8-byte key instead of two int columns
  // (narrower agg-buffer rows, one-column hashing); the consumer unpacks
  // after the aggregation (query/Graft.bigramHistogram).
  override def elementSchema: StructType = StructType(Seq(
    StructField("pair", LongType, nullable = false),
    StructField("cnt", LongType, nullable = false)))
  override def prettyName: String = "bigram_counts"

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val vals = children.map(_.eval(input))
    if (vals.contains(null)) return Iterator.empty
    val rowCount = vals(2).asInstanceOf[Int]
    if (rowCount == 0) return Iterator.empty
    val offs = Offsets.unpack(vals(1).asInstanceOf[Array[Byte]], rowCount)
    // stats-driven sink: narrow spans fold per chunk (dense counter), wide
    // spans stream raw triples — the sparse-map fold was the dominant cost
    // of the compressed bigram histogram (see CountMatch.BigramAppender)
    val (t1s, t2s, cnts) = CountMatch.chunkBigramsAuto(
      vals(4).asInstanceOf[UTF8String].toString, vals(3).asInstanceOf[Array[Byte]],
      vals(0).asInstanceOf[Array[Byte]], offs, rowCount,
      vals(5).asInstanceOf[Int], vals(6).asInstanceOf[Int])
    val out = new GenericInternalRow(2)
    new Iterator[InternalRow] {
      private var i = 0
      def hasNext: Boolean = i < t1s.length
      def next(): InternalRow = {
        out.setLong(0, (t1s(i).toLong << 32) | (t2s(i).toLong & 0xffffffffL))
        out.setLong(1, cnts(i))
        i += 1
        out
      }
    }
  }

  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]) =
    copy(children = cs)
}
