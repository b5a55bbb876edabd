package graft.pipeline

import graft.core.{ChunkWalker, MinHashMatch, SimHashMatch, WinnowMatch}
import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Dedup/fingerprint kernels as native Catalyst expressions (eval-mode) —
  * the building blocks for MinHash/SimHash/winnowing over the `tokens`
  * column. All hashing is splitmix64-derived and seed-deterministic, so
  * signatures are reproducible across runs and cluster sizes.
  */
object Hashing {
  @inline def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
}

/** shingle_hashes(tokens, n): sorted distinct 64-bit hashes of all n-token
  * shingles — the set representation for Jaccard/MinHash. The row runs
  * through MinHashMatch's gram collector (zero signature lanes), the same
  * sink the encoded path streams chunks through.
  */
case class ShingleHashes(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {
  require(n >= 1, s"shingle length must be >= 1, got $n")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"
  // scratch sink reset per row; an expression instance runs in one task thread
  @transient private lazy val acc = new MinHashMatch.SigAcc(n, 0, 0L, collectGrams = true)
  override protected def nullSafeEval(v: Any): Any = {
    ChunkWalker.walkRow(0, v.asInstanceOf[ArrayData].toIntArray(), acc)
    new GenericArrayData(acc.gramSet())
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** minhash_sig(shingles, k, seed): k-permutation MinHash signature. */
case class MinHashSig(child: Expression, k: Int, seed: Long)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"
  // lane seeds are row-independent; one mix per lane per task, not per row
  @transient private lazy val hseeds: Array[Long] =
    Array.tabulate(k)(i => Hashing.mix64(seed + i))
  override protected def nullSafeEval(v: Any): Any = {
    val shingles = v.asInstanceOf[ArrayData].toLongArray()
    val sig = new Array[Long](k)
    var i = 0
    while (i < k) {
      val hseed = hseeds(i)
      var min = Long.MaxValue
      var j = 0
      while (j < shingles.length) {
        val h = Hashing.mix64(shingles(j) ^ hseed)
        if (h < min) min = h
        j += 1
      }
      sig(i) = min // empty set → MaxValue sentinel (only equal to other empties)
      i += 1
    }
    new GenericArrayData(sig)
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** simhash64(tokens): 64-bit SimHash over unigram token hashes, computed by
  * SimHashMatch's majority-vote sink (the encoded path's sink).
  */
case class SimHash64(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"
  // scratch sink reset per row; an expression instance runs in one task thread
  @transient private lazy val acc = new SimHashMatch.SimAcc
  override protected def nullSafeEval(v: Any): Any = {
    ChunkWalker.walkRow(0, v.asInstanceOf[ArrayData].toIntArray(), acc)
    java.lang.Long.valueOf(acc.sig)
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** winnow_fingerprint(tokens, k, w): winnowing document fingerprint —
  * k-gram rolling hashes, minimum per window of w, distinct sorted. Standard
  * winnowing (Schleimer/Wilkerson/Aiken, SIGMOD'03) over the token alphabet,
  * computed by WinnowMatch's sliding-minimum sink (the encoded path's sink).
  */
case class WinnowFingerprint(child: Expression, k: Int, w: Int)
    extends UnaryExpression with CodegenFallback {
  require(k >= 1 && w >= 1, s"winnowing needs k >= 1 and w >= 1, got k=$k w=$w")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_fingerprint"
  // scratch sink reset per row; an expression instance runs in one task thread
  @transient private lazy val acc = new WinnowMatch.FpAcc(k, w)
  override protected def nullSafeEval(v: Any): Any = {
    ChunkWalker.walkRow(0, v.asInstanceOf[ArrayData].toIntArray(), acc)
    new GenericArrayData(acc.fingerprint())
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** cosine_sim(a, b) over float arrays — a primitive-loop expression; the
  * higher-order-function formulation (zip_with + aggregate) measured ~0.5 ms
  * per pair, which makes exact pair joins infeasible.
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"
  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData].toFloatArray()
    val b = r.asInstanceOf[ArrayData].toFloatArray()
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val x = a(i).toDouble
      val y = b(i).toDouble
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** lsh_buckets(emb): random-hyperplane sign buckets for nTables independent
  * tables of nBits each — one primitive pass per row instead of
  * nTables × nBits higher-order aggregates.
  */
case class LshBuckets(child: Expression, nBits: Int, nTables: Int, seed: Long)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "lsh_buckets"
  override protected def nullSafeEval(v: Any): Any = {
    val emb = v.asInstanceOf[ArrayData].toFloatArray()
    // hyperplane signs are row-independent — resolve the ±1 table once per
    // (params, dims) per JVM instead of nTables×nBits×dims mix64 calls per
    // row; dot accumulation order and values are unchanged
    val tab = LshBuckets.signTable(seed, nBits, nTables, emb.length)
    val out = new Array[Long](nTables)
    var t = 0
    while (t < nTables) {
      var bucket = 0L
      var b = 0
      while (b < nBits) {
        val off = (t * nBits + b) * emb.length
        var dot = 0.0
        var d = 0
        while (d < emb.length) {
          dot += emb(d) * tab(off + d)
          d += 1
        }
        if (dot >= 0) bucket |= (1L << b)
        b += 1
      }
      out(t) = bucket
      t += 1
    }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

object LshBuckets {
  private val tables =
    new java.util.concurrent.ConcurrentHashMap[(Long, Int, Int, Int), Array[Double]]()
  private[pipeline] def signTable(seed: Long, nBits: Int, nTables: Int,
                                  dims: Int): Array[Double] =
    tables.computeIfAbsent((seed, nBits, nTables, dims), _ => {
      val tab = new Array[Double](nTables * nBits * dims)
      var t = 0
      while (t < nTables) {
        var b = 0
        while (b < nBits) {
          var d = 0
          while (d < dims) {
            tab((t * nBits + b) * dims + d) =
              if ((Hashing.mix64(seed + 1000L * t + b.toLong * 131071L + d) & 1L) == 1L) 1.0 else -1.0
            d += 1
          }
          b += 1
        }
        t += 1
      }
      tab
    })
}

/** sign_dots(emb): dot products of the embedding against nCentroids
  * deterministic ±1 sign vectors (centroid t, dim d: sign of
  * mix64(seed + 1000t + d) & 1). The coarse quantizer for the
  * SQL-reproducible IVF variant: cell = argmax dot (all sign centroids have
  * equal norm, so argmax dot = argmin L2).
  */
case class SignDots(child: Expression, nCentroids: Int, seed: Long)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "sign_dots"
  override protected def nullSafeEval(v: Any): Any = {
    val emb = v.asInstanceOf[ArrayData].toFloatArray()
    // centroid signs are row-independent — table resolved once per
    // (params, dims) per JVM; accumulation order and values unchanged
    val tab = SignDots.signTable(seed, nCentroids, emb.length)
    val out = new Array[Double](nCentroids)
    var t = 0
    while (t < nCentroids) {
      val off = t * emb.length
      var dot = 0.0
      var d = 0
      while (d < emb.length) {
        dot += emb(d) * tab(off + d)
        d += 1
      }
      out(t) = dot
      t += 1
    }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

object SignDots {
  private val tables =
    new java.util.concurrent.ConcurrentHashMap[(Long, Int, Int), Array[Double]]()
  private[pipeline] def signTable(seed: Long, nCentroids: Int,
                                  dims: Int): Array[Double] =
    tables.computeIfAbsent((seed, nCentroids, dims), _ => {
      val tab = new Array[Double](nCentroids * dims)
      var t = 0
      while (t < nCentroids) {
        var d = 0
        while (d < dims) {
          tab(t * dims + d) =
            if ((Hashing.mix64(seed + 1000L * t + d) & 1L) == 1L) 1.0 else -1.0
          d += 1
        }
        t += 1
      }
      tab
    })
}

/** sample_bucket(id, m): splitmix64(id) mod m, UNSIGNED — the deterministic
  * sampling key for stratified mixture sampling. A pure function of the row,
  * so the keep/drop decision is reproducible under task retry and speculative
  * execution (a rand() sample is not exactly-once there), uniform regardless
  * of id structure, and engine-portable: unsigned remainder matches DuckDB's
  * `UBIGINT % m`, so the oracle reproduces the decision bit-for-bit.
  */
case class SampleBucket(child: Expression, m: Int) extends UnaryExpression
    with ExpectsInputTypes {
  require(m > 0, "modulus must be positive")
  override def inputTypes = Seq(LongType)
  override def dataType: DataType = IntegerType
  override def prettyName: String = "sample_bucket"
  override protected def nullSafeEval(v: Any): Any =
    java.lang.Long.remainderUnsigned(Hashing.mix64(v.asInstanceOf[Long]), m.toLong).toInt
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode) =
    defineCodeGen(ctx, ev, c =>
      s"(int) java.lang.Long.remainderUnsigned(graft.pipeline.Hashing.mix64($c), ${m}L)")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

object PipelineFunctions {
  import GraftBridge.{column => mk, expression => ex}
  def shingleHashes(tokens: Column, n: Int): Column = mk(ShingleHashes(ex(tokens), n))
  def sampleBucket(id: Column, m: Int): Column = mk(SampleBucket(ex(id), m))
  def minhashSig(shingles: Column, k: Int, seed: Long): Column = mk(MinHashSig(ex(shingles), k, seed))
  def simhash64(tokens: Column): Column = mk(SimHash64(ex(tokens)))
  def winnowFingerprint(tokens: Column, k: Int, w: Int): Column = mk(WinnowFingerprint(ex(tokens), k, w))
  def cosineSim(a: Column, b: Column): Column = mk(CosineSim(ex(a), ex(b)))
  def lshBuckets(emb: Column, nBits: Int, nTables: Int, seed: Long): Column =
    mk(LshBuckets(ex(emb), nBits, nTables, seed))
  def signDots(emb: Column, nCentroids: Int, seed: Long): Column =
    mk(SignDots(ex(emb), nCentroids, seed))
}
