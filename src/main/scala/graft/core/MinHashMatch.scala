package graft.core

/** Compressed-domain MinHash: per-row shingle sets and k-permutation
  * signatures computed by streaming each codec's wire format through a
  * rolling n-token window (ChunkWalker) — no decoded token array, no
  * intermediate shingle array column, ever materializes in the plan.
  *
  * This is the only implementation of the shingle math: the decoded-array
  * expression pipeline.ShingleHashes feeds its row through [[SigAcc]] (zero
  * lanes), and pipeline.MinHashSig applies the same lanes to a shingle
  * array. Shingle hash = mix64-chained FNV-offset over the n window tokens;
  * lane i's value = min over shingles of mix64(shingle ^ mix64(seed + i));
  * empty set (row shorter than n) = Long.MaxValue sentinel lanes. Soak and
  * FingerprintSpec check every codec against a plain reference transcription
  * of these definitions.
  *
  * RLE fold: after n consecutive equal feeds the window is saturated and
  * every further feed of the same run emits the SAME all-v shingle —
  * duplicate shingles change neither the distinct gram set nor any lane
  * min, so a run of length r costs min(r, n) feeds, not r.
  */
object MinHashMatch {
  import graft.pipeline.Hashing.mix64

  private final val FnvOffset = 0xcbf29ce484222325L

  /** Rolling shingle window + minhash lanes + gram collector for one chunk;
    * reused across rows (reset per row).
    */
  class SigAcc(n: Int, k: Int, seed: Long, collectGrams: Boolean)
      extends TokenSink {
    private val hseeds: Array[Long] = Array.tabulate(k)(i => mix64(seed + i))
    private val ring = new Array[Int](n)
    private var fill = 0
    private var pos = 0
    val sig = new Array[Long](k)
    private var grams = new Array[Long](if (collectGrams) 256 else 0)
    private var ng = 0

    def rowStart(row: Int, nTok: Int): Unit = {
      fill = 0; pos = 0; ng = 0
      java.util.Arrays.fill(sig, Long.MaxValue)
    }
    def rowEnd(row: Int): Unit = {}

    def feed(t: Int): Unit = {
      ring(pos) = t
      pos += 1; if (pos == n) pos = 0
      if (fill < n) { fill += 1; if (fill < n) return }
      // shingle over the window, oldest token first (= ring(pos))
      var h = FnvOffset
      var j = 0
      var idx = pos
      while (j < n) {
        h = mix64(h ^ ring(idx))
        idx += 1; if (idx == n) idx = 0
        j += 1
      }
      if (collectGrams) {
        if (ng == grams.length) grams = java.util.Arrays.copyOf(grams, ng * 2)
        grams(ng) = h; ng += 1
      }
      var i = 0
      while (i < k) {
        val hh = mix64(h ^ hseeds(i))
        if (hh < sig(i)) sig(i) = hh
        i += 1
      }
    }

    /** n feeds of v saturate the window with v; every further feed of the
      * run repeats the identical all-v shingle — fold it to min(r, n) feeds.
      */
    override def feedRun(t: Int, r: Int): Unit = {
      val feeds = math.min(r, n)
      var i = 0
      while (i < feeds) { feed(t); i += 1 }
    }

    /** Sorted distinct shingle hashes fed since rowStart (sort-then-unique
      * on primitives, no boxed set).
      */
    def gramSet(): Array[Long] = {
      if (ng == 0) return Array.emptyLongArray
      val a = java.util.Arrays.copyOf(grams, ng)
      java.util.Arrays.sort(a)
      var w = 1
      var i = 1
      while (i < ng) {
        if (a(i) != a(w - 1)) { a(w) = a(i); w += 1 }
        i += 1
      }
      if (w == ng) a else java.util.Arrays.copyOf(a, w)
    }

    def sigCopy(): Array[Long] = java.util.Arrays.copyOf(sig, k)
  }

  /** Per-row (gram set, signature, token count) for one whole chunk, in the
    * codec's compressed domain. grams is null per row when collectGrams is
    * off (sig-only callers skip the per-row allocation entirely).
    */
  def chunkRowSigs(codec: String, header: Array[Byte], data: Array[Byte],
                   offs: Array[Int], rowCount: Int, n: Int, k: Int, seed: Long,
                   collectGrams: Boolean)
      : (Array[Array[Long]], Array[Array[Long]], Array[Int]) = {
    val gramsOut = new Array[Array[Long]](rowCount)
    val sigsOut = new Array[Array[Long]](rowCount)
    val nToks = new Array[Int](rowCount)
    val acc = new SigAcc(n, k, seed, collectGrams) {
      override def rowStart(row: Int, nTok: Int): Unit = {
        super.rowStart(row, nTok)
        nToks(row) = nTok
      }
      override def rowEnd(row: Int): Unit = {
        if (collectGrams) gramsOut(row) = gramSet()
        sigsOut(row) = sigCopy()
      }
    }
    ChunkWalker.walk(codec, header, data, offs, rowCount, acc)
    (gramsOut, sigsOut, nToks)
  }
}
