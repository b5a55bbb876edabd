package graft.core

/** Compressed-domain winnowing fingerprints: per-row selected k-gram window
  * minima computed by streaming each codec's wire format through a rolling
  * k-token gram window plus a monotonic-deque sliding minimum (ChunkWalker)
  * — no decoded token array in the plan.
  *
  * This is the only implementation of the winnowing math (the SIGMOD'03
  * scheme): the decoded-array expression pipeline.WinnowFingerprint feeds
  * its row through [[FpAcc]]. Gram hash = mix64-chained FNV-offset over k
  * window tokens; one window of width w per gram position (a single
  * whole-row window when the row has ≤ w grams); minima compared in
  * UNSIGNED 64-bit order; the fingerprint is the distinct selected minima
  * sorted in SIGNED order. Soak and FingerprintSpec check every codec against a
  * plain reference transcription of that definition.
  *
  * RLE fold: a run of r equal tokens is fed as min(r, k + w) tokens. The
  * first k-1 feeds are the transition grams (old ring content mixing out);
  * the remaining w+1 feeds produce all-v grams — enough that every
  * boundary-crossing window split (s run-grams + (w-s) following grams,
  * s = 1..w-1) and the steady-state all-v window still occur. The skipped
  * feeds would only repeat all-v windows or crossing windows with deeper
  * all-v prefixes, whose minima duplicate values already selected — the
  * distinct set is unchanged. The short-row single-window case cannot
  * straddle the fold: folding requires r ≥ k + w, which forces more than w
  * grams on both the real and folded streams.
  */
object WinnowMatch {
  import graft.pipeline.Hashing.mix64

  private final val FnvOffset = 0xcbf29ce484222325L

  /** Rolling k-gram window + w-wide monotonic-deque sliding minimum for one
    * chunk; reused across rows (reset per row).
    */
  class FpAcc(k: Int, w: Int) extends TokenSink {
    private val ring = new Array[Int](k)
    private var fill = 0
    private var pos = 0
    // monotonic deque over the last w gram hashes (strictly increasing in
    // unsigned order); at most w live entries → w+1-slot circular buffers
    private val dqIdx = new Array[Int](w + 1)
    private val dqVal = new Array[Long](w + 1)
    private var dqHead = 0
    private var dqTail = 0
    private var gi = 0 // gram index (number of grams emitted so far)
    private var sel = new Array[Long](64)
    private var ns = 0

    def rowStart(row: Int, n: Int): Unit = {
      fill = 0; pos = 0; gi = 0; ns = 0; dqHead = 0; dqTail = 0
    }

    def feed(t: Int): Unit = {
      ring(pos) = t
      pos += 1; if (pos == k) pos = 0
      if (fill < k) { fill += 1; if (fill < k) return }
      var h = FnvOffset
      var j = 0
      var idx = pos
      while (j < k) {
        h = mix64(h ^ ring(idx))
        idx += 1; if (idx == k) idx = 0
        j += 1
      }
      // pop dominated tail entries (>= h unsigned keeps the deque minimal)
      while (dqTail > dqHead &&
          java.lang.Long.compareUnsigned(dqVal((dqTail - 1) % (w + 1)), h) >= 0)
        dqTail -= 1
      dqIdx(dqTail % (w + 1)) = gi
      dqVal(dqTail % (w + 1)) = h
      dqTail += 1
      while (dqIdx(dqHead % (w + 1)) <= gi - w) dqHead += 1
      if (gi >= w - 1) emit(dqVal(dqHead % (w + 1))) // window [gi-w+1, gi]
      gi += 1
    }

    override def feedRun(t: Int, r: Int): Unit = {
      val feeds = math.min(r, k + w)
      var i = 0
      while (i < feeds) { feed(t); i += 1 }
    }

    private def emit(v: Long): Unit = {
      if (ns == sel.length) sel = java.util.Arrays.copyOf(sel, ns * 2)
      sel(ns) = v; ns += 1
    }

    def rowEnd(row: Int): Unit = {
      // short row (0 < grams < w): one whole-row window — its min is the
      // deque front (nothing ever left the window)
      if (gi > 0 && gi < w) emit(dqVal(dqHead % (w + 1)))
    }

    /** Distinct selected minima in SIGNED ascending order. */
    def fingerprint(): Array[Long] = {
      if (ns == 0) return Array.emptyLongArray
      val a = java.util.Arrays.copyOf(sel, ns)
      java.util.Arrays.sort(a)
      var wr = 1
      var i = 1
      while (i < ns) {
        if (a(i) != a(wr - 1)) { a(wr) = a(i); wr += 1 }
        i += 1
      }
      if (wr == ns) a else java.util.Arrays.copyOf(a, wr)
    }
  }

  /** Per-row winnowing fingerprints for one whole chunk, in the codec's
    * compressed domain.
    */
  def chunkRowFingerprints(codec: String, header: Array[Byte], data: Array[Byte],
                           offs: Array[Int], rowCount: Int, k: Int, w: Int)
      : Array[Array[Long]] = {
    val out = new Array[Array[Long]](rowCount)
    val acc = new FpAcc(k, w) {
      override def rowEnd(row: Int): Unit = {
        super.rowEnd(row)
        out(row) = fingerprint()
      }
    }
    ChunkWalker.walk(codec, header, data, offs, rowCount, acc)
    out
  }
}
