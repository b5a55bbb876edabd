package graft.core

/** Greedy, sample-driven symbol-table construction, re-derived from the
  * published FSST algorithm (Boncz/Neumann/Leis, PVLDB 13(11), 2020) for an
  * int32-token alphabet. The reference consumes this algorithm through the
  * FSST C API (fsst_create at /root/reference/src/FsstWrapper.cpp:16-29); we
  * re-implement it from the paper per the NOT-a-port mandate (SURVEY.md §0).
  *
  * Each generation: greedily re-encode the sample with the current table into
  * "units" (symbol occurrences or literal tokens); count every unit and every
  * concatenation of adjacent units (suffix extension) up to 8 tokens; score
  * candidates by gain = count × (escaped-literal byte cost − 1 code byte);
  * keep the top 255. Deterministic: ties broken by symbol content, so the same
  * sample always yields the same table (resume idempotence, SURVEY.md §7.3.6).
  *
  * Nothing is allocated per sample position: the sample is copied once into
  * a flat array, every unit and extension is a (from, len) range of that
  * array counted in a primitive open-addressing table reused across
  * generations, and the top 255 come from an index heap over a dense gain
  * array. The auto-selector trains a trial table on most chunks only to
  * price FSST, so training speed is encode speed.
  */
object FsstTrainer {

  val Generations = 5
  val DefaultSampleTokens: Int = 1 << 14 // 16Ki tokens — training amortizes over ≥256Ki-token chunks

  def train(rows: IndexedSeq[Array[Int]]): SymTab = train(TokenRows.ofArrays(rows))
  def train(rows: IndexedSeq[Array[Int]], maxSampleTokens: Int, generations: Int): SymTab =
    train(TokenRows.ofArrays(rows), maxSampleTokens, generations)

  def train(rows: TokenRows, maxSampleTokens: Int = DefaultSampleTokens,
            generations: Int = Generations): SymTab = {
    // Cap the sample: whole rows until the token budget is hit (the reference
    // trains on the whole 64Ki-row block; at Spark chunk sizes a capped sample
    // keeps training O(sample) while escapes absorb unseen tokens).
    var budget = maxSampleTokens
    var nRows = 0
    var total = 0L
    var ri = 0
    while (ri < rows.rowCount && budget > 0) {
      val n = rows.len(ri)
      if (n > 0) { nRows += 1; total += n; budget -= n }
      ri += 1
    }
    if (nRows == 0) return SymTab.empty
    require(total <= Int.MaxValue / 8, s"training sample too large: $total tokens")

    val toks = new Array[Int](total.toInt)
    val rowEnd = new Array[Int](nRows)
    var s = 0
    var at = 0
    var r = 0
    while (r < ri) {
      val n = rows.len(r)
      if (n > 0) {
        System.arraycopy(rows.buf(r), rows.start(r), toks, at, n)
        at += n
        rowEnd(s) = at
        s += 1
      }
      r += 1
    }
    // escCost(i) = byte cost of spelling toks[0, i) as escapes
    val escCost = new Array[Int](toks.length + 1)
    var i = 0
    while (i < toks.length) { escCost(i + 1) = escCost(i) + Varint.escapeCost(toks(i)); i += 1 }

    // every position starts at most one unit and one extension
    val grams = new GramCounts(toks, 2 * toks.length)
    var table = SymTab.empty
    var gen = 0
    while (gen < generations) {
      grams.clear()
      var rowFrom = 0
      s = 0
      while (s < nRows) {
        val end = rowEnd(s)
        var pos = rowFrom
        var prevFrom = -1
        var prevLen = 0
        while (pos < end) {
          val code = table.longestMatch(toks, pos, end)
          val uLen = if (code >= 0) table.symLen(code) else 1
          grams.bump(pos, uLen)
          if (prevFrom >= 0 && prevLen + uLen <= SymTab.MaxSymbolLen)
            grams.bump(prevFrom, prevLen + uLen) // suffix extension
          prevFrom = pos
          prevLen = uLen
          pos += uLen
        }
        rowFrom = end
        s += 1
      }
      table = grams.topTable(escCost)
      gen += 1
    }
    table
  }

  /** Counts of token sequences, each held as a (from, len) range of `toks`:
    * equal content is one key wherever it occurs. Dense key ids in
    * insertion order; `slot` maps hash position → id + 1 (0 = empty).
    */
  private final class GramCounts(toks: Array[Int], maxKeys: Int) {
    private val capacity = Integer.highestOneBit(math.max(2 * maxKeys - 1, 15)) << 1 // load ≤ 0.5
    private val mask = capacity - 1
    private val shift = 32 - Integer.numberOfTrailingZeros(capacity)
    private val slot = new Array[Int](capacity)
    private val keyFrom = new Array[Int](maxKeys)
    private val keyLen = new Array[Int](maxKeys)
    private val keyHash = new Array[Int](maxKeys)
    private val count = new Array[Int](maxKeys)
    private val gain = new Array[Long](maxKeys)
    private val heap = new Array[Int](SymTab.MaxSymbols)
    private var nKeys = 0

    def clear(): Unit = {
      java.util.Arrays.fill(slot, 0)
      nKeys = 0
    }

    def bump(from: Int, len: Int): Unit = {
      var h = 1
      var i = from
      val end = from + len
      while (i < end) { h = 31 * h + toks(i); i += 1 }
      var idx = (h * 0x9e3779b1) >>> shift
      while (true) {
        val k = slot(idx) - 1
        if (k < 0) {
          keyFrom(nKeys) = from
          keyLen(nKeys) = len
          keyHash(nKeys) = h
          count(nKeys) = 1
          nKeys += 1
          slot(idx) = nKeys
          return
        }
        if (keyHash(k) == h && keyLen(k) == len && sameTokens(keyFrom(k), from, len)) {
          count(k) += 1
          return
        }
        idx = (idx + 1) & mask
      }
    }

    private def sameTokens(a: Int, b: Int, len: Int): Boolean = {
      var i = 0
      while (i < len && toks(a + i) == toks(b + i)) i += 1
      i == len
    }

    /** Total order, best first: gain desc, shorter first, then tokens
      * lexicographically.
      */
    private def cmp(x: Int, y: Int): Int =
      if (gain(x) != gain(y)) java.lang.Long.compare(gain(y), gain(x))
      else if (keyLen(x) != keyLen(y)) Integer.compare(keyLen(x), keyLen(y))
      else {
        val fx = keyFrom(x)
        val fy = keyFrom(y)
        var i = 0
        var c = 0
        while (c == 0 && i < keyLen(x)) { c = Integer.compare(toks(fx + i), toks(fy + i)); i += 1 }
        c
      }

    /** The 255 best keys with positive gain, best first, as a table. The
      * heap keeps the worst kept key at its root.
      */
    def topTable(escCost: Array[Int]): SymTab = {
      var n = 0
      var k = 0
      while (k < nKeys) {
        val f = keyFrom(k)
        val g = count(k).toLong * (escCost(f + keyLen(k)) - escCost(f) - 1)
        gain(k) = g
        if (g > 0) {
          if (n < heap.length) { heap(n) = k; siftUp(n); n += 1 }
          else if (cmp(k, heap(0)) < 0) { heap(0) = k; siftDown(0, n) }
        }
        k += 1
      }
      // heapsort in place: popping the worst to the back leaves best first
      var m = n
      while (m > 1) {
        m -= 1
        val worst = heap(0)
        heap(0) = heap(m)
        heap(m) = worst
        siftDown(0, m)
      }
      val syms = new Array[Array[Int]](n)
      var i = 0
      while (i < n) {
        val f = keyFrom(heap(i))
        syms(i) = java.util.Arrays.copyOfRange(toks, f, f + keyLen(heap(i)))
        i += 1
      }
      new SymTab(syms)
    }

    private def siftUp(at: Int): Unit = {
      var c = at
      while (c > 0) {
        val p = (c - 1) >> 1
        if (cmp(heap(c), heap(p)) <= 0) return
        swap(c, p)
        c = p
      }
    }

    private def siftDown(at: Int, n: Int): Unit = {
      var p = at
      while (true) {
        val l = 2 * p + 1
        if (l >= n) return
        val r = l + 1
        val w = if (r < n && cmp(heap(r), heap(l)) > 0) r else l
        if (cmp(heap(w), heap(p)) <= 0) return
        swap(w, p)
        p = w
      }
    }

    private def swap(a: Int, b: Int): Unit = {
      val t = heap(a)
      heap(a) = heap(b)
      heap(b) = t
    }
  }
}
