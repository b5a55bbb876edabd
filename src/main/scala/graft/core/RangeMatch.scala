package graft.core

/** Value-range predicate evaluated in each codec's own compressed domain:
  * "does this row contain any token t with lo ≤ t ≤ hi". The range analog
  * of the LIKE family — the predicate the north_star's value-range
  * statistics exist for. No kernel ever decodes a row:
  *
  *   - fsst:    a 256-entry per-code table (does code c's EXPANSION
  *              intersect [lo,hi]) turns the scan into one load per code
  *              byte; escape literals zigzag-decode and compare in place.
  *   - dict:    the dictionary is sorted, so qualifying values form a
  *              CONTIGUOUS index interval [iLo,iHi] found by binary search;
  *              rows test bit-packed indices against the interval. An empty
  *              interval proves the whole chunk matchless (exact gate).
  *   - rle:     one compare per RUN, not per token.
  *   - for/bitpack: the range shifts into the packed delta domain
  *              ([lo-base, hi-base] clamped to the width mask) and packed
  *              words compare without materializing values.
  *   - raw:     streaming zigzag compare.
  *
  * Chunk granularity adds the zone-map gate: stats.min_tok/max_tok disjoint
  * from [lo,hi] skips the chunk without touching data — the token analog of
  * parquet min/max pruning, kept effective at 100 TB because chunks never
  * span sources (EncodeJob) and token locality follows source locality.
  */
object RangeMatch {

  /** Zone-map gate: can any token of a chunk with [minTok,maxTok] fall in
    * [lo,hi]? */
  @inline def chunkOverlaps(minTok: Int, maxTok: Int, lo: Int, hi: Int): Boolean =
    lo <= maxTok && hi >= minTok

  // --- fsst ----------------------------------------------------------------

  /** table(c) == true iff symbol c's expansion contains a token in [lo,hi];
    * indices ≥ nSymbols (incl. the escape slot) stay false.
    */
  def fsstCodeTable(st: SymTab, lo: Int, hi: Int): Array[Boolean] = {
    val t = new Array[Boolean](256)
    var c = 0
    while (c < st.nSymbols) {
      val s = st.syms(c)
      var j = 0
      while (j < s.length && !t(c)) {
        if (s(j) >= lo && s(j) <= hi) t(c) = true
        j += 1
      }
      c += 1
    }
    t
  }

  def evalFsst(table: Array[Boolean], bytes: Array[Byte], from: Int, to: Int,
               lo: Int, hi: Int): Boolean = {
    var pos = from
    // skip the varUInt(n) row prefix
    while ((bytes(pos) & 0x80) != 0) pos += 1
    pos += 1
    while (pos < to) {
      val c = bytes(pos) & 0xff
      pos += 1
      if (c == SymTab.EscapeCode) {
        var u = 0; var sh = 0; var b = 0
        do { b = bytes(pos) & 0xff; pos += 1; u |= (b & 0x7f) << sh; sh += 7 } while ((b & 0x80) != 0)
        val v = (u >>> 1) ^ -(u & 1)
        if (v >= lo && v <= hi) return true
      } else if (table(c)) return true
    }
    false
  }

  // --- rle / raw -----------------------------------------------------------

  def evalRle(bytes: Array[Byte], from: Int, to: Int, lo: Int, hi: Int): Boolean = {
    val r = new ByteReader(bytes, from, to)
    val n = r.readVarUInt()
    var k = 0
    while (k < n) {
      val run = r.readVarUInt()
      val v = r.readZigZag()
      if (v >= lo && v <= hi) return true
      k += run
    }
    false
  }

  def evalRaw(bytes: Array[Byte], from: Int, to: Int, lo: Int, hi: Int): Boolean = {
    val r = new ByteReader(bytes, from, to)
    val n = r.readVarUInt()
    var k = 0
    while (k < n) {
      val v = r.readZigZag()
      if (v >= lo && v <= hi) return true
      k += 1
    }
    false
  }

  // --- packed (dict indices / bitpack values / FoR deltas) ------------------

  /** Any of the n width-bit LSB-first values at bytes[pos..) in [pLo,pHi]?
    * Callers pre-clamp to the packed domain; pLo > pHi means nothing can
    * qualify.
    */
  def anyPackedInRange(bytes: Array[Byte], pos0: Int, n: Int, width: Int,
                       pLo: Long, pHi: Long): Boolean = {
    if (pLo > pHi || n == 0) return false
    if (width == 0) return pLo <= 0L && 0L <= pHi
    var acc = 0L
    var nbits = 0
    var pos = pos0
    val mask = if (width == 32) 0xffffffffL else (1L << width) - 1
    var i = 0
    while (i < n) {
      while (nbits < width) { acc |= (bytes(pos) & 0xffL) << nbits; pos += 1; nbits += 8 }
      val d = acc & mask
      if (d >= pLo && d <= pHi) return true
      acc >>>= width
      nbits -= width
      i += 1
    }
    false
  }

  /** Qualifying index interval of a SORTED dictionary: smallest i with
    * dict(i) ≥ lo and largest j with dict(j) ≤ hi. (iLo > iHi) ⇒ the chunk
    * provably contains no token in range.
    */
  def dictIndexRange(dict: Array[Int], lo: Int, hi: Int): (Int, Int) = {
    var a = 0; var b = dict.length
    while (a < b) { val m = (a + b) >>> 1; if (dict(m) < lo) a = m + 1 else b = m }
    val iLo = a
    a = 0; b = dict.length
    while (a < b) { val m = (a + b) >>> 1; if (dict(m) <= hi) a = m + 1 else b = m }
    (iLo, a - 1)
  }

  def evalDict(bytes: Array[Byte], from: Int, to: Int, width: Int,
               iLo: Int, iHi: Int): Boolean = {
    val r = new ByteReader(bytes, from, to)
    val n = r.readVarUInt()
    anyPackedInRange(bytes, r.pos, n, width, iLo.toLong, iHi.toLong)
  }

  def evalBitpack(bytes: Array[Byte], from: Int, to: Int, width: Int,
                  lo: Int, hi: Int): Boolean = {
    val r = new ByteReader(bytes, from, to)
    val n = r.readVarUInt()
    val mask = if (width == 0) 0L else if (width == 32) 0xffffffffL else (1L << width) - 1
    anyPackedInRange(bytes, r.pos, n, width,
      math.max(lo.toLong, 0L), math.min(hi.toLong, mask))
  }

  def evalFor(bytes: Array[Byte], from: Int, to: Int, width: Int,
              lo: Int, hi: Int): Boolean = {
    val r = new ByteReader(bytes, from, to)
    val n = r.readVarUInt()
    if (n == 0) return false
    val base = r.readZigZag()
    val mask = if (width == 0) 0L else if (width == 32) 0xffffffffL else (1L << width) - 1
    anyPackedInRange(bytes, r.pos, n, width,
      math.max(lo.toLong - base, 0L), math.min(hi.toLong - base, mask))
  }

  /** Decoded-domain oracle/fallback. */
  def evalDecoded(toks: Array[Int], lo: Int, hi: Int): Boolean = {
    var i = 0
    while (i < toks.length) {
      if (toks(i) >= lo && toks(i) <= hi) return true
      i += 1
    }
    false
  }
}
