package graft.core

/** Token-SET membership predicate evaluated in each codec's compressed
  * domain: "does this row contain any token from `set`" — the blocklist /
  * allowlist filter of a training-data pipeline (ban-token scrubbing,
  * special-token detection), and the IN-list analog of [[RangeMatch]].
  *
  * Kernels mirror RangeMatch:
  *   - fsst:    256-entry per-code table (expansion ∩ set ≠ ∅); escape
  *              literals decode + binary-search the sorted set.
  *   - dict:    the set translates ONCE per chunk to dictionary indices;
  *              none present = exact whole-chunk skip; rows test packed
  *              indices against a card-sized boolean table (dict card is
  *              ≤4096 by construction, so the table is cache-resident).
  *   - rle:     one membership test per RUN.
  *   - for/bitpack: per packed value, with a [setMin,setMax] reject before
  *              the binary search.
  *   - raw:     streaming zigzag + binary search.
  *
  * Chunk granularity gets TWO gates: the zone map (set ∩ [min,max] = ∅ ⇒
  * skip) and the token bloom (no set element may-present ⇒ skip) — the
  * ANY-semantics dual of the pattern scan's ALL-tokens-required gate.
  */
object SetMatch {

  /** Normalized set representation: sorted distinct values. */
  def sortedSet(tokens: Array[Int]): Array[Int] = {
    val s = tokens.distinct
    java.util.Arrays.sort(s)
    s
  }

  @inline def contains(sorted: Array[Int], v: Int): Boolean =
    java.util.Arrays.binarySearch(sorted, v) >= 0

  /** Zone-map gate: any set element inside the chunk's [minTok, maxTok]? */
  def chunkOverlaps(sorted: Array[Int], minTok: Int, maxTok: Int): Boolean = {
    var a = 0; var b = sorted.length
    while (a < b) { val m = (a + b) >>> 1; if (sorted(m) < minTok) a = m + 1 else b = m }
    a < sorted.length && sorted(a) <= maxTok
  }

  /** Bloom gate: at least one set element may be present in the chunk. */
  def chunkMayContainAny(bloom: Array[Byte], sorted: Array[Int]): Boolean = {
    var i = 0
    while (i < sorted.length) {
      if (ChunkStats.bloomHas(bloom, sorted(i))) return true
      i += 1
    }
    false
  }

  // --- fsst ----------------------------------------------------------------

  def fsstCodeTable(st: SymTab, sorted: Array[Int]): Array[Boolean] = {
    val t = new Array[Boolean](256)
    var c = 0
    while (c < st.nSymbols) {
      val s = st.syms(c)
      var j = 0
      while (j < s.length && !t(c)) {
        if (contains(sorted, s(j))) t(c) = true
        j += 1
      }
      c += 1
    }
    t
  }

  def evalFsst(table: Array[Boolean], sorted: Array[Int], bytes: Array[Byte],
               from: Int, to: Int): Boolean = {
    var pos = from
    while ((bytes(pos) & 0x80) != 0) pos += 1 // skip varUInt(n) prefix
    pos += 1
    while (pos < to) {
      val c = bytes(pos) & 0xff
      pos += 1
      if (c == SymTab.EscapeCode) {
        var u = 0; var sh = 0; var b = 0
        do { b = bytes(pos) & 0xff; pos += 1; u |= (b & 0x7f) << sh; sh += 7 } while ((b & 0x80) != 0)
        if (contains(sorted, (u >>> 1) ^ -(u & 1))) return true
      } else if (table(c)) return true
    }
    false
  }

  // --- rle / raw -----------------------------------------------------------

  def evalRle(bytes: Array[Byte], from: Int, to: Int, sorted: Array[Int]): Boolean = {
    val r = new ByteReader(bytes, from, to)
    val n = r.readVarUInt()
    var k = 0
    while (k < n) {
      val run = r.readVarUInt()
      if (contains(sorted, r.readZigZag())) return true
      k += run
    }
    false
  }

  def evalRaw(bytes: Array[Byte], from: Int, to: Int, sorted: Array[Int]): Boolean = {
    val r = new ByteReader(bytes, from, to)
    val n = r.readVarUInt()
    var k = 0
    while (k < n) {
      if (contains(sorted, r.readZigZag())) return true
      k += 1
    }
    false
  }

  // --- packed --------------------------------------------------------------

  /** Dict: set → boolean table over dictionary INDICES (None if no set
    * element is in the dictionary — an exact chunk gate). */
  def dictIndexTable(dict: Array[Int], sorted: Array[Int]): Option[Array[Boolean]] = {
    var any = false
    val t = new Array[Boolean](dict.length)
    var i = 0
    while (i < dict.length) {
      if (contains(sorted, dict(i))) { t(i) = true; any = true }
      i += 1
    }
    if (any) Some(t) else None
  }

  def evalDict(bytes: Array[Byte], from: Int, to: Int, width: Int,
               table: Array[Boolean]): Boolean = {
    val r = new ByteReader(bytes, from, to)
    val n = r.readVarUInt()
    if (n == 0) return false
    if (width == 0) return table.length > 0 && table(0)
    var acc = 0L
    var nbits = 0
    var pos = r.pos
    val mask = if (width == 32) 0xffffffffL else (1L << width) - 1
    var i = 0
    while (i < n) {
      while (nbits < width) { acc |= (bytes(pos) & 0xffL) << nbits; pos += 1; nbits += 8 }
      if (table((acc & mask).toInt)) return true
      acc >>>= width
      nbits -= width
      i += 1
    }
    false
  }

  /** bitpack (base = 0) / FoR (per-row base read first): per packed value,
    * reject on the set's [min,max] before binary search. */
  def evalPackedSet(bytes: Array[Byte], pos0: Int, n: Int, width: Int,
                    base: Int, sorted: Array[Int]): Boolean = {
    if (n == 0 || sorted.length == 0) return false
    val setMin = sorted(0)
    val setMax = sorted(sorted.length - 1)
    if (width == 0) return contains(sorted, base)
    var acc = 0L
    var nbits = 0
    var pos = pos0
    val mask = if (width == 32) 0xffffffffL else (1L << width) - 1
    var i = 0
    while (i < n) {
      while (nbits < width) { acc |= (bytes(pos) & 0xffL) << nbits; pos += 1; nbits += 8 }
      val v = ((acc & mask) + base).toInt
      if (v >= setMin && v <= setMax && contains(sorted, v)) return true
      acc >>>= width
      nbits -= width
      i += 1
    }
    false
  }

  def evalBitpack(bytes: Array[Byte], from: Int, to: Int, width: Int,
                  sorted: Array[Int]): Boolean = {
    val r = new ByteReader(bytes, from, to)
    val n = r.readVarUInt()
    evalPackedSet(bytes, r.pos, n, width, 0, sorted)
  }

  def evalFor(bytes: Array[Byte], from: Int, to: Int, width: Int,
              sorted: Array[Int]): Boolean = {
    val r = new ByteReader(bytes, from, to)
    val n = r.readVarUInt()
    if (n == 0) return false
    val base = r.readZigZag()
    evalPackedSet(bytes, r.pos, n, width, base, sorted)
  }

  /** Decoded-domain oracle/fallback. */
  def evalDecoded(toks: Array[Int], sorted: Array[Int]): Boolean = {
    var i = 0
    while (i < toks.length) {
      if (contains(sorted, toks(i))) return true
      i += 1
    }
    false
  }
}
