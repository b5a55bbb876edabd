package graft.core

/** Compressed-domain pattern evaluation for the POSITIONAL codecs, extending
  * the engine's FSST-domain matching (FsstMatch) to dict and RLE chunks:
  *
  * - dict: pattern tokens map to dictionary INDICES once per (chunk,
  *   pattern); rows then match IN PLACE on the bit-packed index stream via
  *   [[PackedAnchor.prepareDict]] (dict = bitpack at width bitsFor(card−1),
  *   base 0) — neither index arrays nor token values ever materialize. A
  *   pattern token absent from the dictionary proves the whole chunk
  *   matchless (exact, not probabilistic).
  * - rle: rows match at RUN granularity — a run of 10 000 equal tokens is
  *   one comparison, not 10 000. The pattern is itself run-compressed; run
  *   boundary discipline (maximal runs inside both row and pattern) gives
  *   exact alignment rules: interior pattern runs need exact counts, edge
  *   runs need ≥.
  * - FoR/bitpack: [[PackedAnchor]] — anchored modes unpack-compare m values
  *   against the row's own frame; sliding modes scan the packed stream with
  *   bit-phase images.
  *
  * All are existence-exact against TokenMatch (property-fuzzed in
  * MatcherSpec and Soak).
  */
object DictMatch {

  /** Token-domain parts → index-domain parts via the SORTED dict; None when
    * any pattern token is absent (every mode needs all its tokens present,
    * so the chunk provably has no matching row).
    */
  def translate(dict: Array[Int], parts: Array[Array[Int]]): Option[Array[Array[Int]]] = {
    val out = new Array[Array[Int]](parts.length)
    var k = 0
    while (k < parts.length) {
      val p = parts(k)
      val q = new Array[Int](p.length)
      var i = 0
      while (i < p.length) {
        val idx = java.util.Arrays.binarySearch(dict, p(i))
        if (idx < 0) return None
        q(i) = idx
        i += 1
      }
      out(k) = q
      k += 1
    }
    Some(out)
  }
}

/** Equality without decode for ANY positional codec: every encoder is a
  * canonical (deterministic, row-content-only) function, so
  * `row == pattern  ⟺  encode(row) == encode(pattern)` — one byte compare
  * per row. The reference's constant-re-encode equality pushdown (E5)
  * generalized beyond FSST. Guards reject patterns whose encoding would
  * ALIAS a different value (token outside the dict, or outside the chunk's
  * bit-pack width — where packing truncates silently).
  */
object PackedEquals {

  /** Encoded image of `part` under the chunk's codec; None = the pattern
    * provably cannot equal any row of this chunk.
    */
  def patternImage(codecName: String, header: Array[Byte], part: Array[Int]): Option[Array[Byte]] = {
    codecName match {
      case DictCodec.name =>
        val dict = DictCodec.readDict(header)
        var i = 0
        while (i < part.length) {
          if (java.util.Arrays.binarySearch(dict, part(i)) < 0) return None
          i += 1
        }
      case BitPackCodec.name =>
        val width = header(0) & 0xff
        val max = if (width >= 32) Long.MaxValue else (1L << width) - 1
        var i = 0
        while (i < part.length) {
          if (part(i) < 0 || part(i) > max) return None
          i += 1
        }
      case ForCodec.name =>
        if (part.nonEmpty) {
          val width = header(0) & 0xff
          var min = part(0)
          var max = part(0)
          var i = 1
          while (i < part.length) {
            if (part(i) < min) min = part(i)
            if (part(i) > max) max = part(i)
            i += 1
          }
          val cap = if (width >= 32) Long.MaxValue else (1L << width) - 1
          if (max.toLong - min.toLong > cap) return None
        }
      case RleCodec.name | RawCodec.name => // varints encode any int faithfully
      case _ => return None // fsst has its own compressed-domain equals
    }
    val w = new ByteWriter(part.length * 3 + 8)
    Codecs.byName(codecName).encoder(header).encode(part, w)
    Some(w.toBytes)
  }

  /** Does the encoded row slice equal the pattern image byte-for-byte? */
  def rowEquals(bytes: Array[Byte], from: Int, to: Int, image: Array[Byte]): Boolean = {
    if (to - from != image.length) return false
    var i = 0
    while (i < image.length) {
      if (bytes(from + i) != image(i)) return false
      i += 1
    }
    true
  }
}

/** Pattern matching on FoR/bitpack rows WITHOUT decoding the row — the
  * reference's constant-re-encode idea (/root/reference/src/FsstWrapper.cpp:124-144)
  * applied against each row's own frame:
  *
  * - prefix/suffix: the matcher reads the row's base (one varint, FoR only)
  *   and unpack-compares exactly m width-bit values against (pattern − base)
  *   — O(m) per row with early exit, remaining tokens never touched.
  * - contains/multi-infix (round 4, closing the reference's O2 principle for
  *   the positional codecs, /root/reference/src/algos/Comet.hpp:63-96): the
  *   pattern's width-bit deltas are packed into ≤8 BIT-PHASE IMAGES (one per
  *   value of (s·width) mod 8, built lazily) with first/last-byte masks; a
  *   candidate start s then costs one masked byte compare per image byte,
  *   usually failing on the first — the packed stream is scanned in place,
  *   no token ever materializes. For bitpack the images are row-independent
  *   (base 0) and shared across the chunk via [[prepare]]; FoR images embed
  *   the row's base and rebuild per row.
  *
  * Aliasing guards mirror PackedEquals: a pattern token outside the row's
  * representable range [base, base+2^width) proves non-match (packing would
  * have truncated it into a different value).
  */
object PackedAnchor {

  /** ≤8 phase images of `deltas` packed LSB-first at `width` bits: image p
    * holds the pattern bits shifted to start at in-byte bit offset p, plus a
    * bit mask selecting exactly the pattern's bits. Built on first use per
    * phase (widths divisible by 8 only ever touch phase 0; generally
    * 8/gcd(width,8) phases occur).
    */
  private final class PhaseImages(width: Int, deltas: Array[Int]) {
    // PatternMode.normalize strips empty parts upstream; fail loudly at
    // construction if a future call path skips it (len=0 would AIOOBE
    // mid-scan in build's msk(0) write otherwise).
    require(deltas.nonEmpty, "PhaseImages requires a non-empty pattern part")
    private val imgs = new Array[Array[Byte]](8)
    private val msks = new Array[Array[Byte]](8)

    private def build(p: Int): Unit = {
      val totalBits = p + deltas.length * width
      val len = (totalBits + 7) >>> 3
      val img = new Array[Byte](len)
      var acc = 0L
      var nbits = p // low p bits stay 0 (masked out anyway)
      var bp = 0
      var i = 0
      while (i < deltas.length) {
        acc |= (deltas(i).toLong & 0xffffffffL) << nbits
        nbits += width
        while (nbits >= 8) { img(bp) = (acc & 0xff).toByte; acc >>>= 8; nbits -= 8; bp += 1 }
        i += 1
      }
      if (nbits > 0) img(bp) = (acc & 0xff).toByte
      val msk = new Array[Byte](len)
      java.util.Arrays.fill(msk, 0xff.toByte)
      msk(0) = (msk(0) & (0xff << p)).toByte
      val lastBits = ((totalBits - 1) & 7) + 1
      msk(len - 1) = (msk(len - 1) & ((1 << lastBits) - 1)).toByte
      imgs(p) = img
      msks(p) = msk
    }

    /** First start index s ∈ [fromIdx, n−m] whose packed window equals the
      * pattern image, else −1.
      */
    def find(bytes: Array[Byte], payloadStart: Int, n: Int, fromIdx: Int): Int = {
      val m = deltas.length
      var s = fromIdx
      while (s + m <= n) {
        val bitpos = s.toLong * width
        val p = (bitpos & 7L).toInt
        if (imgs(p) == null) build(p)
        val img = imgs(p)
        val msk = msks(p)
        val off = payloadStart + (bitpos >>> 3).toInt
        var j = 0
        var ok = true
        while (ok && j < img.length) {
          if (((bytes(off + j) ^ img(j)) & msk(j)) != 0) ok = false
          j += 1
        }
        if (ok) return s
        s += 1
      }
      -1
    }
  }

  /** Per-(chunk, pattern) matcher: codec header parsed once, bitpack phase
    * images and range guards computed once, then [[evalRow]] per row slice.
    * Built by PatternPredicate.prepare: once per chunk on the chunk scan,
    * cached per (codec, header) on the per-row path. `isFor = false`
    * covers both bitpack (parts = token values) and dict (parts = dictionary
    * indices via [[prepareDict]]) — base-0 packed streams at a
    * chunk-constant width.
    */
  final class Prepared(width: Int, isFor: Boolean, mode: String,
                       parts: Array[Array[Int]]) {
    private val rangeMask = if (width >= 32) 0xffffffffL else (1L << width) - 1
    private val sliding = mode == PatternMode.Contains || mode == PatternMode.MultiInfix
    // bitpack deltas ARE the pattern tokens: images row-independent
    private val bpImages: Array[PhaseImages] =
      if (!isFor && sliding && width > 0) parts.map(p => new PhaseImages(width, p))
      else null
    // bitpack range guard, row-independent: any out-of-range token → the
    // whole CHUNK is matchless (bitpack truncation would alias)
    private val bpValid: Boolean =
      isFor || parts.forall(p => p.forall(t => t >= 0 && t <= rangeMask))

    private def slidingImages(base: Int): Array[PhaseImages] = {
      if (!isFor) return bpImages
      // FoR: deltas embed this row's base; reject rows whose frame cannot
      // represent some pattern token (value aliasing guard)
      val out = new Array[PhaseImages](parts.length)
      var k = 0
      while (k < parts.length) {
        val p = parts(k)
        val d = new Array[Int](p.length)
        var i = 0
        while (i < p.length) {
          val delta = p(i).toLong - base
          if (delta < 0 || delta > rangeMask) return null
          d(i) = delta.toInt
          i += 1
        }
        out(k) = new PhaseImages(width, d)
        k += 1
      }
      out
    }

    def evalRow(bytes: Array[Byte], from: Int, to: Int): Boolean = {
      if (!bpValid) return false
      val r = new ByteReader(bytes, from, to)
      val n = r.readVarUInt()
      mode match {
        case PatternMode.Prefix | PatternMode.Suffix =>
          val part = parts(0)
          val m = part.length
          if (m == 0) return true
          if (n < m) return false
          val base = if (isFor) r.readZigZag() else 0
          val startIdx = if (mode == PatternMode.Prefix) 0L else (n - m).toLong
          matchAt(bytes, r.pos, width, startIdx, part, base)
        case PatternMode.Contains =>
          val part = parts(0)
          if (part.length == 0) return true
          if (n < part.length) return false
          val base = if (isFor) r.readZigZag() else 0
          if (width == 0) {
            // every stored value equals base
            var i = 0
            while (i < part.length) { if (part(i) != base) return false; i += 1 }
            true
          } else {
            val imgs = slidingImages(base)
            imgs != null && imgs(0).find(bytes, r.pos, n, 0) >= 0
          }
        case PatternMode.MultiInfix =>
          if (parts.isEmpty) return true
          var total = 0
          parts.foreach(total += _.length)
          if (n < total) return false
          val base = if (isFor) r.readZigZag() else 0
          if (width == 0) {
            var k = 0
            while (k < parts.length) {
              val p = parts(k)
              var i = 0
              while (i < p.length) { if (p(i) != base) return false; i += 1 }
              k += 1
            }
            true
          } else {
            val imgs = slidingImages(base)
            if (imgs == null) return false
            // ordered, non-overlapping, greedy-first-match (TokenMatch.multiInfix)
            var pos = 0
            var k = 0
            while (k < parts.length) {
              val idx = imgs(k).find(bytes, r.pos, n, pos)
              if (idx < 0) return false
              pos = idx + parts(k).length
              k += 1
            }
            true
          }
        case _ => throw new IllegalArgumentException(s"unsupported packed mode $mode")
      }
    }
  }

  def prepare(codecName: String, header: Array[Byte], mode: String,
              parts: Array[Array[Int]]): Prepared =
    new Prepared(header(0) & 0xff, codecName == ForCodec.name, mode, parts)

  /** Dict rows are bit-packed dictionary INDICES — base 0 at the
    * chunk-constant width bitsFor(card−1), exactly the bitpack wire shape —
    * so after [[DictMatch.translate]] the same phase-image matcher runs in
    * the INDEX domain: sliding modes compare masked bytes of the packed
    * stream, anchored modes unpack-compare m indices, and no row ever
    * materializes an index array (let alone token values).
    */
  def prepareDict(header: Array[Byte], mode: String,
                  idxParts: Array[Array[Int]]): Prepared = {
    val card = new ByteReader(header, 0, header.length).readVarUInt()
    new Prepared(BitPack.bitsFor(math.max(card - 1, 0)), isFor = false, mode, idxParts)
  }

  /** Compare stored values [startIdx, startIdx+m) of an LSB-first packed
    * payload at `payloadStart` against part(i) − base.
    */
  private def matchAt(bytes: Array[Byte], payloadStart: Int, width: Int,
                      startIdx: Long, part: Array[Int], base: Int): Boolean = {
    if (width == 0) {
      // width 0: every stored value is 0 → every token equals base
      var i = 0
      while (i < part.length) {
        if (part(i) != base) return false
        i += 1
      }
      return true
    }
    val bitPos = startIdx * width
    var pos = payloadStart + (bitPos >>> 3).toInt
    var acc = 0L
    var nbits = 0
    val skip = (bitPos & 7).toInt
    if (skip > 0) {
      acc = (bytes(pos) & 0xffL) >>> skip
      nbits = 8 - skip
      pos += 1
    }
    val mask = if (width >= 32) 0xffffffffL else (1L << width) - 1
    var i = 0
    while (i < part.length) {
      while (nbits < width) {
        acc |= (bytes(pos) & 0xffL) << nbits
        pos += 1
        nbits += 8
      }
      if ((acc & mask).toInt + base != part(i)) return false
      acc >>>= width
      nbits -= width
      i += 1
    }
    true
  }

  /** One-shot eval on one row slice (tests/fuzz; hot paths hold a
    * [[Prepared]] instead).
    */
  def eval(codecName: String, header: Array[Byte], bytes: Array[Byte],
           from: Int, to: Int, mode: String, parts: Array[Array[Int]]): Boolean =
    prepare(codecName, header, mode, parts).evalRow(bytes, from, to)

  def eval(codecName: String, header: Array[Byte], bytes: Array[Byte],
           from: Int, to: Int, mode: String, part: Array[Int]): Boolean =
    eval(codecName, header, bytes, from, to, mode, Array(part))

  def supports(codecName: String, mode: String): Boolean =
    (codecName == ForCodec.name || codecName == BitPackCodec.name) &&
      (mode == PatternMode.Prefix || mode == PatternMode.Suffix ||
        mode == PatternMode.Contains || mode == PatternMode.MultiInfix)
}

/** Run-level matching on the RLE row byte stream (varUInt n, then
  * {varUInt run, zigzag value}*). Rows are materialized as run arrays (~n /
  * mean-run-length entries), never as tokens.
  */
object RleMatch {

  /** Pattern tokens → maximal runs (values, counts). */
  def patternRuns(p: Array[Int]): (Array[Int], Array[Int]) = {
    if (p.length == 0) return (Array.emptyIntArray, Array.emptyIntArray)
    val vs = new scala.collection.mutable.ArrayBuffer[Int]
    val cs = new scala.collection.mutable.ArrayBuffer[Int]
    var i = 0
    while (i < p.length) {
      val v = p(i)
      var run = 1
      while (i + run < p.length && p(i + run) == v) run += 1
      vs += v
      cs += run
      i += run
    }
    (vs.toArray, cs.toArray)
  }

  /** Row runs decoded from the RLE byte slice. */
  def rowRuns(bytes: Array[Byte], from: Int, to: Int): (Array[Int], Array[Int], Int) = {
    val r = new ByteReader(bytes, from, to)
    val n = r.readVarUInt()
    val vs = new scala.collection.mutable.ArrayBuffer[Int]
    val cs = new scala.collection.mutable.ArrayBuffer[Int]
    while (r.pos < to) {
      cs += r.readVarUInt()
      vs += r.readZigZag()
    }
    (vs.toArray, cs.toArray, n)
  }

  /** Match of pattern runs at row-run offset `at`, where the first pattern
    * run may use only the TAIL of row run `at` (contains semantics) when
    * `firstAnchored` is false; interior runs must be exact; the last pattern
    * run may be a HEAD of its row run. `headroom` = tokens of run `at`
    * already consumed by an earlier multi-infix part.
    */
  private def matchAt(rv: Array[Int], rc: Array[Int], at: Int, headroom: Int,
                      pv: Array[Int], pc: Array[Int], firstAnchored: Boolean): Boolean = {
    val k = pv.length
    if (k == 0) return true
    if (at + k > rv.length) return false
    // first run
    val avail0 = rc(at) - headroom
    if (rv(at) != pv(0)) return false
    if (k == 1) return avail0 >= pc(0)
    if (firstAnchored) {
      if (avail0 != pc(0)) return false
    } else if (avail0 < pc(0)) return false
    // interior runs: exact
    var j = 1
    while (j < k - 1) {
      if (rv(at + j) != pv(j) || rc(at + j) != pc(j)) return false
      j += 1
    }
    // last run: head-aligned
    rv(at + k - 1) == pv(k - 1) && rc(at + k - 1) >= pc(k - 1)
  }

  def contains(rv: Array[Int], rc: Array[Int], pv: Array[Int], pc: Array[Int]): Boolean = {
    if (pv.length == 0) return true
    var at = 0
    while (at <= rv.length - pv.length) {
      if (matchAt(rv, rc, at, 0, pv, pc, firstAnchored = false)) return true
      at += 1
    }
    false
  }

  def prefix(rv: Array[Int], rc: Array[Int], pv: Array[Int], pc: Array[Int]): Boolean =
    pv.length == 0 || matchAt(rv, rc, 0, 0, pv, pc, firstAnchored = true)

  def suffix(rv: Array[Int], rc: Array[Int], pv: Array[Int], pc: Array[Int]): Boolean = {
    val k = pv.length
    if (k == 0) return true
    if (k > rv.length) return false
    // mirror of prefix: the FIRST pattern run is tail-aligned (>=), interior
    // exact, the LAST pattern run must end the row exactly
    val at = rv.length - k
    if (rv(at) != pv(0)) return false
    if (k == 1) return rc(at) >= pc(0)
    if (rc(at) < pc(0)) return false
    var j = 1
    while (j < k - 1) {
      if (rv(at + j) != pv(j) || rc(at + j) != pc(j)) return false
      j += 1
    }
    rv(rv.length - 1) == pv(k - 1) && rc(rv.length - 1) == pc(k - 1)
  }

  def equalsPat(rv: Array[Int], rc: Array[Int], pv: Array[Int], pc: Array[Int]): Boolean = {
    if (rv.length != pv.length) return false
    var j = 0
    while (j < pv.length) {
      if (rv(j) != pv(j) || rc(j) != pc(j)) return false
      j += 1
    }
    true
  }

  /** Ordered greedy multi-infix at run granularity; parts may resume inside
    * the run a previous part ended in (the stop_pos analog).
    */
  def multiInfix(rv: Array[Int], rc: Array[Int],
                 pvs: Array[Array[Int]], pcs: Array[Array[Int]]): Boolean = {
    var at = 0
    var headroom = 0 // tokens of run `at` already consumed
    var part = 0
    while (part < pvs.length) {
      val pv = pvs(part)
      val pc = pcs(part)
      var found = false
      var a = at
      var h = headroom
      while (!found && a <= rv.length - pv.length) {
        if (matchAt(rv, rc, a, h, pv, pc, firstAnchored = false)) {
          found = true
          // greedy-first-match END position: the match consumes pc(last) of
          // run a+k-1 — but for a tail-aligned first run the match sits at
          // the END of the first run, so earliest end = as computed for the
          // FIRST admissible alignment; resume within the last run
          val lastRun = a + pv.length - 1
          val consumedInLast =
            if (pv.length == 1) {
              // earliest match inside this run starts right after headroom
              h + pc(0)
            } else pc(pv.length - 1)
          if (consumedInLast >= rc(lastRun)) {
            at = lastRun + 1
            headroom = 0
          } else {
            at = lastRun
            headroom = consumedInLast
          }
        } else {
          a += 1
          h = 0
        }
      }
      if (!found) return false
      part += 1
    }
    true
  }

  /** Whole-mode eval on a row's RLE bytes. */
  def eval(mode: String, bytes: Array[Byte], from: Int, to: Int,
           pvs: Array[Array[Int]], pcs: Array[Array[Int]], totalLens: Array[Int]): Boolean = {
    val (rv, rc, n) = rowRuns(bytes, from, to)
    mode match {
      case PatternMode.Contains =>
        n >= totalLens(0) && contains(rv, rc, pvs(0), pcs(0))
      case PatternMode.Prefix =>
        n >= totalLens(0) && prefix(rv, rc, pvs(0), pcs(0))
      case PatternMode.Suffix =>
        n >= totalLens(0) && suffix(rv, rc, pvs(0), pcs(0))
      case PatternMode.Equals =>
        n == totalLens(0) && equalsPat(rv, rc, pvs(0), pcs(0))
      case PatternMode.MultiInfix =>
        multiInfix(rv, rc, pvs, pcs)
    }
  }
}
