package graft.core

/** Partial row decode: `slice(tokens, s, k)` for any nonzero start on one
  * encoded row, so head (s = 1), tail (s = −k) and mid-window projections
  * on the encoded view pay the window, not the document. Exact builtin
  * `Slice` semantics: 1-based start, negative start resolves from the end
  * (lo = n + s), a start that resolves before the front or past the end
  * slices to EMPTY (so a tail longer than the row is empty), and the window
  * clips at the row end (m = min(k, n − lo)). Every codec's row payload is
  * prefix-structured (varUInt(n) + tokens in order), so the cost is
  * O(skip + k) and bytes past the window are never read: packed codecs
  * random-access the bit stream at lo (plain unpack from bit 0 for a head);
  * RLE/raw skip runs/varints; FSST skips via code lengths without expanding
  * symbols (no skip phase for a head), then decodes m tokens taking the
  * suffix of a window-entering symbol and the prefix of a window-leaving
  * one.
  */
trait SliceRowDecoder {
  /** `s` is the raw 1-based (or negative) builtin start, `s != 0`; `k >= 0`. */
  def decodeSlice(bytes: Array[Byte], from: Int, to: Int, s: Int, k: Int): Array[Int]
}

object SliceDecode {

  /** Builtin window resolution: (lo, m) with lo the 0-based first index and
    * m the clipped length; m == 0 ⇒ empty slice.
    */
  @inline def window(n: Int, s: Int, k: Int): Long = {
    val lo = if (s > 0) s - 1 else n + s
    if (lo < 0 || lo >= n || k <= 0) -1L
    else (lo.toLong << 32) | math.min(k, n - lo).toLong
  }

  def decoder(codec: String, header: Array[Byte]): SliceRowDecoder = codec match {
    case FsstTokenCodec.name => new FsstSlice(SymTab.fromBytes(header))
    case DictCodec.name =>
      val dict = DictCodec.readDict(header)
      new PackedSlice(BitPack.bitsFor(math.max(dict.length - 1, 0)), hasBase = false, dict)
    case BitPackCodec.name => new PackedSlice(header(0) & 0xff, hasBase = false, null)
    case ForCodec.name     => new PackedSlice(header(0) & 0xff, hasBase = true, null)
    case RleCodec.name     => RleSlice
    case RawCodec.name     => RawSlice
    case other =>
      val d = Codecs.byName(other).decoder(header)
      (bytes: Array[Byte], from: Int, to: Int, s: Int, k: Int) => {
        val row = d.decode(bytes, from, to)
        val w = window(row.length, s, k)
        if (w < 0) Array.emptyIntArray
        else java.util.Arrays.copyOfRange(row, (w >>> 32).toInt, (w >>> 32).toInt + w.toInt)
      }
  }

  private object RawSlice extends SliceRowDecoder {
    def decodeSlice(bytes: Array[Byte], from: Int, to: Int, s: Int, k: Int): Array[Int] = {
      val r = new ByteReader(bytes, from, to)
      val n = r.readVarUInt()
      val w = window(n, s, k)
      if (w < 0) return Array.emptyIntArray
      var skip = (w >>> 32).toInt
      val m = w.toInt
      while (skip > 0) { r.readVarUInt(); skip -= 1 } // zigzag varints scan the same
      val out = new Array[Int](m)
      var i = 0
      while (i < m) { out(i) = r.readZigZag(); i += 1 }
      out
    }
  }

  private object RleSlice extends SliceRowDecoder {
    def decodeSlice(bytes: Array[Byte], from: Int, to: Int, s: Int, k: Int): Array[Int] = {
      val r = new ByteReader(bytes, from, to)
      val n = r.readVarUInt()
      val w = window(n, s, k)
      if (w < 0) return Array.emptyIntArray
      val lo = (w >>> 32).toInt
      val m = w.toInt
      val out = new Array[Int](m)
      var cnt = 0
      var i = 0
      while (i < m) {
        val run = r.readVarUInt()
        val v = r.readZigZag()
        if (cnt + run > lo) {
          var j = math.max(lo - cnt, 0)
          while (j < run && i < m) { out(i) = v; i += 1; j += 1 }
        }
        cnt += run
      }
      out
    }
  }

  private final class PackedSlice(width: Int, hasBase: Boolean,
                                  table: Array[Int]) extends SliceRowDecoder {
    def decodeSlice(bytes: Array[Byte], from: Int, to: Int, s: Int, k: Int): Array[Int] = {
      val r = new ByteReader(bytes, from, to)
      val n = r.readVarUInt()
      val w = window(n, s, k)
      if (w < 0) return Array.emptyIntArray
      val lo = (w >>> 32).toInt
      val m = w.toInt
      val base = if (hasBase) r.readZigZag() else 0
      if (table != null) BitPack.unpackAt(bytes, r.pos, lo.toLong, m, width, i => table(i))
      else BitPack.unpackAt(bytes, r.pos, lo.toLong, m, width, d => d + base)
    }
  }

  private final class FsstSlice(st: SymTab) extends SliceRowDecoder {
    private val flat = st.flatTokens
    private val flatOff = st.flatOffsets
    private val lens = st.lens
    def decodeSlice(bytes: Array[Byte], from: Int, to: Int, s: Int, k: Int): Array[Int] = {
      var pos = from
      var n = 0
      var shift = 0
      var b0 = 0
      do {
        b0 = bytes(pos) & 0xff; pos += 1
        n |= (b0 & 0x7f) << shift; shift += 7
      } while ((b0 & 0x80) != 0)
      val w = window(n, s, k)
      if (w < 0) return Array.emptyIntArray
      val cut = (w >>> 32).toInt
      val m = w.toInt
      val out = new Array[Int](m)
      var cnt = 0
      var i = 0
      // skip phase: count tokens per code byte, never expand symbols; the
      // window may OPEN inside a symbol (emit its suffix, clipped by m: the
      // window can also CLOSE inside the same symbol)
      while (cnt < cut) {
        val c = bytes(pos) & 0xff
        pos += 1
        if (c == SymTab.EscapeCode) {
          while ((bytes(pos) & 0x80) != 0) pos += 1
          pos += 1
          cnt += 1
        } else {
          val len = lens(c)
          if (cnt + len <= cut) cnt += len
          else {
            var j = flatOff(c) + (cut - cnt)
            val e = flatOff(c + 1)
            while (j < e && i < m) { out(i) = flat(j); i += 1; j += 1 }
            cnt = cut
          }
        }
      }
      // decode phase: emit until the window closes, taking the prefix of a
      // window-leaving symbol
      while (i < m) {
        val c = bytes(pos) & 0xff
        pos += 1
        if (c == SymTab.EscapeCode) {
          var u = 0
          var sh = 0
          var bb = 0
          do {
            bb = bytes(pos) & 0xff; pos += 1
            u |= (bb & 0x7f) << sh; sh += 7
          } while ((bb & 0x80) != 0)
          out(i) = (u >>> 1) ^ -(u & 1)
          i += 1
        } else {
          var j = flatOff(c)
          val e = flatOff(c + 1)
          while (j < e && i < m) { out(i) = flat(j); i += 1; j += 1 }
        }
      }
      out
    }
  }
}
