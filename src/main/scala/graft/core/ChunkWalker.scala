package graft.core

/** Streaming per-token visitor over one encoded chunk — the generic
  * compressed-domain driver for operators whose math needs tokens in order
  * but never needs a decoded array (MinHash shingles, SimHash, rolling
  * fingerprints). Specialized kernels with codec-domain closed forms
  * (HashMatch's RLE square-and-multiply, CountMatch's run-sums) stay
  * hand-written; ChunkWalker is for sinks where per-token work dominates,
  * so the one virtual `feed` call per token is noise (the JIT devirtualizes
  * it when a query uses a single sink class, the common case).
  *
  * RLE runs arrive as `feedRun(v, r)` so run-aware sinks can fold repeats
  * without touching each token (MinHash saturates its shingle window after
  * n equal feeds; SimHash weights the unigram by r).
  */
trait TokenSink {
  /** Called before the row's tokens; n is the decoded token count. */
  def rowStart(row: Int, n: Int): Unit
  def feed(t: Int): Unit
  /** A run of r equal tokens (RLE). Default: r plain feeds. */
  def feedRun(t: Int, r: Int): Unit = {
    var i = 0
    while (i < r) { feed(t); i += 1 }
  }
  /** Called after the row's last token. */
  def rowEnd(row: Int): Unit
}

object ChunkWalker {

  /** Stream every row of the chunk through the sink. `offs` has
    * rowCount + 1 entries (row i spans data[offs(i), offs(i+1))).
    */
  def walk(codec: String, header: Array[Byte], data: Array[Byte],
           offs: Array[Int], rowCount: Int, sink: TokenSink): Unit = codec match {
    case FsstTokenCodec.name => walkFsst(SymTab.fromBytes(header), data, offs, rowCount, sink)
    case RleCodec.name       => walkRle(data, offs, rowCount, sink)
    case DictCodec.name =>
      val dict = DictCodec.readDict(header)
      walkPacked(data, offs, rowCount, BitPack.bitsFor(math.max(dict.length - 1, 0)),
        hasBase = false, dict, sink)
    case BitPackCodec.name =>
      walkPacked(data, offs, rowCount, header(0) & 0xff, hasBase = false, null, sink)
    case ForCodec.name =>
      walkPacked(data, offs, rowCount, header(0) & 0xff, hasBase = true, null, sink)
    case RawCodec.name       => walkRaw(data, offs, rowCount, sink)
    case other =>
      val dec = Codecs.byName(other).decoder(header)
      var i = 0
      while (i < rowCount) { walkRow(i, dec.decode(data, offs(i), offs(i + 1)), sink); i += 1 }
  }

  /** Stream one decoded row through the sink as row `row` — the decoded-array
    * expressions (pipeline.ShingleHashes, SimHash64, WinnowFingerprint) run
    * the same sinks as the chunk walk this way.
    */
  def walkRow(row: Int, tokens: Array[Int], sink: TokenSink): Unit = {
    sink.rowStart(row, tokens.length)
    var k = 0
    while (k < tokens.length) { sink.feed(tokens(k)); k += 1 }
    sink.rowEnd(row)
  }

  private def walkFsst(st: SymTab, data: Array[Byte], offs: Array[Int],
                       rowCount: Int, sink: TokenSink): Unit = {
    val flat = st.flatTokens
    val flatOff = st.flatOffsets
    var i = 0
    while (i < rowCount) {
      var pos = offs(i)
      val to = offs(i + 1)
      var n = 0
      var shift = 0
      var b0 = 0
      do {
        b0 = data(pos) & 0xff; pos += 1
        n |= (b0 & 0x7f) << shift; shift += 7
      } while ((b0 & 0x80) != 0)
      sink.rowStart(i, n)
      while (pos < to) {
        val seg = Swar.indexOfFF(data, pos, to)
        while (pos < seg) {
          val c = data(pos) & 0xff
          pos += 1
          var j = flatOff(c)
          val e = flatOff(c + 1)
          while (j < e) { sink.feed(flat(j)); j += 1 }
        }
        if (pos < to) {
          pos += 1 // escape marker
          var u = 0
          var sh = 0
          var bb = 0
          do {
            bb = data(pos) & 0xff; pos += 1
            u |= (bb & 0x7f) << sh; sh += 7
          } while ((bb & 0x80) != 0)
          sink.feed((u >>> 1) ^ -(u & 1))
        }
      }
      sink.rowEnd(i)
      i += 1
    }
  }

  private def walkRle(data: Array[Byte], offs: Array[Int], rowCount: Int,
                      sink: TokenSink): Unit = {
    var i = 0
    while (i < rowCount) {
      val r = new ByteReader(data, offs(i), offs(i + 1))
      val n = r.readVarUInt()
      sink.rowStart(i, n)
      var k = 0
      while (k < n) {
        val run = r.readVarUInt()
        val v = r.readZigZag()
        sink.feedRun(v, run)
        k += run
      }
      sink.rowEnd(i)
      i += 1
    }
  }

  /** dict (table != null: packed dictionary indices), bitpack (no base),
    * for (per-row zigzag base before the packed deltas).
    */
  private def walkPacked(data: Array[Byte], offs: Array[Int], rowCount: Int,
                         width: Int, hasBase: Boolean, table: Array[Int],
                         sink: TokenSink): Unit = {
    var i = 0
    while (i < rowCount) {
      val r = new ByteReader(data, offs(i), offs(i + 1))
      val n = r.readVarUInt()
      sink.rowStart(i, n)
      if (n > 0) {
        val base = if (hasBase) r.readZigZag() else 0
        if (width == 0) {
          val v = if (table != null) table(0) else base
          sink.feedRun(v, n)
        } else {
          var acc = 0L
          var nbits = 0
          var pos = r.pos
          val mask = if (width == 32) 0xffffffffL else (1L << width) - 1
          var k = 0
          while (k < n) {
            while (nbits < width) { acc |= (data(pos) & 0xffL) << nbits; pos += 1; nbits += 8 }
            val d = (acc & mask).toInt
            acc >>>= width
            nbits -= width
            sink.feed(if (table != null) table(d) else base + d)
            k += 1
          }
        }
      }
      sink.rowEnd(i)
      i += 1
    }
  }

  private def walkRaw(data: Array[Byte], offs: Array[Int], rowCount: Int,
                      sink: TokenSink): Unit = {
    var i = 0
    while (i < rowCount) {
      val r = new ByteReader(data, offs(i), offs(i + 1))
      val n = r.readVarUInt()
      sink.rowStart(i, n)
      var k = 0
      while (k < n) { sink.feed(r.readZigZag()); k += 1 }
      sink.rowEnd(i)
      i += 1
    }
  }
}
