package graft.core

/** Compressed-domain SimHash: per-row 64-bit signatures computed by
  * streaming each codec's wire format through the unigram majority-vote
  * accumulator (ChunkWalker) — no decoded token array in the plan.
  *
  * This is the only implementation of the SimHash math: the decoded-array
  * expression pipeline.SimHash64 feeds its row through [[SimAcc]]. Per token
  * t, h = mix64(t); bit b of the signature is set iff Σ(±1 per token, +
  * when bit b of h is set) is > 0. Soak and FingerprintSpec check every
  * codec against a plain reference transcription of that definition.
  *
  * RLE fold: a run of r equal tokens contributes r to the set-bit counters
  * in one step — one mix64 + one add per SET bit per RUN, not per token.
  * Counters are Long so a chunk-cap-sized row (512Ki tokens) can never
  * overflow even through the folded r steps.
  */
object SimHashMatch {
  import graft.pipeline.Hashing.mix64

  /** Unigram majority-vote accumulator for one chunk; reused across rows.
    *
    * The ±1 tally acc(b) equals 2·bitCnt(b) − total (bitCnt = Σ r·bit_b,
    * total = Σ r), so the sign test acc(b) > 0 becomes 2·bitCnt(b) > total —
    * letting single feeds batch through eight 8-lane SWAR byte counters
    * (8 shift-mask-adds per token instead of a 64-step per-bit loop) while
    * run feeds add r to just the SET bits of the hash. Same integers, same
    * signature bit for bit.
    */
  class SimAcc extends TokenSink {
    private val bitCnt = new Array[Long](64)
    private val sw = new Array[Long](8)
    private var batch = 0
    private var total = 0L
    private var out = 0L

    def rowStart(row: Int, n: Int): Unit = {
      java.util.Arrays.fill(bitCnt, 0L)
      java.util.Arrays.fill(sw, 0L)
      batch = 0
      total = 0L
    }
    private def flush(): Unit = {
      var w = 0
      while (w < 8) {
        val s = sw(w)
        var j = 0
        while (j < 8) { bitCnt(8 * j + w) += (s >>> (8 * j)) & 0xffL; j += 1 }
        sw(w) = 0L
        w += 1
      }
      batch = 0
    }
    def rowEnd(row: Int): Unit = {
      if (batch > 0) flush()
      var sig = 0L
      var b = 0
      while (b < 64) { if (2L * bitCnt(b) > total) sig |= (1L << b); b += 1 }
      out = sig
    }
    def feed(t: Int): Unit = {
      val h = mix64(t.toLong)
      val m = 0x0101010101010101L
      sw(0) += h & m
      sw(1) += (h >>> 1) & m
      sw(2) += (h >>> 2) & m
      sw(3) += (h >>> 3) & m
      sw(4) += (h >>> 4) & m
      sw(5) += (h >>> 5) & m
      sw(6) += (h >>> 6) & m
      sw(7) += (h >>> 7) & m
      batch += 1
      if (batch == 255) flush()
      total += 1L
    }
    override def feedRun(t: Int, r: Int): Unit = {
      var h = mix64(t.toLong)
      while (h != 0L) {
        bitCnt(java.lang.Long.numberOfTrailingZeros(h)) += r.toLong
        h &= h - 1L
      }
      total += r.toLong
    }
    def sig: Long = out
  }

  /** Per-row 64-bit SimHash signatures for one whole chunk, in the codec's
    * compressed domain.
    */
  def chunkRowSigs(codec: String, header: Array[Byte], data: Array[Byte],
                   offs: Array[Int], rowCount: Int): Array[Long] = {
    val sigs = new Array[Long](rowCount)
    val acc = new SimAcc {
      override def rowEnd(row: Int): Unit = {
        super.rowEnd(row)
        sigs(row) = sig
      }
    }
    ChunkWalker.walk(codec, header, data, offs, rowCount, acc)
    sigs
  }
}
