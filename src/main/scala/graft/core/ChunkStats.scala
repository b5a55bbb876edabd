package graft.core

import scala.collection.mutable

/** Exact single-pass statistics over a chunk's rows — the generalization of
  * the reference's per-block `used_chars` bitmap
  * (/root/reference/src/BenchmarkDriver.cpp:128-137) into the inputs the codec
  * auto-selector needs (north_star: cardinality / run-length / value-range).
  *
  * `bloom` is a 1024-bit token-presence filter used for chunk skipping
  * (SURVEY.md §4 O4: the chunk-level analog of the required-symbol scan).
  */
final case class ChunkStats(
    rowCount: Int,
    totalTokens: Long,
    minTok: Int,
    maxTok: Int,
    maxRowRange: Long,                       // max over rows of (rowMax - rowMin)
    maxRun: Int,
    numRuns: Long,
    varintBytes: Long,                       // exact raw-codec payload size (sans prefixes)
    distinctSorted: Option[Array[Int]],      // exact, iff cardinality <= DictCodec.MaxCard
    distinctEst: Long,
    bloom: Array[Byte]) {

  def mayContainToken(t: Int): Boolean = ChunkStats.bloomHas(bloom, t)
}

object ChunkStats {
  val BloomBits = 1024
  val BloomBytes: Int = BloomBits / 8

  @inline private def mix(t: Int): Int = {
    var h = t * 0x9e3779b1
    h ^= h >>> 16
    h
  }
  @inline def bloomSet(b: Array[Byte], t: Int): Unit = {
    val h = mix(t) & (BloomBits - 1)
    b(h >>> 3) = (b(h >>> 3) | (1 << (h & 7))).toByte
  }
  @inline def bloomHas(b: Array[Byte], t: Int): Boolean = {
    val h = mix(t) & (BloomBits - 1)
    (b(h >>> 3) & (1 << (h & 7))) != 0
  }

  def compute(rows: TokenRows): ChunkStats = {
    val b = new Builder
    var ri = 0
    while (ri < rows.rowCount) { b.addRowRange(rows.buf(ri), rows.start(ri), rows.len(ri)); ri += 1 }
    b.build()
  }

  def compute(rows: IndexedSeq[Array[Int]]): ChunkStats = {
    val b = new Builder
    var ri = 0
    while (ri < rows.length) { b.addRow(rows(ri)); ri += 1 }
    b.build()
  }

  /** Incremental builder — every statistic is row-internal or
    * order-independent, so stats can accrue while rows are buffered (fusing
    * the stats pass into chunk accumulation) and the chunk can still sort
    * its rows afterwards.
    */
  final class Builder {
    private var rowCount = 0
    private var minT = Int.MaxValue
    private var maxT = Int.MinValue
    private var maxRowRange = 0L
    private var maxRun = 0
    private var runs = 0L
    private var total = 0L
    private var vbytes = 0L
    private var bloom = new Array[Byte](BloomBytes)
    private var distinct = new IntSet(DictCodec.MaxCard)

    def addRow(toks: Array[Int]): Unit = addRowRange(toks, 0, toks.length)

    /** One row's tokens at [from, from+n) of a shared buffer (the
      * GroupBuffer's primitive array — avoids a per-row Array[Int]).
      */
    def addRowRange(toks: Array[Int], from: Int, n: Int): Unit = {
      rowCount += 1
      total += n
      var rowMin = Int.MaxValue
      var rowMax = Int.MinValue
      var i = from
      val end = from + n
      while (i < end) {
        val v = toks(i)
        if (v < rowMin) rowMin = v
        if (v > rowMax) rowMax = v
        val vl = Varint.zigzagLen(v)
        bloomSet(bloom, v)
        distinct.add(v)
        var run = 1
        while (i + run < end && toks(i + run) == v) run += 1
        if (run > maxRun) maxRun = run
        runs += 1
        vbytes += vl.toLong * run
        i += run
      }
      if (n > 0) {
        if (rowMin < minT) minT = rowMin
        if (rowMax > maxT) maxT = rowMax
        val range = rowMax.toLong - rowMin.toLong
        if (range > maxRowRange) maxRowRange = range
      }
    }

    def build(): ChunkStats = {
      val minOut = if (total == 0L) 0 else minT
      val maxOut = if (total == 0L) 0 else maxT
      val sorted = if (distinct.overflowed) None else Some(distinct.toSortedArray)
      ChunkStats(rowCount, total, minOut, maxOut, maxRowRange, maxRun, runs, vbytes,
        sorted, if (distinct.overflowed) DictCodec.MaxCard + 1L else distinct.size.toLong, bloom)
    }

    def reset(): Unit = {
      rowCount = 0
      minT = Int.MaxValue
      maxT = Int.MinValue
      maxRowRange = 0L
      maxRun = 0
      runs = 0L
      total = 0L
      vbytes = 0L
      bloom = new Array[Byte](BloomBytes)
      distinct = new IntSet(DictCodec.MaxCard)
    }
  }
}

/** Primitive open-addressing int set with a cardinality cap — no boxing in
  * the per-token stats pass. Once `cap` distinct values are seen it stops
  * recording (dict becomes ineligible anyway). Starts at `initialCapacity`
  * slots and doubles whenever the load would pass 0.5; the default sizes it
  * for `cap` up front (load <= 0.25 at cap), so it never grows.
  */
private[graft] final class IntSet(cap: Int,
                                  initialCapacity: Int = -1) {
  private var capacity =
    if (initialCapacity > 0) Integer.highestOneBit(math.max(initialCapacity - 1, 8)) << 1
    else Integer.highestOneBit(math.max(cap * 4, 16))
  private var slots = new Array[Int](capacity)
  private var used = new Array[Boolean](capacity)
  var size = 0
  var overflowed = false

  @inline private def home(v: Int): Int =
    (v * 0x9e3779b1) >>> (32 - Integer.numberOfTrailingZeros(capacity)) & (capacity - 1)

  def add(v: Int): Unit = {
    if (overflowed) return
    val mask = capacity - 1
    var idx = home(v)
    while (used(idx)) {
      if (slots(idx) == v) return
      idx = (idx + 1) & mask
    }
    if (size >= cap) { overflowed = true; return }
    if (2 * (size + 1) > capacity) { grow(); add(v); return }
    used(idx) = true
    slots(idx) = v
    size += 1
  }

  private def grow(): Unit = {
    val (oldSlots, oldUsed) = (slots, used)
    capacity *= 2
    slots = new Array[Int](capacity)
    used = new Array[Boolean](capacity)
    size = 0
    var i = 0
    while (i < oldSlots.length) {
      if (oldUsed(i)) add(oldSlots(i))
      i += 1
    }
  }

  def toSortedArray: Array[Int] = {
    val out = new Array[Int](size)
    var i = 0
    var k = 0
    while (i < capacity) {
      if (used(i)) { out(k) = slots(i); k += 1 }
      i += 1
    }
    java.util.Arrays.sort(out)
    out
  }
}

/** Statistics-driven codec auto-selection (north_star). Cost-based: estimate
  * the encoded payload bytes of each eligible codec from the exact stats (plus
  * a bounded trial encode for FSST, whose ratio is data-dependent) and pick
  * the cheapest. Deterministic for a given chunk.
  */
object CodecSelector {
  val FsstTrialTokens = 4096

  final case class Choice(codec: ChunkCodec, header: Array[Byte], estBytes: Long)

  /** @param reuseFsstHeader a symbol table trained on an earlier chunk of the
    *   same (bucket, source) group — escapes make reuse safe for FSST (and
    *   ONLY for FSST: positional codecs would wrap out-of-range values), and
    *   it amortizes training across a partition's chunks the way the
    *   reference amortizes per-block setup (SURVEY.md §4 O3).
    */
  def choose(rows: IndexedSeq[Array[Int]], stats: ChunkStats): Choice =
    choose(TokenRows.ofArrays(rows), stats)

  def choose(rows: TokenRows, stats: ChunkStats,
             reuseFsstHeader: Option[Array[Byte]] = None): Choice = {
    val n = stats.totalTokens
    if (n == 0) return Choice(RawCodec, RawCodec.buildHeader(rows, stats), 0L)

    val rowOverhead = stats.rowCount.toLong * 2 // varint row prefixes, rough
    val candidates = mutable.ArrayBuffer.empty[(Long, ChunkCodec)]

    // raw: exact
    candidates += ((stats.varintBytes + rowOverhead, RawCodec))

    // rle: one (run varint + value varint) per run; sizes ~ avg varint len
    val avgVar = math.max(1L, stats.varintBytes / n)
    candidates += ((stats.numRuns * (1L + avgVar) + rowOverhead, RleCodec))

    // dict: header + width-bit indices
    stats.distinctSorted.foreach { dict =>
      val width = BitPack.bitsFor(dict.length - 1L)
      val hdr = dict.length.toLong * avgVar + 4
      candidates += ((hdr + (n * width + 7) / 8 + rowOverhead, DictCodec))
    }

    // FoR: per-row base → width from the widest single row
    val wFor = BitPack.bitsFor(stats.maxRowRange)
    candidates += (((n * wFor + 7) / 8 + rowOverhead + stats.rowCount.toLong * 2 + 2, ForCodec))
    // bitpack: zero base, width from the chunk max
    if (stats.minTok >= 0) {
      val wBp = BitPack.bitsFor(stats.maxTok.toLong)
      candidates += (((n * wBp + 7) / 8 + rowOverhead + 2, BitPackCodec))
    }

    // fsst: trial-train + trial-encode a bounded sample, extrapolate.
    // Skip the (training-dominated) trial when a positional codec already
    // reaches < 0.4 B/token — FSST symbols cover at most 8 tokens per code
    // byte, so it rarely beats that floor.
    val bestSoFar = candidates.minBy(_._1)
    var fsstHeader: Array[Byte] = null
    if (bestSoFar._1.toDouble / n >= 0.4) {
      fsstHeader = reuseFsstHeader.getOrElse(FsstTokenCodec.buildHeader(rows, stats))
      val trialEnc = FsstTokenCodec.encoder(fsstHeader)
      val out = new ByteWriter(8192)
      var trialTokens = 0L
      var ri = 0
      while (ri < rows.rowCount && trialTokens < FsstTrialTokens) {
        trialEnc.encode(rows.buf(ri), rows.start(ri), rows.len(ri), out)
        trialTokens += rows.len(ri)
        ri += 1
      }
      if (trialTokens > 0) {
        val perTok = out.size.toDouble / trialTokens
        candidates += ((fsstHeader.length + (perTok * n).toLong, FsstTokenCodec))
      }
    }

    // deterministic preference on ties: the candidate insertion order above
    val (estBytes, codec) = candidates.minBy(_._1)
    val header =
      if ((codec eq FsstTokenCodec) && fsstHeader != null) fsstHeader
      else codec.buildHeader(rows, stats)
    Choice(codec, header, estBytes)
  }
}
