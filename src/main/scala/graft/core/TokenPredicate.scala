package graft.core

/** Per-thread bounded cache keyed by header bytes (hash + content check —
  * a hash collision must never return another header's artifact). One cache
  * per artifact kind so per-row expression eval amortizes header parsing and
  * DFA construction across a chunk's rows (the reference amortizes per
  * 64Ki-row block: reference `src/algos/Comet.hpp:26-38`).
  */
private[graft] final class HeaderCache[V](build: Array[Byte] => V, max: Int = 32) {
  private val tl = new ThreadLocal[java.util.LinkedHashMap[Int, (Array[Byte], V)]] {
    override def initialValue() =
      new java.util.LinkedHashMap[Int, (Array[Byte], V)](64, 0.75f, true) {
        override def removeEldestEntry(e: java.util.Map.Entry[Int, (Array[Byte], V)]) = size > max
      }
  }
  def get(header: Array[Byte]): V = {
    val key = java.util.Arrays.hashCode(header)
    val c = tl.get()
    val hit = c.get(key)
    if (hit != null && java.util.Arrays.equals(hit._1, header)) hit._2
    else {
      val v = build(header)
      c.put(key, (header, v))
      v
    }
  }
}

/** A [[HeaderCache]] per codec: an artifact built from a header is only
  * valid for the codec that wrote it, and two codecs can write the same
  * header bytes (for/bitpack share a one-byte width header, rle/raw an
  * empty one).
  */
private[graft] final class CodecHeaderCache[V](build: (String, Array[Byte]) => V) {
  private val byCodec = scala.collection.concurrent.TrieMap.empty[String, HeaderCache[V]]
  def get(codec: String, header: Array[Byte]): V =
    byCodec.getOrElseUpdate(codec, new HeaderCache[V](build(codec, _))).get(header)
}

private[graft] object EvalCaches {
  private val symtabs = new HeaderCache[SymTab](SymTab.fromBytes)
  private val dicts = new HeaderCache[Array[Int]](DictCodec.readDict)
  private val decoders = new CodecHeaderCache[RowDecoder](Codecs.byName(_).decoder(_))

  def symtab(header: Array[Byte]): SymTab = symtabs.get(header)
  /** Sorted dictionary values from a dict-codec header. */
  def dict(header: Array[Byte]): Array[Int] = dicts.get(header)
  def decoder(codec: String, header: Array[Byte]): RowDecoder = decoders.get(codec, header)
}

/** One chunk's row test over the encoded row bytes `data[from, to)`. */
abstract class RowTest {
  def apply(data: Array[Byte], from: Int, to: Int): Boolean
}

/** A token predicate with its per-codec compressed-domain kernels written
  * once. Each kind owns its decoded evaluation (the decode-then-test path
  * and oracle), its chunk-stats gate, and a per-(codec, header) factory of
  * row tests — the reference's engine factory, whose `nullptr` for "cannot
  * match" is `prepare`'s null (reference `src/BenchmarkDriver.hpp:58-69`).
  * The per-row and per-chunk query expressions are thin drivers over these
  * three members, so the two paths cannot drift apart.
  */
sealed abstract class TokenPredicate extends Serializable {
  /** Decoded evaluation over one row's tokens. */
  def evalDecoded(toks: Array[Int]): Boolean

  /** The `stats.<field>` chunk columns [[gate]] reads, in argument order. */
  def statsFields: Seq[String]

  /** Chunk-stats gate: false when the chunk's stats (the [[statsFields]]
    * values) prove that no row of this chunk can match.
    */
  def gate(codec: String, header: Array[Byte], stats: Array[Any]): Boolean

  /** Row test for a chunk with this (codec, header), or null when no row of
    * such a chunk can match (an exact whole-chunk gate).
    */
  def prepare(codec: String, header: Array[Byte]): RowTest

  /** One-shot row eval re-deriving the header artifacts (tests and fuzz). */
  final def matchesRow(codec: String, header: Array[Byte], data: Array[Byte],
                       from: Int, to: Int): Boolean = {
    val test = prepare(codec, header)
    test != null && test(data, from, to)
  }

  // SQL names of the decoded marker, the per-row compressed match and the
  // chunk scan built on this predicate
  def decodedName: String
  def compressedName: String
  def chunkName: String
}

/** Pattern predicate in one of the five [[PatternMode]]s. FSST chunks run
  * the lookup-KMP machinery on the codes; dict chunks match bit-packed
  * indices; RLE chunks compare runs; for/bitpack match packed values; any
  * other (codec, mode) pair decodes and matches.
  */
final case class PatternPredicate(mode: String, parts: Seq[Seq[Int]]) extends TokenPredicate {
  private val partsArr: Array[Array[Int]] =
    PatternMode.normalize(mode, parts.map(_.toArray).toArray)
  private val neededTokens: Array[Int] = partsArr.flatten.distinct
  private val patternId = System.identityHashCode(this)
  // pattern as maximal runs (RLE-domain matching)
  @transient private lazy val patRuns: (Array[Array[Int]], Array[Array[Int]], Array[Int]) = {
    val rs = partsArr.map(RleMatch.patternRuns)
    (rs.map(_._1), rs.map(_._2), partsArr.map(_.length))
  }

  def decodedName: String = s"tokens_match_$mode"
  def compressedName: String = s"compressed_match_$mode"
  def chunkName: String = s"chunk_match_$mode"

  def evalDecoded(toks: Array[Int]): Boolean = TokenMatch.eval(mode, partsArr, toks)

  def statsFields: Seq[String] = Seq("symbol_bitmap", "escaped_bitmap")

  def gate(codec: String, header: Array[Byte], stats: Array[Any]): Boolean = {
    // every pattern token must be (possibly) present in the chunk's bloom
    val bloom = stats(0).asInstanceOf[Array[Byte]]
    var t = 0
    while (t < neededTokens.length) {
      if (!ChunkStats.bloomHas(bloom, neededTokens(t))) return false
      t += 1
    }
    // FSST (F6): spelling-path set cover against the chunk's escaped-token
    // bloom — Left means the pattern is provably unspellable here. The
    // zero-state skip run inside the matchers (CodeDfa.hot0) does the
    // per-row required-byte skipping fused with the match itself.
    codec != FsstTokenCodec.name ||
      PatternMachine.forTable(EvalCaches.symtab(header), patternId, partsArr)
        .requiredCodeTable(stats(1).asInstanceOf[Array[Byte]]).isRight
  }

  def prepare(codec: String, header: Array[Byte]): RowTest =
    if (codec == FsstTokenCodec.name) {
      val pm = PatternMachine.forTable(EvalCaches.symtab(header), patternId, partsArr)
      (data, from, to) => FsstMatch.eval(mode, pm, data, from, to)
    } else if (mode == PatternMode.Equals) {
      // canonical-encoding equality (E5): the pattern encoded once with this
      // chunk's codec, then one byte compare per row
      PackedEquals.patternImage(codec, header, partsArr(0)) match {
        case None => null
        case Some(img) => (data, from, to) => PackedEquals.rowEquals(data, from, to, img)
      }
    } else if (partsArr.forall(_.isEmpty)) {
      // an empty pattern (LIKE '%%') matches every row; the packed
      // phase-image matchers need a non-empty part
      (_, _, _) => true
    } else if (codec == DictCodec.name) {
      // dict-domain matching: the pattern translated to dictionary indices
      // once (an absent token proves the chunk matchless); rows match in
      // place on the bit-packed index stream (dict = bitpack at width
      // bitsFor(card−1), base 0) — neither indices nor tokens materialize
      DictMatch.translate(EvalCaches.dict(header), partsArr) match {
        case None => null
        case Some(idxParts) =>
          val prep = PackedAnchor.prepareDict(header, mode, idxParts)
          (data, from, to) => prep.evalRow(data, from, to)
      }
    } else if (codec == RleCodec.name) {
      // run-granularity comparisons, rows never expand
      val (pvs, pcs, lens) = patRuns
      (data, from, to) => RleMatch.eval(mode, data, from, to, pvs, pcs, lens)
    } else if (PackedAnchor.supports(codec, mode)) {
      // FoR/bitpack packed-domain matching: phase images and range guards
      // built once per header, no row ever decodes (PackedAnchor scaladoc)
      val prep = PackedAnchor.prepare(codec, header, mode, partsArr)
      (data, from, to) => prep.evalRow(data, from, to)
    } else {
      val dec = EvalCaches.decoder(codec, header)
      (data, from, to) => TokenMatch.eval(mode, partsArr, dec.decode(data, from, to))
    }
}

/** Any token in [lo, hi] — see [[RangeMatch]] for the kernel inventory. */
final case class RangePredicate(lo: Int, hi: Int) extends TokenPredicate {
  def decodedName: String = "any_token_in_range"
  def compressedName: String = "compressed_range_match"
  def chunkName: String = "chunk_range"

  def evalDecoded(toks: Array[Int]): Boolean = RangeMatch.evalDecoded(toks, lo, hi)

  def statsFields: Seq[String] = Seq("min_tok", "max_tok")

  // zone map: the chunk's [min_tok, max_tok] must overlap [lo, hi]
  def gate(codec: String, header: Array[Byte], stats: Array[Any]): Boolean =
    RangeMatch.chunkOverlaps(stats(0).asInstanceOf[Int], stats(1).asInstanceOf[Int], lo, hi)

  def prepare(codec: String, header: Array[Byte]): RowTest = codec match {
    case FsstTokenCodec.name =>
      val table = RangeMatch.fsstCodeTable(EvalCaches.symtab(header), lo, hi)
      (data, from, to) => RangeMatch.evalFsst(table, data, from, to, lo, hi)
    case DictCodec.name =>
      val dict = EvalCaches.dict(header)
      val (iLo, iHi) = RangeMatch.dictIndexRange(dict, lo, hi)
      if (iLo > iHi) null // no dictionary value in range
      else {
        val width = BitPack.bitsFor(math.max(dict.length - 1, 0))
        (data, from, to) => RangeMatch.evalDict(data, from, to, width, iLo, iHi)
      }
    case RleCodec.name => (data, from, to) => RangeMatch.evalRle(data, from, to, lo, hi)
    case BitPackCodec.name =>
      val width = header(0) & 0xff
      (data, from, to) => RangeMatch.evalBitpack(data, from, to, width, lo, hi)
    case ForCodec.name =>
      val width = header(0) & 0xff
      (data, from, to) => RangeMatch.evalFor(data, from, to, width, lo, hi)
    case RawCodec.name => (data, from, to) => RangeMatch.evalRaw(data, from, to, lo, hi)
    case other =>
      val dec = EvalCaches.decoder(other, header)
      (data, from, to) => RangeMatch.evalDecoded(dec.decode(data, from, to), lo, hi)
  }
}

/** Any token in a literal set (blocklist/allowlist) — see [[SetMatch]]. */
final case class SetPredicate(tokens: Seq[Int]) extends TokenPredicate {
  private val sorted: Array[Int] = SetMatch.sortedSet(tokens.toArray)

  def decodedName: String = "any_token_in_set"
  def compressedName: String = "compressed_set_match"
  def chunkName: String = "chunk_set"

  def evalDecoded(toks: Array[Int]): Boolean = SetMatch.evalDecoded(toks, sorted)

  def statsFields: Seq[String] = Seq("min_tok", "max_tok", "symbol_bitmap")

  // zone map (set disjoint from [min_tok, max_tok]) and token bloom (no
  // member may be present) — the ANY-semantics dual of the pattern gate
  def gate(codec: String, header: Array[Byte], stats: Array[Any]): Boolean =
    SetMatch.chunkOverlaps(sorted, stats(0).asInstanceOf[Int], stats(1).asInstanceOf[Int]) &&
      SetMatch.chunkMayContainAny(stats(2).asInstanceOf[Array[Byte]], sorted)

  def prepare(codec: String, header: Array[Byte]): RowTest = codec match {
    case FsstTokenCodec.name =>
      val table = SetMatch.fsstCodeTable(EvalCaches.symtab(header), sorted)
      (data, from, to) => SetMatch.evalFsst(table, sorted, data, from, to)
    case DictCodec.name =>
      val dict = EvalCaches.dict(header)
      SetMatch.dictIndexTable(dict, sorted) match {
        case None => null // no set member in the dictionary
        case Some(table) =>
          val width = BitPack.bitsFor(math.max(dict.length - 1, 0))
          (data, from, to) => SetMatch.evalDict(data, from, to, width, table)
      }
    case RleCodec.name => (data, from, to) => SetMatch.evalRle(data, from, to, sorted)
    case BitPackCodec.name =>
      val width = header(0) & 0xff
      (data, from, to) => SetMatch.evalBitpack(data, from, to, width, sorted)
    case ForCodec.name =>
      val width = header(0) & 0xff
      (data, from, to) => SetMatch.evalFor(data, from, to, width, sorted)
    case RawCodec.name => (data, from, to) => SetMatch.evalRaw(data, from, to, sorted)
    case other =>
      val dec = EvalCaches.decoder(other, header)
      (data, from, to) => SetMatch.evalDecoded(dec.decode(data, from, to), sorted)
  }
}
