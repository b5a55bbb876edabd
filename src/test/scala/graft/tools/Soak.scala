package graft.tools

import graft.core._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Soak-level fuzz: 2000 cases per property (vs 50-200 in CI) across codec
  * round-trips and matcher equivalence. Run occasionally, not in CI.
  */
object Soak {
  def check(name: String, p: Prop, n: Int): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), p)
    println(f"$name%-28s passed=${res.passed} ${res.status}")
    assert(res.passed, s"$name failed: ${res.status}")
  }

  def main(args: Array[String]): Unit = {
    val genToks: Gen[Array[Int]] = Gen.oneOf(
      Gen.const(Array.emptyIntArray),
      Gen.listOf(Gen.chooseNum(Int.MinValue, Int.MaxValue)).map(_.toArray),
      Gen.listOf(Gen.choose(0, 5)).map(_.toArray),
      Gen.choose(0, 2000).flatMap(n => Gen.containerOfN[Array, Int](n, Gen.choose(0, 50))))
    val genRow: Gen[Array[Int]] =
      Gen.choose(0, 150).flatMap(n => Gen.containerOfN[Array, Int](n, Gen.choose(0, 6)))
    val genPart: Gen[Array[Int]] =
      Gen.choose(1, 10).flatMap(n => Gen.containerOfN[Array, Int](n, Gen.choose(0, 6)))

    for (codec <- Codecs.all) {
      check(s"roundtrip-${codec.name}", Prop.forAll(Gen.listOfN(20, genToks)) { rowsL =>
        val rows = rowsL.toIndexedSeq
        val stats = ChunkStats.compute(rows)
        val eligible = !((codec eq DictCodec) && stats.distinctSorted.isEmpty) &&
          !((codec eq BitPackCodec) && stats.minTok < 0)
        if (!eligible) true
        else {
          val header = codec.buildHeader(rows, stats)
          val enc = codec.encoder(header)
          val out = new ByteWriter()
          val offs = new Array[Int](rows.length + 1)
          rows.zipWithIndex.foreach { case (r, i) => enc.encode(r, out); offs(i + 1) = out.size }
          val dec = codec.decoder(header)
          rows.indices.forall(i => java.util.Arrays.equals(dec.decode(out.toBytes, offs(i), offs(i + 1)), rows(i)))
        }
      }, 2000)
    }

    check("matchers-vs-oracle", Prop.forAll(Gen.listOfN(15, genRow), genPart) { (rowsL, part) =>
      val rows = rowsL.toIndexedSeq
      val header = FsstTokenCodec.buildHeader(rows, ChunkStats.compute(rows))
      val st = SymTab.fromBytes(header)
      val enc = FsstTokenCodec.encoder(header)
      val out = new ByteWriter()
      val offs = new Array[Int](rows.length + 1)
      rows.zipWithIndex.foreach { case (r, i) => enc.encode(r, out); offs(i + 1) = out.size }
      val data = out.toBytes
      val pm = new PatternMachine(Array(part), st)
      rows.indices.forall { i =>
        FsstMatch.contains(data, offs(i), offs(i + 1), pm) == TokenMatch.contains(rows(i), part) &&
        FsstMatch.prefix(data, offs(i), offs(i + 1), st, part) == TokenMatch.prefix(rows(i), part) &&
        FsstMatch.suffix(data, offs(i), offs(i + 1), pm) == TokenMatch.suffix(rows(i), part) &&
        FsstMatch.equalsPat(data, offs(i), offs(i + 1), st, part) == TokenMatch.equalsPat(rows(i), part)
      }
    }, 2000)

    check("multi-infix-vs-oracle", Prop.forAll(Gen.listOfN(15, genRow),
      Gen.choose(1, 4).flatMap(k => Gen.listOfN(k, genPart)).map(_.toArray)) { (rowsL, parts) =>
      val rows = rowsL.toIndexedSeq
      val header = FsstTokenCodec.buildHeader(rows, ChunkStats.compute(rows))
      val st = SymTab.fromBytes(header)
      val enc = FsstTokenCodec.encoder(header)
      val out = new ByteWriter()
      val offs = new Array[Int](rows.length + 1)
      rows.zipWithIndex.foreach { case (r, i) => enc.encode(r, out); offs(i + 1) = out.size }
      val pm = new PatternMachine(parts, st)
      rows.indices.forall { i =>
        FsstMatch.multiInfix(out.toBytes, offs(i), offs(i + 1), pm) == TokenMatch.multiInfix(rows(i), parts)
      }
    }, 2000)

    // --- round-2 kernels: RLE/dict-domain matchers, set-cover gate ---------

    val genRunRow: Gen[Array[Int]] =
      Gen.choose(0, 15).flatMap(k =>
        Gen.listOfN(k, Gen.zip(Gen.choose(0, 4), Gen.choose(1, 7))))
        .map(_.flatMap { case (v, c) => List.fill(c)(v) }.toArray)
    val genRunPart: Gen[Array[Int]] =
      Gen.choose(1, 3).flatMap(k =>
        Gen.listOfN(k, Gen.zip(Gen.choose(0, 4), Gen.choose(1, 5))))
        .map(_.flatMap { case (v, c) => List.fill(c)(v) }.toArray)

    check("rle-domain-vs-oracle", Prop.forAll(Gen.listOfN(15, genRunRow),
      Gen.choose(1, 3).flatMap(k => Gen.listOfN(k, genRunPart)).map(_.toArray)) { (rowsL, parts0) =>
      val rows = rowsL.toIndexedSeq
      val header = RleCodec.buildHeader(rows, ChunkStats.compute(rows))
      val enc = RleCodec.encoder(header)
      val out = new ByteWriter()
      val offs = new Array[Int](rows.length + 1)
      rows.zipWithIndex.foreach { case (r, i) => enc.encode(r, out); offs(i + 1) = out.size }
      val data = out.toBytes
      val one = Array(parts0(0))
      val oneRs = one.map(RleMatch.patternRuns)
      val mi = PatternMode.normalize(PatternMode.MultiInfix, parts0)
      val miRs = mi.map(RleMatch.patternRuns)
      rows.indices.forall { i =>
        Seq(PatternMode.Contains, PatternMode.Prefix, PatternMode.Suffix, PatternMode.Equals)
          .forall { m =>
            RleMatch.eval(m, data, offs(i), offs(i + 1), oneRs.map(_._1), oneRs.map(_._2),
              one.map(_.length)) == TokenMatch.eval(m, one, rows(i))
          } &&
          RleMatch.eval(PatternMode.MultiInfix, data, offs(i), offs(i + 1),
            miRs.map(_._1), miRs.map(_._2), mi.map(_.length)) ==
            TokenMatch.multiInfix(rows(i), mi)
      }
    }, 2000)

    check("dict-domain-vs-oracle", Prop.forAll(Gen.listOfN(15, genRow), genPart) { (rowsL, part) =>
      val rows0 = rowsL.toIndexedSeq
      val rows = if (rows0.forall(_.isEmpty)) rows0 :+ Array(1) else rows0
      val header = DictCodec.buildHeader(rows, ChunkStats.compute(rows))
      val dict = DictCodec.readDict(header)
      val enc = DictCodec.encoder(header)
      val out = new ByteWriter()
      val offs = new Array[Int](rows.length + 1)
      rows.zipWithIndex.foreach { case (r, i) => enc.encode(r, out); offs(i + 1) = out.size }
      val dec = DictCodec.indexDecoder(header)
      val data = out.toBytes
      rows.indices.forall { i =>
        Seq(PatternMode.Contains, PatternMode.Prefix, PatternMode.Suffix, PatternMode.Equals)
          .forall { m =>
            val want = TokenMatch.eval(m, Array(part), rows(i))
            val gotIdx = DictMatch.translate(dict, Array(part)) match {
              case None => false
              case Some(ip) => TokenMatch.eval(m, ip, dec.decode(data, offs(i), offs(i + 1)))
            }
            // the engine's in-place path (non-equals modes): phase-image
            // matching on the packed index stream, no row decode
            val gotPacked =
              if (m == PatternMode.Equals) want
              else DictMatch.translate(dict, Array(part)) match {
                case None => false
                case Some(ip) =>
                  PackedAnchor.prepareDict(header, m, ip).evalRow(data, offs(i), offs(i + 1))
              }
            gotIdx == want && gotPacked == want
          }
      }
    }, 2000)

    // FoR/bitpack packed-domain matching (PackedAnchor): prefix/suffix
    // (O(m) anchored compare) AND contains/multi-infix (bit-phase sliding
    // images, round 4) without decode must agree with the token-domain
    // oracle on every row, including per-row bases (FoR), width-0 chunks,
    // and pattern tokens outside a row's frame.
    def packedAnchorCase(rowsIn: IndexedSeq[Array[Int]],
                         part: Array[Int], part2: Array[Int]): Boolean = {
      val rows = if (rowsIn.forall(_.isEmpty)) rowsIn :+ Array(1) else rowsIn
      val stats = ChunkStats.compute(rows)
      val codecs: Seq[ChunkCodec] =
        if (stats.minTok >= 0) Seq(ForCodec, BitPackCodec) else Seq(ForCodec)
      codecs.forall { codec =>
        val header = codec.buildHeader(rows, stats)
        val enc = codec.encoder(header)
        val out = new ByteWriter()
        val offs = new Array[Int](rows.length + 1)
        rows.zipWithIndex.foreach { case (r, i) => enc.encode(r, out); offs(i + 1) = out.size }
        val data = out.toBytes
        val multi = PatternMode.normalize(PatternMode.MultiInfix, Array(part, part2))
        rows.indices.forall { i =>
          Seq(PatternMode.Prefix, PatternMode.Suffix, PatternMode.Contains).forall { m =>
            PackedAnchor.eval(codec.name, header, data, offs(i), offs(i + 1), m, part) ==
              TokenMatch.eval(m, Array(part), rows(i))
          } && {
            PackedAnchor.eval(codec.name, header, data, offs(i), offs(i + 1),
              PatternMode.MultiInfix, multi) ==
              TokenMatch.eval(PatternMode.MultiInfix, multi, rows(i))
          }
        }
      }
    }

    check("packed-anchor-vs-oracle", Prop.forAll(Gen.listOfN(15, genRow), genPart, genPart) {
      (rowsL, part, part2) => packedAnchorCase(rowsL.toIndexedSeq, part, part2)
    }, 2000)

    // wide widths + all bit phases: rows are base+delta with base anywhere
    // in int range (bitpack width up to 31 bits when base ≥ 0; FoR stays
    // narrow per-row while patterns may fall outside a row's frame),
    // including negative bases (FoR-only path)
    val genWideCase: Gen[(IndexedSeq[Array[Int]], Array[Int], Array[Int])] = for {
      base <- Gen.oneOf(Gen.choose(0, Int.MaxValue - 64),
        Gen.choose(-(1 << 30), 1 << 30), Gen.const(0))
      mk = (n: Int) => Gen.containerOfN[Array, Int](n, Gen.choose(0, 50).map(d => base + d))
      rows <- Gen.listOfN(12, Gen.choose(0, 40).flatMap(mk))
      p1 <- Gen.choose(1, 6).flatMap(mk)
      p2 <- Gen.choose(1, 6).flatMap(mk)
    } yield (rows.toIndexedSeq, p1, p2)
    check("packed-anchor-wide-vs-oracle", Prop.forAll(genWideCase) {
      case (rows, p1, p2) => packedAnchorCase(rows, p1, p2)
    }, 2000)

    check("set-cover-gate-sound", Prop.forAll(Gen.listOfN(20, genRow), genPart) { (rowsL, part) =>
      val rows = rowsL.toIndexedSeq
      val header = FsstTokenCodec.buildHeader(rows, ChunkStats.compute(rows))
      val st = SymTab.fromBytes(header)
      val enc = FsstTokenCodec.encoder(header)
      val out = new ByteWriter()
      val offs = new Array[Int](rows.length + 1)
      rows.zipWithIndex.foreach { case (r, i) => enc.encode(r, out); offs(i + 1) = out.size }
      val data = out.toBytes
      val pm = new PatternMachine(Array(part), st)
      pm.requiredCodeTable(enc.escapedBloom) match {
        case Left(_) => rows.forall(r => !TokenMatch.contains(r, part))
        case Right(null) => true
        case Right(tbl) =>
          rows.indices.forall { i =>
            !TokenMatch.contains(rows(i), part) || {
              var p = offs(i)
              var hit = false
              while (!hit && p < offs(i + 1)) { hit = tbl(data(p) & 0xff); p += 1 }
              hit
            }
          }
      }
    }, 2000)

    // range predicate: every codec's compressed-domain kernel vs the
    // decoded-domain oracle, over adversarial bounds (negatives, inverted,
    // out-of-domain, point ranges)
    val genBound: Gen[Int] = Gen.oneOf(
      Gen.chooseNum(Int.MinValue, Int.MaxValue), Gen.choose(-10, 60))
    for (codec <- Codecs.all) {
      check(s"range-vs-oracle-${codec.name}",
        Prop.forAll(Gen.listOfN(15, genToks), genBound, genBound) { (rowsL, a, b) =>
          val rows = rowsL.toIndexedSeq
          val stats = ChunkStats.compute(rows)
          val eligible = !((codec eq DictCodec) && stats.distinctSorted.isEmpty) &&
            !((codec eq BitPackCodec) && stats.minTok < 0)
          if (!eligible) true
          else {
            val (lo, hi) = (math.min(a, b), math.max(a, b))
            val header = codec.buildHeader(rows, stats)
            val enc = codec.encoder(header)
            val out = new ByteWriter()
            val offs = new Array[Int](rows.length + 1)
            rows.zipWithIndex.foreach { case (r, i) => enc.encode(r, out); offs(i + 1) = out.size }
            val data = out.toBytes
            rows.indices.forall { i =>
              RangePredicate(lo, hi).matchesRow(codec.name, header, data, offs(i), offs(i + 1)) ==
                RangeMatch.evalDecoded(rows(i), lo, hi)
            }
          }
        }, 2000)
    }

    // set-membership predicate: per-codec compressed-domain kernels vs the
    // decoded oracle (adversarial sets: empty, duplicates, out-of-domain)
    val genSet: Gen[Array[Int]] = Gen.oneOf(
      Gen.const(Array.emptyIntArray),
      Gen.listOf(Gen.choose(-10, 60)).map(_.toArray),
      Gen.listOf(Gen.chooseNum(Int.MinValue, Int.MaxValue)).map(_.toArray))
    for (codec <- Codecs.all) {
      check(s"set-vs-oracle-${codec.name}",
        Prop.forAll(Gen.listOfN(15, genToks), genSet) { (rowsL, setRaw) =>
          val rows = rowsL.toIndexedSeq
          val stats = ChunkStats.compute(rows)
          val eligible = !((codec eq DictCodec) && stats.distinctSorted.isEmpty) &&
            !((codec eq BitPackCodec) && stats.minTok < 0)
          if (!eligible) true
          else {
            val sorted = SetMatch.sortedSet(setRaw)
            val header = codec.buildHeader(rows, stats)
            val enc = codec.encoder(header)
            val out = new ByteWriter()
            val offs = new Array[Int](rows.length + 1)
            rows.zipWithIndex.foreach { case (r, i) => enc.encode(r, out); offs(i + 1) = out.size }
            val data = out.toBytes
            rows.indices.forall { i =>
              SetPredicate(sorted.toSeq).matchesRow(codec.name, header, data, offs(i), offs(i + 1)) ==
                SetMatch.evalDecoded(rows(i), sorted)
            }
          }
        }, 2000)
    }

    // set-membership COUNTS: the run-aware ChunkWalker sink vs a decoded
    // per-row occurrence count (same adversarial set shapes as above), plus
    // the gate-skip metadata path's n_tok agreeing with the decoded lengths
    for (codec <- Codecs.all) {
      check(s"setcount-vs-oracle-${codec.name}",
        Prop.forAll(Gen.listOfN(15, genToks), genSet) { (rowsL, setRaw) =>
          val rows = rowsL.toIndexedSeq
          val stats = ChunkStats.compute(rows)
          val eligible = !((codec eq DictCodec) && stats.distinctSorted.isEmpty) &&
            !((codec eq BitPackCodec) && stats.minTok < 0)
          if (!eligible) true
          else {
            val sorted = SetMatch.sortedSet(setRaw)
            val header = codec.buildHeader(rows, stats)
            val enc = codec.encoder(header)
            val out = new ByteWriter()
            val offs = new Array[Int](rows.length + 1)
            rows.zipWithIndex.foreach { case (r, i) => enc.encode(r, out); offs(i + 1) = out.size }
            val data = out.toBytes
            val (counts, nToks) = SetCountMatch.chunkRowSetCounts(
              codec.name, header, data, offs, rows.length, sorted)
            val metaToks = SetCountMatch.rowTokenCounts(data, offs, rows.length)
            rows.indices.forall { i =>
              counts(i) == rows(i).count(t => SetMatch.contains(sorted, t)).toLong &&
                nToks(i) == rows(i).length && metaToks(i) == rows(i).length
            }
          }
        }, 2000)
    }

    // compressed-domain scrub: per-codec chunk rewrite vs the decoded remap
    // oracle — decode(scrub(chunk)) must be the element-wise banned→unk map,
    // the rewritten chunk must pass its own crc + decode, and the read-side
    // SetMatch kernels must see no banned token afterwards
    val genUnk: Gen[Int] = Gen.choose(-5, 55)
    for (codec <- Codecs.all) {
      check(s"scrub-vs-oracle-${codec.name}",
        Prop.forAll(Gen.listOfN(15, genToks), genSet, genUnk) { (rowsL, setRaw, unk) =>
          val rows = rowsL.toIndexedSeq
          val stats = ChunkStats.compute(rows)
          val eligible = !((codec eq DictCodec) && stats.distinctSorted.isEmpty) &&
            !((codec eq BitPackCodec) && stats.minTok < 0)
          if (!eligible) true
          else {
            val sorted = SetMatch.sortedSet(setRaw)
            val ids = rows.indices.map(i => s"d$i").toArray
            val c = graft.format.ChunkOps.build(1L, 0, ids, "s",
              TokenRows.ofArrays(rows), forceCodec = Some(codec.name))
            val sc = graft.encode.Scrub.scrubChunk(c, sorted, unk)
            val want = rows.map(_.map(v => if (SetMatch.contains(sorted, v)) unk else v))
            val decoded = graft.format.ChunkOps.decodeAll(sc).toIndexedSeq
            val roundTrip = decoded.length == rows.length &&
              decoded.indices.forall(i => decoded(i).doc_id == ids(i) &&
                java.util.Arrays.equals(decoded(i).tokens, want(i)))
            val scHeader = sc.symtab
            val scOffs = graft.format.Offsets.unpack(sc.offsets, sc.row_count)
            val noBanned = sorted.isEmpty || SetMatch.contains(sorted, unk) ||
              rows.indices.forall { i =>
                !SetPredicate(sorted.toSeq).matchesRow(sc.codec, scHeader, sc.data, scOffs(i), scOffs(i + 1))
              }
            roundTrip && noBanned
          }
        }, 2000)
    }

    // compressed-domain remap: decode(remap(chunk)) must be the element-wise
    // once-per-token key→val map — vals are drawn from the SAME range as
    // keys, so chained rewrites (k1→v1 where v1 is itself a key) would
    // diverge from the oracle and fail
    val genPairs: Gen[List[(Int, Int)]] =
      Gen.listOfN(6, Gen.zip(Gen.choose(-5, 55), Gen.choose(-5, 55)))
    for (codec <- Codecs.all) {
      check(s"remap-vs-oracle-${codec.name}",
        Prop.forAll(Gen.listOfN(15, genToks), genPairs) { (rowsL, pairsL) =>
          val rows = rowsL.toIndexedSeq
          val stats = ChunkStats.compute(rows)
          val eligible = !((codec eq DictCodec) && stats.distinctSorted.isEmpty) &&
            !((codec eq BitPackCodec) && stats.minTok < 0)
          if (!eligible) true
          else {
            val pairs = pairsL.toMap.toArray
              .filter { case (k, v) => k != v }.sortBy(_._1)
            val keys = pairs.map(_._1)
            val vals = pairs.map(_._2)
            val ids = rows.indices.map(i => s"d$i").toArray
            val c = graft.format.ChunkOps.build(1L, 0, ids, "s",
              TokenRows.ofArrays(rows), forceCodec = Some(codec.name))
            val rc = graft.encode.Scrub.remapChunk(c, keys, vals)
            val want = rows.map(_.map { v =>
              val i = java.util.Arrays.binarySearch(keys, v)
              if (i >= 0) vals(i) else v
            })
            val decoded = graft.format.ChunkOps.decodeAll(rc).toIndexedSeq
            decoded.length == rows.length &&
              decoded.indices.forall(i => decoded(i).doc_id == ids(i) &&
                java.util.Arrays.equals(decoded(i).tokens, want(i)))
          }
        }, 2000)
    }

    // compressed-domain truncation: decode(truncate(chunk, L)) must equal the
    // per-row head take, every row of the rewritten chunk must be
    // byte-identical to a fresh canonical encode under the (possibly
    // re-normalized) header — this directly exercises the greedy-prefix
    // splice proof, incl. FSST's crossing-symbol re-encode — and a cap
    // at/above the longest row must return the chunk object unchanged.
    for (codec <- Codecs.all) {
      check(s"truncate-vs-oracle-${codec.name}",
        Prop.forAll(Gen.listOfN(15, genToks), Gen.choose(0, 80)) { (rowsL, maxLen) =>
          val rows = rowsL.toIndexedSeq
          val stats = ChunkStats.compute(rows)
          val eligible = !((codec eq DictCodec) && stats.distinctSorted.isEmpty) &&
            !((codec eq BitPackCodec) && stats.minTok < 0)
          if (!eligible) true
          else {
            val ids = rows.indices.map(i => s"d$i").toArray
            val c = graft.format.ChunkOps.build(1L, 0, ids, "s",
              TokenRows.ofArrays(rows), forceCodec = Some(codec.name))
            val tc = graft.encode.Truncate.truncateChunk(c, maxLen)
            val want = rows.map(_.take(maxLen))
            val decoded = graft.format.ChunkOps.decodeAll(tc).toIndexedSeq
            val roundTrip = decoded.length == rows.length &&
              decoded.indices.forall(i => decoded(i).doc_id == ids(i) &&
                java.util.Arrays.equals(decoded(i).tokens, want(i)))
            val enc = Codecs.byName(tc.codec).encoder(tc.symtab)
            val offs = graft.format.Offsets.unpack(tc.offsets, tc.row_count)
            val canonical = rows.indices.forall { i =>
              val w = new ByteWriter()
              enc.encode(want(i), w)
              val b = w.toBytes
              b.length == offs(i + 1) - offs(i) &&
                b.indices.forall(j => b(j) == tc.data(offs(i) + j))
            }
            val maxRow = rows.map(_.length).max
            val passThrough = graft.encode.Truncate.truncateChunk(c, maxRow) eq c
            val totalsOk = tc.n_tokens == want.map(_.length.toLong).sum
            roundTrip && canonical && passThrough && totalsOk
          }
        }, 2000)
    }

    // compressed-domain sentinel injection: decode(affix(chunk)) must equal
    // bos ++ row ++ eos per row, every row byte-identical to a fresh
    // canonical encode under the (possibly widened / re-dictionaried)
    // header — small-domain sentinels exercise the FSST resync-splice proof
    // (symbols start with / contain them) and the RLE run merges; the large
    // sentinel exercises the escape fast path, dict insert, and packed widen
    val genSentinel: Gen[Option[Int]] = Gen.oneOf(
      Gen.const(None), Gen.choose(0, 6).map(Some(_)),
      Gen.choose(0, 60).map(Some(_)), Gen.const(Some(1000003)))
    for (codec <- Codecs.all) {
      check(s"affix-vs-oracle-${codec.name}",
        Prop.forAll(Gen.listOfN(15, genToks), genSentinel, genSentinel) { (rowsL, bos, eos) =>
          val rows = rowsL.toIndexedSeq
          val stats = ChunkStats.compute(rows)
          val eligible = !((codec eq DictCodec) && stats.distinctSorted.isEmpty) &&
            !((codec eq BitPackCodec) && stats.minTok < 0)
          if (!eligible) true
          else {
            val ids = rows.indices.map(i => s"d$i").toArray
            val c = graft.format.ChunkOps.build(1L, 0, ids, "s",
              TokenRows.ofArrays(rows), forceCodec = Some(codec.name))
            val ac = graft.encode.Affix.affixChunk(c, bos, eos)
            if (bos.isEmpty && eos.isEmpty) ac eq c
            else {
              val want = rows.map(r => bos.toArray ++ r ++ eos.toArray)
              val decoded = graft.format.ChunkOps.decodeAll(ac).toIndexedSeq
              val roundTrip = decoded.length == rows.length &&
                decoded.indices.forall(i => decoded(i).doc_id == ids(i) &&
                  java.util.Arrays.equals(decoded(i).tokens, want(i)))
              val enc = Codecs.byName(ac.codec).encoder(ac.symtab)
              val offs = graft.format.Offsets.unpack(ac.offsets, ac.row_count)
              val canonical = rows.indices.forall { i =>
                val w = new ByteWriter()
                enc.encode(want(i), w)
                val b = w.toBytes
                b.length == offs(i + 1) - offs(i) &&
                  b.indices.forall(j => b(j) == ac.data(offs(i) + j))
              }
              val totalsOk = ac.n_tokens == want.map(_.length.toLong).sum
              roundTrip && canonical && totalsOk
            }
          }
        }, 2000)
    }

    // compressed-domain deletion: decode(delete(chunk, drop)) must equal the
    // kept-row subset with ids intact, every kept row must stay byte-
    // identical to a fresh canonical encode under the (possibly
    // re-normalized) header — exercising the dict stranded-entry
    // re-normalize — an all-row drop must return None, and an empty drop
    // must return the chunk object unchanged
    for (codec <- Codecs.all) {
      check(s"delete-vs-oracle-${codec.name}",
        Prop.forAll(Gen.listOfN(15, genToks),
          Gen.listOfN(15, Gen.choose(0, 3))) { (rowsL, pick) =>
          val rows = rowsL.toIndexedSeq
          val stats = ChunkStats.compute(rows)
          val eligible = !((codec eq DictCodec) && stats.distinctSorted.isEmpty) &&
            !((codec eq BitPackCodec) && stats.minTok < 0)
          if (!eligible) true
          else {
            val ids = rows.indices.map(i => s"d$i").toArray
            val c = graft.format.ChunkOps.build(1L, 0, ids, "s",
              TokenRows.ofArrays(rows), forceCodec = Some(codec.name))
            val drop = rows.indices.filter(i => pick(i) == 0).toArray
            val keep = rows.indices.filterNot(i => pick(i) == 0)
            graft.encode.Delete.deleteChunk(c, drop) match {
              case None => keep.isEmpty
              case Some(dc) =>
                val decoded = graft.format.ChunkOps.decodeAll(dc).toIndexedSeq
                val roundTrip = decoded.length == keep.length &&
                  keep.indices.forall(k => decoded(k).doc_id == ids(keep(k)) &&
                    java.util.Arrays.equals(decoded(k).tokens, rows(keep(k))))
                val enc = Codecs.byName(dc.codec).encoder(dc.symtab)
                val offs = graft.format.Offsets.unpack(dc.offsets, dc.row_count)
                val canonical = keep.indices.forall { k =>
                  val w = new ByteWriter()
                  enc.encode(rows(keep(k)), w)
                  val b = w.toBytes
                  b.length == offs(k + 1) - offs(k) &&
                    b.indices.forall(j => b(j) == dc.data(offs(k) + j))
                }
                val passThrough =
                  graft.encode.Delete.deleteChunk(c, Array.emptyIntArray).get eq c
                val totalsOk = dc.n_tokens == keep.map(rows(_).length.toLong).sum
                roundTrip && canonical && passThrough && totalsOk
            }
          }
        }, 2000)
    }

    // read-side head/tail projections (the windows the rewrite produces for
    // slice(tokens, 1, k) and slice(tokens, −k, k)): the slice decoder must
    // equal take(k), and for k >= 1 the builtin tail, on every codec
    for (codec <- Codecs.all) {
      check(s"head-vs-oracle-${codec.name}",
        Prop.forAll(Gen.listOfN(15, genToks), Gen.choose(0, 80)) { (rowsL, k) =>
          val rows = rowsL.toIndexedSeq
          val stats = ChunkStats.compute(rows)
          val eligible = !((codec eq DictCodec) && stats.distinctSorted.isEmpty) &&
            !((codec eq BitPackCodec) && stats.minTok < 0)
          if (!eligible) true
          else {
            val header = codec.buildHeader(rows, stats)
            val enc = codec.encoder(header)
            val out = new ByteWriter()
            val offs = new Array[Int](rows.length + 1)
            rows.zipWithIndex.foreach { case (r, i) => enc.encode(r, out); offs(i + 1) = out.size }
            val data = out.toBytes
            val sd = SliceDecode.decoder(codec.name, header)
            rows.indices.forall { i =>
              // tail oracle = builtin slice(arr, −k, k): EMPTY when the row
              // is shorter than k
              val wantTail =
                if (rows(i).length >= k) rows(i).takeRight(k) else Array.emptyIntArray
              java.util.Arrays.equals(
                sd.decodeSlice(data, offs(i), offs(i + 1), 1, k), rows(i).take(k)) &&
                (k == 0 || java.util.Arrays.equals(
                  sd.decodeSlice(data, offs(i), offs(i + 1), -k, k), wantTail))
            }
          }
        }, 2000)
    }

    // read-side mid-window projection: decodeSlice against the builtin-slice
    // model (1-based start, negative start from the end, out-of-range start
    // → empty, window clipped at the row end) for adversarial (s, k) incl.
    // starts far past both ends and windows crossing fsst symbol boundaries
    val genStart = Gen.oneOf(Gen.choose(1, 90), Gen.choose(-90, -1),
      Gen.const(1), Gen.const(-1), Gen.const(3000), Gen.const(-3000))
    def sliceModel(row: Array[Int], s: Int, k: Int): Array[Int] = {
      val n = row.length
      val lo = if (s > 0) s - 1 else n + s
      if (lo < 0 || lo >= n || k <= 0) Array.emptyIntArray
      else java.util.Arrays.copyOfRange(row, lo, lo + math.min(k, n - lo))
    }
    for (codec <- Codecs.all) {
      check(s"slice-vs-oracle-${codec.name}",
        Prop.forAll(Gen.listOfN(15, genToks), genStart, Gen.choose(0, 80)) { (rowsL, s, k) =>
          val rows = rowsL.toIndexedSeq
          val stats = ChunkStats.compute(rows)
          val eligible = !((codec eq DictCodec) && stats.distinctSorted.isEmpty) &&
            !((codec eq BitPackCodec) && stats.minTok < 0)
          if (!eligible || s == 0) true
          else {
            val header = codec.buildHeader(rows, stats)
            val enc = codec.encoder(header)
            val out = new ByteWriter()
            val offs = new Array[Int](rows.length + 1)
            rows.zipWithIndex.foreach { case (r, i) => enc.encode(r, out); offs(i + 1) = out.size }
            val data = out.toBytes
            val sd = SliceDecode.decoder(codec.name, header)
            rows.indices.forall { i =>
              java.util.Arrays.equals(
                sd.decodeSlice(data, offs(i), offs(i + 1), s, k),
                sliceModel(rows(i), s, k))
            }
          }
        }, 2000)
    }

    // compressed-domain first token position: PosMatch against indexOf — the
    // run-aware sink must report the START of a matching RLE run and 0 for
    // absent tokens (targets mix in-domain values with misses)
    val genTarget = Gen.oneOf(Gen.choose(0, 50), Gen.choose(-5, 5),
      Gen.const(Int.MaxValue), Gen.chooseNum(Int.MinValue, Int.MaxValue))
    for (codec <- Codecs.all) {
      check(s"firstpos-vs-oracle-${codec.name}",
        Prop.forAll(Gen.listOfN(15, genToks), genTarget) { (rowsL, target) =>
          val rows = rowsL.toIndexedSeq
          val stats = ChunkStats.compute(rows)
          val eligible = !((codec eq DictCodec) && stats.distinctSorted.isEmpty) &&
            !((codec eq BitPackCodec) && stats.minTok < 0)
          if (!eligible) true
          else {
            val header = codec.buildHeader(rows, stats)
            val enc = codec.encoder(header)
            val out = new ByteWriter()
            val offs = new Array[Int](rows.length + 1)
            rows.zipWithIndex.foreach { case (r, i) => enc.encode(r, out); offs(i + 1) = out.size }
            val (poss, nToks) = PosMatch.chunkFirstPositions(
              codec.name, header, out.toBytes, offs, rows.length, target)
            rows.indices.forall { i =>
              poss(i) == rows(i).indexOf(target) + 1 && nToks(i) == rows(i).length
            }
          }
        }, 2000)
    }

    // compressed-domain compaction: splice/merge small sibling chunks and
    // require the decoded (doc_id -> tokens) map unchanged, totals conserved,
    // and every output chunk self-consistent (decodeAll re-checks the crc).
    // fsst chunks share one trained header via the cache (the encode reduce
    // invariant that makes byte-splicing apply); dict chunks deliberately get
    // per-chunk dictionaries so the union-merge path is exercised.
    for (codec <- Codecs.all) {
      check(s"compact-vs-oracle-${codec.name}",
        Prop.forAll(Gen.listOfN(40, genToks), Gen.choose(1, 8),
          Gen.choose(30L, 400L), Gen.oneOf(true, false)) { (rowsL, perChunk, target, share) =>
          val rows = rowsL.toIndexedSeq
          val stats = ChunkStats.compute(rows)
          val eligible = !((codec eq DictCodec) && stats.distinctSorted.isEmpty) &&
            !((codec eq BitPackCodec) && stats.minTok < 0)
          if (!eligible || rows.isEmpty) true
          else {
            // share=true: siblings of one encode run (fsst headers shared →
            // splice); share=false: cross-batch debris (per-chunk tables →
            // the fsst transcode path)
            val cache = if (share)
              scala.collection.mutable.Map.empty[(Int, String), Array[Byte]]
            else null
            var next = 0
            val chunks = rows.grouped(perChunk).zipWithIndex.map { case (g, ci) =>
              val ids = g.indices.map { _ => next += 1; s"d$next" }.toArray
              graft.format.ChunkOps.build(ci.toLong, 0, ids, "s",
                TokenRows.ofArrays(g), Some(codec.name), cache)
            }.toIndexedSeq
            val out = graft.encode.Compact.compactGroup(chunks, target, 13)
            val decoded = out.flatMap(c => graft.format.ChunkOps.decodeAll(c).toSeq)
            val wantRows = rows.indices.map(i => s"d${i + 1}" -> rows(i)).toMap
            decoded.length == rows.length &&
              out.map(_.row_count.toLong).sum == rows.length.toLong &&
              out.map(_.n_tokens).sum == rows.map(_.length.toLong).sum &&
              decoded.forall(t => java.util.Arrays.equals(t.tokens, wantRows(t.doc_id)))
          }
        }, 2000)
    }

    // compressed-domain token histogram: per-codec CountMatch kernels vs the
    // decoded count oracle — exact (token, count) multiset equality per chunk
    for (codec <- Codecs.all) {
      check(s"counts-vs-oracle-${codec.name}",
        Prop.forAll(Gen.listOfN(15, genToks)) { rowsL =>
          val rows = rowsL.toIndexedSeq
          val stats = ChunkStats.compute(rows)
          val eligible = !((codec eq DictCodec) && stats.distinctSorted.isEmpty) &&
            !((codec eq BitPackCodec) && stats.minTok < 0)
          if (!eligible) true
          else {
            val header = codec.buildHeader(rows, stats)
            val enc = codec.encoder(header)
            val out = new ByteWriter()
            val offs = new Array[Int](rows.length + 1)
            rows.zipWithIndex.foreach { case (r, i) => enc.encode(r, out); offs(i + 1) = out.size }
            val (toks, cnts) = CountMatch.chunkCounts(codec.name, header, out.toBytes,
              offs, rows.length, stats.minTok, stats.maxTok)
            val oracle = scala.collection.mutable.LongMap.empty[Long]
            rows.foreach(_.foreach(t => oracle.update(t.toLong, oracle.getOrElse(t.toLong, 0L) + 1L)))
            val oKeys = oracle.keys.toArray.sorted
            toks.length == oKeys.length &&
              toks.indices.forall(i => toks(i).toLong == oKeys(i) && cnts(i) == oracle(oKeys(i)))
          }
        }, 2000)
    }

    // compressed-domain quality profile: per-codec QualityMatch kernel vs a
    // plain per-row Scala oracle — exact (n_tok, n_distinct, max_run,
    // top_cnt) per row (exercises the RLE run fold and run merging across
    // adjacent equal feeds)
    for (codec <- Codecs.all) {
      check(s"quality-vs-oracle-${codec.name}",
        Prop.forAll(Gen.listOfN(15, genToks)) { rowsL =>
          val rows = rowsL.toIndexedSeq
          val stats = ChunkStats.compute(rows)
          val eligible = !((codec eq DictCodec) && stats.distinctSorted.isEmpty) &&
            !((codec eq BitPackCodec) && stats.minTok < 0)
          if (!eligible) true
          else {
            val header = codec.buildHeader(rows, stats)
            val enc = codec.encoder(header)
            val out = new ByteWriter()
            val offs = new Array[Int](rows.length + 1)
            rows.zipWithIndex.foreach { case (r, i) => enc.encode(r, out); offs(i + 1) = out.size }
            val p = QualityMatch.chunkRowProfiles(codec.name, header, out.toBytes,
              offs, rows.length)
            rows.indices.forall { i =>
              val r = rows(i)
              val counts = scala.collection.mutable.LongMap.empty[Int]
              r.foreach(t => counts.update(t.toLong, counts.getOrElse(t.toLong, 0) + 1))
              var best = 0; var run = 0; var prev = 0; var has = false
              r.foreach { t =>
                if (has && t == prev) run += 1 else { run = 1; prev = t; has = true }
                if (run > best) best = run
              }
              p.nTok(i) == r.length && p.nDistinct(i) == counts.size &&
                p.maxRun(i) == best &&
                p.topCnt(i) == (if (counts.isEmpty) 0 else counts.values.max)
            }
          }
        }, 2000)
    }

    // compressed-domain content hash: per-codec HashMatch kernels vs the
    // decoded-array reference hash — bit-identical 128-bit lanes per row
    // (exercises the FSST code-fragment precompute, the RLE closed-form
    // run fold, and the packed-value cursors)
    for (codec <- Codecs.all) {
      check(s"hashes-vs-oracle-${codec.name}",
        Prop.forAll(Gen.listOfN(15, genToks)) { rowsL =>
          val rows = rowsL.toIndexedSeq
          val stats = ChunkStats.compute(rows)
          val eligible = !((codec eq DictCodec) && stats.distinctSorted.isEmpty) &&
            !((codec eq BitPackCodec) && stats.minTok < 0)
          if (!eligible) true
          else {
            val header = codec.buildHeader(rows, stats)
            val enc = codec.encoder(header)
            val out = new ByteWriter()
            val offs = new Array[Int](rows.length + 1)
            rows.zipWithIndex.foreach { case (r, i) => enc.encode(r, out); offs(i + 1) = out.size }
            val (h1, h2) = HashMatch.chunkRowHashes(codec.name, header, out.toBytes,
              offs, rows.length)
            rows.indices.forall { i =>
              h1(i) == HashMatch.hashTokens1(rows(i), 0, rows(i).length) &&
                h2(i) == HashMatch.hashTokens2(rows(i), 0, rows(i).length)
            }
          }
        }, 2000)
    }

    // RLE closed-form fold at LARGE run lengths (the O(log r) square-and-
    // multiply path; genToks runs are short, so exercise r up to 100k)
    check("hashes-rle-long-runs", Prop.forAll(
      Gen.listOfN(4, Gen.choose(1, 6).flatMap(nr =>
        Gen.listOfN(nr, Gen.zip(Gen.choose(1, 100000), Gen.choose(-3, 3)))
          .map(_.flatMap { case (r, v) => Array.fill(r)(v) }.toArray)))) { rowsL =>
      val rows = rowsL.toIndexedSeq
      val header = RleCodec.buildHeader(rows, ChunkStats.compute(rows))
      val enc = RleCodec.encoder(header)
      val out = new ByteWriter()
      val offs = new Array[Int](rows.length + 1)
      rows.zipWithIndex.foreach { case (r, i) => enc.encode(r, out); offs(i + 1) = out.size }
      val (h1, h2) = HashMatch.chunkRowHashes(RleCodec.name, header, out.toBytes,
        offs, rows.length)
      rows.indices.forall { i =>
        h1(i) == HashMatch.hashTokens1(rows(i), 0, rows(i).length) &&
          h2(i) == HashMatch.hashTokens2(rows(i), 0, rows(i).length)
      }
    }, 200)

    // compressed-domain minhash: per-codec rolling-window kernels vs the
    // reference shingle and MinHash definitions on the decoded array — gram
    // sets and every signature lane bit-identical (exercises the RLE
    // saturated-window fold and the FSST symbol-run feed)
    locally {
      import graft.pipeline.ReferenceFingerprints
      def mhOracle(toks: Array[Int], n: Int, k: Int, seed: Long): (Array[Long], Array[Long]) = {
        val grams = ReferenceFingerprints.shingles(toks, n)
        (grams, ReferenceFingerprints.minhash(grams, k, seed))
      }
      for (codec <- Codecs.all) {
        check(s"minhash-vs-oracle-${codec.name}",
          Prop.forAll(Gen.listOfN(12, genToks), Gen.choose(1, 5)) { (rowsL, n) =>
            val rows = rowsL.toIndexedSeq
            val stats = ChunkStats.compute(rows)
            val eligible = !((codec eq DictCodec) && stats.distinctSorted.isEmpty) &&
              !((codec eq BitPackCodec) && stats.minTok < 0)
            if (!eligible) true
            else {
              val header = codec.buildHeader(rows, stats)
              val enc = codec.encoder(header)
              val out = new ByteWriter()
              val offs = new Array[Int](rows.length + 1)
              rows.zipWithIndex.foreach { case (r, i) => enc.encode(r, out); offs(i + 1) = out.size }
              val (grams, sigs, nToks) = MinHashMatch.chunkRowSigs(codec.name, header,
                out.toBytes, offs, rows.length, n, 8, 42L, collectGrams = true)
              rows.indices.forall { i =>
                val (og, os) = mhOracle(rows(i), n, 8, 42L)
                nToks(i) == rows(i).length &&
                  java.util.Arrays.equals(grams(i), og) &&
                  java.util.Arrays.equals(sigs(i), os)
              }
            }
          }, 1000)
      }
      // compressed-domain simhash: per-codec unigram majority-vote kernels
      // vs the reference SimHash definition on the decoded array (exercises
      // the RLE ±r run fold and the FSST symbol-run feed)
      def shOracle(toks: Array[Int]): Long = ReferenceFingerprints.simhash(toks)
      for (codec <- Codecs.all) {
        check(s"simhash-vs-oracle-${codec.name}",
          Prop.forAll(Gen.listOfN(12, genToks)) { rowsL =>
            val rows = rowsL.toIndexedSeq
            val stats = ChunkStats.compute(rows)
            val eligible = !((codec eq DictCodec) && stats.distinctSorted.isEmpty) &&
              !((codec eq BitPackCodec) && stats.minTok < 0)
            if (!eligible) true
            else {
              val header = codec.buildHeader(rows, stats)
              val enc = codec.encoder(header)
              val out = new ByteWriter()
              val offs = new Array[Int](rows.length + 1)
              rows.zipWithIndex.foreach { case (r, i) => enc.encode(r, out); offs(i + 1) = out.size }
              val sigs = SimHashMatch.chunkRowSigs(codec.name, header,
                out.toBytes, offs, rows.length)
              rows.indices.forall(i => sigs(i) == shOracle(rows(i)))
            }
          }, 1000)
      }
      // simhash RLE ±r fold at LARGE run lengths
      check("simhash-rle-long-runs", Prop.forAll(
        Gen.listOfN(3, Gen.choose(1, 6).flatMap(nr =>
          Gen.listOfN(nr, Gen.zip(Gen.choose(1, 100000), Gen.choose(-3, 3)))
            .map(_.flatMap { case (r, v) => Array.fill(r)(v) }.toArray)))) { rowsL =>
        val rows = rowsL.toIndexedSeq
        val header = RleCodec.buildHeader(rows, ChunkStats.compute(rows))
        val enc = RleCodec.encoder(header)
        val out = new ByteWriter()
        val offs = new Array[Int](rows.length + 1)
        rows.zipWithIndex.foreach { case (r, i) => enc.encode(r, out); offs(i + 1) = out.size }
        val sigs = SimHashMatch.chunkRowSigs(RleCodec.name, header,
          out.toBytes, offs, rows.length)
        rows.indices.forall(i => sigs(i) == shOracle(rows(i)))
      }, 100)

      // compressed-domain winnowing: per-codec rolling k-gram + sliding
      // window-min kernels vs the reference winnowing definition on the
      // decoded array (exercises the monotonic deque, the short-row single
      // window, the unsigned min order, and the RLE k+w prefix fold)
      def wfOracle(toks: Array[Int], k: Int, w: Int): Array[Long] =
        ReferenceFingerprints.winnow(toks, k, w)
      for (codec <- Codecs.all) {
        check(s"winnow-vs-oracle-${codec.name}",
          Prop.forAll(Gen.listOfN(12, genToks), Gen.choose(1, 5), Gen.choose(1, 6)) {
            (rowsL, k, w) =>
              val rows = rowsL.toIndexedSeq
              val stats = ChunkStats.compute(rows)
              val eligible = !((codec eq DictCodec) && stats.distinctSorted.isEmpty) &&
                !((codec eq BitPackCodec) && stats.minTok < 0)
              if (!eligible) true
              else {
                val header = codec.buildHeader(rows, stats)
                val enc = codec.encoder(header)
                val out = new ByteWriter()
                val offs = new Array[Int](rows.length + 1)
                rows.zipWithIndex.foreach { case (r, i) => enc.encode(r, out); offs(i + 1) = out.size }
                val fps = WinnowMatch.chunkRowFingerprints(codec.name, header,
                  out.toBytes, offs, rows.length, k, w)
                rows.indices.forall(i => java.util.Arrays.equals(fps(i), wfOracle(rows(i), k, w)))
              }
          }, 1000)
      }
      // winnowing RLE prefix fold at LARGE run lengths (a run of r costs
      // min(r, k+w) feeds — prove the skipped feeds change nothing)
      check("winnow-rle-long-runs", Prop.forAll(
        Gen.listOfN(3, Gen.choose(1, 6).flatMap(nr =>
          Gen.listOfN(nr, Gen.zip(Gen.choose(1, 100000), Gen.choose(-3, 3)))
            .map(_.flatMap { case (r, v) => Array.fill(r)(v) }.toArray))),
        Gen.choose(1, 5), Gen.choose(1, 6)) { (rowsL, k, w) =>
        val rows = rowsL.toIndexedSeq
        val header = RleCodec.buildHeader(rows, ChunkStats.compute(rows))
        val enc = RleCodec.encoder(header)
        val out = new ByteWriter()
        val offs = new Array[Int](rows.length + 1)
        rows.zipWithIndex.foreach { case (r, i) => enc.encode(r, out); offs(i + 1) = out.size }
        val fps = WinnowMatch.chunkRowFingerprints(RleCodec.name, header,
          out.toBytes, offs, rows.length, k, w)
        rows.indices.forall(i => java.util.Arrays.equals(fps(i), wfOracle(rows(i), k, w)))
      }, 100)

      // compressed-domain span blocks: per-codec fixed-width block hashing
      // vs HashMatch's reference polynomial on the decoded array — every
      // block's two lanes bit-identical, trailing partial dropped
      for (codec <- Codecs.all) {
        check(s"spanblocks-vs-oracle-${codec.name}",
          Prop.forAll(Gen.listOfN(12, genToks), Gen.choose(1, 7)) { (rowsL, k) =>
            val rows = rowsL.toIndexedSeq
            val stats = ChunkStats.compute(rows)
            val eligible = !((codec eq DictCodec) && stats.distinctSorted.isEmpty) &&
              !((codec eq BitPackCodec) && stats.minTok < 0)
            if (!eligible) true
            else {
              val header = codec.buildHeader(rows, stats)
              val enc = codec.encoder(header)
              val out = new ByteWriter()
              val offs = new Array[Int](rows.length + 1)
              rows.zipWithIndex.foreach { case (r, i) => enc.encode(r, out); offs(i + 1) = out.size }
              val (l1, l2) = SpanMatch.chunkRowBlocks(codec.name, header,
                out.toBytes, offs, rows.length, k)
              rows.indices.forall { i =>
                val nb = rows(i).length / k
                l1(i).length == nb && l2(i).length == nb &&
                  (0 until nb).forall { b =>
                    l1(i)(b) == HashMatch.hashTokens1(rows(i), b * k, k) &&
                      l2(i)(b) == HashMatch.hashTokens2(rows(i), b * k, k)
                  }
              }
            }
          }, 1000)
      }

      // RLE saturated-window fold at LARGE run lengths (a run of r costs
      // min(r, n) feeds — prove the skipped feeds change nothing)
      check("minhash-rle-long-runs", Prop.forAll(
        Gen.listOfN(3, Gen.choose(1, 6).flatMap(nr =>
          Gen.listOfN(nr, Gen.zip(Gen.choose(1, 100000), Gen.choose(-3, 3)))
            .map(_.flatMap { case (r, v) => Array.fill(r)(v) }.toArray))),
        Gen.choose(1, 5)) { (rowsL, n) =>
        val rows = rowsL.toIndexedSeq
        val header = RleCodec.buildHeader(rows, ChunkStats.compute(rows))
        val enc = RleCodec.encoder(header)
        val out = new ByteWriter()
        val offs = new Array[Int](rows.length + 1)
        rows.zipWithIndex.foreach { case (r, i) => enc.encode(r, out); offs(i + 1) = out.size }
        val (grams, sigs, _) = MinHashMatch.chunkRowSigs(RleCodec.name, header,
          out.toBytes, offs, rows.length, n, 8, 42L, collectGrams = true)
        rows.indices.forall { i =>
          val (og, os) = mhOracle(rows(i), n, 8, 42L)
          java.util.Arrays.equals(grams(i), og) && java.util.Arrays.equals(sigs(i), os)
        }
      }, 100)
    }

    // compressed-domain bigram histogram: per-codec chunkBigrams kernels vs
    // the decoded adjacent-pair oracle — exact (t1, t2, count) equality
    for (codec <- Codecs.all) {
      check(s"bigrams-vs-oracle-${codec.name}",
        Prop.forAll(Gen.listOfN(15, genToks)) { rowsL =>
          val rows = rowsL.toIndexedSeq
          val stats = ChunkStats.compute(rows)
          val eligible = !((codec eq DictCodec) && stats.distinctSorted.isEmpty) &&
            !((codec eq BitPackCodec) && stats.minTok < 0)
          if (!eligible) true
          else {
            val header = codec.buildHeader(rows, stats)
            val enc = codec.encoder(header)
            val out = new ByteWriter()
            val offs = new Array[Int](rows.length + 1)
            rows.zipWithIndex.foreach { case (r, i) => enc.encode(r, out); offs(i + 1) = out.size }
            val (t1s, t2s, cnts) = CountMatch.chunkBigrams(codec.name, header, out.toBytes,
              offs, rows.length, stats.minTok, stats.maxTok)
            val oracle = scala.collection.mutable.LongMap.empty[Long]
            rows.foreach { r =>
              var j = 1
              while (j < r.length) {
                val k = (r(j - 1).toLong << 32) | (r(j).toLong & 0xffffffffL)
                oracle.update(k, oracle.getOrElse(k, 0L) + 1L)
                j += 1
              }
            }
            t1s.length == oracle.size && t1s.indices.forall { i =>
              val k = (t1s(i).toLong << 32) | (t2s(i).toLong & 0xffffffffL)
              oracle.getOrElse(k, -1L) == cnts(i)
            }
          }
        }, 2000)
    }

    // --- round-5 embedding quantizer: code bounds + reconstruction bound ---
    val genEmb: Gen[Array[Float]] = Gen.oneOf(
      Gen.const(Array.emptyFloatArray),
      Gen.choose(1, 256).flatMap(n => Gen.containerOfN[Array, Float](n,
        Gen.chooseNum(-1e6f, 1e6f))),
      Gen.choose(1, 64).flatMap(n => Gen.containerOfN[Array, Float](n,
        Gen.oneOf(Gen.const(0.0f), Gen.const(-0.0f), Gen.chooseNum(-1e-30f, 1e-30f),
          Gen.chooseNum(-2.0f, 2.0f)))))
    check("i8-quantize-recon-bound", Prop.forAll(genEmb) { emb =>
      val s = graft.pipeline.QuantizeKernel.scaleOf(emb)
      val q = graft.pipeline.QuantizeKernel.quantize(emb, s)
      q.length == emb.length &&
        q.forall(b => b >= -127 && b <= 127) &&
        emb.indices.forall { i =>
          math.abs(emb(i).toDouble - q(i) * s) <= s * 0.5 + 1e-12
        } &&
        // codes are sign-faithful: x>0 never quantizes negative and vice versa
        emb.indices.forall(i => emb(i) * q(i) >= 0 || q(i) == 0)
    }, 2000)

    println("SOAK OK")
  }
}
