package perfbench

import graft.core._
import graft.format.TokenRow

/** Pure-JVM, single-thread timings of the core layer on a fixed in-memory
  * sample of the workload's rows: codec selection, FSST training, encode,
  * decode and size per codec, and the compressed-domain pattern kernels.
  */
object CoreProbe {
  val Codecs: Seq[String] = Seq("fsst", "dict", "rle", "for", "bitpack", "raw")
  val SampleTokens = 1 << 20
  val ChunkTokens = 1 << 16
  val Reps = 3

  /** Sample rows grouped into chunk-sized groups of one source each. */
  def chunksOf(rows: Array[TokenRow]): Seq[IndexedSeq[Array[Int]]] = {
    var budget = SampleTokens.toLong
    val sample = rows.iterator.takeWhile { r => budget -= r.tokens.length; budget > 0 }.toSeq
    sample.groupBy(_.source).toSeq.sortBy(_._1).flatMap { case (_, rs) =>
      val out = scala.collection.mutable.ArrayBuffer.empty[IndexedSeq[Array[Int]]]
      var cur = scala.collection.mutable.ArrayBuffer.empty[Array[Int]]
      var n = 0L
      rs.foreach { r =>
        cur += r.tokens; n += r.tokens.length
        if (n >= ChunkTokens) { out += cur.toIndexedSeq; cur = scala.collection.mutable.ArrayBuffer.empty; n = 0L }
      }
      if (cur.nonEmpty) out += cur.toIndexedSeq
      out
    }
  }

  private def best(f: => Unit): Double =
    (1 to Reps).map { _ => val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }.min

  /** An encoded chunk: codec header, data, and row end offsets. */
  final case class Enc(header: Array[Byte], data: Array[Byte], ends: Array[Int])

  private def encode(c: ChunkCodec, header: Array[Byte], rows: IndexedSeq[Array[Int]]): Enc = {
    val e = c.encoder(header)
    val out = new ByteWriter(1 << 16)
    val ends = rows.map { r => e.encode(r, 0, r.length, out); out.size }.toArray
    Enc(header, out.toBytes, ends)
  }

  private def decodeAll(c: ChunkCodec, e: Enc): Unit = {
    val d = c.decoder(e.header)
    var from = 0
    e.ends.foreach { end => d.decode(e.data, from, end); from = end }
  }

  def run(rows: Array[TokenRow]): Seq[Metric] = {
    val chunks = chunksOf(rows)
    val stats = chunks.map(ChunkStats.compute(_))
    val selectS = best(chunks.zip(stats).foreach { case (c, s) => CodecSelector.choose(c, s) })
    val trainS = best(chunks.foreach(c => FsstTrainer.train(c)))
    val perCodec = Codecs.map { name =>
      val codec = graft.core.Codecs.byName(name)
      val usable = chunks.zip(stats).filter { case (_, s) =>
        name match {
          case "dict" => s.distinctSorted.isDefined
          case "bitpack" => s.minTok >= 0
          case _ => true
        }
      }
      val toks = usable.map(_._2.totalTokens).sum.toDouble
      val headers = usable.map { case (c, s) => codec.buildHeader(c, s) }
      var encoded: Seq[Enc] = Nil
      val encS = best { encoded = usable.zip(headers).map { case ((c, _), h) => encode(codec, h, c) } }
      val decS = best(encoded.foreach(decodeAll(codec, _)))
      val bytes = encoded.map(e => e.header.length + e.data.length).sum.toDouble
      val metrics = Seq(
        Metric(s"core.encode_mtok_s.$name", toks / encS / 1e6, "Mtok/s"),
        Metric(s"core.decode_mtok_s.$name", toks / decS / 1e6, "Mtok/s"),
        Metric(s"core.bytes_per_token.$name", bytes / math.max(1.0, toks), "B/tok"))
      (name, metrics, usable.map(_._1).zip(encoded))
    }
    val fsst = perCodec.collectFirst { case ("fsst", _, enc) => enc }.get
    Seq(Metric("core.select_s", selectS, "s"), Metric("core.train_s.fsst", trainS, "s")) ++
      perCodec.flatMap(_._2) ++ matchMetrics(fsst)
  }

  /** Pattern kernels over the FSST-encoded sample: each chunk's patterns
    * are taken from its own rows, so every kernel sees hits and misses.
    */
  private def matchMetrics(enc: Seq[(IndexedSeq[Array[Int]], Enc)]): Seq[Metric] = {
    val toks = enc.map(_._1.map(_.length.toLong).sum).sum.toDouble
    val prepared = enc.map { case (rows, e) =>
      val st = SymTab.fromBytes(e.header)
      val r = rows.find(_.length >= 8).getOrElse(rows.head)
      val p = r.slice(r.length / 2, r.length / 2 + 3)
      def pm(parts: Array[Array[Int]]) = new PatternMachine(parts, st)
      (e, st, p, pm(Array(p)), pm(Array(r.take(2), r.takeRight(2))))
    }
    def scan(f: (Enc, SymTab, Array[Int], PatternMachine, PatternMachine, Int, Int) => Boolean): Double = {
      var hits = 0L
      val s = best(prepared.foreach { case (e, st, p, one, multi) =>
        var from = 0
        e.ends.foreach { end => if (f(e, st, p, one, multi, from, end)) hits += 1; from = end }
      })
      toks / s / 1e6
    }
    Seq(
      Metric("core.match_mtok_s.contains", scan((e, _, _, one, _, a, b) => FsstMatch.contains(e.data, a, b, one)), "Mtok/s"),
      Metric("core.match_mtok_s.prefix", scan((e, st, p, _, _, a, b) => FsstMatch.prefix(e.data, a, b, st, p)), "Mtok/s"),
      Metric("core.match_mtok_s.suffix", scan((e, _, _, one, _, a, b) => FsstMatch.suffix(e.data, a, b, one)), "Mtok/s"),
      Metric("core.match_mtok_s.multi_infix",
        scan((e, _, _, _, multi, a, b) => FsstMatch.multiInfix(e.data, a, b, multi)), "Mtok/s"))
  }
}
