package perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** A metric as printed: name, value, unit. */
final case class Metric(name: String, value: Double, unit: String)

/** What one lap measured and found. */
final case class Lap(index: Int, traced: Boolean, wall: Double, secs: Map[String, Double],
                     problems: Seq[String])

object Lap {
  /** Median over laps of one operation's time. Summing these medians
    * keeps a burst that slows one operation in one lap out of a lap total.
    */
  def median(laps: Seq[Lap], op: String): Double = Main.median(laps.map(_.secs(op)))
}

/** Everything a workload needs from the run. */
final class Ctx(val spark: SparkSession, val seed: Long, val scratch: java.io.File,
                val cores: Int, val tracer: Tracer, val listener: Option[StageListener]) {
  def path(name: String): String = new java.io.File(scratch, name).getAbsolutePath

  private val opSecs = mutable.LinkedHashMap.empty[String, Double]
  var lap = 0
  var attempted = 0L
  var failed = 0L

  /** One operation of a lap: timed, traced as a span of `layer`, and
    * counted. A failing operation is counted and yields None.
    */
  def op[T](name: String, layer: String)(f: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = tracer.span(name, layer, lap)(f)
      opSecs(name) = opSecs.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
      Some(r)
    } catch {
      case e: Exception =>
        failed += 1
        System.err.println(s"[perfbench] $name failed: $e")
        None
    }
  }

  def takeOpSecs(): Map[String, Double] = { val m = opSecs.toMap; opSecs.clear(); m }

  /** The JVM's start; `setup_s` and the log's times count from it. */
  val startMs: Long = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.currentTimeMillis() - startMs) / 1e3}%.3f s: $msg")
}

trait Workload {
  /** Session-side set-up that `setup_s` times: inputs and, where the
    * workload starts from one, the encoded table.
    */
  def setup(): Unit
  /** The benchmark's own expected results; not timed. */
  def prepare(): Unit
  /** One round of the workload's operations; `check` runs the full
    * output checks, otherwise only the cheap ones.
    */
  def lap(check: Boolean): Seq[String]
  /** The end-to-end metrics other than `setup_s`. The workloads of
    * BENCHMARK.json give the same names (`tok_per_s`, `decode_tok_per_s`,
    * `bytes_per_token`), each on its own operations.
    */
  def endToEnd(laps: Seq[Lap]): Seq[Metric]
  /** Per-layer metrics from the traced laps plus the layer probes. */
  def perLayer(laps: Seq[Lap]): Seq[Metric]
  /** Rows of this workload's input, for the pure-JVM core probe. */
  def sampleRows: Array[graft.format.TokenRow]
  /** Work between laps that is not part of a lap (cache release). */
  def betweenLaps(): Unit = ()
  /** Untimed laps before the timed ones; the first checks every output. */
  def warmupLaps: Int = 2
}

object Main {
  /** The workload whose layers a traced run of each workload adds. */
  val partners: Map[String, String] = Map("ingest" -> "scan", "scan" -> "ingest")

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  private def session(cores: Int, scratch: java.io.File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", (2 * cores).toString)
      .config("spark.default.parallelism", (2 * cores).toString)
      .config("spark.local.dir", new java.io.File(scratch, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new java.io.File(scratch, "warehouse").getAbsolutePath)
      .config("spark.driver.host", "localhost")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.query.Graft.install(s)
    s
  }

  private def json(correct: Boolean, attempted: Long, failed: Long, ms: Seq[Metric]): String = {
    val body = ms.map { m =>
      val v = if (m.value.isNaN || m.value.isInfinite) "null" else m.value.toString
      s""""${m.name}": {"value": $v, "unit": "${m.unit}"}"""
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$body}}"""
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val scratch = new java.io.File(opts("scratch"))
    val traceOut = opts.get("trace-out").map(new java.io.File(_))
    val cores = opts.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors())

    val spark = session(cores, scratch)
    val listener = if (trace) Some(new StageListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val ctx = new Ctx(spark, seed, scratch, cores, new Tracer(spark.sparkContext), listener)
    def make(name: String): Workload = name match {
      case "ingest" => new Ingest(ctx)
      case "scan" => new Scan(ctx)
      case "curate" => new Curate(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val w = make(workloadName)
    val problems = mutable.ArrayBuffer.empty[String]
    import ctx.log
    try {
      log("session started")
      w.setup()
      val setupS = (System.currentTimeMillis() - ctx.startMs) / 1e3
      log("set-up done")
      w.prepare()
      log("expected results ready")

      def runLap(i: Int, traced: Boolean, check: Boolean, wl: Workload = w): Lap = {
        ctx.lap = i
        ctx.tracer.enabled = traced
        val t0 = System.nanoTime()
        val p = ctx.tracer.span("lap", "lap", i)(wl.lap(check))
        val wall = (System.nanoTime() - t0) / 1e9
        ctx.tracer.enabled = false
        wl.betweenLaps()
        problems ++= p.map(s => s"lap $i: $s")
        val secs = ctx.takeOpSecs()
        log(f"lap $i${if (traced) " (traced)" else ""} took $wall%.3f s: " +
          secs.map { case (k, v) => f"$k=$v%.3f" }.mkString(" "))
        Lap(i, traced, wall, secs, p)
      }

      (0 until w.warmupLaps).foreach(i => runLap(i, traced = false, check = i == 0))
      // timed laps: whole laps until the measuring time is used up; in a
      // traced run, untraced and traced laps alternate
      val laps = mutable.ArrayBuffer.empty[Lap]
      val start = System.nanoTime()
      while (laps.isEmpty || (trace && laps.size < 2) || (System.nanoTime() - start) / 1e9 < seconds) {
        laps += runLap(w.warmupLaps + laps.size, traced = trace && laps.size % 2 == 1, check = false)
      }
      val plain = laps.filterNot(_.traced).toSeq
      val metrics =
        if (!trace) Metric("setup_s", setupS, "s") +: w.endToEnd(plain)
        else {
          val traced = laps.filter(_.traced).toSeq
          val layers = w.perLayer(traced)
          val core = CoreProbe.run(w.sampleRows)
          val overhead = median(traced.map(_.wall)) / median(plain.map(_.wall)) - 1.0
          val lapSpans = ctx.tracer.closed.filter(_.layer == "lap")
          val own = core ++ layers ++ Stage.metrics(ctx, traced) ++ Seq(
            Metric("trace.overhead_frac", overhead, "ratio"),
            Metric("trace.spans", ctx.tracer.closed.size.toDouble, "count"),
            Metric("trace.lap_self_s", median(lapSpans.map(ctx.tracer.selfSeconds)), "s"))
          // The layers this workload does not drive (the query layer for
          // ingest, the encode layer for scan) are measured on the partner
          // workload in the same session: its set-up, its warm-up laps and
          // one traced lap, after the timed laps, so every traced run prints
          // every layer metric.
          val partner = partners.get(workloadName).toSeq.flatMap { name =>
            val p = make(name)
            log(s"layer probe: $name")
            p.setup()
            p.prepare()
            var i = w.warmupLaps + laps.size
            (0 until p.warmupLaps).foreach { _ => runLap(i, traced = false, check = false, p); i += 1 }
            p.perLayer(Seq(runLap(i, traced = true, check = false, p)))
          }
          traceOut.foreach(ctx.tracer.writeJson)
          val names = own.map(_.name).toSet
          own ++ partner.filterNot(m => names(m.name))
        }
      problems.foreach(p => System.err.println(s"[perfbench] CHECK FAILED: $p"))
      println(json(problems.isEmpty, ctx.attempted, ctx.failed, metrics))
    } finally {
      spark.stop()
    }
  }
}
