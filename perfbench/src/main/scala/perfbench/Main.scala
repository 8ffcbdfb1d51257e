package perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Runs one workload and prints its metrics as one JSON line.
  *
  * {{{
  * perfbench.Main --workload ingest_mutate --seed 1 --seconds 10 --trace 0 --work DIR
  * }}}
  *
  * Untraced (`--trace 0`) runs report the end-to-end metrics; traced
  * runs (`--trace 1`) record a span around every call into graft and
  * report the per-layer metrics. One client thread drives a closed
  * loop: each call starts when the previous one has returned and been
  * checked against the reference.
  */
object Main {
  val Cores = 4
  /** Set-up repetitions per run; `setup_s` reports their median. */
  val SetupReps = 3
  /** Rounds the traced run summarises (a fixed window, so counts
    * repeat between traced runs of one seed).
    */
  val TraceRounds = 2

  /** The end-to-end metrics of an untraced run, with their units. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_p50_ms" -> "ms", "ops_per_s" -> "1/s",
    "points_per_s" -> "pts/s", "stored_bytes_per_point" -> "B")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = opt("workload")
    require(Workload.all.contains(workload), s"unknown workload '$workload'")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = java.nio.file.Paths.get(opt("work")).toAbsolutePath
    java.nio.file.Files.createDirectories(work)

    val t0 = System.nanoTime()
    val spark = Session.start(work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(spark.sparkContext, traced)
    val ctx = new Ctx(spark, tracer, work, seed)
    val wl = Workload(workload, ctx)

    val setups = (0 until SetupReps).map { rep =>
      val s0 = System.nanoTime()
      wl.setup(rep)
      (System.nanoTime() - s0) / 1e9
    }

    val rng = new java.util.SplittableRandom(seed * 31 + 7)
    var attempted = 0L
    var failed = 0L
    def attempt(op: Op): Option[(Double, Any)] = {
      attempted += 1
      op.prepare()
      val s = System.nanoTime()
      val r = try Some(op.exec()) catch {
        case e: Exception =>
          System.err.println(s"[perfbench] ${op.name} failed: $e"); e.printStackTrace()
          None
      }
      val ms = (System.nanoTime() - s) / 1e6
      val ok = r.exists(v => try op.check(v) catch { case _: Exception => false })
      if (!ok) {
        failed += 1
        if (r.isDefined) System.err.println(s"[perfbench] ${op.name} returned a wrong answer")
      }
      r.filter(_ => ok).map(v => (ms, v))
    }
    val warmStart = System.nanoTime()
    wl.round(rng).foreach(attempt)
    val warmS = (System.nanoTime() - warmStart) / 1e9

    val load0 = Telemetry.loadAvg(); val steal0 = Telemetry.stealJiffies()
    val cpu0 = Telemetry.processCpuS()
    val loopStart = System.nanoTime()
    val lat = mutable.ArrayBuffer.empty[(String, String, Double)]
    var points = 0L
    var snapshot = Map.empty[(String, String), Double]
    def elapsed = (System.nanoTime() - loopStart) / 1e9
    var rounds = 0
    val roundEnds = mutable.ArrayBuffer.empty[Double]
    // background JVM work per round: CPU cores busy and JIT seconds
    val roundBusy = mutable.ArrayBuffer.empty[String]
    var lastCpu = cpu0; var lastJit = Telemetry.jitS(); var lastEnd = 0.0
    var opIdx = 0
    var windowOps = 0
    // a fixed number of whole rounds, sized so that the loop lasts about
    // `seconds` at the workload's nominal round time: every run of a
    // workload makes the same calls in the same mix
    val planned = Math.max(Math.max(1, Math.round(seconds / wl.roundSeconds).toInt),
      if (traced) TraceRounds else 1)
    while (rounds < planned) {
      for (op <- wl.round(rng)) {
        tracer.op = opIdx
        attempt(op).foreach { case (ms, r) => lat += ((op.name, op.kind, ms)); points += op.points(r) }
        tracer.op = -1
        opIdx += 1
      }
      rounds += 1
      roundEnds += elapsed
      val c = Telemetry.processCpuS(); val j = Telemetry.jitS()
      roundBusy += f"${(c - lastCpu) / (elapsed - lastEnd)}%.2f/${j - lastJit}%.1f"
      lastCpu = c; lastJit = j; lastEnd = elapsed
      if (rounds == TraceRounds) { windowOps = opIdx; if (traced) snapshot = wl.snapshot() }
    }
    val loopS = elapsed
    val stealCores = Telemetry.stealCores(steal0, loopS)
    val busyCores = (Telemetry.processCpuS() - cpu0) / loopS
    val load1 = Telemetry.loadAvg()
    val end = wl.finish()

    require(lat.nonEmpty, "no operation completed in the timed loop")
    val all = lat.map(_._3).toSeq
    val timedS = all.sum / 1e3
    val tail = Stats.tail(all)
    val e2eValues = Map(
      "setup_s" -> (sessionS + Stats.median(setups)),
      "op_p50_ms" -> Stats.typeMedian(lat.map(l => (l._1, l._3)).toSeq),
      "ops_per_s" -> all.size / timedS,
      "points_per_s" -> points / timedS,
      "stored_bytes_per_point" -> end("stored_bytes_per_point"))
    val e2e = EndToEnd.map { case (k, u) => (k, e2eValues(k), u) }

    // a run holds a few dozen calls, so its tail is a low percentile
    // and too unsteady to gate on: it is reported per layer
    val kinds = mutable.LinkedHashMap[String, (Double, String)](
      "op_tail_ms" -> (tail.map(_._1).getOrElse(all.max), "ms"))
    for (kind <- Seq("read", "write")) {
      val xs = lat.collect { case (_, k, ms) if k == kind => ms }.toSeq
      if (xs.nonEmpty) {
        kinds(s"${kind}_p50_ms") = (Stats.median(xs), "ms")
        kinds(s"${kind}_tail_ms") = (Stats.tail(xs).map(_._1).getOrElse(xs.max), "ms")
      }
    }
    val failedRatio = failed.toDouble / attempted

    val summary = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "trace" -> traced,
      "ops" -> all.size, "rounds" -> rounds, "loop_s" -> loopS,
      "round_ends_s" -> roundEnds.map(v => f"$v%.2f").mkString("[", ",", "]"),
      "latencies_ms" -> lat.map { case (n, _, v) => f"$n:$v%.0f" }.mkString(" "),
      "op_median_of_mix_ms" -> Stats.median(all),
      "op_tail_pct" -> tail.map(_._2).getOrElse(100.0),
      "op_tail_beyond" -> tail.map(_._3).getOrElse(0),
      "ops_failed_ratio" -> failedRatio,
      "session_s" -> sessionS, "setup_reps_s" -> setups.mkString("[", ",", "]"),
      "warmup_s" -> warmS, "jvm_uptime_s" ->
        java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3,
      "loadavg_start" -> load0, "loadavg_end" -> load1, "steal_cores" -> stealCores,
      "busy_cores" -> busyCores,
      "round_busy_cores_jit_s" -> roundBusy.mkString("[", ",", "]"),
      "rss_peak_mb" -> Telemetry.rssPeakMb())
    kinds.foreach { case (k, (v, _)) => summary(k) = v }
    end.foreach { case (k, v) => summary(s"end.$k") = v }
    e2e.foreach { case (k, v, _) => summary(k) = v }

    val metrics: Seq[(String, Double, String)] =
      if (!traced) e2e
      else {
        tracer.drain()
        tracer.writeJsonl(work.getParent.resolve(s"trace-$workload-seed$seed.jsonl"))
        val layer = Layers.report(tracer, windowOps, snapshot)
        val lk = kinds.map { case (k, (v, u)) => (k, v, u) }.toSeq
        Layers.complete(layer ++ lk :+ (("ops_failed_ratio", failedRatio, "1")) :+
          (("rss_peak_mb", Telemetry.rssPeakMb(), "MB")))
      }
    metrics.foreach { case (k, _, _) => require(Stats.validName(k), s"bad metric name $k") }

    println("perfbench-summary " + Json.obj(summary.toSeq))
    val m = metrics.map { case (k, v, u) => k -> Json.Raw(Json.obj(Seq("value" -> v, "unit" -> u))) }
    println(Json.obj(Seq("correct" -> (failed == 0), "attempted" -> attempted,
      "failed" -> failed, "metrics" -> Json.Raw(Json.obj(m)))))
    spark.stop()
  }
}

/** Load telemetry around the timed loop, as graft.Bench records it,
  * so a run on a busy or stolen-from machine identifies itself.
  */
object Telemetry {
  private def read(p: String): String =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)), "UTF-8")

  def loadAvg(): Double =
    try read("/proc/loadavg").split(" ")(0).toDouble catch { case _: Exception => -1.0 }

  /** Hypervisor steal, /proc/stat field 8, in jiffies. */
  def stealJiffies(): Long =
    try read("/proc/stat").linesIterator.next().trim.split("\\s+") match {
      case a if a.length > 8 => a(8).toLong
      case _ => -1L
    } catch { case _: Exception => -1L }

  /** Average cores stolen over `wallS` seconds (jiffies are 10 ms). */
  def stealCores(start: Long, wallS: Double): Double = {
    val end = stealJiffies()
    if (start < 0 || end < 0) -1.0 else (end - start) * 0.01 / wallS
  }

  /** CPU time this JVM has used, all threads, in seconds (ticks are 10 ms). */
  def processCpuS(): Double =
    try {
      val f = read("/proc/self/stat").split("\\) ")(1).split(" ")
      (f(11).toLong + f(12).toLong) * 0.01
    } catch { case _: Exception => -1.0 }

  /** Seconds the JIT compilers have spent, summed over compiler threads. */
  def jitS(): Double =
    java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def rssPeakMb(): Double =
    try read("/proc/self/status").linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
    catch { case _: Exception => -1.0 }
}

/** Minimal JSON writer for the result line. */
object Json {
  final case class Raw(s: String)
  def value(v: Any): String = v match {
    case Raw(s) => s
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case other => "\"" + other.toString + "\""
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => value(k) + ":" + value(v) }.mkString("{", ",", "}")
}
