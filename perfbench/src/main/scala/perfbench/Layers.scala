package perfbench

/** The per-layer metrics of the traced run: which spans exist, what
  * each reports, and how they are summed over the traced window.
  * BENCHMARK.json's `per_layer` list is [[all]], in this order.
  */
object Layers {
  private val opMeasures = Seq("ms", "jobs", "tasks", "cpu_ms", "shuffle_bytes",
    "spill_bytes", "gc_ms")

  val Spans: Seq[(String, Seq[String])] = Seq(
    "sources.query_box.plan" -> Seq("ms", "jobs", "driver_ms"),
    "sources.query_box.exec" -> Seq("ms", "tasks", "bytes_read", "rows_read"),
    "sources.count_box.plan" -> Seq("ms", "jobs", "driver_ms"),
    "sources.count_box.exec" -> Seq("ms", "tasks", "bytes_read"),
    "sources.v2.sql_box.plan" -> Seq("ms", "jobs", "driver_ms"),
    "sources.v2.sql_box.exec" -> Seq("ms", "tasks", "bytes_read", "rows_read"),
    "sources.append" -> Seq("ms", "jobs", "tasks", "driver_ms", "files_written", "bytes_written"),
    "sources.delete" -> Seq("ms", "jobs", "tasks", "bytes_read", "bytes_written"),
    "sources.compact" -> Seq("ms", "jobs", "bytes_read", "bytes_written"),
    "sources.coalesce" -> Seq("ms", "jobs", "bytes_read", "bytes_written"),
    "sources.read_after_write.plan" -> Seq("ms", "jobs", "driver_ms"),
    "sources.read_after_write.exec" -> Seq("ms", "bytes_read")) ++
    Seq("crossovers", "incremental_crossovers", "blockmedian", "blockmax", "segdiff")
      .map(o => s"operators.$o" -> opMeasures) :+
    ("core.release" -> Seq("ms"))

  /** Metrics computed from several spans or from the layout. */
  val Derived: Seq[(String, String)] = Seq(
    "sources.rows_read_per_row_returned" -> "1",
    "sources.compact.fired" -> "count",
    "sources.coalesce.fired" -> "count",
    "sources.layout_files" -> "count",
    "sources.manifest_parts" -> "count",
    "sources.tombstone_files" -> "count",
    "sources.bytes_written_per_point" -> "B",
    "operators.cpu_busy_frac" -> "1",
    "op_tail_ms" -> "ms",
    "read_p50_ms" -> "ms", "read_tail_ms" -> "ms",
    "write_p50_ms" -> "ms", "write_tail_ms" -> "ms",
    "ops_failed_ratio" -> "1",
    "rss_peak_mb" -> "MB")

  def unitOf(measure: String): String = measure match {
    case "ms" | "driver_ms" | "cpu_ms" | "gc_ms" => "ms"
    case m if m.endsWith("bytes") || m.startsWith("bytes") => "B"
    case _ => "count"
  }

  val all: Seq[(String, String)] =
    Spans.flatMap { case (s, ms) => ms.map(m => (s"$s.$m", unitOf(m))) } ++ Derived

  private def measure(t: Tracer, s: Span, m: String): Double = {
    lazy val w = t.work(s)
    m match {
      case "ms" => t.selfMs(s)
      case "driver_ms" => t.driverMs(s)
      case "jobs" => w.jobs
      case "tasks" => w.tasks
      case "bytes_read" => w.bytesRead
      case "rows_read" => w.rowsRead
      case "bytes_written" => w.bytesWritten
      case "shuffle_bytes" => w.shuffleBytes
      case "spill_bytes" => w.spillBytes
      case "cpu_ms" => w.cpuNs / 1e6
      case "gc_ms" => w.gcMs
      case other => s.notes.getOrElse(other, 0.0)
    }
  }

  /** Per-layer metrics over the first `window` timed operations: the
    * median per operation of each span measure, plus the derived
    * ratios and the layout counts in `snapshot`.
    */
  def report(t: Tracer, window: Int,
             snapshot: Map[(String, String), Double]): Seq[(String, Double, String)] = {
    val inWindow = t.spans.filter(s => s.op >= 0 && s.op < window)
    val byName = inWindow.groupBy(_.name)
    def perOp(name: String, m: String): Seq[Double] =
      byName.getOrElse(name, Nil).groupBy(_.op).values
        .map(_.map(measure(t, _, m)).sum).toSeq
    val spanMetrics = for {
      (name, ms) <- Spans if byName.contains(name)
      m <- ms
    } yield (s"$name.$m", Stats.median(perOp(name, m)), unitOf(m))

    val waste: Seq[Double] = byName.getOrElse("sources.query_box.exec", Nil).toSeq.flatMap { s =>
      val back = s.notes.getOrElse("rows_returned", 0.0)
      if (back > 0) Some(t.work(s).rowsRead / back) else None
    }
    val ops = inWindow.filter(_.name.startsWith("operators."))
    val cpuBusy =
      if (ops.isEmpty) Nil
      else Seq(("operators.cpu_busy_frac",
        ops.map(t.work(_).cpuNs / 1e6).sum / (ops.map(_.ms).sum * Main.Cores), "1"))
    val ingested = snapshot.getOrElse(("sources.points_ingested", "count"), 0.0)
    val perPoint =
      if (ingested <= 0) Nil
      else Seq(("sources.bytes_written_per_point",
        inWindow.filter(_.name.startsWith("sources.")).map(t.work(_).bytesWritten).sum / ingested,
        "B"))
    spanMetrics ++
      (if (waste.isEmpty) Nil
       else Seq(("sources.rows_read_per_row_returned", Stats.median(waste), "1"))) ++
      cpuBusy ++ perPoint ++
      snapshot.toSeq.collect { case ((k, u), v) if k != "sources.points_ingested" => (k, v, u) }
  }

  /** Every per-layer metric, in [[all]]'s order; a layer the workload
    * does not reach reports 0.
    */
  def complete(got: Seq[(String, Double, String)]): Seq[(String, Double, String)] = {
    val known = all.toMap
    got.foreach { case (k, _, u) =>
      require(known.get(k).contains(u), s"per-layer metric $k ($u) is not declared in Layers.all")
    }
    val byName = got.map { case (k, v, _) => k -> v }.toMap
    all.map { case (k, u) => (k, byName.getOrElse(k, 0.0), u) }
  }
}
