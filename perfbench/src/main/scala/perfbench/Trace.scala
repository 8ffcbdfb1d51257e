package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** One recorded span: a timed call into a graft layer. */
final class Span(val id: Int, val name: String, val op: Int, val parent: Int,
                 val t0Ns: Long, val t0Ms: Long) {
  var t1Ns: Long = -1L
  var t1Ms: Long = -1L
  /** Measures the benchmark itself attaches, e.g. rows returned. */
  val notes = mutable.HashMap.empty[String, Double]
  def ms: Double = (t1Ns - t0Ns) / 1e6
}

/** Work Spark did on a span's behalf, summed from the listener. */
final class SpanWork {
  var jobs = 0L; var tasks = 0L; var bytesRead = 0L; var rowsRead = 0L
  var bytesWritten = 0L; var shuffleBytes = 0L; var spillBytes = 0L
  var cpuNs = 0L; var gcMs = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Span recorder for the single client thread. Spans stay in memory
  * and are written out when the run ends. While a span is open, its
  * id rides the `perfbench.span` local property, so every Spark job
  * the call submits (and the tasks of its stages) is charged to it by
  * [[Tracer.Listener]].
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  import Tracer.Prop
  val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Span]
  var op: Int = -1
  val listener = new Tracer.Listener
  if (enabled) sc.addSparkListener(listener)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = if (open.isEmpty) -1 else open.top.id
      val s = new Span(spans.size, name, op, parent, System.nanoTime(),
        System.currentTimeMillis())
      spans += s
      open.push(s)
      sc.setLocalProperty(Prop, s.id.toString)
      try body
      finally {
        s.t1Ns = System.nanoTime(); s.t1Ms = System.currentTimeMillis()
        open.pop()
        sc.setLocalProperty(Prop, if (open.isEmpty) null else open.top.id.toString)
      }
    }

  /** Attach a measure to the latest span called `name`. */
  def note(name: String, key: String, v: Double): Unit =
    if (enabled) spans.reverseIterator.find(_.name == name).foreach(_.notes(key) = v)

  /** Span duration minus the part its child spans cover. */
  def selfMs(s: Span): Double =
    s.ms - spans.iterator.filter(_.parent == s.id).map(_.ms).sum

  /** The part of the span's wall that no Spark job charged to it
    * covers: listing, footer reads and pruning on the driver.
    */
  def driverMs(s: Span): Double = {
    val w = work(s)
    val iv = w.jobIntervals.map { case (a, b) => (Math.max(a, s.t0Ms), Math.min(b, s.t1Ms)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var end = Long.MinValue
    for ((a, b) <- iv) {
      val from = Math.max(a, end)
      if (b > from) covered += b - from
      end = Math.max(end, b)
    }
    Math.max(0.0, s.ms - covered)
  }

  def work(s: Span): SpanWork = listener.bySpan.getOrElse(s.id, new SpanWork)

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = if (enabled) org.apache.spark.PerfbenchBus.drain(sc)

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = spans.iterator.map { s =>
      val w = work(s)
      s"""{"id":${s.id},"name":"${s.name}","op":${s.op},"parent":${s.parent},""" +
        s""""start_ms":${s.t0Ms},"end_ms":${s.t1Ms},"dur_ms":${s.ms},""" +
        s""""self_ms":${selfMs(s)},"jobs":${w.jobs},"tasks":${w.tasks},""" +
        s""""bytes_read":${w.bytesRead},"rows_read":${w.rowsRead},""" +
        s""""bytes_written":${w.bytesWritten},"shuffle_bytes":${w.shuffleBytes}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  val Prop = "perfbench.span"

  /** Charges jobs, tasks and bytes to the span that submitted them. */
  final class Listener extends SparkListener {
    val bySpan = mutable.HashMap.empty[Int, SpanWork]
    private val stageSpan = mutable.HashMap.empty[Int, Int]
    private val jobSpan = mutable.HashMap.empty[Int, (Int, Long)]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val sp = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
      sp.foreach { v =>
        val id = v.toInt
        jobSpan(e.jobId) = (id, e.time)
        e.stageIds.foreach(stageSpan(_) = id)
        bySpan.getOrElseUpdate(id, new SpanWork).jobs += 1
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobSpan.remove(e.jobId).foreach { case (id, t0) =>
        bySpan(id).jobIntervals += ((t0, e.time))
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageSpan.get(e.stageId).foreach { id =>
        val w = bySpan.getOrElseUpdate(id, new SpanWork)
        w.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          w.bytesRead += m.inputMetrics.bytesRead
          w.rowsRead += m.inputMetrics.recordsRead
          w.bytesWritten += m.outputMetrics.bytesWritten
          w.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          w.cpuNs += m.executorCpuTime
          w.gcMs += m.jvmGCTime
        }
      }
    }
  }
}
