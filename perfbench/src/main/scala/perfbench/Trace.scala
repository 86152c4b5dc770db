package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer. Counters are filled by the listener (job,
  * stage and task figures of the Spark jobs the call launched) and by the
  * benchmark itself (bytes written, rows staged, ...). */
final class Span(val id: Int, val parent: Int, val name: String, val label: String,
                 val startNs: Long) {
  var endNs: Long = startNs
  val counters: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
  /** (start, end) wall-clock milliseconds of each Spark job it launched. */
  val jobs: mutable.Buffer[(Long, Long)] = mutable.Buffer.empty
  def wallS: Double = (endNs - startNs) / 1e9
  def add(k: String, v: Double): Unit = synchronized { counters(k) += v }
}

/** Records spans around the benchmark's calls into each layer and attributes
  * Spark's job, stage and task events to the innermost open span.
  *
  * Attribution uses a thread-local Spark property: the span id is set on the
  * calling thread before the call, and Spark copies local properties into
  * every job the call submits, including jobs run from its helper threads
  * (broadcasts, subqueries). Spans stay in memory until [[spansJson]].
  *
  * The untraced variant ([[Tracer.off]]) only runs the body, so end-to-end
  * runs pay nothing for tracing.
  */
class Tracer private (sc: Option[SparkContext]) extends SparkListener {
  private val prop = "perfbench.span"
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private var open: List[Span] = Nil
  private val jobSpan = mutable.Map.empty[Int, (Span, Long)]
  private val stageSpan = mutable.Map.empty[Int, Span]
  private val t0Ns = System.nanoTime()

  def enabled: Boolean = sc.isDefined

  def span[T](name: String, label: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(spans.size, open.headOption.fold(-1)(_.id), name, label, System.nanoTime())
      synchronized(spans += s)
      open = s :: open
      sc.foreach(_.setLocalProperty(prop, s.id.toString))
      try body
      finally {
        s.endNs = System.nanoTime()
        open = open.tail
        sc.foreach(_.setLocalProperty(prop, open.headOption.map(_.id.toString).orNull))
      }
    }

  /** Counter for the most recently closed span named `name`. */
  def addToLast(name: String, k: String, v: Double): Unit =
    spans.reverseIterator.find(_.name == name).foreach(_.add(k, v))

  /** Wait until every event posted so far has been attributed. */
  def settle(): Unit = sc.foreach(org.apache.spark.BusDrain(_))

  def detach(): Unit = sc.foreach(_.removeSparkListener(this))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(prop))).foreach { id =>
      val s = spans(id.toInt)
      jobSpan(e.jobId) = (s, e.time)
      e.stageIds.foreach(stageSpan(_) = s)
      s.add("jobs", 1)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { case (s, start) => s.synchronized(s.jobs += ((start, e.time))) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageSpan.get(e.stageInfo.stageId).foreach(_.add("stages", 1))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (s <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
      s.add("tasks", 1)
      s.add("task_s", m.executorRunTime / 1e3)
      s.add("cpu_s", m.executorCpuTime / 1e9)
      s.add("gc_s", m.jvmGCTime / 1e3)
      s.add("input_mb", m.inputMetrics.bytesRead / 1e6)
      s.add("shuffle_read_mb", (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead) / 1e6)
      s.add("shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
      s.add("spill_mb", m.diskBytesSpilled / 1e6)
    }
  }

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  def subtree(s: Span): Seq[Span] = s +: children(s).flatMap(subtree)

  /** Counter summed over the span and everything it called. */
  def inclusive(s: Span, k: String): Double = subtree(s).map(_.counters(k)).sum

  /** Wall time of the span not covered by any Spark job it (or a child)
    * launched: planning, codegen, commit and other driver-side work. */
  def driverS(s: Span): Double = {
    val ivs = subtree(s).flatMap(_.jobs).sortBy(_._1)
    var covered = 0L; var end = Long.MinValue
    ivs.foreach { case (a, b) =>
      val lo = math.max(a, end)
      if (b > lo) covered += b - lo
      end = math.max(end, b)
    }
    math.max(0.0, s.wallS - covered / 1e3)
  }

  /** Duration minus the part of it that child spans cover. */
  def selfS(s: Span): Double = s.wallS - children(s).map(_.wallS).sum

  def spansJson: String = spans.map { s =>
    val cs = s.counters.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":${Json.num(v)}""" }
    s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"label":${Json.str(s.label)},""" +
      s""""start_s":${Json.num((s.startNs - t0Ns) / 1e9)},"end_s":${Json.num((s.endNs - t0Ns) / 1e9)},""" +
      s""""self_s":${Json.num(selfS(s))},"driver_s":${Json.num(driverS(s))},"counters":{${cs.mkString(",")}}}"""
  }.mkString("[", ",\n", "]")
}

object Tracer {
  val off: Tracer = new Tracer(None)

  def on(sc: SparkContext): Tracer = {
    val t = new Tracer(Some(sc))
    sc.addSparkListener(t)
    t
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
