package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Work Spark did on behalf of one span: every job submitted while the
  * span was the innermost open one, its completed stages, and the
  * summed task metrics of those stages. */
final class Counters {
  var jobs, stages, tasks = 0L
  var cpuNs, gcMs, inputBytes, outputBytes, shuffleWriteBytes, shuffleReadBytes, spillBytes = 0L
}

/** One timed interval around a call into a layer. `op` is the timed
  * operation the span belongs to (-1 during set-up). */
final case class Span(id: Int, name: String, parent: Int, op: Int, start: Long) {
  var end: Long = start
  val counters = new Counters
  def seconds: Double = (end - start) / 1e9
}

/** Span recorder plus the SparkListener that attributes Spark work to
  * spans. Jobs carry the id of the span that submitted them as a local
  * property (inherited by Spark's broadcast and subquery threads), so
  * attribution does not depend on when the listener bus delivers the
  * event. With `enabled = false`, `span` only runs its body: untraced
  * runs pay for neither the listener nor the bookkeeping. */
final class Tracer(val enabled: Boolean) extends SparkListener {
  private val Prop = "perfbench.span"
  val spans = ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private var sc: SparkContext = _
  var op: Int = -1
  // stage → span; written only on the listener bus thread
  private val stageSpan = scala.collection.mutable.HashMap.empty[Int, Span]

  /** Listen to the run's SparkContext. */
  def attach(context: SparkContext): Unit = {
    sc = context
    if (enabled) context.addSparkListener(this)
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = spans.synchronized {
        val s = Span(spans.size, name, open.headOption.fold(-1)(_.id), op, System.nanoTime())
        spans += s
        s
      }
      open = s :: open
      sc.setLocalProperty(Prop, s.id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        open = open.tail
        sc.setLocalProperty(Prop, open.headOption.map(_.id.toString).orNull)
      }
    }

  /** Block until every event posted so far has reached this listener. */
  def drain(): Unit = if (enabled) org.apache.spark.PerfbenchBus.drain(sc)

  private def spanOf(id: String): Option[Span] =
    Option(id).flatMap(_.toIntOption).map(i => spans.synchronized(spans(i)))

  override def onJobStart(e: SparkListenerJobStart): Unit =
    spanOf(Option(e.properties).map(_.getProperty(Prop)).orNull).foreach { s =>
      s.counters.jobs += 1
      e.stageIds.foreach(stageSpan(_) = s)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stageSpan.get(e.stageInfo.stageId).foreach(_.counters.stages += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (s <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
      val c = s.counters
      c.tasks += 1
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.inputBytes += m.inputMetrics.bytesRead
      c.outputBytes += m.outputMetrics.bytesWritten
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }

  /** A span's duration minus the part of it its child spans cover
    * (children of one span run one after another on the driver). */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.iterator.filter(_.parent == s.id).map(_.seconds).sum

  /** Spans named `name` (any depth) in operation `op`. */
  def of(op: Int, name: String): Seq[Span] = spans.toSeq.filter(s => s.op == op && s.name == name)

  /** All spans, one JSON object per line. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      val c = s.counters
      Main.json(scala.collection.immutable.ListMap(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
        "start_ns" -> s.start, "end_ns" -> s.end, "self_s" -> selfSeconds(s),
        "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks, "cpu_ns" -> c.cpuNs,
        "gc_ms" -> c.gcMs, "input_bytes" -> c.inputBytes, "output_bytes" -> c.outputBytes,
        "shuffle_write_bytes" -> c.shuffleWriteBytes, "shuffle_read_bytes" -> c.shuffleReadBytes,
        "spill_bytes" -> c.spillBytes))
    }
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
