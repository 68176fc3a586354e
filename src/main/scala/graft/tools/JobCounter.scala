package graft.tools

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Counts the Spark jobs a body runs, with each job's short callsite.
  *
  * The listener bus is asynchronous, so a count read right after the
  * body can miss jobs whose start events are still in flight, and a
  * sleep only makes that less likely. [[settle]] runs one MARKED
  * sentinel job instead: events reach listeners in order, so once the
  * sentinel's start has arrived, every earlier job is counted. The
  * sentinel itself is not counted. Close the counter to remove its
  * listener. */
final class JobCounter(spark: SparkSession) extends AutoCloseable {
  private val sc = spark.sparkContext
  private val sites = new ConcurrentLinkedQueue[String]
  private val sentinelSeen = new AtomicBoolean(false)

  // SQL execution id → the callsite of the action that started it
  private val executions = new ConcurrentHashMap[Long, String]

  private val listener = new SparkListener {
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val props = Option(js.properties)
      if (props.exists(_.getProperty("spark.job.description") == JobCounter.Sentinel))
        sentinelSeen.set(true)
      else {
        // AQE submits query stages from pool threads, so the job's own
        // callsite (its result stage's name) names the pool; the SQL
        // execution's names the action
        val site = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .flatMap(id => Option(executions.get(id.toLong)))
          .orElse(js.stageInfos.maxByOption(_.stageId).map(_.name))
        sites.add(site.getOrElse("?")); ()
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => executions.put(s.executionId, s.description); ()
      case s: SparkListenerSQLExecutionEnd => executions.remove(s.executionId); ()
      case _ =>
    }
  }
  sc.addSparkListener(listener)
  // events queued before the listener joined are delivered to it too
  settle()

  /** Block until every job started so far has reached the listener. */
  def settle(): Unit = {
    sentinelSeen.set(false)
    val description = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(JobCounter.Sentinel)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setJobDescription(description)
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (!sentinelSeen.get() && System.nanoTime() < deadline) Thread.sleep(5)
    require(sentinelSeen.get(), "the job-count sentinel never reached the listener")
  }

  /** `body`'s result and the callsites of the jobs it ran, in start
    * order. */
  def during[A](body: => A): (A, Seq[String]) = {
    sites.clear()
    val a = try body finally settle()
    val out = sites.asScala.toSeq
    sites.clear()
    (a, out)
  }

  def close(): Unit = sc.removeSparkListener(listener)
}

object JobCounter {
  private val Sentinel = "graft_jobcount_sentinel"

  /** `body`'s result and the number of Spark jobs it ran. */
  def jobsDuring[A](spark: SparkSession)(body: => A): (A, Int) = {
    val c = new JobCounter(spark)
    try { val (a, sites) = c.during(body); (a, sites.size) } finally c.close()
  }
}
