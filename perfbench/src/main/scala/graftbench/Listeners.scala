package graftbench

import java.util.concurrent.{ConcurrentHashMap, LinkedBlockingQueue, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Job, stage and task totals per tag. The tag is the `graftbench.tag`
  * local property of the thread that submitted the job, so work is
  * attributed by what that thread was doing, not by when events arrive. */
final class JobCounter extends SparkListener {
  final class Agg {
    val jobs, stages, tasks, shuffleRead, shuffleWrite, spill, cpuNs = new AtomicLong()
  }
  private val aggs = new ConcurrentHashMap[String, Agg]()
  private val stageTag = new ConcurrentHashMap[Int, String]()
  private val started, ended = new AtomicLong()
  @volatile private var lastEvent = System.nanoTime()

  private def agg(tag: String): Agg = aggs.computeIfAbsent(tag, _ => new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(JobCounter.Key)))
      .getOrElse("untagged")
    agg(tag).jobs.incrementAndGet()
    e.stageInfos.foreach(si => stageTag.put(si.stageId, tag))
    started.incrementAndGet()
    lastEvent = System.nanoTime()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    ended.incrementAndGet()
    lastEvent = System.nanoTime()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    Option(stageTag.get(e.stageInfo.stageId)).foreach(t => agg(t).stages.incrementAndGet())
    lastEvent = System.nanoTime()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    Option(stageTag.get(e.stageId)).foreach { t =>
      val a = agg(t)
      a.tasks.incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        a.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        a.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        a.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        a.cpuNs.addAndGet(m.executorCpuTime)
      }
    }
    lastEvent = System.nanoTime()
  }

  /** Wait (bounded) until every started job has ended and the bus has
    * been quiet for a moment, so totals are complete. */
  def drain(maxMs: Long = 5000): Unit = {
    val t0 = System.nanoTime()
    while ((started.get() != ended.get() || System.nanoTime() - lastEvent < 200000000L) &&
        System.nanoTime() - t0 < maxMs * 1000000L) Thread.sleep(20)
  }

  /** Drop every total counted so far, once the bus has drained. */
  def clear(): Unit = { drain(); aggs.clear() }

  /** Sum of one field over the tags matching `p`. */
  def sum(p: String => Boolean)(f: Agg => AtomicLong): Long =
    aggs.asScala.collect { case (t, a) if p(t) => f(a).get() }.sum
}

object JobCounter {
  val Key = "graftbench.tag"

  def tagged[T](sc: SparkContext, tag: String)(body: => T): T = {
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, tag)
    try body finally sc.setLocalProperty(Key, prev)
  }
}

/** The `QueryPlanningTracker` of every query execution that succeeds,
  * with the name of its action, from Spark's `QueryExecutionListener`.
  * Events arrive on the listener bus, after the action has returned. A
  * write runs as its own execution with its own tracker, named after the
  * write command (`overwrite` for a save in overwrite mode). */
final class FinishedQueries extends QueryExecutionListener {
  private val done = new LinkedBlockingQueue[(String, QueryPlanningTracker)]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    done.put(funcName -> qe.tracker)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Drop every execution reported so far. */
  def clear(): Unit = done.clear()

  /** Wait (bounded) for the next execution named `action`; executions
    * with other names are dropped. */
  def await(action: String, maxMs: Long = 5000): Option[QueryPlanningTracker] = {
    val deadline = System.nanoTime() + maxMs * 1000000L
    var found: Option[QueryPlanningTracker] = None
    while (found.isEmpty && System.nanoTime() < deadline)
      Option(done.poll(10, TimeUnit.MILLISECONDS)).filter(_._1 == action).foreach(e => found = Some(e._2))
    found
  }
}
