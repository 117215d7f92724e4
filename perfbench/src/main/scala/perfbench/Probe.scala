package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.concurrent.TrieMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.{FileSourceScanLike, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded span: a timed call into a layer. Spans of one unit of work
  * (a battery query pass, a trigger, a table operation) share `trace`.
  */
final case class Span(id: Int, parent: Int, trace: String, name: String,
                      startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Work the engine did for one tag, summed from task, stage and job events. */
final class Work {
  var jobs, stages, tasks = 0L
  var cpuNs, shuffleWrite, shuffleRead, fetchWaitMs, spill, inRows = 0L
  /** Bytes of the files the query's scans read ("size of files read"). */
  var scanBytes = 0L
  val stageSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  var planMs = 0.0
  var exchanges = 0L

  /** Wall milliseconds during which at least one stage of this tag ran. */
  def stageBusyMs: Double = Work.union(stageSpans.toSeq).toDouble
}

/** The benchmark's instrumentation. Spans are kept in memory and written
  * out when the run ends. With tracing on it also registers a
  * `SparkListener` and a `QueryExecutionListener` and files their counts
  * under the tag of the call that caused them: the `perfbench.tag` local
  * property for jobs started on the benchmark's thread, the
  * `streaming.sql.batchId` property for jobs of a streaming trigger.
  */
final class Probe(spark: SparkSession, val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(0)
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }
  val work = TrieMap.empty[String, Work]
  private val stageTag = TrieMap.empty[Int, String]
  /** Jobs per streaming batch id: (job start ms, job end ms). */
  val batchJobs = TrieMap.empty[Long, mutable.ArrayBuffer[(Long, Long)]]
  private val jobStart = TrieMap.empty[Int, (Long, Option[Long])]
  @volatile private var currentTag = ""

  private def workFor(tag: String) = work.getOrElseUpdate(tag, new Work)

  if (enabled) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        val batch = props.flatMap(p => Option(p.getProperty("streaming.sql.batchId"))).map(_.toLong)
        val tag = props.flatMap(p => Option(p.getProperty("perfbench.tag")))
          .orElse(batch.map(b => s"batch-$b")).getOrElse("")
        e.stageInfos.foreach(s => stageTag(s.stageId) = tag)
        workFor(tag).synchronized { workFor(tag).jobs += 1 }
        jobStart(e.jobId) = (e.time, batch)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobStart.remove(e.jobId).foreach { case (t0, batch) =>
          batch.foreach(b => batchJobs.getOrElseUpdate(b, mutable.ArrayBuffer.empty)
            .synchronized { batchJobs(b) += ((t0, e.time)) })
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val w = workFor(stageTag.getOrElse(e.stageInfo.stageId, ""))
        w.synchronized {
          w.stages += 1
          for (s <- e.stageInfo.submissionTime; c <- e.stageInfo.completionTime)
            w.stageSpans += ((s, c))
        }
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
        val w = workFor(stageTag.getOrElse(e.stageId, ""))
        w.synchronized {
          w.tasks += 1
          w.cpuNs += m.executorCpuTime
          w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          w.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
          w.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          w.inRows += m.inputMetrics.recordsRead
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        record(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        record(qe)
    })
  }

  private object PlanWalk extends AdaptiveSparkPlanHelper {
    def exchanges(p: SparkPlan): Int = collectWithSubqueries(p) {
      case e: ShuffleExchangeLike => e
      case e: BroadcastExchangeLike => e
    }.size
    def scanBytes(p: SparkPlan): Long = collectWithSubqueries(p) {
      case s: FileSourceScanLike => s.metrics.get("filesSize").map(_.value).getOrElse(0L)
    }.sum
  }

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    val ms = Seq(QueryPlanningTracker.ANALYSIS, QueryPlanningTracker.OPTIMIZATION,
      QueryPlanningTracker.PLANNING).flatMap(phases.get).map(_.durationMs).sum
    val ex = scala.util.Try(PlanWalk.exchanges(qe.executedPlan)).getOrElse(0)
    val bytes = scala.util.Try(PlanWalk.scanBytes(qe.executedPlan)).getOrElse(0L)
    val w = workFor(currentTag)
    w.synchronized { w.planMs += ms; w.exchanges += ex; w.scanBytes += bytes }
  }

  /** Runs `body` with its Spark work filed under `tag`; with tracing on,
    * waits until the listeners have seen all of that work.
    */
  def tagged[T](tag: String)(body: => T): T = {
    if (!enabled) return body
    val sc = spark.sparkContext
    currentTag = tag
    sc.setLocalProperty("perfbench.tag", tag)
    try body
    finally { BusDrain(sc); sc.setLocalProperty("perfbench.tag", null); currentTag = "" }
  }

  /** Records a span around `body` when tracing is on, nested under the
    * calling thread's open span.
    */
  def span[T](name: String, trace: String)(body: => T): T = {
    if (!enabled) return body
    val id = ids.incrementAndGet()
    val parent = stack.get.headOption.getOrElse(0)
    stack.set(id :: stack.get)
    val t0 = System.nanoTime()
    try body
    finally {
      spans.add(Span(id, parent, trace, name, t0, System.nanoTime()))
      stack.set(stack.get.tail)
    }
  }

  /** Adds a span measured elsewhere (a streaming trigger's phases). */
  def addSpan(name: String, trace: String, parent: Int, startNs: Long, endNs: Long): Int = {
    val id = ids.incrementAndGet()
    if (enabled) spans.add(Span(id, parent, trace, name, startNs, endNs))
    id
  }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)

  /** Self time per span name in ms: each span's duration minus the part of
    * its interval that its children cover.
    */
  def selfMs: Map[String, Double] = {
    val kids = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val covered = Work.union(kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)))
        s.ms - covered / 1e6
      }.sum
    }
  }

  /** Spans that do not lie inside their parent, as readable lines. */
  def nestingErrors: Seq[String] = {
    val byId = all.map(s => s.id -> s).toMap
    all.flatMap { s =>
      byId.get(s.parent).collect {
        case p if s.startNs < p.startNs || s.endNs > p.endNs =>
          s"span ${s.name}#${s.id} [${s.startNs}, ${s.endNs}] escapes ${p.name}#${p.id} [${p.startNs}, ${p.endNs}]"
      }
    }
  }
}

object Work {
  /** Length of the union of half-open intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var end = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s >= end) { total += e - s; end = e }
      else if (e > end) { total += e - end; end = e }
    }
    total
  }
}
