package graftbench

import java.util.Properties

import scala.collection.mutable

import org.apache.spark.{GraftBenchAccess, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.catalog._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Work counted inside one span (its own events, children excluded). */
final class Counts {
  var jobs, stages, tasks, runMs, shuffleWrite, input, spill, output,
      broadcast, catalogWrites, microBatches, batchMs = 0L
  def +=(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; runMs += o.runMs
    shuffleWrite += o.shuffleWrite; input += o.input; spill += o.spill
    output += o.output; broadcast += o.broadcast
    catalogWrites += o.catalogWrites; microBatches += o.microBatches
    batchMs += o.batchMs
  }
}

final case class Span(id: Int, name: String, parent: Int, start: Long) {
  var end: Long = -1L
  val counts = new Counts
  def seconds: Double = (end - start) / 1e9
}

/** In-memory span recorder. Spans nest on the driver thread; the id of the
  * innermost open span rides along as a Spark local property, so jobs
  * (and the stages and tasks under them) submitted from it, from AQE
  * stage threads or from a streaming query started inside it are
  * attributed to it. Events Spark delivers asynchronously are flushed at
  * every span boundary, so they land in the span that caused them.
  */
final class Tracer(val runId: String) {
  val Key = "graftbench.span"
  val spans = mutable.ArrayBuffer.empty[Span]
  @volatile private var stack: List[Span] = Nil
  private var sc: Option[SparkContext] = None

  def attach(s: SparkContext): Unit = sc = Some(s)

  private def drain(): Unit = sc.foreach(GraftBenchAccess.drainListeners)

  def begin(name: String): Span = {
    drain()
    val s = locked {
      val s = Span(spans.size, name, stack.headOption.fold(-1)(_.id), System.nanoTime)
      spans += s
      stack = s :: stack
      s
    }
    sc.foreach(_.setLocalProperty(Key, s.id.toString))
    s
  }

  def end(s: Span): Unit = {
    drain()
    // Closing an outer span closes anything still open inside it.
    while (stack.nonEmpty && stack.head.id != s.id) close(stack.head)
    if (stack.nonEmpty) close(stack.head)
  }

  private def close(s: Span): Unit = {
    s.end = System.nanoTime
    locked { stack = stack.tail }
    sc.foreach(_.setLocalProperty(Key, stack.headOption.fold(null: String)(_.id.toString)))
  }

  def apply[T](name: String)(body: => T): T = {
    val s = begin(name)
    try body finally end(s)
  }

  private def spanOf(props: Properties): Option[Span] =
    Option(props).flatMap(p => Option(p.getProperty(Key)))
      .flatMap(_.toIntOption).filter(_ < spans.size).map(spans(_))

  private val stageSpan = mutable.Map.empty[Int, Span]
  /** Listeners report from several Spark threads; all counting holds this. */
  private def locked[T](f: => T): T = Tracer.this.synchronized(f)
  /** Target for events that carry no span: the innermost open span. */
  private def here: Option[Span] = stack.headOption

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      locked(spanOf(e.properties).orElse(here).foreach { s =>
        s.counts.jobs += 1
        e.stageIds.foreach(stageSpan(_) = s)
      })
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      locked(stageSpan.get(e.stageInfo.stageId).foreach(_.counts.stages += 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = locked {
      for (s <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
        val c = s.counts
        c.tasks += 1
        c.runMs += m.executorRunTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.input += m.inputMetrics.bytesRead
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.output += m.outputMetrics.bytesWritten
      }
    }
  }

  /** Broadcast bytes from each executed plan's broadcast exchanges. */
  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      val b = broadcastBytes(qe.executedPlan)
      if (b > 0) locked(here.foreach(_.counts.broadcast += b))
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private def broadcastBytes(p: SparkPlan): Long = {
    val own = p match {
      case b: BroadcastExchangeExec => b.metrics.get("dataSize").fold(0L)(_.value)
      case _ => 0L
    }
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _ => p.children ++ p.subqueries
    }
    own + inner.map(broadcastBytes).sum
  }

  val catalogListener: ExternalCatalogEventListener = new ExternalCatalogEventListener {
    override def onEvent(e: ExternalCatalogEvent): Unit = e match {
      case _: CreateTableEvent | _: DropTableEvent | _: AlterTableEvent |
           _: RenameTableEvent =>
        locked(here.foreach(_.counts.catalogWrites += 1))
      case _ =>
    }
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      locked(here.foreach { s =>
        s.counts.microBatches += 1
        s.counts.batchMs += Option(e.progress.durationMs.get("triggerExecution"))
          .fold(0L)(_.longValue)
      })
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Counts of `s` and every span under it. */
  def total(s: Span): Counts = {
    val c = new Counts
    c += s.counts
    spans.iterator.filter(_.parent == s.id).foreach(ch => c += total(ch))
    c
  }

  /** Own duration minus the time covered by child spans (children of one
    * span never overlap: the loop is closed and single-threaded). */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.iterator.filter(_.parent == s.id).map(_.seconds).sum
}
