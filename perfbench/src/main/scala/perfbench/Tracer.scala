package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** One closed span: `parent` is 0 for a root. Times are `System.nanoTime`. */
final case class SpanRec(id: Long, parent: Long, name: String, startNs: Long, endNs: Long)

/** Spark-side counters attributed to one span. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var skippedStages = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var shuffleWriteBytes = 0L
  var gcMs = 0L
  var spillBytes = 0L
  var queries = 0L
  var planMs = 0L
  var exchanges = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; skippedStages += o.skippedStages
    tasks += o.tasks; taskRunMs += o.taskRunMs
    shuffleWriteBytes += o.shuffleWriteBytes; gcMs += o.gcMs
    spillBytes += o.spillBytes; queries += o.queries; planMs += o.planMs
    exchanges += o.exchanges
  }
}

/** Outside-in tracer: the benchmark wraps each call it makes into a layer's
  * public function in [[span]]. Spans are kept in memory and written out
  * when the run ends.
  *
  * Spark work is attributed through the `perfbench.span` local property,
  * which Spark stamps on every job the calling thread submits. Local
  * properties are inheritable, so a driver pool created inside a span
  * (such as `graft.ops.Par.map`) submits its jobs under that span, and each
  * pool thread may open its own child span — concurrent CV folds therefore
  * give overlapping sibling spans.
  *
  * A disabled tracer runs the body and nothing else.
  */
final class Tracer(val enabled: Boolean) {
  private val nextId = new AtomicLong(1L)
  private val closed = new ConcurrentLinkedQueue[SpanRec]()
  private val current = new InheritableThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent: Long = current.get()
      val id = nextId.getAndIncrement()
      val sc = org.apache.spark.PerfbenchAccess.activeContext
      val prevProp = sc.map(_.getLocalProperty(Tracer.SpanKey)).orNull
      sc.foreach(_.setLocalProperty(Tracer.SpanKey, id.toString))
      current.set(id)
      val t0 = System.nanoTime()
      try body
      finally {
        closed.add(SpanRec(id, parent, name, t0, System.nanoTime()))
        current.set(parent)
        sc.foreach(_.setLocalProperty(Tracer.SpanKey, prevProp))
      }
    }

  def spans: Seq[SpanRec] = {
    val b = Seq.newBuilder[SpanRec]
    closed.forEach(s => b += s)
    b.result()
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  /** Length of the union of `intervals`, each clipped to [lo, hi]. */
  def unionLength(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Self time of every span: its wall time minus the union of its
    * children's intervals (children may overlap when they run on
    * concurrent driver threads).
    */
  def selfTimes(spans: Seq[SpanRec]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val cs = kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))
      s.id -> ((s.endNs - s.startNs) - unionLength(cs, s.startNs, s.endNs))
    }.toMap
  }

  /** Exchange nodes in an executed plan, looking through adaptive
    * wrappers, query stages and subqueries. Reused exchanges are not
    * counted: they move no data.
    */
  def countExchanges(plan: SparkPlan): Int = {
    val own = plan match {
      case _: ShuffleExchangeLike | _: BroadcastExchangeLike => 1
      case _ => 0
    }
    val inner = plan match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case p => p.children ++ p.subqueries
    }
    own + inner.map(countExchanges).sum
  }
}

/** Attributes Spark's job, stage and task counters, and each SQL
  * execution's planning time and Exchange count, to the span whose id the
  * submitting thread carried (an execution belongs to the span of its
  * jobs). Register with [[SparkCounters.install]]; read after [[drain]].
  */
final class SparkCounters extends SparkListener {
  private val bySpan = mutable.Map.empty[Long, Counters]
  private val stageSpan = mutable.Map.empty[Int, Long]
  private val jobStages = mutable.Map.empty[Int, (Long, Set[Int])]
  private val submittedFor = mutable.Map.empty[Int, mutable.Set[Int]]
  private val execSpan = mutable.Map.empty[Long, Long]

  private def counters(span: Long): Counters = bySpan.getOrElseUpdate(span, new Counters)

  private def spanOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toLong).getOrElse(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = spanOf(e.properties)
    counters(span).jobs += 1
    val ids = e.stageInfos.map(_.stageId).toSet
    ids.foreach(stageSpan(_) = span)
    jobStages(e.jobId) = (span, ids)
    submittedFor(e.jobId) = mutable.Set.empty
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(x => execSpan(x.toLong) = span)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val sid = e.stageInfo.stageId
    jobStages.foreach { case (job, (_, ids)) =>
      if (ids(sid)) submittedFor.get(job).foreach(_ += sid)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStages.remove(e.jobId).foreach { case (span, ids) =>
      val run = submittedFor.remove(e.jobId).map(_.size).getOrElse(0)
      val c = counters(span)
      c.stages += ids.size
      c.skippedStages += ids.size - run
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counters(stageSpan.getOrElse(e.stageId, 0L))
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.taskRunMs += m.executorRunTime
      c.gcMs += m.jvmGCTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd =>
      org.apache.spark.sql.perfbench.SqlAccess.queryExecution(end).foreach(qe => record(end.executionId, qe))
    case _ =>
  }

  private def record(executionId: Long, qe: QueryExecution): Unit = {
    val planMs = Seq("analysis", "optimization", "planning")
      .flatMap(qe.tracker.phases.get).map(_.durationMs).sum
    val ex = scala.util.Try(Tracer.countExchanges(qe.executedPlan)).getOrElse(0)
    synchronized {
      val c = counters(execSpan.getOrElse(executionId, 0L))
      c.queries += 1
      c.planMs += planMs
      c.exchanges += ex
    }
  }

  /** Counters by span id (0 = work submitted outside any span). */
  def snapshot: Map[Long, Counters] = synchronized {
    bySpan.map { case (k, v) => val c = new Counters; c.add(v); k -> c }.toMap
  }
}

object SparkCounters {
  def install(spark: SparkSession): SparkCounters = {
    val c = new SparkCounters
    spark.sparkContext.addSparkListener(c)
    c
  }

  /** Wait until every posted listener event has been delivered. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.PerfbenchAccess.drain(spark.sparkContext)
}
