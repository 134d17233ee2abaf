package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call at a layer boundary. `parent` is the id of the span
  * that caused it (0 = none). */
final case class Span(id: Long, parent: Long, name: String,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans kept in memory, written out when the run ends; recorded only
  * while `enabled` (the traced reps). The current parent is per thread,
  * so a span opened inside a stream's foreachBatch (the stream thread)
  * nests under the stream span only when the caller passes it. */
final class Spans {
  private val ids = new AtomicLong(0)
  val all = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[Long] { override def initialValue = 0L }
  @volatile var enabled = false

  def apply[T](name: String, parent: Long = -1)(f: => T): T =
    if (!enabled) f else record(name, parent)(f)

  private def record[T](name: String, parent: Long)(f: => T): T = {
    val id = ids.incrementAndGet()
    val p = if (parent >= 0) parent else current.get
    val saved = current.get
    current.set(id)
    val t0 = System.nanoTime()
    try f
    finally {
      all.add(Span(id, p, name, t0, System.nanoTime()))
      current.set(saved)
    }
  }

  def currentId: Long = current.get
  def named(name: String): Seq[Span] = all.asScala.filter(_.name == name).toSeq
}

/** One stream progress event, reduced to what the per-layer metrics use. */
final case class Progress(durations: Map[String, Long], rows: Long,
    stateRows: Long, stateMemory: Long, stateCommitMs: Long,
    stateUpdatesMs: Long, stateDroppedLate: Long)

/** What the listeners saw: per micro-batch progress, per job-group
  * (phase) job and task counters, per-stage task-time skew, and the
  * exchanges of every executed plan. Phases are the job groups the
  * harness sets: publish, consume, answer, readback. */
final class Observed {
  final class PhaseStats {
    var jobs = 0L
    var tasks = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
    var taskMs = 0L
    var maxTaskMs = 0L
  }

  val progress = new ConcurrentLinkedQueue[Progress]()
  val phases = mutable.Map.empty[String, PhaseStats]
  private val stagePhase = mutable.Map.empty[Int, String]
  /** exchanges per plan-tag (the harness sets the tag per query). */
  val exchanges = mutable.Map.empty[String, Long].withDefaultValue(0L)
  @volatile var planTag: String = ""

  /** A micro-batch's jobs carry their stream's query id (the stream
    * replaces the job group with its run id): they are `consume`. */
  private def phaseOf(props: java.util.Properties): String =
    if (props == null) "other"
    else if (props.getProperty("sql.streaming.queryId") != null) "consume"
    else Option(props.getProperty("spark.jobGroup.id")).getOrElse("other")

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val ph = phaseOf(e.properties)
      phases.getOrElseUpdate(ph, new PhaseStats).jobs += 1
      e.stageIds.foreach(s => stagePhase(s) = ph)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val ph = stagePhase.getOrElse(e.stageId, "other")
      val st = phases.getOrElseUpdate(ph, new PhaseStats)
      st.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        val ms = m.executorRunTime
        st.taskMs += ms
        st.maxTaskMs = math.max(st.maxTaskMs, ms)
      }
    }
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ops = p.stateOperators.toSeq
      progress.add(Progress(
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.numInputRows,
        ops.map(_.numRowsTotal).sum,
        ops.map(_.memoryUsedBytes).sum,
        ops.map(_.commitTimeMs).sum,
        ops.map(_.allUpdatesTimeMs).sum,
        ops.map(_.numRowsDroppedByWatermark).sum))
    }
  }

  val planListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      val n = countExchanges(qe.executedPlan)
      val tag = planTag
      if (tag.nonEmpty) synchronized { exchanges(tag) += n }
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Shuffle exchanges in a plan, looking through adaptive plans and
    * query stages into the plan that actually ran. */
  private def countExchanges(plan: org.apache.spark.sql.execution.SparkPlan): Long = {
    import org.apache.spark.sql.execution.adaptive._
    plan match {
      case a: AdaptiveSparkPlanExec => countExchanges(a.executedPlan)
      case s: ShuffleQueryStageExec => 1L + countExchanges(s.plan match {
        case e: ShuffleExchangeLike => e.child
        case other => other
      })
      case q: QueryStageExec => countExchanges(q.plan)
      case e: ShuffleExchangeLike => 1L + countExchanges(e.child)
      case other => other.children.map(countExchanges).sum +
        other.subqueries.map(countExchanges).sum
    }
  }

  /** Deliver every queued event before counters are read; a bus that
    * does not empty in time is reported, not waited on forever. */
  def drain(spark: SparkSession): Unit =
    if (!org.apache.spark.perfbench.Bus.drain(spark.sparkContext, 30000))
      System.err.println("[perfbench] listener bus did not drain in 30 s")

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
    spark.listenerManager.register(planListener)
  }

  def detach(spark: SparkSession): Unit = {
    drain(spark)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(planListener)
  }
}
