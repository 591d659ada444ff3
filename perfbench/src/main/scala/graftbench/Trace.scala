package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.LambdaFunction
import org.apache.spark.sql.catalyst.trees.TreeNode
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec, SortMergeJoinExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Plan-shape counts of one executed physical plan. */
final case class PlanCounts(exchanges: Int, reusedExchanges: Int,
                            sortMergeJoins: Int, nestedLoopJoins: Int,
                            hofLambdas: Int, nativeExprs: Int)

/** A walk of an executed plan that sees what its formatted explain shows:
  * the final plan of each `AdaptiveSparkPlanExec`, the plan inside each
  * materialized query stage, every subquery, and the cached plan behind
  * each in-memory scan. */
object PlanWalk {
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case other =>
      other +: (other.children ++ other.subqueries ++ inner(other)).flatMap(nodes)
  }

  /** Physical plans held by a node outside its children (an in-memory
    * scan's relation holds the cached plan). */
  private def inner(t: TreeNode[_]): Seq[SparkPlan] = t.innerChildren.flatMap {
    case sp: SparkPlan => Seq(sp)
    case other => inner(other)
  }

  /** Expressions implemented in the repository (graft.functions) rather
    * than by Spark. */
  private def isNative(e: AnyRef): Boolean =
    e.getClass.getName.startsWith("graft.")

  def counts(plan: SparkPlan): PlanCounts = {
    val ns = nodes(plan)
    val exprs = ns.flatMap(_.expressions)
    PlanCounts(
      exchanges = ns.count {
        case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
        case _ => false
      },
      reusedExchanges = ns.count(_.isInstanceOf[ReusedExchangeExec]),
      sortMergeJoins = ns.count(_.isInstanceOf[SortMergeJoinExec]),
      nestedLoopJoins = ns.count {
        case _: BroadcastNestedLoopJoinExec | _: CartesianProductExec => true
        case _ => false
      },
      hofLambdas = exprs.map(_.collect { case l: LambdaFunction => l }.size).sum,
      nativeExprs = exprs.map(_.collect { case e if isNative(e) => e }.size).sum)
  }

  /** (rows the leaf scans produced, rows the plan's top operator produced). */
  def rows(plan: SparkPlan): (Long, Long) = {
    val ns = nodes(plan)
    def out(p: SparkPlan): Option[Long] = p.metrics.get("numOutputRows").map(_.value)
    val read = ns.filter(_.children.isEmpty).flatMap(out).sum
    (read, ns.iterator.flatMap(out).nextOption().getOrElse(0L))
  }
}

/** One timed interval. Times are nanoseconds since the tracer started. */
final case class Span(id: Int, parent: Int, name: String, layer: String,
                      op: Int, start: Long, end: Long)

/**
 * Spans around the calls the harness makes into the program, plus what
 * Spark's public hooks report about them: jobs, stages and tasks
 * (`SparkListener`), planning phases and executed plans
 * (`QueryExecutionListener` → `QueryExecution.tracker` and a plan walk),
 * and micro-batches (`StreamingQueryListener`). Everything stays in
 * memory until [[report]].
 */
final class Tracer(spark: SparkSession) {
  private var enabled = false
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def now: Long = System.nanoTime() - baseNs
  private def fromMs(ms: Long): Long = (ms - baseMs) * 1000000L

  private val lock = new Object
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var currentOp = -1
  val OpProperty = "graftbench.op"

  def span[T](name: String, layer: String)(body: => T): T = if (!enabled) body else {
    val id = spans.size
    spans += Span(id, stack.headOption.getOrElse(-1), name, layer, currentOp, now, -1)
    stack = id :: stack
    try body finally {
      stack = stack.tail
      spans(id) = spans(id).copy(end = now)
    }
  }

  /** Run one op: everything Spark reports while it runs is attributed to
    * `op`, jobs through a local property and the rest by time. */
  def op[T](op: Int, name: String)(body: => T): T = if (!enabled) body else {
    currentOp = op
    spark.sparkContext.setLocalProperty(OpProperty, op.toString)
    try span(name, "bench")(body) finally {
      spark.sparkContext.setLocalProperty(OpProperty, null)
      currentOp = -1
    }
  }

  // ---- Spark hooks -------------------------------------------------------
  private final case class JobRec(op: Int, start: Long, var end: Long, stages: Seq[Int])
  private final class StageAgg {
    var tasks = 0; var runMs = 0L; var cpuNs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var fetchWaitMs = 0L
    var spill = 0L; val durations = mutable.ArrayBuffer[Long]()
  }
  private final case class QeRec(time: Long, phases: Seq[(String, Long, Long)],
                                 counts: PlanCounts, rowsRead: Long, rowsOut: Long)
  private final case class BatchRec(query: String, start: Long, durations: Map[String, Long],
                                    stateRows: Long, stateBytes: Long)

  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stages = mutable.HashMap[Int, StageAgg]()
  private val qes = mutable.ArrayBuffer[QeRec]()
  private val batches = mutable.ArrayBuffer[BatchRec]()
  private val terminated = mutable.HashSet[String]()
  private val Sentinel = "__graftbench_sentinel__"
  @volatile private var sentinelJobEnded = false
  @volatile private var sentinelQeSeen = false

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpProperty)))
        .map(_.toInt).getOrElse(-1)
      jobs(e.jobId) = JobRec(op, fromMs(e.time), -1, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.get(e.jobId).foreach(_.end = fromMs(e.time))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val s = stages.getOrElseUpdate(e.stageId, new StageAgg)
      s.tasks += 1
      s.durations += e.taskInfo.duration
      Option(e.taskMetrics).foreach { m =>
        s.runMs += m.executorRunTime; s.cpuNs += m.executorCpuTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      if (qe.analyzed.output.exists(_.name == Sentinel)) { sentinelQeSeen = true; return }
      val phases = qe.tracker.phases.toSeq.collect {
        case (n, p) if n != "parsing" => (n, fromMs(p.startTimeMs), fromMs(p.endTimeMs))
      }
      val plan = qe.executedPlan
      val (read, out) = PlanWalk.rows(plan)
      val time = if (phases.nonEmpty) phases.map(_._2).min else now - durationNs
      lock.synchronized { qes += QeRec(time, phases, PlanWalk.counts(plan), read, out) }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      val durations = Seq("triggerExecution", "addBatch", "queryPlanning", "walCommit",
          "latestOffset", "getBatch", "commitOffsets")
        .flatMap(k => Option(d.get(k)).map(v => k -> v.longValue)).toMap
      val start = fromMs(java.time.Instant.parse(p.timestamp).toEpochMilli)
      lock.synchronized {
        batches += BatchRec(p.runId.toString, start, durations,
          p.stateOperators.map(_.numRowsTotal).sum,
          p.stateOperators.map(_.memoryUsedBytes).sum)
      }
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      lock.synchronized { terminated += e.runId.toString }
  }

  // The streaming listener is always on: it is how micro-batch times are
  // measured. The other hooks and the spans are on only while tracing.
  spark.streams.addListener(streamListener)

  def enable(): Unit = if (!enabled) {
    enabled = true
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  /** Stops tracing once everything posted so far has been delivered. */
  def disable(): Unit = if (enabled) {
    drain()
    enabled = false
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Planning phases of a query built outside an action (analysis runs
    * when a DataFrame is constructed, not when it is executed). */
  def planning(qe: QueryExecution): Unit = if (enabled) {
    val phases = qe.tracker.phases.toSeq.collect {
      case (n, p) if n != "parsing" => (n, fromMs(p.startTimeMs), fromMs(p.endTimeMs))
    }
    if (phases.nonEmpty) lock.synchronized {
      qes += QeRec(phases.map(_._2).min, phases, PlanCounts(0, 0, 0, 0, 0, 0), 0, 0)
    }
  }

  /** Micro-batch wall times (seconds) of one streaming run, in order; waits
    * until the run's termination event has been delivered. */
  def batchSeconds(runId: String): Seq[Double] = {
    waitFor(lock.synchronized(terminated.contains(runId)))
    lock.synchronized(batches.filter(_.query == runId).map(_.durations.getOrElse(
      "triggerExecution", 0L) / 1000.0).toSeq)
  }

  private def waitFor(cond: => Boolean): Unit = {
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!cond && System.nanoTime() < deadline) Thread.sleep(5)
  }

  /** Blocks until every event posted so far has reached the listeners:
    * a marked job and a marked query go through the same queues. */
  def drain(): Unit = {
    val marker = new SparkListener {
      override def onJobEnd(e: SparkListenerJobEnd): Unit = sentinelJobEnded = true
    }
    sentinelJobEnded = false; sentinelQeSeen = false
    spark.sparkContext.addSparkListener(marker)
    spark.range(1).toDF(Sentinel).collect()
    waitFor(sentinelJobEnded && sentinelQeSeen)
    spark.sparkContext.removeSparkListener(marker)
  }

  // ---- report ------------------------------------------------------------

  /** Spans (harness and synthesized) and per-op counters. `ops` maps op
    * ids to their (start, end) in tracer time. */
  def report(ops: Map[Int, (Long, Long)]): (Seq[Span], Map[Int, Map[String, Double]]) =
    lock.synchronized {
      def opAt(t: Long): Int =
        ops.collectFirst { case (id, (s, e)) if t >= s - 1000000L && t <= e => id }
          .getOrElse(-1)
      val all = mutable.ArrayBuffer[Span]() ++ spans
      // jobs and planning phases nest in harness spans and micro-batches
      // only: concurrent jobs overlap, they do not contain each other
      val containers = mutable.ArrayBuffer[Span]() ++ spans
      def innermost(op: Int, s: Long, e: Long): Option[Span] =
        containers.filter(p => p.op == op && p.start <= s + 1000000L &&
            p.end >= e - 1000000L && p.end >= 0)
          .minByOption(p => p.end - p.start)
      def synth(name: String, op: Int, s: Long, e: Long)(layer: Option[Span] => String): Span =
        if (op < 0) null else {
          val parent = innermost(op, s, e)
          val span = Span(all.size, parent.map(_.id).getOrElse(-1), name,
            layer(parent), op, s, math.max(s, e))
          all += span
          span
        }
      // micro-batches first, so jobs and phases nest inside them
      batches.foreach { b =>
        val d = b.durations.getOrElse("triggerExecution", 0L) * 1000000L
        Option(synth("micro-batch", opAt(b.start), b.start, b.start + d)(_ => "streaming"))
          .foreach(containers += _)
      }
      qes.foreach { q =>
        q.phases.foreach { case (n, s, e) => synth(n, opAt(s), s, e)(_ => "catalyst") }
      }
      jobs.foreach { case (id, j) =>
        val op = if (j.op >= 0) j.op else opAt(j.start)
        synth(s"job $id", op, j.start, if (j.end >= 0) j.end else j.start) {
          case Some(p) if p.name == "Q.run" => "operators"
          case _ => "exec"
        }
      }

      val counters = mutable.HashMap[Int, mutable.HashMap[String, Double]]()
      def add(op: Int, k: String, v: Double): Unit =
        if (op >= 0) counters.getOrElseUpdate(op, mutable.HashMap()).updateWith(k) {
          case Some(x) => Some(x + v)
          case None => Some(v)
        }
      def maxOf(op: Int, k: String, v: Double): Unit =
        if (op >= 0) counters.getOrElseUpdate(op, mutable.HashMap()).updateWith(k) {
          case Some(x) => Some(math.max(x, v))
          case None => Some(v)
        }
      qes.foreach { q =>
        val op = opAt(q.time)
        q.phases.foreach { case (n, s, e) => add(op, s"catalyst.${n}_s", (e - s) / 1e9) }
        add(op, "catalyst.exchanges", q.counts.exchanges)
        add(op, "catalyst.reused_exchanges", q.counts.reusedExchanges)
        add(op, "catalyst.sort_merge_joins", q.counts.sortMergeJoins)
        add(op, "catalyst.nested_loop_joins", q.counts.nestedLoopJoins)
        add(op, "functions.hof_lambdas", q.counts.hofLambdas)
        add(op, "functions.native_exprs", q.counts.nativeExprs)
        add(op, "exec.rows_read", q.rowsRead)
        add(op, "exec.rows_out", q.rowsOut)
      }
      val eagerJobs = all.filter(_.layer == "operators").map(_.op)
      eagerJobs.foreach(op => add(op, "operators.eager_jobs", 1))
      jobs.foreach { case (_, j) =>
        val op = if (j.op >= 0) j.op else opAt(j.start)
        add(op, "exec.jobs", 1)
        j.stages.flatMap(stages.get).foreach { s =>
          add(op, "exec.stages", 1)
          add(op, "exec.tasks", s.tasks)
          add(op, "exec.task_run_s", s.runMs / 1e3)
          add(op, "exec.task_cpu_s", s.cpuNs / 1e9)
          add(op, "exec.shuffle_write_mb", s.shuffleWrite / 1048576.0)
          add(op, "exec.shuffle_read_mb", s.shuffleRead / 1048576.0)
          add(op, "exec.shuffle_fetch_wait_s", s.fetchWaitMs / 1e3)
          add(op, "exec.spill_mb", s.spill / 1048576.0)
          if (s.durations.size >= 2) {
            val sorted = s.durations.sorted
            val median = sorted(sorted.size / 2).max(1L)
            maxOf(op, "exec.task_skew", sorted.last.toDouble / median)
          }
        }
      }
      batches.foreach { b =>
        val op = opAt(b.start)
        add(op, "streaming.batches", 1)
        Seq("addBatch" -> "add_batch_s", "queryPlanning" -> "query_planning_s",
            "walCommit" -> "wal_commit_s", "latestOffset" -> "latest_offset_s")
          .foreach { case (k, m) => add(op, s"streaming.$m", b.durations.getOrElse(k, 0L) / 1e3) }
        maxOf(op, "streaming.state_rows", b.stateRows)
        maxOf(op, "streaming.state_mem_mb", b.stateBytes / 1048576.0)
      }
      (all.toSeq, counters.map { case (k, v) => k -> v.toMap }.toMap)
    }
}
