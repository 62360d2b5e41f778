package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch milliseconds (doubles, so spans the
  * benchmark times itself with `System.nanoTime` keep their sub-ms part).
  * Kinds: workload, pass, query, build, action, catalyst, job, stage, batch. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    start: Double, end: Double, attrs: Map[String, Double] = Map.empty) {
  def dur: Double = end - start
}

/** Everything the traced run records, kept in memory and written out when
  * the run ends. The benchmark's own spans (workload → pass → query →
  * build/action) come from [[open]]/[[close]]; the listeners below add the
  * Spark side from the public listener APIs only: jobs and stages
  * (`SparkListener`), Catalyst phases and executed plans
  * (`QueryExecutionListener`) and micro-batches (`StreamingQueryListener`).
  *
  * A job is parented by the local property [[SpanProperty]], which the
  * runner sets on the driver thread before each build and action; Spark
  * copies local properties into every job the thread (or a thread it
  * starts, such as a stream's) submits. Catalyst phases and micro-batches
  * carry no properties, so they are parented by time: to the build or
  * action span that contains their start. Queries run one at a time, so
  * exactly one such span is open at any moment. */
final class Trace {
  val SpanProperty = "perfbench.span"

  private val nanoBase = System.nanoTime()
  private val epochBase = System.currentTimeMillis().toDouble
  def nowMs: Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Map.empty[Long, (Long, String, String, Double)]

  def all: Seq[Span] = synchronized(spans.toList)

  private def add(s: Span): Unit = synchronized(spans += s)

  def begin(parent: Long, kind: String, name: String): Long = {
    val id = ids.incrementAndGet()
    synchronized(open(id) = (parent, kind, name, nowMs))
    id
  }

  def end(id: Long, attrs: Map[String, Double] = Map.empty): Span = {
    val (parent, kind, name, start) = synchronized(open.remove(id).get)
    val s = Span(id, parent, kind, name, start, nowMs, attrs)
    add(s)
    s
  }

  /** The closed or still-open build/action span whose interval holds `t`. */
  private def ownerAt(t: Double): Long = synchronized {
    val closed = spans.iterator.filter(s =>
      (s.kind == "build" || s.kind == "action") && s.start <= t && t <= s.end)
    val live = open.iterator.collect {
      case (id, (_, k, _, st)) if (k == "build" || k == "action") && st <= t => id
    }
    (closed.map(_.id) ++ live).toSeq.lastOption.getOrElse(0L)
  }

  // ---- Spark jobs and stages ----
  private val jobSpan = mutable.Map.empty[Int, (Long, Long, Double, String)] // job -> (span, parent, start, name)
  private val stageJob = mutable.Map.empty[Int, Long]
  private val failedTasks = mutable.Map.empty[Int, Int].withDefaultValue(0)
  private val markersSeen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val prop = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProperty)))
      val parent = prop.filterNot(_.startsWith("marker:")).map(_.toLong)
        .getOrElse(ownerAt(e.time.toDouble))
      val name = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
      val id = ids.incrementAndGet()
      Trace.this.synchronized {
        jobSpan(e.jobId) = (id, parent, e.time.toDouble, name)
        e.stageIds.foreach(stageJob(_) = id)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val j = Trace.this.synchronized(jobSpan.remove(e.jobId))
      j.foreach { case (id, parent, start, name) =>
        if (name.startsWith("perfbench-marker")) markersSeen.add(name)
        else add(Span(id, parent, "job", name, start, e.time.toDouble, Map(
          "checkpoint" -> (if (name.startsWith("localCheckpoint at") ||
            name.startsWith("checkpoint at")) 1.0 else 0.0))))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.reason != Success) Trace.this.synchronized(failedTasks(e.stageId) += 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val parent = Trace.this.synchronized(stageJob.getOrElse(i.stageId, 0L))
      val m = Option(i.taskMetrics)
      def mb(b: Long): Double = b / 1048576.0
      val attrs = Map(
        "tasks" -> i.numTasks.toDouble,
        "failed_tasks" -> Trace.this.synchronized(failedTasks.remove(i.stageId).getOrElse(0)).toDouble,
        "task_s" -> m.map(_.executorRunTime / 1e3).getOrElse(0.0),
        "task_cpu_s" -> m.map(_.executorCpuTime / 1e9).getOrElse(0.0),
        "gc_s" -> m.map(_.jvmGCTime / 1e3).getOrElse(0.0),
        "shuffle_write_mb" -> m.map(t => mb(t.shuffleWriteMetrics.bytesWritten)).getOrElse(0.0),
        "shuffle_read_mb" -> m.map(t => mb(t.shuffleReadMetrics.totalBytesRead)).getOrElse(0.0),
        "spill_mb" -> m.map(t => mb(t.memoryBytesSpilled + t.diskBytesSpilled)).getOrElse(0.0))
      val start = i.submissionTime.getOrElse(0L).toDouble
      add(Span(ids.incrementAndGet(), parent, "stage", i.name, start,
        i.completionTime.map(_.toDouble).getOrElse(start), attrs))
    }
  }

  // ---- Catalyst phases and executed plans ----
  private def planAttrs(qe: QueryExecution): Map[String, Double] = {
    val nodes = Trace.planNodes(qe.executedPlan)
    def count(f: SparkPlan => Boolean) = nodes.count(f).toDouble
    def metric(n: SparkPlan, k: String): Double = n.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
    val files = nodes.collect { case s: FileSourceScanExec => s }
    val mem = nodes.collect { case s: InMemoryTableScanExec => s }
    Map(
      "exchanges" -> count(_.isInstanceOf[Exchange]),
      "bhj" -> count(_.isInstanceOf[BroadcastHashJoinExec]),
      "shj" -> count(_.isInstanceOf[ShuffledHashJoinExec]),
      "smj" -> count(_.isInstanceOf[SortMergeJoinExec]),
      "bnlj" -> count(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
      "scan_s" -> files.map(metric(_, "scanTime")).sum / 1e3,
      "scan_rows" -> (files ++ mem).map(metric(_, "numOutputRows")).sum,
      "scan_mb" -> files.map(metric(_, "filesSize")).sum / 1048576.0,
      "fingerprint" -> nodes.map(_.nodeName).mkString("/").hashCode.toDouble)
  }

  private def onQe(qe: QueryExecution): Unit = {
    if (qe.analyzed.output.exists(_.name == "perfbench_marker")) {
      markersSeen.add("qe")
      return
    }
    val phases = qe.tracker.phases
    def ph(k: String) = phases.get(k).map(p => (p.startTimeMs.toDouble, p.endTimeMs.toDouble))
    val anchor = ph("planning").orElse(ph("optimization")).orElse(ph("analysis"))
      .map(_._1).getOrElse(nowMs)
    val parent = ownerAt(anchor)
    val attrs = planAttrs(qe) ++ Seq("analysis", "optimization", "planning")
      .flatMap(k => ph(k).toSeq.flatMap { case (a, b) =>
        Seq(k + "_s" -> (b - a) / 1e3, k + "_from" -> a, k + "_to" -> b) })
    val (s, e) = (phases.values.map(_.startTimeMs).minOption, phases.values.map(_.endTimeMs).maxOption)
    add(Span(ids.incrementAndGet(), parent, "catalyst", "qe",
      s.getOrElse(anchor.toLong).toDouble, e.getOrElse(anchor.toLong).toDouble, attrs))
  }

  val qeListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = onQe(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = onQe(qe)
  }

  // ---- micro-batches ----
  @volatile private var streamsStarted = 0
  @volatile private var streamsEnded = 0

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      Trace.this.synchronized(streamsStarted += 1)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      Trace.this.synchronized(streamsEnded += 1)
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble / 1e3 }
      val ops = p.stateOperators.toSeq
      val attrs = Map(
        "batch_s" -> d.getOrElse("triggerExecution", 0.0),
        "plan_s" -> d.getOrElse("queryPlanning", 0.0),
        "add_batch_s" -> d.getOrElse("addBatch", 0.0),
        "commit_s" -> (d.getOrElse("walCommit", 0.0) + d.getOrElse("commitOffsets", 0.0)),
        "input_rows" -> p.numInputRows.toDouble,
        "state_rows" -> ops.map(_.numRowsTotal).sum.toDouble,
        "state_mb" -> ops.map(_.memoryUsedBytes).sum / 1048576.0,
        "state_commit_s" -> ops.map(_.commitTimeMs).sum / 1e3)
      add(Span(ids.incrementAndGet(), ownerAt(start), "batch", s"batch ${p.batchId}",
        start, start + attrs("batch_s") * 1e3, attrs))
    }
  }

  /** Attaches the session-scoped listeners to one session. */
  def attach(s: SparkSession): Unit = {
    s.listenerManager.register(qeListener)
    s.streams.addListener(streamListener)
  }

  def detach(s: SparkSession): Unit = {
    s.listenerManager.unregister(qeListener)
    s.streams.removeListener(streamListener)
  }

  /** Listener events arrive asynchronously. Runs one marker action and
    * returns once the job and query-execution queues have delivered it,
    * which means every earlier event on them has been delivered too, and
    * every stream that started has reported its end. */
  def drain(s: SparkSession): Unit = {
    val tag = s"perfbench-marker-${ids.incrementAndGet()}"
    markersSeen.clear()
    s.sparkContext.setLocalProperty(SpanProperty, "marker:" + tag)
    s.sparkContext.setCallSite(tag)
    s.range(1).toDF("perfbench_marker").collect()
    s.sparkContext.clearCallSite()
    s.sparkContext.setLocalProperty(SpanProperty, null)
    val deadline = System.nanoTime() + 30e9.toLong
    def done = markersSeen.contains(tag) && markersSeen.contains("qe") &&
      Trace.this.synchronized(streamsEnded >= streamsStarted)
    while (!done && System.nanoTime() < deadline) Thread.sleep(5)
  }
}

object Trace {
  /** Every node of an executed plan, looking through adaptive query stages
    * into the final plan and into subqueries. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => planNodes(q.plan)
    case _ => p +: (p.children ++ p.subqueries).flatMap(planNodes)
  }
}
