package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.{ExecutionEnd, SparkSession}
import org.apache.spark.sql.catalyst.plans.FullOuter
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Reads the layer numbers Spark already keeps, from outside the engine:
  * a `SparkListener` sees jobs, stages, task metrics and SQL execution
  * start and end; each end event carries the execution's
  * `QueryExecution`, whose final plan holds the `SQLMetrics` and whose
  * `QueryPlanningTracker` holds the planning phases. Everything lands in
  * one [[Trace]]. Operations are delimited by [[opDone]], which drains the
  * listener bus first so the numbers of the operation are complete.
  */
final class Tracer(spark: SparkSession, val trace: Trace) {
  /** Local property naming the operation span a job belongs to, for
    * operations that run concurrently on the benchmark's own threads.
    */
  val OpProperty = "perfbench.op"

  @volatile var lakeRoot: Option[String] = None
  @volatile private var currentOp = 0L

  private val starts = new ConcurrentHashMap[Long, (Long, String)]()
  private val execOp = new ConcurrentHashMap[Long, Long]()
  private val stageSubmit = new ConcurrentHashMap[Int, Long]()
  /** Stages of jobs outside any SQL execution (e.g. JSON schema
    * inference), with the op their job belongs to: they become spans of
    * their own, classified by call site.
    */
  private val plainStages = new ConcurrentHashMap[Int, Long]()
  private val done = new ConcurrentLinkedQueue[(Long, Long, QueryExecution)]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      trace.add("sched.jobs", 1)
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      val op = prop(OpProperty).map(_.toLong)
      prop("spark.sql.execution.id").map(_.toLong) match {
        case Some(exec) => op.foreach(execOp.put(exec, _))
        case None => e.stageIds.foreach(plainStages.put(_, op.getOrElse(currentOp)))
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageSubmit.put(e.stageInfo.stageId,
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      trace.add("sched.stages", 1)
      val info = e.stageInfo
      Option(plainStages.remove(info.stageId)).foreach { op =>
        for (s <- info.submissionTime; end <- info.completionTime if end >= s) {
          val layer = Layers.classify("", None, info.details, lakeRoot, fullOuterJoin = false)
          trace.record(op, s"stage:${info.stageId} ${frame(info.details)}", layer, s * 1000, end * 1000)
          trace.add(s"$layer.ms", (end - s).toDouble)
        }
      }
    }
    override def onTaskStart(e: SparkListenerTaskStart): Unit = {
      trace.add("sched.tasks", 1)
      val sub = stageSubmit.get(e.stageId)
      if (sub != 0L) trace.add("sched.delay_total_ms",
        math.max(0L, e.taskInfo.launchTime - sub).toDouble)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        trace.add("exec.run_ms", m.executorRunTime.toDouble)
        trace.add("exec.cpu_ms", m.executorCpuTime / 1e6)
        trace.add("exec.gc_ms", m.jvmGCTime.toDouble)
        trace.add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        trace.add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        trace.add("shuffle.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
        trace.add("spill.mem_bytes", m.memoryBytesSpilled.toDouble)
        trace.add("spill.disk_bytes", m.diskBytesSpilled.toDouble)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        starts.put(s.executionId, (s.time, s.details))
      case s: SparkListenerSQLExecutionEnd =>
        ExecutionEnd.queryExecution(s).foreach(qe => done.add((s.executionId, s.time, qe)))
      case _ =>
    }
  }

  /** Attach the listener once the bus holds no earlier events, so only
    * what runs from here on is traced.
    */
  def install(): Unit = {
    drain()
    spark.sparkContext.addSparkListener(sparkListener)
  }

  def uninstall(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
  }

  def drain(): Unit = ListenerDrain.drain(spark.sparkContext)

  /** Open a sequential operation: executions that carry no op property
    * are attributed to it.
    */
  def opStart(opId: Long): Unit = currentOp = opId

  /** Close the operations started so far: drain the bus and turn every
    * finished execution into a classified span with its plan metrics.
    */
  def opDone(): Unit = {
    drain()
    var e = done.poll()
    while (e != null) { record(e._1, e._2, e._3); e = done.poll() }
    currentOp = 0L
  }

  /** The first engine frame of a long-form call site, for span names. */
  private def frame(callSite: String): String =
    callSite.linesIterator.map(_.trim).find(_.startsWith("graft."))
      .getOrElse(callSite.linesIterator.toSeq.headOption.getOrElse("").trim)

  /** Every node of an executed plan, through the final AQE plan and its
    * query stages (both hide their plans from `children`).
    */
  private def walk(p: SparkPlan): Seq[SparkPlan] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _ => Nil
    }
    p +: (p.children ++ inner ++ p.subqueries).flatMap(walk)
  }

  private def record(id: Long, endMs: Long, qe: QueryExecution): Unit = {
    val (startMs, details) = Option(starts.remove(id)).getOrElse((0L, ""))
    val parent = Option(execOp.remove(id)).map(_.longValue).getOrElse(currentOp)
    val plan = qe.executedPlan
    val nodes = walk(plan)
    val writes = nodes.collect {
      case d: DataWritingCommandExec => d
    }
    val outPath = writes.collectFirst { case d => d.cmd }.collect {
      case i: InsertIntoHadoopFsRelationCommand => i.outputPath.toString
    }
    val root = if (writes.nonEmpty) "DataWritingCommandExec" else plan.getClass.getSimpleName
    val fullOuter = nodes.exists {
      case j: BaseJoinExec => j.joinType == FullOuter
      case _ => false
    }
    val layer = Layers.classify(root, outPath, details, lakeRoot, fullOuter)
    if (startMs > 0 && endMs >= startMs) {
      trace.record(parent, s"sql:$id ${frame(details)}", layer, startMs * 1000, endMs * 1000)
      trace.add(s"$layer.ms", (endMs - startMs).toDouble)
    }
    trace.add(s"$layer.executions", 1)
    qe.tracker.phases.foreach { case (phase, s) =>
      val name = phase match {
        case "analysis" => "plan.analysis_ms"
        case "optimization" => "plan.optimizer_ms"
        case "planning" => "plan.physical_ms"
        case other => s"plan.${other}_ms"
      }
      trace.add(name, s.durationMs.toDouble)
      if (parent != 0L && s.endTimeMs > s.startTimeMs)
        trace.record(parent, s"$phase:$id", Layers.Plan, s.startTimeMs * 1000,
          s.endTimeMs * 1000)
    }
    def metric(n: SparkPlan, k: String): Double =
      n.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
    nodes.foreach {
      case s: FileSourceScanExec =>
        trace.add("scan.files_read", metric(s, "numFiles"))
        trace.add("scan.bytes_read", metric(s, "filesSize"))
        trace.add("scan.partitions_read", metric(s, "numPartitions"))
        trace.add("scan.metadata_ms", metric(s, "metadataTime"))
      case b: BroadcastExchangeExec =>
        trace.add("broadcast.bytes", metric(b, "dataSize"))
      case _ =>
    }
    if (layer == Layers.LakeWrite || layer == Layers.LakeDiff) writes.foreach { w =>
      trace.add("lake.write_files", metric(w, "numFiles"))
      trace.add("lake.write_bytes", metric(w, "numOutputBytes"))
    }
  }
}

object Tracer {
  /** Per-layer report over the operation spans `ops`: counters are
    * deltas from `base` to now, divided per operation; self times are
    * wall-clock unions per [[Layers.group]], per operation.
    */
  def report(trace: Trace, base: Map[String, Double], ops: Seq[Span]): Map[String, Double] = {
    val now = trace.counterSnapshot
    def delta(k: String): Double = now.getOrElse(k, 0.0) - base.getOrElse(k, 0.0)
    val n = math.max(1, ops.size).toDouble
    val perOp = Seq("plan.analysis_ms", "plan.optimizer_ms", "plan.physical_ms",
      "sched.jobs", "sched.stages", "sched.tasks", "exec.run_ms", "exec.cpu_ms",
      "exec.gc_ms", "shuffle.write_bytes", "shuffle.read_bytes",
      "shuffle.fetch_wait_ms", "spill.mem_bytes", "spill.disk_bytes",
      "broadcast.bytes", "scan.files_read", "scan.bytes_read",
      "scan.partitions_read", "scan.metadata_ms", "lake.write_files",
      "lake.write_bytes").map(k => k -> delta(k) / n)
    val layerMs = Seq(
      "lake.write_ms" -> Layers.LakeWrite, "lake.lookup_ms" -> Layers.LakeLookup,
      "lake.diff_ms" -> Layers.LakeDiff, "sources.ingest_ms" -> Layers.SourcesIngest,
      "sinks.jdbc_ms" -> Layers.SinksJdbc, "sinks.es_ms" -> Layers.SinksEs)
      .map { case (k, l) => k -> delta(s"$l.ms") / n }
    val tasks = delta("sched.tasks")
    val run = delta("exec.run_ms")
    val derived = Seq(
      "sched.delay_ms" -> (if (tasks > 0) delta("sched.delay_total_ms") / tasks else 0.0),
      "exec.cpu_frac" -> (if (run > 0) delta("exec.cpu_ms") / run else 0.0))
    val opIds = ops.map(_.id).toSet
    val children = trace.spans.filter(s => opIds(s.parent)).groupBy(_.parent)
    var unattributed = 0.0
    var wall = 0.0
    val self = scala.collection.mutable.Map[String, Double]().withDefaultValue(0.0)
    ops.foreach { op =>
      val kids = children.getOrElse(op.id, Nil).map(s => s.copy(
        startUs = math.max(s.startUs, op.startUs), endUs = math.min(s.endUs, op.endUs)))
        .filter(s => s.endUs > s.startUs)
      wall += op.durUs
      unattributed += op.durUs - Trace.unionUs(kids.map(s => (s.startUs, s.endUs)))
      kids.groupBy(_.layer).foreach { case (layer, ss) =>
        val deeper = kids.filter(k => Layers.level(k.layer) > Layers.level(layer))
        self(Layers.group(layer)) += Trace.selfUs(ss.map(s => (s.startUs, s.endUs)),
          deeper.map(s => (s.startUs, s.endUs))) / 1000.0
      }
    }
    val selfMs = Layers.groups.map(g => s"self.${g}_ms" -> self(g) / n)
    (perOp ++ layerMs ++ derived ++ selfMs :+
      ("trace.unattributed_frac" -> (if (wall > 0) unattributed / wall else 0.0))).toMap
  }
}
