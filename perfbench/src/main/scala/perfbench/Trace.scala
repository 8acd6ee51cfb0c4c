package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.atomic.DoubleAdder

import scala.jdk.CollectionConverters._

/** One traced interval on the wall clock (epoch microseconds). `layer` is
  * the layer the interval belongs to (see [[Layers]]); `parent` is the id
  * of the enclosing operation span, or 0 for an operation itself.
  */
final case class Span(id: Long, parent: Long, name: String, layer: String,
    startUs: Long, endUs: Long) {
  def durUs: Long = endUs - startUs
}

/** The traced run's in-memory record: spans plus named counters. Nothing
  * here touches Spark; the listeners and wrappers feed it, and the driver
  * writes it out as JSON when the run ends.
  */
final class Trace {
  private val ids = new AtomicLong(0)
  private val spanQ = new ConcurrentLinkedQueue[Span]()
  private val counters = new ConcurrentHashMap[String, DoubleAdder]()

  def nowUs: Long = Trace.nowUs

  def newId(): Long = ids.incrementAndGet()

  def record(parent: Long, name: String, layer: String, startUs: Long,
      endUs: Long): Long = {
    val id = newId()
    spanQ.add(Span(id, parent, name, layer, startUs, endUs))
    id
  }

  def add(span: Span): Span = { spanQ.add(span); span }

  def add(name: String, v: Double): Unit =
    counters.computeIfAbsent(name, _ => new DoubleAdder).add(v)

  def counter(name: String): Double =
    Option(counters.get(name)).map(_.sum).getOrElse(0.0)

  def counterSnapshot: Map[String, Double] =
    counters.asScala.map { case (k, v) => k -> v.sum }.toMap

  def spans: Seq[Span] = spanQ.asScala.toSeq
}

object Trace {
  private val epochOffsetNs =
    System.currentTimeMillis() * 1000000L - System.nanoTime()

  /** Wall clock in microseconds, monotonic within the process. */
  def nowUs: Long = (System.nanoTime() + epochOffsetNs) / 1000L

  /** Total length of the union of `[start, end)` intervals. */
  def unionUs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Length of the union of `outer` minus the union of `inner`. */
  def selfUs(outer: Seq[(Long, Long)], inner: Seq[(Long, Long)]): Long = {
    val outerU = merged(outer)
    val innerIn = inner.flatMap { case (s, e) =>
      outerU.flatMap { case (os, oe) =>
        val a = math.max(s, os); val b = math.min(e, oe)
        if (b > a) Some((a, b)) else None
      }
    }
    unionUs(outerU) - unionUs(innerIn)
  }

  private def merged(iv: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val out = Seq.newBuilder[(Long, Long)]
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) out += ((curS, curE))
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) out += ((curS, curE))
    out.result()
  }
}

/** The layer names spans are tagged with, their nesting, and the
  * classifier that assigns a Spark SQL execution to one of them.
  */
object Layers {
  val PipelineAccount = "pipeline.account"
  val PipelineAggregate = "pipeline.aggregate"
  val CommitStage = "commit.stage"
  val CommitPublish = "commit.publish"
  val CommitPut = "commit.put"
  val Query = "sql.query"
  val LakeWrite = "lake.write"
  val LakeLookup = "lake.lookup"
  val LakeDiff = "lake.diff"
  val SourcesIngest = "sources.ingest"
  val SinksJdbc = "sinks.jdbc"
  val SinksEs = "sinks.es"
  val Plan = "plan"

  /** Nesting depth: a span's self time excludes time covered by spans of
    * deeper levels. Level 1 is what the benchmark wraps around engine
    * calls, level 2 is Spark's SQL executions, level 3 is what runs inside
    * an execution (planning phases) or a publish (the storage put).
    */
  def level(layer: String): Int = layer match {
    case PipelineAccount | PipelineAggregate | CommitStage | CommitPublish => 1
    case Plan | CommitPut => 3
    case _ => 2
  }

  /** The group a layer reports its self time under (`self.<group>_ms`). */
  def group(layer: String): String = layer match {
    case Query => "query"
    case Plan => "plan"
    case l => l.takeWhile(_ != '.')
  }

  val groups: Seq[String] =
    Seq("pipeline", "commit", "query", "lake", "sources", "sinks", "plan")

  private val lookupFns = Seq("Layout$.previousRunTime", "Layout$.snapshotAsOf")
  private val writeRoots = Set("DataWritingCommandExec", "WriteFilesExec",
    "InsertIntoHadoopFsRelationCommand", "InsertIntoHadoopFsRelation")

  /** Assign one SQL execution to a layer, from outside the engine:
    *  - `rootNode`: the simple class name of the executed plan's root;
    *  - `outputPath`: where a file write lands, if it is one;
    *  - `callSite`: Spark's long-form call site of the action (the user
    *    stack frames that started it);
    *  - `lakeRoot`: the hourly pipeline's lake root, if any;
    *  - `fullOuterJoin`: whether the executed plan holds a full outer join
    *    (the shape of a snapshot diff).
    * Sink and lookup call sites win over the plan shape, because a JDBC or
    * `_bulk` publish runs ordinary scans and a lookup is an aggregate; a
    * file write under the lake root is a lake write, or a diff when its
    * plan joins two snapshots full-outer; anything else is query execution.
    */
  def classify(rootNode: String, outputPath: Option[String], callSite: String,
      lakeRoot: Option[String], fullOuterJoin: Boolean): String = {
    if (callSite.contains("graft.sinks.Elastic")) SinksEs
    else if (callSite.contains("graft.sinks.Jdbc")) SinksJdbc
    else if (lookupFns.exists(callSite.contains)) LakeLookup
    else if (callSite.contains("graft.sources.Ingest")) SourcesIngest
    else {
      val lakeWrite = writeRoots(rootNode) &&
        outputPath.exists(p => lakeRoot.exists(r => p.contains(r)))
      if (lakeWrite && fullOuterJoin) LakeDiff
      else if (lakeWrite) LakeWrite
      else Query
    }
  }
}
