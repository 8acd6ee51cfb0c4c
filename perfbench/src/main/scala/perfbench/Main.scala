package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

/** The benchmark JVM: runs one workload against the engine's public entry
  * points and writes raw samples, correctness checks and (when traced) the
  * per-layer numbers as one JSON file. `perfbench/run.py` launches it,
  * generates its inputs and turns the samples into metrics.
  *
  * Arguments (all `--key value`): `workload`, `data` (bench-scale input
  * dir), `warm` (warm-up input dir), `work` (scratch dir, deleted by the
  * caller), `seconds`, `seed`, `trace` (0/1), `out` (result file), and for
  * `inventory` the comma-separated `queries`.
  */
object Main {
  final case class Opts(workload: String, data: String, warm: String, work: String,
      seconds: Double, seed: Long, traced: Boolean, out: String, queries: Seq[String])

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(kv("workload"), kv("data"), kv("warm"), kv("work"), kv("seconds").toDouble,
      kv("seed").toLong, kv.get("trace").contains("1"), kv("out"),
      kv.get("queries").toSeq.flatMap(_.split(",")).filter(_.nonEmpty))
  }

  /** The session every workload runs on: the engine's fixed single-JVM
    * settings, `local[SPARK_GRAFT_CPUS]`, no experiment knobs. A traced run
    * also routes manifest commits through [[CountingCommit]].
    */
  def session(cpus: Int, traced: Boolean, work: String): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "2048")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
    val spark = (if (traced) b.config(graft.lake.CommitPrimitive.ImplConf,
      classOf[CountingCommit].getName) else b).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = session(cpus, o.traced, o.work)
    val out = new Out
    out.put("session_ready_epoch_ms", System.currentTimeMillis())
    out.put("env", Map(
      "cores" -> cpus,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "java" -> System.getProperty("java.version"),
      "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString))
    val tracer = if (o.traced) Some(new Tracer(spark, new Trace)) else None
    try {
      o.workload match {
        case "inventory" => Workloads.inventory(spark, o, out, tracer)
        case "hourly" => Workloads.hourly(spark, o, out, tracer, cpus)
        case "curation_cold" => Workloads.curation(spark, o, out, tracer)
        case "commit_cas" => Workloads.commits(spark, o, out, tracer, cpus, cas = true)
        case "commit_contention" => Workloads.commits(spark, o, out, tracer, cpus, cas = false)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      out.put("fixtures", Workloads.fixtureFootprint())
      out.put("rss_peak_kb", Out.vmHwmKb)
    } finally {
      out.write(Paths.get(o.out))
      spark.stop()
    }
  }
}

/** The JVM's result document: named values plus raw sample lists. */
final class Out {
  private val fields = mutable.LinkedHashMap[String, Any]()
  private val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  private val checks = mutable.ArrayBuffer[Map[String, Any]]()
  private val failures = mutable.ArrayBuffer[String]()
  private var attempted = 0L

  def put(k: String, v: Any): Unit = synchronized { fields(k) = v }
  def sample(k: String, v: Double): Unit = synchronized {
    samples.getOrElseUpdate(k, mutable.ArrayBuffer[Double]()) += v
  }
  def attempt(): Unit = synchronized { attempted += 1 }
  /** One correctness check; it counts as an attempted operation. */
  def check(name: String, ok: Boolean, detail: String = ""): Unit = synchronized {
    attempted += 1
    checks += Map("name" -> name, "ok" -> ok, "detail" -> detail.take(400))
    if (!ok) failures += name
  }
  def setupDone(): Unit = put("setup_end_epoch_ms", System.currentTimeMillis())

  def write(p: Path): Unit = synchronized {
    val doc = fields.toMap ++ Map(
      "samples" -> samples.map { case (k, v) => k -> v.toSeq }.toMap,
      "checks" -> checks.toSeq, "failures" -> failures.toSeq,
      "attempted" -> attempted)
    Files.write(p, Serialization.write(doc)(DefaultFormats).getBytes(UTF_8))
  }
}

object Out {
  /** Peak resident set of this JVM (`VmHWM`), 0 where /proc is absent. */
  def vmHwmKb: Long = try {
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
  } catch { case _: Exception => 0L }
}
