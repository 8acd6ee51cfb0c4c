package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.{JsonMethods, Serialization}

import graft.lake.{CasObjectStore, CommitPrimitive, HttpCasCommit, Layout, ManifestTable,
  RenameCommit}
import graft.pipeline.{Pipeline, Scheduler}
import graft.sinks.{Elastic, Jdbc}

/** The workloads. Each has the same shape: set-up (warm-up and fixture
  * builds, untimed), then a timed phase of closed-loop operations driven
  * until `seconds` have passed, then untimed correctness checks. A traced
  * run runs every operation of the timed phase twice, untraced and traced,
  * back to back in alternating order, so the gap between the two is the
  * tracing overhead; it reports the per-layer numbers of the traced ones.
  */
object Workloads {
  private def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** The modes operation `slot` runs in: untraced only, or in a traced
    * run both, the order alternating with the slot so JIT warming and host
    * drift fall on both modes alike.
    */
  private def modes(tracer: Option[Tracer], slot: Int): Seq[Option[Tracer]] = tracer match {
    case None => Seq(None)
    case t => if (slot % 2 == 0) Seq(None, t) else Seq(t, None)
  }

  /** Run `body` with the listeners and the counting commit primitive
    * attached when `t` is a tracer; the bus is drained on both edges, so
    * the events of untraced operations never reach the trace.
    */
  private def tracing[T](t: Option[Tracer])(body: => T): T = t match {
    case None => body
    case Some(tr) =>
      tr.install()
      CountingCommit.trace = Some(tr.trace)
      try body finally {
        CountingCommit.trace = None
        tr.uninstall()
      }
  }

  /** The per-layer report of a traced run: the layer numbers over the
    * traced operations `ops`, and the tracing overhead as the median
    * traced operation time over the median of the interleaved untraced
    * ones, minus 1.
    */
  private def report(out: Out, t: Tracer, ops: Seq[Span], plain: Seq[Double],
      traced: Seq[Double]): Unit = {
    val overhead = if (plain.nonEmpty && traced.nonEmpty)
      median(traced) / median(plain) - 1.0 else 0.0
    out.put("layers", Tracer.report(t.trace, Map.empty, ops) ++ extraLayers +
      ("trace.overhead_frac" -> overhead))
    out.put("trace_spans", t.trace.spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
      "name" -> s.name, "layer" -> s.layer, "start_us" -> s.startUs, "end_us" -> s.endUs)))
    out.put("trace_counters", t.trace.counterSnapshot)
  }

  /** Per-layer numbers a workload measures itself (per-op means). */
  private val extraLayers = mutable.Map[String, Double]()
  private val extraSamples = mutable.Map[String, mutable.ArrayBuffer[Double]]()
  private def extra(k: String, v: Double): Unit = extraLayers.synchronized {
    val xs = extraSamples.getOrElseUpdate(k, mutable.ArrayBuffer())
    xs += v
    extraLayers(k) = xs.sum / xs.size
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Opens an op span; the body receives the span id. */
  private def op[T](t: Option[Tracer])(body: Long => T): (T, Option[Span]) = t match {
    case None => (body(0L), None)
    case Some(tr) =>
      val id = tr.trace.newId()
      tr.opStart(id)
      val s = Trace.nowUs
      val r = body(id)
      val e = Trace.nowUs
      tr.opDone()
      (r, Some(tr.trace.add(Span(id, 0L, "op", "op", s, e))))
  }

  // ------------------------------------------------------------ inventory

  def inventory(spark: SparkSession, o: Main.Opts, out: Out, tracer: Option[Tracer]): Unit = {
    val all = graft.SparkEntry.queries
    val names = o.queries
    names.filterNot(all.contains).foreach(q => out.check(s"query:$q", ok = false, "unknown query"))
    def noop(q: String, dir: String): Unit =
      all(q)(spark, dir).write.format("noop").mode("overwrite").save()
    val broken = mutable.Set[String]()
    // The first call of each query is set-up, untimed: it builds the
    // query's memoized fixtures, compiles its code, and writes its full
    // result for the DuckDB oracle.
    val verify = s"${o.work}/verify"
    val first = mutable.Map[String, Double]()
    names.filter(all.contains).foreach { q =>
      val t0 = System.nanoTime()
      try {
        all(q)(spark, o.data).write.mode("overwrite").parquet(s"$verify/$q")
        first(q) = ms(t0)
      } catch { case e: Throwable =>
        broken += q
        out.check(s"query:$q", ok = false, s"first run failed: $e")
      }
    }
    out.put("fixture_pass_s", first.values.sum / 1000)
    val live = names.filter(q => all.contains(q) && !broken(q))
    out.setupDone()
    val rnd = new scala.util.Random(o.seed)
    val plain, traced = mutable.Map[String, mutable.ArrayBuffer[Double]]()
    val spans = mutable.ArrayBuffer[Span]()
    val deadline = System.nanoTime() + (o.seconds * 1e9).toLong
    var pass = 0
    var slot = 0
    while (pass < 1 || System.nanoTime() < deadline) {
      rnd.shuffle(live).filterNot(broken).foreach { q =>
        for (t <- modes(tracer, slot) if !broken(q)) {
          val (ok, span, dt) = tracing(t) {
            val t0 = System.nanoTime()
            val (ok, span) = op(t) { _ =>
              try { noop(q, o.data); true }
              catch { case e: Throwable =>
                broken += q
                out.check(s"query:$q", ok = false, s"timed run failed: $e")
                false
              }
            }
            (ok, span, ms(t0))
          }
          out.attempt()
          span.foreach(spans += _)
          if (ok) (if (t.isEmpty) plain else traced)
            .getOrElseUpdate(q, mutable.ArrayBuffer()) += dt
        }
        slot += 1
      }
      pass += 1
    }
    plain.foreach { case (q, v) => v.foreach(out.sample(s"query:$q", _)) }
    out.put("passes", pass)
    tracer.foreach(report(out, _, spans.toSeq, plain.values.map(v => median(v.toSeq)).toSeq,
      traced.values.map(v => median(v.toSeq)).toSeq))
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    Files.createDirectories(Paths.get(verify))
    Files.write(Paths.get(s"$verify/oracle_sql.json"),
      Serialization.write(oracle)(DefaultFormats).getBytes(UTF_8))
    out.put("verify_dir", verify)
    out.put("first_ms", first.toMap)
  }

  // --------------------------------------------------------------- hourly

  private case class Schedule(accounts: Seq[String], ticks: Seq[(Int, Int)],
      payloads: IndexedSeq[Seq[(String, String)]])

  private def readSchedule(dir: String): Schedule = {
    implicit val fmts: Formats = DefaultFormats
    val meta = JsonMethods.parse(new String(Files.readAllBytes(
      Paths.get(s"$dir/hourly/schedule.json")), UTF_8))
    val accounts = (meta \ "accounts").extract[Seq[String]]
    val ticks = (meta \ "ticks").extract[Seq[Seq[Int]]].map(t => (t(0), t(1)))
    val payloads = ticks.indices.map { i =>
      accounts.map(a => a -> new String(Files.readAllBytes(
        Paths.get(s"$dir/hourly/t$i-$a.json")), UTF_8))
    }
    Schedule(accounts, ticks, payloads)
  }

  private val derbyDriver = "org.apache.derby.iapi.jdbc.AutoloadedDriver"

  private def jdbcCount(url: String, table: String): Long = {
    val c = java.sql.DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(s"SELECT COUNT(*) FROM $table")
      rs.next(); rs.getLong(1)
    } finally c.close()
  }

  private def shutdownDerby(url: String): Unit =
    try java.sql.DriverManager.getConnection(url.replace(";create=true", "") + ";shutdown=true")
    catch { case _: java.sql.SQLException => () }

  private def duBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(duBytes).sum).getOrElse(0L)
    else f.length

  /** One run of the schedule: its own lake root, Derby database and ES stub. */
  private final case class HourlyRun(cfg: Scheduler.Config, pcfg: Pipeline.Config,
      url: String, es: EsStub)

  def hourly(spark: SparkSession, o: Main.Opts, out: Out, tracer: Option[Tracer],
      cpus: Int): Unit = {
    val sched = readSchedule(o.data)
    val warmSched = readSchedule(o.warm)
    // one ES stub per mode: the interleaved schedules of a traced run
    // never share an index
    val esOf = Map(false -> new EsStub) ++ tracer.map(_ => true -> new EsStub)
    val tables = sched.accounts.map(Jdbc.sanitizeTable) ++
      Seq("final_aggregated_usage", "final_comparatif_usage")
    var round = 0
    def newRun(tag: String, es: EsStub): HourlyRun = {
      val root = s"${o.work}/lake/$tag"
      val url = s"jdbc:derby:${o.work}/derby/$tag;create=true"
      val pcfg = Pipeline.Config(root,
        jdbc = Some(Jdbc.JdbcConfig(url, driver = derbyDriver)),
        es = Some(Elastic.EsConfig("127.0.0.1", es.port, wanOnly = true)))
      HourlyRun(Scheduler.Config(retries = 1, retryDelayMs = 0L, stateDir = Some(root)),
        pcfg, url, es)
    }
    /** One tick as the scheduler runs it; a traced tick times each task
      * through the scheduler's `wrap` hook.
      */
    def tick(s: Schedule, r: HourlyRun, i: Int, t: Option[Tracer],
        opId: Long): Seq[Scheduler.Attempt] = {
      val (d, h) = s.ticks(i)
      val wrap: (String, () => Unit) => () => Unit = t match {
        case None => (_, body) => body
        case Some(tr) => (name, body) => () => {
          val st = Trace.nowUs
          try body() finally tr.trace.record(opId, name,
            if (name == "aggregate_results") Layers.PipelineAggregate
            else Layers.PipelineAccount, st, Trace.nowUs)
        }
      }
      Scheduler.pipelineTick(spark, r.cfg, r.pcfg, d, h, s.payloads(i), wrap)
    }
    // warm-up: the first two ticks of the warm-up schedule (small
    // payloads), untimed; the second already takes every branch a timed
    // tick takes (same-day account diff, global diff, sinks)
    val warm = newRun("warm", esOf(false))
    val w0 = System.nanoTime()
    (0 until 2).foreach(i => tick(warmSched, warm, i, None, 0L))
    out.put("warmup_s", ms(w0) / 1000)
    shutdownDerby(warm.url)
    tracer.foreach(_.lakeRoot = Some(s"${o.work}/lake"))
    val payloadBytes = sched.payloads.flatten.map(_._2.getBytes(UTF_8).length.toLong).sum
    var finalRows: Option[Seq[String]] = None
    out.setupDone()
    val plain, traced = mutable.ArrayBuffer[Double]()
    val spans = mutable.ArrayBuffer[Span]()
    val deadline = System.nanoTime() + (o.seconds * 1e9).toLong
    var rounds = 0
    var slot = 0
    while (rounds < 1 || System.nanoTime() < deadline) {
      // one schedule per mode; in a traced run the two advance tick by tick
      val runs = esOf.map { case (isTraced, es) =>
        es.clear()
        round += 1
        isTraced -> newRun(s"r$round", es)
      }
      rounds += 1
      sched.ticks.indices.foreach { i =>
        modes(tracer, slot).foreach { t =>
          val r = runs(t.isDefined)
          val before = if (t.isEmpty) (0L, 0L, 0L) else
            (r.es.requests.get, r.es.bytes.get, tables.map(tb => safeCount(r.url, tb)).sum)
          val (attempts, span, dt) = tracing(t) {
            val t0 = System.nanoTime()
            val (attempts, span) = op(t)(id => tick(sched, r, i, t, id))
            (attempts, span, ms(t0))
          }
          out.attempt()
          (if (t.isEmpty) plain else traced) += dt
          span.foreach { sp =>
            spans += sp
            val kids = t.get.trace.spans.filter(_.parent == sp.id)
            val acct = kids.filter(_.layer == Layers.PipelineAccount).map(_.durUs / 1000.0)
            val agg = kids.filter(_.layer == Layers.PipelineAggregate).map(_.durUs / 1000.0).sum
            extra("pipeline.account_ms", if (acct.isEmpty) 0.0 else acct.sum / acct.size)
            extra("pipeline.aggregate_ms", agg)
            extra("pipeline.straggler_ms", sp.durUs / 1000.0 - agg - median(acct))
            extra("pipeline.attempts", attempts.size.toDouble)
            extra("pipeline.retries", attempts.count(_.attempt > 1).toDouble)
            extra("sinks.es_requests", (r.es.requests.get - before._1).toDouble)
            extra("sinks.es_bytes", (r.es.bytes.get - before._2).toDouble)
            extra("sinks.jdbc_rows",
              (tables.map(tb => safeCount(r.url, tb)).sum - before._3).toDouble)
          }
          attempts.filter(_.status != Scheduler.Success).foreach { a =>
            out.check(s"tick:${sched.ticks(i)}:${a.task}#${a.attempt}", ok = false, a.error)
          }
        }
        slot += 1
      }
      // untimed checks of the untraced schedule
      val r = runs(false)
      out.sample("stored_bytes_ratio", duBytes(new File(r.pcfg.root)).toDouble / payloadBytes)
      val counts = tables.map(tb => tb -> safeCount(r.url, tb)).toMap
      val esCounts = Map(
        Elastic.aggregatedIndex -> r.es.count(Elastic.aggregatedIndex).toLong,
        Elastic.comparatifIndex -> r.es.count(Elastic.comparatifIndex).toLong)
      val rows = finalState(spark, r.pcfg, sched.ticks.last)
      if (finalRows.isEmpty) {
        finalRows = Some(rows)
        out.put("hourly_counts", counts ++ esCounts)
        out.put("final_state_md5", md5(rows.mkString("\n")))
        Files.write(Paths.get(s"${o.work}/final_state.jsonl"),
          rows.mkString("", "\n", "\n").getBytes(UTF_8))
      } else out.check(s"round:$rounds:final_state_repeatable", finalRows.contains(rows))
      runs.values.foreach(r => shutdownDerby(r.url))
    }
    out.put("rounds", rounds)
    plain.foreach(out.sample("tick_ms", _))
    tracer.foreach(report(out, _, spans.toSeq, plain.toSeq, traced.toSeq))
    out.put("payload_bytes", payloadBytes)
    out.put("final_state_file", s"${o.work}/final_state.jsonl")
    esOf.values.foreach(_.stop())
  }

  private def safeCount(url: String, table: String): Long =
    try jdbcCount(url, table) catch { case _: java.sql.SQLException => 0L }

  private def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8))
      .map("%02x".format(_)).mkString

  /** The final lake state in the shape of `PipelineQueries.finalState`:
    * the last tick's aggregate and comparatif snapshots plus every global
    * comparatif snapshot, one JSON line per row, sorted.
    */
  private def finalState(spark: SparkSession, pcfg: Pipeline.Config,
      last: (Int, Int)): Seq[String] = {
    val (d, t) = last
    val cols = Seq("src", "run_date", "run_time", "username_scraped", "username",
      "full_name", "predicted_gender", "confidence", "change")
    val agg = Layout.snapshotAt(spark, Pipeline.aggregatedRef(pcfg), d, t)
      .withColumn("src", lit("agg")).withColumn("change", lit(null).cast("string"))
    val cmp = Layout.snapshotAt(spark, Pipeline.comparatifAggRef(pcfg), d, t)
      .withColumn("src", lit("cmp"))
    val glb = Layout.snapshots(spark, Pipeline.globalCompRef(pcfg)).withColumn("src", lit("glob"))
    Seq(agg, cmp, glb).map(_.select(cols.map(col): _*)).reduce(_ unionByName _)
      .select(to_json(struct(cols.map(c => col(c)): _*))).collect().map(_.getString(0))
      .toSeq.sorted
  }

  // ------------------------------------------------------- curation_cold

  private def copyDir(from: String, to: String): Unit = {
    Files.createDirectories(Paths.get(to))
    Option(new File(from).listFiles).getOrElse(Array()).filter(_.isFile).foreach { f =>
      Files.copy(f.toPath, Paths.get(to, f.getName))
    }
  }

  def curation(spark: SparkSession, o: Main.Opts, out: Out, tracer: Option[Tracer]): Unit = {
    val q = graft.SparkEntry.queries("q_release_yield")
    def funnel(dir: String): Seq[String] =
      q(spark, dir).orderBy("stage").collect().map(_.mkString("|")).toSeq
    funnel(o.warm) // JIT warm-up at the small scale
    var rep = 0
    var reference: Option[Seq[String]] = None
    out.setupDone()
    val plain, traced = mutable.ArrayBuffer[Double]()
    val spans = mutable.ArrayBuffer[Span]()
    val deadline = System.nanoTime() + (o.seconds * 1e9).toLong
    var n = 0
    while (n < 2 || System.nanoTime() < deadline) {
      modes(tracer, n).foreach { t =>
        // a fresh copy of the corpus: every memo keyed by the corpus path
        // misses, so each repetition builds its fixtures on the timed path
        val tag = s"corpus$rep"
        val dir = s"${o.work}/$tag"
        rep += 1
        copyDir(o.data, dir)
        val (rows, span, dt) = tracing(t) {
          val t0 = System.nanoTime()
          val (rows, span) = op(t)(_ => try Some(funnel(dir)) catch {
            case e: Throwable => out.check(s"curation:$tag", ok = false, e.toString); None
          })
          (rows, span, ms(t0))
        }
        out.attempt()
        span.foreach(spans += _)
        rows.foreach { r =>
          (if (t.isEmpty) plain else traced) += dt
          if (reference.isEmpty) reference = Some(r)
          else if (!reference.contains(r)) out.check(s"curation:$tag:repeatable", ok = false,
            s"${r.mkString(";")} vs ${reference.get.mkString(";")}")
        }
      }
      n += 1
    }
    plain.foreach(out.sample("curation_ms", _))
    tracer.foreach { t =>
      // the memo build cost: a cold funnel minus a warm one on the same corpus
      val t0 = System.nanoTime()
      funnel(s"${o.work}/corpus${rep - 1}")
      extra("util.fixture_build_ms", median(plain.toSeq) - ms(t0))
      report(out, t, spans.toSeq, plain.toSeq, traced.toSeq)
    }
    out.put("funnel", reference.getOrElse(Nil))
    out.put("oracle_sql", graft.SparkEntry.oracleSql.get("q_release_yield").getOrElse(""))
  }

  // ------------------------------------------ commit_cas, commit_contention

  private val batchSchema = StructType(Seq(StructField("writer", IntegerType),
    StructField("seq", IntegerType), StructField("row", IntegerType),
    StructField("value", LongType)))

  /** Writer `w`'s `i`-th batch: 16-48 rows of seed-derived values. */
  def batch(seed: Long, w: Int, i: Int): Seq[Row] = {
    val r = new scala.util.Random(seed * 1000003L + w * 10007L + i)
    (0 until 16 + r.nextInt(33)).map(k => Row(w, i, k, r.nextLong() >>> 20))
  }

  /** `cpus` writer threads commit small batches into one shared table per
    * round. With `cas` the commits go through the engine's conditional-PUT
    * primitive against an in-process [[CasObjectStore]]; without, through
    * the default rename primitive. A traced run counts them with
    * [[CountingCommit]], which delegates to the same primitive.
    */
  def commits(spark: SparkSession, o: Main.Opts, out: Out, tracer: Option[Tracer],
      cpus: Int, cas: Boolean): Unit = {
    val store = if (cas) Some(CasObjectStore.start(0)) else None
    store.foreach { srv =>
      spark.conf.set(HttpCasCommit.UrlConf, s"http://127.0.0.1:${srv.getAddress.getPort}")
      if (tracer.isEmpty) spark.conf.set(CommitPrimitive.ImplConf, classOf[HttpCasCommit].getName)
      else CountingCommit.delegate = new HttpCasCommit
    }
    try commitRounds(spark, o, out, tracer, cpus) finally store.foreach { srv =>
      srv.stop(0)
      srv.getExecutor.asInstanceOf[java.util.concurrent.ExecutorService].shutdownNow()
      CountingCommit.delegate = RenameCommit
    }
  }

  private def commitRounds(spark: SparkSession, o: Main.Opts, out: Out,
      tracer: Option[Tracer], cpus: Int): Unit = {
    val perWriter = 8
    var round = 0
    val spans = mutable.ArrayBuffer[Span]()
    val plain, traced = mutable.ArrayBuffer[Double]()
    /** One round on a fresh table; returns its wall time in seconds. */
    def runRound(dir: String, seed: Long, t: Option[Tracer], commits: Int): Double =
      tracing(t) {
        val start = System.nanoTime()
        val threads = (0 until cpus).map { w =>
          new Thread(() => {
            (0 until commits).foreach { i =>
              val rows = batch(seed, w, i)
              val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), batchSchema)
              val t0 = System.nanoTime()
              val (_, span) = opOnThread(spark, t) { id =>
                val s0 = Trace.nowUs
                val staged = ManifestTable.stageDataFiles(df, dir)
                val s1 = Trace.nowUs
                ManifestTable.appendStagedRetrying(spark, dir, 20250301, 0, staged,
                  maxRetries = 100000)
                val s2 = Trace.nowUs
                t.foreach { tr =>
                  tr.trace.record(id, "stage", Layers.CommitStage, s0, s1)
                  tr.trace.record(id, "publish", Layers.CommitPublish, s1, s2)
                }
              }
              val dt = ms(t0)
              out.attempt()
              spans.synchronized {
                (if (t.isEmpty) plain else traced) += dt
                span.foreach(spans += _)
              }
            }
          })
        }
        threads.foreach(_.start())
        threads.foreach(_.join())
        val wall = (System.nanoTime() - start) / 1e9
        t.foreach(_.opDone())
        wall
      }
    def verify(tag: String, dir: String, seed: Long): Unit = {
      val snaps = ManifestTable.snapshots(spark, dir)
      val n = cpus * perWriter
      out.check(s"commit:$tag:versions_contiguous",
        snaps.map(_.version) == (1 to n), s"versions ${snaps.map(_.version).mkString(",")}")
      val expected = for (w <- 0 until cpus; i <- 0 until perWriter) yield batch(seed, w, i)
      val got = ManifestTable.readLatest(spark, dir)
        .agg(count(lit(1)), sum("value")).head()
      val (rows, total) = (expected.map(_.size).sum.toLong,
        expected.flatten.map(_.getLong(3)).sum)
      out.check(s"commit:$tag:rows", got.getLong(0) == rows && got.getLong(1) == total,
        s"got ${got.getLong(0)} rows / sum ${got.getLong(1)}, want $rows / $total")
    }
    // staging writes data files under the tables: lake writes
    tracer.foreach(_.lakeRoot = Some(s"${o.work}/commit"))
    // warm-up, untimed: a short round, then a full one
    runRound(s"${o.work}/commit/warm0", o.seed, None, perWriter / 2)
    runRound(s"${o.work}/commit/warm1", o.seed, None, perWriter)
    round += 1
    plain.clear()
    out.setupDone()
    val deadline = System.nanoTime() + (o.seconds * 1e9).toLong
    var wall = 0.0
    var n = 0
    while (n < 2 || System.nanoTime() < deadline) {
      modes(tracer, n).foreach { t =>
        val dir = s"${o.work}/commit/r$round"
        val seed = o.seed + round
        val w = runRound(dir, seed, t, perWriter)
        if (t.isEmpty) wall += w
        verify(s"r$round", dir, seed)
        round += 1
      }
      n += 1
    }
    out.put("commits_per_s", plain.size / wall)
    plain.foreach(out.sample("commit_ms", _))
    tracer.foreach { tr =>
      val c = tr.trace.counterSnapshot
      val attempts = c.getOrElse("commit.attempts", 0.0)
      val nc = math.max(1, traced.size).toDouble
      val stage = tr.trace.spans.filter(_.layer == Layers.CommitStage).map(_.durUs / 1000.0)
      val pub = tr.trace.spans.filter(_.layer == Layers.CommitPublish).map(_.durUs / 1000.0)
      extraLayers ++= Seq(
        "commit.attempts" -> attempts / nc,
        "commit.lost_races" -> c.getOrElse("commit.lost_races", 0.0) / nc,
        "commit.win_frac" -> (if (attempts > 0) traced.size / attempts else 0.0),
        "commit.put_ms" -> (if (attempts > 0) c.getOrElse("commit.put_total_ms", 0.0) / attempts
          else 0.0),
        "commit.stage_ms" -> (if (stage.isEmpty) 0.0 else stage.sum / stage.size),
        "commit.publish_ms" -> (if (pub.isEmpty) 0.0 else pub.sum / pub.size))
      report(out, tr, spans.toSeq, plain.toSeq, traced.toSeq)
    }
  }

  /** [[op]] for operations that run concurrently on the calling thread:
    * the span id rides a local property, so Spark jobs started here carry
    * it, and the counting commit primitive parents its puts under it.
    */
  private def opOnThread[T](spark: SparkSession, t: Option[Tracer])(
      body: Long => T): (T, Option[Span]) = t match {
    case None => (body(0L), None)
    case Some(tr) =>
      val id = tr.trace.newId()
      CountingCommit.parent.set(id)
      spark.sparkContext.setLocalProperty(tr.OpProperty, id.toString)
      val s = Trace.nowUs
      val r = try body(id) finally {
        spark.sparkContext.setLocalProperty(tr.OpProperty, null)
        CountingCommit.parent.set(0L)
      }
      (r, Some(tr.trace.add(Span(id, 0L, "op", "op", s, Trace.nowUs))))
  }

  /** Scratch fixture directories the engine's memos created in this JVM,
    * and their bytes (temp-dir `graft_*` dirs and the durable root).
    */
  def fixtureFootprint(): Map[String, Long] = {
    val tmp = new File(System.getProperty("java.io.tmpdir"))
    val dirs = Option(tmp.listFiles).getOrElse(Array()).filter(f =>
      f.isDirectory && f.getName.startsWith("graft_")).toSeq ++
      sys.env.get("GRAFT_FIXTURE_CACHE").map(new File(_)).filter(_.isDirectory)
        .toSeq.flatMap(d => Option(d.listFiles).getOrElse(Array()).toSeq)
    Map("dirs" -> dirs.size.toLong, "bytes" -> dirs.map(duBytes).sum)
  }
}
