package perfbench

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.{CasObjectStore, CommitPrimitive, HttpCasCommit, ManifestTable,
  RenameCommit}

class CountingCommitSpec extends AnyFunSuite {
  test("the traced session selects the counting primitive") {
    assert(CommitPrimitive.active(TestSession.spark).isInstanceOf[CountingCommit])
  }

  test("manifest puts are counted, timed and parented; lost races are counted") {
    val spark = TestSession.spark
    val trace = new Trace
    CountingCommit.trace = Some(trace)
    CountingCommit.parent.set(42L)
    try {
      val dir = Files.createTempDirectory("perfbench-commit").toString
      val target = new Path(s"$dir/_manifests/v00000001.json")
      val cc = new CountingCommit
      spark.sparkContext.hadoopConfiguration
      new Path(dir, "_manifests").getFileSystem(spark.sparkContext.hadoopConfiguration)
        .mkdirs(new Path(dir, "_manifests"))
      assert(cc.putIfAbsent(spark, target, "a".getBytes))
      assert(!cc.putIfAbsent(spark, target, "b".getBytes))
      // a checkpoint rides the same primitive but is not a commit
      assert(cc.putIfAbsent(spark, new Path(s"$dir/_manifests/checkpoint-v00000001.json"),
        "c".getBytes))
      assert(trace.counter("commit.attempts") == 2)
      assert(trace.counter("commit.lost_races") == 1)
      val puts = trace.spans.filter(_.layer == Layers.CommitPut)
      assert(puts.size == 2 && puts.forall(_.parent == 42L))
      assert(trace.counter("commit.put_total_ms") >= 0)
    } finally {
      CountingCommit.trace = None
      CountingCommit.parent.set(0L)
    }
  }

  test("engine commits go through it: one put per committed version") {
    val spark = TestSession.spark
    val trace = new Trace
    CountingCommit.trace = Some(trace)
    try {
      val dir = Files.createTempDirectory("perfbench-commit").toString
      val df = spark.range(10).toDF("id")
      ManifestTable.appendRetrying(df, dir, 20250301, 0)
      ManifestTable.appendRetrying(df, dir, 20250301, 100)
      assert(ManifestTable.latestVersion(spark, dir).contains(2))
      assert(trace.counter("commit.attempts") == 2)
      assert(trace.counter("commit.lost_races") == 0)
    } finally CountingCommit.trace = None
  }

  test("puts go to the delegate: conditional PUTs against a CAS store") {
    val spark = TestSession.spark
    val srv = CasObjectStore.start(0)
    val trace = new Trace
    spark.conf.set(HttpCasCommit.UrlConf, s"http://127.0.0.1:${srv.getAddress.getPort}")
    CountingCommit.delegate = new HttpCasCommit
    CountingCommit.trace = Some(trace)
    try {
      val dir = Files.createTempDirectory("perfbench-commit").toString
      val df = spark.range(10).toDF("id")
      ManifestTable.appendRetrying(df, dir, 20250301, 0)
      ManifestTable.appendRetrying(df, dir, 20250301, 100)
      assert(ManifestTable.latestVersion(spark, dir).contains(2))
      assert(trace.counter("commit.attempts") == 2)
      val cc = new CountingCommit
      assert(!cc.putIfAbsent(spark, new Path(s"$dir/_manifests/v00000002.json"), "x".getBytes))
      assert(trace.counter("commit.lost_races") == 1)
    } finally {
      CountingCommit.trace = None
      CountingCommit.delegate = RenameCommit
      spark.conf.unset(HttpCasCommit.UrlConf)
      srv.stop(0)
      srv.getExecutor.asInstanceOf[java.util.concurrent.ExecutorService].shutdownNow()
    }
  }

  test("isManifest matches version manifests only") {
    assert(CountingCommit.isManifest(new Path("/t/_manifests/v00000012.json")))
    assert(!CountingCommit.isManifest(new Path("/t/_manifests/checkpoint-v00000010.json")))
    assert(!CountingCommit.isManifest(new Path("/t/_manifests/_last_checkpoint")))
  }
}
