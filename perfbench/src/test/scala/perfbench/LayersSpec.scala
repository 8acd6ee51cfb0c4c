package perfbench

import org.scalatest.funsuite.AnyFunSuite

class LayersSpec extends AnyFunSuite {
  private val lake = Some("/bench/run/lake")
  private def site(frames: String*) = frames.mkString("\n")

  test("sink call sites win over plan shape") {
    assert(Layers.classify("AdaptiveSparkPlanExec", None,
      site("org.apache.spark.sql.Dataset.foreachPartition(Dataset.scala:1)",
        "graft.sinks.Elastic$.bulkIndexKeyed(Elastic.scala:97)"), lake, fullOuterJoin = false) ==
      Layers.SinksEs)
    assert(Layers.classify("ExecutedCommandExec", None,
      site("graft.sinks.Jdbc$.append(Jdbc.scala:116)"), lake, fullOuterJoin = false) ==
      Layers.SinksJdbc)
  }

  test("snapshot lookups are lake lookups, ingest is sources") {
    assert(Layers.classify("AdaptiveSparkPlanExec", None,
      site("graft.lake.Layout$.previousRunTime(Layout.scala:98)"), lake, false) ==
      Layers.LakeLookup)
    assert(Layers.classify("AdaptiveSparkPlanExec", None,
      site("graft.lake.Layout$.snapshotAsOf(Layout.scala:116)"), lake, false) ==
      Layers.LakeLookup)
    assert(Layers.classify("AdaptiveSparkPlanExec", None,
      site("graft.sources.Ingest$.normalize(Ingest.scala:40)"), lake, false) ==
      Layers.SourcesIngest)
  }

  test("file writes under the lake root are lake writes, or diffs when full-outer") {
    val out = Some("file:/bench/run/lake/r0/usage/apify/account_1")
    val cs = site("graft.lake.Layout$.overwriteSnapshot(Layout.scala:84)")
    assert(Layers.classify("DataWritingCommandExec", out, cs, lake, false) == Layers.LakeWrite)
    assert(Layers.classify("DataWritingCommandExec", out, cs, lake, true) == Layers.LakeDiff)
  }

  test("writes outside the lake and plain queries are query execution") {
    assert(Layers.classify("DataWritingCommandExec", Some("file:/elsewhere/x"),
      site("graft.lake.Layout$.overwriteSnapshot(Layout.scala:84)"), lake, false) == Layers.Query)
    assert(Layers.classify("OverwriteByExpressionExec", None,
      site("perfbench.Workloads$.noop(Workloads.scala:1)"), None, true) == Layers.Query)
    assert(Layers.classify("DataWritingCommandExec", Some("file:/bench/run/lake/x"), "",
      None, false) == Layers.Query)
  }

  test("every layer has a nesting level and a reported group") {
    Seq(Layers.PipelineAccount, Layers.PipelineAggregate, Layers.CommitStage,
      Layers.CommitPublish, Layers.CommitPut, Layers.Query, Layers.LakeWrite,
      Layers.LakeLookup, Layers.LakeDiff, Layers.SourcesIngest, Layers.SinksJdbc,
      Layers.SinksEs, Layers.Plan).foreach { l =>
      assert(Set(1, 2, 3)(Layers.level(l)))
      assert(Layers.groups.contains(Layers.group(l)), l)
    }
  }

  test("interval unions and self time") {
    assert(Trace.unionUs(Seq((0L, 10L), (5L, 15L), (20L, 25L))) == 20L)
    assert(Trace.unionUs(Nil) == 0L)
    // outer 0-100, inner 10-20 and 90-120 (clipped to the outer): self 80
    assert(Trace.selfUs(Seq((0L, 100L)), Seq((10L, 20L), (90L, 120L))) == 80L)
    // overlapping outers count once
    assert(Trace.selfUs(Seq((0L, 50L), (25L, 100L)), Seq((200L, 300L))) == 100L)
  }
}
