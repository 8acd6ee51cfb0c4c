package perfbench

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import graft.lake.{CommitPrimitive, RenameCommit}

/** A `CommitPrimitive` that counts and times every manifest publish and
  * delegates the storage work to [[CountingCommit.delegate]], the engine's
  * default [[RenameCommit]] unless a workload picks another. Selected by
  * class name through `spark.graft.commit.impl` in traced runs only. The
  * engine instantiates it reflectively, so the counters live in
  * the companion object; a put made while a [[Trace]] is attached also
  * becomes a `commit.put` span under the calling thread's operation.
  */
class CountingCommit extends CommitPrimitive {
  override def putIfAbsent(spark: SparkSession, target: Path,
      payload: Array[Byte]): Boolean = {
    val t0 = Trace.nowUs
    val won = CountingCommit.delegate.putIfAbsent(spark, target, payload)
    val t1 = Trace.nowUs
    if (CountingCommit.isManifest(target)) CountingCommit.count(won, t0, t1)
    won
  }

  override def replace(spark: SparkSession, target: Path,
      payload: Array[Byte]): Unit = CountingCommit.delegate.replace(spark, target, payload)
}

object CountingCommit {
  private val ManifestRe = """v\d{8}\.json""".r

  /** Version manifests only: log checkpoints ride the same primitive but
    * are not commits.
    */
  def isManifest(p: Path): Boolean = ManifestRe.matches(p.getName)

  /** The primitive that does the storage work. */
  @volatile var delegate: CommitPrimitive = RenameCommit
  @volatile var trace: Option[Trace] = None
  /** The operation span the current thread's puts belong to. */
  val parent = new ThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
  }

  private def count(won: Boolean, t0: Long, t1: Long): Unit = trace.foreach { t =>
    t.add("commit.attempts", 1)
    if (!won) t.add("commit.lost_races", 1)
    t.add("commit.put_total_ms", (t1 - t0) / 1000.0)
    t.record(parent.get, "put", Layers.CommitPut, t0, t1)
  }
}
