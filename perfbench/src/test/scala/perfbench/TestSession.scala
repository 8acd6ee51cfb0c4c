package perfbench

import org.apache.spark.sql.SparkSession

object TestSession {
  lazy val spark: SparkSession = {
    val work = java.nio.file.Files.createTempDirectory("perfbench-test").toString
    Main.session(2, traced = true, work)
  }
}
