package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf = "/root/testdata/sf0.001"

  /** Runs `body` with `dir` installed as the session's checkpoint dir
    * (None: no dir, so every graft.ops.Checkpoints.cut is local), then
    * restores whatever the shared session had installed before. */
  def withCheckpointDir[T](dir: Option[String])(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getCheckpointDir
    dir match {
      case Some(d) => graft.ops.Checkpoints.install(sc, d)
      case None => sc.setCheckpointDir(null)
    }
    // the installed value is a random child of the dir that was passed
    try body
    finally sc.setCheckpointDir(prev.map(p => new org.apache.hadoop.fs.Path(p).getParent.toString).orNull)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
