package graft

import org.apache.spark.sql.SparkSession

/** The one place graft's mains build a SparkSession: `local[cpus]`
  * with as many shuffle partitions as cores, UTC session time zone, UI
  * off, WARN logging. `cpus` is SPARK_GRAFT_CPUS, else the machine's
  * core count. Callers that need more (Bench's FAIR scheduler,
  * ScaleSmoke's wider shuffle) pass extra conf pairs, applied last.
  */
object Harness {
  def session(conf: (String, String)*): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    // GRAFT_MAX_PART_BYTES: on a row-group-bounded twin dir (Amplify
    // arg 4) shrink scan splits below the single-file size so a scan
    // actually fans out across tasks — row group is the split atom,
    // but Spark also needs maxPartitionBytes under the file size to cut
    // ranges. Meaningless on single-row-group files.
    sys.env.get("GRAFT_MAX_PART_BYTES").foreach(v =>
      b.config("spark.sql.files.maxPartitionBytes", v))
    conf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
