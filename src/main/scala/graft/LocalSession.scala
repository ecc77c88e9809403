package graft

import org.apache.spark.sql.SparkSession

/** The one local session every main runs on: `local[N]` with N shuffle
  * partitions, UTC session time, no UI, WARN logging. N is
  * `SPARK_GRAFT_CPUS`, else the host's core count, so a main measures
  * the machine it runs on. Test suites keep their own fixed `local[4]`
  * (`TestSpark`): plan-shape tests rely on 4 partitions. */
object LocalSession {
  def apply(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    // measured: splitting scans below the 128 MB default (e.g. 8m) is
    // ~12% SLOWER in Bench - at ~10 MB files, task-scheduling overhead
    // outweighs scan parallelism; the default split size stands
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
