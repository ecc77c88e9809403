package graft
/** Plan evidence dumper for PLANS.md / plans/<round>/ — runs on the
  * same [[LocalSession]] as Bench (sf0.1 by default) so the recorded
  * plans are the plans the bench actually runs; override via
  * SPARK_GRAFT_CPUS / SPARK_GRAFT_SF_DIR for ad-hoc inspection.
  *
  * Output: stdout (truncated to 60 lines per query, the PLANS.md
  * excerpt form) and, when SPARK_GRAFT_EXPLAIN_DIR is set, one
  * UNtruncated `<dir>/<query><SPARK_GRAFT_EXPLAIN_SUFFIX>.txt` per
  * query — the round-19 optimization deliverable
  * (plans/r19/<query>_before.txt / _after.txt). */
object Explain {
  def main(args: Array[String]): Unit = {
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = sys.env.get("SPARK_GRAFT_EXPLAIN_DIR")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_EXPLAIN_SUFFIX", "")
    val spark = LocalSession()
    outDir.foreach(d => new java.io.File(d).mkdirs())
    for (name <- args) {
      println(s"================ $name")
      val full = SparkEntry.queries(name)(spark, sf).queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      println(full.linesIterator.take(60).mkString("\n"))
      outDir.foreach { d =>
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$d/$name$suffix.txt"), full)
      }
    }
    spark.stop()
  }
}
