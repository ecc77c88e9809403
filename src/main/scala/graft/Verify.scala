package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query names (dev-only subset runs)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = LocalSession()
    new java.io.File(outDir).mkdirs()
    // a query that throws must leave a VISIBLE artifact, not just a
    // stderr line — round 7 lost 22 queries without a single red file
    // in-repo. Collected here, dumped as verify_errors.json below.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors(name) = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}"
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    // subset (dev) runs write a DISTINCT manifest name AND remove any
    // stale full manifest: a prior full run's oracle_sql.json paired
    // with this run's fresh parquet would silently verify old SQL
    // against new outputs — nothing in outDir may claim to be a full
    // manifest after a partial run
    // symmetric: each run kind removes the OTHER kind's manifest, so
    // outDir only ever holds the manifest matching its freshest outputs
    val (manifest, stale) =
      if (only.isDefined) ("oracle_sql.subset.json", "oracle_sql.json")
      else ("oracle_sql.json", "oracle_sql.subset.json")
    Files.deleteIfExists(Paths.get(s"$outDir/$stale"))
    Files.writeString(Paths.get(s"$outDir/$manifest"), json)
    // always written (empty {} on a clean run) so its absence/staleness
    // is itself detectable; non-empty = crashed queries, enumerated
    val errJson = errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"), errJson)
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} queries FAILED — see $outDir/verify_errors.json")
    spark.stop()
  }
}
