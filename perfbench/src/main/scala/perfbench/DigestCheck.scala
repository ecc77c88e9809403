package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Self-check of the digest of [[Main.materialize]]: the digest must not depend on row
  * order or partitioning, and must change when one value changes.
  * Prints one line per check and exits non-zero on a failure. */
object DigestCheck {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]").config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val base = spark.range(0, 5000, 1, 3).select(
      col("id"), (col("id") / 7.0).as("d"), concat(lit("s"), col("id")).as("s"),
      array(col("id") / 3.0, lit(1.5)).as("arr"),
      map(lit("k"), col("id")).as("m"),
      when(col("id") % 5 === 0, lit(null)).otherwise(col("id")).as("n"))
    val shuffled = base.repartition(7, rand(11)).sortWithinPartitions(rand(12))
    val changed = base.withColumn("d", when(col("id") === 4321, lit(0.5)).otherwise(col("d")))
    def digest(df: org.apache.spark.sql.DataFrame): String = Main.materialize(df)._1
    val d0 = digest(base)
    val checks = Seq(
      "order_insensitive" -> (digest(shuffled) == d0),
      "coalesced_equal" -> (digest(base.coalesce(1)) == d0),
      "value_sensitive" -> (digest(changed) != d0),
      "duplicate_sensitive" -> (digest(base.union(base.limit(1))) != d0))
    checks.foreach { case (n, ok) => println(s"$n ${if (ok) "ok" else "FAILED"}") }
    spark.stop()
    if (!checks.forall(_._2)) sys.exit(1)
  }
}
