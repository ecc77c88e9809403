package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The relational form of the ×N corpus derivation
  * ([[ScaleRehearsal.stageScaled]]), the differential twin of the
  * native word-salting kernel (`graft.expressions.SaltWords`). */
object ScaledTwin {

  /** Every space-separated word suffixed with the first two hex digits
    * of md5(word ++ k), as a per-word `transform` lambda. */
  def saltHof(text: Column, k: Column): Column =
    array_join(transform(split(text, " "),
      w => concat(w, substring(md5(concat(w, k)), 1, 2))), " ")

  /** The derived (documents, embeddings) rows of `stageScaled`, built
    * relationally and not written. */
  def frames(spark: SparkSession, sfDir: String, factor: Int): (DataFrame, DataFrame) = {
    val copies = (0 until factor).map(lit(_))
    val docsX = spark.read.parquet(s"$sfDir/documents.parquet")
      .withColumn("k", explode(array(copies: _*)))
      .withColumn("doc_id", col("doc_id") + col("k") * 10000000L)
      .withColumn("text",
        when(col("k") === 0, col("text")).otherwise(saltHof(col("text"), col("k"))))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .drop("k")
    val dim = 64
    val embsX = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .withColumn("k", explode(array(copies: _*)))
      .withColumn("vec_id", col("vec_id") + col("k") * 10000000L)
      .withColumn("r", pmod(col("k"), lit(dim)))
      .withColumn("embedding",
        when(col("k") === 0, col("embedding")).otherwise(
          concat(slice(col("embedding"), col("r") + 1, lit(dim) - col("r")),
            slice(col("embedding"), lit(1), col("r")))))
      .withColumn("embedding",
        when(col("k") >= dim, transform(col("embedding"), x => -x))
          .otherwise(col("embedding")))
      .drop("k", "r")
    (docsX, embsX)
  }
}
