package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** The ×N corpus `ScaleRehearsal.stageScaled` writes: the rows of its
  * relational twin ([[ScaledTwin]]) and the part-file layout every ×N
  * workload reads. */
class ScaledCorpusSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf0001
  private lazy val base = ScaleRehearsal.stageScaled(spark, sf, 3)

  private def symDiff(a: DataFrame, b: DataFrame): Long =
    a.exceptAll(b).count() + b.exceptAll(a).count()

  test("stageScaled x3: documents and embeddings equal the relational twin") {
    val (docs, embs) = ScaledTwin.frames(spark, sf, 3)
    val gotDocs = spark.read.parquet(s"$base/documents.parquet")
    val gotEmbs = spark.read.parquet(s"$base/embeddings.parquet")
    assert(gotDocs.count() === 3 * Tables.documents(spark, sf).count())
    assert(gotEmbs.count() === 3 * Tables.embeddings(spark, sf).count())
    assert(symDiff(gotDocs, docs) === 0, "documents differ from the twin")
    assert(symDiff(gotEmbs, embs) === 0, "embeddings differ from the twin")
  }

  test("stageScaled x3 writes 32 documents part files and 8 embeddings part files") {
    def parts(table: String): Int =
      new java.io.File(s"$base/$table.parquet").listFiles()
        .count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(parts("documents") === 32)
    assert(parts("embeddings") === 8)
  }
}
