package graft

import org.scalatest.funsuite.AnyFunSuite

/** The memo contracts of [[Staging]]. */
class StagingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("schemaOf memoizes no failed inference: a missing path throws, then resolves once written") {
    val path = s"${Staging.dir("stagingspec_schema", TestSpark.sf0001)}/t"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    intercept[org.apache.spark.sql.AnalysisException](Staging.schemaOf(spark, path))
    spark.range(3).write.mode("overwrite").parquet(path)
    assert(Staging.schemaOf(spark, path).fieldNames.toSeq === Seq("id"))
  }
}
