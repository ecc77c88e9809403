package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions, VectorFunctions}

/** Per-row cost of the engine's native kernels, applied through their
  * public functions to rows generated from the run seed.
  *
  * Each input frame is checkpointed first; `ns_per_row` is the median of
  * three timed runs (after one untimed run) of a projection applying the
  * kernel to every checkpointed row, divided by the row count, so it
  * includes reading the input rows. `bytes_per_row` is the size of the
  * kernel's input values per row (8 bytes per array element, UTF-8
  * length for strings).
  */
object Kernels {
  private val rows = 200000L
  // shingles costs about 60 µs a row, so the text kernels get a quarter
  // of the rows: at 200,000 they took most of a minute, and a traced run
  // must end within its deadline
  private val textRows = rows / 4
  private val dim = 64

  def run(spark: SparkSession, seed: Long): Json.Raw = {
    val s = lit(seed)
    def vec(salt: Int): Column =
      transform(sequence(lit(1), lit(dim)), i => xxhash64(col("id"), i, s, lit(salt)) % 1000000L)
    val vocab = array("a agg batch big column customer data fast filter group hash join key line merge"
      .split(" ").toSeq.map(lit): _*)
    val text = concat_ws(" ", transform(sequence(lit(1), lit(50)),
      i => element_at(vocab, (pmod(xxhash64(col("id"), i, s), lit(15L)) + 1).cast("int"))))

    val vecs = spark.range(rows).select(col("id"), vec(1).as("a"), vec(2).as("b"))
    val texts = spark.range(textRows).select(col("id"), text.as("t"))
    val sigs = spark.range(rows).select(col("id"),
      transform(vec(3), x => x % 64L).as("a"), transform(vec(4), x => x % 64L).as("b"))
    val fps = spark.range(rows).select(md5(concat(col("id").cast("string"), s.cast("string"))).as("fp"))
    val bloom = new graft.operators.SparkBloomProbe(
      fps.filter(col("fp") < "8").stat.bloomFilter("fp", rows, 0.01))
    val bc = spark.sparkContext.broadcast[graft.operators.BloomProbe](bloom)

    val arrBytes = (c: String) => size(col(c)) * 8
    val cases: Seq[(String, DataFrame, Column, Column)] = Seq(
      ("qdot", vecs, VectorFunctions.qdot(col("a"), col("b")),
        arrBytes("a") + arrBytes("b")),
      ("qsub", vecs, VectorFunctions.qsub(col("a"), col("b")),
        arrBytes("a") + arrBytes("b")),
      ("shingles", texts, TextFunctions.shingles(col("t"), 5), length(col("t"))),
      ("minhashSimilarity", sigs, TextFunctions.minhashSimilarity(col("a"), col("b")),
        arrBytes("a") + arrBytes("b")),
      ("deflatedLen", texts, TextFunctions.deflatedLen(col("t")), length(col("t"))),
      ("graftMightContain", fps, TextFunctions.graftMightContain(bc, col("fp")),
        length(col("fp"))))

    def time(df: DataFrame): Double = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0).toDouble
    }
    def measure(name: String, in: DataFrame, applied: DataFrame, bytes: Column) = {
      val n = in.count().toDouble
      time(applied) // first use compiles the kernel's code
      val ns = Seq.fill(3)(time(applied)).sorted.apply(1) / n
      val b = in.select(avg(bytes)).head().getDouble(0)
      name -> Json.obj("ns_per_row" -> ns, "bytes_per_row" -> b)
    }

    val scalar = cases.map { case (name, df, kernel, bytes) =>
      val in = df.localCheckpoint()
      measure(name, in, in.select(kernel.as("k")), bytes)
    }
    // argMaxBy is an aggregate, timed over 1000 groups
    val grouped = spark.range(rows).select((col("id") % 1000).as("g"), col("id"),
      (xxhash64(col("id"), s) % 1000L).as("o1"), (-col("id")).as("o2")).localCheckpoint()
    val argmax = measure("argMaxBy", grouped,
      grouped.groupBy("g").agg(VectorFunctions.argMaxBy(col("id"), col("o1"), col("o2"))),
      lit(24.0))
    bc.destroy()
    Json.obj((scalar :+ argmax): _*)
  }
}
