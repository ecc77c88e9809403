package graft

import graft.functions.{VectorFunctions => V}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Native-expression coverage: codegen + interpreted paths, SQL
  * registration via GraftExtensions, and differential equality against
  * the higher-order-function twin. */
class ExpressionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("qdot native == HOF twin on fixture embeddings (differential)") {
    val v = Tables.embeddings(spark, TestSpark.sf0001)
      .select(col("vec_id"), V.quantize(col("embedding")).as("q"))
    val diff = v.select(V.qdot(col("q"), col("q")).as("a"), V.qdotHof(col("q"), col("q")).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(diff === 0)
  }

  test("null element and null array semantics") {
    val df = Seq(
      (Some(Seq(Some(2L), None, Some(3L))), Some(Seq(Some(4L), Some(5L), Some(6L)))),
      (None, Some(Seq(Some(1L))))).toDF("a", "b")
    val got = df.select(V.qdot(col("a"), col("b"))).collect()
    assert(got(0).getLong(0) === 2L * 4L + 3L * 6L)   // null element → 0 contribution
    assert(got(1).isNullAt(0))                        // null array → null
  }

  test("qsub native == HOF twin on fixture embeddings (differential)") {
    val v = Tables.embeddings(spark, TestSpark.sf0001)
      .select(col("vec_id"), V.quantize(col("embedding")).as("q"))
    val shifted = v.select(col("vec_id"),
      col("q"), reverse(col("q")).as("p"))
    val diff = shifted
      .select(V.qsub(col("q"), col("p")).as("a"), V.qsubHof(col("q"), col("p")).as("b"))
      .filter(not(col("a") <=> col("b"))).count()
    assert(diff === 0)
  }

  test("qsub zip_with parity: null padding, null elements, null arrays") {
    val df = Seq(
      // unequal lengths: zip_with pads the shorter side with null
      (Some(Seq(Some(10L), Some(20L), Some(30L))), Some(Seq(Some(1L)))),
      // null element on one side → null element out
      (Some(Seq(Some(2L), None)), Some(Seq(Some(4L), Some(5L)))),
      // null array → null out
      (None, Some(Seq(Some(1L))))).toDF("a", "b")
    val rows = df.select(V.qsub(col("a"), col("b")).as("n"),
      V.qsubHof(col("a"), col("b")).as("h"))
      .filter(not(col("n") <=> col("h"))).count()
    assert(rows === 0)
    val got = df.select(V.qsub(col("a"), col("b"))).collect()
    assert(got(0).getSeq[Any](0) === Seq(9L, null, null))
    assert(got(1).getSeq[Any](0) === Seq(-2L, null))
    assert(got(2).isNullAt(0))
  }

  test("codegen and interpreted paths agree") {
    val schema = StructType(Seq(StructField("a", ArrayType(LongType)), StructField("b", ArrayType(LongType))))
    val df = rddFrame(schema, Row(Seq(1L, 2L, 3L), Seq(4L, 5L, 6L)))
    inBothCodegenModes { mode =>
      assert(df.select(V.qdot(col("a"), col("b"))).as[Long].head() === 32L, mode)
    }
  }

  test("qsub codegen and interpreted paths agree") {
    val schema = StructType(Seq(StructField("a", ArrayType(LongType)), StructField("b", ArrayType(LongType))))
    val df = rddFrame(schema, Row(Seq(5L, 7L), Seq(1L, 2L)))
    inBothCodegenModes { mode =>
      assert(df.select(V.qsub(col("a"), col("b"))).as[Seq[Long]].head() === Seq(4L, 5L), mode)
    }
  }

  test("char_shingles native == HOF twin on fixture documents (differential)") {
    import graft.functions.{TextFunctions => T}
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val diff = docs.select(T.shingles(col("text"), 3).as("a"), T.shinglesHof(col("text"), 3).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(diff === 0)
    // short-text edge: |text| < n mirrors the composed form's greatest(...,1)
    val edge = Seq("ab", "", "abcd").toDF("t")
      .select(T.shingles(col("t"), 3).as("a"), T.shinglesHof(col("t"), 3).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(edge === 0)
  }

  test("SQL registration: qdot_native callable from spark.sql") {
    GraftExtensions.register(spark)
    val got = spark.sql("SELECT qdot_native(array(1L, 2L), array(3L, 4L)) AS d").as[Long].head()
    assert(got === 11L)
  }

  test("expression participates in whole-stage codegen (no fallback)") {
    val v = Tables.embeddings(spark, TestSpark.sf0001)
      .select(V.quantize(col("embedding")).as("q"))
    val plan = v.select(V.qdot(col("q"), col("q")).as("d")).queryExecution.executedPlan
    // the `*(n)` prefix marks operators inside a WholeStageCodegen stage
    val qdotLine = plan.toString.linesIterator.find(_.contains("qdot_native")).get
    assert(qdotLine.trim.startsWith("*"), s"qdot_native not codegen'd:\n$plan")
  }

  // --- differential harness: native kernel vs its twin, codegen on AND off ---

  /** Runs `body` with whole-stage codegen + codegen'd projections, then
    * fully interpreted; restores the defaults. Inputs must not be local
    * relations, or the optimizer folds the projection before either
    * path runs (see [[rddFrame]]). */
  private def inBothCodegenModes(body: String => Unit): Unit =
    try {
      for ((ws, fm) <- Seq(("true", "CODEGEN_ONLY"), ("false", "NO_CODEGEN"))) {
        spark.conf.set("spark.sql.codegen.wholeStage", ws)
        spark.conf.set("spark.sql.codegen.factoryMode", fm)
        body(fm)
      }
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }

  /** An RDD-backed frame: ConvertToLocalRelation cannot pre-evaluate
    * expressions over it, so the mode under test really runs them. */
  private def rddFrame(schema: StructType, rows: Row*): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

  /** Rows of `a` and `b` differ in either direction (multiset compare). */
  private def symDiff(a: DataFrame, b: DataFrame): Long =
    a.exceptAll(b).count() + b.exceptAll(a).count()

  /** The error condition of the arithmetic error `f` raises, wherever
    * it sits in the cause chain (task failures wrap it). */
  private def errorClassOf(f: => Any): String = {
    val e = intercept[Exception](f)
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .collectFirst { case a: ArithmeticException with org.apache.spark.SparkThrowable => a.getCondition }
      .getOrElse(e.toString)
  }

  test("quantize native == HOF twin: fixture, k.5e-6 ties of both signs, -0.0, nulls (codegen on/off)") {
    val ties = (-60 to 60).flatMap(k => Seq((k + 0.5) * 1e-6, (k + 0.5) / 1e6, k * 1e-6 + 5e-7))
    val big = Seq(4503599627.370495, 4503599627.370497, 1e10 + 0.5e-6, -9.2e12, 9.2e12, 1e-300, -1e-300)
    val negZero = Seq(-0.0, 0.0, -4.9999999999999996e-7, 4.9999999999999996e-7)
    val dschema = StructType(Seq(StructField("id", IntegerType), StructField("x", ArrayType(DoubleType))))
    val doubles = rddFrame(dschema,
      Row(0, ties), Row(1, big), Row(2, negZero), Row(3, Seq(1.5e-6, null, -2.5e-6)), Row(4, null))
    val fschema = StructType(Seq(StructField("id", IntegerType), StructField("x", ArrayType(FloatType))))
    val floats = rddFrame(fschema,
      Row(0, ties.map(_.toFloat)), Row(1, Seq(-0.0f, 0.5f, -0.5f, 3.4e4f, null)), Row(2, null))
    val fixture = Tables.embeddings(spark, TestSpark.sf0001).select(col("vec_id"), col("embedding").as("x"))
    inBothCodegenModes { mode =>
      for (df <- Seq(doubles, floats, fixture)) {
        val got = df.select(V.quantize(col("x")).as("a"), V.quantizeHof(col("x")).as("b"))
        assert(got.filter(not(col("a") <=> col("b"))).count() === 0, s"$mode: quantize != twin")
      }
      val row = doubles.filter(col("id") === 3).select(V.quantize(col("x"))).head().getSeq[Any](0)
      assert(row.length === 3 && row(1) == null, s"$mode: a null element must stay null")
      assert(doubles.filter(col("id") === 4).select(V.quantize(col("x"))).head().isNullAt(0))
      assert(doubles.filter(col("id") === 2).select(V.quantize(col("x"))).head().getSeq[Long](0)
        .take(2) === Seq(0L, 0L), s"$mode: -0.0 and 0.0 quantize to 0")
    }
  }

  test("quantize native and HOF twin both raise the ANSI cast error on NaN, +Inf, -Inf and overflow") {
    val schema = StructType(Seq(StructField("x", ArrayType(DoubleType))))
    inBothCodegenModes { mode =>
      for (bad <- Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, 9.3e12, -9.3e12)) {
        val df = rddFrame(schema, Row(Seq(0.25, bad)))
        val native = errorClassOf(df.select(V.quantize(col("x"))).collect())
        val twin = errorClassOf(df.select(V.quantizeHof(col("x"))).collect())
        assert(native === twin && native.startsWith("CAST_OVERFLOW"), s"$mode $bad: $native vs $twin")
      }
    }
  }

  test("quantize is a codegen'd expression: no CodegenFallback lambda in the stage") {
    val plan = Tables.embeddings(spark, TestSpark.sf0001)
      .select(V.quantize(col("embedding")).as("q")).queryExecution.executedPlan.toString
    val line = plan.linesIterator.find(_.contains("quantize_e6")).get
    assert(line.trim.startsWith("*") && !plan.contains("lambda"), s"quantize not codegen'd:\n$plan")
  }

  private val vecSchema = StructType(Seq(StructField("vec_id", LongType),
    StructField("q", ArrayType(LongType)), StructField("n2", LongType)))
  private val centSchema = StructType(Seq(StructField("c_id", LongType),
    StructField("cq", ArrayType(LongType)), StructField("cn2", LongType)))

  /** The relational twin: every (vector, centroid) pair, then ArgMaxBy
    * per vector — max cosine or min exact d2, ties → lowest c_id. */
  private def nearestTwin(v: DataFrame, cents: DataFrame, l2: Boolean): DataFrame = {
    val score =
      if (l2) -(col("n2") + col("cn2") - lit(2L) * V.qdot(col("q"), col("cq")))
      else V.cosineFromQ(V.qdot(col("q"), col("cq")), col("n2"), col("cn2"))
    v.crossJoin(broadcast(cents)).withColumn("score", score)
      .groupBy(col("vec_id")).agg(V.argMaxBy(col("c_id"), col("score"), -col("c_id")).as("cluster"))
  }

  /** The native form: the codebook as ONE broadcast row. */
  private def nearestNative(v: DataFrame, cents: DataFrame, l2: Boolean): DataFrame = {
    val cb = cents.agg(collect_list(struct(col("c_id"), col("cq").as("vec"), col("cn2").as("n2"))).as("cb"))
    v.crossJoin(broadcast(cb))
      .select(col("vec_id"), V.nearestCentroid(col("q"), col("n2"), col("cb"), l2).as("cluster"))
  }

  private def withNorms(df: DataFrame): DataFrame = df.withColumn("n2", V.qdot(col("q"), col("q")))

  test("nearest_centroid native == crossJoin + ArgMaxBy twin on fixture embeddings (codegen on/off)") {
    val v = withNorms(Tables.embeddings(spark, TestSpark.sf0001)
      .select(col("vec_id"), V.quantize(col("embedding")).as("q")))
    val cents = v.filter(col("vec_id") < 8)
      .select(col("vec_id").as("c_id"), col("q").as("cq"), col("n2").as("cn2")).localCheckpoint()
    // PQ-sized: 8-dim sub-vectors against a 16-entry codebook
    val subs = withNorms(v.select(col("vec_id"), slice(col("q"), 9, 8).as("q")))
    val subCents = subs.filter(col("vec_id") < 16)
      .select(col("vec_id").as("c_id"), col("q").as("cq"), col("n2").as("cn2")).localCheckpoint()
    inBothCodegenModes { mode =>
      for (l2 <- Seq(false, true); (vv, cc) <- Seq((v, cents), (subs, subCents))) {
        val native = nearestNative(vv, cc, l2)
        assert(native.filter(col("cluster").isNull).count() === 0)
        assert(symDiff(native, nearestTwin(vv, cc, l2)) === 0, s"$mode l2=$l2")
      }
    }
  }

  test("nearest_centroid: exact ties pick the lowest c_id, nulls and empty codebooks give null") {
    // cosine ties: c_id 7 and 3 share a direction, c_id 5 is 2x it (same
    // cosine exactly); d2 ties: (0, 0) is 1 from both (1, 0) and (0, 1)
    val cents = rddFrame(centSchema,
      Row(7L, Seq(1L, 2L), 5L), Row(5L, Seq(2L, 4L), 20L), Row(3L, Seq(1L, 2L), 5L),
      Row(9L, Seq(1L, 0L), 1L), Row(4L, Seq(0L, 1L), 1L), Row(8L, null, 1L))
    val v = rddFrame(vecSchema,
      Row(1L, Seq(1L, 2L), 5L), Row(2L, Seq(2L, 1L), 5L), Row(3L, Seq(0L, 0L), 0L),
      Row(4L, null, 3L), Row(5L, Seq(1L, 1L), null), Row(6L, Seq(-3L, 0L), 9L))
    val nonZero = v.filter(col("vec_id") =!= 3)
    val empty = cents.filter(lit(false))
    inBothCodegenModes { mode =>
      for (l2 <- Seq(false, true)) {
        val vv = if (l2) v else nonZero
        val native = nearestNative(vv, cents, l2)
        assert(symDiff(native, nearestTwin(vv, cents, l2)) === 0, s"$mode l2=$l2")
        // an empty codebook: the twin has no row, the native form null
        assert(nearestTwin(vv, empty, l2).count() === 0)
        assert(nearestNative(vv, empty, l2).filter(col("cluster").isNotNull).count() === 0)
      }
      val cos = nearestNative(nonZero, cents, l2 = false).collect().map(r => r.getLong(0) -> r.get(1)).toMap
      assert(cos(1L) === 3L, s"$mode: cosine tie must go to the lowest c_id")
      assert(cos(4L) == null && cos(5L) == null, s"$mode: null vector or norm must give null")
      val d2 = nearestNative(v, cents, l2 = true).collect().map(r => r.getLong(0) -> r.get(1)).toMap
      assert(d2(3L) === 4L, s"$mode: d2 tie must go to the lowest c_id")
    }
  }

  test("nearest_centroid: a zero-norm vector raises DIVIDE_BY_ZERO under ANSI and is null without, as the twin") {
    val cents = rddFrame(centSchema, Row(1L, Seq(1L, 0L), 1L), Row(2L, Seq(0L, 1L), 1L))
    val v = rddFrame(vecSchema, Row(1L, Seq(0L, 0L), 0L), Row(2L, Seq(0L, 3L), 9L))
    inBothCodegenModes { mode =>
      assert(errorClassOf(nearestNative(v, cents, l2 = false).collect()) === "DIVIDE_BY_ZERO")
      assert(errorClassOf(nearestTwin(v, cents, l2 = false).collect()) === "DIVIDE_BY_ZERO")
      spark.conf.set("spark.sql.ansi.enabled", "false")
      try {
        val native = nearestNative(v, cents, l2 = false)
        assert(symDiff(native, nearestTwin(v, cents, l2 = false)) === 0, mode)
        assert(native.filter(col("vec_id") === 1).head().isNullAt(1))
      } finally spark.conf.set("spark.sql.ansi.enabled", "true")
    }
  }

  test("nearest_centroid fails loudly on a vector whose width differs from the codebook's") {
    val cents = rddFrame(centSchema, Row(1L, Seq(1L, 0L), 1L))
    val v = rddFrame(vecSchema, Row(1L, Seq(1L, 0L, 0L), 1L))
    val e = intercept[Exception](nearestNative(v, cents, l2 = true).collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.getMessage.contains("width")), e.toString)
  }

  test("qsub: primitive and padded paths equal the HOF twin (codegen on/off)") {
    val schema = StructType(Seq(StructField("a", ArrayType(LongType)), StructField("b", ArrayType(LongType))))
    val df = rddFrame(schema,
      Row(Seq(5L, 7L, -9L), Seq(1L, 2L, 3L)),          // equal width, no nulls: long[]
      Row(Seq(5L, 7L), Seq(1L, 2L)),
      Row(Seq(10L, 20L, 30L), Seq(1L)),                // zip_with null padding
      Row(Seq(2L, null), Seq(4L, 5L)),                 // null element
      Row(null, Seq(1L)))
    inBothCodegenModes { mode =>
      val got = df.select(V.qsub(col("a"), col("b")).as("n"), V.qsubHof(col("a"), col("b")).as("h"))
      assert(got.filter(not(col("n") <=> col("h"))).count() === 0, mode)
      val primitive = df.select(V.qsub(col("a"), col("b"))).collect().take(2).map(_.getSeq[Long](0))
      assert(primitive.toSeq === Seq(Seq(4L, 5L, -12L), Seq(4L, 5L)), mode)
    }
  }

  test("ArgMaxBy == row_number window twin: NaN, -0.0, null orderings, all-null groups (codegen on/off)") {
    val schema = StructType(Seq(StructField("g", IntegerType), StructField("v", StringType),
      StructField("o1", DoubleType), StructField("o2", LongType)))
    val df = rddFrame(schema,
      Row(1, "a", 1.0, 1L), Row(1, "b", 3.0, 2L), Row(1, "c", 3.0, 5L),      // tie on o1 → max o2
      Row(2, "d", Double.NaN, 1L), Row(2, "e", Double.PositiveInfinity, 9L), // NaN is largest
      Row(3, "f", -0.0, 1L), Row(3, "g", 0.0, 0L),                           // -0.0 = 0.0 → o2
      Row(4, "h", null, 7L), Row(4, "i", 2.0, null), Row(4, "j", -5.0, 3L),  // null ords ignored
      Row(5, "k", null, 1L), Row(5, "l", 1.0, null))                         // all null → null
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("g")).orderBy(col("o1").desc, col("o2").desc)
    val twin = df.select(col("g")).distinct()
      .join(df.filter(col("o1").isNotNull && col("o2").isNotNull)
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("g"), col("v").as("best")), Seq("g"), "left")
    inBothCodegenModes { mode =>
      val native = df.groupBy(col("g")).agg(V.argMaxBy(col("v"), col("o1"), col("o2")).as("best"))
      assert(symDiff(native, twin) === 0, mode)
      assert(native.filter(col("g") === 5).head().isNullAt(1))
    }
  }

  test("UpperGram == posexplode + GROUP BY (i, j) twin; null arrays skipped, empty input empty (codegen on/off)") {
    import graft.expressions.UpperGram
    import org.apache.spark.sql.GraftBridge
    val schema = StructType(Seq(StructField("qx", ArrayType(LongType))))
    val df = rddFrame(schema, Row(Seq(1L, -2L, 3L)), Row(null), Row(Seq(4L, 5L, -6L)), Row(Seq(0L, 7L, 1L)))
    def native(in: DataFrame) = in.agg(GraftBridge.column(
        UpperGram(GraftBridge.expression(col("qx"))).toAggregateExpression()).as("g"))
      .select(explode(col("g")).as("t"))
      .select(col("t.i").as("i"), col("t.j").as("j"), col("t.s2").as("s2"))
    val twin = df.select(posexplode(col("qx")).as(Seq("i", "xi")), col("qx"))
      .select(col("i"), col("xi"), posexplode(col("qx")).as(Seq("j", "xj")))
      .filter(col("i") <= col("j"))
      .groupBy(col("i"), col("j")).agg(sum(col("xi") * col("xj")).as("s2"))
    inBothCodegenModes { mode =>
      assert(native(df).count() === 6, mode)
      assert(symDiff(native(df), twin) === 0, mode)
      assert(native(df.filter(col("qx").isNull)).count() === 0, s"$mode: all-null input")
      assert(native(df.filter(lit(false))).count() === 0, s"$mode: empty input")
    }
  }

  test("salt_words native == split/transform/md5 twin: edge spacing, tabs, multi-byte, k >= 10, nulls (codegen on/off)") {
    import graft.functions.TextFunctions.saltWords
    val texts = Seq(null, "", " ", "  ", "word", " lead", "trail ", "two  spaces", " both ends ",
      "tab\tis\tnot a separator", "\t", "naïve café", "日本語 テキスト", "emoji 😀 x", "a b c d e f")
    val ks = (1 to 9) ++ Seq(10, 11, 99, 100, 123456)
    val schema = StructType(Seq(StructField("text", StringType), StructField("k", IntegerType)))
    val df = rddFrame(schema, (for (t <- texts; k <- ks) yield Row(t, k)) :+ Row("null k", null): _*)
    val fixture = Tables.documents(spark, TestSpark.sf0001)
      .select(col("text"), explode(array(lit(1), lit(2), lit(12))).as("k"))
    inBothCodegenModes { mode =>
      for (in <- Seq(df, fixture)) {
        val got = in.select(saltWords(col("text"), col("k")).as("a"),
          ScaledTwin.saltHof(col("text"), col("k")).as("b"))
        assert(got.filter(not(col("a") <=> col("b"))).count() === 0, s"$mode: salt_words != twin")
      }
      val rows = df.filter(col("text").isNull || col("k").isNull)
        .select(saltWords(col("text"), col("k"))).collect().map(r => Option(r.getString(0)))
      assert(rows.count(_.isEmpty) === ks.size && rows.contains(Some("")),
        s"$mode: null text gives null, null k the empty string")
    }
    val plan = df.select(saltWords(col("text"), col("k")).as("s")).queryExecution.executedPlan.toString
    val line = plan.linesIterator.find(_.contains("salt_words")).get
    assert(line.trim.startsWith("*") && !plan.contains("lambda"), s"salt_words not codegen'd:\n$plan")
  }

  test("IntersectCount == size(array_intersect) on distinct-left sets: null elements and null arrays (codegen on/off)") {
    import graft.expressions.IntersectCount
    import org.apache.spark.sql.GraftBridge
    val schema = StructType(Seq(StructField("a", ArrayType(StringType)), StructField("b", ArrayType(StringType))))
    val df = rddFrame(schema,
      Row(Seq("ab", "bc", "cd"), Seq("bc", "cd", "cd", "xy")),
      Row(Seq("ab", null), Seq(null, "ab", null)),   // a-null counts once iff b has a null
      Row(Seq("ab", null), Seq("ab")),
      Row(Seq(), Seq("ab")),
      Row(null, Seq("ab")), Row(Seq("ab"), null))
    inBothCodegenModes { mode =>
      val got = df.select(
        GraftBridge.column(IntersectCount(GraftBridge.expression(col("a")),
          GraftBridge.expression(col("b")))).as("n"),
        size(array_intersect(col("a"), col("b"))).as("h"))
      assert(got.filter(not(col("n") <=> col("h"))).count() === 0, mode)
      assert(got.collect().map(r => Option(r.get(0))).toSeq ===
        Seq(Some(2), Some(2), Some(1), Some(0), None, None), mode)
    }
  }
}
