package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One benchmark run in one JVM: set up once, then a cold pass over
  * the workload's queries and warm passes for `--seconds`.
  *
  * The client is a single caller in a closed loop: each query function
  * is called, its DataFrame is materialized in full to the `noop` sink,
  * and only then is the next query called. Every result is digested
  * during its materialization so the caller can check it against the
  * committed digests.
  *
  * With `--trace 1` listeners record every layer's events on the cold
  * pass and on every second warm pass; the warm passes in between run
  * untraced, so the tracing overhead is measured within the run. The
  * kernel harness runs at the end of a traced run.
  *
  * Everything is written to one JSON record; run.py derives the metrics
  * from it.
  */
object Main {

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val queries = a("queries").split(",").toSeq
    val dataDir = a("data")
    val scale = a.get("scale").map(_.toInt).getOrElse(1)
    val runDir = a("run-dir")
    val cpus = a("cpus")
    val clock = new Clock

    val all = graft.SparkEntry.queries
    queries.foreach(q => require(all.contains(q), s"unknown query $q"))

    // Set-up: build the session, warm the JIT, derive the scaled inputs.
    val spark = session(cpus, runDir)
    warmup(spark, dataDir, s"$runDir/warm")
    val sfDir = if (scale > 1) graft.ScaleRehearsal.stageScaled(spark, dataDir, scale) else dataDir

    val tracer = if (trace) Some(new Tracer(spark)) else None
    val passes = mutable.ArrayBuffer.empty[Json.Raw]
    val firstQueryMs = clock.ms()
    var warmStart = 0L
    var pass = 0
    var buildsSeen = graft.Staging.sharedBuildSeconds
    def warmElapsed = (System.nanoTime() - warmStart) / 1e9
    // The cold pass, then warm passes for `seconds`, and at least three
    // of them, so a traced run always has a traced pass between two
    // untraced ones.
    while (pass < 4 || warmElapsed < seconds) {
      if (pass == 1) warmStart = System.nanoTime()
      val traced = tracer.isDefined && pass % 2 == 0
      if (traced) tracer.get.install()
      val order = new Random(seed * 7919 + pass).shuffle(queries)
      val execs = order.map { name =>
        // the mock API server counts requests since its last reset; the
        // queries that use it reset it first themselves, so this only
        // makes the count after the call this execution's own
        if (traced) graft.sources.MockApiServer.reset()
        val start = clock.ms()
        var callEnd = start
        var digest: Option[(String, Long)] = None
        val err = try {
          val df = all(name)(spark, sfDir)
          callEnd = clock.ms()
          digest = Some(materialize(df))
          None
        } catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}") }
        val end = clock.ms()
        System.err.println(f"[perfbench] pass $pass $name: ${(end - start) / 1e3}%.2f s ${err.getOrElse("")}")
        tracer.foreach(_.drain())
        val (apiAttempts, apiPages) = if (traced) Api.meter() else (0, 0)
        Json.obj("query" -> name, "start_ms" -> start, "call_end_ms" -> callEnd, "end_ms" -> end,
          "error" -> err, "digest" -> digest.map(_._1), "rows" -> digest.map(_._2),
          "api_attempts" -> apiAttempts, "api_pages" -> apiPages)
      }
      if (traced) tracer.get.uninstall()
      val builds = graft.Staging.sharedBuildSeconds
      val newBuilds = builds.keySet -- buildsSeen.keySet
      passes += Json.obj("pass" -> pass, "traced" -> traced,
        "builds" -> newBuilds.size, "build_s" -> newBuilds.toSeq.map(builds).sum,
        "execs" -> Json.arr(execs))
      buildsSeen = builds
      pass += 1
    }

    val kernels = if (trace) Kernels.run(spark, seed) else Json.obj()
    // Spark's ContextCleaner frees shuffle, broadcast and checkpoint
    // blocks only after a GC has found their handles unreachable, so
    // collect, give it time, and collect again.
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    val stagingMb = stagingBytes(new File(sys.props("java.io.tmpdir"))) / 1048576.0
    val record = Json.obj(
      "workload" -> workload, "seed" -> seed, "trace" -> trace, "cpus" -> cpus.toInt,
      "first_query_ms" -> firstQueryMs,
      "heap_live_mb" -> heapMb, "staging_disk_mb" -> stagingMb,
      "staging_build_s" -> graft.Staging.sharedBuildSeconds.values.sum,
      "staging_builds" -> graft.Staging.sharedBuildSeconds.size,
      "passes" -> Json.arr(passes),
      "trace_events" -> tracer.map(_.toJson),
      "kernels" -> kernels)
    Files.writeString(Paths.get(a("out")), record.s)
    spark.stop()
  }

  def session(cpus: String, runDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$runDir/local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Run one join + aggregate + sort job and one partitioned parquet
    * write, so first-use class loading and codegen of the common paths
    * land in set-up rather than in the first timed query. */
  def warmup(spark: SparkSession, sfDir: String, dir: String): Unit = {
    val r = spark.read.parquet(s"$sfDir/region.parquet")
    r.join(r.limit(1).select(col("r_regionkey")), Seq("r_regionkey"), "left")
      .groupBy("r_name").count().orderBy("r_name")
      .write.format("noop").mode("overwrite").save()
    r.limit(5).withColumn("dt", lit("19970101"))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("dt").parquet(s"$dir/pq")
  }

  /** Materialize `df` in full to the `noop` sink and return its row
    * count and an order-insensitive digest over all columns: the exact
    * sum of per-row 64-bit hashes, observed during the same execution
    * (one hash per output row, no second run). Doubles are rounded to
    * float first, so the last bits of a floating-point sum do not
    * decide. */
  def materialize(df: DataFrame): (String, Long) = {
    val fields = df.schema.fields
    val named = df.toDF(fields.indices.map(i => s"c$i"): _*)
    val cols = fields.indices.map(i => canonical(col(s"c$i"), fields(i).dataType))
    val h = (if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)).cast("decimal(38,0)")
    val obs = Observation()
    named.observe(obs, count(lit(1)).as("rows"), coalesce(sum(h), lit(0).cast("decimal(38,0)")).as("h"))
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    val rows = m("rows").asInstanceOf[Long]
    val schema = fields.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")
    (s"$schema|$rows|${m("h").asInstanceOf[java.math.BigDecimal].toPlainString}", rows)
  }

  def canonical(c: Column, t: DataType): Column = t match {
    case DoubleType => c.cast(FloatType)
    case ArrayType(DoubleType, _) => transform(c, _.cast(FloatType))
    case _: MapType => array_sort(map_entries(c))
    case _ => c
  }

  /** Bytes under the engine's staging roots (`graft_q_*`). */
  def stagingBytes(tmp: File): Long = {
    def size(f: File): Long =
      if (f.isDirectory) Option(f.listFiles).map(_.map(size).sum).getOrElse(0L) else f.length
    Option(tmp.listFiles).map(_.filter(_.getName.startsWith("graft_q_")).map(size).sum).getOrElse(0L)
  }

  /** Wall clock in epoch milliseconds with sub-millisecond resolution,
    * comparable with the epoch-millisecond stamps of listener events. */
  final class Clock {
    private val baseMs = System.currentTimeMillis()
    private val baseNs = System.nanoTime()
    def ms(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
  }

  /** Request meter of the in-process mock API server: fetch attempts
    * and distinct pages since its last reset. */
  object Api {
    private val endpoints = Seq("vendas", "clientes", "truncado", "limitado", "vazio")
    private val maxPage = 2000
    def meter(): (Int, Int) = {
      val counts = for (e <- endpoints; p <- 0 to maxPage) yield graft.sources.MockApiServer.attemptCount(e, p)
      (counts.sum, counts.count(_ > 0))
    }
  }
}
