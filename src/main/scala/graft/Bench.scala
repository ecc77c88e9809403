package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession()
    // Untimed warmup: JIT/codegen-compile the scan/shuffle/window/sort
    // paths once so per-query timings measure the queries.
    try {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      val r = Tables.region(spark, sfDir)
      // key-only build side: a full self-join duplicates r_name and the
      // groupBy dies AMBIGUOUS_REFERENCE — which silently killed this
      // whole warmup block (first-use JIT then landed in timed queries)
      r.join(r.limit(1).select(col("r_regionkey")), Seq("r_regionkey"), "left")
        .groupBy("r_name").count().orderBy("r_name")
        .write.format("noop").mode("overwrite").save()
      // window + explode + sort paths too, so the first timed queries
      // that use them don't pay their JIT/codegen compile
      r.withColumn("x", explode(sequence(lit(1), lit(3))))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("r_regionkey")).orderBy(col("x"))))
        .orderBy(col("rn"))
        .write.format("noop").mode("overwrite").save()
      // recursion machinery (first WITH RECURSIVE pays heavy class
      // load/JIT — absorb it untimed)
      spark.sql("WITH RECURSIVE t(n) AS (SELECT 1 UNION ALL SELECT n + 1 FROM t WHERE n < 3) SELECT * FROM t")
        .write.format("noop").mode("overwrite").save()
      // ... and the two write committers the I/O round-trip queries hit
      // first (dynamic partition overwrite, DSv2 landing sink): their
      // first-use class-load/JIT otherwise lands in the timed queries
      val wtmp = s"${sys.props("java.io.tmpdir")}/graft_bench_warm"
      r.limit(5).withColumn("dt", lit("19970101"))
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("dt").parquet(s"$wtmp/pq")
      r.limit(5).select(col("r_regionkey"), col("r_name"))
        .write.format("graft-landing").mode("overwrite")
        .option("path", s"$wtmp/landing").option("endpoint", "warm").save()
      spark.read.format("graft-landing")
        .schema("r_regionkey LONG, r_name STRING")
        .option("path", s"$wtmp/landing").option("endpoint", "warm").load()
        .write.format("noop").mode("overwrite").save()
    } catch { case e: Throwable =>
      // warmup is best-effort, but a silent failure would quietly push
      // first-use committer JIT back into the first timed queries
      System.err.println(s"[bench] warmup failed (timings may include cold-start costs): $e")
    }
    // Calibration anchor (round-6 verdict): a FIXED in-memory
    // micro-workload — hash+sum over a generated range, no I/O, no
    // shuffle variance — timed at run start and end. Its wall time
    // moves with host speed only (the code never changes), so a
    // cross-round per-query ratio divided by the calibration ratio
    // separates "host was slow" from "code got slow" — the exact
    // ambiguity round 6's artifact fell into (totals 75→118 s on
    // identical code, and one query's median 5.5x out of band).
    // Median-of-3 like the queries; start AND end are recorded so
    // intra-run drift is visible too.
    // one single-shot calibration probe — also run per SAMPLE (round-16
    // verdict task 2): the run-level start/end pair cannot see
    // intra-run host-speed swings landing on individual samples (the
    // r16 record carried a 48 s outlier inside one median and a
    // 0.25→0.10 cal drift), so every sample records the host speed AT
    // ITS OWN MOMENT and cross-round comparison normalizes sample-wise
    // (tools/benchnorm.py) instead of by one per-run scalar.
    def calOnce(): Double = {
      import org.apache.spark.sql.functions._
      val t0 = System.nanoTime()
      spark.range(0L, 50000000L, 1L, 32)
        .select(sum(hash(col("id"))).as("h"), count(lit(1)).as("n"))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    // I/O-axis calibration probe (round-18 verdict task 3): the CPU
    // probe above cannot see I/O/state-store host drift — the measured
    // 4.3-6% same-code per-query flag rate traces to exactly that
    // (CAL-PROBE-RELATIVE drift: the CPU probe speeds up relative to
    // I/O-bound walls). This probe is a FIXED small parquet
    // write+scan round-trip (local disk + committer + footer decode),
    // so staging-dominated queries can be normalized along the axis
    // they actually stress (tools/benchnorm.py picks the axis per
    // query by its exec/total ratio). Sized small on purpose: ~3 MB,
    // 4 tasks — per-sample overhead stays ~0.1-0.2 s.
    val ioCalDir = s"${sys.props("java.io.tmpdir")}/graft_bench_iocal"
    def ioCalOnce(): Double = {
      import org.apache.spark.sql.functions._
      val t0 = System.nanoTime()
      spark.range(0L, 200000L, 1L, 4)
        .select(col("id"), hash(col("id")).as("h"),
          concat(lit("k"), pmod(col("id"), lit(997L))).as("k"))
        .write.mode("overwrite").parquet(ioCalDir)
      spark.read.parquet(ioCalDir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def calibrate(): Double = {
      val ts = List.fill(3)(calOnce()).sorted
      ts(1)
    }
    def calibrateIo(): Double = {
      val ts = List.fill(3)(ioCalOnce()).sorted
      ts(1)
    }
    val calStart = calibrate()
    val ioCalStart = calibrateIo()
    // noop sink: materializes every row/column of the result (count()
    // would let Catalyst prune the whole projection away).
    //
    // Median-of-3 per query (round-4 verdict ask): single-sample timing
    // produced >3x phantom swings on unchanged code (scalar_map
    // 2.5 -> 8.2 s) — one GC pause / JIT recompile / OS scheduling
    // hiccup landing on one query is indistinguishable from a real
    // regression. The median of 3 back-to-back runs discards one
    // outlier in either direction; SPARK_GRAFT_BENCH_REPS=1 restores
    // the quick single-pass mode for local iteration.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    // reps=0 would make every query "fail" on an empty sample list and
    // publish a well-formed total of 0.0 — reject the config up front
    require(reps >= 1, s"SPARK_GRAFT_BENCH_REPS must be >= 1, got $reps")
    // SPARK_GRAFT_BENCH_ONLY (round-10 verdict item 1): comma-separated
    // exact names and/or `prefix*` globs — run just that family in a
    // fresh JVM, the isolation lever for attributing cross-query
    // interference (shared-JVM GC/block-manager pressure) vs real
    // per-query regressions. Unset = the full judged surface.
    val only: Option[Seq[String]] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSeq.map(_.trim))
    def selected(name: String): Boolean = only.forall(_.exists(p =>
      if (p.endsWith("*")) name.startsWith(p.dropRight(1)) else name == p))
    val runStart = System.nanoTime()
    val selectedQueries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => selected(name) }
    // a selector that matches nothing (typo, trailing comma) would
    // silently publish a well-formed total ≈ 0 with n_queries = 0 —
    // the same degenerate-config hazard the reps guard above closes
    require(only.isEmpty || selectedQueries.nonEmpty,
      s"SPARK_GRAFT_BENCH_ONLY matched no queries: ${only.get.mkString(",")}")
    // STAGING vs EXEC split (round-8 verdict item 3): eager work done
    // INSIDE the query function — fixture staging, offline index
    // builds/persists, stream drains — is `staging_s`; executing the
    // RETURNED plan (the operator's actual serving cost, what a
    // standing deployment pays per query) is `exec_s`. The headline
    // per-query number stays their sum so totals remain comparable
    // across rounds; BENCH_DETAIL carries both components so an
    // exec regression can't hide under index-build noise.
    // 4th component: did a Staging shared-artifact build COMPLETE
    // inside this sample's window? That rep paid a once-per-JVM
    // build whose cost sharedTotal already adds to the headline —
    // keeping it in the median would double-count up to half the
    // build (round-11 advice). Such samples are excluded from the
    // median whenever at least one clean sample exists (reps >= 2
    // guarantees one: builds are once-per-JVM, so only the first
    // sample can pay); under reps=1 (dev mode) the paid sample is all
    // there is and the up-to-one-build over-count is accepted.
    // 5th/6th components: the sample's micro-batch trigger count and
    // total triggerExecution wall (round-11 verdict item 8 — the
    // streaming family's scheduling floor tracks host speed and
    // dominates those queries' measurement; publishing the per-query
    // trigger meter makes a streaming swing attributable: constant
    // triggers + rising trigger wall = host drift, changed trigger
    // count = a real pipeline change). Zero for batch-only queries.
    // trigger snapshots drain the (async) listener bus first, so a
    // micro-batch completing at a sample's edge is counted in THE
    // sample that ran it, never attributed to a later sample or a
    // later query (round-12 ADVICE). Best-effort: a drain failure
    // degrades to the old approximate attribution, never fails bench.
    def triggerSnapshot(): (Long, Long) = {
      // NonFatal only: a bare Throwable here would swallow
      // InterruptedException (eating Ctrl-C/harness cancellation for
      // the whole 200+-query loop) and fatal errors like OOM
      try org.apache.spark.graftbus.ListenerBusDrain.drain(spark.sparkContext)
      catch {
        case _: InterruptedException => Thread.currentThread().interrupt()
        case scala.util.control.NonFatal(_) => ()
      }
      graft.streaming.StreamMetrics.cumulativeTriggers
    }
    // 7th/8th components: the sample's own single-shot calibration
    // probes (CPU, then I/O), run UNTIMED immediately before the
    // sample — the per-sample host-speed record benchnorm.py divides
    // by, per axis (round-17 task 2; round-18 task 3)
    type Sample = (Double, Double, Double, Boolean, Long, Double, Double, Double)
    def sampleOf(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Sample = {
      val cal = calOnce()
      val ioCal = ioCalOnce()
      val (tc0, tm0) = triggerSnapshot()
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val t1 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val t2 = System.nanoTime()
      val (tc1, tm1) = triggerSnapshot()
      ((t2 - t0) / 1e9, (t1 - t0) / 1e9, (t2 - t1) / 1e9,
        graft.Staging.buildCompletedIn(t0, t2),
        tc1 - tc0, (tm1 - tm0) / 1e3, cal, ioCal)
    }
    // a failed query poisons its entry (-1) instead of silently
    // deflating the total with a time-to-failure; a failure in ANY
    // pass discards the query (same contract the per-query rep loop
    // had — earlier passes' samples are not trusted once one throws)
    final class QState(val name: String,
        val fn: (SparkSession, String) => org.apache.spark.sql.DataFrame) {
      var samples: List[Sample] = Nil   // chronological
      var failed = false
      var tStart = -1.0
    }
    val states = selectedQueries.map { case (n, f) => new QState(n, f) }
    def runSample(st: QState): Unit = if (!st.failed) {
      if (st.tStart < 0) st.tStart = (System.nanoTime() - runStart) / 1e9
      try st.samples = st.samples :+ sampleOf(st.fn)
      catch { case e: Throwable =>
        System.err.println(s"[bench] ${st.name} failed: $e")
        st.failed = true }
      // inter-query hygiene (round-10 verdict item 1): the finished
      // sample's localCheckpoint blocks, broadcasts, and shuffle files
      // are dead now but only release when the JVM GC feeds the
      // ContextCleaner's reference queue — across 800+ samples that
      // buildup is exactly the cross-query block-manager/GC pressure
      // a per-family regression could hide behind. One untimed gc per
      // sample keeps each measurement starting from a clean block
      // manager; the timed samples never include this.
      System.gc()
    }
    // SHUFFLED suite order (round-18 verdict task 5, amended by
    // measurement): reps used to run back-to-back per query in a
    // FIXED suite order, so one slow host window mapped onto one
    // CONTIGUOUS query family (the r18 driver record inflated all
    // multimodal+merge rows together, 1.8-4.7x; same-commit
    // arbitration cleared it as host noise). The verdict prescribed
    // per-REP interleaving; a full measured run of that design
    // (PLANS.md round 19) showed it changes the median's MEANING —
    // every sample becomes a cold serve (text_unigram_tokenize
    // 0.25 s hot -> 1.5 s cold on identical code), 156/282 queries
    // tripped adaptive widening, the pass wall doubled, and the
    // r18-comparison flagged 20 phantom both-stat regressions. So the
    // shipped fix targets the actual failure mode — FAMILY
    // CONTIGUITY — while keeping the statistic: the per-QUERY visit
    // order is a deterministically seeded shuffle (seed = n_queries,
    // same code -> same schedule, so same-code pairs stay
    // comparable), and each query's reps still run back-to-back
    // (hot-serve medians, r18-comparable, unchanged wall). A slow
    // host window now lands on a RANDOM subset of the suite instead
    // of one family, so cross-round family-correlated flags read as
    // what they are: host noise.
    val order = new scala.util.Random(states.size.toLong)
      .shuffle(states.indices.toList)
    order.foreach { i =>
      val st = states(i)
      for (_ <- 0 until reps) runSample(st)
      // adaptive widening: a >1.5x spread means the reps caught a GC
      // / JIT pause — add reps (cap 5) so the median sits on the
      // stable cluster instead of straddling the outlier. The 1e-9
      // floor keeps a 0.0-rounded sample from dividing by zero.
      def clean = { val c = st.samples.filterNot(_._4); if (c.nonEmpty) c else st.samples }
      var ts = clean.sortBy(_._1)
      while (!st.failed && reps > 1 && st.samples.size < 5 &&
          ts.nonEmpty && ts.last._1 / math.max(ts.head._1, 1e-9) > 1.5) {
        runSample(st)
        ts = clean.sortBy(_._1)
      }
    }
    val results = states.map { st =>
      if (st.failed || st.samples.isEmpty)
        (st.name, -1.0, 0.0, 0.0, 0, math.max(st.tStart, 0.0),
          Nil: List[Double], 0L, 0.0, Nil: List[Double], Nil: List[Double])
      else {
        val all = st.samples
        val clean = { val c = all.filterNot(_._4); if (c.nonEmpty) c else all }
        val ts = clean.sortBy(_._1)
        // median by TOTAL (the cross-round headline); the reported
        // split is the median sample's own components, so
        // staging + exec == total holds row-wise. Even sample sizes:
        // average the two middle elements — ts(size/2) alone is the
        // UPPER middle and biases the reported median high. samples_s
        // records EVERY sample (including build-paying excluded ones)
        // so the artifact shows what was dropped.
        if (ts.size % 2 == 1) {
          val t = ts(ts.size / 2)
          (st.name, t._1, t._2, t._3, all.size, st.tStart,
            all.map(_._1), t._5, t._6, all.map(_._7), all.map(_._8))
        } else {
          val a = ts(ts.size / 2 - 1); val b = ts(ts.size / 2)
          (st.name, (a._1 + b._1) / 2, (a._2 + b._2) / 2, (a._3 + b._3) / 2,
            all.size, st.tStart, all.map(_._1), (a._5 + b._5) / 2,
            (a._6 + b._6) / 2, all.map(_._7), all.map(_._8))
        }
      }
    }
    val failed = results.collect { case r if r._2 < 0 => "\"" + r._1 + "\"" }
    // failed queries appear ONLY in failed[] — a -1 sentinel inside the
    // queries/samples maps skewed any consumer that summed or medianed
    // them without filtering (round-7 advice)
    val timed = results.filter(_._2 >= 0)
    // compact per-query seconds (3 sig figs — full doubles made the
    // round-5 detail line long enough that the driver's tail capture
    // truncated it out of BENCH_r05.json; %.3g keeps the whole map in
    // one short line so every regression stays attributable)
    // Locale.ROOT: a default-locale %.3g would emit comma decimal
    // separators on e.g. de_DE JVMs and corrupt the JSON line
    val qs = timed.map { r =>
      "\"" + r._1 + "\":" + String.format(java.util.Locale.ROOT, "%.3g", Double.box(r._2)) }
      .mkString("{", ",", "}")
    // actual per-query sample counts: adaptive widening means a median
    // can summarize 3-5 runs — record which, so cross-round analysis
    // never mistakes a median-of-5 for a median-of-3
    val ns = timed.map { r => s"\"" + r._1 + "\":" + r._5 }
      .mkString("{", ",", "}")
    val calEnd = calibrate()
    val ioCalEnd = calibrateIo()
    // headline calibration: mean of the start/end medians (one number
    // for cross-round normalization); both ends kept for drift audit.
    // The io_ trio is the I/O axis twin (round-18 task 3).
    val calJson = String.format(java.util.Locale.ROOT,
      """"calibration_s":%.4f,"calibration_start_s":%.4f,"calibration_end_s":%.4f,"calibration_io_s":%.4f,"calibration_io_start_s":%.4f,"calibration_io_end_s":%.4f""",
      Double.box((calStart + calEnd) / 2.0), Double.box(calStart), Double.box(calEnd),
      Double.box((ioCalStart + ioCalEnd) / 2.0), Double.box(ioCalStart), Double.box(ioCalEnd))
    // shared-artifact accounting (round-11): Staging.frame/onceDir
    // builds run once per JVM, inside the FIRST rep of the first
    // consumer — a cost the median-of-reps then discards. Publish each
    // build's wall seconds and fold their sum into the headline total,
    // so memoization speeds the suite up honestly instead of hiding
    // work from the artifact.
    val sharedBuilds = graft.Staging.sharedBuildSeconds.toSeq.sortBy(_._1)
    val sharedTotal = sharedBuilds.map(_._2).sum
    val sharedJson = sharedBuilds.map { case (k, v) =>
      "\"" + k + "\":" + String.format(java.util.Locale.ROOT, "%.3f", Double.box(v)) }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum + sharedTotal
    val totalExec = timed.map(_._4).sum
    val failedJson = failed.mkString("[", ",", "]")
    // Tail-capture layout (round-5 verdict): sample counts on an
    // earlier line, the per-query seconds map SECOND-TO-LAST, and the
    // short always-parseable total-only record as the very LAST stdout
    // line. The harness keeps only the final ~2000 stdout chars, and
    // 127+ query names alone exceed that — so the COMPLETE record
    // (full-precision medians + sample counts) is also written to
    // BENCH_DETAIL.json in the working directory on every run; the
    // total line names it, so any truncated stdout regression stays
    // attributable from the file.
    // Subset-run guard (round-15 ADVICE): a SPARK_GRAFT_BENCH_ONLY dev
    // run must never overwrite the committed headline record — round
    // 14 briefly committed a 1-query detail file over the 232-query
    // one. Mirrors Verify's oracle_sql.subset.json discipline: subset
    // runs write a DISTINCT file, so BENCH_DETAIL.json only ever
    // holds a full-surface run.
    val detailFile =
      if (only.isDefined) "BENCH_DETAIL.subset.json" else "BENCH_DETAIL.json"
    val qsFull = timed.map { r => "\"" + r._1 + "\":" + r._2 }
      .mkString("{", ",", "}")
    // the staging/exec split per query: staging + exec == the headline
    // number row-wise (same median sample); exec is the operator's
    // standing serving cost, staging the in-query build/fixture cost
    val stagingFull = timed.map { r => "\"" + r._1 + "\":" + r._3 }
      .mkString("{", ",", "}")
    val execFull = timed.map { r => "\"" + r._1 + "\":" + r._4 }
      .mkString("{", ",", "}")
    // run-timeline + raw samples (round-11): t_start pins each query to
    // its wall-clock offset in the run and samples_s keeps every rep's
    // total — a family-wide swing in a future round can be localized to
    // a time window and judged against its own rep spread, instead of
    // being unattributable like round 10's ANN readout.
    val tStartFull = timed.map { r =>
      "\"" + r._1 + "\":" + String.format(java.util.Locale.ROOT, "%.1f", Double.box(r._6)) }
      .mkString("{", ",", "}")
    val samplesFull = timed.map { r =>
      "\"" + r._1 + "\":" + r._7.map(v => String.format(java.util.Locale.ROOT, "%.3f", Double.box(v)))
        .mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    // per-sample calibration twin of samples_s (round-17 task 2): the
    // i-th cal value is the single-shot probe run immediately before
    // the i-th sample, same list order — so any consumer can normalize
    // sample-wise (samples_s[i] / cal_s[i]) and a host-speed swing
    // landing mid-query becomes arithmetic, not a judgment call
    val calsFull = timed.map { r =>
      "\"" + r._1 + "\":" + r._10.map(v => String.format(java.util.Locale.ROOT, "%.3f", Double.box(v)))
        .mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    // per-sample I/O-probe twin of cal_s (round-18 task 3), same list
    // order — benchnorm.py normalizes staging-dominated queries by
    // this axis instead of the CPU probe
    val ioCalsFull = timed.map { r =>
      "\"" + r._1 + "\":" + r._11.map(v => String.format(java.util.Locale.ROOT, "%.3f", Double.box(v)))
        .mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    // per-query micro-batch trigger meter (streaming queries only —
    // batch queries are omitted rather than zero-padded): the median
    // sample's trigger count and total triggerExecution seconds, the
    // scheduling-floor record that makes stream_* deltas attributable
    val streaming = timed.filter(_._8 > 0)
    val trigFull = streaming.map { r => "\"" + r._1 + "\":" + r._8 }
      .mkString("{", ",", "}")
    val trigSecFull = streaming.map { r =>
      "\"" + r._1 + "\":" + String.format(java.util.Locale.ROOT, "%.3f", Double.box(r._9)) }
      .mkString("{", ",", "}")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(detailFile),
      s"""{"unit":"sec","reps":$reps,"total":$total,"total_exec":$totalExec,$calJson,"n_queries":${results.size},"n_failed":${failed.size},"failed":$failedJson,"sf":"$sfDir","samples":$ns,"queries":$qsFull,"staging":$stagingFull,"exec":$execFull,"t_start":$tStartFull,"samples_s":$samplesFull,"cal_s":$calsFull,"io_cal_s":$ioCalsFull,"stream_triggers":$trigFull,"stream_trigger_s":$trigSecFull,"shared_staging_total":$sharedTotal,"shared_staging":$sharedJson}""")
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $detailFile: $e") }
    println(s"""{"metric":"samples","reps":$reps,"samples":$ns,"sf":"$sfDir"}""")
    println(s"""{"metric":"detail","unit":"sec","reps":$reps,"queries":$qs,"sf":"$sfDir"}""")
    println(s"""{"metric":"total","value":$total,"unit":"sec","total_exec":$totalExec,"shared_staging_total":$sharedTotal,"reps":$reps,$calJson,"n_queries":${results.size},"n_failed":${failed.size},"failed":$failedJson,"detail_file":"$detailFile","sf":"$sfDir"}""")
    spark.stop()
  }
}
