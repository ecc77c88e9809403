package graft.queries

import graft.{Staging, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Spectral embedding analysis — PCA's top principal direction by
  * SUFFICIENT STATISTICS plus a fixed-point POWER ITERATION, the
  * dimensionality-reduction member of the vector family (production
  * uses: whitening/compacting embedding stores before ANN, drift
  * diagnostics on the dominant direction, low-rank pre-filters).
  *
  * The scale shape is the regression-by-sufficient-statistics
  * discipline (Relational4) lifted to matrices: ONE corpus pass
  * computes the per-dimension sums (means), ONE explode-aggregate pass
  * computes the centered upper-triangle Gram matrix (d(d+1)/2 = 2,080
  * cells at d=64, map-side combined — never a vector self-join), and
  * everything after runs on broadcast-small 64/2,080-row frames: the
  * spectral solve costs O(d² · iters) independent of corpus size. At
  * 100 TB the corpus contributes exactly two scans.
  *
  * Exact arithmetic (the repo's fixed-point discipline, here for
  * linear algebra): embeddings quantize by floor(x·10⁶); all integer
  * divisions are TRUNCATING toward zero — Spark's `div` and DuckDB's
  * `//` share that semantic even on negative operands (verified:
  * −7//2 = −3 in DuckDB; an assumed floor semantic drifted the means
  * by 1 during development and the hash gate caught it); the Gram
  * matrix rescales by `(max|c| div 10⁶) + 1` so every matrix–vector
  * product stays inside int64 at any corpus size up to the
  * input-audited ~2.3M-vector bound (nRows·(2Q)² ≤ int64, required
  * at build time BEFORE the aggregate can wrap; measured witness: the
  * ×100 rehearsal's 200k-vector train completed in 41 s with the
  * audit holding at ~40× headroom — PLANS.md round 14); three
  * iterations from the all-ones ppm start, renormalized
  * to ≤10⁶ by max-component truncating division. Every step is
  * integer-exact and replayed CTE-for-CTE by the oracle;
  * SpectralSpec adds a third direct-Scala replay (bit-for-bit) AND a
  * quality dial — cosine ≥ 0.99 against a DOUBLE-precision twin of
  * the same 3 iterations, which is what the fixed point claims to
  * track. (Convergence to the true eigenvector is a property of the
  * spectrum, not the arithmetic: the fixture's md5-random embeddings
  * are deliberately isotropic, λ1/λ2 ≈ 1, where no fixed iteration
  * count separates the top direction; production embedding corpora
  * are anisotropic and converge in a few iterations — the spec
  * REPORTS the fixture's flatness readout rather than asserting an
  * unreachable bar.)
  *
  * Reference tie-in: the reference has no vector surface (it delegates
  * analysis to BigQuery, README.md:3); this belongs to the
  * LLM-pipeline extension mandated by the build brief.
  */
object SpectralQueries {

  private val Q = 1000000L   // ppm quantization / normalization target
  private val Iters = 3

  /** Truncating integer division a/b — Spark's `div` and DuckDB's `//`
    * BOTH truncate toward zero (verified on negative operands: −7//2 =
    * −3 in DuckDB), so plain `div` is exact cross-engine parity even
    * for the negative sums embeddings produce. Integral `div` (not
    * `/`): double division would round above 2^53, and the Gram cells
    * reach 3.2e18 at the ×100 bound. */
  private def tdiv(a: Column, b: Column): Column =
    call_function("div", a, b)

  /** The trained artifact `(dim, mean_q, v_ppm)` — per-dimension
    * quantized floor-mean and the iterated direction — built once per
    * (JVM, dir); both queries serve from it (train-once lifecycle). */
  private[graft] def pcaArtifact(s: SparkSession, d: String): DataFrame =
    Staging.frame(s, "pca_v", d) {
      // Round-19 optimization (guide §1.2: remove redundant passes):
      // the trained artifact derives from the PERSISTED full-corpus
      // moment artifact ([[pcaMomentsDir]] "full" — already built once
      // per JVM for the delete roll) through the exact moment identity
      // Σ(x_i−m_i)(x_j−m_j) = S2_ij − m_i·S1_j − m_j·S1_i + n·m_i·m_j
      // (integer-exact; [[artifactFromMoments]]). This is PROVABLY the
      // trained chain's value: vec_pca_update already folds day-1 ∪
      // day-2 moments (= the full corpus) through the same finish and
      // passes the full-corpus trained-chain oracle VERBATIM — an
      // equality the repo has gated since round 16. The old in-lineage
      // path re-scanned the corpus twice more (explode → centered z →
      // collect_list → pair explode); the moment form reads three tiny
      // parquet dirs and runs the same exact solve. The input-derived
      // int64 audits are preserved: pcaMomentsDir audits n·max|x|²
      // before persisting, and artifactFromMoments re-audits the
      // centered bound n·(2·max|x|)² before expanding the Gram.
      val root = pcaMomentsDir(s, d, "full")
      val s1 = s.read.parquet(s"$root/s1")
      val s2 = s.read.parquet(s"$root/s2")
      val n = s.read.parquet(s"$root/cnt").head.getLong(0)
      artifactFromMoments(s1, s2, n, maxAbsOf(s1))
    }

  /** The spectral solve tail shared by the trained artifact and the
    * maintenance rolls: rescale the upper-triangle Gram, mirror it,
    * run the fixed-point power iteration, join the means — everything
    * downstream of the Gram is a deterministic integer function of
    * (means, cov), which is what makes the moment-form maintenance
    * gates exact equalities. */
  private def solveFromCov(means: DataFrame, cov: DataFrame): DataFrame = {
    // margin check on the computed cells (|c| ≤ 3.2e18 at the 800k
    // ×100 bound): NOT an overflow guard — a wrapped sum would pass
    // it — the input-derived require above is the sound audit; this
    // read sizes the rescale and keeps a loud secondary tripwire
    val cmax = cov.agg(max(abs(col("c"))).as("cm")).head.getLong(0)
    require(cmax < Long.MaxValue / 2,
      s"Gram cells at int64 risk: $cmax — requantize (lower Q)")
    val scale = cmax / Q + 1
    val cRed = cov.select(col("i"), col("j"), tdiv(col("c"), lit(scale)).as("c"))
    val cFull = cRed.union(
      cRed.filter(col("i") =!= col("j"))
        .select(col("j").as("i"), col("i").as("j"), col("c")))
      .localCheckpoint()
    var v = cFull.select(col("i").as("j")).distinct()
      .withColumn("v", lit(Q)).localCheckpoint()
    (1 to Iters).foreach { _ =>
      val u = cFull.join(broadcast(v), Seq("j"))
        .groupBy(col("i")).agg(sum(col("c") * col("v")).as("u"))
      val den = u.agg((tdiv(max(abs(col("u"))), lit(Q)) + 1).as("dn"))
      v = u.crossJoin(broadcast(den))
        .select(col("i").as("j"), tdiv(col("u"), col("dn")).as("v"))
        .localCheckpoint()
    }
    means.join(v.withColumnRenamed("j", "i"), Seq("i"))
      .select(col("i").cast("long").as("dim"), col("m").as("mean_q"),
        col("v").as("v_ppm"))
      .localCheckpoint()
  }

  // ---- moment-form maintenance (round 16): the centered Gram is an
  // exact integer function of the UNcentered moments (n, S1, S2) —
  // Σ(x_i−m_i)(x_j−m_j) = S2_ij − m_i·S1_j − m_j·S1_i + n·m_i·m_j with
  // m = S1 div n — and the moments are a GROUP under addition, so the
  // PCA artifact gets update/delete rolls whose gates are equalities
  // against the rebuild chain (the k-means/LM/BM25 algebra, lifted to
  // matrix statistics).

  /** Quantized slice `(vec_id, qx)` — the artifact's own encoding.
    * [[quantizedOf]] is the per-frame form (the streaming roll's
    * micro-batches), factored so the two cannot drift. */
  /** `stream_pca_update`'s per-trigger logging body — named so
    * FoldReplaySpec can re-execute it with a committed batch id and
    * assert the logs unchanged (the foreachBatch replay contract):
    * the batch's S1/S2/count moment contributions write to
    * batch-id-keyed dirs in OVERWRITE mode. */
  private[graft] def pcaUpdateLogBatch(d: String, b: DataFrame, id: Long): Unit = {
    val root = Staging.dir("pcasupd", d)
    val q = quantizedOf(b).localCheckpoint()
    dimMoments(q).write.mode("overwrite").parquet(s"$root/log/s1_b$id")
    upperMoments(q).write.mode("overwrite").parquet(s"$root/log/s2_b$id")
    b.sparkSession.range(1).select(lit(q.count()).as("n"))
      .write.mode("overwrite").parquet(s"$root/log/cnt_b$id")
    ()
  }

  private[graft] def quantizedOf(vecs: DataFrame): DataFrame =
    vecs.select(col("vec_id"),
      expr("transform(embedding, x -> cast(floor(cast(x as double) * 1000000.0) as bigint))")
        .as("qx"))

  private def quantized(s: SparkSession, d: String, where: Column): DataFrame =
    quantizedOf(Tables.embeddings(s, d).filter(where))

  /** Per-dim first moments + measured max|x| of a slice. */
  private def dimMoments(q: DataFrame): DataFrame =
    q.select(posexplode(col("qx")).as(Seq("i", "x")))
      .groupBy(col("i")).agg(sum(col("x")).as("s1"), max(abs(col("x"))).as("ma"))

  /** Upper-triangle UNcentered second moments of a slice. Round-19
    * optimization: the explode-2,080-structs-per-vector → hash-aggregate
    * shape is now ONE keyless [[graft.expressions.UpperGram]] pass — the
    * per-row cost is d(d+1)/2 multiply-adds into a mutable long buffer
    * and the exchange carries one ~16 KB partial buffer per map task
    * instead of 2,080 pre-aggregated rows (guide §2.3/§4; cell values
    * are the identical commutative int64 sums, re-emitted as the same
    * `(i, j, s2)` rows — see UpperGram's scaladoc for the equivalence
    * argument). */
  private[graft] def upperMoments(q: DataFrame): DataFrame =
    q.agg(org.apache.spark.sql.GraftBridge.column(
        graft.expressions.UpperGram(
          org.apache.spark.sql.GraftBridge.expression(col("qx")))
          .toAggregateExpression()).as("g"))
      .select(explode(col("g")).as("t"))
      .select(col("t.i").as("i"), col("t.j").as("j"), col("t.s2").as("s2"))

  /** PERSISTED moment artifact of one slice (`full` — the delete
    * roll's standing base — or `day1`, even vec_ids, the update
    * roll's): s1/(i, s1, ma), s2/(i, j, s2), cnt/(n). The input-derived
    * int64 audit runs BEFORE the product aggregate (uncentered bound
    * n·max|x|² — wider headroom than the centered path's n·(2max|x|)²;
    * the derived-Gram bound is re-audited at merge time). */
  private[graft] def pcaMomentsDir(s: SparkSession, d: String, slice: String): String =
    Staging.onceDir(s, s"pca_mom_$slice", d) { p =>
      val q = (slice match {
        case "full" => quantized(s, d, lit(true))
        case "day1" => quantized(s, d, pmod(col("vec_id"), lit(2L)) === 0)
        case other  => throw new IllegalArgumentException(s"unknown moment slice $other")
      }).localCheckpoint()
      val s1 = dimMoments(q).localCheckpoint()
      val n = q.count()
      val ma = maxAbsOf(s1)
      require(n <= Long.MaxValue / ma / ma,
        s"uncentered Gram sums could exceed int64: $n vectors x max|x|^2 at " +
          s"measured max|x|=$ma - requantize (lower Q) or shard the corpus")
      s1.write.mode("overwrite").parquet(s"$p/s1")
      upperMoments(q).write.mode("overwrite").parquet(s"$p/s2")
      s.range(1).select(lit(n).as("n")).write.mode("overwrite").parquet(s"$p/cnt")
    }

  /** Measured max|x| off a per-dim moment frame (1L floor on empty). */
  private def maxAbsOf(s1: DataFrame): Long = {
    val maRow = s1.agg(max(col("ma"))).head
    if (maRow.isNullAt(0)) 1L else math.max(1L, maRow.getLong(0))
  }

  /** Finish the artifact from (merged) moments: re-derive the
    * truncated means, expand the centered Gram exactly, and run the
    * shared solve — bit-identical to training on the merged corpus
    * because every step is the same deterministic integer function. */
  private def artifactFromMoments(s1: DataFrame, s2: DataFrame, n: Long, ma: Long): DataFrame = {
    require(n > 0, "maintenance roll left an empty corpus")
    // the derived centered cells obey the trained path's bound
    // n·(2·max|x|)², and each expansion term is ≤ n·max|x|² — divide
    // sequentially exactly as the trained audit does
    require(n <= Long.MaxValue / 4L / ma / ma,
      s"Gram sums could exceed int64: $n vectors x (2*max|x|)^2 at " +
        s"measured max|x|=$ma - requantize (lower Q) or shard the corpus")
    val dims = s1.select(col("i"), col("s1"), tdiv(col("s1"), lit(n)).as("m"))
    val means = dims.select(col("i"), col("m"))
    val cov = s2
      .join(broadcast(dims.select(col("i"), col("s1").as("s1i"), col("m").as("mi"))), Seq("i"))
      .join(broadcast(dims.select(col("i").as("j"), col("s1").as("s1j"), col("m").as("mj"))), Seq("j"))
      .select(col("i"), col("j"),
        (col("s2") - col("mi") * col("s1j") - col("mj") * col("s1i")
          + lit(n) * col("mi") * col("mj")).as("c"))
      .localCheckpoint()
    solveFromCov(means, cov)
  }

  /** The UPDATED artifact: day-2 (odd vec_id) moments folded into the
    * re-read day-1 parquet by plain addition, then the shared finish —
    * gate is vec_pca_power's full-corpus oracle VERBATIM. */
  private[graft] def updatedPcaArtifact(s: SparkSession, d: String): DataFrame =
    Staging.frame(s, "pca_upd", d) {
      val root = pcaMomentsDir(s, d, "day1")
      val q2 = quantized(s, d, pmod(col("vec_id"), lit(2L)) === 1).localCheckpoint()
      val s1B = dimMoments(q2).localCheckpoint()
      val s1A = s.read.parquet(s"$root/s1")
      val n = s.read.parquet(s"$root/cnt").head.getLong(0) + q2.count()
      val ma = math.max(maxAbsOf(s1A), maxAbsOf(s1B))
      require(n <= Long.MaxValue / ma / ma,
        s"uncentered Gram sums could exceed int64 at merge: $n x max|x|=$ma")
      val s1 = s1A.select(col("i"), col("s1")).unionByName(s1B.select(col("i"), col("s1")))
        .groupBy("i").agg(sum("s1").as("s1"))
      val s2 = s.read.parquet(s"$root/s2").unionByName(upperMoments(q2))
        .groupBy("i", "j").agg(sum("s2").as("s2"))
      artifactFromMoments(s1, s2, n, ma)
    }

  /** Tombstone residue of the PCA forget roll: vec_id ≡ 3 (mod 10). */
  private[graft] val PcaTombMod = 10L
  private[graft] val PcaTombRes = 3L

  /** The DELETED artifact: tombstone moments (one O(tombstones) pass)
    * SUBTRACTED from the re-read full parquet — gate is the rebuild
    * chain over survivors, an exact equality (survivor max|x| is not
    * subtractable, so the audit soundly bounds it by the standing
    * artifact's measured max). */
  private[graft] def deletedPcaArtifact(s: SparkSession, d: String): DataFrame =
    Staging.frame(s, "pca_del", d) {
      val root = pcaMomentsDir(s, d, "full")
      val qT = quantized(s, d,
        pmod(col("vec_id"), lit(PcaTombMod)) === PcaTombRes).localCheckpoint()
      val s1T = dimMoments(qT)
      val s1F = s.read.parquet(s"$root/s1")
      val n = s.read.parquet(s"$root/cnt").head.getLong(0) - qT.count()
      val ma = maxAbsOf(s1F)
      val s1 = s1F.select(col("i"), col("s1"))
        .unionByName(s1T.select(col("i"), negate(col("s1")).as("s1")))
        .groupBy("i").agg(sum("s1").as("s1"))
      val s2 = s.read.parquet(s"$root/s2")
        .unionByName(upperMoments(qT).select(col("i"), col("j"), negate(col("s2")).as("s2")))
        .groupBy("i", "j").agg(sum("s2").as("s2"))
      artifactFromMoments(s1, s2, n, ma)
    }

  // ---- oracle: the identical chain in DuckDB (`//` truncates toward
  // zero exactly like Spark's `div`; iterations unrolled from the same
  // constants — cannot drift)

  private def chainSql: String = chainSqlWhere("TRUE")

  /** The chain with a parameterized corpus slice — the delete roll's
    * rebuild oracle trains on survivors only; everything downstream of
    * `e` is shared verbatim. */
  private def chainSqlWhere(where: String): String = {
    def iter(k: Int): String = {
      val pv = if (k == 1) "v0" else s"v${k - 1}"
      s"""
u$k AS (SELECT cf.i, CAST(sum(cf.c * $pv.v) AS BIGINT) AS u FROM cf JOIN $pv ON $pv.j = cf.j GROUP BY 1),
d$k AS (SELECT (max(abs(u)) // $Q) + 1 AS dn FROM u$k),
v$k AS (SELECT i AS j, CAST(u // dn AS BIGINT) AS v FROM u$k, d$k)"""
    }
    raw"""
WITH e AS (SELECT vec_id, [CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT) for x in embedding] AS qx FROM embeddings WHERE $where),
nn AS (SELECT count(*) AS n FROM e),
exp AS (SELECT vec_id, CAST(unnest(range(0, len(qx))) AS INT) AS i, qx FROM e),
vals AS (SELECT vec_id, i, qx[i + 1] AS x FROM exp),
means AS (SELECT i, CAST(sum(x) AS BIGINT) AS sx FROM vals GROUP BY i),
mm AS (SELECT i, CAST(sx // n AS BIGINT) AS m FROM means, nn),
zv AS (SELECT vec_id, vals.i, x - m AS z FROM vals JOIN mm ON mm.i = vals.i),
cov AS (SELECT a.i AS i, b.i AS j, CAST(sum(a.z * b.z) AS BIGINT) AS c
        FROM zv a JOIN zv b ON b.vec_id = a.vec_id AND b.i >= a.i GROUP BY 1, 2),
sc AS (SELECT (max(abs(c)) // $Q) + 1 AS s FROM cov),
cr AS (SELECT i, j, CAST(c // s AS BIGINT) AS c FROM cov, sc),
cf AS (SELECT i, j, c FROM cr UNION ALL SELECT j AS i, i AS j, c FROM cr WHERE i <> j),
v0 AS (SELECT DISTINCT i AS j, CAST($Q AS BIGINT) AS v FROM cf),${(1 to Iters).map(iter).mkString(",")}"""
  }

  val defs: Seq[QueryDef] = Seq(

    // The trained spectral artifact: per-dimension quantized floor-mean
    // and the iterated principal direction in ppm.
    QueryDef("vec_pca_power", Some(chainSql + s"""
      SELECT CAST(mm.i AS BIGINT) AS dim, mm.m AS mean_q, v$Iters.v AS v_ppm
      FROM mm JOIN v$Iters ON v$Iters.j = mm.i ORDER BY dim""")) { (s, d) =>
      pcaArtifact(s, d).orderBy(col("dim"))
    },

    // The deployment half: every vector's exact integer projection onto
    // the trained direction — one broadcast join against the 64-row
    // artifact, a single corpus pass (the map-side re-encode shape of
    // vec_quantize_int8).
    QueryDef("vec_pca_project", Some(chainSql + s"""
      , pj AS (SELECT vec_id, CAST(sum((x - m) * v) AS BIGINT) AS proj
               FROM vals JOIN mm ON mm.i = vals.i
               JOIN v$Iters ON v$Iters.j = vals.i
               GROUP BY 1)
      SELECT vec_id, proj FROM pj ORDER BY vec_id""")) { (s, d) =>
      val art = pcaArtifact(s, d)
        .select(col("dim").cast("int").as("i"), col("mean_q"), col("v_ppm"))
      // explode RAW, quantize the scalar element (round 19, session 4):
      // posexplode directly over the quantize transform made
      // InferFiltersFromGenerate plant size(transform(..)) > 0 AND
      // isnotnull(transform(..)) — the 64-element interpreted lambda
      // evaluated three times per row. Element-wise the same floor
      // expression, and the generate's inferred guard now lands on the
      // raw scan column; the lambda is gone entirely.
      Tables.embeddings(s, d)
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "xr")))
        .select(col("vec_id"), col("i"),
          expr("cast(floor(cast(xr as double) * 1000000.0) as bigint)").as("x"))
        .join(broadcast(art), Seq("i"))
        .groupBy(col("vec_id"))
        .agg(sum((col("x") - col("mean_q")) * col("v_ppm")).as("proj"))
        .orderBy(col("vec_id"))
    },

    /** Artifact MAINTENANCE — PCA joins the maintained roster in
      * MOMENT form (the LM's count-form move, lifted to matrix
      * statistics): day-1 (even vec_id) uncentered moments persist
      * once; day-2 folds in by plain integer addition, the centered
      * Gram re-expands exactly from the merged (n, S1, S2), and the
      * shared solve runs — BIT-identical to training on the full
      * corpus, so the gate is vec_pca_power's oracle VERBATIM. The
      * nightly roll reads the day's vectors and a d + d(d+1)/2-row
      * parquet — never the standing corpus. */
    QueryDef("vec_pca_update", Some(chainSql + s"""
      SELECT CAST(mm.i AS BIGINT) AS dim, mm.m AS mean_q, v$Iters.v AS v_ppm
      FROM mm JOIN v$Iters ON v$Iters.j = mm.i ORDER BY dim""")) { (s, d) =>
      updatedPcaArtifact(s, d).orderBy(col("dim"))
    },

    /** ONLINE moment roll (round 18) — `vec_pca_update`'s streaming
      * twin, extending the streaming-maintenance matrix to the
      * spectral family: day-2 vectors arrive as TWO real
      * micro-batches, each trigger reduces its batch to UNcentered
      * moments (per-dim S1 + upper-triangle S2 + count — one O(batch)
      * pass) into batch-id-keyed idempotent log dirs; the standing
      * day-1 moment parquet is NEVER read in-stream. ONE post-drain
      * fold sums day-1 ∪ logged moments (a commutative GROUP — the
      * micro-batch split provably cannot change any cell), re-audits
      * the int64 Gram bound at the merged count, expands the centered
      * Gram exactly, and re-runs the shared solve. Output IS the
      * updated artifact, so the batch twin's full-corpus rebuild
      * oracle (shared VERBATIM) is itself the complete stream==batch
      * gate — no separate artifact spec is needed. */
    QueryDef("stream_pca_update", Some(chainSql + s"""
      SELECT CAST(mm.i AS BIGINT) AS dim, mm.m AS mean_q, v$Iters.v AS v_ppm
      FROM mm JOIN v$Iters ON v$Iters.j = mm.i ORDER BY dim""")) { (s, d) =>
      import graft.streaming.OnlineFold
      val day1Root = pcaMomentsDir(s, d, "day1")
      val root = OnlineFold.freshRoot(s, "pcasupd", d)
      val inTmpl = OnlineFold.stage(s, "pcasupd_in", d) {
        val day2 = Tables.embeddings(s, d)
          .filter(pmod(col("vec_id"), lit(2L)) === 1)
        Seq(day2.filter(pmod(col("vec_id"), lit(4L)) === 1),
            day2.filter(pmod(col("vec_id"), lit(4L)) === 3))
      }
      OnlineFold.drain(s, root, inTmpl)(pcaUpdateLogBatch(d, _, _))
      // the one fold: moment addition + the shared exact finish
      val s1A = s.read.parquet(s"$day1Root/s1")
      val s1B = OnlineFold.readLogs(s, s"$root/log/s1_b*", "i INT, s1 LONG, ma LONG")
      val n = s.read.parquet(s"$day1Root/cnt").head.getLong(0) +
        OnlineFold.readLogs(s, s"$root/log/cnt_b*", "n LONG")
          .agg(sum(col("n"))).head.getLong(0)
      val ma = math.max(maxAbsOf(s1A), maxAbsOf(s1B))
      require(n <= Long.MaxValue / ma / ma,
        s"uncentered Gram sums could exceed int64 at merge: $n x max|x|=$ma")
      val s1 = s1A.select(col("i"), col("s1"))
        .unionByName(s1B.select(col("i"), col("s1")))
        .groupBy("i").agg(sum("s1").as("s1"))
      val s2 = s.read.parquet(s"$day1Root/s2")
        .unionByName(OnlineFold.readLogs(s, s"$root/log/s2_b*", "i INT, j INT, s2 LONG"))
        .groupBy("i", "j").agg(sum("s2").as("s2"))
      artifactFromMoments(s1, s2, n, ma).orderBy(col("dim"))
    },

    /** Artifact FORGETTING — tombstoned vectors (vec_id ≡ 3 mod 10)
      * leave by moment SUBTRACTION (one O(tombstones) pass), the means
      * and centered Gram re-derive exactly, and the solve reruns: the
      * principal direction provably retains NOTHING of the forgotten
      * vectors, because subtract == retrain bit-for-bit — the oracle
      * replays the rebuild chain over survivors and the gate is an
      * EQUALITY (the sixth delete mechanism, the third exact one). */
    QueryDef("vec_pca_delete", Some(
      chainSqlWhere(s"vec_id % $PcaTombMod <> $PcaTombRes") + s"""
      SELECT CAST(mm.i AS BIGINT) AS dim, mm.m AS mean_q, v$Iters.v AS v_ppm
      FROM mm JOIN v$Iters ON v$Iters.j = mm.i ORDER BY dim""")) { (s, d) =>
      deletedPcaArtifact(s, d).orderBy(col("dim"))
    },
  )
}
