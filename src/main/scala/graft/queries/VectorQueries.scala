package graft.queries

import graft.Tables
import graft.functions.VectorFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding similarity search over the `embeddings` fixture.
  *
  * `sim_cosine_topk` is the exact brute-force baseline: a small query
  * set broadcast against all candidates (at 100 TB the candidate side
  * streams; the query side stays broadcast — no shuffle). `sim_ann_lsh`
  * is the scale path: random-hyperplane buckets turn the cross join
  * into an equi-join on the bucket key.
  *
  * Shared helpers: every query reads the quantized corpus through
  * [[ivfCorpus]]; every exact re-rank, probe list and candidate pool
  * ranks through [[cosineTopK]] (the IVFADC serve ranks on the driver
  * with the bounded top-k kernel, see [[VectorQueries2.ivfpqServe]]);
  * and the three ANN recall dials share one tail, [[recallAt5]].
  *
  * Parity: int64-quantized components (see VectorFunctions) make dot
  * products exact integers in both engines; cosine then divides
  * identical numbers.
  */
object VectorQueries {

  private val oracleTopk = """
    WITH v AS (SELECT vec_id,
                 list_transform(CAST(embedding AS DOUBLE[]), x -> CAST(round(x * 1000000) AS BIGINT)) AS q
               FROM embeddings),
    n AS (SELECT vec_id, q, list_sum(list_transform(list_zip(q, q), s -> s[1] * s[2])) AS n2 FROM v),
    p AS (SELECT a.vec_id AS q_id, b.vec_id AS vec_id,
            CAST(list_sum(list_transform(list_zip(a.q, b.q), s -> s[1] * s[2])) AS DOUBLE)
              / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) AS cosine
          FROM n a JOIN n b ON b.vec_id != a.vec_id
          WHERE a.vec_id < 5),
    r AS (SELECT q_id, vec_id, cosine,
            row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rnk
          FROM p)
    SELECT q_id, vec_id, CAST(rnk AS BIGINT) AS rnk, round(cosine, 6) AS cosine
    FROM r WHERE rnk <= 5 ORDER BY q_id, rnk"""

  /** sim_ann_lsh index shape: `lshTables` tables, each hashing a
    * disjoint `lshBits`-dim slice (dims t*bits .. t*bits+bits-1) to an
    * axis-sign bucket. 12 x 4 covers dims 0-47 of the 64-dim fixture
    * and measures recall@5 = 0.88 vs brute force (QueriesSpec asserts
    * the 0.8 floor); both the Spark side and the generated oracle CASE
    * chains derive from these two constants, so they cannot drift. */
  val lshTables = 12
  val lshBits = 4

  /** DuckDB twin of the banded exploded index: one SELECT per table,
    * MSB-first CASE chain per bucket — generated from the same
    * (lshTables, lshBits) the Spark side uses. */
  private def lshOracleBanded: String =
    (0 until lshTables).map { t =>
      val bexpr = (0 until lshBits).map { i =>
        s"(CASE WHEN q[${t * lshBits + i + 1}] >= 0 THEN ${1L << (lshBits - 1 - i)} ELSE 0 END)"
      }.mkString(" + ")
      s"SELECT vec_id, $t AS t, $bexpr AS b FROM n"
    }.mkString(" UNION ALL ")

  /** DuckDB twin of the full LSH ANN query — shared between
    * `sim_ann_lsh` and the `sim_ann_recall` quality dial. */
  private def oracleAnnLsh: String = s"""
      WITH v AS (SELECT vec_id,
                   list_transform(CAST(embedding AS DOUBLE[]), x -> CAST(round(x * 1000000) AS BIGINT)) AS q
                 FROM embeddings),
      n AS (SELECT vec_id, q,
              list_sum(list_transform(list_zip(q, q), s -> s[1] * s[2])) AS n2
            FROM v),
      banded0 AS ($lshOracleBanded),
      banded AS (SELECT * FROM banded0
                 QUALIFY row_number() OVER (PARTITION BY t, b ORDER BY vec_id) <= 1000),
      cand AS (SELECT DISTINCT q.vec_id AS q_id, a.vec_id
               FROM banded a JOIN banded q ON a.t = q.t AND a.b = q.b
               WHERE q.vec_id < 5 AND a.vec_id != q.vec_id),
      scored AS (SELECT c.q_id, c.vec_id,
              CAST(list_sum(list_transform(list_zip(qa.q, vb.q), s -> s[1] * s[2])) AS DOUBLE)
                / (sqrt(CAST(qa.n2 AS DOUBLE)) * sqrt(CAST(vb.n2 AS DOUBLE))) AS cosine
            FROM cand c JOIN n qa ON qa.vec_id = c.q_id JOIN n vb ON vb.vec_id = c.vec_id),
      r AS (SELECT q_id, vec_id, cosine,
              row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rnk
            FROM scored)
      SELECT q_id, vec_id, CAST(rnk AS BIGINT) AS rnk, round(cosine, 6) AS cosine
      FROM r WHERE rnk <= 5 ORDER BY q_id, rnk"""

  /** The LSH ANN pipeline (the `sim_ann_lsh` body) — shared with
    * `sim_ann_recall`. */
  private def annLsh(s: SparkSession, d: String): DataFrame = {
    val v = ivfCorpus(s, d)
    val banded = graft.operators.ScaleOps.capBuckets(
      v.select(col("vec_id"), col("q"), col("n2"), explode(array(
        (0 until lshTables).map(t => struct(lit(t).as("t"),
          axisSignBucket(col("q"), t * lshBits until (t + 1) * lshBits).as("b"))): _*)).as("tb"))
        .select(col("vec_id"), col("q"), col("n2"),
          col("tb.t").as("t"), col("tb.b").as("b")),
      Seq("t", "b"), "vec_id", cap = 1000)
    val queries = banded.filter(col("vec_id") < 5)
      .select(col("t"), col("b"), col("vec_id").as("q_id"), col("q").as("qq"), col("n2").as("qn2"))
    // score BEFORE the cross-table dedup: a dedup first carries the q/qq
    // arrays through first() aggregates — array buffers fail the
    // hash-aggregate buffer check (the ArgMaxBy lesson), so it plans as
    // TWO SortAggregates sorting every candidate WITH its payload.
    // Cosine is a pure function of the (q_id, vec_id) pair, identical
    // across its ≤12 table duplicates, so scoring first is
    // value-identical while the dedup shuffles three narrow columns
    // through a map-side-combined HashAggregate (guide §2.3: shuffle
    // keys and metadata, not payloads — the candidate stream is the
    // cost center of LSH ANN serving at scale).
    served(banded.join(queries, Seq("t", "b"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cosine",
        cosineFromQ(qdot(col("q"), col("qq")), col("n2"), col("qn2")))
      .select(col("q_id"), col("vec_id"), col("cosine"))
      .dropDuplicates("q_id", "vec_id"))
  }

  /** The vector family's cosine top-k: per `group`, rank by `cosine`
    * descending as Spark orders doubles (NaN largest, nulls last), ties
    * to the lowest `id`, keep `k` and number them `rnk` as a long — the
    * oracles' `row_number() OVER (PARTITION BY group ORDER BY cosine
    * DESC, id)`. */
  private[queries] def cosineTopK(scored: DataFrame, group: String, id: String,
      k: Int): DataFrame = {
    val w = Window.partitionBy(col(group)).orderBy(col("cosine").desc, col(id))
    scored.withColumn("rnk", row_number().over(w).cast("long")).filter(col("rnk") <= k)
  }

  /** The judged top-5 `(q_id, vec_id, rnk, round(cosine, 6))` of scored
    * `(q_id, vec_id, cosine)` candidates, ordered by (q_id, rnk). */
  private def served(scored: DataFrame): DataFrame =
    cosineTopK(scored, "q_id", "vec_id", 5)
      .select(col("q_id"), col("vec_id"), col("rnk"), round(col("cosine"), 6).as("cosine"))
      .orderBy(col("q_id"), col("rnk"))

  /** Every vector of `v(vec_id, q, n2)` scored by `cosine` against each
    * query vector (vec_id < 5, under `q_id`) other than itself. */
  private[queries] def queryPairs(v: DataFrame): DataFrame = {
    val queries = v.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("q").as("qq"), col("n2").as("qn2"))
    v.join(broadcast(queries), col("vec_id") =!= col("q_id"))
      .withColumn("cosine",
        cosineFromQ(qdot(col("q"), col("qq")), col("n2"), col("qn2")))
  }

  /** Exact brute-force top-5 (the `sim_cosine_topk` body) — shared so
    * the recall dials measure recall against the SAME baseline the
    * judged exact query emits. */
  private[queries] def exactTopk(s: SparkSession, d: String): DataFrame =
    served(queryPairs(ivfCorpus(s, d)))

  /** The nprobe depths the IVF and IVFADC recall dials evaluate. */
  private[queries] val dialProbes = Seq(1, 2, 4)

  /** The recall tail of the three ANN dials: recall@5 of the ANN hits
    * `ann(q_id, vec_id)` against [[exactTopk]]. Each exact neighbour
    * left-joins to the hits and each query counts its hits. With
    * `nprobes`, `ann` also carries the `nprobe` it was served at, and
    * each depth is counted against the same exact set, per
    * (nprobe, q_id). */
  private[queries] def recallAt5(s: SparkSession, d: String, ann: DataFrame,
      nprobes: Seq[Int] = Nil): DataFrame = {
    import s.implicits._
    val keys = (if (nprobes.isEmpty) Nil else Seq("nprobe")) :+ "q_id"
    val ex = exactTopk(s, d).select(col("q_id"), col("vec_id"))
    val exact =
      if (nprobes.isEmpty) ex else broadcast(nprobes.map(_.toLong).toDF("nprobe")).crossJoin(ex)
    val hit = keys :+ "vec_id"
    exact.join(ann.select(hit.map(c => col(c).as(s"a_$c")): _*),
        hit.map(c => col(s"a_$c") === col(c)).reduce(_ && _), "left")
      .groupBy(keys.map(col): _*).agg(count(col("a_vec_id")).as("n_hits"))
      .select(keys.map(col) ++ Seq(col("n_hits"),
        round(col("n_hits").cast("double") / 5, 6).as("recall_at_5")): _*)
      .orderBy(keys.map(col): _*)
  }

  /** Embedding near-dup candidate pairs `(id_a, id_b, cosine)` (id_a <
    * id_b, deduped across bands, NO similarity threshold — callers
    * filter) over any `(vec_id, q)` quantized input. Blocking is 4
    * banded 4-bit axis-sign tables over disjoint dim slices: the
    * planted-pair dial measured 0.45 recall for the single dims-0-3 table
    * on planted cosine-0.89 near-dups (one near-zero component flips
    * its sign and the pair never meets) vs 0.9 banded. Shared by
    * `dedup_embedding_cosine` and `dedup_embedding_recall`. */
  private def cosinePairs(vecs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val v = vecs.withColumn("n2", qdot(col("q"), col("q")))
    val bandKeys = (0 until 4).map(t => axisSignBucket(col("q"), 4 * t until 4 * t + 4))
    val banded = graft.operators.ScaleOps.capBuckets(
      v.select(col("vec_id"), col("q"), col("n2"),
        posexplode(array(bandKeys: _*)).as(Seq("band", "bucket"))),
      Seq("band", "bucket"), "vec_id", cap = 1000)
    val a = banded.select(col("band"), col("bucket"), col("vec_id").as("id_a"),
      col("q").as("q_a"), col("n2").as("n2_a"))
    val b = banded.select(col("band"), col("bucket"), col("vec_id").as("id_b"),
      col("q").as("q_b"), col("n2").as("n2_b"))
    a.join(b, Seq("band", "bucket")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        cosineFromQ(qdot(col("q_a"), col("q_b")), col("n2_a"), col("n2_b")).as("cosine"))
      .dropDuplicates("id_a", "id_b")
  }

  /** DuckDB twin of [[cosinePairs]]: CTE chain ending in `p` over a
    * `(vec_id, q)` CTE. */
  private def cosinePairsSql(vecsCte: String): String = s"""
      n0 AS (SELECT vec_id, q, list_sum(list_transform(list_zip(q, q), s -> s[1] * s[2])) AS n2
             FROM $vecsCte),
      bands AS (SELECT vec_id, q, n2, b AS band,
                  CAST(list_sum(list_transform(range(0, 4), j ->
                    CASE WHEN q[4 * b + j + 1] >= 0 THEN (8 >> j) ELSE 0 END)) AS BIGINT) AS bucket
                FROM n0 CROSS JOIN range(0, 4) AS t(b)),
      capped AS (SELECT * FROM bands
                 QUALIFY row_number() OVER (PARTITION BY band, bucket ORDER BY vec_id) <= 1000),
      p AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
              CAST(list_sum(list_transform(list_zip(a.q, b.q), s -> s[1] * s[2])) AS DOUBLE)
                / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) AS cosine
            FROM capped a JOIN capped b
              ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id)"""

  /** Lloyd iterations for the coarse quantizers: the seeds (vec_id < k)
    * INITIALIZE k-means and `kmeansIters` Lloyd rounds refine them.
    * Spherical k-means: assignment by max cosine (ties → lowest c_id),
    * update = per-dimension integer mean of the assigned vectors —
    * cosine is scale-invariant, so the unnormalized integer mean IS the
    * spherical centroid direction, and staying in int64 keeps the whole
    * loop bit-identical to the DuckDB oracle ([[lloydSql]] mirrors
    * every round). Cross-engine floor division `(sv - ((sv % cnt + cnt)
    * % cnt)) div cnt` avoids the truncate-vs-floor divergence on
    * negative sums (both engines' `%` truncates toward zero). An empty
    * cluster drops out of the codebook identically in both engines
    * (deterministic, no re-seeding).
    *
    * Scale shape: the codebook is k·d longs held on the driver, and
    * each round is ONE job — a per-partition fold (see [[lloydFold]])
    * that assigns every vector with the same nearest-centroid kernel
    * serving uses and adds it into k count and k·d sum cells; the
    * driver merges the per-partition cells and takes the floor-mean.
    * Nothing shuffles and no corpus row is multiplied by k (the MLlib
    * KMeans shape). It is exact because assignment is a pure function
    * of (vector, codebook) and int64 addition is associative and
    * commutative (with overflow raising, as ANSI `sum` does), so the
    * partitioning cannot change a cell. Iteration count is a cost dial,
    * not a plan change. */
  val kmeansIters = 2

  /** A driver-held codebook entry: centroid id, vector, exact squared norm. */
  private[queries] final case class Centroid(id: Long, v: Array[Long], n2: Long)

  /** A centroid with its squared norm summed as [[qdot]] sums it. */
  private[queries] def centroid(id: Long, v: Array[Long]): Centroid =
    Centroid(id, v, v.foldLeft(0L)((n2, x) => n2 + x * x))

  private[queries] def floorMean(sv: Long, cnt: Long): Long =
    Math.subtractExact(sv, Math.addExact(sv % cnt, cnt) % cnt) / cnt

  /** Lloyd training over `in(key: int, vec_id, vec, n2)`, one codebook per
    * key (the PQ subspace; a single key for the coarse quantizers):
    * seeds = vec_id < k, then [[kmeansIters]] fold rounds. Returns each
    * key's centroids in c_id order. */
  private def lloydTrain(in: DataFrame, k: Int, l2: Boolean): Map[Int, Array[Centroid]] = {
    var books = in.filter(col("vec_id") < k).collect().toSeq
      .map { r =>
        require(!r.isNullAt(0) && !r.isNullAt(2) && !r.isNullAt(3),
          s"Lloyd seed ${r.get(1)}: null key, vector or norm")
        r.getInt(0) -> Centroid(r.getLong(1), r.getSeq[Long](2).toArray, r.getLong(3))
      }
      .groupBy(_._1).map { case (key, cs) => key -> cs.map(_._2).sortBy(_.id).toArray }
    val rows = in.select(col("key"), col("vec"), col("n2"))
    val ansi = in.sparkSession.sessionState.conf.ansiEnabled
    for (_ <- 0 until kmeansIters) books = lloydFold(rows, books, l2, ansi)
    books
  }

  /** One Lloyd round as one job: each partition assigns its rows of
    * `rows(key, vec, n2)` against the driver-held `books` (rows of a key
    * without a codebook drop out, as the oracle's join on the key drops
    * them) and adds them into per-(key, cluster) counts and exact
    * per-dimension sums; the driver merges the folds and floor-means.
    * The vector width is each codebook's; a vector of another width or
    * with a null element fails the job. */
  private def lloydFold(rows: DataFrame, books: Map[Int, Array[Centroid]], l2: Boolean,
      ansi: Boolean): Map[Int, Array[Centroid]] = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeArrayData}
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val keys = books.keys.toArray.sorted
    val cents = keys.map(books)
    val widths = cents.map { cs =>
      val d = cs.head.v.length
      require(cs.forall(_.v.length == d),
        s"Lloyd codebook with mixed widths: ${cs.map(_.v.length).distinct.mkString(", ")}")
      d
    }
    val folds = rows.queryExecution.toRdd.mapPartitions { it =>
      val slot = keys.zipWithIndex.toMap
      val cbs = cents.map(cs => new GenericArrayData(cs.map(c =>
        new GenericInternalRow(Array[Any](c.id, UnsafeArrayData.fromPrimitiveArray(c.v), c.n2))): Array[Any]))
      val cnt = cents.map(cs => new Array[Long](cs.length))
      val sum = cents.indices.map(b => new Array[Long](cents(b).length * widths(b))).toArray
      it.foreach { r: InternalRow =>
        if (!r.isNullAt(0)) slot.get(r.getInt(0)).foreach { b =>
          require(!r.isNullAt(1) && !r.isNullAt(2), "Lloyd fold: null vector or norm")
          val v = r.getArray(1)
          val c = graft.expressions.NearestCentroidKernel.pick(v, r.getLong(2), cbs(b), l2, ansi)
          require(c >= 0, "Lloyd fold: a vector scored against no centroid")
          cnt(b)(c) += 1
          val d = widths(b)
          val sb = sum(b)
          var i = 0
          while (i < d) {
            require(!v.isNullAt(i), "Lloyd fold: null vector element")
            sb(c * d + i) = Math.addExact(sb(c * d + i), v.getLong(i))
            i += 1
          }
        }
      }
      Iterator.single((cnt, sum))
    }.collect()
    keys.indices.map { b =>
      val d = widths(b)
      val cs = cents(b).indices.flatMap { c =>
        val n = folds.map(_._1(b)(c)).sum
        if (n == 0) None
        else Some(centroid(cents(b)(c).id, Array.tabulate(d) { i =>
          floorMean(folds.map(_._2(b)(c * d + i)).reduce(Math.addExact(_, _)), n)
        }))
      }
      keys(b) -> cs.toArray
    }.filter(_._2.nonEmpty).toMap
  }

  /** A driver-held codebook as a local relation of `key` columns +
    * `(c_id, vec, n2)` under the given names. */
  private[queries] def codebookFrame(s: SparkSession, books: Map[Int, Array[Centroid]],
      keyCol: Option[String], vecCol: String, n2Col: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(keyCol.map(StructField(_, IntegerType)).toSeq ++ Seq(
      StructField("c_id", LongType), StructField(vecCol, ArrayType(LongType)),
      StructField(n2Col, LongType)))
    val rows = books.toSeq.sortBy(_._1).flatMap { case (key, cs) =>
      cs.map(c => Row.fromSeq(keyCol.map(_ => key).toSeq ++ Seq(c.id, c.v.toSeq, c.n2)))
    }
    s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** k-means codebook `(c_id, cq, cn2)` over `(vec_id, q, n2)`: seeds =
    * vec_id < k, refined by [[kmeansIters]] Lloyd rounds; a driver-held
    * local relation. */
  private[queries] def lloydCentroids(v: DataFrame, k: Int): DataFrame =
    codebookFrame(v.sparkSession,
      lloydTrain(v.select(lit(0).as("key"), col("vec_id"), col("q").as("vec"), col("n2")), k, l2 = false),
      None, "cq", "cn2")

  /** One row `cb` holding the codebook `cents(c_id, <vec>, <n2>)` as the
    * `array<struct<c_id, vec, n2>>` the nearest-centroid kernel reads,
    * per `keys` group (none: a single row; an empty codebook: no row, so
    * a cross join against it is empty, as against the codebook rows).
    * Entries keep the codebook's row order. A codebook has k rows, so
    * the rows are grouped on the driver and returned as a local relation:
    * a driver-held codebook costs no job, a stored one one scan. */
  private[queries] def codebookRows(cents: DataFrame, keys: Seq[String],
      vec: String, n2: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{ArrayType, StructField, StructType}
    val entries = cents.select(keys.map(col) :+
      struct(col("c_id"), col(vec).as("vec"), col(n2).as("n2")).as("e"): _*)
    val rows = entries.collect().toSeq.groupBy(r => keys.indices.map(r.get)).toSeq
      .map { case (key, es) => Row.fromSeq(key :+ es.map(_.getStruct(keys.length))) }
    val schema = StructType(entries.schema.fields.take(keys.length) :+
      StructField("cb", ArrayType(entries.schema("e").dataType, containsNull = false)))
    cents.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** DuckDB twin of [[lloydCentroids]]: CTE chain over an existing
    * `n(vec_id, q, n2)` CTE, ending in `c(c_id, cq, cn2)`. `dims` is
    * the fixture's embedding width. */
  private[queries] def lloydSql(k: Int, dims: Int = 64): String = {
    val init = s"""
      kc0 AS (SELECT vec_id AS c_id, q AS cq, n2 AS cn2 FROM n WHERE vec_id < $k)"""
    val rounds = (1 to kmeansIters).map { i =>
      val prev = s"kc${i - 1}"
      s"""
      kg$i AS (SELECT vec_id, c_id AS cluster FROM (
                SELECT n.vec_id, c.c_id, row_number() OVER (PARTITION BY n.vec_id ORDER BY
                  CAST(list_sum(list_transform(list_zip(n.q, c.cq), s -> s[1] * s[2])) AS DOUBLE)
                    / (sqrt(CAST(n.n2 AS DOUBLE)) * sqrt(CAST(c.cn2 AS DOUBLE))) DESC, c.c_id) AS rn
                FROM n, $prev c) WHERE rn = 1),
      ks$i AS (SELECT g.cluster, t.i AS pos, sum(n.q[t.i + 1]) AS sv, count(*) AS cnt
               FROM kg$i g JOIN n ON n.vec_id = g.vec_id CROSS JOIN range(0, $dims) AS t(i)
               GROUP BY 1, 2),
      kc$i AS (SELECT c_id, cq, list_sum(list_transform(list_zip(cq, cq), s -> s[1] * s[2])) AS cn2
               FROM (SELECT cluster AS c_id,
                       list(CAST((sv - ((sv % cnt + cnt) % cnt)) / cnt AS BIGINT) ORDER BY pos) AS cq
                     FROM ks$i GROUP BY 1))"""
    }.mkString(",")
    s"$init,$rounds,\n      c AS (SELECT * FROM kc$kmeansIters)"
  }

  /** Quantized corpus `(vec_id, q, n2)` — the one corpus frame of the
    * vector family: the exact, LSH, IVF, PQ and IVFADC queries, MMR and
    * the dense retrieval leg all read it. */
  private[queries] def ivfCorpus(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), quantize(col("embedding")).as("q"))
      .withColumn("n2", qdot(col("q"), col("q")))

  /** The FULL-corpus coarse codebook (k=8, Lloyd-refined), trained
    * ONCE per JVM and shared by every consumer of the standing index —
    * ivf_recall, the persisted/streaming serve twins, semantic dedup,
    * and the whole IVFADC family (otherwise seven queries each retrain
    * the identical codebook). Pure function of
    * sfDir — exactly Staging.frame's contract; `sim_ann_ivf` remains
    * the one deliberately UNshared query, so every run still witnesses
    * the full in-lineage training chain end-to-end, and every shared
    * consumer hash-gates the memoized artifact against oracles that
    * recompute the training from scratch. This is the production
    * lifecycle: one training job, many serving surfaces. */
  private[queries] def sharedCoarse(s: SparkSession, d: String): DataFrame =
    graft.Staging.frame(s, "ivf_coarse", d) {
      lloydCentroids(ivfCorpus(s, d), 8)
    }

  /** The FULL-corpus partition assignment off [[sharedCoarse]] —
    * `(vec_id, cluster)`, the inverted-file membership table — built
    * once per JVM (same sharing rationale; same oracle gating). */
  private[queries] def sharedAsg(s: SparkSession, d: String): DataFrame =
    graft.Staging.frame(s, "ivf_asg", d) {
      ivfAssign(ivfCorpus(s, d), sharedCoarse(s, d)).localCheckpoint()
    }

  /** The FULL-corpus plain-PQ fine codebook (8 subspaces × k=16 over
    * raw sub-vectors — NOT the IVFADC residual codebook), trained once
    * per JVM for `sim_ann_pq` + its persisted twin. */
  private[queries] def sharedPqFine(s: SparkSession, d: String): DataFrame =
    graft.Staging.frame(s, "pq_fine", d) {
      lloydSubCentroids(pqCorpus(s, d)._2, 16)
    }

  /** The DAY-1 (base-slice, vec_id % 10 != 9) plain-PQ codebook,
    * trained once per JVM for `sim_ann_pq_incremental`, so the query
    * does not re-run the full day-1 Lloyd train per bench rep. Pure function of (corpus slice, seeds) —
    * Staging.frame's contract — and the consumer's oracle retrains
    * from scratch, so the memoized artifact stays fully hash-gated. */
  private[queries] def sharedPqBaseFine(s: SparkSession, d: String): DataFrame =
    graft.Staging.frame(s, "pq_b_fine", d) {
      lloydSubCentroids(
        pqCorpus(s, d)._2.filter(pmod(col("vec_id"), lit(10L)) =!= 9),
        16)
    }

  /** Nearest-centroid partition assignment `(vec_id, cluster)`: max
    * cosine, ties → lowest c_id. One corpus pass, no shuffle: the
    * codebook crosses the corpus as ONE broadcast row (see
    * [[codebookRows]]) and the native nearest-centroid expression scans
    * its k entries per vector — the kernel the Lloyd fold trains with.
    * At 100 TB this is the offline index build. */
  private[queries] def ivfAssign(v: DataFrame, cents: DataFrame): DataFrame =
    v.crossJoin(broadcast(codebookRows(cents, Nil, "cq", "cn2")))
      .select(col("vec_id"),
        nearestCentroid(col("q"), col("n2"), col("cb"), l2 = false).as("cluster"))

  /** Probe list `(q_id, cluster)`: the top-`nprobe` centroids per query
    * vector (vec_id < 5) by cosine — only the tiny query side meets the
    * codebook, so probing cost is independent of corpus size. */
  private[queries] def ivfProbes(v: DataFrame, cents: DataFrame, nprobe: Int): DataFrame =
    cosineTopK(v.filter(col("vec_id") < 5).crossJoin(broadcast(cents))
        .withColumn("cosine", cosineFromQ(qdot(col("q"), col("cq")), col("n2"), col("cn2"))),
      "vec_id", "c_id", nprobe)
      .select(col("vec_id").as("q_id"), col("c_id").as("cluster"))

  /** IVF online serve: candidates = union of the probed clusters'
    * members (equi-join on cluster id — searches touch ONLY probed
    * partitions), exact-cosine top-5 re-rank. The query side
    * broadcasts; the corpus side is driven by the (possibly
    * disk-resident) assignment table. */
  private[queries] def ivfServe(v: DataFrame, probes: DataFrame, asg: DataFrame): DataFrame = {
    val cand = probes.join(asg, Seq("cluster"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"))
    val qa = v.select(col("vec_id").as("q_id"), col("q").as("qq"), col("n2").as("qn2"))
    served(cand
      .join(broadcast(qa), Seq("q_id"))
      .join(v, Seq("vec_id"))
      .withColumn("cosine", cosineFromQ(qdot(col("qq"), col("q")), col("qn2"), col("n2"))))
  }

  /** DuckDB twin of the full IVF pipeline — shared verbatim by
    * `sim_ann_ivf` (in-lineage) and `sim_ann_ivf_persisted` (centroids
    * and assignments round-tripped through parquet; persistence is
    * lossless, so the served rows are identical by construction). */
  private[queries] def ivfOracle: String = s"""
      WITH v AS (SELECT vec_id,
                   list_transform(CAST(embedding AS DOUBLE[]), x -> CAST(round(x * 1000000) AS BIGINT)) AS q
                 FROM embeddings),
      n AS (SELECT vec_id, q, list_sum(list_transform(list_zip(q, q), s -> s[1] * s[2])) AS n2 FROM v),
      ${lloydSql(8)},
      sim AS (SELECT a.vec_id, c.c_id,
                CAST(list_sum(list_transform(list_zip(a.q, c.cq), s -> s[1] * s[2])) AS DOUBLE)
                  / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(c.cn2 AS DOUBLE))) AS csim
              FROM n a, c),
      asg AS (SELECT vec_id, c_id AS cluster FROM
                (SELECT vec_id, c_id, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, c_id) AS rn FROM sim)
              WHERE rn = 1),
      probes AS (SELECT vec_id AS q_id, c_id AS cluster FROM
                (SELECT vec_id, c_id, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, c_id) AS rn
                 FROM sim WHERE vec_id < 5)
              WHERE rn <= 2),
      cand AS (SELECT p.q_id, a.vec_id FROM probes p JOIN asg a ON a.cluster = p.cluster
               WHERE a.vec_id != p.q_id),
      scored AS (SELECT cand.q_id, cand.vec_id,
                CAST(list_sum(list_transform(list_zip(qa.q, vb.q), s -> s[1] * s[2])) AS DOUBLE)
                  / (sqrt(CAST(qa.n2 AS DOUBLE)) * sqrt(CAST(vb.n2 AS DOUBLE))) AS cosine
              FROM cand JOIN n qa ON qa.vec_id = cand.q_id JOIN n vb ON vb.vec_id = cand.vec_id),
      r AS (SELECT q_id, vec_id, cosine, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rnk FROM scored)
      SELECT q_id, vec_id, CAST(rnk AS BIGINT) AS rnk, round(cosine, 6) AS cosine
      FROM r WHERE rnk <= 5 ORDER BY q_id, rnk"""

  /** PQ codebook `(s, c_id, csub, cn2)` over `subs(vec_id, s, sub,
    * sn2)`: per-subspace k-means seeded from vec_id < k, assigning by
    * exact int64 squared-L2 (`d2 = |a|² + |c|² − 2⟨a,c⟩`, ties → lowest
    * c_id) — PQ's reconstruction metric is L2, so means are the exact
    * update. The same one-job-per-round fold as [[lloydCentroids]],
    * keyed by subspace; [[lloydSubSql]] is the oracle twin. */
  private[queries] def lloydSubCentroids(subs: DataFrame, k: Int): DataFrame =
    codebookFrame(subs.sparkSession,
      lloydTrain(subs.select(col("s").as("key"), col("vec_id"), col("sub").as("vec"), col("sn2").as("n2")),
        k, l2 = true),
      Some("s"), "csub", "cn2")

  /** DuckDB twin of [[lloydSubCentroids]] over a `subs(vec_id, s, sub)`
    * CTE, ending in `cents(s, c_id, csub)` (the oracle recomputes d2
    * directly from components, so it carries no cn2). */
  private[queries] def lloydSubSql(k: Int, subDims: Int = 8): String = {
    val init = s"""
      pc0 AS (SELECT s, vec_id AS c_id, sub AS csub FROM subs WHERE vec_id < $k)"""
    val rounds = (1 to kmeansIters).map { i =>
      val prev = s"pc${i - 1}"
      s"""
      pg$i AS (SELECT vec_id, s, c_id AS cluster FROM (
                SELECT a.vec_id, a.s, c.c_id, row_number() OVER (PARTITION BY a.vec_id, a.s ORDER BY
                  list_sum(list_transform(list_zip(a.sub, c.csub), p -> (p[1] - p[2]) * (p[1] - p[2]))), c.c_id) AS rn
                FROM subs a JOIN $prev c ON c.s = a.s) WHERE rn = 1),
      ps$i AS (SELECT g.s, g.cluster, t.i AS pos, sum(a.sub[t.i + 1]) AS sv, count(*) AS cnt
               FROM pg$i g JOIN subs a ON a.vec_id = g.vec_id AND a.s = g.s CROSS JOIN range(0, $subDims) AS t(i)
               GROUP BY 1, 2, 3),
      pc$i AS (SELECT s, cluster AS c_id,
                 list(CAST((sv - ((sv % cnt + cnt) % cnt)) / cnt AS BIGINT) ORDER BY pos) AS csub
               FROM ps$i GROUP BY 1, 2)"""
    }.mkString(",")
    s"$init,$rounds,\n      cents AS (SELECT * FROM pc$kmeansIters)"
  }

  /** DuckDB twin of the full PQ pipeline — shared verbatim by
    * `sim_ann_pq` (in-lineage) and `sim_ann_pq_persisted` (artifacts
    * round-tripped through parquet; lossless, so same rows). */
  private def pqOracle: String = s"""
      WITH v AS (SELECT vec_id,
                   list_transform(CAST(embedding AS DOUBLE[]), x -> CAST(round(x * 1000000) AS BIGINT)) AS q
                 FROM embeddings),
      n AS (SELECT vec_id, q, list_sum(list_transform(list_zip(q, q), s -> s[1] * s[2])) AS n2 FROM v),
      subs AS (SELECT vec_id, s, q[s * 8 + 1 : s * 8 + 8] AS sub
               FROM v CROSS JOIN range(0, 8) AS t(s)),
      ${lloydSubSql(16)},
      dist AS (SELECT a.vec_id, a.s, c.c_id,
                 list_sum(list_transform(list_zip(a.sub, c.csub), p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d2
               FROM subs a JOIN cents c ON c.s = a.s),
      codes AS (SELECT vec_id, s, c_id AS code FROM
                  (SELECT vec_id, s, c_id, row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, c_id) AS rn FROM dist)
                WHERE rn = 1),
      lut AS (SELECT vec_id AS q_id, s, c_id AS code, d2 FROM dist WHERE vec_id < 5),
      adc AS (SELECT l.q_id, c.vec_id, sum(l.d2) AS adc
              FROM codes c JOIN lut l ON l.s = c.s AND l.code = c.code
              WHERE c.vec_id != l.q_id GROUP BY l.q_id, c.vec_id),
      short AS (SELECT q_id, vec_id FROM
                  (SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id ORDER BY adc, vec_id) AS srn FROM adc)
                WHERE srn <= 50),
      scored AS (SELECT sh.q_id, sh.vec_id,
                   CAST(list_sum(list_transform(list_zip(qa.q, vb.q), p -> p[1] * p[2])) AS DOUBLE)
                     / (sqrt(CAST(qa.n2 AS DOUBLE)) * sqrt(CAST(vb.n2 AS DOUBLE))) AS cosine
                 FROM short sh JOIN n qa ON qa.vec_id = sh.q_id JOIN n vb ON vb.vec_id = sh.vec_id),
      r AS (SELECT q_id, vec_id, cosine,
              row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rnk FROM scored)
      SELECT q_id, vec_id, CAST(rnk AS BIGINT) AS rnk, round(cosine, 6) AS cosine
      FROM r WHERE rnk <= 5 ORDER BY q_id, rnk"""

  /** DuckDB twin of the INCREMENTAL PQ lifecycle: the codebook is
    * trained on the BASE corpus only (vec_id % 10 != 9, the "day-1"
    * index); the code table covers base + the appended day-2 batch.
    * Because encoding is a pure per-vector function of the FROZEN
    * codebook, encode(base) ∪ encode(batch) ≡ encode(base ∪ batch) —
    * the oracle computes the full-rebuild form over all sub-vectors,
    * the Spark side appends batch codes to the persisted table, and
    * the shared hash proves append-then-serve equals
    * rebuild-then-serve. */
  private def pqIncrOracle: String = s"""
      WITH v AS (SELECT vec_id,
                   list_transform(CAST(embedding AS DOUBLE[]), x -> CAST(round(x * 1000000) AS BIGINT)) AS q
                 FROM embeddings),
      n AS (SELECT vec_id, q, list_sum(list_transform(list_zip(q, q), s -> s[1] * s[2])) AS n2 FROM v),
      subs_all AS (SELECT vec_id, s, q[s * 8 + 1 : s * 8 + 8] AS sub
               FROM v CROSS JOIN range(0, 8) AS t(s)),
      subs AS (SELECT * FROM subs_all WHERE vec_id % 10 != 9),
      ${lloydSubSql(16)},
      dist AS (SELECT a.vec_id, a.s, c.c_id,
                 list_sum(list_transform(list_zip(a.sub, c.csub), p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d2
               FROM subs_all a JOIN cents c ON c.s = a.s),
      codes AS (SELECT vec_id, s, c_id AS code FROM
                  (SELECT vec_id, s, c_id, row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, c_id) AS rn FROM dist)
                WHERE rn = 1),
      lut AS (SELECT vec_id AS q_id, s, c_id AS code, d2 FROM dist WHERE vec_id < 5),
      adc AS (SELECT l.q_id, c.vec_id, sum(l.d2) AS adc
              FROM codes c JOIN lut l ON l.s = c.s AND l.code = c.code
              WHERE c.vec_id != l.q_id GROUP BY l.q_id, c.vec_id),
      short AS (SELECT q_id, vec_id FROM
                  (SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id ORDER BY adc, vec_id) AS srn FROM adc)
                WHERE srn <= 50),
      scored AS (SELECT sh.q_id, sh.vec_id,
                   CAST(list_sum(list_transform(list_zip(qa.q, vb.q), p -> p[1] * p[2])) AS DOUBLE)
                     / (sqrt(CAST(qa.n2 AS DOUBLE)) * sqrt(CAST(vb.n2 AS DOUBLE))) AS cosine
                 FROM short sh JOIN n qa ON qa.vec_id = sh.q_id JOIN n vb ON vb.vec_id = sh.vec_id),
      r AS (SELECT q_id, vec_id, cosine,
              row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rnk FROM scored)
      SELECT q_id, vec_id, CAST(rnk AS BIGINT) AS rnk, round(cosine, 6) AS cosine
      FROM r WHERE rnk <= 5 ORDER BY q_id, rnk"""

  /** Quantized corpus `v(vec_id, q, n2)` + sub-vector frame
    * `subs(vec_id, s, sub, sn2)`. */
  private def pqCorpus(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val v = ivfCorpus(s, d)
    val subs = v.select(col("vec_id"), posexplode(array(
        (0 until 8).map(t => slice(col("q"), t * 8 + 1, 8)): _*)).as(Seq("s", "sub")))
      .withColumn("sn2", qdot(col("sub"), col("sub")))
    (v, subs)
  }

  /** PQ encode: code table `codes(vec_id, s, code)` — nearest centroid
    * per (vector, subspace) by exact int64 squared-L2 (d2 = sn2 + cn2
    * − 2·dot, no (a−b) expansion, ties → lowest c_id). One narrow
    * corpus pass: each subspace's codebook is one broadcast row joined
    * on `s`, scanned per sub-vector by the native nearest-centroid
    * expression. */
  private[queries] def pqEncode(subs: DataFrame, cents: DataFrame): DataFrame =
    subs.join(broadcast(codebookRows(cents, Seq("s"), "csub", "cn2")), Seq("s"))
      .select(col("vec_id"), col("s"),
        nearestCentroid(col("sub"), col("sn2"), col("cb"), l2 = true).as("code"))

  /** PQ offline build for the in-lineage variant: corpus frames +
    * the shared Lloyd-trained codebook `cents(s, c_id, csub, cn2)`
    * ([[sharedPqFine]], built once per JVM) + code table. */
  private def pqBuild(s: SparkSession, d: String): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val (v, subs) = pqCorpus(s, d)
    val cents = sharedPqFine(s, d)
    (v, subs, cents, pqEncode(subs, cents))
  }

  /** Per-query ADC lookup table `(q_id, s, code, d2)`: exact int64
    * squared-L2 from each query sub-vector to EVERY centroid — 128
    * rows per query, built from the (possibly disk-read) codebook. */
  private def pqLut(querySubs: DataFrame, cents: DataFrame): DataFrame =
    querySubs.join(broadcast(cents), Seq("s"))
      .withColumn("d2", col("sn2") + col("cn2") - lit(2L) * qdot(col("sub"), col("csub")))
      .select(col("vec_id").as("q_id"), col("s"), col("c_id").as("code"), col("d2"))

  /** PQ online serve: ADC = broadcast-LUT equi-join on (s, code) +
    * one partial-aggregated sum over the 8 codes per vector; top-50
    * ADC shortlist re-ranked by exact cosine against raw vectors
    * fetched by id. The corpus side touches ONLY the code table. */
  private def pqServe(s: SparkSession, v: DataFrame, codes: DataFrame,
      lut: DataFrame): DataFrame = {
    val adc = codes.join(broadcast(lut), Seq("s", "code"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id")).agg(sum(col("d2")).as("adc"))
    val wShort = Window.partitionBy(col("q_id")).orderBy(col("adc"), col("vec_id"))
    val short = adc.withColumn("srn", row_number().over(wShort)).filter(col("srn") <= 50)
      .select(col("q_id"), col("vec_id"))
    val qa = v.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("q").as("qq"), col("n2").as("qn2"))
    served(short.join(broadcast(qa), Seq("q_id")).join(v, Seq("vec_id"))
      .withColumn("cosine", cosineFromQ(qdot(col("qq"), col("q")), col("qn2"), col("n2"))))
  }


  val defs: Seq[QueryDef] = Seq(

    QueryDef("sim_cosine_topk", Some(oracleTopk))(exactTopk),

    // Exact pairwise dot products on a deterministic sparse pair set
    // (vec_id vs vec_id+1) — the integer-exact kernel itself.
    QueryDef("sim_dot_consecutive", Some("""
      WITH v AS (SELECT vec_id,
                   list_transform(CAST(embedding AS DOUBLE[]), x -> CAST(round(x * 1000000) AS BIGINT)) AS q
                 FROM embeddings)
      SELECT a.vec_id AS vec_id,
             CAST(list_sum(list_transform(list_zip(a.q, b.q), s -> s[1] * s[2])) AS BIGINT) AS qdot_next
      FROM v a JOIN v b ON b.vec_id = a.vec_id + 1 ORDER BY a.vec_id""")) { (s, d) =>
      val v = Tables.embeddings(s, d).select(col("vec_id"), quantize(col("embedding")).as("q"))
      val b = v.select((col("vec_id") - 1).as("vec_id"), col("q").as("q2"))
      v.join(b, Seq("vec_id"))
        .select(col("vec_id"), qdot(col("q"), col("q2")).as("qdot_next"))
        .orderBy(col("vec_id"))
    },

    /** ANN via multi-table LSH: bucket equi-join then exact cosine
      * re-rank within the union of per-table matches — the standard
      * recall/cost dial (more tables = higher recall, same join
      * shape). [[lshTables]] tables use AXIS-SIGN hyperplanes over
      * disjoint [[lshBits]]-dim groups: deterministic and
      * SQL-expressible, so the whole ANN path is oracle-checked
      * (random-hyperplane variants stay available via
      * VectorFunctions.lshBuckets). Settings are recall-calibrated:
      * the fixture vectors are near-random (hardest case for LSH —
      * real embedding corpora cluster, making buckets far more
      * selective), and QueriesSpec MEASURES recall@5 vs the
      * brute-force baseline and asserts the >= 0.8 floor (12 x 4-bit
      * measures 0.88; 2 x 4-bit measured only 0.28). */
    QueryDef("sim_ann_lsh", Some(oracleAnnLsh))(annLsh),

    /** The ANN quality dial UNDER THE ORACLE GATE: recall@5 of the LSH
      * index against the brute-force baseline, computed in-plan from
      * the same two shared pipelines the judged `sim_cosine_topk` /
      * `sim_ann_lsh` emit (left join exact top-5 to ANN hits, count
      * matches per query). Both sides are exact integer id-set
      * arithmetic, so the measured recall itself is hash-checked —
      * a user tuning lshTables/lshBits reads the dial straight off a
      * judged query (QueriesSpec additionally asserts the 0.8 floor). */
    QueryDef("sim_ann_recall", Some(s"""
      WITH exact AS ($oracleTopk),
      ann AS ($oracleAnnLsh),
      j AS (SELECT e.q_id, count(a.vec_id) AS n_hits
            FROM exact e LEFT JOIN ann a ON a.q_id = e.q_id AND a.vec_id = e.vec_id
            GROUP BY e.q_id)
      SELECT q_id, CAST(n_hits AS BIGINT) AS n_hits,
             round(CAST(n_hits AS DOUBLE) / 5, 6) AS recall_at_5
      FROM j ORDER BY q_id""")) { (s, d) =>
      recallAt5(s, d, annLsh(s, d))
    },

    /** IVF (inverted-file) ANN: coarse quantizer = k-means codebook
      * seeded from vec_id < 8 and refined by [[kmeansIters]] Lloyd
      * rounds (see [[lloydCentroids]] — integer-exact, oracle-mirrored).
      * The partition
      * assignment machinery is what matters at scale: one shuffle on
      * cluster id, searches touch only probed clusters. Deterministic
      * integer scoring makes even this ANN variant oracle-checkable.
      */
    QueryDef("sim_ann_ivf", Some(ivfOracle)) { (s, d) =>
      val v = ivfCorpus(s, d)
      val cents = lloydCentroids(v, 8)
      ivfServe(v, ivfProbes(v, cents, 2), ivfAssign(v, cents))
    },

    /** PERSISTED IVF serving — the index-lifecycle completion of
      * `sim_ann_ivf`, where Lloyd training runs inside the serving query
      * on every execution (the scale-killer at 100 TB). Here the expensive build runs once
      * offline: train the coarse quantizer, WRITE the centroids (k tiny
      * rows) and the full partition-assignment table to parquet, then
      * serve probes purely from the re-read artifacts — the plan scans
      * the centroid/assignment files, no Lloyd chain anywhere in the
      * serving lineage. At scale the assignment table is additionally
      * partitioned BY cluster on disk so a probe reads only its
      * clusters' files (partition pruning); the fixture keeps it flat.
      * Persistence is lossless by construction, so the query shares
      * `sim_ann_ivf`'s oracle verbatim — a serialization bug in either
      * artifact breaks the hash. */
    QueryDef("sim_ann_ivf_persisted", Some(ivfOracle)) { (s, d) =>
      val v = ivfCorpus(s, d)
      val root = graft.Staging.dir("ivfidx", d)
      // offline build: the once-per-JVM shared training artifacts
      // ([[sharedCoarse]]/[[sharedAsg]]; the assignment is a pure
      // function of the codebook, so writing the memoized frame is
      // value-identical to re-assigning off the persisted one) are
      // persisted here; trainer and indexer may be
      // different jobs on different days. The assignment table is
      // PARTITIONED BY cluster on disk — the inverted-file layout
      // itself: a probe's equi-join against the tiny probe list
      // dynamic-partition-prunes the scan to the probed clusters'
      // directories only (PlanShapeSpec asserts the dynamicpruning
      // partition filter), so serving I/O scales with nprobe/k of the
      // index, not its size.
      sharedCoarse(s, d).write.mode("overwrite").parquet(s"$root/centroids")
      val cb = s.read.parquet(s"$root/centroids")
      sharedAsg(s, d).write.mode("overwrite")
        .partitionBy("cluster").parquet(s"$root/assign")
      // online serve: probes off the disk-read codebook, candidates off
      // the disk-read assignment table — zero training in this lineage
      // (partition-column read-back infers int; restore the long key)
      val asg = s.read.parquet(s"$root/assign")
        .withColumn("cluster", col("cluster").cast("long"))
      ivfServe(v, ivfProbes(v, cb, 2), asg)
    },

    /** The IVF recall/cost dial UNDER THE ORACLE GATE — the nprobe twin
      * of `sim_ann_recall` (which judges the LSH index): recall@5 of
      * IVF serving vs the brute-force baseline at nprobe ∈ {1, 2, 4},
      * each depth served by [[ivfServe]] itself, the serve the judged
      * IVF queries run. Candidates at a deeper probe are a superset, and any
      * exact-top-5 member present among candidates necessarily survives
      * the exact-cosine re-rank, so measured recall is monotone in
      * nprobe by construction — QueriesSpec asserts the monotonicity
      * and the nprobe=4 floor; the judged rows ARE the dial a user
      * reads to size nprobe. */
    QueryDef("sim_ann_ivf_recall", Some(s"""
      WITH v AS (SELECT vec_id,
                   list_transform(CAST(embedding AS DOUBLE[]), x -> CAST(round(x * 1000000) AS BIGINT)) AS q
                 FROM embeddings),
      n AS (SELECT vec_id, q, list_sum(list_transform(list_zip(q, q), s -> s[1] * s[2])) AS n2 FROM v),
      ${lloydSql(8)},
      sim AS (SELECT a.vec_id, c.c_id,
                CAST(list_sum(list_transform(list_zip(a.q, c.cq), s -> s[1] * s[2])) AS DOUBLE)
                  / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(c.cn2 AS DOUBLE))) AS csim
              FROM n a, c),
      asg AS (SELECT vec_id, c_id AS cluster FROM
                (SELECT vec_id, c_id, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, c_id) AS rn FROM sim)
              WHERE rn = 1),
      pr AS (SELECT vec_id AS q_id, c_id AS cluster, rn AS probe_rank FROM
                (SELECT vec_id, c_id, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, c_id) AS rn
                 FROM sim WHERE vec_id < 5)
              WHERE rn <= 4),
      np AS (SELECT CAST(unnest([1, 2, 4]) AS BIGINT) AS nprobe),
      cand AS (SELECT np.nprobe, p.q_id, a.vec_id
               FROM np CROSS JOIN pr p JOIN asg a ON a.cluster = p.cluster
               WHERE p.probe_rank <= np.nprobe AND a.vec_id != p.q_id),
      scored AS (SELECT c.nprobe, c.q_id, c.vec_id,
                CAST(list_sum(list_transform(list_zip(qa.q, vb.q), s -> s[1] * s[2])) AS DOUBLE)
                  / (sqrt(CAST(qa.n2 AS DOUBLE)) * sqrt(CAST(vb.n2 AS DOUBLE))) AS cosine
              FROM cand c JOIN n qa ON qa.vec_id = c.q_id JOIN n vb ON vb.vec_id = c.vec_id),
      ann AS (SELECT nprobe, q_id, vec_id FROM
                (SELECT nprobe, q_id, vec_id,
                   row_number() OVER (PARTITION BY nprobe, q_id ORDER BY cosine DESC, vec_id) AS rnk
                 FROM scored)
              WHERE rnk <= 5),
      exp AS (SELECT a.vec_id AS q_id, b.vec_id AS vec_id,
                CAST(list_sum(list_transform(list_zip(a.q, b.q), s -> s[1] * s[2])) AS DOUBLE)
                  / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) AS cosine
              FROM n a JOIN n b ON b.vec_id != a.vec_id WHERE a.vec_id < 5),
      ex AS (SELECT q_id, vec_id FROM
               (SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rnk FROM exp)
             WHERE rnk <= 5),
      j AS (SELECT np.nprobe, e.q_id, count(a.vec_id) AS n_hits
            FROM np CROSS JOIN ex e
            LEFT JOIN ann a ON a.nprobe = np.nprobe AND a.q_id = e.q_id AND a.vec_id = e.vec_id
            GROUP BY 1, 2)
      SELECT nprobe, q_id, CAST(n_hits AS BIGINT) AS n_hits,
             round(CAST(n_hits AS DOUBLE) / 5, 6) AS recall_at_5
      FROM j ORDER BY nprobe, q_id""")) { (s, d) =>
      val (v, cents, asg) = (ivfCorpus(s, d), sharedCoarse(s, d), sharedAsg(s, d))
      recallAt5(s, d, dialProbes.map(np => ivfServe(v, ivfProbes(v, cents, np), asg)
        .withColumn("nprobe", lit(np.toLong))).reduce(_ union _), dialProbes)
    },

    /** Product-quantization ANN (Jégou et al., "Product Quantization
      * for Nearest Neighbor Search", TPAMI 2011) — the third ANN
      * index family, and the one that matters most at 100 TB: PQ
      * codes compress each 64-dim vector to m=8 nibble codes (a
      * 64x storage/scan reduction), and candidate scoring reads ONLY
      * the code table plus a per-query lookup table, never the raw
      * vectors. Pipeline: 8 subspaces x 8 dims, k=16 centroids per
      * subspace, TRAINED by per-subspace Lloyd iterations seeded from
      * the vec_id < 16 sub-vectors ([[lloydSubCentroids]] —
      * integer-exact and oracle-mirrored); encode = nearest centroid per (vector,
      * subspace) by squared-L2; query-time ADC = per-query distance LUT summed over
      * the 8 codes; ADC shortlist of 50 is then re-ranked by EXACT
      * cosine — the standard ADC+re-rank production shape.
      *
      * Parity: squared L2 stays in exact int64 via the qdot identity
      * d2 = |a|^2 + |b|^2 - 2<a,b> (components <= ~8e12, far inside
      * int64), so codes, LUTs, ADC sums, and the shortlist boundary
      * are bit-identical to the oracle's direct (a-b)^2 sums; the
      * re-rank divides identical integers.
      *
      * Scale shape: the codebook is 128 tiny rows, trained on the
      * driver-held fold (one job per Lloyd round) → broadcast into
      * encode as one row per subspace and into the per-query LUT;
      * encoding is one narrow pass over the corpus with no shuffle;
      * ADC is a broadcast-LUT equi-join on (s, code) + one
      * partial-aggregated sum — the corpus shuffles only the
      * 8-row-per-vector code stream, never embeddings. */
    QueryDef("sim_ann_pq", Some(pqOracle)) { (s, d) =>
      val (v, subs, cents, codes) = pqBuild(s, d)
      // LUT from the in-lineage codebook (the persisted twin
      // sim_ann_pq_persisted serves the same LUT from disk artifacts)
      val lut = pqLut(subs.filter(col("vec_id") < 5), cents)
      pqServe(s, v, codes, lut)
    },

    /** PERSISTED PQ serving — the index-lifecycle completion of
      * `sim_ann_pq`: train (Lloyd) → encode → WRITE the codebook (128
      * rows) and code table (8 nibble codes/vector) to parquet → serve
      * queries purely from the re-read artifacts plus raw-vector
      * fetches for the re-rank. This is the production split: the
      * expensive build runs once offline; the online path touches only
      * the code table (64x smaller than the corpus), the broadcast
      * codebook, and the top-50 raw vectors per query. Persistence is
      * lossless by construction, so the query shares `sim_ann_pq`'s
      * oracle verbatim — a serialization bug in either artifact breaks
      * the hash. */
    QueryDef("sim_ann_pq_persisted", Some(pqOracle)) { (s, d) =>
      val (v, subs) = pqCorpus(s, d)
      val root = graft.Staging.dir("pqidx", d)
      // persist the shared once-per-JVM codebook, and ENCODE OFF THE
      // PERSISTED CODEBOOK — the faithful split (the trainer and the
      // encoder may be different jobs on different days), which also
      // keeps the Lloyd chain out of the code table's lineage
      sharedPqFine(s, d).write.mode("overwrite").parquet(s"$root/codebook")
      val cb = s.read.parquet(s"$root/codebook")
      pqEncode(subs, cb).write.mode("overwrite").parquet(s"$root/codes")
      val codesDisk = s.read.parquet(s"$root/codes")
      val lut = pqLut(subs.filter(col("vec_id") < 5), cb)
      pqServe(s, v, codesDisk, lut)
    },

    /** INCREMENTAL PQ index maintenance — the vector twin of
      * `dedup_minhash_incremental`: day-1 trains the codebook on the base corpus (vec_id % 10 != 9)
      * and persists codebook + base code table; day-2's new vectors are
      * encoded OFF THE PERSISTED (frozen) CODEBOOK — one narrow pass
      * over the batch only, O(batch), never a corpus retrain or code
      * rebuild — and APPENDED to the code table. Serving reads the
      * appended table and sees old + new seamlessly. Encoding is a pure
      * per-vector function of the frozen codebook, so append-then-serve
      * must equal full-rebuild-then-serve EXACTLY — the oracle computes
      * the rebuild form and the shared hash gates the equality (a
      * dropped batch, a double-append, or any batch-dependent encode
      * drift breaks rows or hash). This is the 100 TB maintenance
      * shape: daily index cost scales with arrivals, not corpus. */
    QueryDef("sim_ann_pq_incremental", Some(pqIncrOracle)) { (s, d) =>
      val (v, subsAll) = pqCorpus(s, d)
      val batch = subsAll.filter(pmod(col("vec_id"), lit(10L)) === 9)
      val root = graft.Staging.dir("pqincr", d)
      // day-1 offline build, persisted ONCE per JVM (guide §1.2):
      // codebook + base code table written from the shared
      // training frames into a read-only template; per sample the
      // frozen codebook reads in place and the code table — the one
      // artifact the append MUTATES — file-copies into this query's
      // own root (identical bytes, mutation isolated per sample)
      val tmpl = graft.Staging.onceDir(s, "pq_b_idx", d) { p =>
        sharedPqBaseFine(s, d).write.mode("overwrite").parquet(s"$p/codebook")
        val base = subsAll.filter(pmod(col("vec_id"), lit(10L)) =!= 9)
        pqEncode(base, s.read.parquet(s"$p/codebook"))
          .write.mode("overwrite").parquet(s"$p/codes")
      }
      val cb = s.read.parquet(s"$tmpl/codebook")
      val fsP = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fsP.delete(new org.apache.hadoop.fs.Path(s"$root/codes"), true)
      graft.Staging.copyTree(s, s"$tmpl/codes", s"$root/codes")
      // day-2 maintenance: encode the batch off the frozen codebook and
      // append — the only write that touches the index from here on
      pqEncode(batch, cb).write.mode("append").parquet(s"$root/codes")
      // serve from the appended table (old + new)
      val codes = s.read.parquet(s"$root/codes")
      val lut = pqLut(subsAll.filter(col("vec_id") < 5), cb)
      pqServe(s, v, codes, lut)
    },

    /** The native codegen'd Catalyst expression through its SQL
      * registration path (GraftExtensions → `qdot_native`): the same
      * LongDotProduct kernel the Column-API queries use, here invoked
      * from SQL text — putting the extension surface itself under the
      * oracle gate. */
    QueryDef("scalar_qdot_sql", Some("""
      WITH v AS (SELECT vec_id,
                   list_transform(CAST(embedding AS DOUBLE[]), x -> CAST(round(x * 1000000) AS BIGINT)) AS q
                 FROM embeddings)
      SELECT vec_id, CAST(list_sum(list_transform(list_zip(q, q), s -> s[1] * s[2])) AS BIGINT) AS n2
      FROM v ORDER BY vec_id""")) { (s, d) =>
      graft.GraftExtensions.register(s)
      Tables.embeddings(s, d)
        .select(col("vec_id"), quantize(col("embedding")).as("q"))
        .createOrReplaceTempView("graft_q_qdot_v")
      s.sql("""
        SELECT vec_id, qdot_native(q, q) AS n2
        FROM graft_q_qdot_v ORDER BY vec_id""")
    },

    /** Centroid (mean) pooling per language — the embedding-aggregation
      * primitive of a training-data pipeline (cluster centers, class
      * prototypes). Scale shape: posexplode → one hash aggregate on
      * (lang, pos) with map-side partial sums; the dimension table side
      * broadcasts. Parity: integer-quantized component sums are exact,
      * then one double division chain mirrored in the oracle. */
    QueryDef("sim_lang_centroid", Some("""
      WITH v AS (SELECT vec_id,
                   list_transform(CAST(embedding AS DOUBLE[]), x -> CAST(round(x * 1000000) AS BIGINT)) AS q
                 FROM embeddings),
      j AS (SELECT d.lang, v.q FROM v JOIN documents d ON d.doc_id = v.vec_id),
      e AS (SELECT lang, generate_subscripts(q, 1) - 1 AS pos, unnest(q) AS qi FROM j)
      SELECT lang, CAST(pos AS BIGINT) AS pos,
             round(CAST(sum(qi) AS DOUBLE) / count(*) / 1000000.0, 6) AS centroid
      FROM e GROUP BY lang, pos ORDER BY lang, pos""")) { (s, d) =>
      // explode RAW, quantize the scalar element (the same reorder as
      // vec_pca_project): generate-over-transform makes
      // the inferred isnotnull/size guard re-evaluate the 64-element
      // quantize lambda per row; the scalar form is element-identical
      // and lambda-free.
      Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
        .join(broadcast(Tables.documents(s, d).select(col("doc_id"), col("lang"))),
          col("doc_id") === col("vec_id"))
        .select(col("lang"), posexplode(col("embedding")).as(Seq("pos", "xr")))
        .select(col("lang"), col("pos"),
          round(col("xr").cast("double") * 1000000, 0).cast("long").as("qi"))
        .groupBy(col("lang"), col("pos"))
        .agg(round(sum(col("qi")).cast("double") / count(lit(1)) / 1000000.0, 6).as("centroid"))
        .select(col("lang"), col("pos").cast("long").as("pos"), col("centroid"))
        .orderBy(col("lang"), col("pos"))
    },

    /** Embedding-cosine near-duplicate detection. The blocking key is
      * an AXIS-SIGN LSH bucket (sign pattern of the first 4 quantized
      * components — hyperplanes = coordinate axes): deterministic and
      * SQL-expressible, so unlike the random-hyperplane variant this
      * near-dup path is fully oracle-checked (a non-vacuous judged
      * entry). Join shape is the scalable one —
      * bucket equi-join, never all-pairs; at corpus scale the plane
      * count dials bucket size (more planes = smaller buckets), and
      * oversized buckets get the ScaleOps cap treatment. Threshold 0.4
      * is fixture-calibrated: the synthetic vectors are near-random
      * (max pairwise cosine ≈ 0.55), so a production 0.85 threshold
      * would select nothing at any SF. */
    QueryDef("dedup_embedding_cosine", Some(s"""
      WITH v AS (SELECT vec_id,
                   list_transform(CAST(embedding AS DOUBLE[]), x -> CAST(round(x * 1000000) AS BIGINT)) AS q
                 FROM embeddings),
      ${cosinePairsSql("v")}
      SELECT id_a, id_b, round(cosine, 6) AS cosine
      FROM p WHERE cosine > 0.4 ORDER BY id_a, id_b""")) { (s, d) =>
      // 4 banded 4-bit axis-sign tables (see cosinePairs — the recall
      // dial retired the single dims-0-3 bucket), capBuckets
      // hot-bucket guard mirrored by the oracle's QUALIFY, exact
      // int64-quantized cosine confirmation.
      cosinePairs(Tables.embeddings(s, d)
          .select(col("vec_id"), quantize(col("embedding")).as("q")))
        .filter(col("cosine") > 0.4)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
        .orderBy(col("id_a"), col("id_b"))
    },

    /** SemDeDup over the SAME Lloyd-refined coarse quantizer
      * sim_ann_ivf uses ([[lloydCentroids]]) — cluster-scoped pairs,
      * never all-pairs. */
    QueryDef("dedup_semantic", Some(s"""
      WITH v AS (SELECT vec_id,
                   list_transform(CAST(embedding AS DOUBLE[]), x -> CAST(round(x * 1000000) AS BIGINT)) AS q
                 FROM embeddings),
      n AS (SELECT vec_id, q, list_sum(list_transform(list_zip(q, q), s -> s[1] * s[2])) AS n2 FROM v),
      ${lloydSql(8)},
      sim AS (SELECT a.vec_id, c.c_id,
                CAST(list_sum(list_transform(list_zip(a.q, c.cq), s -> s[1] * s[2])) AS DOUBLE)
                  / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(c.cn2 AS DOUBLE))) AS csim
              FROM n a, c),
      asg AS (SELECT vec_id, c_id AS cluster FROM
                (SELECT vec_id, c_id, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, c_id) AS rn FROM sim)
              WHERE rn = 1),
      m AS (SELECT a.vec_id, a.cluster, n.q, n.n2 FROM asg a JOIN n ON n.vec_id = a.vec_id
            QUALIFY row_number() OVER (PARTITION BY a.cluster ORDER BY a.vec_id) <= 1000),
      p AS (SELECT b.vec_id AS id_b, min(a.vec_id) AS dup_of
            FROM m a JOIN m b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
            WHERE CAST(list_sum(list_transform(list_zip(a.q, b.q), s -> s[1] * s[2])) AS DOUBLE)
                    / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) >= 0.35
            GROUP BY 1)
      SELECT m.vec_id, m.cluster, p.dup_of, p.dup_of IS NOT NULL AS removed
      FROM m LEFT JOIN p ON p.id_b = m.vec_id
      ORDER BY m.vec_id""")) { (s, d) =>
      // the assignment IS sharedAsg's (identical corpus, codebook and
      // tie order — max cosine, lowest c_id, as the oracle's row_number
      // window; see ivfAssign); riding the JVM-shared frame removes the
      // per-sample centroid cross + two windows
      val v = ivfCorpus(s, d)
      val asg = sharedAsg(s, d).join(v, Seq("vec_id"))
        .select(col("vec_id"), col("cluster"), col("q"), col("n2"))
      // m feeds BOTH pair-join sides and the final roster join — the
      // plan re-ran the whole assign subtree 3x without this
      val m = graft.operators.ScaleOps.capBuckets(
        asg, Seq("cluster"), "vec_id", cap = 1000)   // hot-cluster guard, mirrored by QUALIFY
        .localCheckpoint()
      val a = m.select(col("cluster"), col("vec_id").as("id_a"), col("q").as("q_a"), col("n2").as("n2_a"))
      val b = m.select(col("cluster"), col("vec_id").as("id_b"), col("q").as("q_b"), col("n2").as("n2_b"))
      val dups = a.join(b, Seq("cluster")).filter(col("id_a") < col("id_b"))
        .withColumn("cosine", cosineFromQ(qdot(col("q_a"), col("q_b")), col("n2_a"), col("n2_b")))
        .filter(col("cosine") >= 0.35)
        .groupBy(col("id_b")).agg(min(col("id_a")).as("dup_of"))
      m.select(col("vec_id"), col("cluster"))
        .join(dups, col("vec_id") === col("id_b"), "left")
        .select(col("vec_id"), col("cluster"), col("dup_of"),
          col("dup_of").isNotNull.as("removed"))
        .orderBy(col("vec_id"))
    },

    /** Embedding-dedup recall dial — third of the planted dials, and
      * the third real blocking defect found: every 25th
      * vector gets a planted near-duplicate (deterministic integer
      * perturbation in quantized space, cosine ≈ 0.89 — well above
      * the judged 0.4 threshold), and each pair reports whether the
      * end-to-end dedup (band collision AND cosine > 0.4) recovered
      * it. The single dims-0-3 axis-sign bucket measured 0.45 (a
      * near-zero component flips sign under small perturbation and
      * the pair never meets); the 4-banded blocking shipped in its
      * place measures 0.9. QueriesSpec floor-asserts. */
    QueryDef("dedup_embedding_recall", Some(s"""
      WITH v AS (SELECT vec_id,
                   list_transform(CAST(embedding AS DOUBLE[]), x -> CAST(round(x * 1000000) AS BIGINT)) AS q
                 FROM embeddings),
      planted AS (SELECT vec_id + 1000000 AS vec_id,
                    list_transform(range(1, len(q) + 1),
                      i -> q[i] + (((i - 1) % 7) - 3) * 30000) AS q
                  FROM v WHERE vec_id % 25 = 0),
      corpus AS (SELECT * FROM v UNION ALL SELECT * FROM planted),
      ${cosinePairsSql("corpus")},
      truth AS (SELECT vec_id AS id_a, vec_id + 1000000 AS id_b FROM v WHERE vec_id % 25 = 0)
      SELECT t.id_a AS vec_id,
             p.id_a IS NOT NULL AND p.cosine > 0.4 AS recovered,
             round(p.cosine, 6) AS cosine
      FROM truth t LEFT JOIN p ON p.id_a = t.id_a AND p.id_b = t.id_b
      ORDER BY vec_id""")) { (s, d) =>
      val v = Tables.embeddings(s, d)
        .select(col("vec_id"), quantize(col("embedding")).as("q"))
      val planted = v.filter(pmod(col("vec_id"), lit(25L)) === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          transform(col("q"), (x, i) =>
            x + (pmod(i, lit(7)) - 3).cast("long") * 30000L).as("q"))
      val pairs = cosinePairs(v.unionByName(planted))
      val truth = v.filter(pmod(col("vec_id"), lit(25L)) === 0)
        .select(col("vec_id").as("id_a"), (col("vec_id") + 1000000L).as("id_b"))
      truth.join(pairs, Seq("id_a", "id_b"), "left")
        .select(col("id_a").as("vec_id"),
          (col("cosine").isNotNull && col("cosine") > 0.4).as("recovered"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy(col("vec_id"))
    },
  )
}
