package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Replay idempotency for EVERY online maintenance fold (round-18
  * verdict task 2). foreachBatch's retry contract: a batch that
  * committed its writes but crashed before the checkpoint commit is
  * RE-EXECUTED with the same batch id and input. The folds' claim —
  * batch-id-keyed OVERWRITE logs (or committed-version read-modify-
  * write, v_{id+1} = f(v_id, batch)) — makes that replay a no-op; this
  * spec proves it per fold instead of arguing it in scaladoc.
  *
  * Mechanism: after the judged query drains, every committed batch is
  * re-executed through the query's OWN per-trigger body (the named
  * `*LogBatch` / `*ServeBatch` functions the streams call), with the
  * batch's EXACT input reconstructed from the checkpoint's file-source
  * commit log
  * (`ckpt/sources/0/<id>` records each batch's file set). The fold
  * inputs (logs / versions / sinks) must be frame- or byte-identical
  * afterwards. A fold whose log write becomes append-mode, loses its
  * batch-id keying, or turns batch-order-dependent fails its row.
  * Combined with each family's stream==batch artifact gate, this
  * closes exactly-once end to end: replays converge on the logs, and
  * the fold is a pure function of the logs.
  *
  * (stream_curate_append's replay gate predates this table and lives
  * in CurationSpec — its body also SERVES per batch, so its no-op
  * claim needs the self-excluding index probe asserted there.) */
class FoldReplaySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf0001

  /** (glob under the stream's staging root, declared schema) — the
    * declared schema matters: an empty committed batch's log dir has
    * no parquet footers (the judged queries read them the same way). */
  private case class Logs(globSchemas: (String, String)*) {
    def read(root: String): Seq[String] =
      globSchemas.flatMap { case (g, sch) =>
        spark.read.schema(sch).parquet(s"$root/$g").collect()
          .map(r => s"$g|$r")
      }.sorted
  }

  private case class FoldCase(
      query: String,
      rootKey: String,
      logs: Logs,
      replay: (DataFrame, Long) => Unit)

  private def md5(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(bytes)
      .map("%02x".format(_)).mkString

  /** The counting-bloom fold logs binary sketches, not parquet. */
  private def binLogs(root: String): Seq[String] =
    new java.io.File(s"$root/log").listFiles()
      .filter(_.getName.endsWith(".bin")).sortBy(_.getName).toSeq
      .map(f => s"${f.getName}|${md5(java.nio.file.Files.readAllBytes(f.toPath))}")

  private def committedBatchIds(root: String): Seq[Long] = {
    val dir = new java.io.File(s"$root/ckpt/sources/0")
    assert(dir.isDirectory, s"no file-source commit log at $dir")
    dir.listFiles().filter(f => f.isFile && f.getName.forall(_.isDigit))
      .map(_.getName.toLong).sorted.toSeq
  }

  /** Reconstruct batch `id`'s exact input from the checkpoint's
    * file-source commit log (one JSON entry per file). */
  private def batchInput(root: String, id: Long): DataFrame = {
    import scala.jdk.CollectionConverters._
    val lines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(s"$root/ckpt/sources/0/$id")).asScala
    val paths = lines.filter(_.startsWith("{")).flatMap(l =>
      "\"path\":\"([^\"]+)\"".r.findFirstMatchIn(l).map(_.group(1))).toSeq
    assert(paths.nonEmpty, s"batch $id: no files recorded in the source log")
    // schema from the committed files themselves (round-19: staged
    // inputs moved to shared read-only template dirs, so the stream's
    // root no longer necessarily holds an in/ copy)
    val schema = spark.read.parquet(paths: _*).schema
    spark.read.schema(schema).parquet(paths: _*)
  }

  private val cases = Seq(
    FoldCase("stream_minhash_index_roll", "mhsroll",
      Logs("log/t*" -> "doc_id LONG",
        "log/a*" -> "doc_id LONG, sig ARRAY<LONG>, band INT, bk1 LONG, bk2 LONG"),
      (b, id) => queries.TextQueries.minhashRollLogBatch(sf, b, id)),
    FoldCase("stream_simhash_index_roll", "shsroll",
      Logs("log/t*" -> "doc_id LONG",
        "log/a*" -> "doc_id LONG, sh64 LONG, band INT, bkey INT"),
      (b, id) => queries.TextQueries.simhashRollLogBatch(sf, b, id)),
    FoldCase("stream_dedup_index", "sdix",
      Logs("hits/b*" -> "doc_id LONG, n_index_dups LONG, first_dup LONG"),
      (b, id) => queries.TextQueries.dedupIndexLogBatch(spark, sf, b, id)),
    FoldCase("stream_containment_index_append", "ctsapp",
      Logs("log/p*" -> "idx_id LONG, g STRING",
        "log/df*" -> "g STRING, df LONG"),
      (b, id) => queries.TextQueries5.containmentAppendLogBatch(sf, b, id)),
    FoldCase("stream_ann_ivfpq_append", "ivfpqsapp",
      Logs("log/b*" -> "vec_id LONG, s INT, code LONG, cluster LONG"),
      (b, id) => queries.VectorQueries2.ivfpqAppendLogBatch(sf, b, id)),
    FoldCase("stream_kmeans_update", "kmsupd",
      Logs("log/b*" -> "cluster LONG, pos INT, sv LONG, cnt LONG"),
      (b, id) => queries.KmeansQueries.kmeansUpdateLogBatch(spark, sf, b, id)),
    FoldCase("stream_pca_update", "pcasupd",
      Logs("log/s1_b*" -> "i INT, s1 LONG, ma LONG",
        "log/s2_b*" -> "i INT, j INT, s2 LONG",
        "log/cnt_b*" -> "n LONG"),
      (b, id) => queries.SpectralQueries.pcaUpdateLogBatch(sf, b, id)),
    FoldCase("stream_bm25_index_append", "bm25app",
      Logs("tf_b*" -> "doc_id LONG, term STRING, tf LONG",
        "dl_b*" -> "doc_id LONG, dl LONG",
        "v*/df" -> "term STRING, df LONG",
        "v*/stats" -> "n_docs LONG, total_len LONG"),
      (b, id) => queries.RetrievalQueries.bm25AppendLogBatch(sf, b, id)),
    FoldCase("stream_lm_forget", "lmforget",
      Logs("v*/uni" -> "w1 STRING, c1 LONG",
        "v*/bi" -> "w1 STRING, w2 STRING, c2 LONG"),
      (b, id) => queries.LmQueries.lmForgetRollBatch(sf, b, id)),
    FoldCase("stream_lm_compact", "lmslog",
      Logs("log/b*/uni" -> "w1 STRING, c1 LONG",
        "log/b*/bi" -> "w1 STRING, w2 STRING, c2 LONG"),
      (b, id) => queries.LmQueries.lmCompactLogBatch(sf, b, id)),
    FoldCase("stream_phash_index_roll", "phsroll",
      Logs("log/t*" -> "img_id LONG",
        "log/a*" -> "img_id LONG, lo LONG, hi LONG"),
      (b, id) => queries.PhashQueries.phashRollLogBatch(sf, b, id)),
    // the per-batch serve sinks: each batch's answer is a pure function
    // of its input and a frozen artifact, written OVERWRITE to out/b<id>
    FoldCase("stream_ann_serve", "annserve",
      Logs("out/b*" -> "q_id LONG, vec_id LONG, rnk LONG, cosine DOUBLE"),
      (b, id) => queries.VectorQueries2.annServeBatch(spark, sf, b, id)),
    FoldCase("stream_kmeans_assign", "kmserve",
      Logs("out/b*" -> "vec_id LONG, cluster LONG"),
      (b, id) => queries.KmeansQueries.kmeansAssignServeBatch(spark, sf, b, id)),
    FoldCase("stream_bloom_seen", "blserve",
      Logs("out/b*" -> "doc_id LONG, is_seen BOOLEAN"),
      (b, id) => queries.TextQueries5.bloomSeenServeBatch(spark, sf, b, id)),
    FoldCase("stream_lm_score", "lmserve",
      Logs("out/b*" -> "doc_id LONG, n_bigrams LONG, n_scored LONG, lm_ppm LONG"),
      (b, id) => queries.LmQueries.lmScoreServeBatch(sf, b, id)))

  cases.foreach { c =>
    test(s"${c.query}: re-executing every committed batch is a no-op on the fold inputs") {
      SparkEntry.queries(c.query)(spark, sf).collect()
      val root = Staging.dir(c.rootKey, sf)
      val before = c.logs.read(root)
      assert(before.nonEmpty, s"${c.query}: empty fold inputs — vacuous gate")
      val ids = committedBatchIds(root)
      assert(ids.size >= 2, s"${c.query}: fewer than 2 committed batches")
      ids.foreach(id => c.replay(batchInput(root, id), id))
      assert(c.logs.read(root) === before,
        s"${c.query}: a replayed committed batch changed the fold inputs")
    }
  }

  test("the replay gate has teeth: a planted mis-keyed body execution IS detected") {
    // re-execute batch 0's input under a FRESH batch id — the kind of
    // keying bug the table above exists to catch (a body that derives
    // its log dir from anything but the checkpoint's batch id). The
    // log read must change, proving the equality assert is not
    // vacuously comparing globs that miss the log dirs entirely.
    SparkEntry.queries("stream_phash_index_roll")(spark, sf).collect()
    val root = Staging.dir("phsroll", sf)
    val logs = Logs("log/t*" -> "img_id LONG",
      "log/a*" -> "img_id LONG, lo LONG, hi LONG")
    val before = logs.read(root)
    queries.PhashQueries.phashRollLogBatch(sf, batchInput(root, 0), 99L)
    assert(logs.read(root) != before, "planted mis-keyed write went undetected")
    // clean up the planted dirs so later runs in this JVM start clean
    // (the judged query also wipes its root on entry)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq("t99", "a99").foreach(n =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$root/log/$n"), true))
    assert(logs.read(root) === before)
  }

  test("stream_bloom_forget: re-executing every committed batch is a no-op on the logged sketches") {
    SparkEntry.queries("stream_bloom_forget")(spark, sf).collect()
    val root = Staging.dir("cbsforget", sf)
    val before = binLogs(root)
    assert(before.size >= 2, "expected >= 2 logged tombstone blooms")
    committedBatchIds(root).foreach(id =>
      queries.TextQueries5.bloomForgetLogBatch(spark, sf, batchInput(root, id), id))
    assert(binLogs(root) === before,
      "a replayed committed batch changed a logged tombstone sketch")
  }
}
