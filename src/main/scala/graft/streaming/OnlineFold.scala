package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger

/** The online-fold shape shared by every streaming-maintenance and
  * stream-serve query: the reference's resume-from-watermark batch
  * loop (SURVEY.md §2.10) as a micro-batch fold with Structured
  * Streaming's exactly-once-by-idempotent-sink contract (Armbrust et
  * al., SIGMOD 2018).
  *
  *  1. [[stage]] the arrival files once per JVM — one file per
  *     micro-batch, in arrival order;
  *  2. [[freshRoot]] wipes the query's mutable root (checkpoint, logs,
  *     sinks), so every call replays all batches from a new checkpoint;
  *  3. [[drain]] streams the files one per trigger and runs the batch
  *     body, which writes a log keyed by the batch id in OVERWRITE
  *     mode, so a replayed batch rewrites the same files;
  *  4. [[readLogs]] reads the logs back for the one post-drain fold.
  *
  * FoldReplaySpec re-executes every committed batch through the
  * queries' named batch bodies and asserts the logs do not move.
  */
object OnlineFold {

  /** Stage `batches` as one single-file micro-batch each, in order, in
    * a directory built once per JVM. The files are READ-ONLY: every
    * consumer streams them under its own fresh checkpoint, so all
    * bench samples replay the same micro-batches. */
  def stage(s: SparkSession, key: String, sfDir: String)(batches: => Seq[DataFrame]): String =
    graft.Staging.onceDir(s, key, sfDir) { p =>
      batches.zipWithIndex.foreach { case (b, i) =>
        b.coalesce(1).write.mode(if (i == 0) "overwrite" else "append").parquet(p)
      }
    }

  /** The query's per-call root `Staging.dir(prefix, sfDir)`, wiped.
    * Work that must sit in the root before the stream starts (seed
    * versions, an empty standing table) is written after this call. */
  def freshRoot(s: SparkSession, prefix: String, sfDir: String): String = {
    val root = graft.Staging.dir(prefix, sfDir)
    val p = new Path(root)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    root
  }

  /** Stream the parquet files under `in` one per trigger into `batch`,
    * checkpointed under `root`, until every file is consumed
    * (Trigger.AvailableNow), with the shared streaming conf and the
    * bounded wait. The stream is named after the root's directory so
    * StreamMetrics reports it under a stable name. The schema is the
    * staged files' own, read once per JVM (`Staging.schemaOf`): staged
    * inputs never change after staging. */
  def drain(s: SparkSession, root: String, in: String)(
      batch: (DataFrame, Long) => Unit): Unit = {
    val schema = graft.Staging.schemaOf(s, in)
    val name = new Path(root).getName
    EventStreams.withStreamConf(s) {
      EventStreams.awaitOrKill(
        s.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(in)
          .writeStream.foreachBatch(batch)
          .queryName(name)
          .option("checkpointLocation", s"$root/ckpt")
          .trigger(Trigger.AvailableNow())
          .start(),
        name)
    }
  }

  /** Read every directory matching `glob`, in glob order, with a
    * declared schema — an empty batch writes a log dir without
    * footers, so the schema cannot be inferred. Passing the matched
    * paths instead of the pattern keeps the rows and
    * `input_file_name()` values of a glob read, but skips the
    * streaming-sink metadata probe, which logs a stack trace for every
    * glob it cannot stat. No match fails as the glob read does. */
  def readLogs(s: SparkSession, glob: String, schema: String): DataFrame = {
    val pattern = new Path(glob)
    val matched = Option(pattern.getFileSystem(s.sparkContext.hadoopConfiguration)
      .globStatus(pattern)).getOrElse(Array.empty).map(_.getPath.toString)
    if (matched.isEmpty) s.read.schema(schema).parquet(glob)
    else s.read.schema(schema).parquet(matched.toIndexedSeq: _*)
  }
}
