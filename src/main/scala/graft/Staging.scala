package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Per-(prefix, input-path) local staging roots for the round-trip /
  * streaming queries. The name is the SANITIZED path (readable) plus a
  * short md5 of the RAW path: sanitization alone is not injective
  * ('/a/b' and '/a_b' collide), so the hash pins distinct input dirs to
  * distinct staging roots — concurrent runs over colliding sf dirs can
  * never clobber each other's staging (same scheme as the bucketed
  * table names in Relational3.join_bucketed).
  *
  * Staging wall time once exceeded execution: [[frame]] and
  * [[onceDir]] memoize DETERMINISTIC staged artifacts JVM-wide, so
  * sibling queries (and bench reps) stop rebuilding identical
  * fixtures — the minhash signature frame, the persisted
  * dedup index, the staged day-files were each built 2-6× per run.
  * Scope rules: memoize ONLY read-only, input-deterministic artifacts
  * (pure functions of (key, sfDir)); anything a query mutates or
  * relies on wiping per run (checkpoint dirs, sinks, restart bases)
  * stays per-query and per-call. Keys embed the Spark applicationId so
  * a frame never outlives its SparkContext, plus the sfDir hash so
  * scale factors can't collide. Attribution note: a shared artifact's
  * build cost lands on whichever query runs FIRST in a bench
  * (BENCH_DETAIL's t_start orders them); later siblings and reps read
  * it for free — that asymmetry is the point, and it mirrors the
  * production lifecycle (build once, serve many).
  *
  * A read-only artifact is written with [[persist]] (one frame) or
  * [[onceDir]] (several parts) and read back with [[read]], which
  * memoizes its schema; per-call dirs keep plain reads.
  */
object Staging {

  /** Per-key once-only holder. Builds run inside the holder's lazy val,
    * NOT inside a ConcurrentHashMap mapping function: computeIfAbsent
    * forbids the mapping function from touching other mappings, and the
    * shared-frame builds are NESTED (sim_ann_ivfpq's fine-codebook build
    * calls Staging.frame for the coarse assignment it depends on). When
    * the inner absent key hashed to the outer key's bin, JDK 9+ threw
    * IllegalStateException("Recursive update") — nondeterministically,
    * because keys embed applicationId. With putIfAbsent + lazy val,
    * map insertion is instant and never re-entered; the winner's lazy
    * val does the build under the holder's own monitor, so per-key
    * build-once locking is preserved and different keys can build
    * freely inside each other. A build that throws leaves the lazy val
    * unset, so the next caller retries it: failures are not memoized. */
  private final class Holder[T](build: () => T) { lazy val value: T = build() }

  private def once[T](map: java.util.concurrent.ConcurrentHashMap[String, Holder[T]],
      key: String)(build: => T): T = {
    val fresh = new Holder[T](() => build)
    val prior = map.putIfAbsent(key, fresh)
    (if (prior == null) fresh else prior).value
  }

  private val frames =
    new java.util.concurrent.ConcurrentHashMap[String, Holder[DataFrame]]()
  private val dirsBuilt =
    new java.util.concurrent.ConcurrentHashMap[String, Holder[String]]()
  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[String, Holder[StructType]]()
  /** `applicationId|root` of every [[onceDir]] build that finished. */
  private val finishedDirs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val buildSecs =
    new java.util.concurrent.ConcurrentHashMap[String, Double]()
  private val buildWindows =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()

  /** Wall seconds each shared artifact's ONE build took this JVM,
    * keyed by `key|suffix(raw)` — the same composite the memo maps use
    * (keying by `key` alone would let the same artifact built for two
    * input dirs in one JVM, as ScaleRehearsal does, overwrite the
    * first build's seconds). Bench publishes these (and
    * adds their sum to its headline total) so memoization cannot
    * under-report: the median-of-reps discards the rep that paid the
    * build, and without this the cost would vanish from the artifact
    * entirely. */
  def sharedBuildSeconds: Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    buildSecs.asScala.toMap
  }

  /** True iff any shared-artifact build COMPLETED inside the nanoTime
    * window [t0, t1] — Bench uses this to flag (and exclude from its
    * medians) the first-consumer rep that paid a shared build, so the
    * build cost lands in the headline exactly once, via
    * `shared_staging_total`, never twice. */
  def buildCompletedIn(t0: Long, t1: Long): Boolean = {
    import scala.jdk.CollectionConverters._
    buildWindows.values.asScala.exists { case (_, end) => end >= t0 && end <= t1 }
  }

  /** Per-thread accumulator of wall seconds spent in NESTED builds
    * inside the currently-running build (builds nest on the caller's
    * thread — shingles3 inside ctidx_shared, mh_sigs inside
    * mhidx_shared). Without it, a parent's recorded seconds INCLUDE
    * every child's full build and `sharedBuildSeconds.sum`
    * double-counts (mhidx_shared once reported 5.6 s of which 4.8 s
    * was the nested mh_sigs build — the shared_staging headline
    * carried both). Each build now records SELF time (its
    * window minus its children's windows), so the sum is the true
    * build wall. Concurrency corner, accepted: a build that BLOCKS on
    * another thread's in-flight build of the same child key records
    * that wait as self time (the child's cost lands on the thread
    * that ran it) — wall is then double-counted across threads, but
    * never within one. */
  private val nestedStack = ThreadLocal.withInitial[java.util.ArrayDeque[Array[Double]]](
    () => new java.util.ArrayDeque[Array[Double]]())

  private def timed[T](key: String)(build: => T): T = {
    val stack = nestedStack.get()
    stack.push(Array(0.0))
    val t0 = System.nanoTime()
    var childSecs = 0.0
    var ok = false
    val out = try { val r = build; ok = true; r } finally {
      // stack hygiene runs even on failure. Parent accumulation runs
      // on the success path below: a child that throws publishes
      // nothing, so if it also credited its window to a parent that
      // CATCHES the exception and completes, the parent would publish
      // self-time excluding wall it actually paid and that time would
      // vanish from sharedBuildSeconds entirely. A caught-failed
      // child's wall stays in the parent's self time — counted once,
      // as paid. Transitivity: a failed child may contain SUCCESSFUL
      // grandchildren that published their own seconds and credited
      // this frame — propagate those on the failure path, or an outer
      // build that catches would count them twice.
      childSecs = stack.pop()(0)
      if (!ok && !stack.isEmpty) stack.peek()(0) += childSecs
    }
    // publish ONLY on success: a build that throws must not land
    // aborted seconds in shared_staging_total, nor a completion window
    // that buildCompletedIn would treat as a paid build when excluding
    // reps from bench medians
    val t1 = System.nanoTime()
    buildSecs.put(key, (t1 - t0) / 1e9 - childSecs)
    buildWindows.put(key, (t0, t1))
    // the parent (if any) subtracts this build's FULL window —
    // grandchildren are already inside it
    if (!stack.isEmpty) stack.peek()(0) += (t1 - t0) / 1e9
    out
  }

  /** JVM-wide memoized eager frame: `build` runs once per
    * (application, key, raw input dir); every later caller gets the
    * SAME DataFrame (callers checkpoint inside `build` so the shared
    * frame is materialized, not a lineage). Per-key build locking via
    * the lazy [[Holder]] — builds may nest across keys (see Holder). */
  def frame(s: SparkSession, key: String, raw: String)(build: => DataFrame): DataFrame =
    once(frames, s"${s.sparkContext.applicationId}|$key|${suffix(raw)}")(
      timed(s"$key|${suffix(raw)}")(build))

  /** JVM-wide memoized staged DIRECTORY: `build(path)` populates it
    * once per (application, key, raw input dir); later callers get the
    * path without rebuilding. Always rebuilt in a fresh JVM — nothing
    * trusts stale tmp content across runs. Once the build returns, the
    * dir is read-only: [[read]] serves it. */
  def onceDir(s: SparkSession, key: String, raw: String)(build: String => Unit): String =
    once(dirsBuilt, s"${s.sparkContext.applicationId}|$key|${suffix(raw)}") {
      val p = timed(s"$key|${suffix(raw)}") { val p = dir(key, raw); build(p); p }
      finishedDirs.add(s"${s.sparkContext.applicationId}|${new java.io.File(p).getPath}")
      p
    }

  /** A one-frame [[onceDir]]: `rows` written as given, in OVERWRITE
    * mode, once per (application, `key`, input dir). Returns its path. */
  def persist(s: SparkSession, key: String, raw: String)(rows: => DataFrame): String =
    onceDir(s, key, raw)(p => rows.write.mode("overwrite").parquet(p))

  /** Read a parquet artifact at or under a finished [[onceDir]] root.
    * Its content never changes after the build, so the schema is
    * memoized ([[schemaOf]]) and a re-read starts no Spark job. A path
    * under no finished root — a per-call dir, a copy that is appended
    * to, a dir still being built — is refused rather than read with a
    * schema that may have gone stale. */
  def read(s: SparkSession, path: String): DataFrame = {
    val app = s.sparkContext.applicationId
    require(Iterator.iterate(new java.io.File(path))(_.getParentFile).takeWhile(_ != null)
        .exists(f => finishedDirs.contains(s"$app|${f.getPath}")),
      s"Staging.read: $path is under no finished onceDir root")
    s.read.schema(schemaOf(s, path)).parquet(path)
  }

  /** Copy a (read-only, typically onceDir-built) template directory to
    * `dst`, preserving each file's mtime — the file-source's replay
    * order rides (mtime, path), so a copy that re-stamped mtimes could
    * reorder micro-batches. Per-sample stream staging that must live
    * inside a wiped root (checkpoints/logs beside it) pays a local file
    * copy instead of re-running its staging Spark jobs.
    *
    * Files HARDLINK to the template: every
    * consumer mutates its copy only by whole-file REPLACE — parquet
    * overwrite/dynamic-partition-overwrite deletes files and writes
    * fresh uniquely-named ones, append adds new part files, wipes
    * unlink — never by in-place modification, so a link is
    * byte-identical to a copy while skipping the data bytes entirely,
    * and the shared inode means mtimes match the template by
    * construction. Falls back to a per-file copy (+ mtime restore)
    * where links are unsupported (e.g. cross-device). */
  def copyTree(spark: SparkSession, src: String, dst: String): Unit = {
    import java.nio.file.{Files, Paths, Path => JPath}
    val s0 = Paths.get(src)
    val t0 = Paths.get(dst)
    def walk(s: JPath, t: JPath): Unit = {
      Files.createDirectories(t)
      val it = Files.newDirectoryStream(s)
      try it.forEach { c =>
        val tt = t.resolve(c.getFileName)
        if (Files.isDirectory(c)) walk(c, tt)
        else {
          Files.deleteIfExists(tt) // the old FileUtil.copy overwrote
          try Files.createLink(tt, c)
          catch { case _: UnsupportedOperationException | _: java.io.IOException =>
            Files.copy(c, tt, java.nio.file.StandardCopyOption.COPY_ATTRIBUTES)
            Files.setLastModifiedTime(tt, Files.getLastModifiedTime(c))
          }
        }
      } finally it.close()
    }
    require(Files.isDirectory(s0), s"copyTree: source $src is not a directory")
    walk(s0, t0)
  }

  /** Memoized schema of a READ-ONLY parquet input: a fixture table or a
    * once-per-JVM template directory, whose content never changes after
    * it is written. Schema inference (a Spark job per call) then runs
    * once per (application, path) instead of once per read. `infer` is
    * the inference to memoize, a plain footer read by default. It runs
    * in a [[Holder]], so no map lock is held during its Spark job, and
    * a failed inference is retried on the next call, not memoized. Do
    * NOT use for per-sample/mutable dirs ([[read]] enforces this for
    * staged artifacts). */
  def schemaOf(s: SparkSession, path: String,
      infer: (SparkSession, String) => StructType =
        (s, p) => s.read.parquet(p).schema): StructType =
    once(schemas, s"${s.sparkContext.applicationId}|$path")(infer(s, path))

  /** Short collision-resistant suffix for `raw` (sanitized + md5-8). */
  def suffix(raw: String): String =
    raw.replaceAll("[^A-Za-z0-9]", "_").toLowerCase + "_" +
      java.security.MessageDigest.getInstance("MD5").digest(raw.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)

  /** Staging root `<tmpdir>/graft_q_<prefix>_<suffix(raw)>`. */
  def dir(prefix: String, raw: String): String =
    s"${sys.props("java.io.tmpdir")}/graft_q_${prefix}_${suffix(raw)}"
}
