package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Fixture-table loaders (TESTDATA.md / FIXTURES.md §A).
  *
  * All reads are plain parquet scans so Catalyst's column pruning and
  * predicate pushdown reach the file source (check `PushedFilters` /
  * `ReadSchema` in `.explain("formatted")`). At 100 TB these paths would
  * be Hive-style partitioned directories instead of single files; the
  * loaders keep that swap local to this object.
  *
  * `events.ts` has shipped under more than one physical encoding
  * (TIMESTAMP(NANOS) through round 6, TIMESTAMP(MICROS, ntz) since —
  * the round-7 fixture drift that broke 27 queries). A real engine
  * reads the type it finds, so the loader is TYPE-ADAPTIVE: it
  * inspects the observed `ts` dataType and normalizes every encoding
  * to one canonical session-UTC TimestampType (µs). All event
  * consumers — batch, stream-schema derivation, staging — go through
  * [[normalizeEventTs]]; no call site assumes an encoding.
  *
  * Fixture files are read-only inputs, so [[table]] and [[events]] read
  * with a schema memoized per (application, path) (`Staging.schemaOf`)
  * instead of inferring it again, one Spark job, on every read.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.read.schema(Staging.schemaOf(spark, path)).parquet(path)
  }

  def region(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def documents(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** Read parquet event files WITHOUT normalizing `ts` — the staging /
    * glob-listing path, where bytes should round-trip as-is. Runs under
    * a scoped `nanosAsLong` so a TIMESTAMP(NANOS)-encoded file still
    * resolves a schema (as LongType ns) instead of failing analysis;
    * for MICROS/NTZ encodings the conf is a no-op. The conf is scoped
    * (set/restore via ConfScope), never left pinned on the session —
    * no query's behavior depends on which query ran before it.
    * With `schema` given, the read skips inference and uses it. */
  def readRawEvents(spark: SparkSession, path: String,
      schema: Option[StructType] = None): DataFrame =
    graft.operators.ConfScope.withConf(spark,
      Map("spark.sql.legacy.parquet.nanosAsLong" -> "true")) {
      // schema inference happens eagerly here, inside the scope; the
      // returned plan carries the resolved schema so later lazy
      // execution does not re-consult the conf.
      // mergeSchema=true reads EVERY footer (parallel, executor-side)
      // instead of trusting one representative file: a directory
      // mixing ts encodings (some files int64-ns, some µs — the next
      // plausible fixture drift) must fail schema-merge LOUDLY at
      // analysis. Without it, single-footer inference reads the other
      // encoding's int64 raw and silently produces 1970-era
      // timestamps — the exact round-7 silent-corruption class
      // (EventTsSpec proves both directions).
      val reader = spark.read.option("mergeSchema", "true")
      schema.fold(reader)(s => reader.schema(s)).parquet(path)
    }

  /** Normalize an events DataFrame's `ts` column to canonical
    * session-UTC TimestampType (µs), whatever physical encoding the
    * file arrived with:
    *   - LongType            → int64 epoch-NANOS (the pre-round-7
    *     encoding read under nanosAsLong, or a plain int64 staged
    *     file): floor-divide ns→µs — the same truncation DuckDB
    *     applies on CAST(ts AS TIMESTAMP), keeping oracle parity.
    *   - TimestampNTZType    → MICROS with isAdjustedToUTC=false (the
    *     current fixture): reinterpret the wall-clock as UTC (session
    *     tz is pinned UTC in Verify/Bench), matching DuckDB's naive
    *     TIMESTAMP read of the same file.
    *   - TimestampType       → already canonical.
    * Anything else fails loudly — a new drift must crash analysis with
    * a named error, not feed wrong instants downstream. */
  def normalizeEventTs(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case LongType         => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
    case TimestampType    => df
    case other => throw new IllegalStateException(
      s"events.ts arrived as unsupported type $other — extend Tables.normalizeEventTs")
  }

  /** events with `ts` normalized to canonical TimestampType — see
    * [[normalizeEventTs]] for the encoding matrix. The memoized schema
    * is [[readRawEvents]]' own inference (every footer, `nanosAsLong`). */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    val schema = Staging.schemaOf(spark, path, (s, p) => readRawEvents(s, p).schema)
    normalizeEventTs(readRawEvents(spark, path, Some(schema)))
  }
}
