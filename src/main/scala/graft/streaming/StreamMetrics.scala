package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** A25 (structured logging) completed for the streaming surface: a
  * [[StreamingQueryListener]] that emits ONE structured JSON log line
  * per micro-batch (query, batch id, input rows, trigger duration,
  * rows/s) plus start/stop lines — the engine twin of the reference's
  * per-load metrics logging (/root/reference/src/utils/
  * bigquery_helper.py:141-147), but event-driven instead of inline.
  *
  * Scale notes: the listener runs on the driver's listener bus —
  * per-BATCH granularity (not per-row), so its cost is O(batches) and
  * independent of data volume. A bounded in-memory ring of recent
  * metrics backs tests and post-run audit ([[recent]]); the log lines
  * are the durable record. Attachment is idempotent and session-wide,
  * so every judged stream — batch-twin queries and the real restart
  * protocols alike — reports through the same channel.
  */
object StreamMetrics {

  /** One micro-batch observation. `triggerMs` is the full trigger
    * execution wall time; `inputRows` the batch's source rows;
    * `stateRows` the total buffered state rows across the batch's
    * stateful operators (−1 when the query is stateless) — the
    * streaming join family's TRUE scaling axis (per-trigger wall
    * fitted ~linear in state residency at exponent 0.75 once eviction
    * lags: PLANS.md round 17, "Fourth curve, follow-up: the retention
    * axis re-staged"), so it is recorded per batch and spec-gated
    * against the watermark-implied bound (round-18 verdict task 6).
    * `stateCommitMs` sums the state operators' commit time (−1 when
    * stateless) and `stateLoadMs` the RocksDB provider's
    * `rocksdbLoadLatencyMs` (−1 when no operator reports it, as on the
    * default store): on RocksDB the per-partition native open, not
    * trigger work, can dominate a small drain's wall. */
  final case class BatchMetric(query: String, batchId: Long, inputRows: Long,
      triggerMs: Long, rowsPerSec: Double, stateRows: Long,
      stateCommitMs: Long, stateLoadMs: Long)

  private val log = org.slf4j.LoggerFactory.getLogger("graft.streaming.metrics")
  private val ring = new java.util.concurrent.ConcurrentLinkedQueue[BatchMetric]()
  private val attached = new java.util.concurrent.atomic.AtomicBoolean(false)
  private val RingCap = 4096   // bounded: old entries roll off, log lines persist

  // JVM-cumulative trigger meter (round-11 verdict item 8): ~20
  // stream_* bench queries carry a 1-3 s micro-batch scheduling floor
  // that tracks host speed and dominates their measurement. Bench
  // snapshots these around each sample and publishes the per-query
  // delta (trigger count + total trigger-execution wall) so a
  // round-over-round streaming swing is attributable from the
  // artifact: constant triggers + rising trigger wall = host drift;
  // changed trigger count = a real pipeline change.
  private val trigCount = new java.util.concurrent.atomic.AtomicLong()
  private val trigMs = new java.util.concurrent.atomic.AtomicLong()

  /** (micro-batches executed, total triggerExecution ms) since JVM
    * start — monotonic; consumers diff two snapshots. */
  def cumulativeTriggers: (Long, Long) = (trigCount.get, trigMs.get)

  private val listener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit =
      log.info(s"""{"stream":"${Option(e.name).getOrElse(e.id.toString)}","event":"started","run_id":"${e.runId}"}""")

    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val ops = p.stateOperators.toSeq
      val loads = ops.flatMap(o => Option(o.customMetrics.get("rocksdbLoadLatencyMs")))
      val m = BatchMetric(
        Option(p.name).getOrElse(p.id.toString), p.batchId, p.numInputRows,
        Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(-1L),
        p.processedRowsPerSecond,
        if (ops.isEmpty) -1L else ops.map(_.numRowsTotal).sum,
        if (ops.isEmpty) -1L else ops.map(_.commitTimeMs).sum,
        if (loads.isEmpty) -1L else loads.map(_.longValue).sum)
      ring.add(m)
      while (ring.size > RingCap) ring.poll()
      trigCount.incrementAndGet()
      trigMs.addAndGet(math.max(m.triggerMs, 0L))
      log.info(s"""{"stream":"${m.query}","event":"progress","batch":${m.batchId},"input_rows":${m.inputRows},"trigger_ms":${m.triggerMs},"rows_per_sec":${m.rowsPerSec},"state_rows":${m.stateRows},"state_commit_ms":${m.stateCommitMs},"state_load_ms":${m.stateLoadMs}}""")
    }

    override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
      log.info(s"""{"stream":"${e.id}","event":"terminated","failed":${e.exception.isDefined}}""")
  }

  /** Attach the listener to `spark` (idempotent — at most once per JVM;
    * all sessions in this project share the one local JVM). */
  def attach(spark: SparkSession): Unit =
    if (attached.compareAndSet(false, true)) spark.streams.addListener(listener)

  /** Captured metrics for queries whose name starts with `prefix`
    * (memory-sink query names carry per-run suffixes), oldest first. */
  def forQuery(prefix: String): Seq[BatchMetric] = {
    import scala.jdk.CollectionConverters._
    ring.iterator().asScala.filter(_.query.startsWith(prefix)).toSeq
  }
}
