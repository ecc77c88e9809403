package graft

import graft.streaming.{EventStreams, StatefulOps, StreamMetrics}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

class StatefulOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  lazy val streamDir: String = {
    val d = Files.createTempDirectory("graft_stateful")
    Files.copy(java.nio.file.Paths.get(s"${TestSpark.sf0001}/events.parquet"),
      d.resolve("part-0.parquet"))
    d.toString
  }

  test("flatMapGroupsWithState: running per-user stats with activity flag") {
    // once on the default state store (the judged stream_stateful_counts)
    // and once on RocksDB (the provider the state-v2 streams require):
    // the same update set either way
    def run(name: String, extra: Map[String, String]) = {
      val in = EventStreams.readEvents(spark, streamDir)
        .select(col("user_id"), col("event_id"), col("value"))
        .as[StatefulOps.EventIn]
      val updates = EventStreams.withStreamConf(spark, extra = extra) {
        EventStreams.runToBatch(spark,
          StatefulOps.runningUserStats(in, threshold = 5).toDF(),
          name, outputMode = "append")
      }
      // one update per input event
      assert(updates.count() === 1000L)
      // final per-user counts match a batch groupBy
      val finalCounts = updates.groupBy("user_id").agg(max("n_events").as("n"))
      val batchCounts = Tables.events(spark, TestSpark.sf0001)
        .groupBy("user_id").agg(count(lit(1)).as("n"))
      assert(finalCounts.join(batchCounts, Seq("user_id"))
        .filter(finalCounts("n") =!= batchCounts("n")).count() === 0)
      // flag flips exactly at the threshold, monotonically
      assert(updates.filter(col("n_events") >= 5 && !col("high_activity")).count() === 0)
      assert(updates.filter(col("n_events") < 5 && col("high_activity")).count() === 0)
      // progress events reach the listener asynchronously
      def stateful() = StreamMetrics.forQuery(name).filter(_.stateRows >= 0)
      val deadline = System.currentTimeMillis() + 10000L
      while (stateful().isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(50)
      val ms = stateful()
      assert(ms.nonEmpty, s"$name: no stateful batch metrics captured")
      (updates, ms)
    }
    val (hdfs, hdfsMs) = run("running_stats_default", Map.empty)
    val (rocks, rocksMs) = run("running_stats_rocksdb", EventStreams.RocksDbState)
    assert(hdfs.exceptAll(rocks).isEmpty && rocks.exceptAll(hdfs).isEmpty,
      "default and RocksDB state stores emitted different update sets")
    assert(hdfsMs.forall(_.stateLoadMs == -1L), s"default store reported a RocksDB load: $hdfsMs")
    assert(rocksMs.forall(_.stateLoadMs >= 0L), s"RocksDB load latency missing: $rocksMs")
  }

  test("foreachBatch idempotent sink converges under replay") {
    val target = Files.createTempDirectory("graft_sink").toString + "/merged"
    def runOnce(): Unit = {
      val stream = EventStreams.readEvents(spark, streamDir)
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val q = StatefulOps.idempotentSink(stream, target,
        keys = Seq("event_id"), orderCol = "ts", tiebreaks = Seq("user_id"))
        .option("checkpointLocation", Files.createTempDirectory("graft_ckpt").toString)
        .start()
      q.processAllAvailable(); q.stop()
    }
    runOnce()
    val afterFirst = spark.read.parquet(target).count()
    runOnce()   // fresh checkpoint → the whole input replays
    val afterReplay = spark.read.parquet(target).count()
    assert(afterFirst === 1000L)
    assert(afterReplay === 1000L, "replay must not duplicate rows")
  }
}
