package graft
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Round-19 diagnostic main (not judged, not benched): run named
  * queries under the bench configuration while a listener prints every
  * micro-batch's FULL `durationMs` breakdown (addBatch, getBatch,
  * latestOffset, queryPlanning, walCommit, commitOffsets,
  * triggerExecution) plus state-operator commit times — the evidence
  * base for attributing the stream family's per-trigger floor (guide
  * §1: measure first). Usage:
  *   sbt "runMain graft.StreamTriggerProfile stream_kmeans_assign ..."
  */
object StreamTriggerProfile {
  def main(args: Array[String]): Unit = {
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession()
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val p = e.progress
        import scala.jdk.CollectionConverters._
        val dur = p.durationMs.asScala.toSeq.sortBy(-_._2)
          .map { case (k, v) => s"$k=$v" }.mkString(" ")
        val st = p.stateOperators.map(o =>
          s"{rows=${o.numRowsTotal} commitMs=${o.commitTimeMs}}").mkString(",")
        println(s"[trigprof] ${Option(p.name).getOrElse(p.id)} batch=${p.batchId} " +
          s"rows=${p.numInputRows} $dur state=$st")
      }
    })
    for (name <- args) {
      println(s"================ $name")
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sf)
        .write.format("noop").mode("overwrite").save()
      println(f"[trigprof] $name total=${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
