package graft

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Shuffle/scan audit: runs named queries under a SparkListener and reports
  * bytes READ from storage vs bytes SHUFFLED — the measured form of
  * SCALE.md's central claim that shuffle volume is bounded by keys/outputs,
  * not input size (map-side combine, broadcast dims, banded joins).
  * Dev/evidence tool like Scratch, not part of the driver contract. */
object Audit {
  def main(args: Array[String]): Unit = {
    val spark = graft.sources.Sessions.localFromEnv(logLevel = "ERROR")
    val d = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val names =
      if (args.length > 1 && args(1) == "ALL") SparkEntry.queries.keys.toSeq.sorted
      else if (args.length > 1) args.drop(1).toSeq
      else Seq("wordcount_full", "agg_pricing_summary", "join_multiway",
        "supplier_revenue", "dedup_minhash", "dedup_simhash_pairs", "sim_lsh_topk")
    // On-disk table sizes give the input-scale denominator (the stage-level
    // inputMetrics are not populated by the vectorized parquet reader in
    // local mode, so shuffle bytes are compared against storage size).
    for (t <- Seq("lineitem", "orders", "documents", "embeddings")) {
      val f = new java.io.File(s"$d/$t.parquet")
      if (f.exists())
        println(f"[audit] table $t%-18s on-disk ${f.length() / 1048576.0}%8.2f MB")
    }
    val shuffle = new AtomicLong(0)
    val shuffleRecs = new AtomicLong(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val m = sc.stageInfo.taskMetrics
        if (m != null) {
          shuffle.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          shuffleRecs.addAndGet(m.shuffleWriteMetrics.recordsWritten)
        }
      }
    })
    // BUILD probes: product builds are not declared queries (consumers
    // scan the stored artifact), but their shuffle volume is exactly what
    // the 100 TB posture claims bound — auditable here by name.
    val builders: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] =
      Map(
        "build_navgraph" -> ((s, dir) =>
          graft.operators.Similarity.navGraphBuild(s, dir)),
        "build_knngraph" -> ((s, dir) =>
          graft.operators.Similarity.knnGraphDf(
            graft.sources.Tables.embeddings(s, dir))),
        "build_navdelta" -> ((s, dir) =>
          graft.operators.Similarity.navInsertDf(
            graft.sources.Tables.embeddings(s, dir))))
    def queryOf(name: String) =
      builders.getOrElse(name, SparkEntry.queries(name))
    for (name <- names) {
      // Warm once so codegen/footer costs don't add stages to the audit run.
      queryOf(name)(spark, d).write.format("noop").mode("overwrite").save()
      spark.catalog.clearCache()
      // Listener events post asynchronously (the bus drain API is
      // private[spark]); settle BEFORE zeroing as well as after the measured
      // run, so straggler warm-up stage events can't land after the reset
      // and inflate the measured numbers.
      Thread.sleep(1000)
      shuffle.set(0); shuffleRecs.set(0)
      queryOf(name)(spark, d).write.format("noop").mode("overwrite").save()
      spark.catalog.clearCache()
      Thread.sleep(1000)
      println(f"[audit] $name%-24s shuffleWrite=${shuffle.get / 1024.0}%10.1f KB  (${shuffleRecs.get}%,d records)")
    }
    spark.stop()
  }
}
