package graft
import org.apache.spark.sql.SparkSession

/** Dev scratch runner (not part of the driver contract). */
object Scratch {
  def main(args: Array[String]): Unit = {
    val spark = graft.sources.Sessions.localFromEnv(logLevel = "ERROR")
    val d = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    if (args.length > 1 && args(1) == "time") {
      // Repeat-time one query in a warm JVM: where did the floor go?
      val name = args(2)
      val q = SparkEntry.queries(name)
      for (i <- 1 to 3) {
        val t0 = System.nanoTime()
        q(spark, d).write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()
        println(f"[scratch] $name rep$i ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
      spark.stop(); return
    }
    if (args.length > 1 && args(1) == "jobs") {
      // Per-JOB decomposition of one query (or product build) in a warm
      // JVM: which sequential driver actions the wall-clock goes to.
      val name = args(2)
      val q: (SparkSession, String) => org.apache.spark.sql.DataFrame =
        name match {
          case "build_navgraph" => (s, dir) =>
            graft.operators.Similarity.navGraphBuild(s, dir)
          case "build_navdelta" => (s, dir) =>
            graft.operators.Similarity.navInsertDf(
              graft.sources.Tables.embeddings(s, dir))
          case _ => SparkEntry.queries(name)
        }
      // warm pass
      q(spark, d).write.format("noop").mode("overwrite").save()
      spark.catalog.clearCache()
      try graft.sources.ArtifactCache.evictDerivedFrom(Seq(d)): Unit
      catch { case _: Throwable => () }
      val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Long, String)]()
      val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          val site = j.stageInfos.lastOption.map(_.name).getOrElse("?")
          starts.put(j.jobId, (j.time, site)): Unit
        }
        override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          val (t0, site) = starts.getOrDefault(j.jobId, (j.time, "?"))
          jobs.add((j.jobId, t0, j.time, site)): Unit
        }
      })
      for (rep <- 1 to 2) {
        jobs.clear()
        val t0 = System.nanoTime()
        q(spark, d).write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()
        val total = (System.nanoTime() - t0) / 1e9
        Thread.sleep(1000)
        import scala.jdk.CollectionConverters._
        val js = jobs.asScala.toSeq.sortBy(_._2)
        val first = if (js.nonEmpty) js.map(_._2).min else 0L
        println(f"[scratch] $name rep$rep total $total%.2f s, ${js.size} jobs")
        for ((id, s0, e0, site) <- js if e0 - s0 >= 100)
          println(f"[scratch]   job $id%3d  +${(s0 - first) / 1000.0}%7.2f s  dur ${(e0 - s0) / 1000.0}%6.2f s  ${site.take(90)}")
        // gap report: driver-side dead time between consecutive jobs
        val sorted = js.sortBy(_._2)
        for (i <- 1 until sorted.size) {
          val gap = sorted(i)._2 - sorted.take(i).map(_._3).max
          if (gap >= 400)
            println(f"[scratch]   GAP ${gap / 1000.0}%6.2f s before job ${sorted(i)._1}%3d (+${(sorted(i)._2 - first) / 1000.0}%7.2f) ${sorted(i)._4.take(80)}")
        }
      }
      spark.stop(); return
    }
    if (args.length > 1 && args(1) == "explain-to") {
      // Dump explain("formatted") for many queries into a directory —
      // the optimization rounds' before/after plan evidence
      // (plans/rNN/<query>_{before,after}.txt).
      val outDir = args(2)
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
      for (name <- args.drop(3)) {
        val df = SparkEntry.queries(name)(spark, d)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"$name.txt"),
          plan.getBytes("UTF-8"))
        spark.catalog.clearCache()
        println(s"[scratch] wrote $outDir/$name.txt")
      }
      spark.stop(); return
    }
    if (args.length > 1 && args(1) == "explain") {
      args.drop(2).headOption.flatMap(SparkEntry.queries.get) match {
        case Some(q) => q(spark, d).explain("formatted")
        case None => println(
          s"usage: Scratch <sfDir> explain <query>; known queries: " +
            SparkEntry.queries.keys.toSeq.sorted.mkString(", "))
      }
      spark.stop(); return
    }
    if (args.length > 1 && args(1) == "beam") {
      import org.apache.spark.sql.Row
      val brute = graft.operators.Similarity.bruteTopK(spark, d)
        .select("qid", "cid").collect().map { case Row(q: Long, c: Long) => (q, c) }.toSet
      for (beam <- Seq(8, 16, 32); rounds <- Seq(3, 4, 6)) {
        val g = graft.operators.Similarity.graphTopK(spark, d, beam = beam, rounds = rounds)
          .select("qid", "cid").collect().map { case Row(q: Long, c: Long) => (q, c) }.toSet
        spark.catalog.clearCache()
        println(f"[scratch] beam=$beam rounds=$rounds recall@5=${brute.count(g.contains).toDouble / brute.size}%.3f")
      }
      spark.stop(); return
    }
    if (args.length > 1 && args(1) == "layered-sweep") {
      import org.apache.spark.sql.Row
      val brute = graft.operators.Similarity.bruteTopK(spark, d)
        .select("qid", "cid").collect().map { case Row(q: Long, c: Long) => (q, c) }.toSet
      spark.catalog.clearCache()
      for (rounds <- 3 to 8) {
        def recall(df: org.apache.spark.sql.DataFrame): Double = {
          val g = df.select("qid", "cid").collect()
            .map { case Row(q: Long, c: Long) => (q, c) }.toSet
          spark.catalog.clearCache()
          brute.count(g.contains).toDouble / brute.size
        }
        val ex = recall(graft.operators.Similarity
          .graphLayeredTopK(spark, d, rounds = rounds))
        val ba = recall(graft.operators.Similarity
          .graphLayeredBandedTopK(spark, d, rounds = rounds))
        println(f"[scratch] layered rounds=$rounds exact=$ex%.3f banded=$ba%.3f")
      }
      spark.stop(); return
    }
    if (args.length > 1 && args(1) == "fixture-debug") {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.functions._
      val c = graft.sources.Tables.embeddings(spark, d)
      val n = c.count()
      val rows = graft.operators.Similarity.bandRowsFor(n)
      println(s"[scratch] n=$n bandRows=$rows")
      val keys = graft.operators.Similarity.bandedKeys(
        c.select(col("vec_id"),
          graft.functions.Fns.toDoubleArr(col("embedding")).as("v")), 8, rows)
      val occ = keys.groupBy("band_idx", "band_key").count()
      occ.select(col("band_idx"), col("count"))
        .groupBy("band_idx")
        .agg(count(lit(1)).as("buckets"), max("count").as("max_occ"),
          expr("percentile_approx(count, 0.5)").as("med_occ"),
          sum(when(col("count") > graft.operators.Similarity.KnnBucketCap,
            col("count")).otherwise(0L)).as("dropped_rows"))
        .orderBy("band_idx").show(8, false)
      val brute = graft.operators.Similarity.bruteTopK(spark, d)
        .select("qid", "cid").collect().map { case Row(q: Long, cc: Long) => (q, cc) }
      val knn = graft.operators.Similarity.knnGraphShared(spark, d)
        .filter(col("src") < 10).select("src", "dst").collect()
        .map { case Row(s0: Long, d0: Long) => (s0, d0) }
      val bruteSet = brute.toSet
      println(s"[scratch] q-knn edges hitting brute-top5: " +
        s"${knn.count(bruteSet.contains)} of ${knn.length} (brute rows ${brute.length})")
      val conn = graft.operators.Similarity.graphConnectivityEval(spark, d)
        .collect().map { case Row(h: Long, r: Long, f: Long) => s"hop$h=$r($f)" }
      println(s"[scratch] connectivity: ${conn.mkString(" ")}")
      // The motivating before/after: kNN edge count under the r15 fixed
      // 4-bit geometry vs the rule's — at 64K the fixed keys put every
      // bucket past KnnBucketCap and the graph empties.
      val emb = c.select(col("vec_id"),
        col("embedding").cast("array<double>").as("embedding"))
      val fixedEdges = graft.operators.Similarity
        .knnGraphDf(emb, rows = 4).count()
      val ruleEdges = graft.operators.Similarity
        .knnGraphDf(emb, rows = rows).count()
      println(s"[scratch] knn edges fixed-4bit=$fixedEdges rule-${rows}bit=$ruleEdges")
      spark.stop(); return
    }
    if (args.length > 1 && args(1) == "hier-check") {
      import org.apache.spark.sql.Row
      val brute = graft.operators.Similarity.bruteTopK(spark, d)
        .select("qid", "cid").collect().map { case Row(q: Long, c: Long) => (q, c) }.toSet
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val h = graft.operators.Similarity.graphHierTopK(spark, d)
        .select("qid", "cid").collect().map { case Row(q: Long, c: Long) => (q, c) }.toSet
      println(f"[scratch] hier recall@5=${brute.count(h.contains).toDouble / brute.size}%.3f " +
        f"in ${(System.nanoTime() - t0) / 1e9}%.2f s")
      spark.stop(); return
    }
    if (args.length > 1 && args(1) == "banded-knobs") {
      import org.apache.spark.sql.Row
      val brute = graft.operators.Similarity.bruteTopK(spark, d)
        .select("qid", "cid").collect().map { case Row(q: Long, c: Long) => (q, c) }.toSet
      spark.catalog.clearCache()
      for (beam <- Seq(24, 32, 40); rounds <- Seq(5, 6)) {
        val g = graft.operators.Similarity
          .graphLayeredBandedTopK(spark, d, beam = beam, rounds = rounds)
          .select("qid", "cid").collect()
          .map { case Row(q: Long, c: Long) => (q, c) }.toSet
        spark.catalog.clearCache()
        println(f"[scratch] banded beam=$beam rounds=$rounds recall=${brute.count(g.contains).toDouble / brute.size}%.3f")
      }
      spark.stop(); return
    }
    if (args.length > 1 && args(1) == "pq-eta") {
      import org.apache.spark.sql.Row
      val brute = graft.operators.Similarity.bruteTopK(spark, d)
        .select("qid", "cid").collect().map { case Row(q: Long, c: Long) => (q, c) }.toSet
      for (eta <- Seq(1, 2, 3); it <- Seq(1, 2, 3, 4)) {
        val adc = graft.operators.Similarity.pqTrainedAdcTopK(spark, d, eta = eta, iters = it)
          .select("qid", "cid").collect().map { case Row(q: Long, c: Long) => (q, c) }.toSet
        spark.catalog.clearCache()
        println(f"[scratch] pq eta=$eta iters=$it raw-ADC recall@5=${brute.count(adc.contains).toDouble / brute.size}%.3f")
      }
      spark.stop(); return
    }
    if (args.length > 1 && args(1) == "ivfpq-recall") {
      import org.apache.spark.sql.Row
      def pairs(df: org.apache.spark.sql.DataFrame) =
        df.select("qid", "cid").collect()
          .map { case Row(q: Long, c: Long) => (q, c) }.toSet
      val brute = graft.operators.Similarity.bruteTopK(spark, d)
        .select(org.apache.spark.sql.functions.col("qid"), org.apache.spark.sql.functions.col("cid"))
        .collect().map { case Row(q: Long, c: Long) => (q, c) }.toSet
      spark.catalog.clearCache()
      for ((name, df) <- Seq(
          "stub-composed" -> graft.operators.Similarity.ivfPqTopK(spark, d),
          "trained-composed" -> graft.operators.Similarity.ivfPqTrainedTopK(spark, d),
          "pq-trained" -> graft.operators.Similarity.pqTrainedTopK(spark, d))) {
        val r = brute.count(pairs(df).contains).toDouble / brute.size
        spark.catalog.clearCache()
        println(f"[scratch] ivfpq $name recall@5=$r%.3f")
      }
      spark.stop(); return
    }
    if (args.length > 1 && args(1) == "cc24plan") {
      // The §2.4 evidence fragment for SCALE.md: one CC round's physical
      // plan with broadcasting disabled — the cached hash(b) edge list
      // enters the round join with NO exchange on its side.
      import org.apache.spark.sql.functions.{col, least, min}
      import spark.implicits._
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("d1", "d2")
      val edges = graft.operators.Dedup.ccEdgeCache(pairs)
      val labels0 = edges.groupBy("a").agg(min("b").as("nmin"))
        .select(col("a").as("id"), least(col("nmin"), col("a")).as("label"))
        .localCheckpoint(true)
      val (next, _) = graft.operators.Dedup.ccRound(edges, labels0)
      println(next.queryExecution.executedPlan.toString)
      spark.stop(); return
    }
    if (args.length > 1 && args(1) == "navplan") {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val build = graft.operators.Similarity.navGraphBuild(spark, d)
      val plan = build.queryExecution.executedPlan.toString
      plan.linesIterator.zipWithIndex.foreach { case (l, i) =>
        if (l.contains("BroadcastExchange"))
          println(s"[scratch] L$i: ${l.trim.take(200)}")
      }
      java.nio.file.Files.write(java.nio.file.Paths.get("/tmp/navplan.txt"),
        plan.getBytes("UTF-8"))
      println(s"[scratch] plan dumped, " +
        s"${"BroadcastExchange".r.findAllIn(plan).length} broadcasts")
      spark.stop(); return
    }
    if (args.length > 1 && args(1) == "bpe-passes") {
      val docs = graft.sources.Tables.documents(spark, d)
      for (b <- Seq(1, 8)) {
        val t0 = System.nanoTime()
        val (tab, passes) = graft.operators.TextAnalytics.vocabTrainRaw(docs, 12, b)
        println(f"[scratch] bpe batch=$b merges=${tab.size} passes=$passes " +
          f"${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
      spark.stop(); return
    }
    val names = if (args.length > 1) args.drop(1).toSeq else Seq("dedup_clusters")
    for (name <- names; rep <- 1 to 3) {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, d).write.format("noop").mode("overwrite").save()
      spark.catalog.clearCache()
      println(f"[scratch] $name rep$rep ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
