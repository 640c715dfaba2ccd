package graft

import org.apache.spark.sql.functions._

/** Scratch probe: attribute the ANN-rebuild straggler IngestStress found
  * at 100k docs (r16) — every slow task was `takeSample at KMeans.scala`
  * inside the IVF rebuild. Candidate causes: (a) the KMeans input lineage
  * (parquet scan + array_to_vector) recomputing per init/iteration pass,
  * (b) the sample itself. Arms time the scan, the distinct-count guard,
  * the shipped uncached fit, and a fit over a persisted features frame.
  *
  *   tools/run.sh graft.AnnRebuildProbe <chunkStoreParquetDir>
  */
object AnnRebuildProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = graft.core.GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    val df = spark.read.parquet(dir)
    println(s"rows=${df.count()} cols=${df.columns.mkString(",")}")
    // max task DURATION per arm — the straggler metric the r16/r17 verdict
    // asks about (the k-means|| init pass owns the slowest tasks)
    val maxTask = new java.util.concurrent.atomic.AtomicLong()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskInfo != null)
          maxTask.getAndAccumulate(t.taskInfo.duration, math.max(_, _)): Unit
    })
    def t(name: String)(body: => Unit): Unit = {
      for (i <- 1 to 2) {
        maxTask.set(0L)
        val s0 = graft.core.StealSampler.snapshot()
        val t0 = System.nanoTime()
        body
        val sec = (System.nanoTime() - t0) / 1e9
        val steal = graft.core.StealSampler.pct(s0, graft.core.StealSampler.snapshot())
        Thread.sleep(300) // listener bus drain
        println(f"$name run$i $sec%.2f s maxTask=${maxTask.get / 1e3}%.1fs steal=$steal%.1f%%")
      }
    }
    t("scan_vec_only") {
      df.select("vector").write.format("noop").mode("overwrite").save()
    }
    t("distinct_guard") {
      df.select(xxhash64(col("vector")).as("_h")).distinct().count(): Unit
    }
    t("fit_uncached (shipped shape)") {
      graft.ops.Similarity.buildIvfCols(df, Seq("filePath", "chunkIndex"),
        "vector", nLists = 16).assignments
        .write.format("noop").mode("overwrite").save()
    }
    t("fit_cached_projection") {
      val slim = df.select(col("filePath"), col("chunkIndex"), col("vector"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try graft.ops.Similarity.buildIvfCols(slim, Seq("filePath", "chunkIndex"),
        "vector", nLists = 16).assignments
        .write.format("noop").mode("overwrite").save()
      finally slim.unpersist(blocking = true)
    }
    // r17 A/B: the sampled coarse-quantizer fit (default above the 256k cap)
    // vs the full fit forced via an unreachable cap — the r16 VERDICT #3
    // ask: cap the KMeans init straggler with a corpus-size-independent fit
    def fitArm(name: String, cap: Int): Unit = t(name) {
      val slim = df.select(col("filePath"), col("chunkIndex"), col("vector"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try graft.ops.Similarity.buildIvfCols(slim, Seq("filePath", "chunkIndex"),
        "vector", nLists = 16, fitSampleCap = cap).assignments
        .write.format("noop").mode("overwrite").save()
      finally slim.unpersist(blocking = true)
    }
    fitArm("fit_full_forced", Int.MaxValue)
    fitArm("fit_sampled_256k", graft.ops.Similarity.IvfFitSampleCap)
    // the write leg (IngestStress straggler #2: 33-45 s tasks in the
    // partitionBy("list_id") parquet write while p95 was 2.2 s)
    def writeArm(name: String)(rows: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Unit =
      t(name) {
        val slim = df.select(col("filePath"), col("chunkIndex"), col("vector"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val a = graft.ops.Similarity.buildIvfCols(slim,
            Seq("filePath", "chunkIndex"), "vector", nLists = 16).assignments
          rows(a).write.partitionBy("list_id").mode("overwrite")
            .parquet(s"/tmp/ann_probe_write_${name.hashCode}")
        } finally slim.unpersist(blocking = true)
      }
    writeArm("write_asis")(identity)
    writeArm("write_repartitioned")(
      _.repartition(spark.sparkContext.defaultParallelism))
    spark.stop()
  }
}
