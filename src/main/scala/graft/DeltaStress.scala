package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{Materialize, StealSampler, TaskMetricsCollector}
import graft.store.CleanStateStore

/** Does d_delta_pipeline's cost follow the BATCH or the accumulated state?
  * (r16 VERDICT #2's done-gate: shuffle bytes quoted at 1× vs 10× state.)
  *
  *   SPARK_GRAFT_CPUS=32 tools/run.sh graft.DeltaStress <baseSfDir> <workDir> [factor=10]
  *
  * Builds CleanStateStore state over the stored corpus at 1× and at
  * ~factor×, then applies the SAME sync batch to both and records
  * wall/shuffle/spill (+ concurrent host-steal, the PERF.md ritual) for:
  *  - `delta`: the incremental stages themselves (batch quality → exact →
  *    near → decontamination + revocation probe), materialized via
  *    finalNew/revoked counts — the work whose cost must NOT scale with
  *    state;
  *  - `survivors`: the full union survivor output — its SCAN is
  *    corpus-sized by definition (the answer is the corpus), so its wall
  *    grows with state while its SHUFFLE stays batch-sized.
  *
  * Inflation must grow the SURVIVING state (verbatim ×N copies would be
  * exact-dedup'd away and salted copies near-dedup'd away), so copy k > 0
  * deterministically PERMUTES each document's words (seeded Fisher-Yates):
  * same vocabulary and length (quality-identical), disjoint 5-shingles
  * (no cross-copy near-dups, and the bounded-word-list testdata quirk does
  * not apply — the shingle universe grows with permutations). Batch ids sit
  * above every inflated stored id (the applyBatch ordering contract). */
object DeltaStress {

  def main(args: Array[String]): Unit = {
    val baseDir = args(0)
    val workDir = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = graft.core.GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")

    val permute = udf { (text: String, salt: Long) =>
      val ws = text.split("\\s+")
      val r = new scala.util.Random(salt)
      var i = ws.length - 1
      while (i > 0) {
        val j = r.nextInt(i + 1)
        val t = ws(i); ws(i) = ws(j); ws(j) = t
        i -= 1
      }
      ws.mkString(" ")
    }

    // the inflated corpus is WRITTEN once and read back as parquet: in
    // production the stored corpus is a table, and the delta path's one
    // corpus touch (the candidate-id semi-join) reads it at scan speed —
    // leaving the permute UDF in the lineage would charge the probe 10×
    // synthetic text generation per run and misattribute it to the engine
    def stored(copies: Int): DataFrame = {
      val dir = s"$workDir/stored_x$copies"
      if (!new java.io.File(dir).exists()) {
        val base = graft.queries.DedupQueries.dupCorpus(spark, baseDir)
          .filter(col("doc_id") < 200000)
        (0 until copies).map { k =>
          if (k == 0) base
          else base
            .withColumn("doc_id", col("doc_id") + lit(k.toLong * 1000000L))
            .withColumn("text", permute(col("text"), col("doc_id")))
        }.reduce(_ union _).write.parquet(dir)
      }
      spark.read.parquet(dir)
    }
    // the SAME batch against both states, ids above every inflated stored id
    def batch: DataFrame = graft.queries.DedupQueries.dupCorpus(spark, baseDir)
      .filter(col("doc_id") >= 200000)
      .withColumn("doc_id", col("doc_id") + lit(100000000L))
    val hold = col("doc_id") % 97 === 0

    val collector = new TaskMetricsCollector
    spark.sparkContext.addSparkListener(collector)
    def timed(name: String)(body: => Unit): Unit = {
      for (i <- 1 to 3) {
        graft.core.GraftSession.releaseAllBlocks(spark)
        collector.reset()
        val s0 = StealSampler.snapshot()
        val t0 = System.nanoTime()
        body
        val sec = (System.nanoTime() - t0) / 1e9
        val steal = StealSampler.pct(s0, StealSampler.snapshot())
        Thread.sleep(300) // listener bus drain
        println(f"$name run$i wall=$sec%.2fs steal=$steal%.1f%% " +
          f"shufW=${collector.shuffleWrite / 1e6}%.1fMB " +
          f"spill=${collector.totalSpill / 1e6}%.1fMB tasks=${collector.tasks}")
      }
    }

    for (k <- Seq(1, factor)) {
      val dir = s"$workDir/cleanstate_x$k"
      val st = new CleanStateStore(spark, dir)
      if (!st.exists) {
        val t0 = System.nanoTime()
        st.rebuild(stored(k), hold)
        println(f"x$k state build ${(System.nanoTime() - t0) / 1e9}%.1fs " +
          s"stageCounts=${st.stageCounts()}")
      } else println(s"x$k state reused: stageCounts=${st.stageCounts()}")
      val full = stored(k).union(batch)
      timed(s"x$k delta") {
        Materialize { m =>
          val r = st.applyBatch(m, batch, full, hold)
          r.finalNew.count(): Unit; r.revoked.count(): Unit
        }
      }
      timed(s"x$k survivors") {
        Materialize(m => st.applyBatch(m, batch, full, hold)
          .survivors.write.format("noop").mode("overwrite").save())
      }
    }
    spark.stop()
  }
}
