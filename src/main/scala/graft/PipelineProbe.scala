package graft

import org.apache.spark.sql.functions._

import graft.core.Materialize

/** Scratch probe: where does d_corpus_pipeline's wall go — the scan, the
  * quality projection, the fingerprint groupBy, the LSH+verify leg, or the
  * decontamination join? (r15 VERDICT ask #4: attribute the last
  * multi-second headliner, and check whether the five stage counts
  * recompute work the persisted frames should have absorbed.)
  *
  *   tools/run.sh graft.PipelineProbe /root/testdata/sf0.1
  *   tools/run.sh graft.PipelineProbe /tmp/stress_r14/sf_x100   # ×100 twin
  *
  * Each cumulative arm builds a FRESH funnel (graft.ops.CleanCorpus over
  * the d_corpus_pipeline dup-injected corpus), counts one stage frame, and
  * releases — so arm N minus arm N-1 attributes stage N's marginal cost.
  * The `warm_*` arms count stage 4 then stage 5 inside ONE funnel
  * instance: stage 5's marginal wall on warm caches is exactly the
  * "re-derive decontaminated from nearShingled" cost the verdict flagged.
  * Walls are 3-run bands; shuffle/spill off the listener bus is the
  * signal (this VM's wall noise is documented in PERF.md). */
object PipelineProbe {
  def main(args: Array[String]): Unit = {
    val d = args(0)
    val spark = graft.core.GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")

    val collector = new graft.core.TaskMetricsCollector
    spark.sparkContext.addSparkListener(collector)
    def t(name: String)(body: => Unit): Unit = {
      for (i <- 1 to 3) {
        collector.reset()
        val t0 = System.nanoTime()
        body
        val sec = (System.nanoTime() - t0) / 1e9
        Thread.sleep(300) // listener bus drain
        println(f"$name run$i $sec%.2f s shufW=${collector.shuffleWrite / 1e6}%.1fMB " +
          f"spill=${collector.totalSpill / 1e6}%.1fMB maxTaskSpill=${collector.maxTaskSpill / 1e6}%.1fMB")
      }
    }

    def corpus = graft.queries.DedupQueries.dupCorpus(spark, d)
    // one funnel per run, its caches freed when the run's scope closes
    def funnel[T](consume: graft.ops.CleanCorpusStages => T): T =
      Materialize(m => consume(graft.ops.CleanCorpus.cleanCorpus(m,
        corpus, "doc_id", "text", isHoldout = Some(col("doc_id") % 97 === 0))))

    t("raw_scan_count") { corpus.count(): Unit }
    // cum2 sub-decomposition: the funnel's BUILD is not free when a holdout
    // predicate is given (the decontamination broadcast's limit-probe runs
    // eagerly, r16), and the quality frame persists — separate the three
    t("build_only_holdout") { funnel(_ => ()) }
    t("quality_filter_nocache") {
      val g = graft.ops.TextAnalysis.gopherRules(col("text"))
      corpus.filter(g.getField("n_words").between(20, 100000) &&
        g.getField("symbol_ratio") < 0.1 &&
        g.getField("bullet_ratio") <= 0.9 &&
        g.getField("ellipsis_ratio") <= 0.3).count(): Unit
    }
    t("cum2_quality_noholdout") {
      Materialize(m => graft.ops.CleanCorpus.cleanCorpus(m, corpus, "doc_id", "text")
        .quality.count(): Unit)
    }
    t("cum2_quality") { funnel(_.quality.count(): Unit) }
    t("cum3_exact") { funnel(_.exactDeduped.count(): Unit) }
    t("cum4_near") { funnel(_.nearDeduped.count(): Unit) }
    t("cum5_decon") { funnel(_.decontaminated.count(): Unit) }
    // stage-5 marginal cost on WARM caches: the re-derive the verdict
    // flagged (stage counts 4 and 5 both re-evaluate nearShingled's anti
    // join off the persisted exactShingled + pair list)
    t("warm_near_then_decon") {
      funnel { st =>
        st.nearDeduped.count(): Unit
        val t0 = System.nanoTime()
        st.decontaminated.count(): Unit
        println(f"  (decon marginal: ${(System.nanoTime() - t0) / 1e9}%.2f s)")
      }
    }
    // the registry query's exact shape: all five counts, one funnel
    t("full_query_5counts") {
      def stage(name: String, df: org.apache.spark.sql.DataFrame) =
        df.agg(count(lit(1)).as("docs")).select(lit(name).as("stage"), col("docs"))
      funnel { st =>
        stage("1_raw", st.corpus)
          .union(stage("2_quality", st.quality))
          .union(stage("3_exact_dedup", st.exactDeduped))
          .union(stage("4_near_dedup", st.nearDeduped))
          .union(stage("5_decontaminated", st.decontaminated))
          .orderBy("stage").collect(): Unit
      }
    }
    spark.stop()
  }
}
