package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.LongAccumulator

import graft.core.Materialize

/** Knobs for the cleaning funnel. Defaults are the values the benchmark
  * queries pin against the DuckDB oracle.
  *
  * The quality leg is the multilingual-safe subset of the Gopher rules
  * (word-count floor/ceiling + format ratios). The stopword / alpha-word /
  * mean-word-length rules are English priors that zero out CJK and most
  * non-English strata, so they are NOT applied here; the full per-document
  * rule struct stays available via [[TextAnalysis.gopherRules]]. */
final case class CleanCorpusConfig(
    minWords: Int = 20,
    maxWords: Int = 100000,
    maxSymbolRatio: Double = 0.1,
    maxBulletRatio: Double = 0.9,
    maxEllipsisRatio: Double = 0.3,
    shingleK: Int = 5,
    nHashes: Int = 16,
    bands: Int = 4,
    rowsPerBand: Int = 4,
    nearDupThreshold: Double = 0.8)

/** The funnel's per-stage frames. Each stage keeps the INPUT's columns
  * (internal shingle columns are dropped), so a caller can count a stage,
  * diff adjacent stages, or join survivors back to richer source tables.
  *
  *  - `corpus`: the input, passed through (stage "raw").
  *  - `quality`: rows surviving the quality rules.
  *  - `exactDeduped`: quality survivors minus non-canonical exact
  *    duplicates (normalized-fingerprint groups keep their min-id row).
  *  - `nearDeduped`: exact survivors minus verified near-duplicates
  *    (banded MinHash candidates, exact-Jaccard verify at the threshold;
  *    the larger id of each verified pair is dropped — first-wins).
  *  - `decontaminated`: near-dedup survivors minus holdout rows themselves
  *    and minus any doc sharing ≥1 word-shingle with a holdout doc
  *    (identical to `nearDeduped` when no holdout predicate is given). */
final case class CleanCorpusStages(
    corpus: DataFrame,
    quality: DataFrame,
    exactDeduped: DataFrame,
    nearDeduped: DataFrame,
    decontaminated: DataFrame)

/** The full corpus-cleaning funnel a training-data build runs, as ONE
  * library op: quality rules → exact dedup → verified near-dup drop →
  * benchmark decontamination. The reference cleans at ingest with the same
  * staged intent (garbage detection then chunk-level dedup,
  * `src/chunker/chunk.ts`, `src/features/embedding/embedder.ts`); here the
  * funnel is corpus-level and each stage is the scale shape its standalone
  * op pins:
  *
  *  - quality rules are a scan-speed projection (no shuffle);
  *  - exact dedup is one map-side-combined hash-groupBy on normalized
  *    fingerprints;
  *  - near-dup is banded LSH candidates + the measured-routed exact-Jaccard
  *    verify ([[Dedup.jaccardOnPairsRouted]]) — never all-pairs;
  *  - decontamination joins the holdout's distinct shingles WITHOUT a
  *    forced broadcast: AQE sizes the build side at runtime (holdout sets
  *    are small by construction — that is what makes them holdouts — so
  *    the runtime plan is a broadcast join, but an oversized holdout
  *    degrades to a shuffled join instead of OOM-ing; r15 ADVICE, and the
  *    zero-job router — both guard variants that ran their own measurement
  *    job cost +1.5 s per funnel call in the r16 interleaved A/B).
  *
  * Caching contract: the quality survivors feed two consumers (the
  * fingerprint groupBy and the canonical semi-join) and the shingled
  * exact-survivors feed three (signatures, both verify sides, the
  * contamination explode), so both are persisted MEMORY_AND_DISK. Those
  * caches, the checkpointed verified-duplicate list and the routed
  * verify's pair list all belong to the caller's [[graft.core.Materialize]]
  * scope: consume the stage frames inside it. */
object CleanCorpus {

  /** The funnel's quality-stage predicate, factored so the incremental
    * pipeline ([[graft.store.CleanStateStore]]) applies EXACTLY the batch
    * funnel's rules to a sync batch — one definition, zero drift. */
  def qualityPredicate(textCol: String, cfg: CleanCorpusConfig): Column = {
    val g = TextAnalysis.gopherRules(col(textCol))
    g.getField("n_words").between(cfg.minWords, cfg.maxWords) &&
      g.getField("symbol_ratio") < cfg.maxSymbolRatio &&
      g.getField("bullet_ratio") <= cfg.maxBulletRatio &&
      g.getField("ellipsis_ratio") <= cfg.maxEllipsisRatio
  }

  def cleanCorpus(m: Materialize, df: DataFrame, idCol: String, textCol: String,
                  isHoldout: Option[Column] = None,
                  cfg: CleanCorpusConfig = CleanCorpusConfig(),
                  droppedBuckets: Option[LongAccumulator] = None): CleanCorpusStages = {
    require(cfg.bands * cfg.rowsPerBand == cfg.nHashes,
      s"bands(${cfg.bands}) * rowsPerBand(${cfg.rowsPerBand}) must equal nHashes(${cfg.nHashes})")
    val inCols = df.columns.map(col).toSeq
    val quality = m.persist(df.filter(qualityPredicate(textCol, cfg)),
      StorageLevel.MEMORY_AND_DISK)
    val canon = quality
      .groupBy(TextAnalysis.fingerprint(col(textCol)).as("_fp"))
      .agg(min(idCol).as(idCol))
    val exactShingled = m.persist(quality
      .join(canon.select(idCol), Seq(idCol), "left_semi")
      .withColumn("_ws", Dedup.wordsArray(textCol))
      .withColumn("_shs", Dedup.wordShingles("_ws", cfg.shingleK)),
      StorageLevel.MEMORY_AND_DISK)
    val withSig = exactShingled.filter(size(col("_shs")) > 0)
      .withColumn("_hs", Dedup.shingleBaseHashes("_shs"))
      .withColumn("_sig", Dedup.minhashSignature("_hs", cfg.nHashes))
    val verified = Dedup.jaccardOnPairsRouted(m,
      Dedup.lshCandidatePairs(
        Dedup.lshBands(withSig, idCol, "_sig", cfg.bands, cfg.rowsPerBand),
        idCol, droppedBuckets = droppedBuckets),
      exactShingled, idCol, "_shs")
    // `dropped` — the verified near-dup id list — is eagerly checkpointed:
    // it is the seam every post-verify frame embeds (nearDeduped,
    // decontaminated, and their stage counts all re-contain the verify
    // tree). The barrier (a) truncates those plans to a leaf, killing the
    // per-Dataset Catalyst re-analysis + cache canonicalization of the
    // verify tree (r18 timeline: a 1.62 s ZERO-JOB driver gap while
    // d_corpus_pipeline's stage-count union was analyzed), and (b) runs
    // the verify join ONCE — its three downstream consumers previously
    // re-derived it from the cached inputs per consumer (~1.1 s warm at
    // sf0.1, PipelineProbe r16). Distinct from the r16-REJECTED
    // nearShingled persist: that cached the WIDE corpus-scale frame
    // (cold materialization barrier over rows+shingle arrays, +1.5 s);
    // this pins only the thin verified-duplicate ID LIST, bounded by the
    // verified pairs. Value-neutral: same ids, same downstream rows.
    val dropped = m.checkpoint(verified.filter(col("jaccard") >= cfg.nearDupThreshold)
      .select(col("id_b").as(idCol)).distinct())
    // still NOT persisted (r16 interleaved A/B, honored): consumers
    // re-derive nearShingled from the persisted exactShingled + the
    // checkpointed dropped leaf — a cheap anti-join, not a verify re-run
    val nearShingled = exactShingled.join(dropped, Seq(idCol), "left_anti")
    val decontaminated = isHoldout match {
      case None => nearShingled.select(inCols: _*)
      case Some(hold) =>
        // holdout shingles come from the RAW corpus (the benchmark set
        // exists independently of what cleaning kept). NO forced
        // broadcast: AQE sizes the distinct's output at runtime and
        // broadcasts when it fits, so an oversized holdout degrades to a
        // shuffled join instead of a driver OOM (r15 ADVICE) — the
        // zero-extra-job router; both measured-guard variants (distinct
        // limit-probe, map-side shingle-count bound) cost +1.5 s per
        // funnel call in the r16 interleaved A/B and were rejected.
        val benchSh = df.filter(hold)
          .withColumn("_ws", Dedup.wordsArray(textCol))
          .select(explode(Dedup.wordShingles("_ws", cfg.shingleK)).as("_sh"))
          .distinct()
        val contaminated = nearShingled.filter(!hold)
          .select(col(idCol), explode(col("_shs")).as("_sh"))
          .join(benchSh, "_sh")
          .select(idCol).distinct()
        nearShingled.filter(!hold)
          .join(contaminated, Seq(idCol), "left_anti")
          .select(inCols: _*)
    }
    CleanCorpusStages(
      corpus = df,
      quality = quality.select(inCols: _*),
      exactDeduped = exactShingled.select(inCols: _*),
      nearDeduped = nearShingled.select(inCols: _*),
      decontaminated = decontaminated)
  }
}
