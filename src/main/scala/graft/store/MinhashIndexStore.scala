package graft.store

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Materialize
import graft.ops.Dedup

/** Persisted MinHash signature index — the dedup sibling of
  * [[FtsIndexStore]] (BM25 postings) and [[AnnIndexStore]]/[[SrpIndexStore]]
  * (vectors): near-dup state the engine maintains ACROSS mutation batches so
  * deduplication is incremental, not a corpus rescan.
  *
  * Why it exists: every whole-corpus dedup query re-shingles and re-hashes
  * all N documents to find pairs — correct for a one-shot build, wrong for a
  * live store where a sync batch touches a handful of files. With stored
  * band hashes, finding the near-dups OF A NEW BATCH is: compute signatures
  * for the batch only (|batch| rows), broadcast its bands against the stored
  * band table (one scan of the SMALL banded projection, no shuffle of it),
  * and exact-verify the surviving candidates. Cost scales with the batch
  * and its candidates, never with the corpus — the same reason the
  * reference refreshes its FTS index per mutation batch instead of
  * rebuilding (`src/server/index.ts:546-549`) applied to dedup state.
  *
  * Layout under `path/`: `bands/` (id, band, band_hash)
  * [+ pbucket partition when bucketed], `sigs/` (id, sig) for
  * introspection/rebuild audits, `stats/` per-bucket row counts written
  * LAST ([[exists]] keys on stats, so readers only see complete indexes —
  * the FtsIndexStore discipline). All writes go through [[DirSwap]].
  *
  * Banding parameters are fixed at construction (they define the stored
  * band hashes); choose them with [[Dedup.bandingFor]].
  */
final class MinhashIndexStore(
    protected val spark: SparkSession, protected val path: String,
    nHashes: Int, bands: Int, rowsPerBand: Int,
    shingleK: Int = 5, protected val numBuckets: Int = 0,
    idCol: String = "doc_id") extends BucketedIndexStore {

  require(bands * rowsPerBand == nHashes,
    s"bands ($bands) x rowsPerBand ($rowsPerBand) must equal nHashes ($nHashes)")

  private val bandsPath = path + "/bands"
  private val sigsPath = path + "/sigs"

  protected def bucketKey = Dedup.hash60(col(idCol).cast("string"))

  /** (id, sig) for docs with a non-empty shingle set — the signature
    * projection every caller shares (per-row, scan-speed, no shuffle) */
  def signatures(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(col(idCol), col(textCol))
      .withColumn("_ws", Dedup.wordsArray(textCol))
      .withColumn("_shs", Dedup.wordShingles("_ws", shingleK))
      .filter(size(col("_shs")) > 0)
      .withColumn("_hs", Dedup.shingleBaseHashes("_shs"))
      .select(col(idCol), Dedup.minhashSignature("_hs", nHashes).as("sig"))

  private def bandsOf(sigs: DataFrame): DataFrame =
    Dedup.lshBands(sigs, idCol, "sig", bands, rowsPerBand)

  /** full rebuild from the document table (empty corpus drops the index) */
  def rebuild(docs: DataFrame, textCol: String = "text"): Unit = {
    val sigs = signatures(docs, textCol).persist()
    try {
      if (sigs.isEmpty) { drop(); return }
      val banded =
        if (bucketed) bandsOf(sigs).withColumn("pbucket", bucketCol)
        else bandsOf(sigs)
      val parts = if (bucketed) Seq("pbucket") else Seq.empty
      DirSwap.swapInto(fs, path, bandsPath) { tmp =>
        val w = banded.write.mode(SaveMode.Overwrite)
        (if (parts.nonEmpty) w.partitionBy(parts: _*) else w).parquet(tmp)
      }
      DirSwap.swapInto(fs, path, sigsPath) { tmp =>
        val s = if (bucketed) sigs.withColumn("pbucket", bucketCol) else sigs
        val w = s.write.mode(SaveMode.Overwrite)
        (if (parts.nonEmpty) w.partitionBy(parts: _*) else w).parquet(tmp)
      }
      writeStats(if (bucketed) sigs.withColumn("pbucket", bucketCol) else sigs)
    } finally sigs.unpersist()
  }

  /** re-sign ONE path bucket and swap only its partitions + stats row —
    * the per-mutation-batch refresh (1/numBuckets of the corpus, same
    * contract as FtsIndexStore.refreshBucket) */
  def refreshBucket(bucketDocs: DataFrame, bucket: Long,
                    textCol: String = "text"): Unit = {
    import spark.implicits._
    require(bucketed, "refreshBucket requires a bucketed index")
    require(exists, "refreshBucket requires an existing index (rebuild first)")
    val sigs = signatures(bucketDocs, textCol).persist()
    try {
      val nMine = sigs.count()
      DirSwap.swapInto(fs, path, s"$bandsPath/pbucket=$bucket")(tmp =>
        bandsOf(sigs).write.mode(SaveMode.Overwrite).parquet(tmp))
      DirSwap.swapInto(fs, path, s"$sigsPath/pbucket=$bucket")(tmp =>
        sigs.write.mode(SaveMode.Overwrite).parquet(tmp))
      replaceBucketStats(bucket, nMine)
    } finally sigs.unpersist()
  }

  /** Append one mutation batch's signatures + bands to the stored index —
    * the streaming-ingest cadence
    * ([[graft.streaming.StreamingIngest.incrementalDedupAvailableNow]]):
    * the index grows by |batch| rows with no corpus rescan and no directory
    * swap. Bootstraps via [[rebuild]] when no index exists yet. Plain
    * parquet append is safe here because the writer is single (foreachBatch
    * executes serially) and a concurrent READER of a half-appended batch
    * sees a superset of the previous index — which can only ADD candidate
    * pairs, and candidates are always exact-verified downstream. Stats are
    * merged LAST, same discipline as rebuild. Returns rows appended. */
  def appendBatch(batchDocs: DataFrame, textCol: String = "text"): Long = {
    if (!exists) { rebuild(batchDocs, textCol); return rowCount() }
    val sp = spark
    import sp.implicits._
    val sigs = signatures(batchDocs, textCol).persist()
    try {
      val n = sigs.count()
      if (n == 0L) return 0L
      val parts = if (bucketed) Seq("pbucket") else Seq.empty
      def appendTo(df: DataFrame, dest: String): Unit = {
        val d = if (bucketed) df.withColumn("pbucket", bucketCol) else df
        val w = d.write.mode(SaveMode.Append)
        (if (parts.nonEmpty) w.partitionBy(parts: _*) else w).parquet(dest)
      }
      appendTo(bandsOf(sigs), bandsPath)
      appendTo(sigs, sigsPath)
      // signature-memoized stats read (BucketedIndexStore.storedBucketMap):
      // zero Spark jobs until the swap below rewrites the dir
      val cur = storedBucketMap()
      val add: Map[Long, Long] =
        if (bucketed) sigs.withColumn("pbucket", bucketCol)
          .groupBy("pbucket").agg(count(lit(1)).as("n"))
          .as[(Long, Long)].collect().toMap
        else Map(0L -> n)
      val merged = (cur.keySet ++ add.keySet).toSeq.sorted
        .map(b => (b, cur.getOrElse(b, 0L) + add.getOrElse(b, 0L)))
      DirSwap.swapInto(fs, path, statsPath)(tmp =>
        merged.toDF("pbucket", "n_rows")
          .write.mode(SaveMode.Overwrite).parquet(tmp))
      n
    } finally sigs.unpersist()
  }

  /** stored banded projection (id, band, band_hash) — schema-memoized open
    * ([[graft.core.Tables.openParquet]]): the per-probe footer-read
    * inference job and its driver latency are paid once per index state,
    * not per delta batch */
  def storedBands: DataFrame =
    graft.core.Tables.openParquet(spark, bandsPath)
      .select(col(idCol), col("band"), col("band_hash"))

  /** Candidate near-dup pairs TOUCHING a new batch: batch×stored pairs from
    * a broadcast join of the batch's bands against the stored band table,
    * plus batch×batch pairs from in-batch banding. Emits (id_a < id_b),
    * distinct — exactly the pairs a full-corpus LSH run would emit filtered
    * to those involving the batch, without rescanning the corpus. The
    * broadcast side is the BATCH (small by construction); the stored band
    * scan never shuffles. Callers verify candidates with
    * [[Dedup.jaccardOnPairs]] as usual.
    *
    * Cap note: in-batch pairs inherit [[Dedup.lshCandidatePairs]]'s
    * hot-bucket cap; batch×stored pairs are bounded by |batch|·|bucket|
    * (linear in the batch, not quadratic), so no cap is applied — a
    * production pipeline worried about degenerate stored buckets can
    * pre-filter [[storedBands]] with [[Dedup.oversizedBuckets]].
    *
    * The result is an eager checkpoint held by `m`. */
  def deltaCandidates(m: Materialize, batchDocs: DataFrame,
                      textCol: String = "text"): DataFrame = {
    require(exists, "deltaCandidates requires an existing index (rebuild first)")
    val batchSigs = signatures(batchDocs, textCol).persist()
    try {
      val batchBands = bandsOf(batchSigs)
      val crossPairs = storedBands
        .join(broadcast(batchBands
            .select(col(idCol).as("_new_id"), col("band"), col("band_hash"))),
          Seq("band", "band_hash"))
        .filter(col(idCol) =!= col("_new_id"))
        .select(least(col(idCol), col("_new_id")).cast("long").as("id_a"),
          greatest(col(idCol), col("_new_id")).cast("long").as("id_b"))
      val inBatchPairs = Dedup.lshCandidatePairs(batchBands, idCol)
      // materialize before unpersisting the signatures the plans reference
      m.checkpoint(crossPairs.union(inBatchPairs).distinct())
    } finally batchSigs.unpersist()
  }
}
