package graft.store

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Materialize
import graft.ops.Sketches

/** Persisted corpus-statistics sketches — the monitoring sibling of the
  * other incremental stores ([[MinhashIndexStore]] dedup state,
  * [[FtsIndexStore]] postings): a running HyperLogLog register table
  * (distinct documents) and a Count-Min counter grid (token frequencies)
  * that a live store maintains ACROSS mutation batches.
  *
  * Why it exists: "how many distinct docs / what are the hot tokens" over
  * a continuously-ingested corpus shouldn't re-scan the corpus. Both
  * sketches are MERGEABLE — HLL by register-wise max, CMS by counter-wise
  * sum — so appending a batch costs |batch| map work plus a fixed-size
  * (2^b + depth·width rows) merge, never a corpus pass. The stored state
  * IS the fixed-size sketch, so the store's footprint is constant no
  * matter how much data has flowed through it.
  *
  * Layout under `path/`: ONE versioned `state/` directory holding `hll/`
  * (register, max_rho), `cms/` (r, idx, cnt) and `stats/` (one row:
  * batches, rows_seen), swapped in as a unit by a single [[DirSwap]]
  * rename — so a crash mid-append can never leave a new HLL paired with a
  * stale CMS: readers see the complete old state or the complete new one.
  */
final class SketchStore(spark: SparkSession, path: String,
                        b: Int = 6, depth: Int = 4, width: Int = 256) {

  private val statePath = path + "/state"
  private val hllPath = statePath + "/hll"
  private val cmsPath = statePath + "/cms"
  private val statsPath = statePath + "/stats"

  private def fs: FileSystem =
    new HPath(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** One-time migration of the pre-state/ layout (hll/, cms/, stats/ as
    * three separately-swapped dirs directly under path/): re-written
    * through the normal single-swap path — the sketches are KB-sized, so
    * a copy beats a multi-rename dance that could crash half-moved —
    * then the legacy dirs are removed. Without this, a store written by
    * the old layout would silently read as empty and its accumulated
    * state would be orphaned. */
  // the migration can fire at most once per path (single-writer store);
  // memoizing saves the two filesystem existence checks every accessor
  // would otherwise pay forever after
  @volatile private var migrationChecked = false

  private def migrateLegacyLayout(): Unit = {
    if (migrationChecked) return
    migrationChecked = true
    val f = fs
    if (!f.exists(new HPath(statsPath)) &&
        f.exists(new HPath(path + "/stats"))) {
      val hll = spark.read.parquet(path + "/hll")
      val cms = spark.read.parquet(path + "/cms")
      val st = spark.read.parquet(path + "/stats")
      DirSwap.swapInto(f, path, statePath) { tmp =>
        hll.coalesce(1).write.mode("overwrite").parquet(tmp + "/hll")
        cms.coalesce(1).write.mode("overwrite").parquet(tmp + "/cms")
        st.coalesce(1).write.mode("overwrite").parquet(tmp + "/stats")
      }
      Seq("/hll", "/cms", "/stats").foreach(s =>
        f.delete(new HPath(path + s), true): Unit)
    }
  }

  def exists: Boolean = {
    migrateLegacyLayout()
    fs.exists(new HPath(statsPath))
  }

  /** merge a document batch into the stored sketches (builds them on the
    * first call). `keyCol` feeds the HLL; words of `textCol` feed the CMS. */
  def appendBatch(batch: DataFrame, keyCol: String = "text",
                  textCol: String = "text"): Unit = {
    // three consumers (HLL, CMS, the row count) — cache so an expensive
    // upstream derivation isn't recomputed per consumer
    val cached = batch.persist()
    try { appendCached(cached, keyCol, textCol) }
    finally { cached.unpersist(): Unit }
  }

  private def appendCached(batch: DataFrame, keyCol: String,
                           textCol: String): Unit = Materialize { m =>
    val batchHll = Sketches.hllRegisters(batch, col(keyCol), b)
    val words = batch.select(explode(graft.ops.Dedup.wordsArray(textCol)).as("w"))
    val batchCms = Sketches.cmsSketch(words, col("w"), depth, width)
    val (hll, cms, batches, rows) =
      if (exists) {
        val prevHll = graft.core.Tables.openParquet(spark, hllPath)
        val prevCms = graft.core.Tables.openParquet(spark, cmsPath)
        val st = graft.core.Tables.openParquet(spark, statsPath).head()
        (prevHll.union(batchHll).groupBy("register")
           .agg(max("max_rho").as("max_rho")),
         prevCms.union(batchCms).groupBy("r", "idx")
           .agg(sum("cnt").as("cnt")),
         st.getLong(0) + 1, st.getLong(1) + batch.count())
      } else (batchHll, batchCms, 1L, batch.count())
    // sketches are bounded (2^b / depth·width rows): localCheckpoint cuts
    // the union lineage BEFORE the swap replaces the parquet being read
    val hllSnap = m.checkpoint(hll)
    val cmsSnap = m.checkpoint(cms)
    // all three tables land in one tmp dir and swap in with a SINGLE
    // rename — individually-atomic per-table swaps would still let a crash
    // between them pair a new hll/ with a stale cms/stats
    DirSwap.swapInto(fs, path, statePath) { tmp =>
      hllSnap.coalesce(1).write.mode("overwrite").parquet(tmp + "/hll")
      cmsSnap.coalesce(1).write.mode("overwrite").parquet(tmp + "/cms")
      spark.createDataFrame(java.util.Arrays.asList(
          org.apache.spark.sql.Row(batches, rows)),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("batches",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("rows_seen",
            org.apache.spark.sql.types.LongType, nullable = false))))
        .coalesce(1).write.mode("overwrite").parquet(tmp + "/stats")
    }
  }

  /** current distinct-count estimate (HLL estimator over stored registers) */
  def distinctEstimate(): DataFrame = {
    migrateLegacyLayout()
    Sketches.hllEstimate(graft.core.Tables.openParquet(spark, hllPath), b)
  }

  /** frequency estimates for the given items (min over stored counters) */
  def frequencyEstimates(items: DataFrame, keyCol: String): DataFrame = {
    migrateLegacyLayout()
    Sketches.cmsLookup(graft.core.Tables.openParquet(spark, cmsPath), items, keyCol, depth, width)
  }

  def stats(): DataFrame = {
    migrateLegacyLayout()
    graft.core.Tables.openParquet(spark, statsPath)
  }
}
