package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory with the settings we want everywhere (tests, bench,
  * verify, the probe and stress mains): UTC, AQE on, shuffle partitions
  * sized to local cores rather than the 200 default (on a real cluster this
  * would be set to ~2-3x total cores; AQE coalesces down from there).
  */
object GraftSession {

  /** Silence per-row/per-query log noise whose conditions are deliberate
    * here: WindowExec's "no partition defined" fires on the bounded
    * (≤ 2·limit) post-top-k candidate windows in HybridSearch, where a
    * single partition is the design (a constant partitionBy key would just
    * be constant-folded away). Call after session creation. */
  def quietNoisyLoggers(): Unit =
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)

  /** Release EVERY stored block: cached Datasets (CacheManager) AND
    * RDD-level checkpoint blocks that `clearCache()` cannot see. This is
    * the harness end of the [[Materialize]] contract: registry builders
    * materialize into [[Materialize.harness]] scopes that nobody closes,
    * and Bench and Verify call this after each query. A long single-JVM
    * run (Bench's 36 queries, Verify's ~230) would otherwise accumulate
    * those blocks until they squeeze execution memory. Blocking unpersist
    * so the next query starts from a clean BlockManager rather than racing
    * the async release. */
  def releaseAllBlocks(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** local cores for a session: `SPARK_GRAFT_CPUS` when set, else every
    * available processor */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def local(threads: Int = cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$threads]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // external bucketed tables carry their own path; this only keeps the
      // (otherwise empty) default warehouse dir out of the repo checkout
      .config("spark.sql.warehouse.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft-warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      // read parquet ms/ns timestamps as TIMESTAMP (UTC) — keeps timestamp
      // semantics identical to the DuckDB oracle (which is tz-naive)
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // events.ts is TIMESTAMP(NANOS) — read as long, converted in Tables
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    quietNoisyLoggers()
    spark
  }
}
