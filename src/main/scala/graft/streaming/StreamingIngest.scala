package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import scala.jdk.CollectionConverters._

import graft.chunker.MaxMinChunker
import graft.core.Materialize
import graft.core.ChunkSchema.ChunkRow
import graft.embed.Embedder
import graft.ingest.Ingest

/** Structured Streaming surfaces. The reference has no stream processing
  * (SURVEY §2.10) — its only async is a driver-side sync job — but a
  * continuously-arriving corpus is the natural 100 TB deployment shape, so
  * the ingestion dataflow is exposed as an incremental streaming job
  * (readStream → same per-document chunk+embed stages → writeStream), plus
  * the standard event-time operators a training-data pipeline needs.
  *
  * The batch and streaming paths share `Ingest`'s per-document logic — one
  * code path, two triggers (the `Trigger.AvailableNow` reconciliation
  * pattern SURVEY §2.10 calls the optional stretch).
  */
object StreamingIngest {

  /** streaming docs(filePath, content) → streaming chunk rows; identical
    * semantics to Ingest.buildChunks (mapPartitions is stateless per batch) */
  def chunkStream(docs: Dataset[Ingest.Doc], mkEmbedder: () => Embedder,
                  timestamp: String): Dataset[ChunkRow] =
    Ingest.buildChunks(docs, mkEmbedder, timestamp) // one code path, two triggers

  /** Streaming WARC ingestion: a `binaryFile` readStream over a drop
    * directory of .warc(.gz) containers, each micro-batch exploding its
    * files' HTTP response pages through the SAME WarcSource → HtmlParser →
    * chunk/embed stages as the batch path (per-page documents keyed by
    * target URI), run AvailableNow to a memory sink. This is the
    * continuous-crawl deployment shape: Common Crawl segments land in a
    * bucket, and the pipeline indexes them incrementally — each file is
    * read once, all parsing is map-side inside the batch. */
  def warcIngestAvailableNow(spark: org.apache.spark.sql.SparkSession,
                             dir: String, mkEmbedder: () => Embedder,
                             timestamp: String): DataFrame = {
    import spark.implicits._
    val pages = spark.readStream.format("binaryFile")
      .option("pathGlobFilter", "*.warc*")
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("path",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("modificationTime",
          org.apache.spark.sql.types.TimestampType),
        org.apache.spark.sql.types.StructField("length",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("content",
          org.apache.spark.sql.types.BinaryType))))
      .load(dir)
      .select(col("content"))
      .as[Array[Byte]]
      .flatMap(bytes => graft.ingest.WarcSource.htmlDocs(bytes).map {
        case (uri, md) => Ingest.Doc(uri, md, None, None)
      })
    val chunks = chunkStream(pages, mkEmbedder, timestamp).toDF()
    runToMemorySink(spark, chunks, OutputMode.Append(), "graft_warc_ingest")(
      identity)
  }

  /** event-time windowed counts with a watermark — late data beyond the
    * watermark is dropped, state is bounded */
  def windowedCounts(events: DataFrame, watermark: String = "30 minutes",
                     window: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("window_start"), col("event_type"), col("cnt"))

  /** Streaming exact dedup: drop re-arrivals of a content fingerprint.
    * `dropDuplicatesWithinWatermark` keys state on the fingerprint column
    * and EXPIRES entries once the watermark passes them — state is bounded
    * by (dedup window × arrival rate), never corpus size, which is the only
    * viable posture for an unbounded 100 TB document stream. The batch twin
    * is the exact-dedup groupBy (`d_exact_dup`); within one watermark window
    * the two agree. Docs must carry an event-time column `ts` and a
    * `fingerprint` column (e.g. [[graft.ops.TextAnalysis.fingerprint]]). */
  def dedupStream(docs: DataFrame, watermark: String = "1 hour"): DataFrame =
    docs
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("fingerprint")

  private val sinkCounter = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Run the watermarked hourly rollup as a real Structured Streaming job
    * over the events parquet (AvailableNow trigger → terminates when the
    * backlog drains) and return the final result table. Complete output
    * mode makes the result deterministic and equal to the batch aggregation
    * — which is exactly what the DuckDB oracle checks. The production twin
    * runs the same plan with a micro-batch trigger and append mode. */
  def hourlyRollupAvailableNow(spark: org.apache.spark.sql.SparkSession,
                               eventsPath: String): DataFrame = {
    val schema = spark.read.parquet(eventsPath).schema
    // FileStreamSource insists its basePath be a directory (it treats the
    // monitored path as the partition-discovery root), so a single flat
    // parquet file can't be streamed directly — stage a symlink to it in a
    // fresh temp dir and stream that dir. (Production corpora are
    // directories of part files anyway; this shim is test-data-shaped.)
    val stageDir = stageSource(eventsPath)
    try {
      val raw = spark.readStream.schema(schema).parquet(stageDir.toString)
      // same conditional ns→µs cast as Tables.load: a TIMESTAMP(NANOS) file
      // surfaces ts as a raw nanos long (nanosAsLong) needing the DIV-1000
      // conversion; a µs-typed file is already a usable timestamp
      val ev =
        if (schema.exists(f => f.name == "ts" &&
              f.dataType == org.apache.spark.sql.types.LongType))
          raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
        else raw
      val agg = ev
        .withWatermark("ts", "30 minutes")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("value").cast(org.apache.spark.sql.types.DecimalType(30, 8)))
            .cast("double").as("sum_value"))
      runToMemorySink(spark, agg, OutputMode.Complete(), "graft_stream_rollup")(
        _.select(date_format(col("window.start"), "yyyy-MM-dd HH:mm").as("hour"),
          col("event_type"), col("cnt"), col("sum_value")))
    } finally deleteRecursively(stageDir)
  }

  /** Stage `path` (a flat parquet file OR a directory of part files) into
    * a fresh temp dir for FileStreamSource. Symlink when the filesystem
    * supports it; otherwise a RECURSIVE copy — a flat `Files.copy` on a
    * directory target would create only an empty directory and the stream
    * would silently drain zero rows. Caller deletes the returned dir
    * (via [[deleteRecursively]]) once the drain completes; `deleteOnExit`
    * cannot remove a non-empty directory. */
  private def stageSource(path: String): java.nio.file.Path = {
    import java.nio.file.{Files, Paths}
    val stageDir = Files.createTempDirectory("graft_stream_src")
    val target = Paths.get(path).toAbsolutePath
    val staged = stageDir.resolve(target.getFileName.toString)
    try { Files.createSymbolicLink(staged, target); () }
    catch {
      case _: UnsupportedOperationException | _: java.io.IOException =>
        if (Files.isDirectory(target)) {
          import scala.jdk.CollectionConverters._
          val s = Files.walk(target) // CLOSED: one open dir handle per level
          try s.iterator().asScala.foreach { p =>
            val dst = staged.resolve(target.relativize(p).toString)
            if (Files.isDirectory(p)) Files.createDirectories(dst): Unit
            else { Files.createDirectories(dst.getParent)
                   Files.copy(p, dst): Unit }
          } finally s.close()
        } else Files.copy(target, staged): Unit
    }
    stageDir
  }

  /** stage `df` under `src` as `numFiles` event-time-ordered parquet
    * files — equal TIME spans, not equal row counts: one cheap min/max
    * agg instead of a global sort, and slice filters are plain
    * distributed scans (skewed slice sizes are fine — ordering is what
    * matters). File mtimes are forced ascending so FileStreamSource's
    * mtime-ordered discovery provably IS event-time order. */
  private def stageTimeSlicesInto(df: DataFrame, tsCol: String,
                                  stage: java.nio.file.Path,
                                  src: java.nio.file.Path,
                                  numFiles: Int): Unit = {
    import java.nio.file.{Files => JFiles, Paths, StandardCopyOption}
    val Array(lo, hi) = df.agg(min(unix_micros(col(tsCol))),
      max(unix_micros(col(tsCol)))).collect()(0) match {
      case r => Array(r.getLong(0), r.getLong(1))
    }
    val n = math.max(1, numFiles)
    val span = math.max(1L, (hi - lo) / n + 1)
    (0 until n).foreach { i =>
      val sliceLo = lo + i * span
      val sliceHi = lo + (i + 1) * span // exclusive; last slice covers hi
      val tmp = stage.resolve(s"slice_$i").toString
      df.filter(unix_micros(col(tsCol)) >= sliceLo &&
          unix_micros(col(tsCol)) < sliceHi)
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      moveSinglePartInto(Paths.get(tmp), src.resolve(f"events_$i%04d.parquet"),
        1_000_000_000_000L + i * 60_000L)
    }
  }

  /** Move the single parquet part file out of a coalesce(1) write dir to
    * `dest` and pin its mtime (file order = micro-batch arrival order). */
  private def moveSinglePartInto(tmp: java.nio.file.Path,
                                 dest: java.nio.file.Path,
                                 mtimeMs: Long): Unit = {
    import java.nio.file.{Files => JFiles, StandardCopyOption}
    // Files.list requires close (else a directory handle leaks per slice)
    val listing = JFiles.list(tmp)
    val found =
      try {
        val part = listing.iterator()
        val acc = scala.collection.mutable.ArrayBuffer[java.nio.file.Path]()
        while (part.hasNext) {
          val p = part.next()
          if (p.toString.endsWith(".parquet")) acc += p
        }
        acc
      } finally listing.close()
    JFiles.move(found.head, dest, StandardCopyOption.REPLACE_EXISTING)
    JFiles.setLastModifiedTime(dest,
      java.nio.file.attribute.FileTime.fromMillis(mtimeMs))
  }

  private def stageTimeSlices(df: DataFrame, tsCol: String,
                              stage: java.nio.file.Path,
                              numFiles: Int): java.nio.file.Path = {
    val src = stage.resolve("src")
    java.nio.file.Files.createDirectories(src)
    stageTimeSlicesInto(df, tsCol, stage, src, numFiles)
    src
  }

  /** recursive delete; the Files.walk Stream is CLOSED (one open directory
    * handle per level otherwise — the ADVICE r12 / VERDICT r13 leak class).
    * Unlike [[deleteTreeQuietly]] this propagates IO failures: staging-dir
    * cleanup inside a `finally` should surface a wedged filesystem, not
    * mask it. */
  private def deleteRecursively(dir: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    val s = java.nio.file.Files.walk(dir)
    try s.iterator().asScala.toSeq.reverse
      .foreach(p => java.nio.file.Files.deleteIfExists(p))
    finally s.close()
  }

  /** Streaming feed → batch monitor: hourly TOTAL event volume maintained
    * as a Complete-mode windowed aggregate over the staged stream, then
    * the trailing-24-bucket z-score (the e_hourly_anomaly tail) applied to
    * the drained snapshot — the deployment shape where ingestion runs
    * continuously and the anomaly sweep runs on each snapshot. The
    * windowed agg is the only streaming state (one row per hour); the
    * z-score window needs completed history and stays batch-side. */
  def hourlyAnomalyAvailableNow(spark: org.apache.spark.sql.SparkSession,
                                eventsPath: String): DataFrame = {
    val schema = spark.read.parquet(eventsPath).schema
    val stageDir = stageSource(eventsPath)
    val snapshot =
      try {
        val raw = spark.readStream.schema(schema).parquet(stageDir.toString)
        val ev =
          if (schema.exists(f => f.name == "ts" &&
                f.dataType == org.apache.spark.sql.types.LongType))
            raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
          else raw
        val agg = ev
          .withWatermark("ts", "30 minutes")
          .groupBy(window(col("ts"), "1 hour"))
          .agg(count(lit(1)).as("cnt"))
        runToMemorySink(spark, agg, OutputMode.Complete(),
          "graft_stream_anomaly")(
          _.select(col("window.start").as("h"), col("cnt")))
      } finally deleteRecursively(stageDir)
    anomalyZScoreTail(snapshot)
  }

  /** trailing-24-bucket z-score over an (h, cnt) hourly snapshot — the
    * shared batch-side tail of both anomaly variants */
  private def anomalyZScoreTail(snapshot: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy("h").rowsBetween(-24, -1)
    snapshot
      .withColumn("n_win", count(lit(1)).over(w))
      .withColumn("mean", avg(col("cnt")).over(w))
      .withColumn("sd", stddev_samp(col("cnt")).over(w))
      .filter(col("n_win") === 24 && col("sd") > 0)
      .select(date_format(col("h"), "yyyy-MM-dd HH:mm").as("hour"),
        col("cnt"),
        (round(col("mean"), 4) + 0.0).as("mean24"),
        (round((col("cnt") - col("mean")) / col("sd"), 4) + 0.0).as("z"))
      .orderBy("hour")
  }

  /** UPDATE-mode deployment shape of [[hourlyAnomalyAvailableNow]]: the
    * same hourly aggregate, but the 30-minute watermark now actually
    * EVICTS window state once the event-time frontier passes it, so
    * streaming state is bounded by the watermark horizon (a few windows),
    * not by the feed's lifetime (every distinct hour — what Complete mode
    * retains and re-emits forever). Events are staged as `numFiles`
    * event-time-ordered slices drained one per micro-batch (the
    * [[stageTimeSlices]] discipline), so the watermark advances mid-run
    * and eviction is observable: [[StreamRunStats.maxStateRows]] records
    * the per-batch state high-water mark. Slice boundaries are strict
    * time splits, so no event ever arrives behind the watermark — the
    * Update-mode result equals the Complete twin row-for-row (the
    * registry oracle hash-checks this against batch SQL).
    *
    * The memory sink receives each window's per-batch updates; the final
    * count per window is the LAST update — counts are monotone within a
    * window, so max-per-window reassembles it without ordering metadata.
    * The z-score tail is shared with the Complete twin. */
  def hourlyAnomalyUpdateModeWithStats(spark: org.apache.spark.sql.SparkSession,
                                       eventsPath: String, numFiles: Int = 12)
      : (DataFrame, StreamRunStats) = {
    import java.nio.file.{Files => JFiles}
    val batch = spark.read.parquet(eventsPath)
    val evBatch =
      if (batch.schema.exists(f => f.name == "ts" &&
            f.dataType == org.apache.spark.sql.types.LongType))
        batch.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      else batch
    val stage = JFiles.createTempDirectory("graft_stream_anomaly_upd")
    try {
      // only the event-time column feeds the aggregate: stage just it
      val src = stageTimeSlices(evBatch.select("ts"), "ts", stage, numFiles)
      val raw = spark.readStream.schema(spark.read.parquet(src.toString).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src.toString)
      val agg = raw
        .withWatermark("ts", "30 minutes")
        .groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("cnt"))
      val (updates, stats) = runToMemorySinkWithStats(spark, agg,
        OutputMode.Update(), "graft_stream_anomaly_upd")(
        _.select(col("window.start").as("h"), col("cnt")))
      val byWindow = updates.groupBy("h").agg(max("cnt").as("cnt"))
      (anomalyZScoreTail(byWindow), stats)
    } finally deleteRecursively(stage)
  }

  /** registry shape of [[hourlyAnomalyUpdateModeWithStats]] */
  def hourlyAnomalyUpdateMode(spark: org.apache.spark.sql.SparkSession,
                              eventsPath: String): DataFrame =
    hourlyAnomalyUpdateModeWithStats(spark, eventsPath)._1

  /** UPDATE-mode deployment shape of [[hourlyRollupAvailableNow]] — the
    * (window, event_type) rollup with the watermark actually EVICTING
    * window state once the event-time frontier passes it, completing the
    * Update-mode family next to [[hourlyAnomalyUpdateModeWithStats]].
    * State is bounded by the watermark horizon × event-type arity, not
    * the feed lifetime (what Complete mode retains and re-emits forever).
    * Events drain as strict event-time slices (one per micro-batch), so
    * nothing arrives behind the watermark and the Update result equals
    * the batch truth row-for-row — the registry oracle hash-checks it
    * against the SAME batch SQL as the Complete twin.
    *
    * Reassembly: the sink holds each key's per-batch updates; a key's
    * final row is its LAST update, identified WITHOUT ordering metadata
    * because cnt strictly increases across a window's updates (each
    * update exists only when new rows arrived) — max(cnt) picks it and
    * max_by(sum_value, cnt) carries the matching sum. */
  def hourlyRollupUpdateModeWithStats(spark: org.apache.spark.sql.SparkSession,
                                      eventsPath: String, numFiles: Int = 12)
      : (DataFrame, StreamRunStats) = {
    import java.nio.file.{Files => JFiles}
    val batch = spark.read.parquet(eventsPath)
    val evBatch =
      if (batch.schema.exists(f => f.name == "ts" &&
            f.dataType == org.apache.spark.sql.types.LongType))
        batch.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      else batch
    val stage = JFiles.createTempDirectory("graft_stream_rollup_upd")
    try {
      val src = stageTimeSlices(evBatch.select("ts", "event_type", "value"),
        "ts", stage, numFiles)
      val raw = spark.readStream.schema(spark.read.parquet(src.toString).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src.toString)
      val agg = raw
        .withWatermark("ts", "30 minutes")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("value").cast(org.apache.spark.sql.types.DecimalType(30, 8)))
            .cast("double").as("sum_value"))
      val (updates, stats) = runToMemorySinkWithStats(spark, agg,
        OutputMode.Update(), "graft_stream_rollup_upd")(
        _.select(col("window.start").as("h"), col("event_type"),
          col("cnt"), col("sum_value")))
      val last = updates.groupBy("h", "event_type")
        .agg(max("cnt").as("cnt"),
          expr("max_by(sum_value, cnt)").as("sum_value"))
      (last.select(date_format(col("h"), "yyyy-MM-dd HH:mm").as("hour"),
        col("event_type"), col("cnt"), col("sum_value")), stats)
    } finally deleteRecursively(stage)
  }

  /** registry shape of [[hourlyRollupUpdateModeWithStats]] */
  def hourlyRollupUpdateMode(spark: org.apache.spark.sql.SparkSession,
                             eventsPath: String): DataFrame =
    hourlyRollupUpdateModeWithStats(spark, eventsPath)._1

  /** Shared memory-sink discipline for the oracle-matched streaming runs:
    * AvailableNow until the backlog drains, project the sink table through
    * `shape`, materialize driver-side, then DROP the sink view in a finally
    * — the sink holds the full result per run, and repeated calls in a
    * long-lived session would otherwise accumulate one table per call. */
  private def runToMemorySink(spark: org.apache.spark.sql.SparkSession,
                              df: DataFrame, mode: OutputMode, prefix: String)
                             (shape: DataFrame => DataFrame): DataFrame =
    runToMemorySinkWithStats(spark, df, mode, prefix)(shape)._1

  private def runToMemorySinkWithStats(spark: org.apache.spark.sql.SparkSession,
                                       df: DataFrame, mode: OutputMode, prefix: String)
                                      (shape: DataFrame => DataFrame): (DataFrame, StreamRunStats) = {
    val name = s"${prefix}_${sinkCounter.incrementAndGet()}"
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(mode)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      q.awaitTermination()
      val progress = q.recentProgress
      val stats = StreamRunStats(
        batches = progress.count(_.numInputRows > 0),
        maxStateRows = progress.flatMap(_.stateOperators.map(_.numRowsTotal))
          .foldLeft(0L)(math.max))
      val out = shape(spark.table(name))
      (spark.createDataFrame(java.util.Arrays.asList(out.collect(): _*), out.schema),
        stats)
    } finally spark.catalog.dropTempView(name)
  }

  /** Streaming HLL cardinality: the 2^b-row register table maintained as a
    * streaming groupBy-max (Complete mode) over file-staged micro-batches.
    * This is the sketch's whole point at stream scale — a running
    * distinct-count over an unbounded arrival stream with STATE BOUNDED at
    * 2^b rows, where exact streaming distinct would grow state with the
    * key universe. max() is commutative/idempotent, so the final streaming
    * state equals the batch sketch EXACTLY regardless of file arrival
    * order — which lets the batch oracle hash-check the streaming run. */
  def hllAvailableNow(spark: org.apache.spark.sql.SparkSession,
                      corpus: DataFrame, b: Int = 6,
                      numFiles: Int = 4): DataFrame = {
    import java.nio.file.{Files => JFiles}
    val stage = JFiles.createTempDirectory("graft_stream_hll")
    try {
      val src = stage.resolve("src").toString
      corpus.select("text").repartition(math.max(1, numFiles))
        .write.mode("overwrite").parquet(src)
      val raw = spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1") // one staged file per micro-batch
        .parquet(src)
      val regs = graft.ops.Sketches.hllRho(raw, col("text"), b)
        .groupBy("register").agg(max("rho").as("max_rho"))
      val snapshot = runToMemorySink(spark, regs, OutputMode.Complete(),
        "graft_stream_hll")(identity)
      graft.ops.Sketches.hllEstimate(snapshot, b)
    } finally deleteRecursively(stage)
  }

  /** Streaming Count-Min: the depth×width counter grid maintained as a
    * streaming groupBy-SUM (Complete mode) — the frequency twin of
    * [[hllAvailableNow]], state bounded at depth·width rows for an
    * unbounded stream. Sum is commutative/associative, so the final
    * snapshot equals the batch sketch exactly regardless of arrival
    * order; point estimates read the snapshot with the same batch
    * lookup. */
  def cmsAvailableNow(spark: org.apache.spark.sql.SparkSession,
                      corpus: DataFrame, depth: Int = 4, width: Int = 256,
                      numFiles: Int = 4): DataFrame = {
    import java.nio.file.{Files => JFiles}
    val stage = JFiles.createTempDirectory("graft_stream_cms")
    try {
      val src = stage.resolve("src").toString
      corpus.select("text").repartition(math.max(1, numFiles))
        .write.mode("overwrite").parquet(src)
      val raw = spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
      // the batch builder's projection+aggregate IS valid streaming SQL —
      // one code path for both triggers (the chunkStream discipline)
      val words = raw.select(explode(graft.ops.Dedup.wordsArray("text")).as("w"))
      val terms = graft.ops.Sketches.cmsSketch(words, col("w"), depth, width)
      runToMemorySink(spark, terms, OutputMode.Complete(),
        "graft_stream_cms")(identity)
    } finally deleteRecursively(stage)
  }

  final case class SessionState(count: Long, lastTs: Long)
  final case class SessionUpdate(userId: Long, events: Long, closed: Boolean)

  /** custom stateful sessionization via mapGroupsWithState: per-user running
    * session state across micro-batches. Pedagogical NoTimeout variant —
    * state grows with the user population forever; the production path is
    * [[sessionizeWithTimeout]], which bounds state via event-time timeouts. */
  def sessionize(events: Dataset[(Long, Long)]): Dataset[SessionUpdate] = {
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .mapGroupsWithState[SessionState, SessionUpdate](GroupStateTimeout.NoTimeout) {
        case (userId, rows, state: GroupState[SessionState]) =>
          val prev = state.getOption.getOrElse(SessionState(0L, 0L))
          val incoming = rows.toSeq
          val st = SessionState(prev.count + incoming.size,
            math.max(prev.lastTs, if (incoming.isEmpty) 0L else incoming.map(_._2).max))
          state.update(st)
          SessionUpdate(userId, st.count, closed = false)
      }
  }

  /** startUs/lastUs are epoch MICROS: the gap comparison must run at the
    * event-time resolution of the source (parquet timestamps are µs), or a
    * gap within 1 ms of the boundary lands on the wrong side of it. */
  final case class SessionWindowState(count: Long, startUs: Long, lastUs: Long)
  final case class ClosedSession(userId: Long, events: Long,
                                 startTs: Long, endTs: Long)

  private def epochMicros(t: java.sql.Timestamp): Long =
    t.getTime * 1000L + (t.getNanos / 1000L) % 1000L

  /** Event-time sessionization with BOUNDED state — the production variant:
    * a per-user session accumulates while events arrive; a session CLOSES
    * either (a) in-handler, when a later event for the same user arrives
    * ≥ gap after the session's last event — required for correctness, since
    * a gap shorter than the watermark delay + gap arrives BEFORE the
    * timeout can fire and would otherwise merge two distinct sessions — or
    * (b) by event-time TIMEOUT once the watermark passes `lastTs + gap`,
    * which removes the state row. State size is one row per currently-
    * active user — it never grows with history, which is the difference
    * between surviving a 100 TB replay and OOMing the state store.
    * Timestamps are epoch millis in the emitted session (formatting is
    * per-second downstream; the µs-sensitive comparison is internal). */
  def sessionizeWithTimeout(events: Dataset[(Long, java.sql.Timestamp)],
                            gapMs: Long = 30L * 60 * 1000,
                            watermark: String = "30 minutes"): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    val gapUs = gapMs * 1000L
    events.toDF("user_id", "ts")
      .withWatermark("ts", watermark)
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionWindowState, ClosedSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (userId, rows, state: GroupState[SessionWindowState]) =>
          def close(s: SessionWindowState) =
            ClosedSession(userId, s.count, s.startUs / 1000L, s.lastUs / 1000L)
          if (state.hasTimedOut) {
            val st = state.get
            state.remove() // the bound: idle users leave the state store
            Iterator.single(close(st))
          } else {
            // event-time order within the batch; arrival across batches is
            // assumed watermark-correct (later batches only bring rows the
            // watermark still admits)
            val incoming = rows.map(r => epochMicros(r._2)).toArray.sorted
            val closed = Seq.newBuilder[ClosedSession]
            var cur = state.getOption
            incoming.foreach { u =>
              cur match {
                case Some(s) if u - s.lastUs >= gapUs =>
                  closed += close(s) // gap reached: the previous session is final
                  cur = Some(SessionWindowState(1L, u, u))
                case Some(s) =>
                  cur = Some(SessionWindowState(s.count + 1L,
                    math.min(s.startUs, u), math.max(s.lastUs, u)))
                case None => cur = Some(SessionWindowState(1L, u, u))
              }
            }
            val st = cur.get
            state.update(st)
            // a timeout must sit beyond the current watermark: an event that
            // arrived just inside the allowed lateness could otherwise ask
            // for a timestamp the watermark already passed; µs→ms rounds UP
            // so the timeout never fires a hair before the gap elapses
            state.setTimeoutTimestamp(
              math.max((st.lastUs + 999L) / 1000L + gapMs,
                state.getCurrentWatermarkMs() + 1))
            closed.result().iterator
          }
      }
  }

  /** Oracle-matched AvailableNow run of [[sessionizeWithTimeout]] over a
    * batch events table, driven as a REAL multi-batch stream (same staging
    * discipline as [[attributionAvailableNowWithStats]]): events are staged
    * as `numFiles` event-time-ordered parquet files read one per trigger,
    * so per-user session state lives ACROSS micro-batches and the watermark
    * both admits in-order arrivals and times out idle sessions batch-by-
    * batch. Two SENTINEL files (user_id = −1, event time past every real
    * session's `lastTs + gap + delay`) are appended after the slices: the
    * first advances the watermark past every real timeout, the second
    * triggers a batch in which those timeouts FIRE — so the run emits every
    * session the batch gaps-and-islands query derives, without relying on
    * trailing no-data micro-batches. Sentinel rows are filtered out of the
    * result; emission is complete-and-exact vs the batch oracle because
    * arrival is event-time-ordered (order is load-bearing, as in the
    * attribution run). */
  def sessionizeAvailableNowWithStats(spark: org.apache.spark.sql.SparkSession,
                                      events: DataFrame,
                                      gapMs: Long = 30L * 60 * 1000,
                                      watermarkDelayMs: Long = 30L * 60 * 1000,
                                      numFiles: Int = 6): (DataFrame, StreamRunStats) = {
    import java.nio.file.{Files => JFiles}
    val stage = JFiles.createTempDirectory("graft_stream_sess")
    val src = stage.resolve("src")
    JFiles.createDirectories(src)
    try {
      val ev = events.select("user_id", "ts")
      stageTimeSlicesInto(ev, "ts", stage, src, numFiles)
      val hiUs = ev.agg(max(unix_micros(col("ts")))).collect()(0).getLong(0)
      (1 to 2).foreach { i =>
        val sentinelUs = hiUs + (gapMs + watermarkDelayMs) * 1000L + i * 60_000_000L
        val tmp = stage.resolve(s"sentinel_$i").toString
        spark.sql(
            s"SELECT CAST(-1 AS BIGINT) AS user_id, timestamp_micros(${sentinelUs}L) AS ts")
          .coalesce(1).write.mode("overwrite").parquet(tmp)
        moveSinglePartInto(java.nio.file.Paths.get(tmp),
          src.resolve(f"events_${numFiles + i}%04d.parquet"),
          1_000_000_000_000L + (numFiles + i) * 60_000L)
      }
      val raw = spark.readStream.schema(spark.read.parquet(src.toString).schema)
        .option("maxFilesPerTrigger", "1") // ONE staged file per micro-batch
        .parquet(src.toString)
      import spark.implicits._
      val sessions = sessionizeWithTimeout(
          raw.select(col("user_id"), col("ts"))
            .as[(Long, java.sql.Timestamp)],
          gapMs, s"$watermarkDelayMs milliseconds")
        .filter(_.userId >= 0L) // drop the watermark-advancing sentinels
      runToMemorySinkWithStats(spark, sessions.toDF(), OutputMode.Append(),
        "graft_stream_sess")(identity)
    } finally deleteRecursively(stage)
  }

  /** [[sessionizeAvailableNowWithStats]] without the run stats. */
  def sessionizeAvailableNow(spark: org.apache.spark.sql.SparkSession,
                             events: DataFrame,
                             gapMs: Long = 30L * 60 * 1000,
                             watermarkDelayMs: Long = 30L * 60 * 1000,
                             numFiles: Int = 6): DataFrame =
    sessionizeAvailableNowWithStats(spark, events, gapMs, watermarkDelayMs,
      numFiles)._1

  /** Watermarked stream-stream inner join — the streaming twin of the batch
    * as-of/attribution join (`ops/TimeJoins`): each `click` joins follow-up
    * `action` events for the same user within `[click.ts, click.ts +
    * windowMs]`. Both sides carry watermarks and the join predicate is
    * range-BOUNDED in event time, which is what lets Spark expire buffered
    * state: a side's rows are dropped once the other side's watermark
    * passes the bound, so state holds only the active window instead of
    * the whole history — the difference between a stream join that runs
    * forever and one that OOMs its state store. Returns (user_id,
    * click_ts, action_ts, action_type) appendable per micro-batch. */
  def clickAttributionJoin(clicks: DataFrame, actions: DataFrame,
                           windowMs: Long = 10L * 60 * 1000,
                           watermark: String = "10 minutes"): DataFrame = {
    val c = clicks.select(col("user_id").as("c_user"), col("ts").as("click_ts"))
      .withWatermark("click_ts", watermark)
    val a = actions.select(col("user_id").as("a_user"), col("ts").as("action_ts"),
        col("event_type").as("action_type"))
      .withWatermark("action_ts", watermark)
    c.join(a,
      col("c_user") === col("a_user") &&
        col("action_ts") >= col("click_ts") &&
        col("action_ts") <= col("click_ts") + expr(s"INTERVAL $windowMs MILLISECOND"))
      .select(col("c_user").as("user_id"), col("click_ts"),
        col("action_ts"), col("action_type"))
  }

  /** Per-run stats of a streaming query: micro-batches that processed input
    * and the PEAK buffered state-store rows across the run. The spec gates
    * on both — batches > 1 proves state crossed batch boundaries, peak <
    * input rows proves the watermark actually evicted instead of buffering
    * the whole corpus. */
  final case class StreamRunStats(batches: Long, maxStateRows: Long,
                                  maxBatchWallSec: Double = 0.0)

  /** JVM-lifetime temp dirs (returned-result parquet that must outlive the
    * producing call): ONE shutdown hook, a shared queue of dirs — repeated
    * invocations must not each register their own hook */
  private val jvmLifetimeDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  private lazy val jvmLifetimeHook: Unit = {
    sys.addShutdownHook {
      jvmLifetimeDirs.iterator().asScala.foreach(deleteTreeQuietly)
    }
    ()
  }

  /** best-effort recursive delete; the Files.walk Stream is CLOSED (it holds
    * an open directory handle per level — leaking one per engine-session
    * result-dir rotation was the ADVICE r12 finding) */
  private def deleteTreeQuietly(d: java.nio.file.Path): Unit =
    try {
      val s = java.nio.file.Files.walk(d)
      try s.iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
      finally s.close()
    } catch { case scala.util.control.NonFatal(_) => () }
  private def registerJvmLifetimeDir(dir: java.nio.file.Path): Unit = {
    jvmLifetimeHook
    jvmLifetimeDirs.add(dir): Unit
  }

  /** Live result dir per QUERY NAME — the bound on the JVM-lifetime
    * accumulation above: repeated invocations of the same query re-claim
    * their name, deleting the predecessor's dir instead of letting disk
    * grow linearly with call count × result volume in a long-lived engine
    * session. Lifecycle contract this encodes: a returned result handle is
    * valid until the SAME query runs again (the harness and any sane
    * caller consume a result before re-running its producer); all live
    * dirs are still swept by the shutdown hook. */
  private val namedResultDirs =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()
  private def claimResultDir(name: String): java.nio.file.Path = {
    val fresh = java.nio.file.Files.createTempDirectory(s"graft_${name}_out")
    registerJvmLifetimeDir(fresh)
    // claim-then-delete runs inside compute(), so it is atomic PER NAME:
    // two concurrent claims of the same name serialize on the map bin and
    // each deletes exactly one predecessor (the ADVICE r12 race was two
    // puts both observing the same prev and one deleting a dir the other's
    // returned handle still lazily read). The lifecycle contract is
    // unchanged and stays documented above: a returned result handle is
    // valid only until the SAME query is re-run — claiming serially here
    // makes the rotation safe, it does not make concurrent re-runs of one
    // query a supported pattern (the later claim still deletes the dir the
    // earlier, still-running invocation will write).
    namedResultDirs.compute(name, (_, prev) => {
      if (prev != null) {
        jvmLifetimeDirs.remove(prev): Unit
        deleteTreeQuietly(prev)
      }
      fresh
    })
    fresh
  }

  /** test-visible probe: the live result dir claimed under `name`, if any */
  private[graft] def currentResultDir(name: String): Option[java.nio.file.Path] =
    Option(namedResultDirs.get(name))

  /** Oracle-matched AvailableNow run of [[clickAttributionJoin]] over a
    * batch events table, driven as a REAL multi-batch stream: events are
    * staged as `numFiles` event-time-ordered parquet files (equal time
    * spans, strictly increasing mtimes) and read with maxFilesPerTrigger=1,
    * so the join's buffered state lives ACROSS micro-batches and the
    * watermark evicts it batch-by-batch as event time advances — the
    * semantics a stream-stream join exists to provide, exercised for real.
    *
    * Emission stays complete (= the batch join exactly) because arrival is
    * event-time-ordered across files: a click buffered at time T is only
    * evicted once the watermark passes T + windowMs, and by then every
    * action with action_ts ≤ T + windowMs has already arrived (the
    * watermark trails the max arrived ts by the full window). Out-of-order
    * staging would forfeit this guarantee — order is load-bearing here.
    *
    * The staging copy is deleted before returning — it is real data, not
    * the rollup's symlink. Returns (user_id, click_ts, action_ts,
    * action_type). */
  def attributionAvailableNow(spark: org.apache.spark.sql.SparkSession,
                              events: DataFrame,
                              windowMs: Long = 10L * 60 * 1000,
                              numFiles: Int = 4): DataFrame =
    attributionAvailableNowWithStats(spark, events, windowMs, numFiles)._1

  /** [[attributionAvailableNow]] plus the run's [[StreamRunStats]]. */
  def attributionAvailableNowWithStats(spark: org.apache.spark.sql.SparkSession,
                                       events: DataFrame,
                                       windowMs: Long = 10L * 60 * 1000,
                                       numFiles: Int = 4): (DataFrame, StreamRunStats) = {
    import java.nio.file.{Files => JFiles, Paths, StandardCopyOption}
    val stage = JFiles.createTempDirectory("graft_stream_attrib")
    val src = stage.resolve("src")
    JFiles.createDirectories(src)
    try {
      val ev = events.select("user_id", "ts", "event_type")
      stageTimeSlicesInto(ev, "ts", stage, src, numFiles)
      // read schema from the staged files themselves: write and read sides
      // stay coupled by construction if the events schema ever drifts
      val raw = spark.readStream.schema(spark.read.parquet(src.toString).schema)
        .option("maxFilesPerTrigger", "1") // ONE staged file per micro-batch
        .parquet(src.toString)
      val joined = clickAttributionJoin(
        raw.filter(col("event_type") === "click"),
        raw.filter(col("event_type") =!= "click"), windowMs)
      runToMemorySinkWithStats(spark, joined, OutputMode.Append(),
        "graft_stream_attrib")(identity)
    } finally deleteRecursively(stage)
  }

  /** Streaming exact dedup run AvailableNow over a batch corpus, driven as
    * a REAL multi-batch stream (same staging discipline as
    * [[attributionAvailableNowWithStats]]): docs are staged as `numFiles`
    * event-time-ordered parquet files (ts = base + doc_id seconds —
    * synthetic but strictly increasing and unique, so doc-id order IS
    * arrival order) and read one file per trigger, so the fingerprint state
    * built in batch k drops re-arrivals in batch k+n. This is the streaming
    * twin of the exact-dedup groupBy (`ops/Dedup.exactDupGroups`): on an
    * unbounded corpus a lifetime dedup set is impossible, and
    * `dropDuplicatesWithinWatermark` keys state on the fingerprint and
    * EXPIRES entries once the watermark passes them — state follows the
    * window, never the corpus. Here the delay exceeds the staged corpus's
    * synthetic time span, so the run equals global first-wins dedup — which
    * is what the DuckDB oracle hash-checks; the expiry semantics (bounded
    * state, expired keys re-admitted) are spec-gated in StreamingSpec.
    *
    * The output keeps only fingerprint-DETERMINED columns: the fp itself
    * and the length of the NORMALIZED text (the exact string the
    * fingerprint hashes — lowercased, whitespace-collapsed, trimmed).
    * Which of two same-fp rows reaches the state store first within one
    * micro-batch is partition-order dependent, so emitting any
    * arrival-specific column (doc_id, ts, RAW length — two texts with the
    * same fp can differ in raw length by whitespace/case) would be
    * nondeterministic; only columns the fp functionally determines are
    * safe. */
  def exactDedupAvailableNowWithStats(spark: org.apache.spark.sql.SparkSession,
                                      corpus: DataFrame, numFiles: Int = 4,
                                      watermarkDelay: String = "90 days"): (DataFrame, StreamRunStats) = {
    import java.nio.file.{Files => JFiles, Paths, StandardCopyOption}
    val stage = JFiles.createTempDirectory("graft_stream_dedup")
    val src = stage.resolve("src")
    JFiles.createDirectories(src)
    try {
      // synthetic event time: 2025-01-01 + doc_id seconds (unique per row)
      val ev = corpus.select(col("doc_id"), col("text"))
        .withColumn("ts", timestamp_seconds(lit(1735689600L) + col("doc_id")))
      val Array(lo, hi) = ev.agg(min(col("doc_id")), max(col("doc_id")))
        .collect()(0) match { case r => Array(r.getLong(0), r.getLong(1)) }
      val n = math.max(1, numFiles)
      val span = math.max(1L, (hi - lo) / n + 1)
      (0 until n).foreach { i =>
        val tmp = stage.resolve(s"slice_$i").toString
        ev.filter(col("doc_id") >= lo + i * span && col("doc_id") < lo + (i + 1) * span)
          .coalesce(1).write.mode("overwrite").parquet(tmp)
        val listing = JFiles.list(Paths.get(tmp)) // requires close (handle leak)
        val found = scala.collection.mutable.ArrayBuffer[java.nio.file.Path]()
        try {
          val part = listing.iterator()
          while (part.hasNext) { val p = part.next(); if (p.toString.endsWith(".parquet")) found += p }
        } finally listing.close()
        val dest = src.resolve(f"docs_$i%04d.parquet")
        JFiles.move(found.head, dest, StandardCopyOption.REPLACE_EXISTING)
        // mtime order = event-time order, so FileStreamSource discovery
        // replays arrival in doc-id order (same trick as the attribution run)
        JFiles.setLastModifiedTime(dest,
          java.nio.file.attribute.FileTime.fromMillis(1_000_000_000_000L + i * 60_000L))
      }
      val raw = spark.readStream.schema(spark.read.parquet(src.toString).schema)
        .option("maxFilesPerTrigger", "1") // ONE staged file per micro-batch
        .parquet(src.toString)
      val deduped = raw
        .withColumn("fingerprint", graft.ops.TextAnalysis.fingerprint(col("text")))
        .withWatermark("ts", watermarkDelay)
        .dropDuplicatesWithinWatermark("fingerprint")
      runToMemorySinkWithStats(spark, deduped, OutputMode.Append(),
        "graft_stream_dedup")(
        _.select(col("fingerprint").as("fp"),
          length(trim(regexp_replace(lower(col("text")), "\\s+", " ")))
            .cast("long").as("text_len")))
    } finally deleteRecursively(stage)
  }

  def exactDedupAvailableNow(spark: org.apache.spark.sql.SparkSession,
                             corpus: DataFrame, numFiles: Int = 4,
                             watermarkDelay: String = "90 days"): DataFrame =
    exactDedupAvailableNowWithStats(spark, corpus, numFiles, watermarkDelay)._1

  /** Streaming INCREMENTAL near-dup dedup — the continuous-ingest shape of
    * `d_delta_dedup`: each micro-batch (one staged doc-id-ordered file per
    * trigger, same discipline as the other AvailableNow runs) runs inside
    * foreachBatch as
    *
    *   1. candidates of the batch against everything indexed SO FAR
    *      ([[graft.store.MinhashIndexStore.deltaCandidates]]: broadcast the
    *      batch's bands onto the stored band table) plus in-batch banding;
    *   2. exact Jaccard verify, shingling ONLY candidate-touched docs
    *      (point-lookups into the accumulated doc store, never a rescan);
    *   3. append the verified pairs to the output, the batch to the doc
    *      store, and the batch's signatures to the index
    *      ([[graft.store.MinhashIndexStore.appendBatch]]).
    *
    * Per-batch cost follows |batch| + |candidates| — the 100 TB posture: a
    * corpus streaming in forever is deduped as it arrives, and the index is
    * the only state that persists. Every unordered near-dup pair surfaces
    * exactly once, in the batch where its LATER member arrives — so the
    * union over batches equals the full-corpus banded LSH pairs at the same
    * threshold, which is what the e2e oracle (d_stream_delta_dedup)
    * hash-checks. Returns (id_a, id_b, jaccard) materialized driver-side;
    * all staging/index/store state lives under a fresh temp dir, deleted on
    * return (each invocation is a self-contained run). */
  def incrementalDedupAvailableNowWithStats(spark: org.apache.spark.sql.SparkSession,
                                            corpus: DataFrame,
                                            threshold: Double = 0.5,
                                            numFiles: Int = 4): (DataFrame, StreamRunStats) = {
    import java.nio.file.{Files => JFiles, Paths, StandardCopyOption}
    val stage = JFiles.createTempDirectory("graft_stream_delta")
    val src = stage.resolve("src")
    JFiles.createDirectories(src)
    val indexDir = stage.resolve("mh-index").toString
    val docsDir = stage.resolve("docs").toString
    val pairsDir = stage.resolve("pairs").toString
    try {
      val ev = corpus.select(col("doc_id"), col("text"))
      val Array(lo, hi) = ev.agg(min(col("doc_id")), max(col("doc_id")))
        .collect()(0) match { case r => Array(r.getLong(0), r.getLong(1)) }
      val n = math.max(1, numFiles)
      val span = math.max(1L, (hi - lo) / n + 1)
      (0 until n).foreach { i =>
        val tmp = stage.resolve(s"slice_$i").toString
        ev.filter(col("doc_id") >= lo + i * span && col("doc_id") < lo + (i + 1) * span)
          .coalesce(1).write.mode("overwrite").parquet(tmp)
        val listing = JFiles.list(Paths.get(tmp)) // requires close (handle leak)
        val found = scala.collection.mutable.ArrayBuffer[java.nio.file.Path]()
        try {
          val part = listing.iterator()
          while (part.hasNext) { val p = part.next(); if (p.toString.endsWith(".parquet")) found += p }
        } finally listing.close()
        val dest = src.resolve(f"docs_$i%04d.parquet")
        JFiles.move(found.head, dest, StandardCopyOption.REPLACE_EXISTING)
        JFiles.setLastModifiedTime(dest,
          java.nio.file.attribute.FileTime.fromMillis(1_000_000_000_000L + i * 60_000L))
      }
      val st = new graft.store.MinhashIndexStore(spark, indexDir,
        nHashes = 16, bands = 4, rowsPerBand = 4)
      var batchesWithRows = 0L
      // foreachBatch is AT-LEAST-ONCE: a crash between sink work and
      // checkpoint advance replays the micro-batch with the same batchId.
      // The appends below are not naturally idempotent (index signatures,
      // the doc store, and emitted pairs would all double), so each fully
      // processed batchId leaves a marker and replays are skipped; the pair
      // and doc writes additionally go to per-batch `batch=<id>`
      // subdirectories in Overwrite mode, so even a replay of a PARTIALLY
      // processed batch cannot duplicate them. The one remaining
      // at-least-once window is MinhashIndexStore.appendBatch on a
      // mid-batch crash — production closes it by keying index segments on
      // batchId the same way.
      val markerDir = stage.resolve("processed")
      JFiles.createDirectories(markerDir)
      val raw = spark.readStream.schema(spark.read.parquet(src.toString).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src.toString)
      // per-batch wall clock on the record: the scale claim for this path
      // is "cost follows the batch", and the stress run reads these lines
      var maxBatchWall = 0.0
      val q = raw.writeStream
        .foreachBatch { (batchDF: DataFrame, batchId: Long) =>
          val marker = markerDir.resolve(f"batch-$batchId%08d")
          val batch = batchDF.persist()
          val tBatch0 = System.nanoTime()
          try {
            // ONE count: materializes the persisted batch, gates the empty
            // case, and is reused by the log line below (a second count
            // purely for logging was an extra Spark job inside the timed
            // path this line reports on)
            val nRows = if (JFiles.exists(marker)) 0L else batch.count()
            if (!JFiles.exists(marker) && nRows > 0) {
              batchesWithRows += 1
              // every persist and checkpoint of this micro-batch's verify
              // is scoped to it — one leaked block per batch would
              // accumulate for the stream's lifetime
              Materialize { m =>
                val cands = m.persist(
                  if (st.exists) st.deltaCandidates(m, batch)
                  else { // first batch: no stored side yet, in-batch pairs only
                    val sigs = st.signatures(batch)
                    graft.ops.Dedup.lshCandidatePairs(
                      graft.ops.Dedup.lshBands(sigs, "doc_id", "sig", 4, 4), "doc_id")
                  }, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
                if (cands.take(1).nonEmpty) {
                  val candIds = cands.select(col("id_a").as("doc_id"))
                    .union(cands.select(col("id_b").as("doc_id"))).distinct()
                  // texts of candidate-touched docs: this batch plus point
                  // lookups into the accumulated doc store
                  val lookup =
                    if (new java.io.File(docsDir).exists)
                      batch.select("doc_id", "text")
                        .unionByName(spark.read.parquet(docsDir).select("doc_id", "text"))
                    else batch.select("doc_id", "text")
                  // count-and-route like the batch twin: broadcast only a
                  // measured-bounded id set, shuffle-semi otherwise
                  val needed = graft.ops.Dedup
                    .routedSemiJoin(m, lookup, candIds, "doc_id")
                    .withColumn("ws", graft.ops.Dedup.wordsArray("text"))
                    .withColumn("shs", graft.ops.Dedup.wordShingles("ws", 5))
                  // r13: the verify shape is measured-routed too — a batch
                  // landing in an adversarial twin regime re-routes onto
                  // the posting join instead of carrying arrays per pair
                  graft.ops.Dedup
                    .jaccardOnPairsRouted(m, cands, needed, "doc_id", "shs")
                    .filter(col("jaccard") >= threshold)
                    .write.mode("overwrite").parquet(s"$pairsDir/batch=$batchId")
                }
              }
              batch.select("doc_id", "text").write.mode("overwrite")
                .parquet(s"$docsDir/batch=$batchId")
              st.appendBatch(batch): Unit
              JFiles.createFile(marker): Unit
              val wall = (System.nanoTime() - tBatch0) / 1e9
              if (wall > maxBatchWall) maxBatchWall = wall
              System.err.println(
                f"[stream-delta] batch=$batchId rows=$nRows wall=$wall%.2fs")
            }
          } finally batch.unpersist(): Unit
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val pairSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id_a",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("id_b",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("jaccard",
          org.apache.spark.sql.types.DoubleType, nullable = true)))
      // the emitted pairs STAY distributed: move the pair parquet out of
      // the staging tree (deleted below) into a JVM-lifetime dir and hand
      // back a lazy scan. The previous shape — collect() into a
      // LocalRelation so the result could outlive the cleanup — was an
      // O(all pairs) driver materialization: fine at sf scale, a
      // multi-minute GC-bound cliff at the 100× adversarial regime (every
      // doc in a ~100-twin group), and exactly the cost shape a 100 TB
      // corpus would OOM the driver with.
      val out =
        if (new java.io.File(pairsDir).exists) {
          // per-name claim: re-running this query deletes the previous
          // run's result dir — disk stays bounded by live queries, not by
          // invocation count (the predecessor's returned handle is dead by
          // contract once its producer re-runs)
          val keep = claimResultDir("stream_delta")
          JFiles.move(Paths.get(pairsDir), keep.resolve("pairs"),
            StandardCopyOption.ATOMIC_MOVE)
          spark.read.parquet(keep.resolve("pairs").toString)
            .select(col("id_a").cast("long"), col("id_b").cast("long"),
              col("jaccard").cast("double"))
        } else spark.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](), pairSchema)
      (out, StreamRunStats(batches = batchesWithRows, maxStateRows = st.rowCount(),
        maxBatchWallSec = maxBatchWall))
    } finally deleteRecursively(stage)
  }

  def incrementalDedupAvailableNow(spark: org.apache.spark.sql.SparkSession,
                                   corpus: DataFrame, threshold: Double = 0.5,
                                   numFiles: Int = 4): DataFrame =
    incrementalDedupAvailableNowWithStats(spark, corpus, threshold, numFiles)._1

  /** Streaming twin of the INCREMENTAL CLEANING FUNNEL — the
    * d_stream_delta_dedup pattern lifted to the whole quality → exact →
    * near-dup → decontamination pipeline: the corpus replays as
    * event-time-ordered staged files (ascending doc_id slices, one per
    * trigger — the id ordering is what makes first-wins monotone across
    * micro-batches), each foreachBatch cleans the arriving batch against
    * the persisted [[graft.store.CleanStateStore]] via
    * `applyBatch` and folds it in via `absorb`, including the
    * revocation edge (a later batch's holdout docs can retract earlier
    * survivors). State bootstraps from an EMPTY rebuild, so batch 0 runs
    * the same delta protocol as every other batch (spec-pinned: the first
    * batch against empty state IS the batch funnel).
    *
    * The final survivor set equals the batch funnel on the whole corpus —
    * the e_stream_pipeline oracle hash-checks exactly that (same
    * CleaningCtes as d_corpus_pipeline/d_delta_pipeline).
    *
    * At-least-once discipline matches the dedup twin: absorb's appends are
    * not idempotent, so each fully processed batchId leaves a marker and
    * replays are skipped; the accumulated doc store (the candidate-verify
    * lookup side) writes per-batch subdirectories in Overwrite mode.
    * Survivors are moved to a per-name claimed result dir and returned as
    * a lazy scan (never a driver collect). */
  def cleanPipelineAvailableNow(spark: org.apache.spark.sql.SparkSession,
                                corpus: DataFrame,
                                isHoldout: Column,
                                numFiles: Int = 4): DataFrame = {
    import java.nio.file.{Files => JFiles, Paths, StandardCopyOption}
    val stage = JFiles.createTempDirectory("graft_stream_pipe")
    val src = stage.resolve("src")
    JFiles.createDirectories(src)
    val stateDir = stage.resolve("clean-state").toString
    val docsDir = stage.resolve("docs").toString
    try {
      val ev = corpus.select(col("doc_id"), col("text"))
      val Array(lo, hi) = ev.agg(min(col("doc_id")), max(col("doc_id")))
        .collect()(0) match { case r => Array(r.getLong(0), r.getLong(1)) }
      val n = math.max(1, numFiles)
      val span = math.max(1L, (hi - lo) / n + 1)
      (0 until n).foreach { i =>
        val tmp = stage.resolve(s"slice_$i").toString
        ev.filter(col("doc_id") >= lo + i * span && col("doc_id") < lo + (i + 1) * span)
          .coalesce(1).write.mode("overwrite").parquet(tmp)
        val listing = JFiles.list(Paths.get(tmp))
        val found = scala.collection.mutable.ArrayBuffer[java.nio.file.Path]()
        try {
          val part = listing.iterator()
          while (part.hasNext) { val p = part.next(); if (p.toString.endsWith(".parquet")) found += p }
        } finally listing.close()
        val dest = src.resolve(f"docs_$i%04d.parquet")
        JFiles.move(found.head, dest, StandardCopyOption.REPLACE_EXISTING)
        JFiles.setLastModifiedTime(dest,
          java.nio.file.attribute.FileTime.fromMillis(1_000_000_000_000L + i * 60_000L))
      }
      val st = new graft.store.CleanStateStore(spark, stateDir)
      st.rebuild(ev.filter(lit(false)), isHoldout) // empty bootstrap
      val markerDir = stage.resolve("processed")
      JFiles.createDirectories(markerDir)
      val raw = spark.readStream.schema(spark.read.parquet(src.toString).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src.toString)
      val q = raw.writeStream
        .foreachBatch { (batchDF: DataFrame, batchId: Long) =>
          val marker = markerDir.resolve(f"batch-$batchId%08d")
          val batch = batchDF.persist()
          try {
            val nRows = if (JFiles.exists(marker)) 0L else batch.count()
            if (!JFiles.exists(marker) && nRows > 0) {
              // the candidate-verify lookup side: this batch plus the
              // accumulated doc store (point lookups at scale)
              val full =
                if (new java.io.File(docsDir).exists)
                  batch.unionByName(
                    spark.read.parquet(docsDir).select("doc_id", "text"))
                else batch
              Materialize(m => st.absorb(st.applyBatch(m, batch, full, isHoldout)))
              batch.write.mode("overwrite").parquet(s"$docsDir/batch=$batchId")
              JFiles.createFile(marker): Unit
              System.err.println(s"[stream-pipe] batch=$batchId rows=$nRows " +
                s"survivors=${st.stageCounts()._5}")
            }
          } finally batch.unpersist(): Unit
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // hand the survivors back OUTSIDE the staging tree (deleted below)
      val keep = claimResultDir("stream_pipeline")
      st.survivors().write.mode("overwrite")
        .parquet(keep.resolve("survivors").toString)
      spark.read.parquet(keep.resolve("survivors").toString)
        .select(col("doc_id").cast("long"))
    } finally deleteRecursively(stage)
  }

  /** run the streaming ingest over a directory of text files using
    * AvailableNow (incremental batch), writing chunk parquet + checkpoint */
  def runAvailableNow(docs: Dataset[Ingest.Doc], mkEmbedder: () => Embedder,
                      timestamp: String, outPath: String, checkpoint: String): Unit = {
    val q = chunkStream(docs, mkEmbedder, timestamp)
      .writeStream
      .format("parquet")
      .option("path", outPath)
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }
}
