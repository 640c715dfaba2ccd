package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, typedLit}

import graft.api.Engine
import graft.chunker.MaxMinChunker
import graft.core.{GraftSession, PathKeys, StealSampler}
import graft.embed.HashedEmbedder
import graft.ingest.{DirectoryScanner, Ingest}
import graft.search.{Bm25, HybridSearch, VectorSearch}

import Checks._
import Corpus.GenFile

/** The benchmark's one entry point:
  *
  *   Main --workload interactive|sync_churn --seed N --seconds S --trace 0|1
  *        [--trace-dir DIR]
  *   Main --selftest
  *
  * A run generates its corpus from the seed into a fresh directory under
  * java.io.tmpdir, starts one local session, builds the store with a cold
  * `sync()`, then drives the public `Engine` API from a single closed-loop
  * client for `--seconds` seconds, checking every result. The last line of
  * stdout is the result object; the line before it is a detail record with
  * the per-operation figures and the host-noise sample. */
object Main {
  /** vector width of the reference's all-MiniLM-L6-v2 */
  val Dim = 384
  val Workloads = Seq("interactive", "sync_churn")

  final case class Opts(workload: String = "", seed: Long = 1L, seconds: Int = 10,
                        trace: Boolean = false, traceDir: Option[String] = None,
                        selfTest: Boolean = false)

  @scala.annotation.tailrec
  def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case "--workload" :: v :: t => parse(t, o.copy(workload = v))
    case "--seed" :: v :: t => parse(t, o.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, o.copy(seconds = v.toInt))
    case "--trace" :: v :: t => parse(t, o.copy(trace = v == "1"))
    case "--trace-dir" :: v :: t => parse(t, o.copy(traceDir = Some(v)))
    case "--selftest" :: t => parse(t, o.copy(selfTest = true))
    case Nil => o
    case x :: _ => throw new IllegalArgumentException(s"unknown argument: $x")
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args.toList)
    if (o.selfTest) {
      val problems = Checks.selfTest() ++ corpusSelfTest()
      problems.foreach(p => System.err.println(s"selftest: $p"))
      println(Json.obj("selftest" -> (if (problems.isEmpty) "ok" else "failed"),
        "problems" -> problems.size))
      sys.exit(if (problems.isEmpty) 0 else 1)
    }
    require(Workloads.contains(o.workload),
      s"--workload must be one of ${Workloads.mkString(", ")}")
    require(o.seconds >= 1, "--seconds must be at least 1")
    val lines = new Run(o).execute()
    lines.foreach(println)
    System.out.flush()
    sys.exit(0)
  }

  /** the same seed must give byte-identical corpora, another seed another */
  def corpusSelfTest(): Seq[String] = {
    val tmp = Files.createTempDirectory(Paths.get(System.getProperty("java.io.tmpdir")), "pb-self-")
    try Workloads.flatMap { w =>
      def digest(seed: Long, tag: String): String = {
        val dir = tmp.resolve(s"$w-$tag")
        Corpus.write(dir, Run.corpus(w, seed))
        Corpus.digest(dir)
      }
      val (a, b, c) = (digest(11, "a"), digest(11, "b"), digest(12, "c"))
      (if (a != b) Seq(s"$w: seed 11 gave two different corpora") else Nil) ++
        (if (a == c) Seq(s"$w: seeds 11 and 12 gave the same corpus") else Nil)
    } finally Run.deleteTree(tmp)
  }
}

object Run {
  // interactive: a read store above Engine.AnnCorpusThreshold (4096 chunks)
  // so queries take the IVF probe route; a few long documents give the
  // reference's single-long-document neighbors shape
  val ShortDocs = 120
  val LongDocs = 3
  val LongSentences = 1300
  // sync_churn: a small mixed-format store, so one write cycle fits a run
  val ChurnDocs = 80
  val SmallEdits = 3 // + 1 add + 1 remove: 5 dirty files, the per-file loop
  val BatchEdits = 30 // + 2 adds + 2 removes: 34 dirty files, the batched path

  /** the interactive tool mix, one cycle; its shares (50% query, 30%
    * neighbors, 10% list_files, 10% status) are an assumption */
  val ReadCycle = Seq("query", "neighbors", "query", "list_files", "query",
    "neighbors", "query", "status", "query", "neighbors")
  val ReadOps = Seq("query", "neighbors", "list_files", "status")
  val WriteTools = Seq("setup_sync", "sync_small", "sync_batch", "ingest_file", "delete_doc")
  val WriteOps = Seq("sync_small", "sync_batch", "read_after_write")

  /** the interactive corpus has no PDF or DOCX: ids on the 90..99 rotation
    * slots are skipped, keeping the 70/20 txt/md proportion */
  def corpus(workload: String, seed: Long): Seq[GenFile] =
    if (workload == "interactive")
      Iterator.from(0).filter(_ % 100 < 90).take(ShortDocs).map(Corpus.mixedFile(seed, _)).toSeq ++
        (0 until LongDocs).map(Corpus.longFile(seed, _, LongSentences, "docs/long"))
    else (0 until ChurnDocs).map(Corpus.mixedFile(seed, _))

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
      finally s.close()
    }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  def geomean(xs: Seq[Double]): Double = math.exp(mean(xs.map(math.log)))

  /** the highest percentile with at least ten samples above it, and its
    * value; None below eleven samples */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    if (xs.size < 11) None
    else {
      val s = xs.sorted
      Some((100.0 * (s.size - 10) / s.size, s(s.size - 11)))
    }
}

final class Run(o: Main.Opts) {
  import Run._

  private val interactive = o.workload == "interactive"
  private val runStartMs = System.currentTimeMillis()
  private val base = Files.createTempDirectory(
    Paths.get(System.getProperty("java.io.tmpdir")), "perfbench-")
  private val root = base.resolve("corpus")
  private val storePath = base.resolve("store").toString
  private val rnd = new Random(o.seed * 7919L + 17L)
  private val emb = new HashedEmbedder(Main.Dim)

  /** what the corpus on disk holds: relative path → file */
  private val onDisk = mutable.LinkedHashMap.empty[String, GenFile]
  /** stored path → expected chunk count */
  private val counts = mutable.LinkedHashMap.empty[String, Long]
  private var nextId = ChurnDocs
  private var changedBytes = 0L

  private def abs(rel: String): String = PathKeys.storageSpelling(root.resolve(rel).toString)

  def execute(): Seq[String] =
    try body() finally deleteTree(base)

  private def body(): Seq[String] = {
    val files = corpus(o.workload, o.seed)
    Corpus.write(root, files)
    files.foreach(f => onDisk(f.rel) = f)
    changedBytes = files.map(_.bytes.length.toLong).sum

    val runIo0 = StealSampler.snapshotIo()
    val sessionStartMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val spark = GraftSession.local(Runtime.getRuntime.availableProcessors())
    val sessionMs = (System.nanoTime() - t0) / 1e6
    try {
      val counter = new JobCounter
      spark.sparkContext.addSparkListener(counter)
      val tracer = if (o.trace) Some(new Tracer(spark)) else None
      val engine = new Engine(spark, storePath, Seq(root.toString),
        tracer.map(_.mkEmbedder).getOrElse(() => new HashedEmbedder(Main.Dim)))
      val client = new Client(spark, counter, tracer)
      val w = new Workload(engine, client)

      client.call("setup_sync")(engine.sync())(s =>
        if (s.upserted == files.size) None else Some(s"setup sync upserted ${s.upserted}"))
      val setupS = (System.nanoTime() - t0) / 1e9
      val setupSyncMs = client.calls.last.wallMs
      w.afterSetup(files)

      // one untimed call of each read, so the timed window does not pay
      // the first query plan compilations
      val warmT0 = System.nanoTime()
      if (interactive) client.inPhase("warmup") {
        w.query(); w.neighbors(); w.listFilesCall(); w.status()
      }
      val warmupS = (System.nanoTime() - warmT0) / 1e9

      val io0 = StealSampler.snapshotIo()
      val timedT0 = System.nanoTime()
      var cycles = 0
      client.inPhase("timed") {
        do {
          if (interactive) w.readCycle() else w.writeCycle(cycles)
          cycles += 1
        } while ((System.nanoTime() - timedT0) / 1e9 < o.seconds)
      }
      val timedS = (System.nanoTime() - timedT0) / 1e9
      val (steal, iowait) = StealSampler.pctIo(io0, StealSampler.snapshotIo())
      val persistedEnd = spark.sparkContext.getPersistentRDDs.size
      val heapMb = retainedHeapMb()

      val ops = if (interactive) ReadOps else WriteOps
      val p50 = ops.map(op => op -> median(client.timed(op).filter(_.ok).map(_.wallMs))).toMap
      val callP50 = geomean(ops.map(p50).filterNot(_.isNaN))

      val (layers, extraLayers) = tracer.map(tr => new Layers(engine, client, tr, w).compute(
        sessionMs, callP50, persistedEnd)).unzip
      val (runSteal, runIowait) = StealSampler.pctIo(runIo0, StealSampler.snapshotIo())

      val attempted = client.calls.size
      val failed = client.calls.count(!_.ok)
      val opDetail = ops.map { op =>
        val cs = client.timed(op)
        val xs = cs.filter(_.ok).map(_.wallMs)
        op -> Json.obj("n" -> xs.size, "p50_ms" -> p50(op),
          "tail_pct" -> tail(xs).map(_._1), "tail_ms" -> tail(xs).map(_._2),
          "jobs_per_call" -> mean(cs.map(c => client.jobs(c).toDouble)))
      }
      val detail = Json.obj(
        "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds,
        "trace" -> o.trace, "nproc" -> Runtime.getRuntime.availableProcessors(),
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
        "steal_pct" -> steal, "iowait_pct" -> iowait,
        "steal_pct_run" -> runSteal, "iowait_pct_run" -> runIowait,
        "session_ms" -> sessionMs, "setup_sync_ms" -> setupSyncMs,
        "setup_chunks_per_s" -> w.setupChunks / (setupSyncMs / 1000.0),
        "warmup_s" -> warmupS, "timed_s" -> timedS, "cycles" -> cycles,
        "corpus" -> Json.obj("files" -> files.size, "bytes" -> files.map(_.bytes.length.toLong).sum,
          "chunks" -> w.setupChunks),
        "ops_failed_frac" -> failed.toDouble / attempted,
        "ops" -> Json.obj(opDetail: _*),
        "layers_extra" -> extraLayers.map(x => Json.obj(x.map { case (k, (v, u)) =>
          k -> Json.obj("value" -> v, "unit" -> u) }: _*)),
        "failures" -> client.failures.take(10).toSeq)
      val metrics =
        if (o.trace) layers.get.map { case (k, (v, u)) => k -> Json.obj("value" -> v, "unit" -> u) }
        else Seq(
          "setup_s" -> Json.obj("value" -> setupS, "unit" -> "s"),
          "call_p50_ms" -> Json.obj("value" -> callP50, "unit" -> "ms"),
          "retained_heap_mb" -> Json.obj("value" -> heapMb, "unit" -> "MB"))
      tracer.foreach(tr => writeTrace(tr, client, layers.get, sessionStartMs, sessionMs))
      Seq(Json.obj("detail" -> detail),
        Json.obj("correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
          "metrics" -> Json.obj(metrics: _*))).map(_.toString)
    } finally spark.stop()
  }

  /** driver heap in use after forced collections */
  private def retainedHeapMb(): Double = {
    val rt = Runtime.getRuntime
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    (rt.totalMemory - rt.freeMemory) / 1048576.0
  }

  /** Spans (run → phase → call → Spark job) with their self time, written
    * as one JSON file per traced run. */
  private def writeTrace(tr: Tracer, client: Client, layers: Seq[(String, (Double, String))],
                         sessionStartMs: Long, sessionMs: Double): Unit =
    o.traceDir.foreach { dir =>
      final case class Span(id: String, parent: String, name: String, s: Double, e: Double)
      val calls = client.calls.toSeq
      val callSpans = calls.map(c => Span(s"c${c.id}", s"p-${c.phase}", c.op,
        c.startMs.toDouble, c.startMs + c.wallMs))
      val jobSpans = calls.flatMap(c => tr.jobsOf(c.group).map(j => Span(s"j${j.id}",
        s"c${c.id}", s"job ${j.desc}".trim, j.start.toDouble,
        (if (j.end < 0) j.start else j.end).toDouble)))
      val phaseSpans = callSpans.groupBy(_.parent).toSeq.map { case (p, cs) =>
        Span(p, "run", p.stripPrefix("p-"), cs.map(_.s).min, cs.map(_.e).max) }
      val all = Seq(Span("run", "", s"run ${o.workload}", runStartMs.toDouble,
          System.currentTimeMillis().toDouble),
        Span("session", "run", "session", sessionStartMs.toDouble, sessionStartMs + sessionMs)) ++
        phaseSpans ++ callSpans ++ jobSpans
      val kids = all.groupBy(_.parent)
      val out = all.map { sp =>
        val child = kids.getOrElse(sp.id, Nil).map(k => (k.s, k.e))
        Json.obj("id" -> sp.id, "parent" -> sp.parent, "name" -> sp.name,
          "start_ms" -> sp.s, "end_ms" -> sp.e, "dur_ms" -> (sp.e - sp.s),
          "self_ms" -> (sp.e - sp.s - Tracer.covered(child, sp.s, sp.e)))
      }
      val p = Paths.get(dir).resolve(s"${o.workload}-seed${o.seed}.json")
      Files.createDirectories(p.getParent)
      Files.write(p, Json.obj("workload" -> o.workload, "seed" -> o.seed,
        "per_layer" -> Json.obj(layers.map { case (k, (v, u)) =>
          k -> Json.obj("value" -> v, "unit" -> u) }: _*),
        "spans" -> out).toString.getBytes(UTF_8))
    }

  /** The calls and checks of both workloads, over one engine. */
  final class Workload(engine: Engine, client: Client) {
    var setupChunks = 0L

    private def neighborRows(rows: Array[Row]): Seq[NeighborRow] = rows.toSeq.map(r =>
      NeighborRow(r.getAs[String]("filePath"), r.getAs[Int]("chunkIndex"),
        r.getAs[String]("text"), r.getAs[Boolean]("isTarget")))

    /** the driver-side chunk count of a txt, md or docx file */
    def driverChunks(f: GenFile): Long = {
      val content =
        if (f.ext == "docx") graft.ingest.DocxParser.toMarkdown(f.bytes)
        else new String(f.bytes, UTF_8)
      Ingest.chunkAndCaption(Ingest.Doc(abs(f.rel), content), Nil, emb, "t").size.toLong
    }

    def afterSetup(files: Seq[GenFile]): Unit = {
      val want = files.map(f => abs(f.rel)).toSet
      client.call("list_files")(engine.listFiles().collect()) { rows =>
        val got = rows.map(r => abs(r.getAs[String]("path")) -> r.getAs[Long]("chunk_count")).toMap
        got.foreach { case (p, n) => if (want(p)) counts(p) = n }
        listFiles(rows.toSeq.map(r => (abs(r.getAs[String]("path")), r.getAs[Boolean]("ingested"),
          r.getAs[Long]("chunk_count"))), want.map(p => p -> got.getOrElse(p, -1L)).toMap)
      }
      setupChunks = counts.values.sum
      // the engine's per-file chunk counts against the driver-side chunker,
      // on a seeded sample of the parseable formats
      rnd.shuffle(files.filter(f => f.ext != "pdf")).take(4).foreach { f =>
        client.call("chunk_count")(driverChunks(f))(n =>
          chunkCount(f.rel, counts.getOrElse(abs(f.rel), -1L), n))
      }
      status()
    }

    // ---- reads ----
    private var queries = 0

    /** Query shapes rotate on a fixed five-query pattern, so every run has
      * the same mix of word counts (1 to 3), limits and options: 2 in 5
      * queries set an option, a scope or, in turn, maxFiles, grouping or
      * maxDistance. Only the words and the option values come from the
      * seed. */
    def query(): Unit = {
      val (slot, turn) = (queries % 5, queries / 5 % 3)
      queries += 1
      val words = Seq.fill(Seq(1, 2, 3, 2, 1)(slot))(Corpus.Vocab(rnd.nextInt(Corpus.Vocab.length)))
        .mkString(" ")
      val dirs = onDisk.keys.map(k => k.substring(0, k.lastIndexOf('/'))).toSeq.distinct.sorted
      var a = QueryArgs(Seq(10, 5, 10, 20, 10)(slot), None, None, None)
      var grouping: Option[String] = None
      (slot, turn) match {
        case (1, _) => a = a.copy(scope = Some(abs(dirs(rnd.nextInt(dirs.size))) + "/"))
        case (3, 0) => a = a.copy(maxFiles = Some(1 + rnd.nextInt(3)))
        case (3, 1) => grouping = Some(if (rnd.nextBoolean()) "similar" else "related")
        case (3, _) => a = a.copy(maxDistance = Some(0.6 + 0.3 * rnd.nextDouble()))
        case _ =>
      }
      client.call("query")(
        engine.queryDocuments(words, a.limit, a.scope.map(_.stripSuffix("/")).toSeq, grouping,
          a.maxDistance, a.maxFiles).collect())(rows => Checks.query(a, hits(rows)))
    }

    def hits(rows: Array[Row]): Seq[Hit] = rows.toSeq.map(r => Hit(r.getAs[String]("filePath"),
      r.getAs[Int]("chunkIndex"), r.getAs[String]("text"), r.getAs[Double]("score"),
      r.getAs[Double]("boosted")))

    /** a target drawn uniformly over all stored chunks */
    def neighbors(): Unit = {
      var k = (rnd.nextDouble() * counts.values.sum).toLong
      val (path, n) = counts.find { case (_, c) => k -= c; k < 0 }.getOrElse(counts.last)
      val t = rnd.nextInt(n.toInt)
      client.call("neighbors")(
        engine.readChunkNeighbors(path, t).collect())(rows =>
        Checks.neighbors(path, t, 2, 2, n.toInt, neighborRows(rows)))
    }

    def listFilesCall(): Unit = client.call("list_files")(
      engine.listFiles().collect())(rows => listFiles(rows.toSeq.map(r =>
      (abs(r.getAs[String]("path")), r.getAs[Boolean]("ingested"), r.getAs[Long]("chunk_count"))),
      counts.toMap))

    def status(): Unit = client.call("status")(engine.status())(s =>
      Checks.status(s, counts.values.sum, counts.size.toLong))

    def readCycle(): Unit = ReadCycle.foreach {
      case "query" => query()
      case "neighbors" => neighbors()
      case "list_files" => listFilesCall()
      case "status" => status()
    }

    // ---- writes ----
    private def editable: Seq[String] = onDisk.keys.filter(!_.endsWith(".pdf")).toSeq.sorted

    /** rewrites `rel` with a revision marker as its first line */
    private def edit(rel: String, tag: String): String = {
      val marker = s"Revision $tag marker"
      val id = rel.substring(rel.lastIndexOf('f') + 1, rel.lastIndexOf('.')).toInt
      // long enough to survive the chunker's 50-character minimum on its own
      put(Corpus.mixedFile(o.seed, id, Seq(marker + " opens this edited copy of the note.")))
      marker
    }
    private def put(f: GenFile): Unit = {
      Corpus.write(root, Seq(f))
      onDisk(f.rel) = f
      counts(abs(f.rel)) = driverChunks(f)
      changedBytes += f.bytes.length
    }
    private def add(): Unit = {
      while (nextId % 100 >= 96) nextId += 1 // no new PDFs: see driverChunks
      put(Corpus.mixedFile(o.seed, nextId))
      nextId += 1
    }
    private def remove(rel: String): String = {
      Files.delete(root.resolve(rel))
      changedBytes += onDisk(rel).bytes.length
      onDisk.remove(rel)
      counts.remove(abs(rel))
      abs(rel)
    }
    private def pick(from: Seq[String], n: Int): Seq[String] = rnd.shuffle(from).take(n)

    /** one timed read straight after a write: the written file read back
      * through readChunkNeighbors, plus status. Hybrid search is not used:
      * it boosts only vector candidates, so a just-ingested token need not
      * bring its file back. */
    private def readAfterWrite(path: String, marker: Option[String]): Unit =
      client.call("read_after_write")((engine.readChunkNeighbors(path, 0, 0, 50).collect(),
        engine.status())) { case (rows, s) =>
        val nr = neighborRows(rows)
        marker.map(m => revision(path, m, nr)).getOrElse(deleted(path, nr))
          .orElse(Checks.status(s, counts.values.sum, counts.size.toLong))
      }

    /** the timed write cycle: a small sync on the per-file loop path, then
      * a batched sync, each followed by a read-after-write check */
    def writeCycle(cycle: Int): Unit = {
      val small = pick(editable, SmallEdits)
      remove(pick(onDisk.keys.toSeq.sorted.diff(small), 1).head)
      val smallMarkers = small.map(r => r -> edit(r, s"s${cycle}x${r.hashCode.abs}"))
      add()
      client.call("sync_small")(engine.sync())(s =>
        if (s.upserted == SmallEdits + 1 && s.pruned == 1) None else Some(s"sync_small $s"))
      readAfterWrite(abs(small.head), Some(smallMarkers.head._2))

      val batch = pick(editable, BatchEdits)
      pick(onDisk.keys.toSeq.sorted.diff(batch), 2).foreach(remove)
      val batchMarkers = batch.map(r => r -> edit(r, s"b${cycle}x${r.hashCode.abs}"))
      add(); add()
      client.call("sync_batch")(engine.sync())(s =>
        if (s.upserted == BatchEdits + 2 && s.pruned == 2) None else Some(s"sync_batch $s"))
      readAfterWrite(abs(batch.head), Some(batchMarkers.head._2))
    }

    /** the single-file tools, run in the traced replay only: each costs a
      * full store rewrite and index refresh, which one run cannot afford
      * beside the timed cycle */
    def singleFileWrites(): Unit = {
      val one = pick(editable, 1).head
      val m1 = edit(one, s"i${one.hashCode.abs}")
      client.call("ingest_file")(engine.ingestFile(abs(one)))(r =>
        if (r.chunkCount == counts(abs(one))) None else Some(s"ingest_file ${r.chunkCount} chunks"))
      readAfterWrite(abs(one), Some(m1))

      val gone = remove(pick(onDisk.keys.toSeq.sorted, 1).head)
      client.call("delete_doc")(engine.deleteDocument(gone))(_ => None)
      readAfterWrite(gone, None)
    }
  }

  /** Per-layer figures of one traced run, named after the program's
    * modules. Each comes from the tracer's job records of the timed calls
    * or from a replay through the layer's public functions. */
  final class Layers(engine: Engine, client: Client, tr: Tracer, w: Workload) {
    private def jobs(c: Client.Call) = tr.jobsOf(c.group)
    private def iv(js: Seq[Tracer.JobRec]) =
      js.map(j => (j.start.toDouble, (if (j.end < 0) j.start else j.end).toDouble))
    private def gap(c: Client.Call) =
      c.wallMs - Tracer.covered(iv(jobs(c)), c.startMs.toDouble, c.startMs + c.wallMs)
    private def timeMs[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val r = body
      (r, (System.nanoTime() - t0) / 1e6)
    }
    private def medianMs(n: Int)(body: => Any): Double = median((1 to n).map(_ => timeMs(body)._2))

    /** wall covered by jobs with this description, per call that ran any */
    private def describedMs(desc: String): Double = {
      val js = tr.jobsDescribed(desc)
      mean(js.groupBy(_.group).values.map(g => Tracer.covered(iv(g), 0, Double.MaxValue)).toSeq)
    }

    /** (the figures every workload reports, the ones only this workload
      * can: the write tools' attribution and the sync planning phase) */
    def compute(sessionMs: Double, callP50: Double, persistedEnd: Int)
        : (Seq[(String, (Double, String))], Seq[(String, (Double, String))]) = {
      val m = mutable.LinkedHashMap.empty[String, (Double, String)]
      // replay the four read calls twice, so every workload reports them
      client.inPhase("replay") {
        (1 to 2).foreach { _ => w.query(); w.neighbors(); w.listFilesCall(); w.status() }
        // the two single-file writes take ~20 s on a quiet host; on a host
        // slow enough to have used 90 s already they are skipped, so the
        // run still ends well inside its time limit
        if (!interactive && System.currentTimeMillis() - runStartMs < 90000L) w.singleFileWrites()
      }
      val timed = client.calls.filter(_.phase == "timed").toSeq
      m("core.session_ms") = (sessionMs, "ms")
      m("trace.call_p50_ms") = (callP50, "ms")
      m("api.jobs_per_call") = (mean(timed.map(jobs(_).size.toDouble)), "count")
      m("api.planning_ms_per_call") = (mean(timed.map(_.planningMs)), "ms")
      m("api.driver_gap_ms_per_call") = (mean(timed.map(gap)), "ms")
      m("api.executor_ms_per_call") = (mean(timed.map(jobs(_).map(_.executorMs).sum.toDouble)), "ms")
      m("api.bytes_read_per_call") = (mean(timed.map(jobs(_).map(_.bytesRead).sum.toDouble)), "bytes")
      for (op <- ReadOps) {
        val cs = client.calls.filter(c => c.op == op && (c.phase == "timed" || c.phase == "replay")).toSeq
        m(s"api.jobs.$op") = (mean(cs.map(jobs(_).size.toDouble)), "count")
        m(s"api.planning_ms.$op") = (mean(cs.map(_.planningMs)), "ms")
        m(s"api.driver_gap_ms.$op") = (mean(cs.map(gap)), "ms")
        m(s"api.executor_ms.$op") = (mean(cs.map(jobs(_).map(_.executorMs).sum.toDouble)), "ms")
        m(s"api.bytes_read.$op") = (mean(cs.map(jobs(_).map(_.bytesRead).sum.toDouble)), "bytes")
      }
      val nb = client.calls.filter(c => c.op == "neighbors" && c.ok).toSeq
      m("store.rows_read_per_row.neighbors") =
        (nb.map(jobs(_).map(_.recordsRead).sum).sum.toDouble / math.max(1L, nb.map(_.rows).sum), "ratio")
      m("store.read_ms") = (medianMs(5)(engine.store.read()), "ms")
      m("store.fts_refresh_ms") = (describedMs("graft index: FTS rebuild"), "ms")
      m("store.ann_refresh_ms") = (describedMs("graft index: ANN refresh"), "ms")
      val writes = client.calls.filter(c => WriteTools.contains(c.op)).toSeq
      m("store.write_amp") =
        (writes.map(jobs(_).map(_.bytesWritten).sum).sum.toDouble / changedBytes, "ratio")
      m("store.data_files") = (countParquet(Paths.get(storePath)).toDouble, "count")
      m("store.persisted_rdds_end") = (persistedEnd.toDouble, "count")
      searchReplay(m)
      val texts = tr.embedTexts.value
      m("embed.texts") = (texts.toDouble, "count")
      m("embed.ms_per_text") = (tr.embedNanos.value / 1e6 / math.max(1L, texts), "ms")
      chunkerReplay(m)
      m("ingest.scan_ms") = (medianMs(3)(DirectoryScanner.scanRoots(Seq(root.toString),
        excludePrefixes = Seq(storePath, storePath + "-raw-data"))), "ms")
      m("ingest.batched_ms") = (describedMs("graft sync: batched ingest"), "ms")
      val tasks = tr.jobsDescribed("graft sync: batched ingest").flatMap(_.taskMs).map(_.toDouble)
      m("ingest.task_p95_ms") = (if (tasks.isEmpty) 0.0 else tasks.sorted.apply(
        math.min(tasks.size - 1, (0.95 * tasks.size).toInt)), "ms")
      val extra = mutable.LinkedHashMap.empty[String, (Double, String)]
      for (op <- WriteTools.tail) {
        val cs = client.calls.filter(_.op == op).toSeq
        if (cs.nonEmpty) {
          extra(s"api.jobs.$op") = (mean(cs.map(jobs(_).size.toDouble)), "count")
          extra(s"api.driver_gap_ms.$op") = (mean(cs.map(gap)), "ms")
          extra(s"api.executor_ms.$op") = (mean(cs.map(jobs(_).map(_.executorMs).sum.toDouble)), "ms")
        }
      }
      if (tr.jobsDescribed(GatherPlan).nonEmpty)
        extra("sync.gather_plan_ms") = (describedMs(GatherPlan), "ms")
      (m.toSeq, extra.toSeq)
    }
    private val GatherPlan = "graft sync: distributed gather+plan"

    private def countParquet(p: Path): Long = {
      val s = Files.walk(p)
      try s.filter(_.toString.endsWith(".parquet")).count() finally s.close()
    }

    /** queryDocuments composed step by step from the public functions it
      * uses; the replay must return the rows queryDocuments returned */
    private def searchReplay(m: mutable.LinkedHashMap[String, (Double, String)]): Unit = {
      val fields = Seq("filePath", "chunkIndex", "text", "fileTitle", "score", "boosted")
      val runs = (1 to 3).map { _ =>
        val q = Seq.fill(2)(Corpus.Vocab(rnd.nextInt(Corpus.Vocab.length))).mkString(" ")
        val viaEngine = w.hits(engine.queryDocuments(q, 10).collect())
        val (qArr, embedMs) = timeMs(emb.embed(q))
        val qv = typedLit(qArr.toSeq)
        val tokens = "[a-z0-9]+".r.findAllIn(q.toLowerCase).toSeq.distinct
        val chunks = engine.store.read()
        val ann = engine.annBackend.exists && engine.annBackend.rowCount() >= Engine.AnnCorpusThreshold
        def cands = if (ann) Some(engine.annBackend.probe(qArr.toSeq,
          10 * HybridSearch.CandidateMultiplier, None)) else None
        val (_, candMs) = timeMs(cands.getOrElse(VectorSearch.topK(chunks, qv,
          10 * HybridSearch.CandidateMultiplier, scoreCol = "score",
          tiebreak = Seq("filePath", "chunkIndex"))).collect())
        val (idx, ftsMs) = timeMs(engine.ftsIndex.load().orElse(Some(Bm25.buildIndex(chunks,
          Seq("filePath", "chunkIndex"), Bm25.wordTokens(col("text"))))))
        client.inPhase("layer")(client.call("hybrid")(HybridSearch.search(chunks, qv,
          HybridSearch.Params(limit = 10, queryTokens = tokens), ftsIndex = idx,
          annCandidates = cands).select(fields.map(col): _*).collect())(rows =>
          replay(viaEngine, w.hits(rows))))
        val hyb = client.calls.last
        (embedMs, candMs, ftsMs, hyb.wallMs, client.jobs(hyb).toDouble)
      }
      m("search.embed_ms") = (median(runs.map(_._1)), "ms")
      m("search.candidates_ms") = (median(runs.map(_._2)), "ms")
      m("store.fts_load_ms") = (median(runs.map(_._3)), "ms")
      m("search.hybrid_ms") = (median(runs.map(_._4)), "ms")
      m("search.hybrid_jobs") = (median(runs.map(_._5)), "count")
    }

    /** Ingest.parsedFor → MaxMinChunker.chunkText on a sample of the
      * corpus, with the embedder's time taken out */
    private def chunkerReplay(m: mutable.LinkedHashMap[String, (Double, String)]): Unit = {
      val docs = rnd.shuffle(onDisk.values.filter(f => f.ext != "pdf" && f.rel.startsWith("docs/d"))
        .toSeq.sortBy(_.rel)).take(8)
      var embedNs = 0L
      val timedEmbed: Seq[String] => Seq[Array[Float]] = ts => {
        val t0 = System.nanoTime()
        val r = emb.embedBatch(ts)
        embedNs += System.nanoTime() - t0
        r
      }
      val t0 = System.nanoTime()
      val chunks = docs.map { f =>
        val content =
          if (f.ext == "docx") graft.ingest.DocxParser.toMarkdown(f.bytes)
          else new String(f.bytes, UTF_8)
        val (text, ranges) = Ingest.parsedFor(Ingest.Doc(abs(f.rel), content))
        MaxMinChunker.chunkText(text, timedEmbed, ranges).size
      }
      m("chunker.ms_per_doc") = ((System.nanoTime() - t0 - embedNs) / 1e6 / docs.size, "ms")
      m("chunker.chunks_per_doc") = (chunks.sum.toDouble / docs.size, "count")
    }
  }
}

/** Minimal JSON writer for the result lines and the trace file. */
object Json {
  final class Obj(val fields: Seq[(String, Any)]) {
    override def toString: String = render(this)
  }
  def obj(fields: (String, Any)*): Obj = new Obj(fields)
  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case o: Obj => o.fields.map { case (k, x) => str(k) + ": " + render(x) }.mkString("{", ", ", "}")
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Seq[_] => xs.map(render).mkString("[", ", ", "]")
    case x => str(x.toString)
  }
}
