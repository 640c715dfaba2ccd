package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** TEXT-leg ingest stress — the RasterStress twin for the flagship WRITE
  * path (r15 VERDICT ask #1): parse → sentence split → Max-Min chunker →
  * embed → store upsert, driven through the engine's REAL batched sync
  * (reference `src/server/index.ts:550-720`, whose per-file loop is a
  * single-process artifact this path replaces with O(1) jobs).
  *
  * Stages N real mixed files on disk — txt (70%), md (20%), docx (6%,
  * ZIP+XML through the S7 parser), pdf (4%, text-object PDFs through the
  * S6 byte parser) — then runs `Engine.sync()` against a FRESH store and
  * reports:
  *   - wall + per-task executor-time distribution (p50/p95/max) + parallel
  *     efficiency for the cold full-corpus sync (plan → batched ingest →
  *     FTS + ANN index refresh — everything the engine actually does);
  *   - the warm re-sync wall (all skips: gather + distributed plan only);
  *   - `DriverProbe.maxRows` — every sync driver fetch is runtime-asserted
  *     batch-bounded (one row per dirty FILE, never chunk- or corpus-scale),
  *     and the observed max is printed next to its bound.
  *
  *   tools/run.sh graft.IngestStress <workDir> [numDocs=50000]
  *
  * Scan-packing: staged files are 0.5–3 KB, so the session pins
  * openCostInBytes=64KB / maxPartitionBytes=8MB (the RasterStress knobs) —
  * ~50k files pack into a few hundred real tasks, the same knob a 100 TB
  * crawl ingest tunes. */
object IngestStress {

  private final class TaskTimes extends SparkListener {
    val runMs = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
    /** (ms, stageId) for straggler attribution */
    val tagged =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, Int)]()
    val stageNames =
      new java.util.concurrent.ConcurrentHashMap[Int, String]()
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) {
        runMs.add(m.executorRunTime): Unit
        tagged.add((m.executorRunTime, t.stageId)): Unit
      }
    }
    override def onStageCompleted(
        s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
      stageNames.put(s.stageInfo.stageId,
        s.stageInfo.name.linesIterator.next().take(100)): Unit
    }
    /** (jobId, description/callsite, wallMs) for phase attribution */
    val jobs =
      new java.util.concurrent.ConcurrentHashMap[Int, (String, Long, Long)]()
    override def onJobStart(
        j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
      val desc = Option(j.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .orElse(Option(j.properties)
          .flatMap(p => Option(p.getProperty("callSite.short"))))
        .getOrElse("?")
      jobs.put(j.jobId, (desc.take(100), j.time, -1L)): Unit
    }
    override def onJobEnd(
        j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
      val e = jobs.get(j.jobId)
      if (e != null) jobs.put(j.jobId, (e._1, e._2, j.time)): Unit
    }
    /** top-N jobs by wall */
    def topJobs(n: Int): Seq[(Long, Int, String)] = {
      import scala.jdk.CollectionConverters._
      jobs.asScala.toSeq.collect {
        case (id, (desc, s, e)) if e > 0 => (e - s, id, desc)
      }.sortBy(-_._1).take(n)
    }
    def reset(): Unit = { runMs.clear(); tagged.clear() }
    def snapshot(): Seq[Long] = {
      import scala.jdk.CollectionConverters._
      runMs.iterator().asScala.map(_.longValue()).toSeq.sorted
    }
    /** top-N slowest tasks with their stage names */
    def top(n: Int): Seq[(Long, String)] = {
      import scala.jdk.CollectionConverters._
      tagged.iterator().asScala.toSeq.sortBy(-_._1).take(n)
        .map { case (ms, sid) =>
          (ms, s"stage $sid: ${stageNames.getOrDefault(sid, "?")}") }
    }
  }

  /** deterministic pseudo-prose for one doc id: seeded word stream over a
    * fixed vocabulary, sentence-cased with periods so the sentence splitter
    * and Max-Min chunker do real work */
  private[graft] def docLines(id: Long): Seq[String] = {
    val vocab = Array(
      "alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
      "hotel", "india", "juliet", "kilo", "lima", "mike", "november",
      "oscar", "papa", "quebec", "romeo", "sierra", "tango", "uniform",
      "victor", "whiskey", "xray", "yankee", "zulu", "anchor", "beacon",
      "cipher", "dynamo", "ember", "falcon", "granite", "harbor", "ivory",
      "jungle", "kernel", "lantern", "meadow", "nebula", "orchid", "prism",
      "quartz", "ridge", "summit", "thicket", "umbra", "vertex", "willow",
      "zenith")
    val rnd = new scala.util.Random(id * 2654435761L + 17)
    val nSentences = 8 + rnd.nextInt(20)
    (0 until nSentences).map { _ =>
      val n = 6 + rnd.nextInt(12)
      val ws = Array.fill(n)(vocab(rnd.nextInt(vocab.length)))
      ws(0) = ws(0).capitalize
      ws.mkString(" ") + "."
    }
  }

  /** the staged file's bytes + extension for one id (deterministic class
    * rotation: 70% txt, 20% md, 6% docx, 4% pdf — the engine's text-leg
    * format mix; the raster leg has its own harness, RasterStress) */
  private[graft] def fileFor(id: Long): (String, Array[Byte]) = {
    val lines = docLines(id)
    (id % 100) match {
      case m if m < 70 =>
        ("txt", lines.mkString("\n").getBytes("UTF-8"))
      case m if m < 90 =>
        ("md", (s"# Stress doc $id\n\n" + lines.mkString("\n"))
          .getBytes("UTF-8"))
      case m if m < 96 =>
        ("docx", graft.ingest.DocxFixtures.textDocx(id, lines))
      case _ =>
        // 16-class codec rotation (flate/LZW/RC4/AES/CMap/...): natural
        // per-doc decode skew inside the batched scan, like RasterStress
        ("pdf", graft.ingest.PdfTextFixtures.textPdf(id, lines))
    }
  }

  def main(args: Array[String]): Unit = {
    val workDir = args(0)
    val numDocs = if (args.length > 1) args(1).toInt else 50000
    val cpus = graft.core.GraftSession.cpus
    val spark = graft.core.GraftSession.local()
    spark.conf.set("spark.sql.files.openCostInBytes", (64 * 1024).toString)
    spark.conf.set("spark.sql.files.maxPartitionBytes", (8 * 1024 * 1024).toString)

    // ---- stage: N mixed files, written DISTRIBUTED (the RasterStress
    // pattern — each task materializes its id range; ~1000 files per
    // subdir). Idempotent across runs via a marker.
    val docsDir = new java.io.File(s"$workDir/ingest_$numDocs")
    val marker = new java.io.File(docsDir, "_STAGED")
    var stageSec = 0.0
    if (!marker.exists()) {
      val t0 = System.nanoTime()
      val base = docsDir.getAbsolutePath
      spark.range(numDocs).repartition(cpus * 4)
        .foreachPartition { (it: Iterator[java.lang.Long]) =>
          it.foreach { boxed =>
            val id = boxed.longValue()
            val (ext, bytes) = fileFor(id)
            val sub = new java.io.File(f"$base/g${id / 1000}%05d")
            sub.mkdirs()
            val f = new java.io.File(sub, f"doc_$id%08d.$ext")
            val out = new java.io.FileOutputStream(f)
            try out.write(bytes) finally out.close()
          }
        }
      java.nio.file.Files.createFile(marker.toPath): Unit
      stageSec = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[ingest-stress] staged $numDocs files in $stageSec%.1fs")
    }

    // fresh store per run: the timed sync is the COLD full-corpus ingest
    val storeDir = new java.io.File(s"$workDir/store_$numDocs")
    def rmTree(f: java.io.File): Unit = {
      val fs = f.listFiles(); if (fs != null) fs.foreach(rmTree)
      f.delete(): Unit
    }
    if (storeDir.exists()) rmTree(storeDir)

    val listener = new TaskTimes
    spark.sparkContext.addSparkListener(listener)
    graft.core.DriverProbe.reset()
    val probeSites =
      new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()
    graft.core.DriverProbe.hook = (site, rows, bound) => {
      probeSites.merge(site, (rows, bound),
        (a: (Long, Long), b: (Long, Long)) => if (a._1 >= b._1) a else b)
      ()
    }

    val engine = new graft.api.Engine(spark,
      s"${storeDir.getAbsolutePath}/chunks",
      Seq(docsDir.getAbsolutePath))

    // the timed DAG: the engine's real sync — distributed gather+plan,
    // ONE batched binaryFile → parse → chunk → embed → store overwrite,
    // then the per-batch FTS + ANN index refresh
    listener.reset()
    val t1 = System.nanoTime()
    val summary = engine.sync()
    val wall = (System.nanoTime() - t1) / 1e9
    Thread.sleep(500) // async listener bus: let queued task-ends land
    val times = listener.snapshot()
    val slowTasks = listener.top(5)
    val slowJobs = listener.topJobs(10)
    val sumJobMs = listener.topJobs(100000).map(_._1).sum

    // warm re-sync: nothing dirty — gather + plan only, all skips
    listener.reset()
    val t2 = System.nanoTime()
    val re = engine.sync()
    val rewall = (System.nanoTime() - t2) / 1e9

    def pct(p: Double): Long =
      if (times.isEmpty) 0L
      else times(math.min(times.size - 1, (p * times.size).toInt))
    val sumTaskSec = times.sum / 1e3
    val eff = if (times.isEmpty) 0.0 else sumTaskSec / (wall * cpus)
    System.err.println(
      f"[ingest-stress] docs=$numDocs upserted=${summary.upserted} " +
      f"empty=${summary.empty} wall=$wall%.1fs resync=$rewall%.1fs " +
      f"(skipped=${re.skipped}) tasks=${times.size} " +
      f"taskMs p50=${pct(0.5)} p95=${pct(0.95)} max=${times.lastOption.getOrElse(0L)} " +
      f"sumTask=$sumTaskSec%.1fs parallelEff=$eff%.2f " +
      f"driverProbeMaxRows=${graft.core.DriverProbe.maxRows}")
    probeSites.forEach((site, rb) => System.err.println(
      f"[ingest-stress]   probe site=$site%-22s maxRows=${rb._1}%8d bound=${rb._2}"))
    slowTasks.foreach { case (ms, st) =>
      System.err.println(f"[ingest-stress]   slow task ${ms}%6d ms  $st")
    }
    System.err.println(f"[ingest-stress]   sum job wall=${sumJobMs / 1e3}%.1fs " +
      f"(driver-only gap=${wall - sumJobMs / 1e3}%.1fs of $wall%.1fs)")
    slowJobs.foreach { case (ms, id, desc) =>
      System.err.println(f"[ingest-stress]   slow job  ${ms}%6d ms  job $id: $desc")
    }
    graft.core.DriverProbe.hook = null
    println(
      f"""{"metric":"text_ingest","docs":$numDocs,"upserted":${summary.upserted},""" +
      f""""empty":${summary.empty},"wall_sec":$wall%.2f,"resync_sec":$rewall%.2f,""" +
      f""""stage_sec":$stageSec%.2f,"tasks":${times.size},""" +
      f""""task_ms_p50":${pct(0.5)},"task_ms_p95":${pct(0.95)},""" +
      f""""task_ms_max":${times.lastOption.getOrElse(0L)},""" +
      f""""sum_task_sec":$sumTaskSec%.2f,"parallel_efficiency":$eff%.3f,""" +
      f""""driver_probe_max_rows":${graft.core.DriverProbe.maxRows}}""")
    spark.stop()
  }
}
