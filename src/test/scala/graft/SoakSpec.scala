package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.api.Engine
import graft.core.{GraftSession, Materialize}

/** Engine-session SOAK (VERDICT r12 ask #5): the lifecycle hygiene work —
  * every persist and checkpoint owned by a `Materialize` scope that frees
  * it on close, named result dirs, refresh-per-batch index stores — is
  * spec-pinned piecewise; this drives
  * one LONG-LIVED engine through repeated mixed-workload cycles
  * (mutate → sync → query mix → dedup scan → delete → re-sync) and asserts
  * the three session-level invariants end-to-end:
  *
  *  1. cached blocks: `getPersistentRDDs` returns to the post-warmup
  *     baseline after EVERY cycle — no operator leaks a persist per call;
  *  2. disk: the engine's store tree (chunks + FTS + ANN + raw sidecars)
  *     stays byte-bounded across cycles — mutation batches swap state in,
  *     they do not append unboundedly;
  *  3. heap: used memory after a GC does not trend upward across cycles
  *     beyond a generous allowance — no driver-side accumulation
  *     proportional to call count.
  *
  * Cycle count is small (5) because every invariant is asserted PER CYCLE —
  * a leak of even one cached block or one un-swapped store dir fails on its
  * first occurrence, not after an hour.
  *
  * The same block gate covers the library paths a long-lived session runs
  * outside the engine — the cleaning funnel, the delta-cleaning protocol
  * (applyBatch → absorb) and its streaming twin — and the failure paths:
  * an operator that throws after materializing must leave nothing behind
  * once its scope closes. */
class SoakSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.local(4)

  private def write(path: String, content: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), content.getBytes(StandardCharsets.UTF_8)): Unit
  }

  private def treeBytes(root: String): Long = {
    val p = Paths.get(root)
    if (!Files.exists(p)) return 0L
    val s = Files.walk(p)
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    finally s.close()
  }

  private def usedHeapAfterGc(): Long = {
    System.gc(); Thread.sleep(200); System.gc(); Thread.sleep(100)
    val rt = Runtime.getRuntime
    rt.totalMemory() - rt.freeMemory()
  }

  /** Persisted-block census scoped to RDDs created at-or-after `floor`.
    * The suite shares one SparkSession, so the RAW `getPersistentRDDs`
    * count also sees earlier tests' abandoned engines — whose dead blocks
    * the ContextCleaner unpersists at some later GC, dropping the raw
    * count BELOW a baseline captured before the GC landed (observed
    * in-suite: 16 -> 15 mid-soak, a phantom "leak" of -1). RDD ids are
    * monotonic per context, so floor-scoping counts only blocks this
    * test's own engine holds — those are strongly referenced and cannot
    * be cleaner-reclaimed, making the per-cycle equality deterministic
    * while keeping its full leak-catching strictness. */
  private def blockFloor(): Int =
    spark.sparkContext.parallelize(Seq(0), 1).id

  private def blocksSince(floor: Int): Seq[Int] =
    spark.sparkContext.getPersistentRDDs.keys.filter(_ >= floor).toSeq.sorted

  test("long-lived engine session: blocks, disk, and heap stay bounded over mixed-workload cycles") {
    val root = Files.createTempDirectory("soak-root").toString
    val storeBase = Files.createTempDirectory("soak-store").toString
    val store = storeBase + "/chunks"
    // a corpus with planted near-dups so the dedup scan has real work
    val boiler = "the quick brown fox jumps over the lazy dog again and again " * 8
    for (i <- 0 until 12)
      write(s"$root/doc$i.txt",
        s"Document number $i unique token zq$i.\n\n" + boiler +
          (if (i % 3 == 0) " shared trailing boilerplate block for the near dup detector"
           else s" distinct tail $i ${"filler " * 10}"))
    val floor = blockFloor()
    val engine = new Engine(spark, store, Seq(root))

    // ---- warm-up cycle: first sync pays store/index bootstrap; measure
    // baselines AFTER it so the invariants test steady-state, not setup
    assert(engine.sync().upserted === 12)
    assert(engine.queryDocuments("quick brown fox").count() > 0)
    assert(engine.nearDuplicateFiles(0.5).count() >= 0)
    // COUNT, not id-set: the engine legitimately rotates one live
    // checkpoint per tool name (fresh RDD id each call, predecessor
    // released) — what must not happen is the count growing with calls
    val blockBaseline = blocksSince(floor).size
    val diskBaseline = treeBytes(storeBase)
    val heapBaseline = usedHeapAfterGc()
    assert(diskBaseline > 0L)

    val heaps = scala.collection.mutable.ArrayBuffer.empty[Long]
    for (cycle <- 1 to 5) {
      // mutate: touch two docs (one content change, one delete + re-add)
      write(s"$root/doc1.txt",
        s"Document number 1 REVISED in cycle $cycle token zq1.\n\n" + boiler +
          s" revision tail $cycle ${"filler " * 10}")
      val s1 = engine.sync()
      assert(s1.upserted === 1, s"cycle $cycle: expected exactly the revised doc")
      // query mix: hybrid search, file listing, neighbors
      assert(engine.queryDocuments(s"revised cycle token zq1").count() > 0)
      assert(engine.listFiles().count() === 12)
      val anyChunk = engine.store.read().select("filePath").head().getString(0)
      assert(engine.readChunkNeighbors(anyChunk, 0, 1).count() >= 1)
      // dedup scan: drives the LSH + routed-verify machinery in-session
      assert(engine.nearDuplicateFiles(0.5).count() >= 0)
      // delete → re-sync restores it (prune then upsert)
      engine.deleteDocument(s"$root/doc2.txt")
      val s2 = engine.sync()
      assert(s2.upserted === 1, s"cycle $cycle: deleted doc must re-ingest")

      // invariant 1: no cached-block accumulation, checked EVERY cycle
      assert(blocksSince(floor).size === blockBaseline,
        s"cycle $cycle leaked persisted blocks: " +
          blocksSince(floor).mkString(","))
      // invariant 2: store tree byte-bounded (atomic swaps replace state;
      // allowance covers parquet size jitter from re-chunked revisions)
      val disk = treeBytes(storeBase)
      assert(disk <= diskBaseline * 3 / 2 + (1 << 20),
        s"cycle $cycle: store tree grew $diskBaseline -> $disk bytes")
      heaps += usedHeapAfterGc()
    }
    // invariant 3: heap trend across cycles — the LAST cycle's post-GC
    // heap must not sit far above the post-warm-up baseline. The allowance
    // is generous (Spark's own caches, codegen class cache, metrics) —
    // what it catches is per-cycle accumulation: 5 cycles of a leaked
    // O(corpus) structure would blow 256 MB on this corpus only if the
    // leak were egregious, so ALSO require the last two cycles to be flat
    // against each other within 64 MB.
    assert(heaps.last - heapBaseline < 256L * 1024 * 1024,
      s"heap grew ${(heaps.last - heapBaseline) / 1e6}%% MB over the soak " +
        s"(baseline ${heapBaseline / 1e6} MB, cycles ${heaps.map(_ / 1e6).mkString(", ")} MB)")
    assert((heaps.last - heaps(heaps.size - 2)).abs < 64L * 1024 * 1024,
      s"heap still trending in the final cycles: ${heaps.map(_ / 1e6).mkString(", ")} MB")
  }

  test("posting-route engine session: dedup cycles under postingVerifyFactor=0 leave no blocks") {
    // VERDICT r13 ask #4: the default-knob soak exercises only the pair
    // carry. The posting route persists DIFFERENT state per verify (the
    // pair list, the semi-join id set, and the candidate-doc hashed
    // projection, ops/Dedup.scala posting leg) — pin factor=0 on the
    // session so every nearDuplicateFiles verify takes the posting route,
    // and give those persists the same blocks-return-to-baseline gate.
    val root = Files.createTempDirectory("soakp-root").toString
    val storeBase = Files.createTempDirectory("soakp-store").toString
    val boiler = "posting route soak boilerplate shared across documents " * 8
    for (i <- 0 until 10)
      write(s"$root/doc$i.txt",
        s"Posting soak document $i token pq$i.\n\n" + boiler +
          (if (i % 2 == 0) " common trailing block for near dup candidates"
           else s" distinct tail $i ${"filler " * 10}"))
    spark.conf.set("spark.graft.dedup.postingVerifyFactor", "0")
    try {
      val floor = blockFloor()
      val engine = new Engine(spark, storeBase + "/chunks", Seq(root))
      assert(engine.sync().upserted === 10)
      assert(engine.nearDuplicateFiles(0.5).count() > 0,
        "planted near-dups must surface through the posting route")
      val blockBaseline = blocksSince(floor).size
      val diskBaseline = treeBytes(storeBase)
      for (cycle <- 1 to 3) {
        write(s"$root/doc1.txt",
          s"Posting soak document 1 REVISED cycle $cycle token pq1.\n\n" +
            boiler + s" revision tail $cycle ${"filler " * 10}")
        assert(engine.sync().upserted === 1, s"posting cycle $cycle")
        assert(engine.nearDuplicateFiles(0.5).count() > 0)
        assert(blocksSince(floor).size === blockBaseline,
          s"posting cycle $cycle leaked persisted blocks: " +
            blocksSince(floor).mkString(","))
        val disk = treeBytes(storeBase)
        assert(disk <= diskBaseline * 3 / 2 + (1 << 20),
          s"posting cycle $cycle: store tree grew $diskBaseline -> $disk")
      }
    } finally spark.conf.unset("spark.graft.dedup.postingVerifyFactor")
  }

  test("bucketed engine session: per-bucket refresh cycles leave no blocks and bounded disk") {
    // the bucketed mode's mutation path (single-file upsert → ONE bucket's
    // chunk/FTS/ANN partitions rewritten) persists and swaps different
    // state than the full-rebuild path — give it the same soak: repeated
    // single-file mutations must not accumulate blocks or disk
    val root = Files.createTempDirectory("soakb-root").toString
    val storeBase = Files.createTempDirectory("soakb-store").toString
    for (i <- 0 until 8)
      write(s"$root/doc$i.txt",
        s"Bucketed soak document $i token bq$i. " + ("content words " * 30))
    val floor = blockFloor()
    val engine = new Engine(spark, storeBase + "/chunks", Seq(root), numBuckets = 4)
    assert(engine.sync().upserted === 8)
    assert(engine.queryDocuments("bucketed soak").count() > 0)
    val blockBaseline = blocksSince(floor).size
    val diskBaseline = treeBytes(storeBase)
    for (cycle <- 1 to 4) {
      // rotate the mutated file so DIFFERENT buckets refresh across cycles
      val victim = s"$root/doc${cycle % 8}.txt"
      write(victim, s"Bucketed soak document REVISED cycle $cycle token bq${cycle % 8}. " +
        ("fresh words " * 30))
      assert(engine.sync().upserted === 1, s"cycle $cycle")
      assert(engine.queryDocuments(s"revised cycle").count() > 0)
      assert(blocksSince(floor).size === blockBaseline,
        s"bucketed cycle $cycle leaked persisted blocks: " +
          blocksSince(floor).mkString(","))
      val disk = treeBytes(storeBase)
      assert(disk <= diskBaseline * 2 + (1 << 20),
        s"bucketed cycle $cycle: store tree grew $diskBaseline -> $disk")
    }
  }

  test("cleanCorpus op: repeated funnel calls leave no blocks on the carry AND posting routes") {
    // VERDICT r14 ask #5: the funnel's two stage caches plus its routed
    // verify's persists are exactly the class this soak exists to gate.
    // Drive the ops-level API (not the benchmark query) through repeated
    // build→consume→close cycles under both verify knobs — any cycle
    // that strands even one block fails immediately.
    import org.apache.spark.sql.functions.col
    import graft.ops.CleanCorpus
    val session = spark
    import session.implicits._
    // deterministic funnel work: every 5th doc is the SAME 24 words with a
    // distinct punctuation suffix (identical shingle set -> guaranteed LSH
    // candidates, jaccard 1.0 -> all but the canonical drop at near-dedup;
    // distinct fingerprints -> they survive exact dedup), the rest carry
    // doc-unique vocab (survive everything except the holdout predicate)
    val groupText = (0 until 24).map(j => s"group word g$j").mkString(" ")
      .split(" ").take(24).mkString(" ")
    val base = (0 until 60).map { i =>
      val text =
        if (i % 5 == 0) groupText + " " + ("!" * (i / 5 + 1))
        else s"document $i corpus soak token zz$i " +
          (0 until 20).map(j => s"w${i}x$j").mkString(" ")
      (i.toLong, text)
    }
    val corpus = base.toDF("doc_id", "text")
    for (knob <- Seq(None, Some("0"))) {
      knob.foreach(v => spark.conf.set("spark.graft.dedup.postingVerifyFactor", v))
      try {
        val floor = blockFloor()
        var expected = -1L
        for (cycle <- 1 to 3) {
          Materialize { m =>
            val st = CleanCorpus.cleanCorpus(m, corpus, "doc_id", "text",
              isHoldout = Some(col("doc_id") % 13 === 0))
            val n = st.decontaminated.count()
            assert(n > 0, s"funnel produced no survivors (knob=$knob)")
            if (expected < 0) expected = n
            else assert(n === expected, s"cycle $cycle drifted (knob=$knob)")
          }
          val left = blocksSince(floor)
          assert(left.isEmpty,
            s"cleanCorpus cycle $cycle (knob=$knob) leaked blocks: ${left.mkString(",")}")
        }
      } finally spark.conf.unset("spark.graft.dedup.postingVerifyFactor")
    }
  }

  /** funnel corpus for the delta-protocol gates: every 5th doc is the same
    * 24 words with a distinct punctuation suffix (exact-dedup survivors,
    * verified near-dups of each other), the rest carry doc-unique vocab */
  private def deltaDocs(ids: Seq[Long]): org.apache.spark.sql.DataFrame = {
    val session = spark
    import session.implicits._
    val groupText = (0 until 24).map(j => s"group word g$j").mkString(" ")
    ids.map { i =>
      val text =
        if (i % 5 == 0) groupText + " " + ("!" * ((i / 5) % 6 + 1).toInt)
        else s"document $i delta soak token zz$i " +
          (0 until 20).map(j => s"w${i}x$j").mkString(" ")
      (i, text)
    }.toDF("doc_id", "text")
  }

  private val deltaHold = org.apache.spark.sql.functions.col("doc_id") % 13 === 0

  private def rootMessages(t: Throwable): Seq[String] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(e => String.valueOf(e.getMessage)).toSeq

  test("delta protocol: applyBatch → absorb → close cycles leave no blocks, checkpoints included") {
    // absorb's phase-1 snapshots and the index probe are eager
    // checkpoints, whose blocks Dataset.unpersist never sees — each cycle
    // used to strand 7 checkpoint RDDs. The scope frees them; the census
    // counts checkpoint RDDs like any persisted RDD.
    val st = new graft.store.CleanStateStore(spark,
      Files.createTempDirectory("soak-delta").toString + "/state")
    var full = deltaDocs(0L until 30L)
    st.rebuild(full, deltaHold)
    val floor = blockFloor()
    for (cycle <- 1 to 3) {
      val batch = deltaDocs((0L until 12L).map(_ + 100L * cycle))
      full = full.union(batch)
      Materialize(m => st.absorb(st.applyBatch(m, batch, full, deltaHold)))
      val left = blocksSince(floor)
      assert(left.isEmpty, s"delta cycle $cycle leaked blocks: ${left.mkString(",")}")
    }
    assert(st.stageCounts()._1 === 66L, "every cycle's batch must be absorbed")
  }

  test("streaming delta-clean funnel leaves no blocks, checkpoints included") {
    // the e_stream_pipeline path: foreachBatch runs applyBatch → absorb
    // per micro-batch against an empty-bootstrapped state store
    val floor = blockFloor()
    val survivors = graft.streaming.StreamingIngest.cleanPipelineAvailableNow(
      spark, deltaDocs(0L until 40L), deltaHold, numFiles = 3)
    assert(survivors.count() > 0)
    val left = blocksSince(floor)
    assert(left.isEmpty, s"streaming funnel leaked blocks: ${left.mkString(",")}")
  }

  test("absorb: a failing phase-1 snapshot rethrows, leaves no blocks and no state change") {
    import org.apache.spark.sql.functions.{col, udf}
    val st = new graft.store.CleanStateStore(spark,
      Files.createTempDirectory("soak-absorb-fail").toString + "/state")
    val stored = deltaDocs(0L until 30L)
    st.rebuild(stored, deltaHold)
    val before = st.stageCounts()
    val batch = deltaDocs(100L until 112L)
    val boom = udf { (id: Long) =>
      if (id >= 0) throw new IllegalStateException("injected snapshot failure")
      id
    }
    val floor = blockFloor()
    val err = intercept[Exception] {
      Materialize { m =>
        val r = st.applyBatch(m, batch, stored.union(batch), deltaHold)
        // the revoked snapshot's checkpoint job throws; its sibling
        // snapshots complete and hold checkpoint blocks until the scope
        // closes
        st.absorb(r.copy(revoked = r.revoked
          .union(spark.range(1).select(boom(col("id")).as("doc_id")))))
      }
    }
    assert(rootMessages(err).exists(_.contains("injected snapshot failure")), err)
    val left = blocksSince(floor)
    assert(left.isEmpty, s"failed absorb leaked blocks: ${left.mkString(",")}")
    assert(st.stageCounts() === before, "a phase-1 failure must not touch the state")
  }

  test("an operator that throws after persisting leaves nothing once its scope closes") {
    import org.apache.spark.sql.functions.{col, udf}
    val boom = udf { (id: Long) =>
      if (id >= 0) throw new IllegalStateException("injected count failure")
      id
    }
    val docs = deltaDocs(0L until 10L)
    val floor = blockFloor()
    // routedSemiJoin persists the id set, then counts it to pick the join
    // route — the count fails here, after the persist
    val err = intercept[Exception] {
      Materialize(m => graft.ops.Dedup.routedSemiJoin(m, docs,
        spark.range(3).select(boom(col("id")).as("doc_id")), "doc_id"))
    }
    assert(rootMessages(err).exists(_.contains("injected count failure")), err)
    val left = blocksSince(floor)
    assert(left.isEmpty, s"failed operator leaked blocks: ${left.mkString(",")}")
  }
}
