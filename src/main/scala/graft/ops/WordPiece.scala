package graft.ops

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Materialize

/** WordPiece tokenizer training and application — the third tokenizer
  * family next to [[Bpe]] and [[Unigram]], and the BERT-lineage one
  * (Schuster & Nakajima 2012; the HF `tokenizers` WordPiece trainer is
  * the contemporary reference semantics).
  *
  * Training differs from BPE in ONE place: the round's winner maximizes
  * `score = count(pair) / (count(left) × count(right))` — the pair whose
  * corpus count is largest RELATIVE to its parts' marginals (a
  * likelihood-ratio greedy step) — instead of the raw pair count. That
  * one change forces a second delta-maintained table: per-SYMBOL counts,
  * updated from exactly the same affected-words split that already
  * produces the pair-count delta. Everything else (word-frequency dict,
  * delta re-pairing of only the words containing a winning pair,
  * vocab-scale argmax via TakeOrdered, top-K symbol-disjoint batching
  * with the merged-output exclusion, windowed concurrent checkpoints)
  * reuses the measured [[Bpe]] loop design — see Bpe's class doc for the
  * exactness argument; it transfers because a disjoint batch member's
  * pair count AND both its marginal symbol counts are untouched by the
  * other members, so its score is the same as if it merged alone.
  *
  * Symbols carry the `##` continuation marker from initialization
  * (`word` → `w`, `##o`, `##r`, `##d`): merging `A` + `##B` yields
  * `A##B`-without-the-marks = `A` + `B`'s tail, so learned pieces are
  * directly the BERT-style vocab entries. [[encode]] is the standard
  * greedy LONGEST-MATCH-FIRST segmentation against the final vocabulary
  * (not merge replay — per the WordPiece paper and BERT's tokenizer),
  * with `[UNK]` for unmatchable words.
  *
  * Scale shape: identical to [[Bpe.learnBatched]] — one corpus-sized
  * aggregation, then vocab-scale rounds; encode is map-side with the
  * vocab riding the closure.
  */
object WordPiece {

  final case class WpMerge(rank: Int, left: String, right: String,
                           merged: String, pairCount: Long, score: Double)

  private[graft] def initSymbols(word: String): Seq[String] =
    word.zipWithIndex.map { case (c, i) => if (i == 0) c.toString else "##" + c }

  private[graft] def mergedOf(l: String, r: String): String =
    l + (if (r.startsWith("##")) r.substring(2) else r)

  private def adjacentPairs(syms: Column): Column =
    zip_with(slice(syms, lit(1), size(syms) - 1),
      slice(syms, lit(2), size(syms) - 1),
      (a, b) => struct(a.as("a"), b.as("b")))

  /** greedy prefix scan in score order: skip any candidate sharing a
    * symbol — or whose merged OUTPUT collides — with an already-selected
    * one (the same rule as [[Bpe.selectDisjoint]], with WordPiece's
    * ##-stripping merge) */
  private[graft] def selectDisjoint(cands: Seq[(String, String, Long, Double)],
                                    k: Int): Seq[(String, String, Long, Double)] = {
    val used = mutable.HashSet.empty[String]
    val out = mutable.ArrayBuffer.empty[(String, String, Long, Double)]
    val it = cands.iterator
    while (out.length < k && it.hasNext) {
      val c = it.next()
      val merged = mergedOf(c._1, c._2)
      if (!used(c._1) && !used(c._2) && !used(merged)) {
        used += c._1; used += c._2; used += merged; out += c
      }
    }
    out.toSeq
  }

  /** Train up to `numMerges` WordPiece merges. `batchK = 1` is exactly
    * sequential WordPiece ([[learnLocal]], WordPieceSpec-pinned). */
  def learn(docs: DataFrame, textCol: String, numMerges: Int,
            minCount: Long = 2L, batchK: Int = 16): Seq[WpMerge] = {
    require(batchK >= 1, s"batchK must be >= 1, got $batchK")
    val spark = docs.sparkSession
    // the same loop-scoped session tuning as Bpe.learnBatched (AQE off,
    // vocab-scale shuffles), measured there
    val keys = Seq("spark.sql.adaptive.enabled" -> "false",
      "spark.sql.shuffle.partitions" ->
        math.min(8, spark.sparkContext.defaultParallelism).toString)
    val prev = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try loop(spark, docs, textCol, numMerges, minCount, batchK)
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def loop(spark: SparkSession, docs: DataFrame, textCol: String,
                   numMerges: Int, minCount: Long, batchK: Int): Seq[WpMerge] = Materialize { m =>
    val initUdf = udf((w: String) => initSymbols(w))
    var words = m.checkpoint(docs
      .select(explode(Dedup.wordsArray(textCol)).as("w"))
      .repartition(spark.sparkContext.defaultParallelism, col("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .select(initUdf(col("w")).as("syms"), col("cnt"))
      .filter(size(col("syms")) >= 2))
    var pairCounts = m.checkpoint(words
      .select(explode(adjacentPairs(col("syms"))).as("p"), col("cnt"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum("cnt").as("cnt")))
    var symCounts = m.checkpoint(words
      .select(explode(col("syms")).as("s"), col("cnt"))
      .groupBy("s").agg(sum("cnt").as("cnt")))

    val merges = Seq.newBuilder[WpMerge]
    var ckpt = Seq(words, pairCounts, symCounts)
    var rank = 0
    var done = false
    while (rank < numMerges && !done) {
      // vocab-scale score join + TakeOrdered; integral ÷ integral is
      // double division in Spark SQL, so the score is the same double
      // the sequential twin computes
      val cands0 = pairCounts
        .join(symCounts.select(col("s").as("a"), col("cnt").as("ca")), "a")
        .join(symCounts.select(col("s").as("b"), col("cnt").as("cb")), "b")
        .select(col("a"), col("b"), col("cnt"),
          (col("cnt") / (col("ca") * col("cb"))).as("score"))
        .orderBy(desc("score"), desc("cnt"), asc("a"), asc("b"))
        .head(Bpe.candidateFetch(batchK))
      // runtime pin: per-round driver rows bounded by the vocab knob,
      // never the corpus (TrainerProbe contract)
      TrainerProbe.record("wordpiece.argmax", rank, cands0.length.toLong,
        Bpe.candidateFetch(batchK).toLong)
      val cands = cands0
        .iterator
        .map(r => (r.getAs[String]("a"), r.getAs[String]("b"),
          r.getAs[Long]("cnt"), r.getAs[Double]("score")))
        .filter(_._3 >= minCount)
        .toSeq
      val batch = selectDisjoint(cands, math.min(batchK, numMerges - rank))
      if (batch.isEmpty) done = true
      else {
        batch.foreach { case (l, r, c, sc) =>
          merges += WpMerge(rank, l, r, mergedOf(l, r), c, sc); rank += 1
        }
        val lefts = batch.map(_._1)
        val rights = batch.map(_._2)
        val mergeds = batch.map(b => mergedOf(b._1, b._2))
        val pairSet = batch.map { case (l, r, _, _) => (l, r) }.toSet
        val hasPairUdf = udf((syms: Seq[String]) =>
          syms.length >= 2 && syms.iterator.zip(syms.iterator.drop(1))
            .exists(pairSet))
        val affected = words.filter(hasPairUdf(col("syms")))
        val mergedAffected = affected.select(
          udf((syms: Seq[String]) => Bpe.mergeMulti(syms, lefts, rights, mergeds))
            .apply(col("syms")).as("syms"), col("cnt"))
        val pairDelta = affected
          .select(explode(adjacentPairs(col("syms"))).as("p"), (-col("cnt")).as("cnt"))
          .union(mergedAffected
            .select(explode(adjacentPairs(col("syms"))).as("p"), col("cnt")))
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(sum("cnt").as("cnt"))
        val symDelta = affected
          .select(explode(col("syms")).as("s"), (-col("cnt")).as("cnt"))
          .union(mergedAffected
            .select(explode(col("syms")).as("s"), col("cnt")))
          .groupBy("s").agg(sum("cnt").as("cnt"))

        val parts = math.min(8, spark.sparkContext.defaultParallelism)
        val nextWords0 = words.filter(!hasPairUdf(col("syms")))
          .union(mergedAffected).coalesce(parts)
        val nextPairs0 = pairCounts.union(pairDelta)
          .groupBy("a", "b").agg(sum("cnt").as("cnt"))
          .filter(col("cnt") > 0).coalesce(parts)
        val nextSyms0 = symCounts.union(symDelta)
          .groupBy("s").agg(sum("cnt").as("cnt"))
          .filter(col("cnt") > 0).coalesce(parts)

        // three independent eager checkpoints, overlapped (Bpe notes)
        import scala.concurrent.{Await, Future}
        import scala.concurrent.ExecutionContext.Implicits.global
        import scala.concurrent.duration.Duration
        val fs = Seq(nextWords0, nextPairs0, nextSyms0)
          .map(df => Future(m.checkpoint(df)))
        val Seq(nw, np, ns) = fs.map(Await.result(_, Duration.Inf))
        ckpt.foreach(m.release(_, blocking = false))
        ckpt = Seq(nw, np, ns)
        words = nw; pairCounts = np; symCounts = ns
      }
    }
    ckpt.foreach(m.release(_, blocking = false))
    merges.result()
  }

  /** the BERT-style vocabulary implied by a training run on `docs`:
    * every initial symbol of the corpus alphabet plus each merge's
    * output (how the HF trainer assembles its vocab file) */
  def vocabulary(docs: DataFrame, textCol: String,
                 merges: Seq[WpMerge]): Set[String] = {
    val initUdf = udf((w: String) => initSymbols(w))
    val alphabet = docs
      .select(explode(Dedup.wordsArray(textCol)).as("w"))
      .select(explode(initUdf(col("w"))).as("s"))
      .distinct().collect().map(_.getString(0)).toSet
    // alphabet-bounded by construction: initSymbols emits 1-char heads and
    // "##"+char continuations, so ≤ 2·65536 distinct UTF-16 forms exist
    TrainerProbe.record("wordpiece.alphabet", 0, alphabet.size.toLong, 131072L)
    alphabet ++ merges.map(_.merged)
  }

  /** greedy longest-match-first segmentation (BERT WordpieceTokenizer):
    * per word, take the longest vocab prefix (##-form after the first
    * piece); a word with an unmatchable position becomes `[UNK]` whole.
    * Map-side; the vocab rides the closure. */
  def encode(docs: DataFrame, textCol: String, vocab: Set[String]): DataFrame = {
    val encodeUdf = udf { (text: String) =>
      if (text == null) Seq.empty[String]
      else "[a-z0-9]+".r.findAllIn(text.toLowerCase).toSeq.flatMap(segmentWord(_, vocab))
    }
    docs.withColumn("tokens", encodeUdf(col(textCol)))
  }

  private[graft] def segmentWord(w: String, vocab: Set[String]): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < w.length) {
      val prefix = if (i == 0) "" else "##"
      var j = w.length
      var hit = -1
      while (j > i && hit < 0) {
        if (vocab(prefix + w.substring(i, j))) hit = j else j -= 1
      }
      if (hit < 0) return Seq("[UNK]")
      out += prefix + w.substring(i, hit)
      i = hit
    }
    out.toSeq
  }

  // ---- single-node reference twin (spec cross-validation only) ----

  /** sequential WordPiece with the same score, tiebreak, and batching
    * rules; the oracle for [[learn]] in WordPieceSpec */
  def learnLocal(wordCounts: Seq[(String, Long)], numMerges: Int,
                 minCount: Long = 2L, batchK: Int = 1): Seq[WpMerge] = {
    require(batchK >= 1)
    var words: Seq[(Seq[String], Long)] = wordCounts
      .filter(_._1.length >= 2).map { case (w, c) => (initSymbols(w), c) }
    val merges = Seq.newBuilder[WpMerge]
    var rank = 0
    var done = false
    while (rank < numMerges && !done) {
      val pairs = new mutable.HashMap[(String, String), Long]
      val syms = new mutable.HashMap[String, Long]
      for ((ss, c) <- words) {
        for (s <- ss) syms(s) = syms.getOrElse(s, 0L) + c
        for (p <- ss.zip(ss.tail)) pairs(p) = pairs.getOrElse(p, 0L) + c
      }
      val cands = pairs.iterator
        // LONG multiply before the double cast — exactly Spark's
        // Divide(Multiply(long, long)) evaluation order, so the two
        // learners compare bit-identical doubles
        .map { case ((a, b), n) =>
          (a, b, n, n.toDouble / (syms(a) * syms(b)).toDouble) }
        .toSeq
        .sortBy { case (a, b, n, sc) => (-sc, -n, a, b) }
        .take(Bpe.candidateFetch(batchK))
        .filter(_._3 >= minCount)
      val batch = selectDisjoint(cands, math.min(batchK, numMerges - rank))
      if (batch.isEmpty) done = true
      else {
        batch.foreach { case (l, r, c, sc) =>
          merges += WpMerge(rank, l, r, mergedOf(l, r), c, sc); rank += 1
        }
        val lefts = batch.map(_._1)
        val rights = batch.map(_._2)
        val mergeds = batch.map(b => mergedOf(b._1, b._2))
        words = words.map { case (ss, n) =>
          (Bpe.mergeMulti(ss, lefts, rights, mergeds), n)
        }
      }
    }
    merges.result()
  }
}
