package graft.perfbench

/** Output checks over plain values copied out of the engine's results, so
  * each one can be fed a corrupted result in the self-test. A check returns
  * None when the output is right, or the reason it is wrong. */
object Checks {

  final case class Hit(filePath: String, chunkIndex: Int, text: String,
                       score: Double, boosted: Double)
  final case class NeighborRow(filePath: String, chunkIndex: Int, text: String,
                               isTarget: Boolean)
  final case class QueryArgs(limit: Int, scope: Option[String],
                             maxFiles: Option[Int], maxDistance: Option[Double])

  private val KeyOrder =
    Ordering.Tuple3(Ordering.Double.TotalOrdering, Ordering.String, Ordering.Int)

  private def fail(cond: Boolean, why: => String): Option[String] =
    if (cond) Some(why) else None

  private def firstOf(checks: Option[String]*): Option[String] = checks.flatten.headOption

  /** at most `limit` rows, ordered by (boosted, filePath, chunkIndex), and
    * every requested filter honoured */
  def query(a: QueryArgs, hits: Seq[Hit]): Option[String] = {
    val keys = hits.map(h => (h.boosted, h.filePath, h.chunkIndex))
    firstOf(
      fail(hits.size > a.limit, s"${hits.size} rows for limit ${a.limit}"),
      fail(keys != keys.sorted(KeyOrder), "rows not ordered by (boosted, filePath, chunkIndex)"),
      a.scope.flatMap(s => fail(hits.exists(!_.filePath.startsWith(s)), s"row outside scope $s")),
      a.maxFiles.flatMap(m =>
        fail(hits.map(_.filePath).distinct.size > m, s"more than $m files")),
      a.maxDistance.flatMap(d => fail(hits.exists(_.score > d), s"score above maxDistance $d")))
  }

  /** the contiguous window [max(0, t-before), min(t+after, n-1)] of one
    * file with exactly one target row, at `t` */
  def neighbors(path: String, target: Int, before: Int, after: Int, nChunks: Int,
                rows: Seq[NeighborRow]): Option[String] = {
    val want = math.max(0, target - before) to math.min(target + after, nChunks - 1)
    firstOf(
      fail(rows.exists(_.filePath != path), "row from another file"),
      fail(rows.map(_.chunkIndex) != want, s"window ${rows.map(_.chunkIndex)} != $want"),
      fail(rows.filter(_.isTarget).map(_.chunkIndex) != Seq(target), "target flag wrong"))
  }

  /** (chunks, files) equal the counts the corpus should have produced */
  def status(got: (Long, Long), chunks: Long, files: Long): Option[String] =
    fail(got != ((chunks, files)), s"status $got, expected ($chunks, $files)")

  /** one row per file on disk, each ingested, with its stored chunk count */
  def listFiles(rows: Seq[(String, Boolean, Long)], expected: Map[String, Long]): Option[String] =
    firstOf(
      fail(rows.size != expected.size, s"${rows.size} rows for ${expected.size} files"),
      fail(rows.exists(r => !r._2 || !expected.get(r._1).contains(r._3)),
        "a file is missing, not ingested, or has the wrong chunk count"))

  /** a written file reads back with its new revision text from chunk 0 on */
  def revision(path: String, marker: String, rows: Seq[NeighborRow]): Option[String] =
    firstOf(
      fail(rows.isEmpty, s"no chunks for $path"),
      fail(rows.map(_.chunkIndex) != rows.indices, "chunks not contiguous from 0"),
      fail(!rows.exists(_.text.contains(marker)), s"revision text '$marker' missing"))

  /** a deleted file returns no rows */
  def deleted(path: String, rows: Seq[NeighborRow]): Option[String] =
    fail(rows.nonEmpty, s"${rows.size} rows left for deleted $path")

  /** the engine's chunk count for a file equals the driver-side count */
  def chunkCount(path: String, stored: Long, driverSide: Long): Option[String] =
    fail(stored != driverSide, s"$path: stored $stored chunks, driver-side $driverSide")

  /** the step-by-step replay of a query returns the rows queryDocuments did */
  def replay(engine: Seq[Hit], steps: Seq[Hit]): Option[String] =
    fail(engine.map(h => (h.filePath, h.chunkIndex, h.boosted)) !=
      steps.map(h => (h.filePath, h.chunkIndex, h.boosted)), "replay rows differ")

  /** Every check must pass a good result and reject each corruption of it.
    * Returns the failures; empty means the checks work. */
  def selfTest(): Seq[String] = {
    val hits = Seq(Hit("/c/a", 0, "x", 0.1, 0.05), Hit("/c/a", 1, "y", 0.2, 0.1),
      Hit("/c/b", 0, "z", 0.3, 0.1))
    val qa = QueryArgs(3, Some("/c/"), Some(2), Some(0.5))
    val win = (0 to 3).map(i => NeighborRow("/c/a", i, s"t$i rev7", i == 1))
    val cases: Seq[(String, Option[String], Seq[Option[String]])] = Seq(
      ("query", query(qa, hits), Seq(
        query(qa.copy(limit = 2), hits),
        query(qa, hits.reverse),
        query(qa, hits :+ Hit("/d/x", 0, "w", 0.4, 0.2)),
        query(qa.copy(maxFiles = Some(1)), hits),
        query(qa.copy(maxDistance = Some(0.25)), hits))),
      ("neighbors", neighbors("/c/a", 1, 2, 2, 4, win), Seq(
        neighbors("/c/a", 1, 2, 2, 4, win.drop(1)),
        neighbors("/c/a", 1, 2, 2, 4, win.patch(2, Nil, 1)),
        neighbors("/c/a", 1, 2, 2, 4, win.map(_.copy(isTarget = false))),
        neighbors("/c/a", 1, 2, 2, 4, win.map(r => r.copy(isTarget = r.chunkIndex <= 1))),
        neighbors("/c/a", 1, 2, 2, 4, win.updated(0, win(0).copy(filePath = "/c/b"))),
        neighbors("/c/a", 2, 2, 2, 9, win.map(r => r.copy(isTarget = r.chunkIndex == 2))))),
      ("status", status((10L, 2L), 10, 2), Seq(status((9L, 2L), 10, 2), status((10L, 3L), 10, 2))),
      ("listFiles", listFiles(Seq(("/a", true, 3L), ("/b", true, 2L)), Map("/a" -> 3L, "/b" -> 2L)),
        Seq(listFiles(Seq(("/a", true, 3L)), Map("/a" -> 3L, "/b" -> 2L)),
          listFiles(Seq(("/a", true, 3L), ("/b", false, 0L)), Map("/a" -> 3L, "/b" -> 2L)),
          listFiles(Seq(("/a", true, 3L), ("/b", true, 1L)), Map("/a" -> 3L, "/b" -> 2L)))),
      ("revision", revision("/c/a", "rev7", win), Seq(
        revision("/c/a", "rev8", win), revision("/c/a", "rev7", Nil),
        revision("/c/a", "rev7", win.drop(1)))),
      ("deleted", deleted("/c/a", Nil), Seq(deleted("/c/a", win.take(1)))),
      ("chunkCount", chunkCount("/c/a", 4, 4), Seq(chunkCount("/c/a", 4, 5))),
      ("replay", replay(hits, hits), Seq(replay(hits, hits.take(2)),
        replay(hits, hits.map(h => h.copy(boosted = h.boosted + 1e-9))))))
    cases.flatMap { case (name, good, bad) =>
      good.map(w => s"$name rejected a correct result: $w").toSeq ++
        bad.zipWithIndex.collect { case (None, i) => s"$name accepted corruption #$i" }
    }
  }
}
