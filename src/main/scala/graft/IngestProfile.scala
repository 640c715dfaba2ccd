package graft


import graft.chunker.{MaxMinChunker, SentenceSplitter}
import graft.embed.HashedEmbedder

/** Dev probe: where does the per-task chunk+embed CPU of the rag ingest go —
  * sentence split, sentence embed, max-min grouping, chunk re-embed, or row
  * assembly? Times each phase driver-side over a document sample (single
  * thread, steady-state after a warm lap), so the phase ratios are clean of
  * scheduling noise.
  *   tools/run.sh graft.IngestProfile /root/testdata/sf0.1 [nDocs]
  */
object IngestProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val n = if (args.length > 1) args(1).toInt else 2000
    val spark = graft.core.GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    val texts = graft.core.Tables.documents(spark, sfDir)
      .select("text").limit(n).collect().map(_.getString(0)).toSeq
    val embedder = new HashedEmbedder(64)
    def lap(label: String): Unit = {
      var tSplit = 0L; var tEmbed = 0L; var tGroup = 0L; var tReembed = 0L
      var nSent = 0L; var nChunk = 0L
      for (t <- texts) {
        val t0 = System.nanoTime()
        val units = SentenceSplitter.splitIntoSentenceUnits(t, Seq.empty).toIndexedSeq
        val t1 = System.nanoTime()
        val embs = embedder.embedBatch(units.map(_.text)).toIndexedSeq
        val t2 = System.nanoTime()
        val groups = MaxMinChunker.groupSentences(units, embs)
        val t3 = System.nanoTime()
        val chunkTexts = groups.map(_.map(_.text).mkString(" "))
        embedder.embedBatch(chunkTexts): Unit
        val t4 = System.nanoTime()
        tSplit += t1 - t0; tEmbed += t2 - t1; tGroup += t3 - t2; tReembed += t4 - t3
        nSent += units.length; nChunk += groups.length
      }
      println(f"$label: docs=${texts.size} sents=$nSent chunks=$nChunk | " +
        f"split=${tSplit / 1e9}%.2f s embed=${tEmbed / 1e9}%.2f s " +
        f"group=${tGroup / 1e9}%.2f s reembed=${tReembed / 1e9}%.2f s")
    }
    lap("warm")
    lap("run1")
    lap("run2")
    // the REAL per-doc path (split+embed+group+reembed+assembleRows with
    // title/sha256/id assembly) — the delta over the phases above is the
    // assembly+hash share
    def full(label: String): Unit = {
      val t0 = System.nanoTime()
      var rows = 0L
      texts.zipWithIndex.foreach { case (t, i) =>
        rows += graft.ingest.Ingest.chunkAndCaption(
          graft.ingest.Ingest.Doc(s"/corpus/x/$i.md", t, None, None),
          Seq.empty, embedder, "2026-01-01T00:00:00Z").length
      }
      println(f"$label: full chunkAndCaption ${(System.nanoTime() - t0) / 1e9}%.2f s rows=$rows")
    }
    full("fullwarm")
    full("full1")
    full("full2")
    spark.stop()
  }
}
