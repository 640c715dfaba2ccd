package graft


/** Scratch probe: the FTS rebuild is the slowest index job at 200k docs
  * (25.3 s vs ANN's 20.1 s, r17 ingest attribution). Its postings and
  * docLens legs both derive from the UNPERSISTED tokenize+explode of the
  * full chunk table — the same double-evaluation class the ANN rebuild's
  * KMeans lineage had (r16). Times a full store rebuild on a saved
  * IngestStress chunk table.
  *
  *   tools/run.sh graft.FtsRebuildProbe <chunkStoreParquetDir>
  */
object FtsRebuildProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = graft.core.GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    val df = spark.read.parquet(dir)
    println(s"rows=${df.count()}")
    val out = s"${System.getProperty("java.io.tmpdir")}/fts_probe_${dir.hashCode}"
    for (i <- 1 to 3) {
      val st = new graft.store.FtsIndexStore(spark, out)
      val s0 = graft.core.StealSampler.snapshot()
      val t0 = System.nanoTime()
      st.rebuild(df)
      val sec = (System.nanoTime() - t0) / 1e9
      val steal = graft.core.StealSampler.pct(s0, graft.core.StealSampler.snapshot())
      println(f"rebuild run$i $sec%.2f s steal=$steal%.1f%%")
    }
    spark.stop()
  }
}
