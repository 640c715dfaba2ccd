package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = graft.core.GraftSession.local()
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_VERIFY_ONLY=name1,name2 narrows the dump for local
    // iteration (same contract as Bench's SPARK_GRAFT_BENCH_ONLY); the
    // driver leaves it unset and gets every query.
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter { case (n, _) => names(n) }
      case None        => SparkEntry.queries
    }
    selected.foreach { case (name, fn) =>
      System.err.println(s"[verify] running $name")
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // the harness end of the Materialize scope contract: builders persist
      // and checkpoint into unclosed harness scopes (d_clean_corpus,
      // connected components, delta dedup, rag pipelines), freed here —
      // ~230 queries in one session would otherwise accumulate stored
      // blocks for the whole run
      graft.core.GraftSession.releaseAllBlocks(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
