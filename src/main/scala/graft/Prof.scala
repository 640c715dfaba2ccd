package graft

import graft.queries.Registry

/** Dev profiling main: run named queries repeatedly in one session to split
  * fixed per-plan overhead (codegen compile, scan setup) from data work.
  *   tools/run.sh graft.Prof <sfDir> <name> [name...]   (each name runs 3x)
  */
object Prof {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val spark = graft.core.GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    for (name <- args.tail; i <- 1 to 3) {
      val q = Registry.byName(name)
      val t0 = System.nanoTime()
      q.build(spark, sfDir).write.format("noop").mode("overwrite").save()
      println(f"$name run$i ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
