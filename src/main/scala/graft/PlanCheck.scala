package graft

import graft.queries.Registry

/** Prints formatted physical plans for selected queries — the "is this the
  * plan you'd want at 100 TB" review loop. Usage:
  *   tools/run.sh graft.PlanCheck [queryName ...]
  */
object PlanCheck {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.GraftSession.local()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names = if (args.nonEmpty) args.toSeq
      else Seq("s2_predicate_scan", "q3_topk_join", "q5_region_revenue",
        "v_ann_topk", "j1_sync_plan", "d_minhash_lsh")
    for (n <- names; q <- Registry.byName.get(n)) {
      println(s"\n========== $n ==========")
      q.build(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
