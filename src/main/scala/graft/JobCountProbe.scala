package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.queries.Registry

/** Dev probe: DETERMINISTIC job counts for named queries — the evidence a
  * job-count optimization (fewer driver barriers) is graded on, since walls
  * on this VM carry up to ~1.6–2.5x single-run noise (PERF.md). Runs each
  * query once warm (codegen, store builds), then counts scheduler jobs over
  * one steady-state execution.
  *   tools/run.sh graft.JobCountProbe <sfDir> <name> [name...]
  */
object JobCountProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val spark = graft.core.GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new AtomicInteger(0)
    // SPARK_GRAFT_JOBPROBE_DETAIL=1: per-job lines (start-relative ms,
    // duration, call site) so a 60-job protocol can be attributed to its
    // code sites, not just counted
    val detail = sys.env.get("SPARK_GRAFT_JOBPROBE_DETAIL").contains("1")
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val epoch = new java.util.concurrent.atomic.AtomicLong(-1L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        if (detail) {
          // the result stage's name carries the action's call site
          // (e.g. "count at Dedup.scala:633") — callSite.short is not
          // populated in the job properties on this deployment
          val site = j.stageInfos.lastOption.map(_.name).getOrElse("?")
          epoch.compareAndSet(-1L, j.time)
          starts.put(j.jobId, (j.time, site)): Unit
        }
      }
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        if (detail) Option(starts.get(e.jobId)).foreach { case (t0, site) =>
          // start-relative timestamp + duration: overlapping jobs are
          // visible as [start, start+dur] interval overlap, so a
          // concurrency change (guide §2.6) is checkable from the log
          println(f"  job=${e.jobId}%4d t0=${t0 - epoch.get()}%6d ms dur=${e.time - t0}%6d ms  $site")
        }
    })
    for (name <- args.tail; q <- Registry.byName.get(name)) {
      q.build(spark, sfDir).write.format("noop").mode("overwrite").save()
      graft.core.GraftSession.releaseAllBlocks(spark)
      Thread.sleep(500) // listener bus drain before the counted run
      jobs.set(0)
      val t0 = System.nanoTime()
      q.build(spark, sfDir).write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      graft.core.GraftSession.releaseAllBlocks(spark)
      Thread.sleep(500)
      println(f"$name jobs=${jobs.get()} wall=$sec%.2f s")
    }
    spark.stop()
  }
}
