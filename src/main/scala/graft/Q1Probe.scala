package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Scratch probe: where does q1_pricing_summary's wall go — the scan, the
  * wide-decimal (precision 30) aggregation buffers, or the floor?
  *   tools/run.sh graft.Q1Probe /root/testdata/sf0.1 [workDir factor]
  * With workDir+factor the lineitem table is inflated verbatim ×factor
  * (ScaleStress convention — q1's group keys are low-cardinality, so
  * duplication just multiplies row mass) and each variant reports
  * shuffle/spill off the listener bus next to its wall. */
object Q1Probe {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    val li = {
      val base = graft.core.Tables.lineitem(spark, args(0))
      if (args.length > 2) {
        val factor = args(2).toInt
        val dir = s"${args(1)}/li_x$factor/lineitem.parquet"
        if (!new java.io.File(dir).exists()) {
          (0 until factor).map(i =>
              base.withColumn("l_orderkey", col("l_orderkey") + lit(i.toLong * 100000000L)))
            .reduce(_ union _)
            .write.mode("overwrite").parquet(dir)
        }
        spark.read.parquet(dir)
      } else base
    }
    val collector = new graft.core.TaskMetricsCollector
    spark.sparkContext.addSparkListener(collector)
    def t(name: String)(body: => Unit): Unit = {
      for (i <- 1 to 3) {
        collector.reset()
        val t0 = System.nanoTime()
        try {
          body
          val sec = (System.nanoTime() - t0) / 1e9
          Thread.sleep(300) // listener bus drain
          println(f"$name run$i $sec%.2f s shufW=${collector.shuffleWrite / 1e6}%.1fMB " +
            f"spill=${collector.totalSpill / 1e6}%.1fMB maxTaskSpill=${collector.maxTaskSpill / 1e6}%.1fMB")
        } catch {
          // a probe arm that overflows IS a result (the naive cents-long
          // arm trips int64 at x100 where the carry-normalized split is
          // exact) — record it and keep probing
          case e: Exception =>
            println(s"$name run$i FAILED: ${e.getClass.getSimpleName}: " +
              e.getMessage.linesIterator.next())
        }
      }
    }
    t("scan_only") {
      li.select("l_returnflag", "l_linestatus", "l_quantity",
        "l_extendedprice", "l_discount")
        .write.format("noop").mode("overwrite").save()
    }
    t("double_sums") {
      li.groupBy("l_returnflag", "l_linestatus")
        .agg(sum("l_quantity"), sum("l_extendedprice"),
          sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))),
          count(lit(1)))
        .write.format("noop").mode("overwrite").save()
    }
    t("decimal30_sums") {
      li.groupBy("l_returnflag", "l_linestatus")
        .agg(sum(col("l_quantity").cast(DecimalType(30, 2))),
          sum(col("l_extendedprice").cast(DecimalType(30, 2))),
          sum((col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast(DecimalType(30, 8))),
          count(lit(1)))
        .write.format("noop").mode("overwrite").save()
    }
    t("decimal18_sums") {
      li.groupBy("l_returnflag", "l_linestatus")
        .agg(sum(col("l_quantity").cast(DecimalType(18, 2))),
          sum(col("l_extendedprice").cast(DecimalType(18, 2))),
          sum((col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast(DecimalType(18, 8))),
          count(lit(1)))
        .write.format("noop").mode("overwrite").save()
    }
    t("decimal8_compact_sums") {
      // sum over DECIMAL(8,2) → result DECIMAL(18,2) → COMPACT (long-backed)
      // aggregation buffer; per-row (8,2) is exact for 2dp values < 1e6
      li.groupBy("l_returnflag", "l_linestatus")
        .agg(sum(col("l_quantity").cast(DecimalType(8, 2))),
          sum(col("l_extendedprice").cast(DecimalType(8, 2))),
          sum((col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast(DecimalType(8, 2))),
          count(lit(1)))
        .write.format("noop").mode("overwrite").save()
    }
    t("mixed_disc30_only") {
      li.groupBy("l_returnflag", "l_linestatus")
        .agg(sum(col("l_quantity").cast(DecimalType(8, 2))),
          sum(col("l_extendedprice").cast(DecimalType(8, 2))),
          sum((col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast(DecimalType(30, 8))),
          count(lit(1)))
        .write.format("noop").mode("overwrite").save()
    }
    t("shipped_two_level") {
      // the registry q1 shape: compact (8,2) two-level for the 2dp sums,
      // unscaled hi/lo longs for the 8dp disc term (ONE shared definition
      // with the registry query — graft.queries.Decimals, r15 ADVICE)
      li.withColumn("_k", graft.queries.Decimals.q1Unscaled8(
          col("l_extendedprice"), col("l_quantity"), col("l_discount")))
        .groupBy(col("l_returnflag"), col("l_linestatus"),
          spark_partition_id().as("_pid"))
        .agg(
          sum(col("l_quantity").cast(DecimalType(8, 2))).as("_p_qty"),
          sum(col("l_extendedprice").cast(DecimalType(8, 2))).as("_p_base"),
          sum(expr("_k div 100000000")).as("_p_hi"),
          sum(col("_k") % 100000000L).as("_p_lo"),
          count(lit(1)).as("_p_cnt"))
        .withColumn("_hi", col("_p_hi") + expr("_p_lo div 100000000"))
        .withColumn("_lo", col("_p_lo") % 100000000L)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("_p_qty").cast(DecimalType(38, 2))).cast("double").as("sum_qty"),
          sum(col("_p_base").cast(DecimalType(38, 2))).cast("double").as("sum_base_price"),
          (round(sum(col("_hi")).cast("double") +
            sum(col("_lo")).cast("double") / 1e8, 2) + lit(0.0)).as("sum_disc_price"),
          sum(col("_p_cnt")).as("count_order"))
        .write.format("noop").mode("overwrite").save()
    }
    t("disc_unscaled_long_split") {
      // the disc term's (30,8) per-row semantics reproduced as an unscaled
      // long (BigDecimal(toString).setScale(8, HALF_UP) — the exact code
      // path Spark's double->decimal cast runs), then summed as TWO compact
      // long columns (whole units, 1e8-fraction) to dodge the wide buffer
      li.withColumn("_k", graft.queries.Decimals.unscaled8(
          col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(sum(expr("_k div 100000000")).as("hi"),
          sum(col("_k") % 100000000L).as("lo"),
          count(lit(1)))
        .write.format("noop").mode("overwrite").save()
    }
    t("cents_long_sums") {
      li.groupBy("l_returnflag", "l_linestatus")
        .agg(sum((col("l_quantity") * 100).cast("long")),
          sum((col("l_extendedprice") * 100).cast("long")),
          sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 1e8).cast("long")),
          count(lit(1)))
        .write.format("noop").mode("overwrite").save()
    }
    spark.stop()
  }
}
