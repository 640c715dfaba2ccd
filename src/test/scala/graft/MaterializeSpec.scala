package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{GraftSession, Materialize}

/** The materialization scope owns every persist and checkpoint: closing it
  * frees both kinds of block, early release frees one, and no other file
  * in `src/main` checkpoints or looks up a checkpoint's RDD itself. */
class MaterializeSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.local(2)

  private def blocksSince(floor: Int): Seq[Int] =
    spark.sparkContext.getPersistentRDDs.keys.filter(_ >= floor).toSeq.sorted

  test("close frees persisted and checkpointed blocks; release frees one early") {
    val floor = spark.sparkContext.parallelize(Seq(0), 1).id
    val m = new Materialize
    val cached = m.persist(spark.range(10).toDF("id"), StorageLevel.MEMORY_AND_DISK)
    assert(cached.count() === 10L)
    val cp = m.checkpoint(spark.range(5).toDF("id"))
    val cp2 = m.checkpoint(spark.range(3).toDF("id"))
    assert(blocksSince(floor).size === 3)
    // a projection of a checkpoint releases the checkpoint it reads
    m.release(cp.select("id"))
    assert(blocksSince(floor).size === 2)
    // a frame the scope does not hold is left alone
    m.release(spark.range(1).toDF("id"))
    assert(cp2.count() === 3L)
    m.close()
    assert(blocksSince(floor).isEmpty)
    m.close() // closing twice is a no-op
    // a block registered after close is freed at once
    m.checkpoint(spark.range(2).toDF("id"))
    assert(blocksSince(floor).isEmpty)
  }

  test("the scope closes when its block throws") {
    val floor = spark.sparkContext.parallelize(Seq(0), 1).id
    intercept[IllegalStateException] {
      Materialize { m =>
        m.checkpoint(spark.range(4).toDF("id"))
        throw new IllegalStateException("body failed")
      }
    }
    assert(blocksSince(floor).isEmpty)
  }

  test("a checkpoint whose job fails leaves its RDD unregistered") {
    import org.apache.spark.sql.functions.{col, udf}
    val boom = udf { (id: Long) =>
      if (id >= 2) throw new IllegalStateException("injected checkpoint failure")
      id
    }
    val floor = spark.sparkContext.parallelize(Seq(0), 1).id
    Materialize { m =>
      // Spark persists the checkpoint RDD before its job runs; partitions
      // that computed before the failure hold blocks too
      intercept[Exception](m.checkpoint(spark.range(0, 4, 1, 4).select(boom(col("id")))))
      assert(blocksSince(floor).isEmpty)
    }
  }

  test("src/main checkpoints and finds checkpoint RDDs only through the scope") {
    val root = Paths.get("src/main/scala")
    val owner = root.resolve("graft/core/Materialize.scala")
    val forbidden = Seq("localCheckpoint(", "LogicalRDD")
    val files = Files.walk(root)
    val offenders =
      try files.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") && p != owner)
        .flatMap { p: Path =>
          Files.readAllLines(p).asScala.zipWithIndex.collect {
            case (line, i) if forbidden.exists(line.contains) => s"$p:${i + 1}: ${line.trim}"
          }
        }.toList
      finally files.close()
    assert(Files.exists(owner))
    assert(offenders.isEmpty,
      s"checkpoint outside graft.core.Materialize:\n${offenders.mkString("\n")}")
  }
}
