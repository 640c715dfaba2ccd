package graft.perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** The single closed-loop client: one call at a time, each timed from
  * outside and its output checked after the clock stops. Every call runs
  * under its own job group so its Spark jobs can be attributed to it. */
final class Client(spark: SparkSession, counter: JobCounter, tracer: Option[Tracer]) {
  import Client._

  private val sc = spark.sparkContext
  val calls: mutable.ArrayBuffer[Call] = mutable.ArrayBuffer.empty
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  private var phase = "setup"
  private var seq = 0

  def inPhase[A](p: String)(body: => A): A = {
    val prev = phase
    phase = p
    try body finally phase = prev
  }

  /** runs `body` as one call of `op`; `check` judges its result once the
    * clock has stopped */
  def call[A](op: String)(body: => A)(check: A => Option[String]): Option[A] = {
    seq += 1
    val group = s"perfbench-$seq-$op"
    sc.setLocalProperty(GroupKey, group)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val res = try Right(body) catch { case NonFatal(e) => Left(e.toString) }
    val wallMs = (System.nanoTime() - t0) / 1e6
    sc.setLocalProperty(GroupKey, null)
    val planning = tracer.map(_.endCall()).getOrElse(0.0)
    val verdict = res.fold(Some(_), a =>
      try check(a) catch { case NonFatal(e) => Some(s"check threw $e") })
    verdict.foreach(w => failures += s"$op: $w")
    calls += Call(seq, op, phase, group, startMs, wallMs, verdict.isEmpty,
      rowCount(res), planning)
    res.toOption
  }

  private def rowCount(res: Either[String, Any]): Long = res match {
    case Right(a: Array[_]) => a.length.toLong
    case Right((a: Array[_], _)) => a.length.toLong
    case _ => 0L
  }

  def timed(op: String): Seq[Call] = calls.filter(c => c.phase == "timed" && c.op == op).toSeq
  def jobs(c: Call): Int = counter.jobs(c.group)
}

object Client {
  val GroupKey = "spark.jobGroup.id"

  final case class Call(id: Int, op: String, phase: String, group: String,
                        startMs: Long, wallMs: Double, ok: Boolean, rows: Long,
                        planningMs: Double)
}
