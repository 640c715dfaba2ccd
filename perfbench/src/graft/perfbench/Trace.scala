package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.util.LongAccumulator

import graft.embed.{Embedder, HashedEmbedder}

/** Counts the Spark jobs each call starts, by the job group the client sets
  * around the call. Registered in both modes, so jobs per call can be
  * compared between traced and untraced runs. */
final class JobCounter extends SparkListener {
  private val perGroup = new ConcurrentHashMap[String, Integer]()
  override def onJobStart(j: SparkListenerJobStart): Unit =
    Option(j.properties).flatMap(p => Option(p.getProperty(Client.GroupKey)))
      .foreach(g => perGroup.merge(g, 1, (a: Integer, b: Integer) => a + b))
  def jobs(group: String): Int = Option(perGroup.get(group)).map(_.intValue).getOrElse(0)
}

/** The embedder the engine is given, timing every batch it embeds. The
  * accumulators carry executor-side time and text counts to the driver. */
final class TimedEmbedder(inner: Embedder, texts: LongAccumulator, nanos: LongAccumulator)
    extends Embedder {
  def dim: Int = inner.dim
  def embedBatch(ts: Seq[String]): Seq[Array[Float]] = {
    val t0 = System.nanoTime()
    val r = inner.embedBatch(ts)
    nanos.add(System.nanoTime() - t0)
    texts.add(ts.size.toLong)
    r
  }
}

/** Traced mode: every job with its tasks' metrics, the Catalyst phase time
  * of every query execution, and the embedder's work, all observed from
  * outside the engine. Adds no Spark jobs. */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  import Tracer._

  private val sc = spark.sparkContext
  val embedTexts: LongAccumulator = sc.longAccumulator("perfbench.embed.texts")
  val embedNanos: LongAccumulator = sc.longAccumulator("perfbench.embed.nanos")
  def mkEmbedder: () => Embedder = {
    val (t, n) = (embedTexts, embedNanos) // the closure must not capture the tracer
    () => new TimedEmbedder(new HashedEmbedder(Main.Dim), t, n)
  }

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val planningMs = new ConcurrentLinkedQueue[java.lang.Double]()

  sc.addSparkListener(this)
  spark.listenerManager.register(this)

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    val p = Option(j.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    j.stageIds.foreach(s => stageJob.put(s, j.jobId))
    jobs.put(j.jobId, new JobRec(j.jobId, prop(Client.GroupKey),
      prop("spark.job.description"), j.time))
  }
  override def onJobEnd(j: SparkListenerJobEnd): Unit =
    Option(jobs.get(j.jobId)).foreach(_.end = j.time)
  override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
    for { jid <- Option(stageJob.get(t.stageId)); rec <- Option(jobs.get(jid))
          m <- Option(t.taskMetrics) } rec.synchronized {
      rec.executorMs += m.executorRunTime
      rec.bytesRead += m.inputMetrics.bytesRead
      rec.recordsRead += m.inputMetrics.recordsRead
      rec.bytesWritten += m.outputMetrics.bytesWritten
      rec.taskMs += t.taskInfo.duration
    }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planningMs.add(phaseMs(qe))
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    planningMs.add(phaseMs(qe))
  private def phaseMs(qe: QueryExecution): Double =
    try qe.tracker.phases.values.map(_.durationMs).sum.toDouble
    catch { case NonFatal(_) => 0.0 }

  /** called after each call: waits for the call's events, then hands back
    * the Catalyst phase time of the query executions it ran */
  def endCall(): Double = {
    org.apache.spark.PerfbenchBridge.drainListeners(sc)
    var s = 0.0
    var x = planningMs.poll()
    while (x != null) { s += x; x = planningMs.poll() }
    s
  }

  def jobsOf(group: String): Seq[JobRec] =
    jobs.values.asScala.filter(_.group == group).toSeq.sortBy(_.id)
  def jobsDescribed(desc: String): Seq[JobRec] =
    jobs.values.asScala.filter(_.desc == desc).toSeq.sortBy(_.id)
}

object Tracer {
  final class JobRec(val id: Int, val group: String, val desc: String, val start: Long) {
    var end: Long = -1L
    var executorMs, bytesRead, recordsRead, bytesWritten = 0L
    val taskMs: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty
  }

  /** length of the union of intervals, clipped to [lo, hi] */
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter(x => x._2 > x._1)
      .sortBy(_._1).foreach { case (s, e) =>
        if (curE.isNaN || s > curE) {
          if (!curE.isNaN) total += curE - curS
          curS = s; curE = e
        } else curE = math.max(curE, e)
      }
    if (!curE.isNaN) total += curE - curS
    total
  }
}
