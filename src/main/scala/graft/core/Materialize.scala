package graft.core

import scala.util.control.NonFatal

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel

/** One owner for the blocks a computation materializes: every `persist`
  * and every eager `localCheckpoint` in the library goes through a scope,
  * and closing the scope frees all of them — on success or on an exception.
  *
  * The two kinds of block release differently, and this is the only place
  * that knows it: a persisted Dataset is dropped through the CacheManager
  * (`Dataset.unpersist`), while a checkpoint's blocks live on the RDD behind
  * the checkpointed frame's `LogicalRDD` leaf, which `Dataset.unpersist`
  * does not see — only unpersisting that RDD frees them.
  *
  * Lifecycle contracts:
  *  - `Materialize { m => ... }` closes the scope when the block returns or
  *    throws. A frame built on a scope's blocks is valid while the scope is
  *    open; evaluated afterwards it recomputes from source (persist) or fails
  *    with removed-block errors (checkpoint). Consume results inside the block.
  *  - [[release]] frees one superseded block early (the per-round checkpoints
  *    of iterative operators) and forgets it.
  *  - HARNESS SCOPE ([[Materialize.harness]]): a registry builder returns a
  *    lazy frame that the harness runs after the builder returns, so no
  *    scope inside the builder can close in time. Builders take a harness
  *    scope, which nobody closes; Bench and Verify call
  *    [[GraftSession.releaseAllBlocks]] after each query, which frees every
  *    persisted and checkpointed block in the session.
  *
  * Thread-safe: concurrent phases register from their own threads. Closing
  * twice is a no-op, and a block registered after close is freed at once. */
final class Materialize extends AutoCloseable {
  // a Dataset for a persist, the checkpointed RDD for a checkpoint
  private val held = scala.collection.mutable.LinkedHashSet.empty[AnyRef]
  private var closed = false

  def persist[T](ds: Dataset[T], level: StorageLevel): Dataset[T] = {
    hold(ds.persist(level))
    ds
  }

  /** eager `localCheckpoint`: runs the plan now and cuts its lineage.
    * Spark marks the checkpoint RDD persisted BEFORE its job runs, so a
    * failed job leaves it registered with no frame to release it through:
    * the RDDs this thread creates during the call carry a unique creation
    * site, and the failure path frees the ones that got persisted. The
    * site names the caller, as Spark's own call site would. */
  def checkpoint[T](ds: Dataset[T]): Dataset[T] = {
    val sc = ds.sparkSession.sparkContext
    val caller = Thread.currentThread.getStackTrace
      .find(f => f.getClassName.startsWith("graft.") &&
        !f.getClassName.startsWith(classOf[Materialize].getName))
      .fold("?")(f => s"${f.getFileName}:${f.getLineNumber}")
    val site = s"localCheckpoint at $caller #${Materialize.sites.incrementAndGet()}"
    val outer = sc.getLocalProperty(Materialize.CallSiteKey)
    sc.setLocalProperty(Materialize.CallSiteKey, site)
    try {
      val cp = ds.localCheckpoint(true)
      Materialize.checkpointRdd(cp).foreach(hold)
      cp
    } catch {
      case NonFatal(e) =>
        // RDD.toString is "<Class>[<id>] at <creation site>"
        sc.getPersistentRDDs.values.filter(_.toString.endsWith(s" at $site"))
          .foreach(_.unpersist(blocking = true))
        throw e
    } finally sc.setLocalProperty(Materialize.CallSiteKey, outer)
  }

  /** Free one block this scope holds: `ds` itself when it was persisted
    * here, else the checkpoint it reads (`ds` may be a projection of the
    * checkpointed frame). A block the scope does not hold is left alone. */
  def release(ds: Dataset[_], blocking: Boolean = true): Unit = {
    val owned = synchronized {
      val block = if (held.contains(ds)) Some(ds) else Materialize.checkpointRdd(ds)
      block.filter(held.remove)
    }
    owned.foreach(free(_, blocking))
  }

  override def close(): Unit = {
    val blocks = synchronized {
      closed = true
      val all = held.toList
      held.clear()
      all
    }
    blocks.foreach(free(_, blocking = true))
  }

  private def hold(block: AnyRef): Unit = {
    val late = synchronized { if (!closed) held += block; closed }
    if (late) free(block, blocking = true)
  }

  private def free(block: AnyRef, blocking: Boolean): Unit = block match {
    case ds: Dataset[_] => ds.unpersist(blocking): Unit
    case rdd: RDD[_] => rdd.unpersist(blocking): Unit
  }
}

object Materialize {

  /** run `f` in a fresh scope that closes when `f` returns or throws */
  def apply[T](f: Materialize => T): T =
    scala.util.Using.resource(new Materialize)(f)

  /** a scope nobody closes — for registry builders only; see the
    * HARNESS SCOPE contract on [[Materialize]] */
  def harness: Materialize = new Materialize

  // the thread-local property Spark reads a new RDD's creation site from
  private val CallSiteKey = "callSite.short"
  private val sites = new java.util.concurrent.atomic.AtomicLong()

  /** the RDD behind a `localCheckpoint`ed frame's `LogicalRDD` leaf */
  private def checkpointRdd(ds: Dataset[_]): Option[RDD[_]] =
    ds.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }
}
