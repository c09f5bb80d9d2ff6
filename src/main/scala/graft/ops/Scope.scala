package graft.ops

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal
import org.apache.hadoop.fs.Path
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.storage.StorageLevel
import graft.store.Warehouse

/** The one owner of materialized intermediates. A scope is opened with
  * `Scope { body }`; every [[checkpoint]] and [[cache]] made while it
  * is the innermost scope on this thread registers its release with
  * it, and the scope runs every release when `body` returns or throws
  * (unpersist the blocks, delete the scratch dir). Scopes nest on a
  * thread-local stack, like tanker's context stack.
  *
  * Who opens scopes: [[Pipeline.run]] one per stage (a stage's
  * intermediates die once its spill is written), `View.write` /
  * `View.delete` internally, the web server one per request, the CLI
  * one per command, and the harness one per query (`Env.isolated`).
  * Ops that [[cache]] open their own scope, because they consume the
  * cached frame before they return. Ops that [[checkpoint]] and
  * return a frame built on it leave the release to the caller's scope.
  *
  * Why checkpoint instead of `persist`: mining intermediates fan out
  * into many downstream branches (posting/taint/fallback joins), and a
  * cached-but-unmaterialized plan segment gets recomputed by every
  * concurrently-scheduled consumer stage; worse, each consumer
  * carries the full nested lineage (the 128-aggregate signature
  * subplan, several joins deep), which AQE re-optimizes and the SQL
  * CacheManager re-canonicalizes per stage per lookup — measured
  * 15+ seconds of pure DRIVER time on the minhash miner at sf0.1.
  * After the checkpoint, downstream plans see one leaf.
  *
  * CLUSTER MODE — `spark.graft.scratchDir`: when set, a checkpoint
  * inside a scope materializes as parquet under that directory (write
  * + read-back) instead of `localCheckpoint`. A localCheckpoint lives
  * in executor-local block storage with NO lineage to recompute from —
  * one lost executor kills the whole mining job; the scratch table
  * survives executor loss, spills to durable storage, and is exactly
  * the "land intermediates in a real table" shape a 100-TB pipeline
  * wants. The scope deletes the dir when it closes. */
object Scope {

  private val stack = new ThreadLocal[List[ArrayBuffer[() => Unit]]] {
    override def initialValue(): List[ArrayBuffer[() => Unit]] = Nil
  }

  /** Run `body` as the innermost scope and release everything it
    * materialized, newest first, on return or throw. A failing release
    * does not stop the others. */
  def apply[T](body: => T): T = {
    val releases = ArrayBuffer[() => Unit]()
    stack.set(releases :: stack.get)
    try body
    finally {
      stack.set(stack.get.tail)
      releases.reverseIterator.foreach(r => try r() catch { case NonFatal(_) => () })
    }
  }

  private def innermost(what: String): ArrayBuffer[() => Unit] =
    stack.get.headOption.getOrElse(throw new IllegalStateException(
      s"Scope.$what outside a Scope: the cached data would never be released"))

  /** Eager, lineage-severing materialization of `df`, released by the
    * innermost scope. The job that materializes it also counts its
    * rows, so the frame carries its exact row count ([[rows]]). Outside
    * any scope it is a plain unregistered local checkpoint: Spark
    * tracks those RDDs weakly, so the ContextCleaner reclaims it once
    * the frame is unreachable. */
  def checkpoint(df: DataFrame): DataFrame = stack.get.headOption match {
    case None => Bridge.checkpoint(df, "checkpoint")(_.localCheckpoint())
    case Some(releases) =>
      val spark = df.sparkSession
      spark.conf.getOption("spark.graft.scratchDir") match {
        case Some(dir) =>
          val path = new Path(dir, s"slot-${java.util.UUID.randomUUID().toString.take(12)}")
          val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
          releases += (() => fs.delete(path, true): Unit)
          df.write.parquet(path.toString)
          // explicit schema: a zero-row intermediate writes no part
          // files, and downstream still needs the columns
          spark.read.schema(df.schema).parquet(path.toString)
        case None => Bridge.checkpoint(df, "checkpoint") { rdd =>
          releases += (() => rdd.unpersist(blocking = false): Unit)
          rdd.localCheckpoint()
        }
      }
  }

  /** The exact row count of `df`, known without a job: the count a
    * [[checkpoint]] (or a write batch's cache pass) measured, or the
    * footer rows of a plain parquet read, which a scratch-dir
    * checkpoint is. Projections keep the count; any other frame is
    * None. */
  def rows(df: DataFrame): Option[Long] =
    Bridge.measuredRows(df).orElse(Warehouse.fileReadRows(df))

  /** `persist(MEMORY_AND_DISK)`, released by the innermost scope. */
  def cache(df: DataFrame): DataFrame = {
    val releases = innermost("cache")
    val cached = df.persist(StorageLevel.MEMORY_AND_DISK)
    releases += (() => cached.unpersist(blocking = false): Unit)
    cached
  }

  /** The RDD form of [[cache]]. */
  def cache[T](rdd: RDD[T]): RDD[T] = {
    val releases = innermost("cache")
    rdd.persist(StorageLevel.MEMORY_AND_DISK)
    releases += (() => rdd.unpersist(blocking = false): Unit)
    rdd
  }
}
