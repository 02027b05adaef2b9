package graft

import java.util.concurrent.CompletableFuture

import scala.util.control.NonFatal

import org.apache.spark.sql.{Dataset, SparkSession}

/** The one way to memoize a session artifact: a shingle table, a trained
  * model, a served index dir, a driver-side lookup. Every entry is keyed
  * by `(session, name, key)`, built once, timed under `name` in
  * [[BuildTimers]], and released by [[releaseAll]].
  *
  * Each site keeps its own materialization: the build body persists
  * (MEMORY_AND_DISK), `localCheckpoint`s or collects exactly as it
  * would unmemoized, with its own eager count. The registry only decides
  * when a body runs and what to free.
  *
  * Concurrency: one once-cell per key. The registry lock is held only to
  * look a cell up or swap the table out, never while a build runs, so
  * callers of different keys never block each other and a build may
  * itself call [[getOrBuild]] for another key (`fastss2Pairs` builds on
  * `fastss2Index`). Callers of the same key wait for the one build. A
  * build that throws removes its cell, so the next call builds again.
  *
  * Release frees every `Dataset` inside an entry's value (tuples,
  * collections and case classes are walked): it unpersists the frame and
  * any `localCheckpoint` blocks under it, and deletes a served temp dir. A
  * release waits for a build still in flight, logs a failure once with
  * the entry's name and key, and goes on with the rest. */
object SessionCache {

  /** A served artifact's temp dir; deleted when its entry is released. */
  private final case class TempDir(path: String)

  private final case class Key(spark: SparkSession, name: String, key: Any)

  private val cells =
    scala.collection.mutable.HashMap.empty[Key, CompletableFuture[Any]]
  private val missCounts =
    scala.collection.mutable.HashMap.empty[String, Long]

  /** The value memoized under `(spark, name, key)`, running `build` under
    * `BuildTimers.timed(name)` on a miss. */
  def getOrBuild[T](spark: SparkSession, name: String, key: Any)
                   (build: => T): T = {
    val k = Key(spark, name, key)
    val mine = new CompletableFuture[Any]
    val cell = cells.synchronized {
      cells.getOrElseUpdate(k, {
        missCounts(name) = missCounts.getOrElse(name, 0L) + 1
        mine
      })
    }
    if (cell eq mine) {
      try mine.complete(BuildTimers.timed(name)(build))
      catch {
        case e: Throwable =>
          cells.synchronized(if (cells.get(k).exists(_ eq mine)) cells.remove(k))
          mine.completeExceptionally(e)
          throw e
      }
    }
    try cell.join().asInstanceOf[T]
    catch { case e: java.util.concurrent.CompletionException => throw e.getCause }
  }

  /** A session-scoped temp dir filled once by `fill`: the served faces'
    * trained-model and replayed-view artifacts. Named `served_<kind>`;
    * a failed fill deletes the dir and leaves no entry. */
  def tempDir(spark: SparkSession, kind: String, key: Any)
             (fill: String => Unit): String =
    getOrBuild(spark, s"served_$kind", key) {
      val d = java.nio.file.Files.createTempDirectory(s"graft_${kind}_").toString
      try fill(d)
      catch { case e: Throwable => deleteTree(d); throw e }
      TempDir(d)
    }.path

  /** Drop and release one entry; no-op when absent. */
  def evict(spark: SparkSession, name: String, key: Any): Unit = {
    val k = Key(spark, name, key)
    cells.synchronized(cells.remove(k)).foreach(release(k, _))
  }

  /** Drop and release every entry of every session. */
  def releaseAll(): Unit = {
    val all = cells.synchronized {
      val taken = cells.toList
      cells.clear()
      taken
    }
    all.foreach { case (k, cell) => release(k, cell) }
  }

  /** Builds run under `name` so far (failed ones included). */
  def misses(name: String): Long =
    cells.synchronized(missCounts.getOrElse(name, 0L))

  private def release(k: Key, cell: CompletableFuture[Any]): Unit = {
    // a failed build has nothing to free
    val value = cell.exceptionally(_ => null).join()
    val failures = parts(value).flatMap { p =>
      try { free(p); None }
      catch { case NonFatal(e) => Some(e) }
    }.toList
    failures.headOption.foreach { e =>
      System.err.println(s"[graft] release of ${k.name} ${k.key} failed: $e")
    }
  }

  private def parts(v: Any): Iterator[Any] = v match {
    case _: Dataset[_] | _: TempDir => Iterator.single(v)
    case p: Product => p.productIterator.flatMap(parts)
    case it: Iterable[_] => it.iterator.flatMap(parts)
    case _ => Iterator.empty
  }

  private def free(part: Any): Unit = part match {
    case ds: Dataset[_] =>
      ds.unpersist()
      org.apache.spark.sql.graftbridge.ColumnBridge.unpersistCheckpointed(ds.toDF())
    case TempDir(d) => deleteTree(d)
    case _ => ()
  }

  private def deleteTree(dir: String): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
}
