package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

/** The session-cache registry: one build per (session, name, key) under
  * concurrent callers and a concurrent release, retry after a failed
  * build, per-session entries, single-entry eviction, and a release that
  * leaves no persisted block or served temp dir behind. */
class SessionCacheSpec extends SparkSuite {

  private def persistentIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("overlapping concurrent builds with a nested build and a concurrent releaseAll: one build per key, no deadlock") {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(12)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      SessionCache.releaseAll()
      val before = persistentIds
      val (outer, inner) = ("spec_conc_outer", "spec_conc_inner")
      val (m0Outer, m0Inner) = (SessionCache.misses(outer), SessionCache.misses(inner))
      val gate = new CountDownLatch(1)
      val callers = 8
      val arrived = new CountDownLatch(callers)
      val dirs = new ConcurrentLinkedQueue[String]()
      // two overlapping keys of the outer build; each waits at the gate,
      // then builds the inner entry (nested getOrBuild of another key),
      // a persisted frame and a localCheckpoint'ed one
      def build(k: Int): (DataFrame, DataFrame, String) = {
        gate.await()
        SessionCache.getOrBuild(spark, inner, k) {
          val d = spark.range(10 + k).toDF("id").persist()
          d.count()
          d
        }
        val p = spark.range(100 + k).toDF("id").persist()
        p.count()
        val dir = SessionCache.tempDir(spark, "spec_conc", k) { d =>
          java.nio.file.Files.writeString(java.nio.file.Paths.get(d, "a"), "x")
        }
        dirs.add(dir)
        (p, spark.range(5 + k).toDF("id").localCheckpoint(), dir)
      }
      val work = (0 until callers).map { i =>
        Future {
          arrived.countDown()
          i % 2 -> SessionCache.getOrBuild(spark, outer, i % 2)(build(i % 2))
        }
      }
      // every caller has looked its key up (two builders blocked at the
      // gate, six waiters); release the table while the builds are in
      // flight, then let them finish
      assert(arrived.await(30, TimeUnit.SECONDS))
      Thread.sleep(300)
      val release = Future(SessionCache.releaseAll())
      Thread.sleep(300)
      gate.countDown()
      val got = Await.result(Future.sequence(work), 60.seconds)
      Await.result(release, 60.seconds)

      assert(SessionCache.misses(outer) - m0Outer == 2, "an outer key was built twice")
      assert(SessionCache.misses(inner) - m0Inner == 2, "an inner key was built twice")
      got.groupBy(_._1).values.foreach { vs =>
        assert(vs.forall(_._2 eq vs.head._2), "callers of one key got different values")
      }
      // the inner entries were built after the release took the table
      assert(persistentIds.diff(before).size == 2, "inner frames not persisted")
      SessionCache.releaseAll()
      assert(persistentIds.diff(before).isEmpty,
        s"registry RDDs survived releaseAll: ${persistentIds.diff(before)}")
      assert(dirs.asScala.nonEmpty && dirs.asScala.forall(d =>
        !java.nio.file.Files.exists(java.nio.file.Paths.get(d))),
        s"served temp dirs survived releaseAll: ${dirs.asScala}")
    } finally pool.shutdownNow()
  }

  test("a failed build leaves no entry and is retried; a failed tempDir fill leaves no dir") {
    val name = "spec_fail"
    val m0 = SessionCache.misses(name)
    intercept[IllegalStateException] {
      SessionCache.getOrBuild[Int](spark, name, 1)(throw new IllegalStateException("boom"))
    }
    assert(SessionCache.getOrBuild(spark, name, 1)(42) == 42)
    assert(SessionCache.getOrBuild(spark, name, 1)(43) == 42)
    assert(SessionCache.misses(name) - m0 == 2)

    var filled: String = null
    intercept[IllegalStateException] {
      SessionCache.tempDir(spark, "spec_fail", 1) { d =>
        filled = d
        throw new IllegalStateException("fill failed")
      }
    }
    assert(filled != null && !java.nio.file.Files.exists(java.nio.file.Paths.get(filled)))
  }

  test("a newSession() gets its own entry") {
    val name = "spec_session"
    val a = SessionCache.getOrBuild(spark, name, "k")(new Object)
    val b = SessionCache.getOrBuild(spark.newSession(), name, "k")(new Object)
    assert(!(a eq b))
    assert(SessionCache.getOrBuild(spark, name, "k")(new Object) eq a)
  }

  test("evict drops exactly one entry and releases it") {
    val name = "spec_evict"
    val before = persistentIds
    def frame(k: Int): DataFrame = SessionCache.getOrBuild(spark, name, k) {
      val d = spark.range(20 + k).toDF("id").persist()
      d.count()
      d
    }
    val (one, two) = (frame(1), frame(2))
    val added = persistentIds.diff(before)
    assert(added.size == 2)
    val m0 = SessionCache.misses(name)
    SessionCache.evict(spark, name, 1)
    assert(persistentIds.diff(before).size == 1, "evict did not release exactly one frame")
    assert(frame(2) eq two)
    assert(!(frame(1) eq one))
    assert(SessionCache.misses(name) - m0 == 1)
    SessionCache.evict(spark, name, 1)
    SessionCache.evict(spark, name, 2)
    assert(persistentIds.diff(before).isEmpty)
  }

  test("releaseAll releases the IVF centroid and PQ codebook memos") {
    SessionCache.releaseAll()
    val (c0, p0) = (SessionCache.misses("ivf_centroids"), SessionCache.misses("pq_codebook"))
    def run(): Unit = {
      graft.ext.SimilarityOps.ivfTopK(spark, sf).collect()
      graft.ext.SimilarityOps.pqTopK(spark, sf).collect()
    }
    run(); run()
    SessionCache.releaseAll()
    run()
    assert(SessionCache.misses("ivf_centroids") - c0 == 2)
    assert(SessionCache.misses("pq_codebook") - p0 == 2)
  }
}
