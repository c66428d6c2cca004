package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.SemanticDedupIndex

/** The one driver memo: a value is never served for inputs that changed
  * under the same path, each key computes once under concurrency, a
  * failed compute is retried, eviction is by path prefix, and the pinned
  * centroids a build writes stay a hit for the next append. */
class MemoSpec extends AnyFunSuite with SparkSpec {

  /** A private, writable copy of the sf0.01 fixture. */
  private def fixtureCopy(): Path = {
    val d = SparkSpec.tempDir("memospec")
    val src = Paths.get("/root/testdata/sf0.01")
    Files.list(src).forEach { f =>
      val t = d.resolve(f.getFileName)
      Files.copy(f, t)
      t.toFile.setWritable(true)
    }
    d
  }

  /** Shutdown hooks registered with the JVM (java.lang is add-opened). */
  private def hookCount: Int = {
    val f = Class.forName("java.lang.ApplicationShutdownHooks")
      .getDeclaredField("hooks")
    f.setAccessible(true)
    f.get(null).asInstanceOf[java.util.Map[Thread, Thread]].size
  }

  test("(a) a fixture table rewritten under the same path is recomputed: " +
       "centroids, query vector, plant offset and a memoized temp dir") {
    val dir = fixtureCopy().toString
    def centroids = AnnQueries.trainedCentroids(spark, dir, k = 8, iters = 2)
      .orderBy("cid").collect().map(_.getSeq[Double](1)).toSeq
    def memoDir = Tables.memoTempDir("memospec", dir) { target =>
      Tables.load(spark, dir, "embeddings").coalesce(1)
        .write.parquet(target)
    }
    val before = (centroids, VectorQueries.queryVec(spark, dir, 0),
      DedupQueries.plantOffset(spark, dir, "embeddings", "vec_id"))
    val dirBefore = memoDir
    val hooks = hookCount

    // rewrite embeddings.parquet IN PLACE (same inode): every vector
    // negated, plus one row with a high id that moves the plant offset
    val emb = Tables.load(spark, dir, "embeddings")
    val changed = emb
      .withColumn("embedding", transform(col("embedding"), x => -x))
      .unionByName(emb.filter(col("vec_id") === 0)
        .withColumn("vec_id", lit(150000L).cast(emb.schema("vec_id").dataType)))
    val staged = SparkSpec.tempDir("memospec_stage")
    changed.coalesce(1).write.mode("overwrite").parquet(staged.toString)
    val part = Files.list(staged).filter(_.toString.endsWith(".parquet"))
      .findFirst().get
    val target = Paths.get(dir, "embeddings.parquet")
    Files.write(target, Files.readAllBytes(part))

    val after = (centroids, VectorQueries.queryVec(spark, dir, 0),
      DedupQueries.plantOffset(spark, dir, "embeddings", "vec_id"))
    val dirAfter = memoDir
    assert(before._3 == 100000L)
    val stale = Seq(
      "trained centroids" -> (after._1 == before._1),
      "query vector" -> (after._2 != before._2.map(-_)),
      "plant offset" -> (after._3 != 150001L),
      "memoTempDir" -> (dirAfter == dirBefore)).collect { case (n, true) => n }
    assert(stale.isEmpty, s"stale after the rewrite: ${stale.mkString(", ")}")
    assert(spark.read.parquet(dirAfter).count() ==
      spark.read.parquet(dirBefore).count() + 1)
    assert(hookCount == hooks, "a memoTempDir build added a shutdown hook")

    // a replaced file (new inode) is a new input too
    Files.copy(Paths.get("/root/testdata/sf0.01/embeddings.parquet"), target,
      StandardCopyOption.REPLACE_EXISTING)
    assert(VectorQueries.queryVec(spark, dir, 0) == before._2)
    assert(memoDir != dirAfter)
  }

  test("(b) eight threads on one cold key run its compute once") {
    val runs = new AtomicInteger
    val key = java.util.UUID.randomUUID().toString
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val results = (1 to 8).map { _ =>
        pool.submit(new java.util.concurrent.Callable[String] {
          def call(): String = {
            start.await()
            Memo("memospec.single", key) {
              runs.incrementAndGet()
              Thread.sleep(200)
              key.reverse
            }
          }
        })
      }
      start.countDown()
      assert(results.map(_.get(30, TimeUnit.SECONDS)).distinct ==
        Seq(key.reverse))
    } finally pool.shutdown()
    assert(runs.get == 1)
  }

  test("(c) a compute that throws is not kept: the next call retries") {
    val runs = new AtomicInteger
    val key = java.util.UUID.randomUUID().toString
    def call() = Memo("memospec.retry", key) {
      if (runs.incrementAndGet() == 1) throw new IllegalStateException("boom")
      42
    }
    assert(intercept[IllegalStateException](call()).getMessage == "boom")
    assert(call() == 42)
    assert(call() == 42)
    assert(runs.get == 2)
  }

  test("(d) evict drops a dir and everything under it, not a sibling " +
       "sharing its name as a prefix") {
    val runs = scala.collection.mutable.Map.empty[String, Int]
    val tag = java.util.UUID.randomUUID().toString
    def read(d: String) = Memo.untilEvicted("memospec.evict", d, tag) {
      synchronized(runs(d) = runs.getOrElse(d, 0) + 1)
    }
    val dirs = Seq("a/b", "a/b/x", "a/bc")
    dirs.foreach(read)
    Memo.evict("a/b")
    dirs.foreach(read)
    assert(runs == Map("a/b" -> 2, "a/b/x" -> 2, "a/bc" -> 1))
  }

  test("(e) append after build reads no pinned centroids: no memo miss " +
       "and no more jobs than a second append") {
    val dir = SparkSpec.tempDir("memospec_sem").toString
    val corpus =
      Tables.load(spark, sf, "embeddings").select("vec_id", "embedding")
    SemanticDedupIndex.build(spark, corpus.filter(col("vec_id") % 2 === 0),
      "vec_id", "embedding", dir, AnnQueries.trainedCentroids(spark, sf, 8, 2))
    val odd = corpus.filter(col("vec_id") % 2 === 1)
    val first = Profile(spark)(SemanticDedupIndex.append(spark,
      odd.filter(col("vec_id") % 4 === 1), "embedding", dir))
    val second = Profile(spark)(SemanticDedupIndex.append(spark,
      odd.filter(col("vec_id") % 4 === 3), "embedding", dir))
    assert(first.memoMisses == 0 && second.memoMisses == 0)
    assert(first.memoHits >= 1)
    // two jobs: the shuffle that groups the new points by cell, and the
    // write; neither reads `_centroids/`
    assert(first.jobs.size <= 2 && first.jobs.size == second.jobs.size,
      s"append jobs ${first.jobs.size} then ${second.jobs.size}")
  }
}
