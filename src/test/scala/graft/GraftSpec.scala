package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session + sf0.001 fixture dir for all suites. */
trait SparkSpec { self: AnyFunSuite =>
  lazy val spark: SparkSession = SparkTestSession.spark
  val sf: String = "/root/testdata/sf0.001"

  /** Run `body` with the router's quant size gate forced open
    * (`spark.graft.quant.scopedScanRows = 0`): the fixture sidecar is
    * under the default, so this is the only way a spec reaches the
    * prefetch chain and the scoped exact bound. */
  def quantGateOpen[T](body: => T): T = {
    spark.conf.set("spark.graft.quant.scopedScanRows", "0")
    try body finally spark.conf.unset("spark.graft.quant.scopedScanRows")
  }

  /** Spark jobs `body` ran: a job group around it, then the listener bus
    * drained, so the status store has seen every job it started — an
    * exact count, zero included, with no settle-polling. */
  def jobsIn(body: => Any): Int = {
    val sc = spark.sparkContext
    val group = s"spec-jobs-${System.nanoTime()}"
    sc.setJobGroup(group, group)
    try body finally sc.clearJobGroup()
    org.apache.spark.sql.GraftSqlBridge.waitUntilEmpty(sc)
    sc.statusTracker.getJobIdsForGroup(group).length
  }
}

object SparkSpec {
  /** The JVM's one spec temp root; a single shutdown hook removes it,
    * with everything [[tempDir]] made under it. */
  private lazy val root: Path = {
    val r = Files.createTempDirectory("graft-spec-")
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteTree(r)))
    r
  }

  /** A fresh temp dir for one spec, removed when the JVM exits. */
  def tempDir(prefix: String): Path = Files.createTempDirectory(root, prefix)

  /** Depth-first delete that does not follow symlinks; best effort. */
  private def deleteTree(p: Path): Unit = {
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach { f =>
      try Files.deleteIfExists(f)
      catch { case _: java.io.IOException => }
    }
    finally walk.close()
  }
}

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      // the production cluster-wide wiring: functions + optimizer rule
      // injected by class name, so EVERY suite runs with the injected
      // RangeJoinRule active (a soak test of its tight scope) and
      // ExtensionsSpec can assert the real classloading path on a
      // fresh session (the extension list is read from the
      // SparkContext's conf, so it must be set when the context is
      // CREATED — a builder option on a later session is ignored)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

class RegistrySpec extends AnyFunSuite with SparkSpec {
  test("entry smoke: >0 rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
  test("every oracleSql key has a queries entry") {
    val qs = SparkEntry.queries.keySet
    assert(SparkEntry.oracleSql.keySet.subsetOf(qs))
  }
  /** Queries whose correct sf0.001 answer is legitimately empty (e.g. the
    * anti-join finds no customer without orders at tiny SF). */
  private val mayBeEmpty = Set("q_cust_no_orders", "dedup_simhash")

  test("every declared query runs at sf0.001 (>0 rows unless whitelisted)") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      if (!mayBeEmpty(name))
        assert(n > 0, s"query $name returned 0 rows")
    }
  }
}

class VectorOpsSpec extends AnyFunSuite with SparkSpec {
  import graft.functions.VectorOps._
  import org.apache.spark.sql.functions._

  test("cosine self-similarity is 1, bounds hold, symmetric") {
    val emb = Tables.load(spark, sf, "embeddings").limit(50).cache()
    val selfSim = emb.select(cosine(col("embedding"), col("embedding")).as("s"))
      .collect().map(_.getDouble(0))
    assert(selfSim.forall(s => math.abs(s - 1.0) < 1e-9))
    val a = emb.select(col("embedding").as("va"), col("vec_id").as("ia"))
    val b = emb.select(col("embedding").as("vb"), col("vec_id").as("ib"))
    val pairs = a.crossJoin(b)
      .select(cosine(col("va"), col("vb")).as("ab"),
              cosine(col("vb"), col("va")).as("ba")).collect()
    assert(pairs.forall(r => r.getDouble(0) >= -1.0 - 1e-9 && r.getDouble(0) <= 1.0 + 1e-9))
    assert(pairs.forall(r => math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12))
  }

  test("topk(k) is a prefix of topk(k+1)") {
    val emb = Tables.load(spark, sf, "embeddings")
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    val k5 = graft.operators.Knn.knn(emb, "embedding", q, 5)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    val k6 = graft.operators.Knn.knn(emb, "embedding", q, 6)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(k6.take(5) == k5)
  }

  test("native codegen expressions are BIT-identical to the HOF forms") {
    val emb = Tables.load(spark, sf, "embeddings").limit(100)
    val q = emb.filter(col("vec_id") === 1)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    val both = emb.select(
      cosine(col("embedding"), typedLit(q)).as("nc"),
      hofCosine(col("embedding"), typedLit(q)).as("hc"),
      dot(col("embedding"), typedLit(q)).as("nd"),
      hofDot(col("embedding"), typedLit(q)).as("hd"),
      l2(col("embedding"), typedLit(q)).as("nl"),
      hofL2(col("embedding"), typedLit(q)).as("hl"),
      l1(col("embedding"), typedLit(q)).as("nm"),
      hofL1(col("embedding"), typedLit(q)).as("hm")).collect()
    both.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
             java.lang.Double.doubleToLongBits(r.getDouble(1)), "cosine")
      assert(java.lang.Double.doubleToLongBits(r.getDouble(2)) ==
             java.lang.Double.doubleToLongBits(r.getDouble(3)), "dot")
      assert(java.lang.Double.doubleToLongBits(r.getDouble(4)) ==
             java.lang.Double.doubleToLongBits(r.getDouble(5)), "l2")
      assert(java.lang.Double.doubleToLongBits(r.getDouble(6)) ==
             java.lang.Double.doubleToLongBits(r.getDouble(7)), "l1")
    }
  }

  test("partial named vectors: blendPartial skips a missing side " +
       "(renormalized), never zeroes it; all-missing yields NULL") {
    import spark.implicits._
    // scores are shifted micro-ints (the query contract): 1.5e6 ≈ cos 0.5
    val pts = Seq(
      (1L, Some(1500000L), Some(900000L)), // both sides
      (2L, Some(1500000L), None),          // text-only
      (3L, None, Some(900000L)),           // image-only
      (4L, None, None))                    // in neither queried space
      .toDF("id", "ts", "is")
    val out = pts.withColumn("s", graft.operators.Fusion.blendPartial(
        Seq((col("ts"), 700L), (col("is"), 300L))))
      .orderBy("id").collect()
    // both: (1.5e6·700 + 0.9e6·300) / 1000
    assert(out(0).getLong(3) == (1500000L * 700 + 900000L * 300) / 1000)
    // text-only: EXACTLY the text score — weight renormalizes to 700/700;
    // a zeroing implementation would emit 1.05e6 and misrank this point
    assert(out(1).getLong(3) == 1500000L)
    assert(out(2).getLong(3) == 900000L)
    assert(out(3).isNullAt(3), "a point with no queried vector must be " +
      "NULL (not returned), not scored 0")
  }

  test("heap-aggregate topk == window-rank topk (same rows, same order)") {
    val emb = Tables.load(spark, sf, "embeddings")
    val qs = emb.filter(col("vec_id") < 7)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val win = graft.operators.Knn.knnMulti(emb, qs, "embedding", "qid", "qv", 5)
      .select("query_id", "vec_id", "score", "rnk")
      .orderBy("query_id", "rnk").collect().toSeq
    val agg = graft.operators.Knn.knnMultiAgg(emb, qs, "embedding", "qid", "qv", 5)
      .select("query_id", "vec_id", "score", "rnk")
      .orderBy("query_id", "rnk").collect().toSeq
    assert(win == agg)
  }

  test("NULL semantics match HOF: length mismatch and null elements → NULL") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq[java.lang.Double](1.0, 2.0), Seq[java.lang.Double](1.0, 2.0)),
      (2L, Seq[java.lang.Double](1.0, 2.0), Seq[java.lang.Double](1.0)),
      (3L, Seq[java.lang.Double](1.0, null), Seq[java.lang.Double](1.0, 2.0)))
      .toDF("id", "a", "b")
    val out = df.select(col("id"),
      cosine(col("a"), col("b")).as("nc"),
      hofCosine(col("a"), col("b")).as("hc"),
      dot(col("a"), col("b")).as("nd"),
      hofDot(col("a"), col("b")).as("hd")).orderBy("id").collect()
    // row 1: both defined and equal
    assert(!out(0).isNullAt(1) && !out(0).isNullAt(2))
    // rows 2 (length mismatch) and 3 (null element): both engines NULL
    Seq(1, 2).foreach { r =>
      assert(out(r).isNullAt(1) && out(r).isNullAt(2), s"cosine row $r")
      assert(out(r).isNullAt(3) && out(r).isNullAt(4), s"dot row $r")
    }
  }

  test("heap topk ranks NaN scores exactly like the window form") {
    import spark.implicits._
    // zero vector → cosine NaN; both physical forms must rank it the same
    val rows = Seq((0L, Seq(0.0, 0.0)), (1L, Seq(1.0, 0.0)),
      (2L, Seq(0.0, 1.0)), (3L, Seq(1.0, 1.0)), (4L, Seq(-1.0, 0.0)))
      .toDF("vec_id", "embedding")
    val qs = Seq((100L, Seq(1.0, 0.0))).toDF("qid", "qv")
    val win = graft.operators.Knn.knnMulti(rows, qs, "embedding", "qid", "qv", 3)
      .select("query_id", "vec_id", "rnk").orderBy("rnk").collect().toSeq
    val agg = graft.operators.Knn.knnMultiAgg(rows, qs, "embedding", "qid", "qv", 3)
      .select("query_id", "vec_id", "rnk").orderBy("rnk").collect().toSeq
    assert(win == agg)
    assert(win.head.getLong(1) == 0L) // NaN sorts first under desc in Spark
  }

  test("l2 of identical vectors is 0") {
    val emb = Tables.load(spark, sf, "embeddings").limit(10)
    val d = emb.select(l2(col("embedding"), col("embedding")).as("d"))
      .collect().map(_.getDouble(0))
    assert(d.forall(_ == 0.0))
  }
}
