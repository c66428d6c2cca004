package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorOps
import graft.operators.Ann
import graft.sources.SemanticDedupIndex

/** The persisted SemDeDup cell index (semantic dedup's serving layout):
  * probe-twin bit-equality, literal-cell pruning, delivery serving equal
  * to recompute-from-scratch, pinned-artifact append maintenance through
  * the ServedReads memo, the broadcast downgrade, and the loud-failure
  * contracts — the [[DedupIndexSpec]] discipline on the semantic twin. */
class SemanticDedupIndexSpec extends AnyFunSuite with SparkSpec {

  private def tmp(tag: String): String =
    SparkSpec.tempDir(s"graft_spec_$tag").toString

  private def corpus: DataFrame = Tables.load(spark, sf, "embeddings")
    .select("vec_id", "embedding")

  private def cents: DataFrame = AnnQueries.trainedCentroids(spark, sf, 8, 2)

  private def builtDir(tag: String): String = {
    val dir = tmp(tag)
    SemanticDedupIndex.build(spark, corpus, "vec_id", "embedding", dir,
      cents)
    dir
  }

  private def vecOf(id: Long): Seq[Double] =
    corpus.filter(col("vec_id") === id)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0)

  test("probeCell is bit-identical to the distributed argmin assignment " +
       "on fixture vectors and their perturbations (the zero-job probe " +
       "twin's contract), and the fused ArgminCellExpr kernel matches " +
       "both") {
    val dir = builtDir("semtwin")
    val pts = corpus.orderBy("vec_id").limit(40)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val distributed = pts
      .join(Ann.argminAssign(pts, "vec_id", "v", cents, "cid", "cv"),
        "vec_id")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(2), r.getSeq[Double](1))).toMap
    // the fused in-row kernel (the serving/build assignment since the
    // 1000×-probe fix) agrees with the broadcast-crossjoin HOF chain
    val local = cents.collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
      .sortBy(_._1)
    val fused = pts.select(col("vec_id"),
        org.apache.spark.sql.GraftSqlBridge.column(
          graft.functions.ArgminCellExpr(
            org.apache.spark.sql.GraftSqlBridge.expression(col("v")),
            local.map(_._2).toSeq, local.map(_._1).toSeq)).as("cluster"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fused == distributed.map { case (id, (c, _)) => id -> c },
      "fused argmin kernel diverges from the argminAssign chain")
    distributed.foreach { case (id, (cluster, v)) =>
      assert(SemanticDedupIndex.probeCell(spark, dir, v) == cluster,
        s"vec $id: local cell != distributed assignment $cluster")
      val perturbed = (v.head + 0.25) +: v.tail
      import spark.implicits._
      val viaSpark = Ann.argminAssign(
        Seq((0L, perturbed)).toDF("vec_id", "v"),
        "vec_id", "v", cents, "cid", "cv")
        .head().getLong(1)
      assert(SemanticDedupIndex.probeCell(spark, dir, perturbed) == viaSpark,
        s"perturbed vec $id: local cell != distributed $viaSpark")
    }
  }

  test("build → lookup: exact copy scores 1000000, near copy ≥ 900000, " +
       "a novel (negated) vector matches nothing") {
    val dir = builtDir("semlookup")
    val v1 = vecOf(1L)
    val exact = SemanticDedupIndex.lookup(spark, dir, v1, 900000L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(exact.get(1L).contains(1000000L), s"exact probe got $exact")
    val near = SemanticDedupIndex.lookup(spark, dir,
      (v1.head + 0.25) +: v1.tail, 900000L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(near.contains(1L) && near(1L) >= 900000L && near(1L) < 1000000L,
      s"near probe got $near")
    assert(SemanticDedupIndex.lookup(spark, dir, v1.map(-_), 900000L)
      .isEmpty, "negated probe matched the corpus")
  }

  test("lookup is served with a literal cluster PartitionFilter — one " +
       "cell dir read out of k") {
    val dir = builtDir("semprune")
    val probe = vecOf(1L)
    val read = SemanticDedupIndex.lookup(spark, dir, probe, 900000L)
    val plan = read.queryExecution.executedPlan.toString
    val pf = plan.split("PartitionFilters: ").lift(1)
      .map(_.takeWhile(_ != '\n'))
      .getOrElse(fail("no PartitionFilters in lookup plan"))
    assert(pf.contains("cluster"), s"probe cell not in PartitionFilters: $pf")
    // numFiles is measured on the scan stage alone (the DedupIndexSpec
    // discipline: the serving verb's distinct wraps the plan in AQE,
    // which hides leaf metrics; pruning happens at the scan either way)
    val cell = SemanticDedupIndex.probeCell(spark, dir, probe)
    val scan = graft.sources.ServedReads.of(spark, dir)
      .filter(col("cluster") === cell)
    scan.queryExecution.toRdd.foreach(_ => ())
    val numFiles = scan.queryExecution.executedPlan.collectLeaves()
      .flatMap(_.metrics.get("numFiles").map(_.value)).sum
    // the build repartitions on the partition key → one file per cell;
    // the probe touches exactly one cell
    assert(numFiles == 1,
      s"probe read $numFiles files — pruning to the probe cell failed")
  }

  test("pairsAgainst equals recompute-from-scratch assignment on both " +
       "sides (the index changes WHERE cells come from, never WHICH), " +
       "is a broadcast join building the delivery, and prunes the index " +
       "read to the delivery's cells") {
    val dir = builtDir("sempairs")
    val delivery = DedupQueries.semanticDelivery(spark, sf)
    val pairs = SemanticDedupIndex.pairsAgainst(spark, dir, delivery,
      "vec_id", "v", 900000L)
    val plan = pairs.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("BuildRight"),
      "delivery-vs-index join is not a broadcast hash join building the " +
        "delivery")
    val pf = plan.split("PartitionFilters: ").lift(1)
      .map(_.takeWhile(_ != '\n')).getOrElse("")
    assert(pf.contains("cluster"),
      s"index read not pruned by the delivery's cells: $pf")
    val viaIndex = pairs.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // scratch: assign corpus and delivery independently with the same
    // centroids, join on the cell, score, threshold
    val c = corpus
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val casg = c.join(Ann.argminAssign(c, "vec_id", "v", cents,
      "cid", "cv"), "vec_id")
    val dasg = delivery.join(Ann.argminAssign(delivery, "vec_id", "v",
      cents, "cid", "cv"), "vec_id")
    val scratch = dasg.select(col("cluster"), col("vec_id").as("d"),
        col("v").as("dv"))
      .join(casg.select(col("cluster"), col("vec_id").as("c"),
        col("v").as("cv2")), Seq("cluster"))
      .withColumn("score_micro",
        floor(VectorOps.cosine(col("cv2"), col("dv")) * 1e6 + lit(0.5))
          .cast("long"))
      .filter(col("score_micro") >= 900000L)
      .select(col("d"), col("c"), col("score_micro"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaIndex == scratch)
    assert(viaIndex.nonEmpty)
  }

  test("oversized delivery: past the broadcast bound pairsAgainst " +
       "downgrades to a shuffle join with identical rows") {
    val dir = builtDir("semoversz")
    val delivery = DedupQueries.semanticDelivery(spark, sf)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val small = SemanticDedupIndex.pairsAgainst(spark, dir, delivery,
        "vec_id", "v", 900000L)
      assert(small.queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin"),
        "in-bound delivery lost its deterministic broadcast hint")
      val smallRows = small.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      spark.conf.set("graft.dedup.semanticBroadcastMaxRows", "0")
      try {
        val big = SemanticDedupIndex.pairsAgainst(spark, dir, delivery,
          "vec_id", "v", 900000L)
        assert(!big.queryExecution.executedPlan.toString
          .contains("BroadcastHashJoin"),
          "row bound did not downgrade the broadcast")
        assert(big.collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
          == smallRows)
      } finally spark.conf.unset("graft.dedup.semanticBroadcastMaxRows")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("append assigns only the new points under the PINNED centroids " +
       "and the memoized serving read sees them (eviction contract); " +
       "the appended layout equals a from-scratch build over the union") {
    val dir = tmp("semappend")
    val first = corpus.filter(col("vec_id") % 2 === 0)
    val second = corpus.filter(col("vec_id") % 2 === 1)
    SemanticDedupIndex.build(spark, first, "vec_id", "embedding", dir, cents)
    val probeId = second.agg(min("vec_id")).head().getLong(0)
    val probe = vecOf(probeId)
    // warm the memo BEFORE the append — this lookup must miss
    assert(SemanticDedupIndex.lookup(spark, dir, probe, 999999L).isEmpty)
    SemanticDedupIndex.append(spark, second, "embedding", dir)
    val got = SemanticDedupIndex.lookup(spark, dir, probe, 999999L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.get(probeId).contains(1000000L), s"append+lookup got $got")
    // layout equality: append under pinned artifacts == one full build
    val full = tmp("semappend_full")
    SemanticDedupIndex.build(spark, corpus, "vec_id", "embedding", full,
      cents)
    def rows(d: String): Set[(Long, Long)] = spark.read.parquet(d)
      .select(col("vec_id"), col("cluster").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows(dir) == rows(full),
      "appended layout diverged from the from-scratch build")
    assert(SemanticDedupIndex.geometry(dir) ==
      SemanticDedupIndex.geometry(full))
  }

  test("gateAppend: per-batch semantic dedup-before-store — corpus and " +
       "within-batch rejects, the gated layout equals a rebuild over " +
       "corpus + kept, replay fence, crash-window duplicates count " +
       "once, fence and pinned artifacts survive compact") {
    import spark.implicits._
    val dir = tmp("semgate")
    val base = corpus.filter(col("vec_id").isin(1L, 2L))
    SemanticDedupIndex.build(spark, base, "vec_id", "embedding", dir, cents)
    val (v1, v3, v4, v5) = (vecOf(1L), vecOf(3L), vecOf(4L), vecOf(5L))
    def nearCopy(v: Seq[Double]): Seq[Double] = (v.head + 1e-4) +: v.tail
    // batch 1: near-copy of corpus 1 → reject; novel 103/104 → keep;
    // 105 = near-copy of 103 → within-batch loser (keep-lowest)
    val b1 = Seq((101L, nearCopy(v1)), (103L, v3), (104L, v4),
      (105L, nearCopy(v3))).toDF("vec_id", "embedding")
    val kept1 = SemanticDedupIndex.gateAppend(spark, dir, b1, "vec_id",
      "embedding", 900000L, Some(1L))
    assert(kept1.collect().map(_.getLong(0)).toSet == Set(103L, 104L))
    // batch 2: near-copy of a point kept in batch 1 → reject (the gate
    // dedups against survivors too); novel 206 → keep
    val b2 = Seq((203L, nearCopy(v3)), (206L, v5))
      .toDF("vec_id", "embedding")
    val kept2 = SemanticDedupIndex.gateAppend(spark, dir, b2, "vec_id",
      "embedding", 900000L, Some(2L))
    assert(kept2.collect().map(_.getLong(0)).toSet == Set(206L))
    // the per-batch-equals-rebuild law: gated layout == one build over
    // corpus + all kept points (same pinned artifacts)
    val full = tmp("semgate_full")
    SemanticDedupIndex.build(spark,
      base.unionAll(Seq((103L, v3), (104L, v4), (206L, v5))
        .toDF("vec_id", "embedding")),
      "vec_id", "embedding", full, cents)
    def rows(d: String): Set[(Long, Long)] = spark.read.parquet(d)
      .select(col("vec_id"), col("cluster").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows(dir) == rows(full), "gated layout diverged from rebuild")
    // replay: committed marker short-circuits — empty, rows unchanged
    def count(): Long = spark.read.parquet(dir).count()
    val n1 = count()
    assert(SemanticDedupIndex.gateAppend(spark, dir, b1, "vec_id",
      "embedding", 900000L, Some(1L)).isEmpty && count() == n1)
    // crash window: the append landed but the marker didn't — re-append
    // the SAME kept rows; serving must still count each point once
    SemanticDedupIndex.append(spark,
      Seq((103L, v3), (104L, v4)).toDF("vec_id", "embedding"),
      "embedding", dir)
    assert(count() == n1 + 2, "duplicate append did not duplicate rows")
    val hit = SemanticDedupIndex.lookup(spark, dir, v3, 999999L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hit == Map(103L -> 1000000L),
      s"duplicate rows leaked into serving: $hit")
    val pairs = SemanticDedupIndex.pairsAgainst(spark, dir,
        Seq((900L, v3)).toDF("vec_id", "embedding"), "vec_id", "embedding",
        999999L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs == Seq((900L, 103L)),
      s"duplicate rows leaked into pairsAgainst: $pairs")
    // compact: one file per cell again, rows byte-identical, pinned
    // artifacts + replay fence travel with the new generation
    val before = rows(dir)
    SemanticDedupIndex.compact(spark, dir)
    assert(count() == n1 + 2 && rows(dir) == before,
      "compact changed index rows")
    assert(SemanticDedupIndex.gateAppend(spark, dir, b1, "vec_id",
      "embedding", 900000L, Some(1L)).isEmpty,
      "replay fence lost across compact")
    assert(SemanticDedupIndex.lookup(spark, dir, v3, 999999L).collect()
      .nonEmpty, "pinned centroids lost across compact")
  }

  test("lookupMulti: each probe's rows equal its single-lookup serving; " +
       "one scan serves the whole batch (job budget flat across batch " +
       "sizes); loud bound, duplicate ids and dimension mismatch") {
    val dir = builtDir("semmulti")
    val probes = corpus.orderBy("vec_id").limit(3)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map { r =>
        val v = r.getSeq[Double](1)
        (r.getLong(0), (v.head + 0.25) +: v.tail)
      }.toSeq
    val batched = SemanticDedupIndex.lookupMulti(spark, dir, probes,
        900000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val single = probes.flatMap { case (pid, v) =>
      SemanticDedupIndex.lookup(spark, dir, v, 900000L).collect()
        .map(r => (pid, r.getLong(0), r.getLong(1)))
    }.toSet
    assert(batched == single,
      "batched probes diverge from single-probe serving")
    assert(batched.nonEmpty)
    // the queryPointsMulti job-budget law: a doubled batch runs the
    // SAME jobs — one pruned scan + the fixed broadcast stages
    def jobsFor(ps: Seq[(Long, Seq[Double])]): Int =
      jobsIn(SemanticDedupIndex.lookupMulti(spark, dir, ps, 900000L)
        .queryExecution.toRdd.foreach(_ => ()))
    val probes6 = probes ++ probes.map { case (pid, v) =>
      (pid + 500000L, v.map(-_)) }
    val (j3, j6) = (jobsFor(probes), jobsFor(probes6))
    assert(j3 == j6, s"job budget grew with the batch: $j3 -> $j6")
    intercept[IllegalArgumentException] {
      SemanticDedupIndex.lookupMulti(spark, dir,
        (0 to graft.operators.Knn.MaxBatchQueries)
          .map(i => (i.toLong, probes.head._2)), 900000L)
    }
    intercept[IllegalArgumentException] {
      SemanticDedupIndex.lookupMulti(spark, dir,
        Seq((1L, probes.head._2), (1L, probes.head._2)), 900000L)
    }
    intercept[IllegalArgumentException] {
      SemanticDedupIndex.lookupMulti(spark, dir, Seq((1L, Seq(1.0, 2.0))),
        900000L)
    }
  }

  test("drift maintenance: the signal is exactly 1.0 on unchanged data, " +
       "fires on a scaled-permutation append, staged retrain restores " +
       "it, the retrained layout equals a fresh build with identically-" +
       "trained artifacts, and the replay fence survives the swap") {
    import spark.implicits._
    val dir = tmp("semdrift")
    val emb = corpus.limit(300)
    SemanticDedupIndex.build(spark, emb, "vec_id", "embedding", dir,
      Ann.kmeansFit(emb, "vec_id", "embedding", k = 8, iters = 2))
    SemanticDedupIndex.snapshotDrift(spark, dir)
    assert(SemanticDedupIndex.driftRatio(spark, dir) == 1.0,
      "signal not exactly 1.0 on unchanged data")
    // ONE-CALL maintenance below threshold: a no-op that leaves every
    // layout byte untouched (no file added, removed, resized or
    // rewritten)
    def fileState(d: String): Map[String, (Long, Long)] = {
      val root = java.nio.file.Paths.get(d)
      val s = java.nio.file.Files.walk(root)
      try s.filter(java.nio.file.Files.isRegularFile(_)).toArray
        .map(_.asInstanceOf[java.nio.file.Path])
        .map(p => root.relativize(p).toString ->
          (java.nio.file.Files.size(p),
            java.nio.file.Files.getLastModifiedTime(p).toMillis))
        .toMap
      finally s.close()
    }
    val st0 = fileState(dir)
    val m0 = SemanticDedupIndex.maintain(spark, dir,
      pts => Ann.kmeansFit(pts, "vec_id", "v", k = 8, iters = 2))
    assert(m0 == graft.sources.Drift.MaintainResult(1.0,
      retrained = false), s"no-drift maintain was not a no-op: $m0")
    assert(fileState(dir) == st0, "no-op maintain touched the layout")
    // a gated batch BEFORE the maintenance: its replay fence must
    // survive the retrain swap
    val novel = vecOf(1L).map(-_)
    val keptGate = SemanticDedupIndex.gateAppend(spark, dir,
      Seq((9001L, novel)).toDF("vec_id", "embedding"),
      "vec_id", "embedding", 900000L, Some(5L))
    assert(keptGate.collect().map(_.getLong(0)).toSeq == Seq(9001L))
    // the CollectionsSpec distribution shift: appended re-embedded
    // content (dims rolled by 17, scaled 2.5×) — cosine neighborhoods
    // preserved, pinned cells scrambled, distances grown
    val shifted = emb
      .select((col("vec_id") + 10000L).as("vec_id"),
        transform(concat(
          slice(col("embedding").cast("array<double>"), 18, 47),
          slice(col("embedding").cast("array<double>"), 1, 17)),
          x => x * 2.5).as("embedding"))
    SemanticDedupIndex.append(spark, shifted, "embedding", dir)
    val fired = SemanticDedupIndex.driftRatio(spark, dir)
    assert(fired > 1.1,
      s"drift signal $fired did not rise on a distribution shift")
    // ONE-CALL maintenance past threshold: fires, runs the same staged
    // retrain with the ORIGINAL trainer on the CURRENT contents
    val m1 = SemanticDedupIndex.maintain(spark, dir,
      pts => Ann.kmeansFit(pts, "vec_id", "v", k = 8, iters = 2))
    assert(m1.retrained && m1.ratio == fired,
      s"maintain did not fire on the measured signal: $m1 vs $fired")
    assert(SemanticDedupIndex.driftRatio(spark, dir) == 1.0,
      "retrain did not restore the signal baseline")
    // retrained layout == fresh build with identically-trained artifacts
    def rows(d: String): Set[(Long, Long)] = spark.read.parquet(d)
      .select(col("vec_id"), col("cluster").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pts2 = spark.read.parquet(dir)
      .select(col("vec_id"), col("v")).distinct()
    val fresh = tmp("semdrift_fresh")
    SemanticDedupIndex.build(spark, pts2, "vec_id", "v", fresh,
      Ann.kmeansFit(pts2, "vec_id", "v", k = 8, iters = 2))
    assert(rows(dir) == rows(fresh),
      "retrained layout diverged from a fresh identically-trained build")
    // the fence traveled with the swap: the committed batch stays fenced
    assert(SemanticDedupIndex.gateAppend(spark, dir,
      Seq((9001L, novel)).toDF("vec_id", "embedding"),
      "vec_id", "embedding", 900000L, Some(5L)).isEmpty,
      "replay fence lost across retrain")
  }

  test("loud failures: reserved column, missing pinned id column on " +
       "append, probe dimension mismatch") {
    val dir = builtDir("semloud")
    intercept[IllegalArgumentException] {
      SemanticDedupIndex.build(spark,
        corpus.withColumn("cluster", lit(1)), "vec_id", "embedding",
        tmp("semloud2"), cents)
    }
    intercept[IllegalArgumentException] {
      SemanticDedupIndex.append(spark,
        corpus.withColumnRenamed("vec_id", "other_id"), "embedding", dir)
    }
    intercept[IllegalArgumentException] {
      SemanticDedupIndex.lookup(spark, dir, Seq(1.0, 2.0), 900000L)
    }
    // a wrong-dimension vector fails LOUDLY in the first job that
    // touches it (the raise_error null-cell guard) — never a silent
    // null-partition write or a downstream driver NPE
    import spark.implicits._
    val short = Seq((7777L, Seq(1.0, 2.0, 3.0))).toDF("vec_id", "embedding")
    val eAppend = intercept[Exception] {
      SemanticDedupIndex.append(spark, short, "embedding", dir)
    }
    assert(eAppend.getMessage != null)
    val ePairs = intercept[Exception] {
      SemanticDedupIndex.pairsAgainst(spark, dir, short, "vec_id",
        "embedding", 900000L).collect()
    }
    assert(ePairs.getMessage != null)
    // an id column colliding with the stored-norm column is rejected
    intercept[IllegalArgumentException] {
      SemanticDedupIndex.build(spark,
        corpus.withColumnRenamed("vec_id", "norm"), "norm", "embedding",
        tmp("semloud3"), cents)
    }
  }
}
