package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup
import graft.sources.DedupIndex

/** The persisted MinHash band index (incremental dedup's serving layout):
  * probe-twin bit-equality, the two serving verbs' plans and results,
  * append maintenance through the ServedReads memo, pinned geometry, and
  * the loud-failure contracts. */
class DedupIndexSpec extends AnyFunSuite with SparkSpec {

  private def docs(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private def tmp(tag: String): String =
    SparkSpec.tempDir(s"graft_spec_$tag").toString

  test("minhashLocal is bit-identical to the fused compiled kernel on " +
       "fixture documents (the zero-job probe twin's contract)") {
    val d = Tables.load(spark, sf, "documents")
      .select("doc_id", "text").orderBy("doc_id").limit(40)
    val viaSpark = Dedup.lshBandsFused(d, "doc_id", "text", 16, 3, 4)
      .select("doc_id", "band", "band_sig")
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getString(2))
      .toMap
    val g = DedupIndex.Geometry("doc_id", 16, 3, 4, 16)
    d.collect().foreach { r =>
      val id = r.getLong(0)
      DedupIndex.probeBands(r.getString(1), g).foreach {
        case (band, _, sig) =>
          assert(viaSpark((id, band)) == sig,
            s"doc $id band $band: local $sig != kernel ${viaSpark((id, band))}")
      }
    }
  }

  test("build → lookup: exact copy collides in all bands, near copy in " +
       "≥ 1, novel text in none") {
    val dir = tmp("lookup")
    val corpus = docs(
      1L -> "the quick brown fox jumps over the lazy dog near the river bank",
      2L -> "spark shuffles are expensive so broadcast the small side always",
      3L -> "a completely different document about distributed query engines")
    DedupIndex.build(corpus, "doc_id", "text", dir)
    val exact = DedupIndex.lookup(spark, dir,
      "the quick brown fox jumps over the lazy dog near the river bank")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(exact == Map(1L -> 4L), s"exact probe got $exact")
    val near = DedupIndex.lookup(spark, dir,
      "the quick brown fox jumps over the lazy dog near the river bank tail")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(near.keySet == Set(1L) && near(1L) >= 1L, s"near probe got $near")
    assert(DedupIndex.lookup(spark, dir,
      "entirely novel content sharing no shingle with anything stored here")
      .isEmpty)
  }

  test("lookup is served with literal (band, sbucket) PartitionFilters " +
       "and the band_sig equality pushed to parquet") {
    val dir = tmp("prune")
    DedupIndex.build(Tables.load(spark, sf, "documents")
      .select("doc_id", "text"), "doc_id", "text", dir)
    val probe = Tables.load(spark, sf, "documents")
      .orderBy("doc_id").select("text").limit(1).head().getString(0)
    val read = DedupIndex.lookup(spark, dir, probe)
    val plan = read.queryExecution.executedPlan.toString
    val pf = plan.split("PartitionFilters: ").lift(1).map(_.takeWhile(_ != '\n'))
      .getOrElse(fail("no PartitionFilters in lookup plan"))
    assert(pf.contains("band") && pf.contains("sbucket"),
      s"probe cells not in PartitionFilters: $pf")
    assert(plan.contains("PushedFilters") && plan.contains("EqualTo(band_sig"),
      "band_sig equality not pushed to the parquet scan")
    // 4 bands × 16 sbuckets in the layout, one file per cell (the build
    // repartitions on the partition key); the probe touches exactly
    // `bands` cells. numFiles is measured on the scan stage alone (the
    // same served read + probe predicate, no aggregate) — the lookup's
    // groupBy wraps the plan in AQE, which hides leaf metrics; pruning
    // happens at the scan either way.
    val scan = graft.sources.ServedReads.of(spark, dir)
      .filter(DedupIndex.probeBands(probe, DedupIndex.geometry(dir))
        .map { case (b, s, sig) =>
          col("band") === b && col("sbucket") === s && col("band_sig") === sig
        }.reduce(_ || _))
    scan.queryExecution.toRdd.foreach(_ => ())
    val numFiles = scan.queryExecution.executedPlan.collectLeaves()
      .flatMap(_.metrics.get("numFiles").map(_.value)).sum
    assert(numFiles > 0 && numFiles <= 4,
      s"probe read $numFiles files — pruning to the 4 probe cells failed")
  }

  test("pairsAgainst: broadcast hash join with the shard side built — " +
       "the index never shuffles — and the index read pruned to the " +
       "shard's bucket combos") {
    val dir = tmp("pairs")
    DedupIndex.build(Tables.load(spark, sf, "documents")
      .select("doc_id", "text"), "doc_id", "text", dir)
    val shard = Tables.load(spark, sf, "documents")
      .select("doc_id", "text").orderBy("doc_id").limit(3)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val pairs = DedupIndex.pairsAgainst(spark, dir, shard, "doc_id", "text")
    val plan = pairs.queryExecution.executedPlan.toString
    // pruned.join(broadcast(sb)) builds RIGHT: the shard is the build
    // side and the index layout streams — never shuffles, never builds
    assert(plan.contains("BroadcastHashJoin") && plan.contains("BuildRight"),
      "shard-vs-index join is not a broadcast hash join building the shard")
    val pf = plan.split("PartitionFilters: ").lift(1)
      .map(_.takeWhile(_ != '\n')).getOrElse("")
    assert(pf.contains("band"),
      s"index read not pruned by the shard's combos: $pf")
    // 3 exact copies → each pairs AT LEAST with its original (fixture
    // texts can legitimately share a band with other corpus docs — the
    // md5-deterministic chance collisions the verify stage of a real
    // pipeline would filter; the oracle-gated key replays them exactly)
    val ids = Tables.load(spark, sf, "documents")
      .orderBy("doc_id").select("doc_id").limit(3)
      .collect().map(_.getLong(0)).toSet
    val got = pairs.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ids.map(id => (id + 1000000L, id)).subsetOf(got),
      s"self pairs missing from $got")
    assert(got.forall { case (s0, _) => ids.contains(s0 - 1000000L) })
  }

  test("oversized delivery: past the broadcast bound pairsAgainst " +
       "downgrades to a shuffle join with identical rows (the plan " +
       "decision never changes WHAT is served)") {
    val dir = tmp("oversz")
    val corpus = Tables.load(spark, sf, "documents").select("doc_id", "text")
    DedupIndex.build(corpus, "doc_id", "text", dir)
    val shard = DedupQueries.shard(spark, sf)
    // observe the hint itself: with size-based auto-broadcast OFF, only
    // the explicit hint can produce a BroadcastHashJoin
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val small = DedupIndex.pairsAgainst(spark, dir, shard, "doc_id", "text")
      assert(small.queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin"),
        "in-bound delivery lost its deterministic broadcast hint")
      val smallRows = small.collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      spark.conf.set("graft.dedup.broadcastMaxBandRows", "0")
      try {
        val big = DedupIndex.pairsAgainst(spark, dir, shard, "doc_id", "text")
        assert(!big.queryExecution.executedPlan.toString
          .contains("BroadcastHashJoin"),
          "band-row bound did not downgrade the broadcast")
        assert(big.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
          == smallRows)
      } finally spark.conf.unset("graft.dedup.broadcastMaxBandRows")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("pairsAgainst equals recompute-from-scratch banding on the " +
       "union (the index changes WHERE bands come from, never WHICH)") {
    val dir = tmp("equiv")
    val corpus = Tables.load(spark, sf, "documents").select("doc_id", "text")
    DedupIndex.build(corpus, "doc_id", "text", dir)
    val shard = DedupQueries.shard(spark, sf)
    val viaIndex = DedupIndex
      .pairsAgainst(spark, dir, shard, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // scratch: band corpus ∪ shard together; cross pairs are those with
    // exactly one side in the shard (shard ids sit above the plant
    // offset, so doc_b is always the shard side)
    val scratch = Dedup.lshCandidates(
        Dedup.lshBandsFused(corpus.unionAll(shard), "doc_id", "text",
          16, 3, 4), "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => b >= 100000L && a < 100000L }
      .map { case (a, b) => (b, a) }.toSet
    assert(viaIndex == scratch)
  }

  test("append bands only the new docs under pinned geometry and the " +
       "memoized serving read sees them (eviction contract)") {
    val dir = tmp("append")
    // non-default geometry: 8 hashes × 2 rows/band = 4 bands, 4 sbuckets
    DedupIndex.build(
      docs(1L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      "doc_id", "text", dir,
      numHashes = 8, shingleN = 3, rowsPerBand = 2, sigBuckets = 4)
    val probe = "lambda mu nu xi omicron pi rho sigma tau upsilon"
    // warm the memo BEFORE the append — this lookup must see nothing
    assert(DedupIndex.lookup(spark, dir, probe).isEmpty)
    DedupIndex.append(docs(2L -> probe), "text", dir)
    val got = DedupIndex.lookup(spark, dir, probe)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // geometry is read from _meta: 4 bands under 8×2, so a stale-default
    // (16-hash) banding of the appended rows could never match all 4
    assert(got == Map(2L -> 4L), s"append+lookup got $got")
    assert(DedupIndex.geometry(dir) ==
      DedupIndex.Geometry("doc_id", 8, 3, 2, 4))
  }

  test("gate replay fence: a committed batchId returns empty and " +
       "touches nothing; a crash-window duplicate append leaves every " +
       "count-serving read exact (at-least-once maintenance, " +
       "exactly-once-effective serving)") {
    val dir = tmp("fence")
    DedupIndex.build(
      docs(1L -> "alpha bravo charlie delta echo foxtrot golf hotel"),
      "doc_id", "text", dir)
    val novel = "india juliett kilo lima mike november oscar papa"
    val batch = docs(2L -> novel)
    val kept1 = DedupIndex.gateAppend(spark, dir, batch, "doc_id", "text",
      batchId = Some(7L))
    assert(kept1.collect().map(_.getLong(0)).toSeq == Seq(2L))
    def rowCount(): Long = spark.read.parquet(dir).count()
    val n1 = rowCount()
    // replay: committed marker short-circuits — empty, rows unchanged
    val kept2 = DedupIndex.gateAppend(spark, dir, batch, "doc_id", "text",
      batchId = Some(7L))
    assert(kept2.isEmpty && rowCount() == n1)
    // crash window: the append landed but the marker didn't — simulate
    // by appending the SAME doc's bands again directly; serving must
    // still count each (doc, band) once
    DedupIndex.append(batch, "text", dir)
    assert(rowCount() == n1 + 4, "duplicate append did not duplicate rows")
    val hit = DedupIndex.lookup(spark, dir, novel)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hit == Map(2L -> 4L), s"duplicate rows leaked into counts: $hit")
    val hitM = DedupIndex.lookupMulti(spark, dir, Seq((9L, novel)))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(hitM == Map((9L, 2L) -> 4L), s"lookupMulti leaked: $hitM")
    // the fence survives compaction (markers travel with the new
    // generation) — and compact dedups nothing: rows stay byte-level
    // duplicates, only serving distincts
    DedupIndex.compact(spark, dir)
    assert(rowCount() == n1 + 4)
    assert(DedupIndex.gateAppend(spark, dir, batch, "doc_id", "text",
      batchId = Some(7L)).isEmpty, "replay fence lost across compact")
  }

  test("compact: appended generations collapse to one file per cell, " +
       "band rows byte-identical, geometry preserved, serving intact") {
    val dir = tmp("compact")
    val corpus = Tables.load(spark, sf, "documents")
      .select("doc_id", "text").orderBy("doc_id").limit(30)
    DedupIndex.build(corpus, "doc_id", "text", dir)
    // two appends → up to three files per touched cell
    DedupIndex.append(docs(
      500001L -> "first appended document with enough tokens for shingles"),
      "text", dir)
    DedupIndex.append(docs(
      500002L -> "second appended document also with plenty of tokens"),
      "text", dir)
    def files(): Map[String, Int] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(dir))
        .filter(_.getName.endsWith(".parquet"))
        .groupBy(_.getParentFile.toString).map { case (d, fs) => d -> fs.size }
    }
    def rows(): Set[String] = spark.read.parquet(dir)
      .select(col("doc_id"), col("band").cast("int"), col("band_sig"),
        col("sbucket").cast("int"))
      .collect().map(_.toSeq.toString).toSet
    val before = rows()
    assert(files().values.exists(_ > 1), "appends did not fragment cells")
    DedupIndex.compact(spark, dir)
    assert(files().values.forall(_ == 1),
      s"compact left multi-file cells: ${files().filter(_._2 > 1)}")
    assert(rows() == before, "compact changed band rows")
    assert(DedupIndex.geometry(dir) ==
      DedupIndex.Geometry("doc_id", 16, 3, 4, 16))
    val probe = corpus.orderBy("doc_id").select("text").limit(1)
      .head().getString(0)
    assert(DedupIndex.lookup(spark, dir, probe).collect().nonEmpty,
      "post-compact serving read is stale")
  }

  test("lookupMulti: each probe's rows equal its single-lookup serving; " +
       "one scan serves the whole batch; loud bound and duplicate ids") {
    val dir = tmp("multi")
    val d = Tables.load(spark, sf, "documents").select("doc_id", "text")
    DedupIndex.build(d, "doc_id", "text", dir)
    val probes = d.orderBy("doc_id").limit(3).collect()
      .map(r => (r.getLong(0), r.getString(1) + " tail"))
    val batched = DedupIndex.lookupMulti(spark, dir, probes.toSeq)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val single = probes.flatMap { case (pid, text) =>
      DedupIndex.lookup(spark, dir, text).collect()
        .map(r => (pid, r.getLong(0), r.getLong(1)))
    }.toSet
    assert(batched == single,
      "batched probes diverge from single-probe serving")
    assert(batched.nonEmpty)
    // the job budget is independent of batch size (the queryPointsMulti
    // law): a doubled batch runs the SAME jobs — one scan + the fixed
    // AQE/broadcast stages — never per-probe scans
    def jobsFor(ps: Seq[(Long, String)]): Int =
      jobsIn(DedupIndex.lookupMulti(spark, dir, ps)
        .queryExecution.toRdd.foreach(_ => ()))
    val probes6 = probes.toSeq ++ probes.map { case (pid, t) =>
      (pid + 500000L, t + " more") }
    val (j3, j6) = (jobsFor(probes.toSeq), jobsFor(probes6))
    assert(j3 == j6, s"job budget grew with the batch: $j3 -> $j6")
    intercept[IllegalArgumentException] {
      DedupIndex.lookupMulti(spark, dir,
        (0 to graft.operators.Knn.MaxBatchQueries).map(i => (i.toLong, "x y z")))
    }
    intercept[IllegalArgumentException] {
      DedupIndex.lookupMulti(spark, dir, Seq((1L, "a b c"), (1L, "d e f")))
    }
  }

  test("loud failures: reserved columns, divisibility, missing pinned " +
       "id column on append") {
    val dir = tmp("loud")
    intercept[IllegalArgumentException] {
      DedupIndex.build(docs(1L -> "a b c").withColumn("band", lit(1)),
        "doc_id", "text", dir)
    }
    intercept[IllegalArgumentException] {
      DedupIndex.build(docs(1L -> "a b c"), "doc_id", "text", dir,
        numHashes = 10, rowsPerBand = 4)
    }
    DedupIndex.build(docs(1L -> "a b c"), "doc_id", "text", dir)
    intercept[IllegalArgumentException] {
      DedupIndex.append(
        docs(2L -> "d e f").withColumnRenamed("doc_id", "other_id"),
        "text", dir)
    }
  }
}
