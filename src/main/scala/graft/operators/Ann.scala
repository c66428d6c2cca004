package graft.operators

import java.security.MessageDigest
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import scala.collection.immutable.ArraySeq
import graft.functions.VectorOps

/** Approximate nearest-neighbor search over an embedding column — the
  * scale path for the query surface the reference delegates to Qdrant
  * (cosine collections, `bob_vector_db/qdrant_embedder.py:92-103`).
  * Brute-force top-k (Knn.scala) is the exact baseline; these operators
  * trade recall for a bounded candidate set:
  *
  *  - **IVF**: partition the collection into Voronoi cells around centroid
  *    vectors; a query probes only the `nprobe` nearest cells. At 100 TB
  *    the collection is written bucketed/partitioned BY cluster id, so a
  *    probe is partition pruning — the scan touches nprobe/k of the data.
  *    Centroids come from [[kmeansFit]] — a deterministic fixed-seed,
  *    fixed-round Lloyd iteration the DuckDB oracle replays exactly
  *    (decimal-summed, micro-quantized means), so even TRAINING is
  *    oracle-gated; "first k vectors" seeding remains the iteration-0
  *    special case.
  *
  *  - **Hyperplane LSH**: sign-random-projection buckets. Each of P
  *    hyperplanes contributes one bit (dot(v, plane) > 0); the P-bit
  *    bucket id groups similar vectors. Planes are ±1 vectors derived
  *    from md5 so they are reproducible constants, embedded in the plan
  *    as literals (no join, no broadcast needed).
  *
  * Both searches end with the same map-side score + bounded top-k reduce
  * as exact kNN — no shuffle of the collection side.
  */
object Ann {

  /** Deterministic ±1.0 hyperplane matrix: component (p,i) is +1 when the
    * first hex digit of md5("p|i") is even. Reproducible anywhere md5
    * exists (same constants are inlined into the oracle SQL). */
  def hyperplanes(numPlanes: Int, dim: Int): Seq[Seq[Double]] = {
    val md = MessageDigest.getInstance("MD5")
    (0 until numPlanes).map { p =>
      (0 until dim).map { i =>
        val hex = md.digest(s"$p|$i".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        if (Integer.parseInt(hex.substring(0, 1), 16) % 2 == 0) 1.0 else -1.0
      }
    }
  }

  /** P-bit LSH bucket id of a vector column. */
  def lshBucket(vec: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.map { case (plane, p) =>
      when(VectorOps.dot(vec, typedLit(plane)) > 0.0, lit(1L << p))
        .otherwise(lit(0L))
    }.reduce(_ + _)

  /** Auto-sized hyperplane-LSH geometry from a corpus-cardinality
    * estimate — the §8.5b conclusion ("band geometry must grow ∝ log₂ n")
    * as a first-class function instead of a hand-set knob:
    *
    *  - **planes per band** p = the smallest p with `2^p ≥ n̂ /
    *    targetOccupancy` (floored): expected band-bucket occupancy stays
    *    ≈ constant, so candidate pairs grow ∝ n · occupancy (linear),
    *    never n².
    *  - **bands** b = the smallest b with collision recall `1 − (1 −
    *    p₁^p)^b ≥ recallTarget` at the target cosine (p₁ = 1 − acos(sim)/π,
    *    the sign-random-projection collision probability), floored: more
    *    planes per band cut per-band collision odds, so bands must grow
    *    with them to hold recall — the growth law the §8.5b probe
    *    measured by hand (12 bands × 14 planes at 500k vectors; this
    *    formula yields (10, 13) there — same shape, derived not tuned).
    *
    * The floors pin the fixture-scale geometry (6 × 6): below
    * `targetOccupancy · 2^floorPlanes` the auto size RESOLVES to the
    * pinned geometry, so the oracle-gated queries are bit-unchanged at
    * the gate SFs while the same code path scales the geometry on a
    * 100× corpus. Transcendentals are fine here — sizing is driver-side
    * plan construction, never oracle-replayed arithmetic. */
  def lshGeometryFor(est: Double, simTarget: Double = 0.9,
                     recallTarget: Double = 0.75,
                     targetOccupancy: Double = 64.0,
                     floorBands: Int = 6, floorPlanes: Int = 6,
                     capPlanes: Int = 24): (Int, Int) = {
    require(est >= 0 && est.isFinite, s"bad cardinality estimate: $est")
    require(simTarget > 0 && simTarget < 1 &&
      recallTarget > 0 && recallTarget < 1, "targets must be in (0,1)")
    var p = floorPlanes
    while (p < capPlanes && math.pow(2.0, p) * targetOccupancy < est)
      p += 1
    val p1 = 1.0 - math.acos(simTarget) / math.Pi
    val perBand = math.pow(p1, p)
    val b = math.max(floorBands,
      math.ceil(math.log(1.0 - recallTarget) / math.log1p(-perBand)).toInt)
    (b, p)
  }

  /** Auto-sized SemDeDup cluster count from a corpus-cardinality
    * estimate — the same floor-rung discipline as [[lshGeometryFor]],
    * applied to the k of the cluster-scoped semantic dedup
    * (`dedup_semantic`). SemDeDup's candidate space is Σ|cluster|², so a
    * FIXED k means per-cluster size grows ∝ n and pair work grows ∝ n²/k
    * — the §8.5b probe measured exactly that (DNF at 200k vectors with
    * k=8). Growing k ∝ n̂ holds the EXPECTED cluster size at
    * `targetClusterSize`, so pair work grows ∝ n · targetClusterSize —
    * the linear class (the published SemDeDup recipe also scales k with
    * the corpus: Abbas et al. 2023 use 11k clusters for LAION-440M,
    * i.e. ~40k points/cluster at web scale; the smaller target here
    * reflects the 64-dim fixtures).
    *
    * The floor pins k = `floorK` for every n̂ ≤ floorK ·
    * targetClusterSize (= 4096 at the defaults) — far above the gate
    * fixtures (embeddings: 2000 rows at sf0.1, KMV ±3%), so the
    * oracle-gated query trains at the k=8 its static oracle replays,
    * bit-unchanged, while a 100× corpus sizes itself through this same
    * call. Sizing is driver-side plan construction, never
    * oracle-replayed arithmetic. */
  def semanticClusterCount(est: Double, targetClusterSize: Double = 512.0,
                           floorK: Int = 8): Int = {
    require(est >= 0 && est.isFinite, s"bad cardinality estimate: $est")
    require(targetClusterSize > 0 && floorK > 0, "positive sizing params")
    math.max(floorK, math.ceil(est / targetClusterSize).toInt)
  }

  /** Per-band LSH bucket ids: splits `planes` into `bands` consecutive
    * groups and emits one bucket id per band (the OR-construction — a pair
    * is a near-dup candidate iff >= 1 band bucket matches, which boosts
    * recall exponentially in the band count while each band stays
    * selective). Returns an array column of length `bands`. */
  def lshBandBuckets(vec: Column, planes: Seq[Seq[Double]],
                     bands: Int): Column = {
    val per = planes.length / bands
    require(bands * per == planes.length,
      s"$bands bands must divide ${planes.length} planes")
    array((0 until bands).map(b =>
      lshBucket(vec, planes.slice(b * per, (b + 1) * per))): _*)
  }

  /** Per-vector argmin cluster (L2, centroid-id tie-break) as ONE fused
    * in-row loop ([[graft.functions.ArgminCellExpr]] — the k·dim
    * centroid matrix rides the generated code as a reference object):
    * no row multiplication, no shuffle, output one (id, cluster) row per
    * input row. The centroid table is collected here — NOT a new driver
    * bound: the broadcast-crossjoin formulation this replaced
    * materialized the same k·dim table on the driver to build its
    * broadcast, then blew every point into k intermediate rows through
    * a min_by re-aggregation keyed by the point id. Same-session A/B
    * (`Dev kmprobe`, k = 977 over 500k vectors, one Lloyd round):
    * fused 10.7-11.9 s vs crossjoin 102.9-108.8 s, ~9.5×. Bit-identical
    * by construction (same sequential squared sum, same sqrt, same
    * (distance, cid) tie-break — spec-pinned three ways); ids are
    * expected unique (the collection contract — the old groupBy
    * collapsed duplicate ids, this form emits one row per input row). */
  def argminAssign(coll: DataFrame, idCol: String, vecCol: String,
                   centroids: DataFrame, cidCol: String, cvCol: String)
      : DataFrame = {
    val local = centroids
      .select(col(cidCol).cast("long"), col(cvCol).cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
      .sortBy(_._1)
    coll.select(col(idCol),
      org.apache.spark.sql.GraftSqlBridge.column(
        graft.functions.ArgminCellExpr(
          org.apache.spark.sql.GraftSqlBridge.expression(
            col(vecCol).cast("array<double>")),
          local.map(_._2).toSeq, local.map(_._1).toSeq)).as("cluster"))
  }

  /** [[argminAssign]] with the collection columns CARRIED (r17): the
    * assignment is a narrow in-row projection (the centroid matrix rides
    * the generated code as a driver-side array), so attaching it as a
    * COLUMN needs no join — the `coll.join(argminAssign(coll, ...), id)`
    * form evaluated the collection subtree TWICE and paid a needless
    * id-keyed join for rows the projection already had (guide §2.4;
    * the [[graft.sources.SemanticDedupIndex]] assignedLocal discipline).
    * Row-identical to the join-back when `idCol` is unique — which every
    * caller's collection guarantees (vec_id is the primary key). */
  def argminAssignCarry(coll: DataFrame, vecCol: String,
                        centroids: DataFrame, cidCol: String,
                        cvCol: String): DataFrame = {
    val local = centroids
      .select(col(cidCol).cast("long"), col(cvCol).cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
      .sortBy(_._1)
    coll.withColumn("cluster",
      org.apache.spark.sql.GraftSqlBridge.column(
        graft.functions.ArgminCellExpr(
          org.apache.spark.sql.GraftSqlBridge.expression(
            col(vecCol).cast("array<double>")),
          local.map(_._2).toSeq, local.map(_._1).toSeq)))
  }

  /** Deterministic Lloyd k-means for IVF centroid training — replaces the
    * "first k vectors" seeding with real clustering while staying exactly
    * replayable by the SQL oracle (the reference's collections delegate
    * index training to Qdrant, `bob_vector_db/qdrant_embedder.py:92-103`;
    * this is the engine-native analog). Every source of nondeterminism is
    * pinned:
    *
    *  - init: the k lowest-id vectors (cid = rank of the seed id);
    *  - fixed iteration count (no convergence test — data-dependent
    *    stopping would need float comparisons across engines);
    *  - per-dim means sum through DECIMAL(25,12) (exact, order-independent
    *    — double summation order would drift between engines) and the
    *    mean is micro-quantized (floor(x·1e6+0.5)/1e6) so each round's
    *    centroids are identical doubles everywhere;
    *  - empty clusters keep their previous centroid;
    *  - assignment ties break by centroid id (same contract as
    *    [[argminAssign]]).
    *
    * Scale shape: each iteration is one broadcast of k·dim doubles + one
    * map-side-combinable (cluster, dim) aggregation over the collection —
    * no shuffle of the vectors themselves. Only the k·dim centroid table
    * (k rows) ever reaches the driver. */
  def kmeansFit(coll: DataFrame, idCol: String, vecCol: String,
                k: Int, iters: Int): DataFrame = {
    val spark = coll.sparkSession
    import spark.implicits._
    def toDf(cs: Array[(Long, Seq[Double])]): DataFrame =
      cs.toSeq.toDF("cid", "cv")
    var cents: Array[(Long, Seq[Double])] = coll
      .orderBy(col(idCol)).limit(k)
      .select(col(vecCol).cast("array<double>"))
      .collect()
      .zipWithIndex
      .map { case (r, i) => (i.toLong, r.getSeq[Double](0)) }
    for (_ <- 0 until iters) {
      // the round's centroids are already a driver-side array, so the
      // assignment is the FUSED in-row argmin (bit-identical to the
      // argminAssign chain, spec-pinned): the crossjoin k-way row
      // blow-up + re-aggregation + join-back that made training cost
      // n·k intermediate ROWS per round becomes one narrow map —
      // same-session A/B (`Dev kmprobe`, k = 977 over 500k vectors,
      // one full Lloyd round incl. the mean aggregation, 3 alternating
      // iterations): fused 10.7-11.9 s vs crossjoin 102.9-108.8 s,
      // ~9.5× per round; the oracle-replayed result is unchanged
      val assignedCol = org.apache.spark.sql.GraftSqlBridge.column(
        graft.functions.ArgminCellExpr(
          org.apache.spark.sql.GraftSqlBridge.expression(
            col(vecCol).cast("array<double>")),
          cents.map(_._2).toSeq, cents.map(_._1).toSeq))
      val comp = coll
        // the argmin is projected BELOW the explode on purpose: a
        // single select(argmin, posexplode(v)) resolves with the
        // non-generator expressions in the Project ABOVE the Generate,
        // re-evaluating the argmin once per EXPLODED row — dim× the
        // work (measured: 500.9 s for the k=977/500k round vs ~10 s
        // with this split; `Dev kmprobe`'s one-select twin + explain
        // pin the plan shape)
        .select(assignedCol.as("cluster"),
          col(vecCol).cast("array<double>").as("__v"))
        .select(col("cluster"), posexplode(col("__v")).as(Seq("i", "x")))
        .groupBy("cluster", "i")
        .agg((floor(
          (sum(col("x").cast("decimal(25,12)")).cast("double") /
            count(lit(1))) * 1e6 + lit(0.5)) / 1e6).as("c"))
        .collect()
      val byCluster = comp
        .groupBy(_.getLong(0))
        .map { case (cid, rows) =>
          cid -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq
        }
      cents = cents.map { case (cid, prev) =>
        (cid, byCluster.getOrElse(cid, prev))
      }
    }
    toDf(cents)
  }

  /** Build a materialized IVF index: the collection written as parquet
    * PARTITIONED BY cluster id. At scale this is the whole point of IVF —
    * a probe of `nprobe` clusters becomes partition pruning, so the scan
    * touches ~nprobe/k of the bytes (verify with PartitionFilters in the
    * plan). */
  def buildIvfIndex(coll: DataFrame, idCol: String, vecCol: String,
                    centroids: DataFrame, cidCol: String, cvCol: String,
                    indexDir: String): Unit = {
    coll.join(argminAssign(coll, idCol, vecCol, centroids, cidCol, cvCol),
        idCol)
      .write.mode("overwrite")
      .partitionBy("cluster")
      .parquet(indexDir)
    graft.sources.ServedReads.evict(indexDir)
  }

  /** The `nprobe` nearest centroids to the query (L2, cid tie-break). */
  def probeClusters(centroids: DataFrame, cidCol: String, cvCol: String,
                    query: Seq[Double], nprobe: Int): DataFrame =
    centroids
      .withColumn("__qd", VectorOps.l2(col(cvCol), typedLit(query)))
      .orderBy(col("__qd"), col(cidCol))
      .limit(nprobe)
      .select(col(cidCol).as("cluster"))

  /** Exact cosine top-k over a candidate set (shared search tail).
    * Deliberately keeps FULL-precision scores (unlike Knn.knn's round-6):
    * the declared ANN queries quantize with floor-micro at the very end,
    * and rounding here would change which value the quantization sees.
    * Null scores (invalid vectors) are excluded, matching Knn. */
  private def topKByCosine(cands: DataFrame, idCol: String, vecCol: String,
                           query: Seq[Double], k: Int): DataFrame =
    cands
      .withColumn("score", VectorOps.cosine(col(vecCol), typedLit(query)))
      .filter(col("score").isNotNull)
      .orderBy(desc("score"), col(idCol))
      .limit(k)

  /** Search a materialized IVF index: the probe clusters are collected
    * driver-side and inlined as an `isin` literal list — deliberately NOT
    * a join, because only literal predicates prune partitions statically
    * at planning time. The collected values keep the centroid id column's
    * own type (no Long assumption); nprobe is small by construction.
    *
    * `filter` is the filtered-search hook (Qdrant's filterable-index
    * serving path: every search takes a vector AND a payload predicate):
    * applied to the pruned scan BEFORE scoring, so a simple payload
    * predicate lands in PushedFilters while the probe stays in
    * PartitionFilters — row-group pruning inside only the probed
    * partitions, the composition a 100 TB serving read wants. */
  def ivfSearchIndexed(spark: org.apache.spark.sql.SparkSession,
                       indexDir: String, idCol: String, vecCol: String,
                       centroids: DataFrame, cidCol: String, cvCol: String,
                       query: Seq[Double], nprobe: Int, k: Int,
                       filter: Column = lit(true)): DataFrame = {
    val probed = probeClusters(centroids, cidCol, cvCol, query, nprobe)
      .collect().map(_.get(0))
    topKByCosine(
      graft.sources.ServedReads.of(spark, indexDir)
        .filter(col("cluster").isin(ArraySeq.unsafeWrapArray(probed): _*))
        .filter(filter),
      idCol, vecCol, query, k)
  }

  /** Bulk kNN JOIN — every point's approximate top-`k` cosine
    * neighbors in one distributed pass: the kNN-graph construction
    * primitive (SemDeDup's cluster-free cousin, hard-negative mining
    * with a large anchor side, graph-ANN edge init). Both sides are the
    * whole collection, so the all-pairs form is structurally banned;
    * candidates come from hyperplane-LSH band collisions exactly like
    * [[graft.operators.Dedup]]'s embedding near-dup (shuffle ∝
    * collisions, never n²), then each candidate pair is scored exactly
    * and every source id keeps a bounded top-k heap with map-side
    * partials ([[graft.plans.TopKByScore]] — no window sort over the
    * candidate set). Scores are micro-quantized BEFORE ranking so rank
    * ties break identically on any engine (desc score, asc neighbor
    * id). Points whose bands collide with nothing yield no rows — the
    * honest ANN contract; recall is the band geometry's recall
    * ([[lshGeometryFor]] sizes it from the corpus estimate). `maxBucket`
    * is [[Dedup.simhashCandidates]]'s super-bucket cap — the production
    * knob for corpora with massive exact-duplicate clusters, where a
    * single band bucket's pairs grow as its size² ([[Dedup.autoMaxBucket]]
    * derives it; None keeps exact banded semantics for the oracle). */
  def knnJoin(points: DataFrame, idCol: String, vecCol: String,
              planes: Seq[Seq[Double]], bands: Int, k: Int,
              maxBucket: Option[Int] = None): DataFrame = {
    // spread: the 36-plane banding projection is per-row compute over a
    // possibly single-split source (Par.spread scaladoc — no-op on a
    // real cluster's many-split scan); row-independent, so the reshuffle
    // cannot change any result
    val banded = graft.operators.Par.spread(points).select(col(idCol),
      posexplode(lshBandBuckets(col(vecCol), planes, bands))
        .as(Seq("band", "bits")))
    // undirected collision pairs from the shared banded core (with the
    // super-bucket cap); cosine is symmetric, so each pair is vector-
    // joined and scored ONCE, then mirrored into both directions inside
    // the same codegen pass (explode of a 2-struct array — a union of
    // swapped projections re-executed the whole scoring subtree per
    // branch: measured 488 s warm at the 100× probe before this shape)
    val undirected =
      Dedup.bandedPairs(banded, Seq("band", "bits"), idCol, maxBucket,
        // hyperplane banding is expensive narrow work — share one keyed
        // exchange between the self-join sides (see bandedPairsCarry)
        shareExchange = true)
    val scored = undirected
      .join(points.select(col(idCol).as("doc_a"),
        col(vecCol).as("__va")), "doc_a")
      .join(points.select(col(idCol).as("doc_b"),
        col(vecCol).as("__vb")), "doc_b")
      .withColumn("__sm",
        floor(VectorOps.cosine(col("__va"), col("__vb")) * 1e6
          + lit(0.5)).cast("double"))
      .select(explode(array(
        struct(col("doc_a").as("s"), col("doc_b").as("d"),
          col("__sm").as("m")),
        struct(col("doc_b").as("s"), col("doc_a").as("d"),
          col("__sm").as("m")))).as("__e"))
      .select(col("__e.s").as("__src"), col("__e.d").as("__dst"),
        col("__e.m").as("__sm"))
    heapRank(scored, k)
  }

  /** One NN-descent refinement round (Dong et al. 2011, WWW) over a base
    * kNN graph `base` (the [[knnJoin]] output shape `(src_id, nbr_id,
    * ...)`) — the standard recall-improving second stage of distributed
    * kNN-graph construction: a point's true neighbors are usually
    * neighbors OF its current approximate neighbors. Candidates per
    * source = its current neighbors ∪ its REVERSE neighbors ∪ its
    * neighbors' neighbors (one forward hop) — |E|·(k+2) rows at most,
    * never corpus², and the exact rescoring runs on candidates only with
    * the same bounded per-source heap as [[knnJoin]]. Because the
    * candidate set contains every base edge, the refined score at each
    * rank dominates the base score at that rank (monotone improvement —
    * spec-asserted). Deterministic given `base`: no sampling, exact
    * scoring, micro-quantized rank order — the oracle replays the
    * expansion as three UNION arms over the base ranking. */
  def knnRefine(points: DataFrame, idCol: String, vecCol: String,
                base: DataFrame, k: Int): DataFrame = {
    val edges = base.select(col("src_id"), col("nbr_id"))
    val hop = edges.as("e1")
      .join(edges.as("e2"), col("e1.nbr_id") === col("e2.src_id"))
      .select(col("e1.src_id").as("__src"), col("e2.nbr_id").as("__dst"))
    val cands = edges.select(col("src_id").as("__src"),
        col("nbr_id").as("__dst"))
      .union(edges.select(col("nbr_id").as("__src"),
        col("src_id").as("__dst")))
      .union(hop)
      .filter(col("__src") =!= col("__dst"))
      .distinct()
    scoreTopK(cands, points, idCol, vecCol, k)
  }

  /** SemDeDup's decision rule (Abbas et al. 2023, "SemDeDup: Data-
    * efficient learning at web-scale through semantic deduplication")
    * rendered deterministic over a [[knnJoin]] graph: a point is a
    * semantic DUPLICATE iff some top-k neighbor scores ≥ `tauMicro`
    * (inside the ε-ball) AND has a smaller id — the keep-lowest-id
    * representative rule, replayable on any engine (the paper keeps a
    * random/low-quality member; a pinned tie-break is the oracle-gate
    * rendering of "keep exactly one"). `dup_of` is the SMALLEST
    * qualifying neighbor. One filter + one min-struct aggregation over
    * the k-bounded graph — |V|·k rows, no new shuffle machinery; at
    * 100 TB the graph is the small derived table, never the corpus. */
  def semanticDrop(graph: DataFrame, tauMicro: Long): DataFrame =
    graph.filter(col("score_micro") >= tauMicro &&
        col("nbr_id") < col("src_id"))
      .groupBy(col("src_id"))
      .agg(min(struct(col("nbr_id"), col("score_micro"))).as("__d"))
      .select(col("src_id"), col("__d.nbr_id").as("dup_of"),
        col("__d.score_micro").as("score_micro"))

  /** Shared exact-scoring tail for directed candidate pairs
    * ([[knnRefine]]): join (`__src`,`__dst`) back to their vectors,
    * score cosine micro-quantized, then [[heapRank]]. */
  private def scoreTopK(cands: DataFrame, points: DataFrame,
                        idCol: String, vecCol: String, k: Int): DataFrame =
    heapRank(cands
      .join(points.select(col(idCol).as("__src"),
        col(vecCol).as("__sv")), "__src")
      .join(points.select(col(idCol).as("__dst"),
        col(vecCol).as("__dv")), "__dst")
      .withColumn("__sm",
        floor(VectorOps.cosine(col("__sv"), col("__dv")) * 1e6
          + lit(0.5)).cast("double")), k)

  /** Bounded per-source top-`k` over scored directed pairs
    * (`__src`,`__dst`,`__sm`): one heap per source with map-side
    * partials ([[graft.plans.TopKByScore]] — no window sort), ranked
    * (desc score, asc neighbor id). */
  private def heapRank(scored: DataFrame, k: Int): DataFrame =
    scored
      .groupBy("__src")
      .agg(graft.plans.TopKByScore.topK(col("__sm"), col("__dst"), k)
        .as("__tk"))
      .select(col("__src").as("src_id"),
        posexplode(col("__tk")).as(Seq("__pos", "__e")))
      .select(col("src_id"), col("__e.id").as("nbr_id"),
        col("__e.score").cast("long").as("score_micro"),
        (col("__pos") + 1).cast("long").as("rnk"))

  /** IVF search: probe the `nprobe` nearest clusters to the query, exact
    * cosine top-k within them. */
  def ivfSearch(coll: DataFrame, idCol: String, vecCol: String,
                centroids: DataFrame, cidCol: String, cvCol: String,
                query: Seq[Double], nprobe: Int, k: Int): DataFrame = {
    val assigned = coll.join(
      argminAssign(coll, idCol, vecCol, centroids, cidCol, cvCol), idCol)
    val probed = probeClusters(centroids, cidCol, cvCol, query, nprobe)
    topKByCosine(assigned.join(broadcast(probed), "cluster"),
      idCol, vecCol, query, k)
  }
}
