package graft.sources

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.VectorOps
import graft.operators.GraphAnn

/** Index-aware vector serving — the planner step that makes DECLARED
  * vector indexes apply AUTOMATICALLY, the way the Qdrant server serves
  * `query_points` through whatever its collection config declares (HNSW
  * graph, quantization codes, both) without the caller naming an index:
  * the caller submits a vector, a limit, optionally a filter DSL and
  * search params; the router picks the serving pipeline. The vector
  * twin of [[IndexRouter]] (which routes the FILTER side), completing
  * the "declare once, every query benefits" surface: reference users
  * never choose an index at query time (`bob_vector_db`
  * `qdrant_embedder.py` delegates search wholesale to the server), so
  * neither do ours.
  *
  * == Declarations ==
  *
  * `vectorIndexes` is a list of layout DIRS in declaration order; the
  * KIND is sniffed from each layout's own self-describing artifacts
  * ([[IndexRouter]]'s dir-sniffing discipline — a declaration is a
  * pointer, not a schema):
  *
  *  - `_quant_index.json` → **quant** ([[QuantIndex]]): the nested
  *    prefetch chain — BQ hamming top-(prefetchFactor·k) and stored-int8
  *    rescore to top-(oversampling·k) over ONE codes-only scan, then the
  *    exact stage (`v_prefetch_indexed`'s pipeline verbatim);
  *  - `_ivfpq_index.json` → **ivfpq** ([[IvfPqIndex]]): nprobe-cluster
  *    partition pruning + integer ADC over the probed cells' codes to
  *    top-(oversampling·k), then the exact stage (`ann_ivfpq_indexed`'s
  *    pipeline: micro-quantized final ordering — PQ's in-plan twin
  *    contract);
  *  - a `_seeds/` dir → **graph** ([[GraphIndex]]/[[graft.operators.GraphAnn]]):
  *    fixed-round beam search from the persisted entry seeds
  *    (`ann_graph_search`'s pipeline; the beam is the oversampling).
  *
  * First usable declaration wins (first-match, not cost-based — the
  * [[IndexRouter]] determinism rule). `params.exact = true` (the public
  * Qdrant `search_params.exact`) bypasses every index; `params.quantIgnore`
  * (Qdrant `quantization.ignore`) skips quant declarations and falls
  * through to the next.
  *
  * One size gate, decided before any compute: when the winning
  * declaration is quant and its sidecar's zero-job footer count is at
  * or under `spark.graft.quant.scopedScanRows`
  * ([[QuantIndex.scopedBoundPays]]), there is no route — every read
  * class (knn, batch, filtered) takes the one-scan EXACT plan, the
  * Qdrant `full_scan_threshold` "plain search" of a small segment.
  * Exact rows, no driver pin, no cardinality estimate.
  *
  * == Filtered search: the cardinality plan choice ==
  *
  * With a filter DSL, the router implements the documented Qdrant query
  * planner decision: estimate the filter's cardinality and choose
  * between a FULL SCAN OF THE FILTERED POINTS (cheap when the filter is
  * selective) and an INDEX SEARCH with the filter applied to candidates.
  * The estimate is ZERO-JOB: when a payload index routes
  * [[IndexRouter.baseRead]], the parquet FOOTER row counts of the
  * routed read's pruned file listing (driver-side metadata — at 100 TB:
  * the footers of a declared selective key's index partitions, never
  * the corpus, never even a Spark job); when nothing routes, the
  * estimate is pinned above the threshold (the filter's cardinality is
  * unknowable without the very scan the decision is trying to avoid —
  * same ANN plan the old whole-collection count job always chose).
  *
  *  - no route (nothing declared, `exact`, or a quant declaration
  *    under the size gate), or estimate ≤ `scanThreshold`: exact top-k
  *    over the payload-ROUTED filtered read — row-identical to brute
  *    force by [[IndexRouter]]'s superset+residual contract (the
  *    oracle-gated path); with no route the estimate is never taken;
  *  - above the threshold, GRAPH declaration: FILTERED TRAVERSAL (r13 —
  *    the filtrable-HNSW shape): the beam routes unfiltered through the
  *    graph while the result pool is every visited node passing the
  *    filter ([[graft.operators.GraphAnn.beamSearchIndexedFiltered]]),
  *    so a mid-selectivity filter fills `k` from the ≈ beam·(M+1)·rounds
  *    visited set where post-filtering a k-beam under-returns.
  *    Oracle-gated (`v_auto_filtered_graph` replays the per-round
  *    scored-set union);
  *  - above the threshold, QUANT declaration over the size gate:
  *    FILTER-SCOPED EXACT-BOUND
  *    serving (r16 — Qdrant's filtered search with quantization
  *    enabled): the predicate's id population (a pruned payload-column
  *    scan) scopes the codes-sidecar quantization-error bound — θ and
  *    the guaranteed superset are computed WITHIN the filtered rows
  *    ([[QuantIndex.cosineCandidates]]'s scope contract), then the
  *    exact stage rescores only the candidates. EXACT, row-identical
  *    to brute force over the filtered points (oracle-gated:
  *    `v_auto_filtered_quant`), and the only full-vector bytes read
  *    are the candidates' — the filtered dense path no longer grows
  *    with the collection;
  *  - above the threshold, ivfpq: ANN candidates (oversampled), the
  *    full DSL residual on the candidates, exact top-k. Honest
  *    contract: this is candidate POST-filtering — recall-bounded like
  *    every oversampling-based filtered-ANN scheme, and may return
  *    fewer than `k` rows when the filter kills most candidates (its
  *    stage-1 prunes to nprobe cells, which carry no payload to filter
  *    during the scan, and a cell-pruned scan cannot host a
  *    whole-population θ). Spec-gated (plan choice + row containment),
  *    not oracle-gated.
  *
  * == Output contract ==
  *
  * `(idCol, score_micro)` — exact full-precision cosine of the returned
  * rows in micro-units, ranked by each family's own twin ordering, so
  * every routed result is row-identical to the corresponding declared
  * `*_indexed` query (oracle-gated: `v_auto_*` keys reuse the twins'
  * oracles verbatim, projected to the common columns).
  */
object VectorRouter {

  /** Public search params — the Qdrant `search_params` /
    * `quantization_config` query-time knobs this engine honors. */
  final case class Params(
      exact: Boolean = false,
      quantIgnore: Boolean = false,
      oversampling: Int = 3,
      prefetchFactor: Int = 10,
      scanThreshold: Long = 1024,
      nprobe: Int = 2,
      beam: Int = 10,
      rounds: Int = 5)

  /** Sniff a declared layout's kind from its self-describing artifacts;
    * None = not a vector index this router can serve (declaration
    * ignored — mirrors [[IndexRouter]] skipping undeclared keys). */
  def kindOf(dir: String): Option[String] =
    if (Files.exists(Paths.get(dir, "_quant_index.json"))) Some("quant")
    else if (Files.exists(Paths.get(dir, "_ivfpq_index.json")))
      Some("ivfpq")
    else if (Files.isDirectory(Paths.get(dir, "_seeds"))) Some("graph")
    else None

  /** First declared lexical-postings layout ([[LexIndex]]) — the
    * hybrid TEXT leg's serving source. Deliberately NOT a [[kindOf]]
    * vector kind: [[route]] must never pick a postings layout for a
    * plain vector search. */
  def lexDirOf(dirs: Seq[String]): Option[String] =
    dirs.find(d => Files.exists(Paths.get(d, "_lex_index.json")))

  /** First declared quant codes sidecar — the hybrid DENSE leg's
    * exact-bound source ([[QuantIndex.cosineCandidates]]). A declared
    * pre-norm layout fails THERE with the loud rebuild-it contract
    * rather than silently degrading to the in-plan leg: a declaration
    * is an operator's statement that the layout serves. */
  def quantDirOf(dirs: Seq[String]): Option[String] =
    dirs.find(d => kindOf(d).contains("quant"))

  /** The first usable declaration under `params`, if any; a quant one
    * under the size gate ([[QuantIndex.scopedBoundPays]]) is none. */
  private def route(spark: SparkSession, vectorIndexes: Seq[String],
                    params: Params): Option[(String, String)] =
    if (params.exact) None
    else vectorIndexes.iterator
      .flatMap(d => kindOf(d).map((_, d)))
      .find { case (kind, _) => !(params.quantIgnore && kind == "quant") }
      .filter { case (kind, dir) =>
        kind != "quant" || QuantIndex.scopedBoundPays(spark, dir) }

  /** Serve a top-`k` cosine search through the declared indexes. */
  def queryPoints(spark: SparkSession, points: DataFrame, idCol: String,
                  vecCol: String, vectorIndexes: Seq[String],
                  payloadIndexes: Seq[(String, String)],
                  query: Seq[Double], k: Int,
                  dslJson: Option[String] = None,
                  params: Params = Params()): DataFrame = {
    val routed = route(spark, vectorIndexes, params)
    dslJson match {
      case None => routed match {
        case None => exactTopK(points, idCol, vecCol, query, k)
        case Some((kind, dir)) =>
          annTopK(spark, points, idCol, vecCol, kind, dir, query, k, params)
      }
      case Some(dsl) =>
        val pred =
          graft.operators.PayloadFilter.fromJson(dsl, idCol = idCol)
        // estimate only when a vector index could serve — with no route
        // the scan plan is taken regardless ([[cardinalityEstimate]])
        def estimate: Long =
          cardinalityEstimate(spark, points, payloadIndexes, dsl, idCol)
        routed match {
          case Some(("graph", dir)) if estimate > params.scanThreshold =>
            // FILTERED TRAVERSAL (r13): the graph kind searches WITH the
            // filter — routing hops unfiltered, results from the whole
            // visited∩passing pool — so a mid-selectivity filter fills k
            // where candidate post-filtering under-returned (oracle-
            // gated: v_auto_filtered_graph)
            GraphAnn.beamSearchIndexedFiltered(points, idCol, vecCol, dir,
                query, params.beam, params.rounds, k, pred)
              .select(col("id").as(idCol), col("score_micro"))
          case Some(("quant", dir)) if estimate > params.scanThreshold =>
            // FILTER-SCOPED EXACT-BOUND serving (r16 — the quant kind's
            // filtered search is EXACT, not candidate post-filtering):
            // the predicate's id population (a pruned payload-column
            // scan, never the vector column) scopes the codes-sidecar
            // bound — θ and the guaranteed superset are computed WITHIN
            // the filtered rows ([[QuantIndex.cosineCandidates]] scope
            // contract) — then the exact stage rescores only the
            // candidates' full vectors. Row-identical to brute force
            // over the filtered points (oracle-gated:
            // v_auto_filtered_quant), at codes-sliver stage-1 IO.
            val m = QuantIndex.metaOf(dir)
            val scope = points.filter(pred)
              .select(col(idCol).as(m.idCol))
            val cands = QuantIndex
              .cosineCandidates(spark, dir, query, k, Some(scope))
              .select(col(m.idCol).as(idCol))
            exactTopK(GraphAnn.inIdsFrame(points, idCol, cands), idCol,
              vecCol, query, k)
          case Some((kind, dir)) if estimate > params.scanThreshold =>
            // candidate post-filtering (see scaladoc: recall-bounded —
            // the ivfpq kind; quant and graph serve filtered-exact and
            // filtered-traversal above)
            val candIds =
              annCandidateIds(spark, points, idCol, vecCol, kind, dir,
                query, k, params)
            rescore(points.filter(pred), idCol, vecCol, candIds, query, k,
              byMicro = kind == "ivfpq")
          case _ =>
            exactTopK(
              IndexRouter.filtered(spark, points, payloadIndexes, dsl,
                idCol),
              idCol, vecCol, query, k)
        }
    }
  }

  /** BATCHED routed serving — N `query_points` requests sharing one
    * stage-1 pass (the Qdrant `query_batch_points` shape, routed): the
    * route is decided ONCE (declarations are per collection, not per
    * request) and each kind serves the whole batch through its batched
    * stage-1 — [[QuantIndex.prefetchTopNMulti]] (one codes scan),
    * [[IvfPqIndex.adcTopNMulti]] (one probed-partition scan),
    * [[graft.operators.GraphAnn.beamSearchMultiIndexed]] (lock-step
    * beams) — followed by ONE literal-id probe of the union candidate
    * set for the exact stage, scoring each row against its own query
    * via the broadcast query frame. With no route (including a quant
    * declaration under the size gate) the batch is ONE exact pass
    * ([[exactTopKMulti]] — per-query map-side heaps; oracle-gated:
    * `v_auto_search_multi`). Total jobs are independent of the batch
    * size (spec-gated), and each query's rows equal its single-query
    * [[queryPoints]] result exactly.
    * Point ids must be integral (the graph/heap stages' long-id
    * contract — same as every materialized vector layout).
    *
    * With a `dslJson` filter (one filter for the whole batch — the
    * shared-filter `query_batch_points` shape), the single-query
    * cardinality plan choice applies ONCE: selective filters take ONE
    * batched exact pass over the payload-routed filtered read
    * ([[exactTopKMulti]] — per-query map-side heaps); above the
    * threshold, the batched stage-1 candidates rescore against the
    * FILTERED points (candidate post-filtering — the same
    * recall-bounded contract as the single-query branch). Returns
    * (query_id, idCol, score_micro), top `k` per query. */
  def queryPointsMulti(spark: SparkSession, points: DataFrame,
                       idCol: String, vecCol: String,
                       vectorIndexes: Seq[String],
                       queries: Seq[(Long, Seq[Double])], k: Int,
                       dslJson: Option[String] = None,
                       payloadIndexes: Seq[(String, String)] = Nil,
                       params: Params = Params()): DataFrame = {
    // reject oversized batches at the public entry (clearest site name);
    // every batched stage-1 repeats the check for its direct callers
    graft.operators.Knn.requireBatch(queries.length, "queryPointsMulti")
    val routed = route(spark, vectorIndexes, params)
    dslJson match {
      case None => routed match {
        case None => exactTopKMulti(points, idCol, vecCol, queries, k)
        case Some(("graph", dir)) =>
          GraphAnn.beamSearchMultiIndexed(points, idCol, vecCol, dir,
              queries, params.beam, params.rounds, k)
            .select(col("query_id"), col("id").as(idCol),
              col("score_micro"))
        case Some((kind, dir)) =>
          rescoreMulti(points, idCol, vecCol,
            annCandidatesMulti(spark, points, idCol, vecCol, kind, dir,
              queries, k, params),
            queries, k, byMicro = kind == "ivfpq")
      }
      case Some(dsl) =>
        val pred =
          graft.operators.PayloadFilter.fromJson(dsl, idCol = idCol)
        // the single-query zero-job estimate, decided once per batch
        def estimate: Long =
          cardinalityEstimate(spark, points, payloadIndexes, dsl, idCol)
        routed match {
          case Some(("graph", dir)) if estimate > params.scanThreshold =>
            // batched FILTERED TRAVERSAL (r13) — one shared predicate,
            // lock-step beams, per-query visited∩passing pools; the
            // predicate rides the shared probes at zero extra jobs
            GraphAnn.beamSearchMultiIndexed(points, idCol, vecCol, dir,
                queries, params.beam, params.rounds, k,
                resultPred = Some(pred))
              .select(col("query_id"), col("id").as(idCol),
                col("score_micro"))
          case Some(("quant", dir)) if estimate > params.scanThreshold =>
            // batched FILTER-SCOPED EXACT-BOUND serving (r16): one
            // shared scope population (the filter is per batch), all
            // queries through the two scoped codes-only scans
            // ([[QuantIndex.cosineCandidatesMulti]] with scope), one
            // union-pool exact rescore — per query identical to the
            // single-query filtered route (spec-gated).
            val m = QuantIndex.metaOf(dir)
            val scope = points.filter(pred)
              .select(col(idCol).as(m.idCol))
            rescoreMulti(points, idCol, vecCol,
              QuantIndex
                .cosineCandidatesMulti(spark, dir, queries, k,
                  Some(scope))
                .select(col("query_id"), col(m.idCol).as(idCol)),
              queries, k, byMicro = false)
          case Some((kind, dir)) if estimate > params.scanThreshold =>
            // candidate post-filtering (recall-bounded, see scaladoc —
            // the ivfpq kind)
            rescoreMulti(points.filter(pred), idCol, vecCol,
              annCandidatesMulti(spark, points, idCol, vecCol, kind, dir,
                queries, k, params),
              queries, k, byMicro = kind == "ivfpq")
          case _ =>
            exactTopKMulti(
              IndexRouter.filtered(spark, points, payloadIndexes, dsl,
                idCol),
              idCol, vecCol, queries, k)
        }
    }
  }

  /** Listing-size bound under which an UNROUTED collection still gets an
    * exact zero-job footer count: a collection this small is metadata to
    * read, so it keeps the exact scan plan the old count-job estimate
    * chose. Above it, opening every footer driver-side would be a scan
    * in disguise — unless the listing's BYTES are small too
    * ([[SmallCollectionBytes]]): a sub-threshold collection FRAGMENTED
    * across many tiny files is still metadata to read, and pinning it to
    * MaxValue would silently flip it from the old exact scan plan to the
    * recall-bounded ANN branch (r12 ADVICE). */
  private val SmallCollectionFiles = 64L

  /** Byte bound for the fragmented-small-collection footer pass: any
    * collection under [[Params.scanThreshold]] rows is far below this
    * however wide its payloads, while a real corpus exceeds it
    * immediately — so the footer pass (still bounded at
    * [[RoutedListingFiles]] files) runs only where it can change the
    * plan back to the exact scan. */
  private val SmallCollectionBytes = 32L * 1024 * 1024

  /** Bound on the routed read's listing for the footer pass: a
    * SELECTIVE routed condition prunes to few files by construction,
    * and past this many the driver-side footer-per-file walk would
    * itself be the scan the estimate exists to avoid — fall back to the
    * (file-listing-pruned) count job instead. */
  private val RoutedListingFiles = 4096L

  /** The filtered-search cardinality estimate — job-free on every
    * common path. A LISTING-PRUNED routed payload index (hash/range/geo
    * — [[IndexRouter.baseReadInfo]]) contributes the parquet footer row
    * counts of its pruned listing (≤ [[RoutedListingFiles]] files,
    * else the pruned count job); a TEXT route counts its literal-id
    * read's ROWS (one cheap row-group-pruned job — its LISTING is the
    * whole collection, so footers would count the corpus, not the
    * candidates); with nothing routable, a small collection
    * (≤ [[SmallCollectionFiles]] files, or ≤ [[SmallCollectionBytes]]
    * across ≤ [[RoutedListingFiles]] files — fragmentation must not
    * flip the plan) contributes its own footer count — tiny collections
    * keep the exact scan plan — while a large
    * or non-single-scan frame pins the estimate above any threshold
    * (its filtered cardinality is unknowable without the very scan the
    * plan decision is trying to avoid, which is the ANN branch's answer
    * anyway). */
  private[graft] def cardinalityEstimate(spark: SparkSession,
                                  points: DataFrame,
                                  payloadIndexes: Seq[(String, String)],
                                  dsl: String, idCol: String): Long = {
    val (base, listingPruned) =
      IndexRouter.baseReadInfo(spark, points, payloadIndexes, dsl, idCol)
    if (base eq points) {
      // small by FILES or by BYTES (fragmented): exact footer count,
      // still zero jobs; a real corpus pins above any threshold
      val small = IndexRouter.listingStats(points).exists { case (f, b) =>
        f <= SmallCollectionFiles ||
          (b <= SmallCollectionBytes && f <= RoutedListingFiles)
      }
      if (small)
        IndexRouter.metadataRowCount(points, maxFiles = RoutedListingFiles)
          .getOrElse(Long.MaxValue)
      else Long.MaxValue
    }
    else if (listingPruned)
      IndexRouter.metadataRowCount(base, maxFiles = RoutedListingFiles)
        .getOrElse(base.count())
    else base.count()
  }

  /** Batched stage-1 candidate (query_id, id) pairs from a declared
    * index — each kind's one-scan batched pass. */
  private def annCandidatesMulti(spark: SparkSession, points: DataFrame,
                                 idCol: String, vecCol: String,
                                 kind: String, dir: String,
                                 queries: Seq[(Long, Seq[Double])],
                                 k: Int, params: Params): DataFrame =
    kind match {
      case "quant" =>
        val m = QuantIndex.metaOf(dir)
        QuantIndex.prefetchTopNMulti(spark, dir, queries,
            params.prefetchFactor * k, params.oversampling * k)
          .select(col("query_id"), col(m.idCol).as(idCol))
      case "ivfpq" =>
        val m = IvfPqIndex.metaOf(dir)
        IvfPqIndex.adcTopNMulti(spark, dir, queries, params.nprobe,
            params.oversampling * k)
          .select(col("query_id"), col(m.idCol).as(idCol))
      case "graph" =>
        GraphAnn.beamSearchMultiIndexed(points, idCol, vecCol, dir,
            queries, params.beam, params.rounds,
            math.min(params.oversampling * k, params.beam))
          .select(col("query_id"), col("id").as(idCol))
      case other => throw new IllegalArgumentException(
        s"unroutable vector index kind: $other")
    }

  /** Exact stage of the batched code-based kinds: ONE literal probe of
    * the union candidate set, per-(query, candidate) cosine via the
    * broadcast query frame (the same Catalyst expression as the
    * single-query [[rescore]] — column vs literal operand only), per-
    * query top-k under each family's twin ordering. */
  private def rescoreMulti(pts: DataFrame, idCol: String, vecCol: String,
                           cand: DataFrame,
                           queries: Seq[(Long, Seq[Double])], k: Int,
                           byMicro: Boolean): DataFrame = {
    val spark = pts.sparkSession
    import spark.implicits._
    // driver-bounded: N · oversampling·k (query, candidate) pairs
    val (candDf, ids) = GraphAnn.pinWithIds(cand, idCol)
    val qvDf = broadcast(queries.toDF("query_id", "__qv"))
    val scored = GraphAnn.inIds(pts, idCol, ids)
      .join(broadcast(candDf), idCol)
      .join(qvDf, "query_id")
      .withColumn("score", VectorOps.cosine(col(vecCol), col("__qv")))
      .withColumn("score_micro",
        floor(col("score") * 1e6 + lit(0.5)).cast("long"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("query_id")
    val ranked =
      if (byMicro) scored.withColumn("__rnk", row_number().over(
        w.orderBy(desc("score_micro"), col(idCol))))
      else scored.withColumn("__rnk", row_number().over(
        w.orderBy(desc("score"), col(idCol))))
    ranked.filter(col("__rnk") <= k)
      .select(col("query_id"), col(idCol), col("score_micro"))
  }

  /** Brute-force exact top-k over the whole batch: one scan, one
    * bounded heap per query on the map side — exactly
    * [[graft.operators.Knn.knnBatchDsl]] with a vacuous per-query
    * predicate (one plan, no second copy to drift). */
  private def exactTopKMulti(pts: DataFrame, idCol: String,
                             vecCol: String,
                             queries: Seq[(Long, Seq[Double])], k: Int)
      : DataFrame =
    graft.operators.Knn.knnBatchDsl(pts,
      queries.map { case (qid, q) => (qid, q, lit(true)) },
      vecCol, k, idCol)

  /** Brute-force exact top-k — the `params.exact` / no-index / selective-
    * filter plan: one scan, bounded heap (TakeOrderedAndProject). */
  private def exactTopK(pts: DataFrame, idCol: String, vecCol: String,
                        q: Seq[Double], k: Int): DataFrame =
    pts.select(col(idCol),
        VectorOps.cosine(col(vecCol), typedLit(q)).as("score"))
      // NULL scores (absent named vectors) are excluded — Knn.knn's
      // contract, and what keeps this row-identical to the batched
      // exactTopKMulti (whose heap skips nulls)
      .filter(col("score").isNotNull)
      .orderBy(desc("score"), col(idCol))
      .limit(k)
      .select(col(idCol),
        floor(col("score") * 1e6 + lit(0.5)).cast("long").as("score_micro"))

  /** One routed un-filtered search — each kind's pipeline IS its
    * oracle-gated twin's, so routing can never change a row. */
  private def annTopK(spark: SparkSession, points: DataFrame, idCol: String,
                      vecCol: String, kind: String, dir: String,
                      q: Seq[Double], k: Int, params: Params): DataFrame =
    kind match {
      case "graph" =>
        GraphAnn.beamSearchIndexed(points, idCol, vecCol, dir, q,
            params.beam, params.rounds, k)
          .select(col("id").as(idCol), col("score_micro"))
      case _ =>
        rescore(points, idCol, vecCol,
          annCandidateIds(spark, points, idCol, vecCol, kind, dir, q, k,
            params),
          q, k, byMicro = kind == "ivfpq")
    }

  /** Stage-1 candidate ids for a top-`k` search from a declared index
    * (driver-bounded: ≤ oversampling·k). */
  private def annCandidateIds(spark: SparkSession, points: DataFrame,
                              idCol: String, vecCol: String, kind: String,
                              dir: String, q: Seq[Double], k: Int,
                              params: Params): Seq[Long] = {
    val n = params.oversampling * k
    val cand = kind match {
      case "quant" =>
        val m = QuantIndex.metaOf(dir)
        QuantIndex
          .prefetchTopN(spark, dir, q, params.prefetchFactor * k, n)
          .select(col(m.idCol))
      case "ivfpq" =>
        val m = IvfPqIndex.metaOf(dir)
        IvfPqIndex.adcTopN(spark, dir, q, params.nprobe, n)
          .select(col(m.idCol))
      case "graph" =>
        GraphAnn.beamSearchIndexed(points, idCol, vecCol, dir, q,
            params.beam, params.rounds, math.min(n, params.beam))
          .select(col("id"))
      case other => throw new IllegalArgumentException(
        s"unroutable vector index kind: $other")
    }
    cand.collect().map(_.getAs[Number](0).longValue).toSeq
  }

  /** Exact stage shared by the code-based kinds: literal-id probe of the
    * candidates' full vectors ([[GraphAnn.inIds]] — ProbeLimit
    * fallback), full-precision cosine, top-k. `byMicro` ranks on the
    * micro-quantized score (the PQ family's twin ordering); otherwise
    * the raw double ranks (the quant family's). */
  private def rescore(pts: DataFrame, idCol: String, vecCol: String,
                      candIds: Seq[Long], q: Seq[Double], k: Int,
                      byMicro: Boolean): DataFrame = {
    val scored = GraphAnn.inIds(pts, idCol, candIds)
      .select(col(idCol),
        VectorOps.cosine(col(vecCol), typedLit(q)).as("score"))
      .withColumn("score_micro",
        floor(col("score") * 1e6 + lit(0.5)).cast("long"))
    (if (byMicro) scored.orderBy(desc("score_micro"), col(idCol))
     else scored.orderBy(desc("score"), col(idCol)))
      .limit(k)
      .select(col(idCol), col("score_micro"))
  }
}
