package graft

import org.apache.spark.sql.functions._
import graft.sources.VectorRouter

/** Declared queries for the index-aware VECTOR router
  * ([[graft.sources.VectorRouter]]) — the `query_points` surface where
  * the COLLECTION's declarations, not the caller, pick the serving
  * pipeline (the Qdrant server behavior the reference delegates to:
  * `bob_vector_db/qdrant_embedder.py` submits a vector and a limit, and
  * the server consults its own HNSW/quantization config). Every routed
  * key reuses its serving twin's oracle verbatim, projected to the
  * router's uniform `(vec_id, score_micro)` contract: routing is a plan
  * decision, never a semantic one. The fixture's quant sidecar is under
  * the router's one size gate at every gate SF, so the quant-declared
  * keys serve — and are gated as — brute-force exact top-k.
  */
object AutoQueries {

  import VectorQueries.{oracleQ0, payloadIdxDir, quantIndexDir, queryVec}

  /** The declared-index list the auto queries search through: the
    * memoized quantized-codes sidecar (kind sniffed from its
    * `_quant_index.json`). */
  private def decls(s: org.apache.spark.sql.SparkSession,
                    dir: String): Seq[String] =
    Seq(quantIndexDir(s, dir))

  /** Brute-force exact top-10 of query vector 0 over the embeddings
    * `where` admits — the oracle of every key the router serves on its
    * exact plan. */
  private def exactSql(where: String): String = s"""
      SELECT vec_id,
             CAST(floor(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                 $oracleQ0) * 1000000 + 0.5) AS BIGINT) AS score_micro
      FROM embeddings
      $where
      ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]),
               $oracleQ0) DESC, vec_id
      LIMIT 10"""

  /** The batched keys' query vector ids. */
  private val BatchIds = Seq(0L, 3L)

  /** [[exactSql]] per query of [[BatchIds]], in the router's batched
    * (query_id, vec_id, score_micro) contract. */
  private def exactMultiSql(where: String): String = {
    val legs = BatchIds.map { i => s"""
      r$i AS (
        SELECT CAST($i AS BIGINT) AS query_id, vec_id,
               CAST(floor(list_cosine_similarity(v,
                 (SELECT v FROM e WHERE vec_id = $i)) * 1000000 + 0.5)
                 AS BIGINT) AS score_micro
        FROM e $where
        ORDER BY list_cosine_similarity(v,
          (SELECT v FROM e WHERE vec_id = $i)) DESC, vec_id
        LIMIT 10)""" }
    s"""
      WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
                 FROM embeddings),${legs.mkString(",")}
      SELECT * FROM ${BatchIds.map(i => s"r$i")
        .mkString(" UNION ALL SELECT * FROM ")}"""
  }

  /** Routed search, no filter: the router sniffs the declared layout as
    * `quant`, and the sidecar's zero-job footer count is under the size
    * gate ([[graft.sources.QuantIndex.scopedBoundPays]]) at every gate
    * SF, so the router serves the one-scan exact plan — the same rows as
    * [[vAutoExact]], gated by the same brute-force oracle. The prefetch
    * chain a large collection routes to stays oracle-gated through
    * `v_prefetch_indexed`. */
  val vAutoSearch = Q("v_auto_search",
    (s, dir) =>
      VectorRouter.queryPoints(s, Tables.load(s, dir, "embeddings"),
        "vec_id", "embedding", decls(s, dir), Nil, queryVec(s, dir, 0), 10),
    Some(exactSql("")))

  /** The public Qdrant `search_params.exact = true` bypass: declarations
    * present but ignored — one scan, bounded heap, full-precision
    * ranking. */
  val vAutoExact = Q("v_auto_exact",
    (s, dir) =>
      VectorRouter.queryPoints(s, Tables.load(s, dir, "embeddings"),
        "vec_id", "embedding", decls(s, dir), Nil, queryVec(s, dir, 0), 10,
        params = VectorRouter.Params(exact = true)),
    Some(exactSql("")))

  /** Filtered routed search taking the exact filtered-scan plan: the
    * fixture's quant sidecar is under the size gate at every gate SF, so
    * the router has no route and serves exact top-k over the
    * payload-ROUTED filtered read (the `label` hash index) without
    * taking the cardinality estimate. Oracle: brute-forced filter +
    * exact ranking — the plan choice must not change a row. (Over the
    * gate, the over-threshold quant branch is [[vAutoFilteredQuant]].) */
  val vAutoFiltered = Q("v_auto_filtered",
    (s, dir) =>
      VectorRouter.queryPoints(s, Tables.load(s, dir, "embeddings"),
        "vec_id", "embedding", decls(s, dir),
        Seq("label" -> payloadIdxDir(s, dir)), queryVec(s, dir, 0), 10,
        dslJson = Some("""
          {"must": [{"key": "label", "match": {"value": 3}}]}""")),
    Some(exactSql("WHERE label = 3")))

  /** [[vAutoFiltered]]'s OVER-THRESHOLD quant route, pinned
    * deterministically with the public planner knob (`scanThreshold = 0`
    * — the `v_auto_filtered_graph` discipline) and now EXACT (r16): the
    * filter's id population scopes the codes-sidecar bound, so θ and
    * the guaranteed superset live WITHIN the filtered rows and the
    * exact rescore of the candidates is row-identical to brute force —
    * the same oracle as `v_auto_filtered` gates BOTH cardinality plan
    * branches. This closes the r15 verdict's one collection-growth
    * dense path: the only full-vector bytes read are the candidates'.
    * The router's one size gate
    * ([[graft.sources.QuantIndex.scopedBoundPays]]) gives the
    * fixture-sized sidecar no route, so at every gate SF this key serves
    * the exact filtered scan before any estimate is taken; the scoped-θ
    * branch itself stays row-pinned by the forced-open-gate spec
    * (OperatorSpec) and serves unchanged at scale. */
  val vAutoFilteredQuant = Q("v_auto_filtered_quant",
    (s, dir) =>
      VectorRouter.queryPoints(s, Tables.load(s, dir, "embeddings"),
        "vec_id", "embedding", decls(s, dir),
        Seq("label" -> payloadIdxDir(s, dir)), queryVec(s, dir, 0), 10,
        dslJson = Some("""
          {"must": [{"key": "label", "match": {"value": 3}}]}"""),
        params = VectorRouter.Params(scanThreshold = 0)),
    vAutoFiltered.oracle)

  /** Routed search with a GRAPH declaration first: the router sniffs the
    * maintained adjacency layout (its persisted `_seeds/`) and serves
    * the fixed-round beam search — `ann_graph_search`'s pipeline
    * verbatim, so its oracle gates the routed rows. */
  val vAutoGraph = Q("v_auto_graph",
    (s, dir) =>
      VectorRouter.queryPoints(s, Tables.load(s, dir, "embeddings"),
        "vec_id", "embedding",
        GraphAnnQueries.graphIndexDir(s, dir) +: decls(s, dir), Nil,
        queryVec(s, dir, 0), 10),
    Some(s"""
      SELECT vec_id, score_micro
      FROM (${GraphAnnQueries.annGraphSearch.oracle.get}) t"""))

  /** BATCHED routed search (`query_batch_points` through the declared
    * indexes): two queries, ONE route decision. Under the quant size gate
    * (every gate SF) the batch is ONE exact pass with per-query map-side
    * heaps ([[VectorRouter.queryPointsMulti]] — job budget independent
    * of the batch size, spec-gated in OperatorSpec, as is the batched
    * prefetch chain of an over-gate collection). The oracle is each
    * query's brute-force exact top-10 — every query's rows equal its
    * single-query `v_auto_search` serving exactly. */
  val vAutoSearchMulti = Q("v_auto_search_multi",
    (s, dir) =>
      VectorRouter.queryPointsMulti(s, Tables.load(s, dir, "embeddings"),
        "vec_id", "embedding", decls(s, dir),
        BatchIds.map(i => i -> queryVec(s, dir, i)), 10),
    Some(exactMultiSql("")))

  /** BATCHED + FILTERED routed search (the shared-filter
    * `query_batch_points` shape): two queries under one selective
    * `label = 3` filter. The route is decided ONCE — no route under the
    * size gate at every gate SF — so the whole batch is ONE exact pass
    * over the payload-routed filtered read with per-query map-side heaps
    * ([[VectorRouter.exactTopKMulti]]). The oracle replays both filtered
    * exact chains; the over-gate batched branches are
    * [[vAutoFilteredQuantMulti]] and the specs in OperatorSpec. */
  val vAutoFilteredMulti = Q("v_auto_filtered_multi",
    (s, dir) =>
      VectorRouter.queryPointsMulti(s, Tables.load(s, dir, "embeddings"),
        "vec_id", "embedding", decls(s, dir),
        BatchIds.map(i => i -> queryVec(s, dir, i)), 10,
        dslJson = Some(
          """{"must": [{"key": "label", "match": {"value": 3}}]}"""),
        payloadIndexes = Seq("label" -> payloadIdxDir(s, dir))),
    Some(exactMultiSql("WHERE label = 3")))

  /** The BATCHED over-threshold quant route (`scanThreshold = 0` on
    * [[vAutoFilteredMulti]]'s requests) — EXACT by the same r16 scoped
    * bound, batched: one shared scope population, both queries through
    * the two scoped codes-only scans
    * ([[graft.sources.QuantIndex.cosineCandidatesMulti]] with scope),
    * one union-pool exact rescore. The UNCHANGED `v_auto_filtered_multi`
    * oracle gates it — the batched filtered quant branch is no longer
    * spec-only. Under the router's one size gate
    * ([[graft.sources.QuantIndex.scopedBoundPays]]) — every gate SF — a
    * small collection serves the batched exact filtered scan instead,
    * same rows either way. */
  val vAutoFilteredQuantMulti = Q("v_auto_filtered_quant_multi",
    (s, dir) =>
      VectorRouter.queryPointsMulti(s, Tables.load(s, dir, "embeddings"),
        "vec_id", "embedding", decls(s, dir),
        BatchIds.map(i => i -> queryVec(s, dir, i)), 10,
        dslJson = Some(
          """{"must": [{"key": "label", "match": {"value": 3}}]}"""),
        payloadIndexes = Seq("label" -> payloadIdxDir(s, dir)),
        params = VectorRouter.Params(scanThreshold = 0)),
    vAutoFilteredMulti.oracle)

  /** FILTERED GRAPH TRAVERSAL (r13 worklist #4 — the filtrable-HNSW
    * serving shape): a graph declaration + a `label = 3` filter forced
    * onto the over-threshold ANN branch (`scanThreshold = 0` — the
    * public planner knob; the estimate is positive at every SF, so the
    * branch choice is pinned deterministically). The beam ROUTES
    * unfiltered — identical frontier sequence to `ann_graph_search` —
    * while the answer is the top-k passing nodes of the WHOLE visited
    * pool, so the ~10%-selective filter fills k where post-filtering
    * the 10-node beam returns ~1 row (the under-return OperatorSpec
    * plants and proves). The oracle replays the union of the five
    * rounds' scored sets over the replayed graph, filtered and
    * re-ranked — an exact-hash gate over a filtered APPROXIMATE search,
    * the AnnQueries contract. */
  val vAutoFilteredGraph = Q("v_auto_filtered_graph",
    (s, dir) =>
      VectorRouter.queryPoints(s, Tables.load(s, dir, "embeddings"),
        "vec_id", "embedding",
        Seq(GraphAnnQueries.graphIndexDir(s, dir)), Nil,
        queryVec(s, dir, 0), 10,
        dslJson = Some(
          """{"must": [{"key": "label", "match": {"value": 3}}]}"""),
        params = VectorRouter.Params(scanThreshold = 0)),
    Some(s"""
      WITH ${GraphAnnQueries.graphSql},
      ${GraphAnnQueries.seedSql},
      ${GraphAnnQueries.searchCtes("", 0L)}
      SELECT vec_id, sm AS score_micro FROM (
        SELECT s.vec_id, s.sm,
               ROW_NUMBER() OVER (ORDER BY s.sm DESC, s.vec_id) AS rk
        FROM (${(1 to GraphAnnQueries.SRounds)
          .map(r => s"SELECT vec_id, sm FROM sc$r")
          .mkString(" UNION ")}) s
        JOIN embeddings em ON em.vec_id = s.vec_id
        WHERE em.label = 3)
      WHERE rk <= 10 ORDER BY rk"""))

  /** ROUTED hybrid retrieval — the declare-once law applied to the
    * default retrieval recipe: each leg independently serves from the
    * first declared layout of its kind
    * ([[VectorRouter.lexDirOf]] → the exact-token postings text leg,
    * [[VectorRouter.quantDirOf]] → the exact-bound codes dense leg) and
    * independently falls back to its in-plan pipeline when nothing is
    * declared (PARTIAL routing composes — a collection may declare only
    * its text index). `exact = true` (the Qdrant `search_params.exact`
    * bypass) ignores every declaration. Both branches of each leg are
    * row-identical by construction (the indexed legs are EXACT — the
    * quantization-error bound and the exact-token postings, not staged
    * approximations), so routing is a plan decision, never a semantic
    * one: the UNCHANGED v_hybrid_rrf oracle gates every combination. */
  private[graft] def hybridRrfRouted(s: org.apache.spark.sql.SparkSession,
                                     dir: String, declared: Seq[String],
                                     exact: Boolean = false)
      : org.apache.spark.sql.DataFrame = {
    val lexDir =
      if (exact) None else VectorRouter.lexDirOf(declared)
    val qDir =
      if (exact) None else VectorRouter.quantDirOf(declared)
    val tTop = lexDir match {
      case Some(ld) => VectorQueries.kwsTop100Indexed(s, dir, ld)
      case None => VectorQueries.kwsTop100(s, dir)
    }
    val vTop = qDir match {
      case Some(qd) => VectorQueries.vectorTop100Indexed(s, dir, qd)
        .select("doc_id", "r_v")
      case None => VectorQueries.vectorTop100(s, dir)
    }
    graft.operators.Fusion.rrfFuse(tTop, vTop)
  }

  val vAutoHybrid = Q("v_auto_hybrid",
    (s, dir) => hybridRrfRouted(s, dir,
      Seq(VectorQueries.lexIndexDir(s, dir), quantIndexDir(s, dir))),
    VectorQueries.vHybridRrf.oracle)

  /** BATCHED routed hybrid — the batching law's last family
    * (the Qdrant `query_batch_points` shape with prefetch + fusion):
    * N hybrid requests, each (query_id, dense vector, term set),
    * through ONE route decision and SHARED scans per leg —
    *
    *  - text legs: the union term set through one pruned postings scan
    *    ([[graft.sources.LexIndex.termCountScoresMulti]] — per-query
    *    Σtf fold via a broadcast membership frame), ranked with the
    *    batched zero-tail ([[graft.sources.LexIndex.rankedTopNMulti]]);
    *  - dense legs: all queries through the two shared codes-only
    *    candidate scans ([[VectorQueries.vectorTopNIndexedMulti]] over
    *    [[graft.sources.QuantIndex.cosineCandidatesMulti]]) and one
    *    union-pool exact rescore;
    *  - per-query RRF fuse ([[graft.operators.Fusion.rrfFuseMulti]]).
    *
    * Fallback when a leg has no declared layout: that leg runs its
    * in-plan pipeline once per request (nothing to share — the same
    * per-request scan the unindexed single-query path costs), so
    * partial routing composes exactly as [[hybridRrfRouted]]. Per query
    * the rows equal the single-query routed hybrid with that request's
    * vector and terms (spec-pinned); the batch's job budget over the
    * layouts is independent of N (spec via statusTracker). */
  private[graft] def hybridRrfRoutedMulti(
      s: org.apache.spark.sql.SparkSession, dir: String,
      declared: Seq[String],
      requests: Seq[(Long, Seq[Double], Seq[String])],
      exact: Boolean = false, legN: Int = 100)
      : org.apache.spark.sql.DataFrame = {
    graft.operators.Knn.requireBatch(requests.length,
      "hybridRrfRoutedMulti")
    require(requests.map(_._1).distinct.length == requests.length,
      "hybridRrfRoutedMulti: duplicate query ids in the batch")
    val lexDir = if (exact) None else VectorRouter.lexDirOf(declared)
    val qDir = if (exact) None else VectorRouter.quantDirOf(declared)
    val tTop = lexDir match {
      case Some(ld) =>
        graft.sources.LexIndex.rankedTopNMulti(s,
            graft.sources.LexIndex.termCountScoresMulti(s, ld,
              requests.map(r => r._1 -> r._3)),
            Tables.load(s, dir, "documents").select("doc_id"),
            "doc_id", "score_t", legN, "r_t", requests.map(_._1))
          .select("query_id", "doc_id", "r_t")
      case None =>
        requests.map { case (qid, _, terms) =>
          VectorQueries.kwsTopN(s, dir, terms, legN)
            .select(lit(qid).as("query_id"), col("doc_id"), col("r_t"))
        }.reduce(_ unionAll _)
    }
    val vTop = qDir match {
      case Some(qd) =>
        VectorQueries.vectorTopNIndexedMulti(s, dir, qd,
            requests.map(r => r._1 -> r._2), legN)
          .select("query_id", "doc_id", "r_v")
      case None =>
        requests.map { case (qid, qv, _) =>
          VectorQueries.vectorTopN(s, dir, qv, legN)
            .select(lit(qid).as("query_id"), col("doc_id"), col("r_v"))
        }.reduce(_ unionAll _)
    }
    graft.operators.Fusion.rrfFuseMulti(tTop, vTop)
  }

  /** The declared batch: three hybrid requests with distinct vectors
    * AND distinct term sets (the heterogeneous `query_batch_points`
    * shape). */
  private[graft] def hybridBatch(s: org.apache.spark.sql.SparkSession,
                                 dir: String)
      : Seq[(Long, Seq[Double], Seq[String])] = Seq(
    (0L, queryVec(s, dir, 0), Seq("data", "query", "table")),
    (1L, queryVec(s, dir, 3), Seq("scan", "index")),
    (2L, queryVec(s, dir, 7), Seq("the", "of", "data")))

  /** One DuckDB leg set for request `i`: the v_hybrid_rrf oracle chain
    * parameterized by vector id and term list, CTE names suffixed
    * (vector leg + fuse tail shared with the other batched hybrids —
    * [[VectorQueries.vectorTopSqlFor]] / [[VectorQueries.rrfFuseCteFor]]). */
  private def hybridLegSql(i: Int, vecId: Long,
                           terms: Seq[String]): String = {
    val lst = terms.map(t => s"'$t'").mkString("[", ", ", "]")
    s"""
      t$i AS (
        SELECT doc_id,
               len(list_filter(
                 list_filter(regexp_split_to_array(lower(text), '\\s+'),
                             x -> x <> ''),
                 x -> list_contains($lst, x))) AS score_t
        FROM documents),
      tr$i AS (
        SELECT doc_id, r_t FROM (
          SELECT doc_id,
                 ROW_NUMBER() OVER (ORDER BY score_t DESC, doc_id) AS r_t
          FROM t$i) WHERE r_t <= 100),
      ${VectorQueries.vectorTopSqlFor(i, vecId)},
      ${VectorQueries.rrfFuseCteFor(i)}"""
  }

  val vAutoHybridMulti = Q("v_auto_hybrid_multi",
    (s, dir) => hybridRrfRoutedMulti(s, dir,
      Seq(VectorQueries.lexIndexDir(s, dir), quantIndexDir(s, dir)),
      hybridBatch(s, dir)),
    Some {
      val legs = Seq((0, 0L, Seq("data", "query", "table")),
        (1, 3L, Seq("scan", "index")),
        (2, 7L, Seq("the", "of", "data")))
      s"""
      WITH ${legs.map { case (i, v, ts) => hybridLegSql(i, v, ts) }
          .mkString(",")}
      SELECT query_id, doc_id, r_t, r_v, rrf_milli FROM (
        ${legs.map { case (i, _, _) => s"SELECT * FROM f$i" }
          .mkString(" UNION ALL ")})
      ORDER BY query_id, rrf_milli DESC, doc_id"""
    })

  def queries: Seq[Q] =
    Seq(vAutoSearch, vAutoExact, vAutoFiltered, vAutoFilteredQuant,
      vAutoGraph, vAutoSearchMulti, vAutoFilteredMulti,
      vAutoFilteredQuantMulti, vAutoFilteredGraph,
      vAutoHybrid, vAutoHybridMulti)
}
