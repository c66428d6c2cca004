package graft

import org.apache.spark.sql.functions._
import graft.functions.VectorOps
import graft.operators.Knn

/** Declared vector-search queries (SURVEY.md §2.2 V1–V4).
  *
  * The query vector is the embedding of `vec_id = 0` — collected once on
  * the driver (64 floats) and broadcast as a literal, the standard "small
  * query side" pattern that keeps the big collection scan shuffle-free.
  * Scores are rounded to 6 decimals before comparison/ordering: both
  * engines compute the same double-precision reductions, but may associate
  * the final divide/sqrt differently.
  */
object VectorQueries {

  /** Driver-side fetch of one query vector, widened exactly to double.
    * MEMOIZED per (id, embeddings file) — r17: the vector is the REQUEST
    * constant (a real serving system receives it with the query; only
    * the test scaffolding fetches it from the fixture), and un-memoized
    * every v_* construction spent one whole Spark job re-reading it —
    * the batched keys five (queryVec 0..4 per construction). */
  private[graft] def queryVec(s: org.apache.spark.sql.SparkSession, dir: String,
                       id: Long): Seq[Double] =
    Memo("queryVec", id, Tables.path(dir, "embeddings")) {
      Tables.load(s, dir, "embeddings")
        .filter(col("vec_id") === id)
        .select(col("embedding").cast("array<double>"))
        .head().getSeq[Double](0)
    }

  private[graft] val oracleQ0 = "(SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)"

  /** V1 — cosine score of every vector vs the query (full scoring pass). */
  val vCosine = Q("v_cosine",
    (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      Knn.scoreAll(emb, "embedding", queryVec(s, dir, 0))
        .select(col("vec_id"), round(col("score"), 6).as("score"))
    },
    Some(s"""
      SELECT vec_id,
             ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]), $oracleQ0), 6) AS score
      FROM embeddings
    """))

  /** V2 — kNN top-10 by cosine. Plans to TakeOrderedAndProject (bounded
    * per-partition heap, no global sort). */
  val vKnn = Q("v_knn",
    (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      Knn.knn(emb, "embedding", queryVec(s, dir, 0), 10)
        .select("vec_id", "label", "score")
    },
    Some(s"""
      SELECT vec_id, label,
             ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]), $oracleQ0), 6) AS score
      FROM embeddings
      ORDER BY score DESC, vec_id
      LIMIT 10
    """))

  /** [[vKnn]] served EXACTLY from the codes sidecar — the flagship use
    * of the quantization-error bound outside hybrid: stage 1 brackets
    * every stored vector's true cosine from a codes+norm-only scan
    * ([[graft.sources.QuantIndex.cosineCandidates]] — a GUARANTEED
    * superset of the exact top-10, ~1/7 of the vector column's bytes),
    * stage 2 exact-rescores only the candidates by literal id probe.
    * Unlike every approximate `_indexed` sibling this is EXACT kNN
    * at reduced IO — same oracle as `v_knn`, not a staged-semantics
    * twin. The bound's slack covers the rounded-score rank-tie window
    * (same micro granularity). */
  val vKnnIndexed = Q("v_knn_indexed",
    (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val qv = queryVec(s, dir, 0)
      val cands = graft.sources.QuantIndex
        .cosineCandidates(s, quantIndexDir(s, dir), qv, 10)
        .select("vec_id")
      Knn.knn(graft.operators.GraphAnn.inIdsFrame(emb, "vec_id", cands),
          "embedding", qv, 10)
        .select("vec_id", "label", "score")
    },
    vKnn.oracle)

  /** Memoized tenant-partitioned serving layout of the embeddings table
    * (shard key = `label`) — the shared per-fixture/per-pid temp
    * materialization discipline (Tables.memoTempDir). */
  private def tenantDir(s: org.apache.spark.sql.SparkSession,
                        dir: String): String =
    Tables.memoTempDir("tenant", dir) { target =>
      graft.sources.Tenancy.build(
        Tables.load(s, dir, "embeddings"), "label", "vec_id", target)
    }

  /** V2 + tenant routing — the Qdrant shard-key/multitenancy analog: the
    * same kNN top-10, scoped to ONE tenant (shard key = `label`) over the
    * tenant-partitioned serving layout (sources/Tenancy). The tenant
    * predicate is a partition-column literal → static pruning: the scan
    * lists only `label=3/` directories (PartitionFilters-asserted in
    * OperatorSpec) — per-tenant serving cost is O(tenant), not O(corpus).
    * Oracle: the same search brute-forced WHERE label = 3 —
    * materialization and routing must not change one row. */
  val vKnnTenant = Q("v_knn_tenant",
    (s, dir) => {
      val served = graft.sources.Tenancy.forTenant(
        s, tenantDir(s, dir), "label", 3)
      Knn.knn(served, "embedding", queryVec(s, dir, 0), 10)
        // partition discovery narrows the tenant key to INT; restore the
        // source column's type for the schema gate
        .select(col("vec_id"), col("label").cast("int").as("label"),
          col("score"))
    },
    Some(s"""
      SELECT vec_id, label,
             ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]), $oracleQ0), 6) AS score
      FROM embeddings
      WHERE label = 3
      ORDER BY score DESC, vec_id
      LIMIT 10
    """))

  /** Filtered search with a FULL-TEXT PHRASE condition (the Qdrant
    * `filter.must: match.phrase` + query composite), the phrase side
    * served from the POSITIONAL postings layout
    * ([[graft.sources.LexIndex.phraseMatches]] — adjacency from
    * intersected position lists, corpus text never read), the dense
    * side from the FILTER-SCOPED exact-bound candidate stage
    * ([[graft.sources.QuantIndex.cosineCandidates]] with the phrase
    * ids as the scope — r16, the r15 verdict's top item): θ and the
    * guaranteed superset are computed WITHIN the phrase-matching
    * population (the codes scan semi-joins the phrase ids before the θ
    * heap — both jobs see the same population, so the superset proof
    * holds under the filter), then the exact top-10 rescores only the
    * candidates' full vectors. Neither stage reads the corpus text or
    * the filtered rows' full vector column — the whole composite
    * serves from postings + codes slivers + ≤ candidates full rows,
    * where the r15 serving scanned every filtered row's embedding
    * (the one dense path that still grew with the collection).
    *
    * CARDINALITY-GATED (r17, verdict #1): the scoped θ stage spends
    * two extra bounded jobs that are pure constant overhead when the
    * collection is small — a zero-job footer count
    * ([[graft.sources.QuantIndex.scopedBoundPays]]) routes small
    * collections to the plain semi-join scan (the pre-r16 serving,
    * row-identical: both paths are exact over the same population),
    * large ones keep the scoped bound. Oracle: brute force over the
    * documents ⋈ embeddings join with the in-plan phrase predicate —
    * UNCHANGED from the full-scan serving, green on either branch. */
  val vKnnPhraseIndexed = Q("v_knn_phrase_indexed",
    (s, dir) => {
      val matched = graft.sources.LexIndex.phraseMatches(
          s, lexIndexDir(s, dir), Seq("scan", "query"))
        .withColumnRenamed("doc_id", "vec_id")
      val qv = queryVec(s, dir, 0)
      val emb = Tables.load(s, dir, "embeddings")
      val qd = quantIndexDir(s, dir)
      val scoped =
        if (graft.sources.QuantIndex.scopedBoundPays(s, qd)) {
          val cands = graft.sources.QuantIndex
            .cosineCandidates(s, qd, qv, 10, scope = Some(matched))
            .select("vec_id")
          graft.operators.GraphAnn.inIdsFrame(emb, "vec_id", cands)
        } else
          // broadcast is SAFE here by construction: this branch only
          // runs when the whole collection is under the scopedScanRows
          // bound, so the matched id list is ≤ 65 536 longs — the hint
          // removes the planner's sort-merge semi-join (2 exchanges +
          // 2 sorts for a kilobyte-scale id list)
          emb.join(broadcast(matched), Seq("vec_id"), "left_semi")
      Knn.knn(scoped, "embedding", qv, 10)
        .select("vec_id", "label", "score")
    },
    Some(s"""
      WITH n AS (
        SELECT doc_id,
               ' ' || array_to_string(list_filter(
                 string_split_regex(lower(text), '\\s+'), x -> x <> ''), ' ')
                 || ' ' AS norm
        FROM documents),
      m AS (SELECT doc_id FROM n WHERE norm LIKE '% scan query %')
      SELECT e.vec_id, e.label,
             ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
               $oracleQ0), 6) AS score
      FROM embeddings e JOIN m ON m.doc_id = e.vec_id
      ORDER BY score DESC, vec_id
      LIMIT 10"""))

  /** V2 multi-query — broadcast the 5-vector query set, per-query top-3 via
    * window rank (collection side unshuffled; see Knn.knnMulti). */
  val vKnnMulti = Q("v_knn_multi",
    (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val qs = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      Knn.knnMulti(emb, qs, "embedding", "qid", "qv", 3)
        .select("query_id", "vec_id", "score", "rnk")
        .orderBy("query_id", "rnk")
    },
    Some("""
      WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
                 FROM embeddings WHERE vec_id < 5),
      pairs AS (SELECT q.query_id, e.vec_id,
                       ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS score
                FROM embeddings e CROSS JOIN q),
      r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY score DESC, vec_id) AS rnk
            FROM pairs)
      SELECT query_id, vec_id, score, rnk FROM r WHERE rnk <= 3
      ORDER BY query_id, rnk
    """))

  /** [[vKnnMulti]] served EXACTLY from the codes sidecar — the batched
    * form of [[vKnnIndexed]]'s bound pipeline
    * ([[graft.sources.QuantIndex.cosineCandidatesMulti]]: all five
    * queries share the two codes-only scans, per-query θ heaps
    * map-side, job budget independent of the batch size). The exact
    * stage probes the UNION candidate set once and scores every
    * (query, row) pair — correct because a row outside query q's
    * candidate set has ub < θ_q ≤ q's n-th-best cosine, so it can
    * never enter q's top-n whatever pool it rides in. Same oracle as
    * `v_knn_multi`: EXACT batched kNN at codes-sidecar stage-1 IO. */
  val vKnnMultiIndexed = Q("v_knn_multi_indexed",
    (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val qs = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val queries = (0L until 5L).map(i => i -> queryVec(s, dir, i))
      val cands = graft.sources.QuantIndex
        .cosineCandidatesMulti(s, quantIndexDir(s, dir), queries, 3)
        .select("vec_id").distinct()
      Knn.knnMulti(
          graft.operators.GraphAnn.inIdsFrame(emb, "vec_id", cands),
          qs, "embedding", "qid", "qv", 3)
        .select("query_id", "vec_id", "score", "rnk")
        .orderBy("query_id", "rnk")
    },
    vKnnMulti.oracle)

  /** V2 via the bounded-heap TypedImperativeAggregate (same oracle as
    * v_knn_multi — the two physical forms must hash-match). */
  val vKnnMultiAgg = Q("v_knn_multi_agg",
    (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val qs = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      Knn.knnMultiAgg(emb, qs, "embedding", "qid", "qv", 3)
        .select("query_id", "vec_id", "score", "rnk")
        .orderBy("query_id", "rnk")
    },
    vKnnMulti.oracle)

  /** V2 — BATCH search with PER-QUERY filters (Qdrant `search_batch`:
    * each request in the batch carries its own filter; one carries
    * none). The whole batch costs ONE collection pass: the per-query
    * predicate is broadcast DATA in the join condition (non-matching
    * pairs drop map-side, before scoring), and the bounded-heap
    * aggregate keeps k per query across the shuffle — the
    * v_knn_multi_agg shape with heterogeneous filters. */
  val vKnnBatch = Q("v_knn_batch",
    (s, dir) => {
      import s.implicits._
      val emb = Tables.load(s, dir, "embeddings")
      val ex = graft.operators.Recommend.exampleVectors(
        emb, "vec_id", "embedding", Seq(0L, 1L, 2L))
      val qs = Seq(
        (0L, ex(0), Some(3L)),  // filtered: label = 3
        (1L, ex(1), Some(7L)),  // filtered: label = 7
        (2L, ex(2), Option.empty[Long])) // unfiltered request
        .toDF("qid", "qv", "want_label")
      Knn.knnBatchFiltered(emb, qs, "embedding", "qid", "qv",
          "want_label", "label", 5)
        .orderBy("query_id", "rnk")
    },
    Some("""
      WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
                 FROM embeddings),
      q AS (
        SELECT 0 AS qid, (SELECT v FROM e WHERE vec_id = 0) AS qv, 3 AS want
        UNION ALL
        SELECT 1, (SELECT v FROM e WHERE vec_id = 1), 7
        UNION ALL
        SELECT 2, (SELECT v FROM e WHERE vec_id = 2), NULL),
      sc AS (
        SELECT q.qid, e.vec_id,
               CAST(floor(list_cosine_similarity(e.v, q.qv) * 1000000 + 0.5)
                 AS BIGINT) AS score_micro
        FROM e JOIN q ON q.want IS NULL OR e.label = q.want),
      r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
              ORDER BY score_micro DESC, vec_id) AS rnk FROM sc)
      SELECT CAST(qid AS BIGINT) AS query_id, vec_id, score_micro,
             CAST(rnk AS INT) AS rnk
      FROM r WHERE rnk <= 5
      ORDER BY query_id, rnk"""))

  /** V2+V3 — batch search where each request carries its OWN payload
    * DSL filter (the full `query_batch_points` shape; `v_knn_batch`
    * covers the value-equality special case): query 0 runs under a
    * match.any + range conjunction, query 3 under a match.except —
    * heterogeneous predicates, ONE collection pass
    * ([[graft.operators.Knn.knnBatchDsl]] — pairs drop map-side before
    * scoring, bounded per-query heaps). The oracle replays both
    * filtered chains in one statement. */
  val vKnnBatchDsl = Q("v_knn_batch_dsl",
    (s, dir) => {
      import graft.operators.PayloadFilter
      val emb = Tables.load(s, dir, "embeddings")
      Knn.knnBatchDsl(emb, Seq(
          (0L, queryVec(s, dir, 0), PayloadFilter.fromJson(
            """{"must": [
                 {"key": "label", "match": {"any": [2, 3, 5]}},
                 {"key": "vec_id", "range": {"gte": 10}}]}""",
            idCol = "vec_id")),
          (3L, queryVec(s, dir, 3), PayloadFilter.fromJson(
            """{"must": [{"key": "label", "match": {"except": [0, 1]}}]}""",
            idCol = "vec_id"))),
        "embedding", 10)
    },
    Some(s"""
      WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
                 FROM embeddings),
      r0 AS (
        SELECT CAST(0 AS BIGINT) AS query_id, vec_id,
               CAST(floor(list_cosine_similarity(v,
                 (SELECT v FROM e WHERE vec_id = 0)) * 1000000 + 0.5)
                 AS BIGINT) AS score_micro
        FROM e
        WHERE label IN (2, 3, 5) AND vec_id >= 10
        ORDER BY list_cosine_similarity(v,
          (SELECT v FROM e WHERE vec_id = 0)) DESC, vec_id
        LIMIT 10),
      r3 AS (
        SELECT CAST(3 AS BIGINT) AS query_id, vec_id,
               CAST(floor(list_cosine_similarity(v,
                 (SELECT v FROM e WHERE vec_id = 3)) * 1000000 + 0.5)
                 AS BIGINT) AS score_micro
        FROM e
        WHERE label NOT IN (0, 1) OR label IS NULL
        ORDER BY list_cosine_similarity(v,
          (SELECT v FROM e WHERE vec_id = 3)) DESC, vec_id
        LIMIT 10)
      SELECT * FROM r0 UNION ALL SELECT * FROM r3"""))

  /** V3 — payload-filtered kNN (the Qdrant filter-DSL surface): predicate
    * applied BEFORE scoring, so the filter pushes to the parquet scan. */
  val vKnnFiltered = Q("v_knn_filtered",
    (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings").filter(col("label") === 3)
      Knn.knn(emb, "embedding", queryVec(s, dir, 0), 10)
        .select("vec_id", "label", "score")
    },
    Some(s"""
      SELECT vec_id, label,
             ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]), $oracleQ0), 6) AS score
      FROM embeddings
      WHERE label = 3
      ORDER BY score DESC, vec_id
      LIMIT 10
    """))

  /** Memoized payload-field index on `label` (sources/PayloadIndex —
    * the Qdrant `create_payload_index` analog). */
  private[graft] def payloadIdxDir(s: org.apache.spark.sql.SparkSession,
                            dir: String): String =
    Tables.memoTempDir("payloadidx", dir) { target =>
      graft.sources.PayloadIndex.build(
        Tables.load(s, dir, "embeddings"), "label", "vec_id", target)
    }

  /** V3 over a DECLARED payload field index: the same filtered kNN as
    * `v_knn_filtered`, served from the (key value-bucket)-partitioned
    * index layout — the equality predicate constant-folds to a literal
    * `pbucket` partition filter, so pruning happens at FILE LISTING time
    * (PartitionFilters-asserted in OperatorSpec), with the residual
    * equality pushed to row groups. Oracle: the IDENTICAL SQL as the
    * unindexed filter — materialization must not change a row. */
  val vKnnPayloadIndexed = Q("v_knn_payload_indexed",
    (s, dir) => {
      val served = graft.sources.PayloadIndex.forValue(
        s, payloadIdxDir(s, dir), 3)
      Knn.knn(served, "embedding", queryVec(s, dir, 0), 10)
        .select("vec_id", "label", "score")
    },
    Some(s"""
      SELECT vec_id, label,
             ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]), $oracleQ0), 6) AS score
      FROM embeddings
      WHERE label = 3
      ORDER BY score DESC, vec_id
      LIMIT 10
    """))

  /** V3 via the Qdrant filter DSL: the JSON filter language the
    * reference's collections are queried with, translated to a Catalyst
    * predicate (operators/PayloadFilter) — must + match + range compose
    * and push down to the scan like a hand-written WHERE. */
  val vKnnDsl = Q("v_knn_dsl",
    (s, dir) => {
      val filter = graft.operators.PayloadFilter.fromJson("""
        {"must": [
          {"key": "label", "match": {"any": [2, 3, 5]}},
          {"key": "vec_id", "range": {"gte": 10, "lt": 400}}
        ]}""")
      val emb = Tables.load(s, dir, "embeddings").filter(filter)
      Knn.knn(emb, "embedding", queryVec(s, dir, 0), 10)
        .select("vec_id", "label", "score")
    },
    Some(s"""
      SELECT vec_id, label,
             ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]), $oracleQ0), 6) AS score
      FROM embeddings
      WHERE label IN (2, 3, 5) AND vec_id >= 10 AND vec_id < 400
      ORDER BY score DESC, vec_id
      LIMIT 10
    """))

  /** [[vKnnDsl]] through the INDEX-AWARE router
    * ([[graft.sources.IndexRouter]]): the caller declares which keys
    * carry payload indexes and submits the SAME DSL — the router
    * consults the declarations the way the Qdrant server consults its
    * field indexes, serves the base read from the label hash index
    * (`match.any` → forValues: literal pbucket partition pruning at
    * file listing), and re-applies the full DSL as the residual. Same
    * oracle as `v_knn_dsl`: routing is an IO decision, never a
    * semantic one. */
  val vKnnDslRouted = Q("v_knn_dsl_routed",
    (s, dir) => {
      val dsl = """
        {"must": [
          {"key": "label", "match": {"any": [2, 3, 5]}},
          {"key": "vec_id", "range": {"gte": 10, "lt": 400}}
        ]}"""
      val served = graft.sources.IndexRouter.filtered(s,
        Tables.load(s, dir, "embeddings"),
        Seq("label" -> payloadIdxDir(s, dir)), dsl, idCol = "vec_id")
      Knn.knn(served, "embedding", queryVec(s, dir, 0), 10)
        .select("vec_id", "label", "score")
    },
    vKnnDsl.oracle)

  /** Deterministic synthetic geo coordinates for the embeddings table
    * (exact integer arithmetic → one correctly-rounded division →
    * identical doubles in both engines) — shared by the in-plan geo
    * filter, the geo index build, the geo-routed DSL key, and the geo
    * specs (one formula, no drift between test and serving frames). */
  private[graft] def geoLocated(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    df.withColumn("location", struct(
      ((col("vec_id") * 37) % 18000 / lit(100.0) - lit(90.0)).as("lat"),
      ((col("vec_id") * 73) % 36000 / lit(100.0) - lit(180.0)).as("lon")))

  /** Memoized GEO payload index over the synthetic coordinates
    * (sources/PayloadIndex geo field schema, auto-sized cell grain). */
  private[graft] def geoIdxDir(s: org.apache.spark.sql.SparkSession,
                               dir: String): String =
    Tables.memoTempDir("geoidx", dir) { target =>
      graft.sources.PayloadIndex.buildGeo(
        geoLocated(Tables.load(s, dir, "embeddings")),
        "location", "vec_id", target)
    }

  /** V3 — GEO payload condition oracle-gated (r7): `geo_bounding_box` is
    * pure comparisons (unlike geo_radius' haversine, whose trig is not
    * exact-hash-replayable — that path stays spec-gated in
    * PayloadFilterSpec), so the box condition gets a full oracle row.
    * Points get deterministic synthetic coordinates ([[geoLocated]]);
    * the DSL predicate then drives a filtered top-k. */
  val vKnnGeo = Q("v_knn_geo",
    (s, dir) => {
      val filter = graft.operators.PayloadFilter.fromJson("""
        {"must": [
          {"key": "location", "geo_bounding_box": {
            "top_left":     {"lat": 40.0, "lon": -20.0},
            "bottom_right": {"lat": -40.0, "lon": 120.0}
          }}
        ]}""")
      val emb = geoLocated(Tables.load(s, dir, "embeddings"))
        .filter(filter)
      Knn.knn(emb, "embedding", queryVec(s, dir, 0), 10)
        .select(col("vec_id"), col("label"),
          floor(col("location.lat") * 100 + lit(0.5)).cast("long")
            .as("lat_centi"),
          floor(col("location.lon") * 100 + lit(0.5)).cast("long")
            .as("lon_centi"),
          col("score"))
    },
    Some(s"""
      WITH g AS (
        SELECT vec_id, label, embedding,
               (vec_id * 37) % 18000 / 100.0 - 90.0 AS lat,
               (vec_id * 73) % 36000 / 100.0 - 180.0 AS lon
        FROM embeddings)
      SELECT vec_id, label,
             CAST(floor(lat * 100 + 0.5) AS BIGINT) AS lat_centi,
             CAST(floor(lon * 100 + 0.5) AS BIGINT) AS lon_centi,
             ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]), $oracleQ0), 6) AS score
      FROM g
      WHERE lat <= 40.0 AND lat >= -40.0 AND lon >= -20.0 AND lon <= 120.0
      ORDER BY score DESC, vec_id
      LIMIT 10"""))

  /** V3 over a DECLARED GEO payload index (the last Qdrant
    * `create_payload_index` field schema — keyword/integer/float/bool/
    * uuid equality, integer/float/datetime ranges, full-text and geo
    * are now all declarable): the same bounding-box-filtered kNN as
    * `v_knn_geo`, served from the 2-D cell-partitioned layout — the
    * box's cell window becomes literal `plat`/`plon` partition filters,
    * so file listing prunes BOTH axes (PartitionFilters-asserted in
    * OperatorSpec), with the exact box comparisons as the residual.
    * Oracle: IDENTICAL SQL as the unindexed geo filter —
    * materialization must not change a row. The ROUTED form runs the
    * ORIGINAL geo DSL unchanged through IndexRouter with `location`
    * declared. */
  val vKnnGeoIndexed = Q("v_knn_geo_indexed",
    (s, dir) => {
      val served = graft.sources.PayloadIndex.forGeoBox(
        s, geoIdxDir(s, dir), 40.0, -20.0, -40.0, 120.0)
      Knn.knn(served, "embedding", queryVec(s, dir, 0), 10)
        .select(col("vec_id"), col("label"),
          floor(col("location.lat") * 100 + lit(0.5)).cast("long")
            .as("lat_centi"),
          floor(col("location.lon") * 100 + lit(0.5)).cast("long")
            .as("lon_centi"),
          col("score"))
    },
    vKnnGeo.oracle)

  /** V3 — the extended DSL conditions (match.except + values_count), the
    * Qdrant predicates a payload-filtered search hits next after
    * must/match/range. */
  val vKnnDslExcept = Q("v_knn_dsl_except",
    (s, dir) => {
      val filter = graft.operators.PayloadFilter.fromJson("""
        {"must": [
          {"key": "label", "match": {"except": [0, 1, 7]}},
          {"key": "embedding", "values_count": {"gte": 64, "lte": 64}}
        ]}""")
      val emb = Tables.load(s, dir, "embeddings").filter(filter)
      Knn.knn(emb, "embedding", queryVec(s, dir, 0), 10)
        .select("vec_id", "label", "score")
    },
    Some(s"""
      SELECT vec_id, label,
             ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]), $oracleQ0), 6) AS score
      FROM embeddings
      -- IS NULL arm mirrors match.except's missing-value-passes semantics
      -- (bare NOT IN would drop NULL labels that the engine keeps)
      WHERE (label NOT IN (0, 1, 7) OR label IS NULL)
        AND len(embedding) >= 64 AND len(embedding) <= 64
      ORDER BY score DESC, vec_id
      LIMIT 10
    """))

  /** V3 — nested array paths (`key[].sub`) + `has_id`: the remaining
    * public Qdrant filter conditions. The payload is synthesized
    * deterministically from fixture columns (`{"tags":[{"t":label},
    * {"t":label+1}]}`), so the DSL's any-element match over a REAL nested
    * JSON document stays oracle-replayable: `tags[].t == 3` admits labels
    * {2, 3}; `must_not has_id` excludes points 0–4 by id, never via the
    * payload. The JSON parse can't push to the scan (documented DSL
    * behavior for nested paths); the id exclusion still does. */
  val vKnnDslNested = Q("v_knn_dsl_nested",
    (s, dir) => {
      val filter = graft.operators.PayloadFilter.fromJson("""
        {"must": [
          {"key": "tags[].t", "match": {"value": 3}}
        ],
         "must_not": [
          {"has_id": [0, 1, 2, 3, 4]}
        ]}""", jsonCol = Some("payload"), idCol = "vec_id")
      val emb = Tables.load(s, dir, "embeddings")
        .withColumn("payload", to_json(struct(
          array(struct(col("label").as("t")),
            struct((col("label") + 1).as("t"))).as("tags"))))
        .filter(filter)
      Knn.knn(emb, "embedding", queryVec(s, dir, 0), 10)
        .select("vec_id", "label", "score")
    },
    Some(s"""
      SELECT vec_id, label,
             ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]), $oracleQ0), 6) AS score
      FROM embeddings
      -- tags[].t any-element match over [label, label+1], id exclusion
      WHERE list_contains([label, label + 1], 3)
        AND NOT list_contains([0, 1, 2, 3, 4], vec_id)
      ORDER BY score DESC, vec_id
      LIMIT 10
    """))

  /** V3 — the `nested` CONDITION (same-element conjunction), JSON-payload
    * mode. Each point's payload plants TWO objects under `tags`:
    * `{t: label, w: 1}` and `{t: label+1, w: 2}`. The nested filter asks
    * for ONE element with `t == 3` AND `w >= 2` — only the second element
    * can carry `w >= 2`, so the filter admits exactly `label == 2`. The
    * any-element reading (`tags[].t match 3` + `tags[].w gte 2`, each
    * path quantifying independently — `v_knn_dsl_nested`'s semantics)
    * would ALSO admit `label == 3` via t from the first element and w
    * from the second; the oracle replays the per-element conjunction, so
    * a regression to any-element semantics is a row diff, not a nuance. */
  val vKnnDslNestedObj = Q("v_knn_dsl_nested_obj",
    (s, dir) => {
      val filter = graft.operators.PayloadFilter.fromJson("""
        {"must": [
          {"nested": {"key": "tags", "filter": {"must": [
            {"key": "t", "match": {"value": 3}},
            {"key": "w", "range": {"gte": 2}}
          ]}}}
        ]}""", jsonCol = Some("payload"), idCol = "vec_id")
      val emb = Tables.load(s, dir, "embeddings")
        .withColumn("payload", to_json(struct(
          array(struct(col("label").as("t"), lit(1).as("w")),
            struct((col("label") + 1).as("t"), lit(2).as("w")))
            .as("tags"))))
        .filter(filter)
      Knn.knn(emb, "embedding", queryVec(s, dir, 0), 10)
        .select("vec_id", "label", "score")
    },
    Some(s"""
      SELECT vec_id, label,
             ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]), $oracleQ0), 6) AS score
      FROM embeddings
      -- same-element conjunction over the planted elements
      -- (t=label, w=1) and (t=label+1, w=2): only the second can satisfy
      -- w >= 2 (any-element semantics would also admit label = 3)
      WHERE (label = 3 AND 1 >= 2) OR (label + 1 = 3 AND 2 >= 2)
      ORDER BY score DESC, vec_id
      LIMIT 10
    """))

  /** [[vKnnDslNestedObj]] in TYPED mode: the same nested filter over a
    * REAL array-of-struct column (no JSON payload) — the inner filter's
    * keys resolve as struct fields of the quantified element. Same oracle:
    * the two key-resolution modes must agree row-for-row. */
  val vKnnDslNestedTyped = Q("v_knn_dsl_nested_typed",
    (s, dir) => {
      val filter = graft.operators.PayloadFilter.fromJson("""
        {"must": [
          {"nested": {"key": "tags", "filter": {"must": [
            {"key": "t", "match": {"value": 3}},
            {"key": "w", "range": {"gte": 2}}
          ]}}}
        ]}""", idCol = "vec_id")
      val emb = Tables.load(s, dir, "embeddings")
        .withColumn("tags",
          array(struct(col("label").cast("long").as("t"), lit(1L).as("w")),
            struct((col("label") + 1).cast("long").as("t"),
              lit(2L).as("w"))))
        .filter(filter)
      Knn.knn(emb, "embedding", queryVec(s, dir, 0), 10)
        .select("vec_id", "label", "score")
    },
    vKnnDslNestedObj.oracle)

  /** One polygon for the geo_polygon keys and their specs: a NON-CONVEX
    * pentagon (ray casting must handle the concavity — a bounding-box or
    * convex-hull shortcut returns different rows) with one rectangular
    * interior hole, both rings explicitly closed (first == last, the
    * Qdrant wire shape). Shared by the DSL JSON, the oracle SQL, and the
    * routed twin so there is exactly one source of vertices. */
  private[graft] val polyExt: Seq[(Double, Double)] = Seq(
    (60.0, -120.0), (60.0, 40.0), (-20.0, 100.0), (-60.0, -40.0),
    (0.0, -10.0), (60.0, -120.0))
  private[graft] val polyHole: Seq[(Double, Double)] = Seq(
    (20.0, 10.0), (20.0, 40.0), (0.0, 40.0), (0.0, 10.0),
    (20.0, 10.0))

  private def polyPointsJson(ring: Seq[(Double, Double)]): String =
    ring.map { case (la, lo) => s"""{"lat": $la, "lon": $lo}""" }
      .mkString("[", ", ", "]")

  private[graft] def geoPolyDsl: String = s"""
    {"must": [
      {"key": "location", "geo_polygon": {
        "exterior":  {"points": ${polyPointsJson(polyExt)}},
        "interiors": [{"points": ${polyPointsJson(polyHole)}}]
      }}
    ]}"""

  /** SQL replay of [[graft.operators.PayloadFilter.pointInRing]]: the
    * identical per-edge straddle + division-free crossing tests in
    * integer micro-degrees, unrolled over the ring's literal edges
    * (integer arithmetic on both engines → exact hash parity). */
  private[graft] def polygonOracleSql(latM: String, lonM: String,
      ringDeg: Seq[(Double, Double)]): String = {
    val ringAll = ringDeg.map { case (la, lo) =>
      (math.round(la * 1e6), math.round(lo * 1e6)) }
    val ring =
      if (ringAll.length > 1 && ringAll.head == ringAll.last) ringAll.init
      else ringAll
    val terms = ring.indices.map { i =>
      val (y1, x1) = ring(i)
      val (y2, x2) = ring((i + 1) % ring.length)
      if (y1 == y2) "0"
      else {
        val cmp = if (y2 > y1) "<" else ">"
        s"(CASE WHEN (($y1 > $latM) <> ($y2 > $latM)) AND " +
          s"(($lonM - ($x1)) * (${y2 - y1}) $cmp (${x2 - x1}) * " +
          s"($latM - ($y1))) THEN 1 ELSE 0 END)"
      }
    }
    s"((${terms.mkString(" + ")}) % 2 = 1)"
  }

  /** V3 — `geo_polygon` (the third public Qdrant geo condition): exact
    * point-in-polygon over the synthetic coordinates, exterior minus the
    * hole. Ray casting runs in integer micro-degrees with division-free
    * crossing tests (PayloadFilter object doc), so — unlike geo_radius'
    * haversine — the polygon condition is exactly oracle-replayable. */
  val vKnnGeoPoly = Q("v_knn_geo_poly",
    (s, dir) => {
      val filter = graft.operators.PayloadFilter.fromJson(geoPolyDsl,
        idCol = "vec_id")
      val emb = geoLocated(Tables.load(s, dir, "embeddings"))
        .filter(filter)
      Knn.knn(emb, "embedding", queryVec(s, dir, 0), 10)
        .select(col("vec_id"), col("label"),
          floor(col("location.lat") * 100 + lit(0.5)).cast("long")
            .as("lat_centi"),
          floor(col("location.lon") * 100 + lit(0.5)).cast("long")
            .as("lon_centi"),
          col("score"))
    },
    Some(s"""
      WITH g AS (
        SELECT vec_id, label, embedding,
               (vec_id * 37) % 18000 / 100.0 - 90.0 AS lat,
               (vec_id * 73) % 36000 / 100.0 - 180.0 AS lon
        FROM embeddings),
      m AS (
        SELECT *, CAST(floor(lat * 1000000 + 0.5) AS BIGINT) AS ym,
               CAST(floor(lon * 1000000 + 0.5) AS BIGINT) AS xm
        FROM g)
      SELECT vec_id, label,
             CAST(floor(lat * 100 + 0.5) AS BIGINT) AS lat_centi,
             CAST(floor(lon * 100 + 0.5) AS BIGINT) AS lon_centi,
             ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]), $oracleQ0), 6) AS score
      FROM m
      WHERE ${polygonOracleSql("ym", "xm", polyExt)}
        AND NOT ${polygonOracleSql("ym", "xm", polyHole)}
      ORDER BY score DESC, vec_id
      LIMIT 10"""))

  /** [[vKnnGeoPoly]] ROUTED through the declared geo index: the router
    * prunes the base read to the polygon EXTERIOR's bounding-box cell
    * window (file-listing pruning, the `v_knn_geo_indexed` read) and the
    * full DSL — including the exact ray-cast polygon — re-applies as the
    * residual. Same oracle: routing is an IO decision. */
  val vKnnGeoPolyRouted = Q("v_knn_geo_poly_routed",
    (s, dir) => {
      val served = graft.sources.IndexRouter.filtered(s,
        geoLocated(Tables.load(s, dir, "embeddings")),
        Seq("location" -> geoIdxDir(s, dir)), geoPolyDsl, idCol = "vec_id")
      Knn.knn(served, "embedding", queryVec(s, dir, 0), 10)
        .select(col("vec_id"), col("label"),
          floor(col("location.lat") * 100 + lit(0.5)).cast("long")
            .as("lat_centi"),
          floor(col("location.lon") * 100 + lit(0.5)).cast("long")
            .as("lon_centi"),
          col("score"))
    },
    vKnnGeoPoly.oracle)

  /** [[vKnnGeo]]'s box ROUTED through the r13 COST-GATED geo arm on its
    * routing branch: a selective window (lat [0, 40] × lon [0, 60] ≈
    * 3.7% of the pinned extent — under GeoRouteMaxFraction) served through
    * the declared geo index's cell window + full-DSL residual. The
    * query pins `graft.geo.routeMinRows = 0` for plan construction: the
    * rows floor exists because gate/probe-scale corpora are too small
    * for ANY cell listing to pay (SURVEY §8.8), and the gate's job is
    * to hold the ROUTED read row-identical to the unrouted predicate at
    * every SF — the plan the floor picks unaided is the direct scan
    * both forms equal. Same-shape oracle as `v_knn_geo` with the
    * selective bounds: routing is an IO decision. */
  val vKnnGeoSelRouted = Q("v_knn_geo_sel_routed",
    (s, dir) => {
      val dsl = """
        {"must": [
          {"key": "location", "geo_bounding_box": {
            "top_left":     {"lat": 40.0, "lon": 0.0},
            "bottom_right": {"lat": 0.0, "lon": 60.0}
          }}
        ]}"""
      s.conf.set("graft.geo.routeMinRows", "0")
      val served = try graft.sources.IndexRouter.filtered(s,
        geoLocated(Tables.load(s, dir, "embeddings")),
        Seq("location" -> geoIdxDir(s, dir)), dsl, idCol = "vec_id")
      finally s.conf.unset("graft.geo.routeMinRows")
      Knn.knn(served, "embedding", queryVec(s, dir, 0), 10)
        .select(col("vec_id"), col("label"),
          floor(col("location.lat") * 100 + lit(0.5)).cast("long")
            .as("lat_centi"),
          floor(col("location.lon") * 100 + lit(0.5)).cast("long")
            .as("lon_centi"),
          col("score"))
    },
    Some(s"""
      WITH g AS (
        SELECT vec_id, label, embedding,
               (vec_id * 37) % 18000 / 100.0 - 90.0 AS lat,
               (vec_id * 73) % 36000 / 100.0 - 180.0 AS lon
        FROM embeddings)
      SELECT vec_id, label,
             CAST(floor(lat * 100 + 0.5) AS BIGINT) AS lat_centi,
             CAST(floor(lon * 100 + 0.5) AS BIGINT) AS lon_centi,
             ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]), $oracleQ0), 6) AS score
      FROM g
      WHERE lat <= 40.0 AND lat >= 0.0 AND lon >= 0.0 AND lon <= 60.0
      ORDER BY score DESC, vec_id
      LIMIT 10"""))

  /** V3 — `geo_radius` ORACLE-GATED (r13, closing the family's last
    * spec-only gap): the haversine itself is transcendental (Java and
    * DuckDB trig differ at the last ulp), so exactness comes from the
    * WIDE-MARGIN fixture contract instead of bit-identical trig — the
    * dedup_semantic planting trick. The synthetic coordinates are a
    * 0.01° grid scattered over the globe; the nearest point-distance to
    * the 3,000 km ring is hundreds of meters at every gate SF
    * (empirically verified, r13 — recorded in the SURVEY), while
    * cross-engine trig divergence is sub-millimeter at Earth scale: no
    * row can flip. DuckDB computes its own haversine from its own
    * trig. */
  val vKnnGeoRadius = Q("v_knn_geo_radius",
    (s, dir) => {
      val filter = graft.operators.PayloadFilter.fromJson("""
        {"must": [
          {"key": "location", "geo_radius": {
            "center": {"lat": 10.0, "lon": 20.0}, "radius": 3000000}}
        ]}""")
      val emb = geoLocated(Tables.load(s, dir, "embeddings"))
        .filter(filter)
      Knn.knn(emb, "embedding", queryVec(s, dir, 0), 10)
        .select(col("vec_id"), col("label"),
          floor(col("location.lat") * 100 + lit(0.5)).cast("long")
            .as("lat_centi"),
          floor(col("location.lon") * 100 + lit(0.5)).cast("long")
            .as("lon_centi"),
          col("score"))
    },
    Some(s"""
      WITH g AS (
        SELECT vec_id, label, embedding,
               (vec_id * 37) % 18000 / 100.0 - 90.0 AS lat,
               (vec_id * 73) % 36000 / 100.0 - 180.0 AS lon
        FROM embeddings)
      SELECT vec_id, label,
             CAST(floor(lat * 100 + 0.5) AS BIGINT) AS lat_centi,
             CAST(floor(lon * 100 + 0.5) AS BIGINT) AS lon_centi,
             ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]), $oracleQ0), 6) AS score
      FROM g
      WHERE 2 * 6371000.0 * asin(sqrt(
              sin(radians(lat - 10.0) / 2) * sin(radians(lat - 10.0) / 2)
              + cos(radians(10.0)) * cos(radians(lat))
                * sin(radians(lon - 20.0) / 2)
                * sin(radians(lon - 20.0) / 2))) <= 3000000.0
      ORDER BY score DESC, vec_id
      LIMIT 10"""))

  /** V3 — `has_vector` + `min_should` (the last public filter-DSL
    * completions) over the PARTIAL named-vector state (vec_id % 3 == 0
    * points lack `text_vec`, vec_id % 5 == 0 lack `image_vec` — the
    * state `deleteVectorsWhere` produces, exercised against a live
    * collection in PayloadFilterSpec): `has_vector text_vec` gates the
    * searchable space; `min_should` keeps points matching at least 2 of
    * {label ∈ {1,2,3}, vec_id < 700, has image_vec}. */
  val vKnnDslMinShould = Q("v_knn_dsl_min_should",
    (s, dir) => {
      val filter = graft.operators.PayloadFilter.fromJson("""
        {"must": [{"has_vector": "text_vec"}],
         "min_should": {"conditions": [
           {"key": "label", "match": {"any": [1, 2, 3]}},
           {"key": "vec_id", "range": {"lt": 700}},
           {"has_vector": "image_vec"}
         ], "min_count": 2}}""", idCol = "vec_id")
      val emb = Tables.load(s, dir, "embeddings")
      val pts = emb.select(col("vec_id"), col("label"),
        when(col("vec_id") % 3 =!= 0, col("embedding")).as("text_vec"),
        when(col("vec_id") % 5 =!= 0, reverse(col("embedding")))
          .as("image_vec"))
      Knn.knn(pts.filter(filter), "text_vec", queryVec(s, dir, 0), 10)
        .select("vec_id", "label", "score")
    },
    Some(s"""
      WITH p AS (
        SELECT vec_id, label,
               CASE WHEN vec_id % 3 <> 0
                 THEN CAST(embedding AS DOUBLE[]) END AS tv,
               vec_id % 5 <> 0 AS has_iv
        FROM embeddings)
      SELECT vec_id, label,
             ROUND(list_cosine_similarity(tv, $oracleQ0), 6) AS score
      FROM p
      WHERE tv IS NOT NULL
        AND (CASE WHEN label IN (1, 2, 3) THEN 1 ELSE 0 END)
          + (CASE WHEN vec_id < 700 THEN 1 ELSE 0 END)
          + (CASE WHEN has_iv THEN 1 ELSE 0 END) >= 2
      ORDER BY score DESC, vec_id
      LIMIT 10"""))

  /** V8 — PARTIAL named vectors (Qdrant: a point may carry any subset of
    * the declared named vectors): a mixed collection where vec_id % 3 == 0
    * points lack `text_vec` and vec_id % 5 == 0 points lack `image_vec`
    * (both ⇒ the point is in neither queried space and is NOT returned).
    * Scoring = Fusion.blendPartial — a missing side is SKIPPED (weight
    * renormalizes over present sides), never zeroed. Scores are shifted
    * cosine micro-ints (+10^6 ⇒ non-negative ⇒ Spark DIV == DuckDB //).
    * Same narrow one-pass shape as v_fusion; TakeOrderedAndProject. */
  val vFusionPartial = Q("v_fusion_partial",
    (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val q0 = typedLit(queryVec(s, dir, 0))
      val q1 = typedLit(queryVec(s, dir, 1))
      def shifted(v: org.apache.spark.sql.Column,
                  q: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        when(v.isNotNull,
          floor(VectorOps.cosine(v, q) * 1000000 + lit(0.5)).cast("long")
            + lit(1000000L))
      val pts = emb.select(col("vec_id"), col("label"),
        when(col("vec_id") % 3 =!= 0, col("embedding")).as("text_vec"),
        when(col("vec_id") % 5 =!= 0, reverse(col("embedding")))
          .as("image_vec"))
      pts
        .withColumn("score_micro", graft.operators.Fusion.blendPartial(Seq(
          (shifted(col("text_vec"), q0), 700L),
          (shifted(col("image_vec"), q1), 300L))))
        .filter(col("score_micro").isNotNull)
        .orderBy(desc("score_micro"), col("vec_id"))
        .limit(10)
        .select("vec_id", "label", "score_micro")
    },
    Some({
      val q1 = "(SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 1)"
      s"""
      WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
                 FROM embeddings),
      p AS (SELECT vec_id, label,
              CASE WHEN vec_id % 3 <> 0 THEN v END AS tv,
              CASE WHEN vec_id % 5 <> 0 THEN list_reverse(v) END AS iv
            FROM e),
      sc AS (SELECT vec_id, label,
               CASE WHEN tv IS NOT NULL THEN CAST(floor(
                 list_cosine_similarity(tv, $oracleQ0) * 1000000 + 0.5)
                 AS BIGINT) + 1000000 END AS ts,
               CASE WHEN iv IS NOT NULL THEN CAST(floor(
                 list_cosine_similarity(iv, $q1) * 1000000 + 0.5)
                 AS BIGINT) + 1000000 END AS isc
             FROM p)
      SELECT vec_id, label,
             (COALESCE(ts * 700, 0) + COALESCE(isc * 300, 0))
               // (CASE WHEN ts IS NOT NULL THEN 700 ELSE 0 END
                  + CASE WHEN isc IS NOT NULL THEN 300 ELSE 0 END)
               AS score_micro
      FROM sc
      WHERE ts IS NOT NULL OR isc IS NOT NULL
      ORDER BY score_micro DESC, vec_id
      LIMIT 10"""
    }))

  /** The pairwise-cosine max/sum tree of [[vMaxsim]]'s oracle, generated
    * to mirror Fusion.maxSim term-for-term (same slices, same micro-int
    * floors, same greatest/sum shape). */
  private def maxSimSql(dim: Int, subDim: Int): String = {
    val parts = dim / subDim
    def sl(c: String, i: Int) = s"$c[${i * subDim + 1}:${(i + 1) * subDim}]"
    (0 until parts).map { i =>
      val cands = (0 until parts).map { j =>
        s"CAST(floor(list_cosine_similarity(${sl("e.v", j)}, " +
          s"${sl("q.qv", i)}) * 1000000 + 0.5) AS BIGINT)"
      }.mkString(", ")
      s"greatest($cands)"
    }.mkString(" + ")
  }

  /** V8 — late-interaction MULTIVECTOR scoring (the public Qdrant
    * multivector max-sim comparator / ColBERT scoring): the 64-dim
    * vector reinterpreted as 4 stacked 16-dim sub-vectors on both sides;
    * score = Σ over query sub-vectors of the max cosine against the
    * doc's sub-vectors. All in-row (16 fused cosines over slices), exact
    * integer result, TakeOrderedAndProject tail. */
  val vMaxsim = Q("v_maxsim",
    (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      emb.withColumn("maxsim",
          graft.operators.Fusion.maxSim(col("embedding"),
            queryVec(s, dir, 0), 16))
        .orderBy(desc("maxsim"), col("vec_id"))
        .limit(10)
        .select("vec_id", "label", "maxsim")
    },
    Some(s"""
      WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
                 FROM embeddings),
      q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
      SELECT e.vec_id, e.label, ${maxSimSql(64, 16)} AS maxsim
      FROM e, q
      ORDER BY maxsim DESC, e.vec_id
      LIMIT 10"""))

  /** V4 — L2 (Chroma's default space): nearest 10 by euclidean distance. */
  val vL2 = Q("v_l2",
    (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      emb.withColumn("dist",
          round(VectorOps.l2(col("embedding"),
            typedLit(queryVec(s, dir, 0))), 6))
        .orderBy(asc("dist"), col("vec_id"))
        .limit(10)
        .select("vec_id", "label", "dist")
    },
    Some(s"""
      SELECT vec_id, label,
             ROUND(list_distance(CAST(embedding AS DOUBLE[]), $oracleQ0), 6) AS dist
      FROM embeddings
      ORDER BY dist ASC, vec_id
      LIMIT 10
    """))

  /** V4 — MANHATTAN (L1) distance: Qdrant's fourth public collection
    * metric (`Distance.MANHATTAN`), completing cosine/L2/dot. Fused
    * L1DistExpr (one codegen loop, index-order accumulation — same IEEE
    * ops in the same order as the oracle's per-index replay, so the
    * micro-int quantization is exact on both sides). */
  val vManhattan = Q("v_manhattan",
    (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      emb.withColumn("dist_micro",
          floor(VectorOps.l1(col("embedding"),
            typedLit(queryVec(s, dir, 0))) * 1000000 + lit(0.5))
            .cast("long"))
        .orderBy(asc("dist_micro"), col("vec_id"))
        .limit(10)
        .select("vec_id", "label", "dist_micro")
    },
    Some(s"""
      WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
                 FROM embeddings),
      q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
      SELECT e.vec_id, e.label,
             CAST(floor(list_sum(list_transform(range(len(e.v)),
               i -> abs(e.v[i+1] - q.qv[i+1]))) * 1000000 + 0.5) AS BIGINT)
               AS dist_micro
      FROM e, q
      ORDER BY dist_micro ASC, e.vec_id
      LIMIT 10"""))

  /** V4 — inner-product score variant. */
  val vDot = Q("v_dot",
    (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      emb.withColumn("score",
          round(VectorOps.dot(col("embedding"),
            typedLit(queryVec(s, dir, 0))), 6))
        .orderBy(desc("score"), col("vec_id"))
        .limit(10)
        .select("vec_id", "label", "score")
    },
    Some(s"""
      SELECT vec_id, label,
             ROUND(list_inner_product(CAST(embedding AS DOUBLE[]), $oracleQ0), 6) AS score
      FROM embeddings
      ORDER BY score DESC, vec_id
      LIMIT 10
    """))

  /** V8 — multimodal named-vector fusion: weighted blend of two per-vector
    * scores (the engine's model of Qdrant's `{"text","image"}` named
    * vectors, SURVEY.md §1.4 — here two query vectors against the same
    * embedding column). */
  val vFusion = Q("v_fusion",
    (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val q0 = typedLit(queryVec(s, dir, 0))
      val q1 = typedLit(queryVec(s, dir, 1))
      emb.withColumn("score",
          round(VectorOps.cosine(col("embedding"), q0) * 0.5 +
                VectorOps.cosine(col("embedding"), q1) * 0.5, 6))
        .orderBy(desc("score"), col("vec_id"))
        .limit(10)
        .select("vec_id", "label", "score")
    },
    Some({
      val q1 = "(SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 1)"
      s"""
      SELECT vec_id, label,
             ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]), $oracleQ0) * 0.5 +
                   list_cosine_similarity(CAST(embedding AS DOUBLE[]), $q1) * 0.5, 6) AS score
      FROM embeddings
      ORDER BY score DESC, vec_id
      LIMIT 10
    """
    }))

  /** V8 — HYBRID search: keyword score over the document text fused with
    * vector cosine via reciprocal-rank fusion (RRF, the standard hybrid
    * retrieval combiner; integer milli-units so both engines agree
    * exactly). Each side is a bounded top-N retrieval list (N=100, plans
    * to TakeOrderedAndProject — a per-partition heap, no global-window
    * exchange); ranks are assigned over the N survivors only (a window
    * over 100 rows, identical to the global rank for every surviving doc).
    * Fusion is a full outer join of the two lists — the canonical "fuse
    * two retrieval lists" semantics: a doc contributes 1/(60+r) per list
    * it appears in; rank 0 marks absence. */
  /** The shared vector side of every hybrid query: cosine-vs-q0 top-100
    * list with ranks over the survivors. */
  private[graft] def vectorTop100(s: org.apache.spark.sql.SparkSession,
                                  dir: String): org.apache.spark.sql.DataFrame =
    graft.operators.Fusion.topNRanked(
        Tables.load(s, dir, "embeddings")
          .withColumn("score_vm",
            floor(VectorOps.cosine(col("embedding"),
              typedLit(queryVec(s, dir, 0))) * 1e6 + lit(0.5)).cast("long")),
        100, "r_v", desc("score_vm"), col("vec_id"))
      .select(col("vec_id").as("doc_id"), col("r_v"))

  /** DuckDB twin of [[vectorTop100]] (CTE named `vr`). */
  private[graft] val vectorTop100Sql = s"""
      vr AS (
        SELECT doc_id, r_v FROM (
          SELECT vec_id AS doc_id,
                 ROW_NUMBER() OVER (
                   ORDER BY CAST(floor(list_cosine_similarity(
                     CAST(embedding AS DOUBLE[]), $oracleQ0) * 1000000 + 0.5)
                     AS BIGINT) DESC, vec_id) AS r_v
          FROM embeddings) WHERE r_v <= 100)"""

  /** DuckDB vector-leg CTE parameterized by suffix and query vector id
    * (`vr$i`) — the batched hybrid oracles instantiate one per
    * request. */
  private[graft] def vectorTopSqlFor(i: Int, vecId: Long): String = s"""
      vr$i AS (
        SELECT doc_id, r_v FROM (
          SELECT vec_id AS doc_id,
                 ROW_NUMBER() OVER (
                   ORDER BY CAST(floor(list_cosine_similarity(
                     CAST(embedding AS DOUBLE[]),
                     (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings
                      WHERE vec_id = $vecId)) * 1000000 + 0.5)
                     AS BIGINT) DESC, vec_id) AS r_v
          FROM embeddings) WHERE r_v <= 100)"""

  /** DuckDB per-query RRF fuse tail over `tr$i`/`vr$i` (`f$i`) — the
    * batched twin of [[rrfFuseTailSql]]. */
  private[graft] def rrfFuseCteFor(i: Int): String = s"""
      f$i AS (
        SELECT CAST($i AS BIGINT) AS query_id,
               COALESCE(tr$i.doc_id, vr$i.doc_id) AS doc_id,
               COALESCE(r_t, 0) AS r_t, COALESCE(r_v, 0) AS r_v,
               COALESCE(1000000 // (60 + r_t), 0)
                 + COALESCE(1000000 // (60 + r_v), 0) AS rrf_milli
        FROM tr$i FULL OUTER JOIN vr$i ON vr$i.doc_id = tr$i.doc_id
        ORDER BY rrf_milli DESC, doc_id LIMIT 10)"""

  /** DuckDB twin of Fusion.rrfFuse over CTEs `tr` and `vr`. */
  private[graft] val rrfFuseTailSql = """
      SELECT COALESCE(tr.doc_id, vr.doc_id) AS doc_id,
             COALESCE(r_t, 0) AS r_t, COALESCE(r_v, 0) AS r_v,
             COALESCE(1000000 // (60 + r_t), 0)
               + COALESCE(1000000 // (60 + r_v), 0) AS rrf_milli
      FROM tr FULL OUTER JOIN vr ON vr.doc_id = tr.doc_id
      ORDER BY rrf_milli DESC, doc_id
      LIMIT 10"""

  /** The shared keyword-count text leg (in-plan form): occurrences of
    * the 3 hybrid query terms over the corpus text, ranked top-100. */
  private[graft] val hybridKws = Seq("data", "query", "table")
  private[graft] def kwsTop100(s: org.apache.spark.sql.SparkSession,
                               dir: String): org.apache.spark.sql.DataFrame =
    graft.operators.Fusion.topNRanked(
        // spread (r17): per-row tokenize+count on a single-split scan;
        // cluster no-op by Par's gate, rank tiebreak (score, doc_id) total
        graft.operators.Par.spread(Tables.load(s, dir, "documents"))
          .withColumn("__tk",
            graft.operators.TextAnalysis.tokens(col("text")))
          .withColumn("score_t",
            size(filter(col("__tk"),
              t => array_contains(typedLit(hybridKws), t)))),
        100, "r_t", desc("score_t"), col("doc_id"))
      .select(col("doc_id"), col("r_t"))

  /** The keyword-count text leg served from a lexical postings layout
    * (exact Σtf + the adaptive zero tail — [[graft.sources.LexIndex]]),
    * parameterized by term set for the batched routed hybrid. */
  private[graft] def kwsTopNIndexed(s: org.apache.spark.sql.SparkSession,
                                    dir: String, lexDir: String,
                                    terms: Seq[String], n: Int)
      : org.apache.spark.sql.DataFrame =
    graft.sources.LexIndex.rankedTopN(s,
        graft.sources.LexIndex.termCountScores(s, lexDir, terms),
        Tables.load(s, dir, "documents").select("doc_id"),
        "doc_id", "score_t", n, "r_t")
      .select(col("doc_id"), col("r_t"))

  private[graft] def kwsTop100Indexed(s: org.apache.spark.sql.SparkSession,
                                      dir: String, lexDir: String)
      : org.apache.spark.sql.DataFrame =
    kwsTopNIndexed(s, dir, lexDir, hybridKws, 100)

  /** The in-plan keyword-count leg parameterized by term set — the
    * per-request fallback of the batched routed hybrid when no lexical
    * layout is declared. */
  private[graft] def kwsTopN(s: org.apache.spark.sql.SparkSession,
                             dir: String, terms: Seq[String], n: Int)
      : org.apache.spark.sql.DataFrame =
    graft.operators.Fusion.topNRanked(
        Tables.load(s, dir, "documents")
          .withColumn("__tk",
            graft.operators.TextAnalysis.tokens(col("text")))
          .withColumn("score_t",
            size(filter(col("__tk"),
              t => array_contains(typedLit(terms), t)))),
        n, "r_t", desc("score_t"), col("doc_id"))
      .select(col("doc_id"), col("r_t"))

  val vHybridRrf = Q("v_hybrid_rrf",
    (s, dir) =>
      graft.operators.Fusion.rrfFuse(kwsTop100(s, dir),
        vectorTop100(s, dir)),
    Some(s"""
      WITH t AS (
        SELECT doc_id,
               len(list_filter(
                 list_filter(regexp_split_to_array(lower(text), '\\s+'),
                             x -> x <> ''),
                 x -> list_contains(['data', 'query', 'table'], x))) AS score_t
        FROM documents),
      tr AS (
        SELECT doc_id, r_t FROM (
          SELECT doc_id,
                 ROW_NUMBER() OVER (ORDER BY score_t DESC, doc_id) AS r_t
          FROM t) WHERE r_t <= 100),
      $vectorTop100Sql
      $rrfFuseTailSql"""))

  /** Hybrid retrieval fused by DBSF — Qdrant's `fusion: dbsf`
    * (distribution-based score fusion), the other public fusion method
    * beside RRF: each side's bounded top-100 scores normalize by that
    * list's own μ±3σ band before summing, so a side with a wide score
    * spread doesn't drown one with a narrow spread (the failure mode of
    * raw-score blending that DBSF exists to fix). Same bounded shape as
    * v_hybrid_rrf: TakeOrderedAndProject per side, 1-row stats
    * broadcasts, ≤100-row full-outer fuse — nothing corpus-sized past
    * the scans. */
  val vHybridDbsf = Q("v_hybrid_dbsf",
    (s, dir) => {
      val kws = typedLit(Seq("data", "query", "table"))
      val tTop = graft.operators.Fusion.topNRanked(
          // spread (r17): same single-split tokenize+count leg as kwsTop100
          graft.operators.Par.spread(Tables.load(s, dir, "documents"))
            .withColumn("__tk",
              graft.operators.TextAnalysis.tokens(col("text")))
            .withColumn("score_t",
              size(filter(col("__tk"), t => array_contains(kws, t)))
                .cast("long")),
          100, "r_t", desc("score_t"), col("doc_id"))
        .select(col("doc_id"), col("score_t"))
      val vTop = graft.operators.Fusion.topNRanked(
          Tables.load(s, dir, "embeddings")
            .withColumn("score_v",
              floor(VectorOps.cosine(col("embedding"),
                typedLit(queryVec(s, dir, 0))) * 1e6 + lit(0.5))
                .cast("long")),
          100, "r_v", desc("score_v"), col("vec_id"))
        .select(col("vec_id").as("doc_id"), col("score_v"))
      graft.operators.Fusion.dbsfFuse(tTop, vTop)
    },
    Some(s"""
      WITH t AS (
        SELECT doc_id,
               len(list_filter(
                 list_filter(regexp_split_to_array(lower(text), '\\s+'),
                             x -> x <> ''),
                 x -> list_contains(['data', 'query', 'table'], x))) AS score_t
        FROM documents),
      tt AS (
        SELECT doc_id, score_t FROM (
          SELECT doc_id, score_t,
                 ROW_NUMBER() OVER (ORDER BY score_t DESC, doc_id) AS r
          FROM t) WHERE r <= 100),
      ts AS (SELECT COUNT(*) AS n, CAST(SUM(score_t) AS BIGINT) AS s1,
                    CAST(SUM(score_t * score_t) AS BIGINT) AS s2 FROM tt),
      tn AS (
        SELECT doc_id,
               CASE WHEN n * s2 - s1 * s1 = 0 THEN 500000
                 ELSE CAST(floor(
                   (CAST(n * score_t - s1 AS DOUBLE)
                      + 3.0 * sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)))
                     / (6.0 * sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)))
                     * 1000000 + 0.5) AS BIGINT) END AS nt_micro
        FROM tt, ts),
      v AS (
        SELECT vec_id AS doc_id,
               CAST(floor(list_cosine_similarity(
                 CAST(embedding AS DOUBLE[]), $oracleQ0) * 1000000 + 0.5)
                 AS BIGINT) AS score_v
        FROM embeddings),
      vv AS (
        SELECT doc_id, score_v FROM (
          SELECT doc_id, score_v,
                 ROW_NUMBER() OVER (ORDER BY score_v DESC, doc_id) AS r
          FROM v) WHERE r <= 100),
      vs AS (SELECT COUNT(*) AS n, CAST(SUM(score_v) AS BIGINT) AS s1,
                    CAST(SUM(score_v * score_v) AS BIGINT) AS s2 FROM vv),
      vn AS (
        SELECT doc_id,
               CASE WHEN n * s2 - s1 * s1 = 0 THEN 500000
                 ELSE CAST(floor(
                   (CAST(n * score_v - s1 AS DOUBLE)
                      + 3.0 * sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)))
                     / (6.0 * sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)))
                     * 1000000 + 0.5) AS BIGINT) END AS nv_micro
        FROM vv, vs)
      SELECT COALESCE(tn.doc_id, vn.doc_id) AS doc_id,
             COALESCE(nt_micro, 0) AS nt_micro,
             COALESCE(nv_micro, 0) AS nv_micro,
             COALESCE(nt_micro, 0) + COALESCE(nv_micro, 0) AS dbsf_micro
      FROM tn FULL OUTER JOIN vn ON vn.doc_id = tn.doc_id
      ORDER BY dbsf_micro DESC, doc_id
      LIMIT 10"""))

  /** The documents-table lexical postings layout ([[graft.sources.LexIndex]]),
    * built once per fixture per JVM — the text leg of INDEXED hybrid
    * serving (shared by the rrf/bm25/dbsf `_indexed` keys). */
  private[graft] def lexIndexDir(s: org.apache.spark.sql.SparkSession,
                                 dir: String): String =
    Tables.memoTempDir("lexidx", dir) { target =>
      graft.sources.LexIndex.buildFrom(
        Tables.load(s, dir, "documents"), "doc_id", "text", target)
    }

  /** The EXACT dense top-100 served from the codes sidecar — the
    * vector leg of every `v_hybrid_*_indexed` key: stage 1 is the
    * rigorous quantization-error bound over a codes-only scan
    * ([[graft.sources.QuantIndex.cosineCandidates]] — a guaranteed
    * SUPERSET of the true top-100, ReadSchema vector-free), stage 2
    * exact-rescores only the candidates (literal id probe with the
    * > ProbeLimit semi-join downgrade) and re-ranks on the same
    * micro-quantized key as [[vectorTop100]] — identical rows and
    * ranks by the bound's superset guarantee, NOT by approximation
    * (the unchanged hybrid oracles are the gate). Returns
    * (doc_id, score_vm, r_v). */
  private[graft] def vectorTop100Indexed(s: org.apache.spark.sql.SparkSession,
                                         dir: String,
                                         quantDir: String)
      : org.apache.spark.sql.DataFrame =
    vectorTopNIndexed(s, dir, quantDir, queryVec(s, dir, 0), 100)

  /** The exact-bound dense leg parameterized by query vector and list
    * length (the [[vectorTop100Indexed]] pipeline the batched routed
    * hybrid composes per request). */
  private[graft] def vectorTopNIndexed(s: org.apache.spark.sql.SparkSession,
                                       dir: String, quantDir: String,
                                       qv: Seq[Double], n: Int)
      : org.apache.spark.sql.DataFrame = {
    val emb = Tables.load(s, dir, "embeddings")
    val cands = graft.sources.QuantIndex
      .cosineCandidates(s, quantDir, qv, n)
      .select("vec_id")
    val scored = graft.operators.GraphAnn
      .inIdsFrame(emb.select("vec_id", "embedding"), "vec_id", cands)
      .withColumn("score_vm",
        floor(VectorOps.cosine(col("embedding"), typedLit(qv)) * 1e6 +
          lit(0.5)).cast("long"))
    graft.operators.Fusion
      .topNRanked(scored, n, "r_v", desc("score_vm"), col("vec_id"))
      .select(col("vec_id").as("doc_id"), col("score_vm"), col("r_v"))
  }

  /** The in-plan dense leg parameterized by query vector — the
    * per-request fallback of the batched routed hybrid when no codes
    * sidecar is declared. */
  private[graft] def vectorTopN(s: org.apache.spark.sql.SparkSession,
                                dir: String, qv: Seq[Double], n: Int)
      : org.apache.spark.sql.DataFrame =
    graft.operators.Fusion.topNRanked(
        Tables.load(s, dir, "embeddings")
          .withColumn("score_vm",
            floor(VectorOps.cosine(col("embedding"), typedLit(qv)) * 1e6 +
              lit(0.5)).cast("long")),
        n, "r_v", desc("score_vm"), col("vec_id"))
      .select(col("vec_id").as("doc_id"), col("r_v"))

  /** BATCHED exact-bound dense legs — N queries through the shared
    * codes-only candidate scans
    * ([[graft.sources.QuantIndex.cosineCandidatesMulti]]: per-query θ
    * heaps map-side, job budget independent of the batch), then ONE
    * literal-id probe of the UNION candidate set and a per-(query, row)
    * exact micro-cosine via the per-query CASE kernel (the
    * prefetchTopNMulti one-column-per-query rule — a row is scored for
    * query q only when it sits in q's OWN candidate set, so each
    * query's ranked list equals its single-query
    * [[vectorTopNIndexed]]). Returns (query_id, doc_id, score_vm, r_v). */
  private[graft] def vectorTopNIndexedMulti(
      s: org.apache.spark.sql.SparkSession, dir: String, quantDir: String,
      queries: Seq[(Long, Seq[Double])], n: Int)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = Tables.load(s, dir, "embeddings")
    // materialize the candidate set ONCE (r17): un-checkpointed, the
    // two-scan bounded pipeline re-executed inside inIdsFrame's sizing
    // checkpoint AND again in the final join — three codes-table scans
    // per execution where one suffices (guide §2.4, duplicated
    // subtrees). Blocks are released by the ContextCleaner (the
    // inIdsFrame discipline); the frame is candidate-bounded, never
    // corpus-scaling.
    val cands = graft.sources.QuantIndex
      .cosineCandidatesMulti(s, quantDir, queries, n)
      .select("query_id", "vec_id")
      .localCheckpoint(eager = true)
    val vecs = graft.operators.GraphAnn.inIdsFrame(
      emb.select("vec_id", "embedding"), "vec_id",
      cands.select("vec_id").distinct())
    val scoreCase = queries.foldRight(lit(null).cast("long")) {
      case ((qid, q), acc) =>
        when(col("query_id") === qid,
          floor(VectorOps.cosine(col("embedding"), typedLit(q)) * 1e6 +
            lit(0.5)).cast("long")).otherwise(acc)
    }
    cands.join(vecs, "vec_id")
      .withColumn("score_vm", scoreCase)
      .withColumn("r_v", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(desc("score_vm"), col("vec_id"))))
      .filter(col("r_v") <= n)
      .select(col("query_id"), col("vec_id").as("doc_id"),
        col("score_vm"), col("r_v"))
  }

  /** [[vHybridRrf]] over the MATERIALIZED layouts — the r13 verdict's
    * top gap closed: the keyword leg reads exact-token postings
    * ([[graft.sources.LexIndex.termCountScores]] — tgrp partition
    * pruning + tok pushdown, the corpus TEXT is only probed for the
    * id-ordered zero tail when fewer than 100 documents hit, which at
    * serving scale never happens), the vector leg is the exact-bound
    * codes-sidecar pipeline ([[vectorTop100Indexed]]), and the fusion
    * is the same bounded full-outer [[graft.operators.Fusion.rrfFuse]].
    * Same oracle as `v_hybrid_rrf`: indexed serving must not change
    * one row. */
  val vHybridRrfIndexed = Q("v_hybrid_rrf_indexed",
    (s, dir) =>
      graft.operators.Fusion.rrfFuse(
        kwsTop100Indexed(s, dir, lexIndexDir(s, dir)),
        vectorTop100Indexed(s, dir, quantIndexDir(s, dir))
          .select("doc_id", "r_v")),
    vHybridRrf.oracle)

  /** [[vHybridDbsf]] over the MATERIALIZED layouts — both legs' scored
    * top-100 lists come from the serving layouts (exact keyword counts
    * from postings with the adaptive zero tail; exact micro cosine from
    * the bound-candidate rescore), then the same
    * [[graft.operators.Fusion.dbsfFuse]] μ±3σ normalization. Same
    * oracle as `v_hybrid_dbsf`. */
  val vHybridDbsfIndexed = Q("v_hybrid_dbsf_indexed",
    (s, dir) => {
      val lex = lexIndexDir(s, dir)
      val hits = graft.sources.LexIndex
        .termCountScores(s, lex, Seq("data", "query", "table"))
      val tTop = graft.sources.LexIndex.rankedTopN(s, hits,
          Tables.load(s, dir, "documents").select("doc_id"),
          "doc_id", "score_t", 100, "r_t")
        .select(col("doc_id"), col("score_t"))
      val vTop = vectorTop100Indexed(s, dir, quantIndexDir(s, dir))
        .select(col("doc_id"), col("score_vm").as("score_v"))
      graft.operators.Fusion.dbsfFuse(tTop, vTop)
    },
    vHybridDbsf.oracle)

  /** One request's DBSF chain as DuckDB CTEs — the `v_hybrid_dbsf`
    * oracle verbatim, parameterized by request id, vector id and term
    * set (CTE names suffixed), ending at `g$i(query_id, doc_id,
    * nt_micro, nv_micro, dbsf_micro)`. */
  private def dbsfLegSql(i: Int, vecId: Long,
                         terms: Seq[String]): String = {
    val lst = terms.map(t => s"'$t'").mkString("[", ", ", "]")
    val qv = s"(SELECT CAST(embedding AS DOUBLE[]) FROM embeddings " +
      s"WHERE vec_id = $vecId)"
    s"""
      t$i AS (
        SELECT doc_id,
               len(list_filter(
                 list_filter(regexp_split_to_array(lower(text), '\\s+'),
                             x -> x <> ''),
                 x -> list_contains($lst, x))) AS score_t
        FROM documents),
      tt$i AS (
        SELECT doc_id, score_t FROM (
          SELECT doc_id, score_t,
                 ROW_NUMBER() OVER (ORDER BY score_t DESC, doc_id) AS r
          FROM t$i) WHERE r <= 100),
      ts$i AS (SELECT COUNT(*) AS n, CAST(SUM(score_t) AS BIGINT) AS s1,
                      CAST(SUM(score_t * score_t) AS BIGINT) AS s2
               FROM tt$i),
      tn$i AS (
        SELECT doc_id,
               CASE WHEN n * s2 - s1 * s1 = 0 THEN 500000
                 ELSE CAST(floor(
                   (CAST(n * score_t - s1 AS DOUBLE)
                      + 3.0 * sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)))
                     / (6.0 * sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)))
                     * 1000000 + 0.5) AS BIGINT) END AS nt_micro
        FROM tt$i, ts$i),
      v$i AS (
        SELECT vec_id AS doc_id,
               CAST(floor(list_cosine_similarity(
                 CAST(embedding AS DOUBLE[]), $qv) * 1000000 + 0.5)
                 AS BIGINT) AS score_v
        FROM embeddings),
      vv$i AS (
        SELECT doc_id, score_v FROM (
          SELECT doc_id, score_v,
                 ROW_NUMBER() OVER (ORDER BY score_v DESC, doc_id) AS r
          FROM v$i) WHERE r <= 100),
      vs$i AS (SELECT COUNT(*) AS n, CAST(SUM(score_v) AS BIGINT) AS s1,
                      CAST(SUM(score_v * score_v) AS BIGINT) AS s2
               FROM vv$i),
      vn$i AS (
        SELECT doc_id,
               CASE WHEN n * s2 - s1 * s1 = 0 THEN 500000
                 ELSE CAST(floor(
                   (CAST(n * score_v - s1 AS DOUBLE)
                      + 3.0 * sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)))
                     / (6.0 * sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)))
                     * 1000000 + 0.5) AS BIGINT) END AS nv_micro
        FROM vv$i, vs$i),
      g$i AS (
        SELECT CAST($i AS BIGINT) AS query_id,
               COALESCE(tn.doc_id, vn.doc_id) AS doc_id,
               COALESCE(nt_micro, 0) AS nt_micro,
               COALESCE(nv_micro, 0) AS nv_micro,
               COALESCE(nt_micro, 0) + COALESCE(nv_micro, 0)
                 AS dbsf_micro
        FROM tn$i tn FULL OUTER JOIN vn$i vn ON vn.doc_id = tn.doc_id
        ORDER BY dbsf_micro DESC, doc_id LIMIT 10)"""
  }

  /** BATCHED indexed DBSF hybrid — the batching law's LAST fusion kind
    * (r15 verdict "What's missing" #3): N hybrid requests (vector +
    * term set) share ONE pruned postings scan for the keyword legs
    * ([[graft.sources.LexIndex.termCountScoresMulti]] +
    * [[graft.sources.LexIndex.rankedTopNMulti]] — the zero-tail ranked
    * lists DBSF normalizes, exactly the single key's
    * [[graft.sources.LexIndex.rankedTopN]] shape) and the two
    * codes-only candidate scans for the dense legs
    * ([[vectorTopNIndexedMulti]]), then fuse per query by each list's
    * OWN μ±3σ band ([[graft.operators.Fusion.dbsfFuseMulti]] — the
    * per-query stats are N bounded rows). Request 0 is byte-identical
    * to the single `v_hybrid_dbsf_indexed` serving (same vector, same
    * terms — spec-pinned); the oracle replays all three DBSF chains
    * and unions. */
  val vHybridDbsfMultiIndexed = Q("v_hybrid_dbsf_multi_indexed",
    (s, dir) => {
      val reqs = AutoQueries.hybridBatch(s, dir)
      val lex = lexIndexDir(s, dir)
      val hits = graft.sources.LexIndex.termCountScoresMulti(s, lex,
        reqs.map(r => r._1 -> r._3))
      val tTops = graft.sources.LexIndex.rankedTopNMulti(s, hits,
          Tables.load(s, dir, "documents").select("doc_id"),
          "doc_id", "score_t", 100, "r_t", reqs.map(_._1))
        .select("query_id", "doc_id", "score_t")
      val vTops = vectorTopNIndexedMulti(s, dir, quantIndexDir(s, dir),
          reqs.map(r => r._1 -> r._2), 100)
        .select(col("query_id"), col("doc_id"),
          col("score_vm").as("score_v"))
      graft.operators.Fusion.dbsfFuseMulti(tTops, vTops)
    },
    Some {
      val legs = Seq((0, 0L, Seq("data", "query", "table")),
        (1, 3L, Seq("scan", "index")),
        (2, 7L, Seq("the", "of", "data")))
      s"""
      WITH ${legs.map { case (i, v, ts) => dbsfLegSql(i, v, ts) }
          .mkString(",")}
      SELECT query_id, doc_id, nt_micro, nv_micro, dbsf_micro FROM (
        ${legs.map { case (i, _, _) => s"SELECT * FROM g$i" }
          .mkString(" UNION ALL ")})
      ORDER BY query_id, dbsf_micro DESC, doc_id"""
    })

  /** Scalar quantization (the public Qdrant int8 compression scheme) as a
    * declared query: per-vector min-max range in micro units + the code
    * checksum — the oracle replays the affine int8 map bit-for-bit
    * (identical IEEE doubles → identical codes). The 4× memory reduction
    * path for 100 TB collections; recall held by the dequantize spec. */
  val vSqQuantize = Q("v_sq_quantize",
    (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      emb.select(col("vec_id"),
          VectorOps.sqCodes(col("embedding")).as("q"))
        .select(col("vec_id"),
          floor(col("q.mn") * 1e6 + lit(0.5)).cast("long").as("mn_micro"),
          floor(col("q.mx") * 1e6 + lit(0.5)).cast("long").as("mx_micro"),
          col("q.code_sum").as("code_sum"))
        .orderBy("vec_id")
    },
    Some("""
      WITH d AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      r AS (SELECT vec_id, v, list_min(v) AS mn, list_max(v) AS mx FROM d)
      SELECT vec_id,
             CAST(floor(mn * 1000000 + 0.5) AS BIGINT) AS mn_micro,
             CAST(floor(mx * 1000000 + 0.5) AS BIGINT) AS mx_micro,
             CAST(list_sum(
               CASE WHEN mx = mn THEN list_transform(v, x -> 0)
                    ELSE list_transform(v, x ->
                      CAST(floor((x - mn) / (mx - mn) * 255 + 0.5) AS INT))
               END) AS BIGINT) AS code_sum
      FROM r ORDER BY vec_id"""))

  /** Quantized SEARCH — the standard two-stage pattern quantized indexes
    * serve with: score everything against the int8-dequantized vectors
    * (the only data a compressed index keeps hot), take a candidate
    * superset (top-30), rescore the candidates at full precision, return
    * the exact top-10. The oracle replays quantize → dequantize → both
    * scoring passes bit-for-bit. */
  val vSqSearch = Q("v_sq_search",
    (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val q = queryVec(s, dir, 0)
      val qv = typedLit(q)
      // fused quantize→dequantize→cosine prefilter (one compiled pass —
      // the HOF composition re-scans the array per element via the
      // min/max references inside the transform lambdas)
      val cands = emb
        .withColumn("score_q", VectorOps.sqScore(col("embedding"), q))
        .orderBy(desc("score_q"), col("vec_id"))
        .limit(30)
      cands
        .withColumn("score", VectorOps.cosine(col("embedding"), qv))
        .orderBy(desc("score"), col("vec_id"))
        .limit(10)
        .select(col("vec_id"),
          floor(col("score") * 1e6 + lit(0.5)).cast("long").as("score_micro"),
          floor(col("score_q") * 1e6 + lit(0.5)).cast("long")
            .as("scoreq_micro"))
    },
    Some(s"""
      WITH d AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      r AS (SELECT vec_id, v, list_min(v) AS mn, list_max(v) AS mx FROM d),
      dq AS (
        SELECT vec_id, v,
               CASE WHEN mx = mn THEN list_transform(v, x -> mn)
                    ELSE list_transform(v, x ->
                      mn + CAST(CAST(floor((x - mn) / (mx - mn) * 255 + 0.5)
                        AS INT) AS DOUBLE) / 255 * (mx - mn))
               END AS vq
        FROM r),
      scored AS (
        SELECT vec_id, v,
               list_inner_product(vq, $oracleQ0)
               / (sqrt(list_inner_product(vq, vq))
                  * sqrt(list_inner_product($oracleQ0, $oracleQ0)))
                 AS score_q
        FROM dq),
      cands AS (
        SELECT * FROM scored ORDER BY score_q DESC, vec_id LIMIT 30),
      rescored AS (
        SELECT vec_id, score_q,
               list_inner_product(v, $oracleQ0)
               / (sqrt(list_inner_product(v, v))
                  * sqrt(list_inner_product($oracleQ0, $oracleQ0)))
                 AS score
        FROM cands)
      SELECT vec_id,
             CAST(floor(score * 1000000 + 0.5) AS BIGINT) AS score_micro,
             CAST(floor(score_q * 1000000 + 0.5) AS BIGINT) AS scoreq_micro
      FROM rescored
      ORDER BY score DESC, vec_id LIMIT 10"""))

  /** Binary-quantized SEARCH (the public Qdrant 1-bit compression): pack
    * sign bits (32/word), prefilter by hamming distance to the packed
    * query (the only pass that touches the collection — 32× fewer bytes
    * than the vectors), take a candidate superset (top-30 by hamming),
    * rescore candidates at full precision, exact top-10. Integer hamming
    * + micro-int scores: drift-free across engines. */
  val vBqSearch = Q("v_bq_search",
    (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val qv = queryVec(s, dir, 0)
      val qWords = graft.sources.QuantIndex.packQueryWords(qv)
      val cands = emb
        .withColumn("bq", VectorOps.bqPack(col("embedding"), qv.length))
        .withColumn("hamming",
          VectorOps.bqHamming(col("bq"), typedLit(qWords)))
        .orderBy(asc("hamming"), col("vec_id"))
        .limit(30)
      cands
        .withColumn("score", VectorOps.cosine(col("embedding"), typedLit(qv)))
        .orderBy(desc("score"), col("vec_id"))
        .limit(10)
        .select(col("vec_id"), col("hamming"),
          floor(col("score") * 1e6 + lit(0.5)).cast("long").as("score_micro"))
    },
    Some(s"""
      WITH d AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
            FROM embeddings WHERE vec_id = 0),
      bits AS (
        SELECT vec_id, v,
               list_transform(range(2), w ->
                 CAST(list_sum(list_transform(range(32), j ->
                   CASE WHEN v[w*32 + j + 1] > 0
                        THEN (1::BIGINT << j) ELSE 0::BIGINT END))
                 AS BIGINT)) AS words
        FROM d),
      qbits AS (
        SELECT list_transform(range(2), w ->
                 CAST(list_sum(list_transform(range(32), j ->
                   CASE WHEN qv[w*32 + j + 1] > 0
                        THEN (1::BIGINT << j) ELSE 0::BIGINT END))
                 AS BIGINT)) AS qw
        FROM q),
      ham AS (
        SELECT vec_id, v,
               CAST(bit_count(xor(words[1], qw[1]))
                    + bit_count(xor(words[2], qw[2])) AS BIGINT) AS hamming
        FROM bits, qbits),
      cands AS (SELECT * FROM ham ORDER BY hamming ASC, vec_id LIMIT 30)
      SELECT c.vec_id, c.hamming,
             CAST(floor(list_cosine_similarity(c.v, q.qv) * 1000000 + 0.5)
               AS BIGINT) AS score_micro
      FROM cands c, q
      ORDER BY list_cosine_similarity(c.v, q.qv) DESC, c.vec_id
      LIMIT 10"""))

  /** The Qdrant Query API's NESTED PREFETCH chain (`query_points` with
    * `prefetch: {prefetch: ...}` — the documented re-ranking pipeline for
    * quantized collections): the innermost stage scans only the 1-bit
    * packed codes (hamming top-100, 32× fewer bytes than the vectors),
    * the middle stage rescores those 100 with int8 scalar-quantized
    * cosine (top-30, 4× fewer bytes), and only the outermost stage
    * touches 30 full-precision vectors for the exact top-10. Each stage
    * is individually gated elsewhere (`v_bq_search`, `v_sq_search`,
    * `v_knn`); this query gates their COMPOSITION — candidate flow,
    * stage ordering, and tie-breaks. Scale: the collection-wide pass
    * reads 2 longs/row inside one codegen stage ending in a bounded
    * top-k heap; stages 2–3 touch ≤100 rows. */
  val vPrefetch = Q("v_prefetch",
    (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val qv = queryVec(s, dir, 0)
      val qWords = graft.sources.QuantIndex.packQueryWords(qv)
      val stage1 = emb
        .withColumn("bq", VectorOps.bqPack(col("embedding"), qv.length))
        .withColumn("hamming",
          VectorOps.bqHamming(col("bq"), typedLit(qWords)))
        .orderBy(asc("hamming"), col("vec_id"))
        .limit(100)
      val stage2 = stage1
        .withColumn("score_q", VectorOps.sqScore(col("embedding"), qv))
        .orderBy(desc("score_q"), col("vec_id"))
        .limit(30)
      stage2
        .withColumn("score", VectorOps.cosine(col("embedding"), typedLit(qv)))
        .orderBy(desc("score"), col("vec_id"))
        .limit(10)
        .select(col("vec_id"), col("hamming"),
          floor(col("score_q") * 1e6 + lit(0.5)).cast("long")
            .as("scoreq_micro"),
          floor(col("score") * 1e6 + lit(0.5)).cast("long").as("score_micro"))
    },
    Some(s"""
      WITH d AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
            FROM embeddings WHERE vec_id = 0),
      bits AS (
        SELECT vec_id, v,
               list_transform(range(2), w ->
                 CAST(list_sum(list_transform(range(32), j ->
                   CASE WHEN v[w*32 + j + 1] > 0
                        THEN (1::BIGINT << j) ELSE 0::BIGINT END))
                 AS BIGINT)) AS words
        FROM d),
      qbits AS (
        SELECT list_transform(range(2), w ->
                 CAST(list_sum(list_transform(range(32), j ->
                   CASE WHEN qv[w*32 + j + 1] > 0
                        THEN (1::BIGINT << j) ELSE 0::BIGINT END))
                 AS BIGINT)) AS qw
        FROM q),
      s1 AS (
        SELECT vec_id, v,
               CAST(bit_count(xor(words[1], qw[1]))
                    + bit_count(xor(words[2], qw[2])) AS BIGINT) AS hamming
        FROM bits, qbits
        ORDER BY hamming ASC, vec_id LIMIT 100),
      r AS (SELECT vec_id, v, hamming,
                   list_min(v) AS mn, list_max(v) AS mx FROM s1),
      dq AS (
        SELECT vec_id, v, hamming,
               CASE WHEN mx = mn THEN list_transform(v, x -> mn)
                    ELSE list_transform(v, x ->
                      mn + CAST(CAST(floor((x - mn) / (mx - mn) * 255 + 0.5)
                        AS INT) AS DOUBLE) / 255 * (mx - mn))
               END AS vq
        FROM r),
      s2 AS (
        SELECT vec_id, v, hamming,
               list_inner_product(vq, $oracleQ0)
               / (sqrt(list_inner_product(vq, vq))
                  * sqrt(list_inner_product($oracleQ0, $oracleQ0)))
                 AS score_q
        FROM dq
        ORDER BY score_q DESC, vec_id LIMIT 30)
      SELECT vec_id, hamming,
             CAST(floor(score_q * 1000000 + 0.5) AS BIGINT) AS scoreq_micro,
             CAST(floor(list_cosine_similarity(v, $oracleQ0) * 1000000 + 0.5)
               AS BIGINT) AS score_micro
      FROM s2
      ORDER BY list_cosine_similarity(v, $oracleQ0) DESC, vec_id
      LIMIT 10"""))

  /** Session-lifetime memo of the quantized-codes sidecar
    * ([[graft.sources.QuantIndex]]) for a fixture dir — built once per
    * JVM per fixture under java.io.tmpdir (the ivfIndexDir discipline);
    * contents are a pure deterministic function of the vectors. */
  private[graft] def quantIndexDir(s: org.apache.spark.sql.SparkSession,
                            dir: String): String =
    Tables.memoTempDir("quant", dir) { target =>
      graft.sources.QuantIndex.build(Tables.load(s, dir, "embeddings"),
        "vec_id", "embedding", queryVec(s, dir, 0).length, target)
    }

  /** Stage-3 of codes-sidecar serving: the candidate set is driver-
    * bounded (≤100 rows), so collect it, literal-probe the collection
    * for ONLY those ids' full vectors (PushedFilters row-group pruning,
    * [[graft.operators.GraphAnn.inIds]] — with its >ProbeLimit
    * broadcast-semi-join fallback), broadcast-join the tiny candidate
    * frame back (no shuffle on the collection side), rescore at full
    * precision, exact top-k. At 100 TB the full embedding column is
    * read for O(candidates) rows, never the corpus. */
  private[graft] def exactRescore(s: org.apache.spark.sql.SparkSession,
                                  emb: org.apache.spark.sql.DataFrame,
                                  cand: org.apache.spark.sql.DataFrame,
                                  qv: Seq[Double], k: Int,
                                  byMicro: Boolean = false)
      : org.apache.spark.sql.DataFrame = {
    val rows = cand.collect()
    val candDf = s.createDataFrame(
      java.util.Arrays.asList(rows: _*), cand.schema)
    // via Number: the sidecar persists the id column with the source
    // table's type — an INT-id fixture would make getLong throw
    val ids = rows
      .map(r => r.getAs[Number](r.fieldIndex("vec_id")).longValue).toSeq
    val scored = graft.operators.GraphAnn.inIds(
        emb.select("vec_id", "embedding"), "vec_id", ids)
      .join(broadcast(candDf), "vec_id")
      .withColumn("score", VectorOps.cosine(col("embedding"), typedLit(qv)))
    // byMicro: rank by the micro-quantized score (PQ's in-plan twin
    // orders on score_micro, whose micro-ties break by id differently
    // than the raw double would)
    (if (byMicro)
      scored.withColumn("score_micro",
          floor(col("score") * 1e6 + lit(0.5)).cast("long"))
        .orderBy(desc("score_micro"), col("vec_id"))
    else scored.orderBy(desc("score"), col("vec_id")))
      .limit(k)
  }

  /** [[vSqSearch]] over the MATERIALIZED codes sidecar: stage 1 scans
    * ONLY the int8 codes table (no embedding column in the ReadSchema —
    * spec-asserted; ~4× fewer stage-1 bytes), scoring the stored codes
    * with the bit-identical [[VectorOps.sqScoreFromCodes]] kernel;
    * stage 2 probes 30 full vectors by literal id. Same oracle as
    * `v_sq_search`: materialization must not change a row. */
  val vSqSearchIndexed = Q("v_sq_search_indexed",
    (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val qv = queryVec(s, dir, 0)
      val cands = graft.sources.QuantIndex
        .sqTopN(s, quantIndexDir(s, dir), qv, 30)
        .select(col("vec_id"), col("score_q"))
      exactRescore(s, emb, cands, qv, 10)
        .select(col("vec_id"),
          floor(col("score") * 1e6 + lit(0.5)).cast("long").as("score_micro"),
          floor(col("score_q") * 1e6 + lit(0.5)).cast("long")
            .as("scoreq_micro"))
    },
    vSqSearch.oracle)

  /** [[vBqSearch]] over the materialized sidecar: the collection-wide
    * hamming pass scans only the packed sign-bit words (2 BIGINTs/row at
    * dim 64 — the 32× stage-1 byte reduction 1-bit quantization exists
    * for), then 30 full vectors by literal probe. Same oracle as
    * `v_bq_search`. */
  val vBqSearchIndexed = Q("v_bq_search_indexed",
    (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val qv = queryVec(s, dir, 0)
      val cands = graft.sources.QuantIndex
        .hammingTopN(s, quantIndexDir(s, dir), qv, 30)
        .select(col("vec_id"), col("hamming"))
      exactRescore(s, emb, cands, qv, 10)
        .select(col("vec_id"), col("hamming"),
          floor(col("score") * 1e6 + lit(0.5)).cast("long").as("score_micro"))
    },
    vBqSearch.oracle)

  /** One query's CTE block of the batched-BQ oracle: packing CTEs (`d`,
    * `bits`) are shared across the batch; per query the chain replays
    * hamming → top-30 → exact rescore → top-10, tagged with query_id. */
  private def bqMultiBlock(qid: Long): String = s"""
      q_$qid AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
                 FROM embeddings WHERE vec_id = $qid),
      qb_$qid AS (
        SELECT list_transform(range(2), w ->
                 CAST(list_sum(list_transform(range(32), j ->
                   CASE WHEN qv[w*32 + j + 1] > 0
                        THEN (1::BIGINT << j) ELSE 0::BIGINT END))
                 AS BIGINT)) AS qw
        FROM q_$qid),
      ham_$qid AS (
        SELECT vec_id, v,
               CAST(bit_count(xor(words[1], qw[1]))
                    + bit_count(xor(words[2], qw[2])) AS BIGINT) AS hamming
        FROM bits, qb_$qid),
      cand_$qid AS (
        SELECT * FROM ham_$qid ORDER BY hamming ASC, vec_id LIMIT 30),
      res_$qid AS (
        SELECT CAST($qid AS BIGINT) AS query_id, c.vec_id, c.hamming,
               CAST(floor(list_cosine_similarity(c.v, q.qv) * 1000000 + 0.5)
                 AS BIGINT) AS score_micro
        FROM cand_$qid c, q_$qid q
        ORDER BY list_cosine_similarity(c.v, q.qv) DESC, c.vec_id
        LIMIT 10)"""

  /** BATCHED quantized serving — the [[graft.operators.Knn.knnMulti]] /
    * graph-multi analog on the codes sidecar: both queries' stage-1
    * hamming prefilters share ONE scan of the codes table
    * ([[graft.sources.QuantIndex.hammingTopNMulti]] — map-side per-query
    * heaps, |partitions|·N·30 rows shuffled), and the exact stage probes
    * the UNION of both candidate sets by literal id in one job, scoring
    * each row against its own query via the broadcast query frame. The
    * oracle replays both chains in one statement over shared packing
    * CTEs. */
  val vBqSearchMulti = Q("v_bq_search_multi",
    (s, dir) => {
      import s.implicits._
      val emb = Tables.load(s, dir, "embeddings")
      val qs = Seq(0L, 3L).map(i => i -> queryVec(s, dir, i))
      val cands = graft.sources.QuantIndex
        .hammingTopNMulti(s, quantIndexDir(s, dir), qs, 30)
      val rows = cands.collect()
      val candDf = s.createDataFrame(
        java.util.Arrays.asList(rows: _*), cands.schema)
      val ids = rows
        .map(r => r.getAs[Number](r.fieldIndex("vec_id")).longValue)
        .distinct.toSeq
      val qvDf = qs.toDF("query_id", "__qv")
      graft.operators.GraphAnn.inIds(
          emb.select("vec_id", "embedding"), "vec_id", ids)
        .join(broadcast(candDf), "vec_id")
        .join(broadcast(qvDf), "query_id")
        .withColumn("score", VectorOps.cosine(col("embedding"), col("__qv")))
        .withColumn("rnk", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("query_id")
            .orderBy(desc("score"), col("vec_id"))))
        .filter(col("rnk") <= 10)
        .select(col("query_id"), col("vec_id"), col("hamming"),
          floor(col("score") * 1e6 + lit(0.5)).cast("long").as("score_micro"))
    },
    Some(s"""
      WITH d AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      bits AS (
        SELECT vec_id, v,
               list_transform(range(2), w ->
                 CAST(list_sum(list_transform(range(32), j ->
                   CASE WHEN v[w*32 + j + 1] > 0
                        THEN (1::BIGINT << j) ELSE 0::BIGINT END))
                 AS BIGINT)) AS words
        FROM d),
      ${bqMultiBlock(0)},
      ${bqMultiBlock(3)}
      SELECT * FROM res_0 UNION ALL SELECT * FROM res_3"""))

  /** [[vPrefetch]] over the materialized sidecar — the serving form of
    * the nested-prefetch chain whose IO claims are true as PLAN facts:
    * stages 1–2 are ONE scan of the codes table (1-bit hamming top-100,
    * int8 rescore of the same rows to top-30 — no vector column read);
    * only stage 3 touches 30 full-precision vectors, by literal id
    * probe. Same oracle as `v_prefetch`. */
  val vPrefetchIndexed = Q("v_prefetch_indexed",
    (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val qv = queryVec(s, dir, 0)
      val cands = graft.sources.QuantIndex
        .prefetchTopN(s, quantIndexDir(s, dir), qv, 100, 30)
        .select(col("vec_id"), col("hamming"), col("score_q"))
      exactRescore(s, emb, cands, qv, 10)
        .select(col("vec_id"), col("hamming"),
          floor(col("score_q") * 1e6 + lit(0.5)).cast("long")
            .as("scoreq_micro"),
          floor(col("score") * 1e6 + lit(0.5)).cast("long").as("score_micro"))
    },
    vPrefetch.oracle)

  /** MATRYOSHKA (MRL) truncated-prefix retrieval — the adaptive-dim
    * serving pattern for MRL-trained embeddings (Kusupati et al. 2022,
    * and the documented shortening knob of the OpenAI v3 / Nomic
    * embedding APIs): stage 1 ranks the WHOLE collection on only the
    * first 16 of 64 dims (4× fewer multiplies and — with a prefix-laid
    * column store — 4× fewer bytes) into a bounded top-50 heap; stage 2
    * rescores those 50 candidates with full-precision cosine for the
    * exact top-10. Same chained-heap shape as `v_prefetch`, but the
    * cheap stage is a PREFIX of the same vector rather than a separate
    * quantized code — no second column, no index build. The oracle
    * replays both stages on sliced DOUBLE lists (prefix norms are sqrt —
    * correctly rounded, replayable). Scale: one collection pass inside
    * one codegen stage ending in a bounded heap; stage 2 touches 50
    * rows. */
  val vMrlSearch = Q("v_mrl_search",
    (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val qv = queryVec(s, dir, 0)
      val stage1 = emb
        .withColumn("score_p",
          VectorOps.cosine(slice(col("embedding"), 1, 16),
            typedLit(qv.take(16))))
        .filter(col("score_p").isNotNull)
        .orderBy(desc("score_p"), col("vec_id"))
        .limit(50)
      stage1
        .withColumn("score", VectorOps.cosine(col("embedding"), typedLit(qv)))
        .orderBy(desc("score"), col("vec_id"))
        .limit(10)
        .select(col("vec_id"),
          floor(col("score_p") * 1e6 + lit(0.5)).cast("long")
            .as("scorep_micro"),
          floor(col("score") * 1e6 + lit(0.5)).cast("long").as("score_micro"))
    },
    Some(s"""
      WITH d AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
            FROM embeddings WHERE vec_id = 0),
      s1 AS (
        SELECT vec_id, v,
               list_inner_product(v[1:16], qv[1:16])
               / (sqrt(list_inner_product(v[1:16], v[1:16]))
                  * sqrt(list_inner_product(qv[1:16], qv[1:16])))
                 AS score_p
        FROM d, q
        -- zero-norm prefix guard: the engine's cosine is NULL there and
        -- the row is dropped; without this, 0/0 = NaN sorts FIRST under
        -- DESC in DuckDB and a zero-prefix vector would fake its way
        -- into the oracle's top-50
        WHERE list_inner_product(v[1:16], v[1:16]) > 0
          AND list_inner_product(qv[1:16], qv[1:16]) > 0
        ORDER BY score_p DESC, vec_id LIMIT 50)
      SELECT vec_id,
             CAST(floor(score_p * 1000000 + 0.5) AS BIGINT) AS scorep_micro,
             CAST(floor(list_cosine_similarity(v, $oracleQ0) * 1000000 + 0.5)
               AS BIGINT) AS score_micro
      FROM s1
      ORDER BY list_cosine_similarity(v, $oracleQ0) DESC, vec_id
      LIMIT 10"""))

  /** [[vMrlSearch]] over the materialized sidecar — the "prefix-laid
    * column store" the MRL pattern's 4× IO claim assumes, now a plan
    * fact: stage 1 scans only the stored 16-float `prefix` column
    * (ReadSchema vector-free, spec-asserted), stage 2 probes 50 full
    * vectors by literal id. The prefix was stored by `slice` of the
    * same float array the in-plan twin slices per query, so scores are
    * bit-identical. Same oracle as `v_mrl_search`. */
  val vMrlSearchIndexed = Q("v_mrl_search_indexed",
    (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val qv = queryVec(s, dir, 0)
      val cands = graft.sources.QuantIndex
        .prefixTopN(s, quantIndexDir(s, dir), qv, 50)
        .select(col("vec_id"), col("score_p"))
      exactRescore(s, emb, cands, qv, 10)
        .select(col("vec_id"),
          floor(col("score_p") * 1e6 + lit(0.5)).cast("long")
            .as("scorep_micro"),
          floor(col("score") * 1e6 + lit(0.5)).cast("long").as("score_micro"))
    },
    vMrlSearch.oracle)

  /** Qdrant FORMULA query (`query: {"formula": ...}` — the public
    * score-boosting API): the final rank is an expression over the base
    * similarity `$score` and payload fields, here the documented
    * `lin_decay` boost — `sum($score, 0.2 · lin_decay(label, target=5,
    * scale=10))` with lin_decay = max(0, scale − |x − target|)/scale.
    * Everything stays in exact integers (20000·max(0, 10−|label−5|)
    * micro-units — the 0.2/scale factor folded into one multiplier), so
    * both engines rank identically. The boost is a per-row map over
    * columns already in the scan: zero extra shuffle at any scale. */
  val vScoreBoost = Q("v_score_boost",
    (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val qv = typedLit(queryVec(s, dir, 0))
      emb
        .withColumn("score_micro",
          floor(VectorOps.cosine(col("embedding"), qv) * 1e6 + lit(0.5))
            .cast("long"))
        .withColumn("boost_micro",
          lit(20000L) * greatest(lit(0L),
            lit(10L) - abs(col("label").cast("long") - lit(5L))))
        .withColumn("final_micro", col("score_micro") + col("boost_micro"))
        .orderBy(desc("final_micro"), col("vec_id"))
        .limit(10)
        .select("vec_id", "score_micro", "boost_micro", "final_micro")
    },
    Some(s"""
      WITH b AS (
        SELECT vec_id,
               CAST(floor(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                 $oracleQ0) * 1000000 + 0.5) AS BIGINT) AS score_micro,
               20000 * greatest(0, 10 - abs(CAST(label AS BIGINT) - 5))
                 AS boost_micro
        FROM embeddings)
      SELECT vec_id, score_micro, boost_micro,
             score_micro + boost_micro AS final_micro
      FROM b
      ORDER BY final_micro DESC, vec_id
      LIMIT 10"""))

  /** V9 — collection stats: per-label cardinality, dim check, mean norm
    * (decimal-summed for order-independence). */
  val collStats = Q("coll_stats",
    (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      emb.withColumn("nrm",
          VectorOps.norm(col("embedding")).cast("decimal(20,12)"))
        .groupBy("label")
        .agg(count(lit(1)).as("n"),
          min(size(col("embedding"))).as("min_dim"),
          max(size(col("embedding"))).as("max_dim"),
          round(sum(col("nrm")).cast("double") / count(lit(1)), 6).as("avg_norm"))
        .orderBy("label")
    },
    Some("""
      SELECT label, COUNT(*) AS n,
             MIN(len(embedding)) AS min_dim, MAX(len(embedding)) AS max_dim,
             ROUND(CAST(SUM(CAST(sqrt(list_inner_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS DECIMAL(20,12))) AS DOUBLE) / COUNT(*), 6) AS avg_norm
      FROM embeddings
      GROUP BY label
      ORDER BY label
    """))

  /** Search PAGINATION + SCORE THRESHOLD (the two remaining public
    * Qdrant search params, `offset` and `score_threshold`): hits below
    * the threshold drop in the scoring pass; the page is ranks
    * (offset, offset+limit]. The global order is materialized only up to
    * offset+limit rows on a bounded heap (TakeOrderedAndProject — an
    * OFFSET never scans-and-discards the corpus), and the row_number
    * window runs over those ≤13 rows, not the collection. Scores in
    * micro-ints so both engines page on identical ties. */
  val vKnnPage = Q("v_knn_page",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import graft.functions.VectorOps.cosine
      val qv = typedLit(queryVec(s, dir, 0))
      val limit = 10; val offset = 3
      val top = Tables.load(s, dir, "embeddings")
        .withColumn("score_micro",
          floor(cosine(col("embedding"), qv) * 1e6 + lit(0.5)).cast("long"))
        .filter(col("score_micro") >= 250000L)
        .orderBy(desc("score_micro"), col("vec_id"))
        .limit(offset + limit)
      top.withColumn("rnk", row_number().over(
          Window.orderBy(desc("score_micro"), col("vec_id"))))
        .filter(col("rnk") > offset)
        .select("vec_id", "label", "score_micro", "rnk")
    },
    Some(s"""
      WITH scored AS (
        SELECT vec_id, label,
               CAST(floor(list_cosine_similarity(
                 CAST(embedding AS DOUBLE[]), $oracleQ0) * 1000000 + 0.5)
                 AS BIGINT) AS score_micro
        FROM embeddings),
      ranked AS (
        SELECT vec_id, label, score_micro,
               CAST(ROW_NUMBER() OVER (ORDER BY score_micro DESC, vec_id)
                 AS INT) AS rnk
        FROM scored WHERE score_micro >= 250000)
      SELECT vec_id, label, score_micro, rnk
      FROM ranked
      WHERE rnk > 3 AND rnk <= 13
      ORDER BY rnk"""))

  def queries: Seq[Q] = Seq(vCosine, vKnn, vKnnIndexed, vKnnTenant,
    vKnnMulti, vKnnMultiIndexed, vKnnPhraseIndexed, vKnnPage,
    vKnnMultiAgg, vKnnBatch, vKnnBatchDsl, vKnnFiltered, vKnnPayloadIndexed,
    vKnnDsl,
    vKnnDslExcept,
    vKnnDslNested, vKnnDslNestedObj, vKnnDslNestedTyped, vKnnDslMinShould,
    vKnnDslRouted, vKnnGeo, vKnnGeoIndexed, vKnnGeoPoly, vKnnGeoPolyRouted,
    vKnnGeoSelRouted, vKnnGeoRadius,
    vL2, vManhattan, vDot, vFusion, vFusionPartial, vMaxsim, vHybridRrf,
    vHybridDbsf, vHybridRrfIndexed, vHybridDbsfIndexed,
    vHybridDbsfMultiIndexed,
    vSqQuantize, vSqSearch, vBqSearch, vPrefetch,
    vSqSearchIndexed, vBqSearchIndexed, vBqSearchMulti, vPrefetchIndexed,
    vMrlSearch, vMrlSearchIndexed, vScoreBoost, collStats)
}
