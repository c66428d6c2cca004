package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.VectorOps

/** Materialized quantized-codes sidecar — the engine's form of Qdrant's
  * `quantization_config` (the public serving design: the server keeps
  * compressed codes BESIDE the original vectors and serves the first
  * search pass from the codes alone; the reference's collections are
  * created against exactly that server, `qdrant_embedder.py:92-103`).
  *
  * Why a sidecar and not in-plan codes: computing BQ/SQ codes from the
  * `embedding` column per query means stage-1 IO equals exact search —
  * the 32× (1-bit) / 4× (int8) first-pass byte reduction that is the
  * whole point of quantized serving at 100 TB never materializes. With
  * the sidecar, the collection-wide pass scans ONLY this table:
  * `dim/8` bytes of packed sign bits + `dim` int8 codes + 2 doubles per
  * row, vs `4·dim` bytes of floats (spec-asserted: the stage-1 plan's
  * `ReadSchema` carries no embedding column).
  *
  * == Layout ==
  *
  * {{{
  * quantDir/
  *   _quant_index.json            {"id_col", "vec_col", "dim", "word_bits",
  *                                 "prefix_dim"}
  *   src_bucket=b/part-….parquet  (id, bq ARRAY<BIGINT>, mn, mx,
  *                                 codes ARRAY<INT>,
  *                                 prefix ARRAY<FLOAT>, norm DOUBLE)
  * }}}
  *
  * `bq` = sign bits packed 32/word ([[VectorOps.bqPack]]); `(mn, mx,
  * codes)` = the per-vector int8 affine map ([[VectorOps.sqCodes]]).
  * `src_bucket` is the collection's id-hash bucket — the refresh/swap
  * unit ([[IvfIndex]]/[[PayloadIndex]]'s discipline exactly). Codes are
  * a pure deterministic function of the vector (same IEEE ops the
  * in-plan expressions run), so the sidecar is a derived layout,
  * rebuildable byte-identically — and serving from it can never change
  * a row ([[graft.functions.SqUtil.scoreFromCodes]] is bit-identical to
  * scoring the full vector).
  *
  * == Serving ==
  *
  * [[hammingTopN]] / [[sqTopN]] / [[prefetchTopN]] are the
  * collection-wide candidate stages: one scan of the codes table ending
  * in a bounded top-k heap (TakeOrderedAndProject). The exact final
  * stage (full-precision rescore of ≤ top-k rows) probes the collection
  * by LITERAL id ([[graft.operators.GraphAnn.inIds]] — PushedFilters,
  * O(candidates) row groups), so the full vectors of only the
  * candidates are ever read.
  *
  * == Refresh ==
  *
  * [[refresh]] composes the collection change feed
  * ([[Collections.changedSince]]) with the staged per-`src_bucket` swap
  * ([[PayloadIndex.refresh]]'s contract verbatim): recompute codes for
  * changed buckets only, stage under `_staging_refresh`, delete stale
  * dirs, move staged dirs in. Untouched buckets' files are not read,
  * not rewritten, not moved; refresh == rebuild row-for-row
  * (spec-gated).
  */
object QuantIndex {

  /** Pinned build parameters, persisted so serving and refresh can never
    * disagree with the build's geometry. `prefixDim` = the stored MRL
    * prefix length ([[prefixTopN]]). */
  final case class Meta(idCol: String, vecCol: String, dim: Int,
                        wordBits: Int, prefixDim: Int)

  /** Data-file layout generation, version-stamped into the metadata:
    * 2 = every bucket carries the stored-norm column the EXACT-bound
    * candidate stage divides by. A sidecar persisted before the stamp
    * existed reads as 1 — [[refresh]] and the candidate verbs refuse it
    * LOUDLY, because a partial bucket swap onto a norm-less layout would
    * leave a MIXED schema where unrefreshed buckets' rows read norm as
    * NULL and silently fall out of the guaranteed-superset contract. */
  val CurrentLayout: Int = 2

  private def metaPath(dir: String) = Paths.get(dir, "_quant_index.json")

  private def writeMeta(dir: String, m: Meta): Unit = {
    require(!m.idCol.contains("\"") && !m.vecCol.contains("\""),
      "column names must not contain quotes")
    Files.createDirectories(Paths.get(dir))
    Files.write(metaPath(dir),
      (s"""{"layout": $CurrentLayout, """ +
        s""""id_col": "${m.idCol}", "vec_col": "${m.vecCol}", """ +
        s""""dim": ${m.dim}, "word_bits": ${m.wordBits}, """ +
        s""""prefix_dim": ${m.prefixDim}}""")
        .getBytes(StandardCharsets.UTF_8))
    ()
  }

  /** The sidecar's stamped layout generation; a pre-stamp metadata file
    * reads as 1 (the norm-less shape). */
  def layoutOf(dir: String): Int = {
    val txt = new String(Files.readAllBytes(metaPath(dir)),
      StandardCharsets.UTF_8)
    """"layout":\s*(\d+)""".r.findFirstMatchIn(txt)
      .map(_.group(1).toInt).getOrElse(1)
  }

  private def requireCurrentLayout(dir: String, what: String): Unit =
    if (layoutOf(dir) < CurrentLayout)
      throw new IllegalStateException(
        s"quant sidecar at $dir predates the stored-norm layout " +
          s"(generation ${layoutOf(dir)} < $CurrentLayout) — $what " +
          "would silently break the exact-bound contract on the " +
          "norm-less buckets; rebuild with QuantIndex.build (a derived " +
          "layout, rebuildable from the collection)")

  /** Read back the pinned parameters. A missing field (a sidecar
    * persisted by an older layout shape) gets the descriptive
    * rebuild-it error, not a bare None.get — the keyTypeOf precedent. */
  def metaOf(dir: String): Meta = {
    val txt = new String(Files.readAllBytes(metaPath(dir)),
      StandardCharsets.UTF_8)
    def field(k: String, re: String): String =
      (""""""" + k + """":\s*""" + re).r.findFirstMatchIn(txt)
        .getOrElse(throw new IllegalStateException(
          s"quant sidecar at $dir predates the $k metadata — rebuild " +
            "it with QuantIndex.build (a derived layout, rebuildable " +
            "from the collection)"))
        .group(1)
    def str(k: String): String = field(k, """"([^"]+)"""")
    def int(k: String): Int = field(k, """(\d+)""").toInt
    Meta(str("id_col"), str("vec_col"), int("dim"), int("word_bits"),
      int("prefix_dim"))
  }

  /** The query's packed sign-bit words — same weighted-bit sum as
    * [[VectorOps.bqPack]] runs over stored vectors, so query-vs-code
    * hamming is exactly the in-plan pack-both-sides hamming. */
  def packQueryWords(q: Seq[Double], wordBits: Int = 32): Seq[Long] =
    (0 until (q.length + wordBits - 1) / wordBits).map { w =>
      (0 until wordBits).map { j =>
        val i = w * wordBits + j
        if (i < q.length && q(i) > 0) 1L << j else 0L
      }.sum
    }

  /** The codes projection — ONE definition shared by build and refresh
    * (they can never disagree), running the same fused expressions the
    * in-plan queries use (identical IEEE ops → identical codes). The
    * MRL `prefix` column is the vector's first `prefixDim` floats —
    * the prefix-laid column store the MRL serving pattern assumes. */
  private def codesOf(points: DataFrame, m: Meta): DataFrame =
    points
      .select(col(m.idCol),
        VectorOps.bqPack(col(m.vecCol), m.dim, m.wordBits).as("bq"),
        VectorOps.sqCodes(col(m.vecCol)).as("__q"),
        slice(col(m.vecCol), 1, m.prefixDim).as("prefix"),
        // the TRUE L2 norm, stored at build (the SemanticDedupIndex
        // stored-norm discipline): the EXACT-bound candidate stage
        // divides its dequantized-dot bracket by it, so rigorous
        // cosine bounds come from a codes-only scan
        VectorOps.norm(col(m.vecCol)).as("norm"))
      .select(col(m.idCol), col("bq"),
        col("__q.mn").as("mn"), col("__q.mx").as("mx"),
        col("__q.codes").as("codes"), col("prefix"), col("norm"))

  /** Materialize the sidecar from a points frame (fixture-table form). */
  def build(points: DataFrame, idCol: String, vecCol: String, dim: Int,
            dir: String, idBuckets: Int = Collections.DefaultBuckets,
            wordBits: Int = 32, prefixDim: Int = 16): Unit = {
    val m = Meta(idCol, vecCol, dim, wordBits, prefixDim)
    codesOf(points, m)
      .withColumn("src_bucket", Collections.bucketOf(idCol, idBuckets))
      .write.mode("overwrite").partitionBy("src_bucket").parquet(dir)
    // meta AFTER data (overwrite deletes the dir first; a meta record
    // without data must never claim a live index)
    writeMeta(dir, m)
    ServedReads.evict(dir)
  }

  /** Materialize FROM a collection; returns the manifest cursor for
    * [[refresh]]. */
  def buildFromCollection(spark: SparkSession, collDir: String,
                          indexDir: String, idCol: String, vecCol: String,
                          dim: Int): Collections.ManifestView = {
    val cur = Collections.manifestView(collDir)
    build(Collections.read(spark, collDir), idCol, vecCol, dim, indexDir,
      Collections.numBuckets(collDir))
    cur
  }

  /** The sidecar rows (id, bq, mn, mx, codes) — layout columns dropped. */
  def read(spark: SparkSession, dir: String): DataFrame =
    ServedReads.of(spark, dir).drop("src_bucket")

  /** Stage-1 BQ prefilter: hamming of every stored code word vs the
    * packed query, top-`n` by (hamming ASC, id ASC). ONE scan of the
    * codes table — `ReadSchema` holds no vector column — ending in a
    * bounded heap. Rows keep (mn, mx, codes) so an SQ rescore stage
    * needs no second read. */
  def hammingTopN(spark: SparkSession, dir: String, query: Seq[Double],
                  n: Int): DataFrame = {
    val m = metaOf(dir)
    require(query.length == m.dim,
      s"query dim ${query.length} != index dim ${m.dim}")
    read(spark, dir)
      .withColumn("hamming", VectorOps.bqHamming(col("bq"),
        typedLit(packQueryWords(query, m.wordBits))))
      .orderBy(asc("hamming"), col(m.idCol))
      .limit(n)
  }

  /** Stage-1 SQ prefilter: quantized cosine from the STORED codes
    * ([[VectorOps.sqScoreFromCodes]] — bit-identical to scoring the
    * full vector), top-`n` by (score DESC, id ASC). One codes-only
    * scan. */
  def sqTopN(spark: SparkSession, dir: String, query: Seq[Double],
             n: Int): DataFrame = {
    val m = metaOf(dir)
    require(query.length == m.dim,
      s"query dim ${query.length} != index dim ${m.dim}")
    read(spark, dir)
      .withColumn("score_q",
        VectorOps.sqScoreFromCodes(col("codes"), col("mn"), col("mx"),
          query))
      .orderBy(desc("score_q"), col(m.idCol))
      .limit(n)
  }

  /** Stage-1 MRL prefix ranking (Matryoshka truncated-dim retrieval —
    * Kusupati et al. 2022): cosine of the STORED `prefixDim`-float
    * prefix vs the query's prefix, top-`n` by (score DESC, id ASC),
    * zero-norm prefixes dropped (NULL cosine — the in-plan twin's
    * semantics exactly). One codes-table scan reading `prefixDim/dim`
    * of the vector bytes; `ReadSchema` holds no full-vector column. */
  def prefixTopN(spark: SparkSession, dir: String, query: Seq[Double],
                 n: Int): DataFrame = {
    val m = metaOf(dir)
    require(query.length == m.dim,
      s"query dim ${query.length} != index dim ${m.dim}")
    read(spark, dir)
      .withColumn("score_p",
        VectorOps.cosine(col("prefix"), typedLit(query.take(m.prefixDim))))
      .filter(col("score_p").isNotNull)
      .orderBy(desc("score_p"), col(m.idCol))
      .limit(n)
  }

  /** BATCHED stage-1 BQ prefilter — the [[graft.operators.Knn.knnMultiAgg]]
    * analog on the codes sidecar: N queries share ONE codes-table scan.
    * The broadcast query-words frame pairs with every codes row, and the
    * bounded-heap aggregate ([[graft.plans.TopKByScore]]) keeps each
    * query's top-`n` by (hamming ASC, id ASC) on the MAP side, so only
    * |partitions|·N·n rows cross the shuffle — batch cost is one scan,
    * not N. Rows per query are identical to [[hammingTopN]]
    * (spec-gated). Returns (query_id, id, hamming). */
  def hammingTopNMulti(spark: SparkSession, dir: String,
                       queries: Seq[(Long, Seq[Double])], n: Int)
      : DataFrame = {
    val m = metaOf(dir)
    queries.foreach { case (qid, q) => require(q.length == m.dim,
      s"query $qid dim ${q.length} != index dim ${m.dim}") }
    // duplicate ids would merge into one heap (and downstream CASE
    // chains would score the second request with the first's literal)
    require(queries.map(_._1).distinct.length == queries.length,
      "hammingTopNMulti: duplicate query ids in the batch")
    graft.operators.Knn.requireBatch(queries.length, "hammingTopNMulti")
    import spark.implicits._
    val qdf = broadcast(
      queries.map { case (qid, q) => (qid, packQueryWords(q, m.wordBits)) }
        .toDF("query_id", "__qw"))
    read(spark, dir)
      .crossJoin(qdf)
      .withColumn("hamming", VectorOps.bqHamming(col("bq"), col("__qw")))
      .filter(col("hamming").isNotNull)
      .groupBy("query_id")
      // max-heap on −hamming ⇒ (hamming ASC, id ASC) — the single-query
      // ordering exactly
      .agg(graft.plans.TopKByScore.topK(
        (-col("hamming")).cast("double"), col(m.idCol).cast("long"), n)
        .as("__tk"))
      .select(col("query_id"),
        posexplode(col("__tk")).as(Seq("__pos", "__e")))
      .select(col("query_id"), col("__e.id").as(m.idCol),
        (-col("__e.score")).cast("long").as("hamming"))
  }

  /** The nested-prefetch candidate chain (Qdrant `query_points` with
    * `prefetch: {prefetch: ...}`): 1-bit hamming top-`n1`, then int8
    * rescore of those `n1` rows from their STORED codes (same rows —
    * no second read) to top-`n2`. Still one codes-table scan; the full
    * vectors of the `n2` survivors are fetched by the caller's literal
    * probe. */
  def prefetchTopN(spark: SparkSession, dir: String, query: Seq[Double],
                   n1: Int, n2: Int): DataFrame = {
    val m = metaOf(dir)
    hammingTopN(spark, dir, query, n1)
      .withColumn("score_q",
        VectorOps.sqScoreFromCodes(col("codes"), col("mn"), col("mx"),
          query))
      .orderBy(desc("score_q"), col(m.idCol))
      .limit(n2)
  }

  /** BATCHED nested-prefetch chain — N queries through [[prefetchTopN]]'s
    * two quantized stages with a batch-size-independent job budget:
    * stage 1 is ONE codes-table scan ([[hammingTopNMulti]]); the int8
    * rescore re-probes the sidecar by literal id for the survivors'
    * stored codes (ONE job — the candidate union is driver-bounded at
    * N·n1 rows) and scores each row against ITS query via a per-query
    * CASE chain over the SAME [[graft.functions.VectorOps.sqScoreFromCodes]]
    * literal expression the single-query path evaluates, so each query's
    * rows equal its [[prefetchTopN]] result exactly (spec-gated).
    * The CASE arms grow linearly with the batch (per-query literal
    * expressions, not data) — sized for the public API's
    * handful-per-batch shape, CHECKED against
    * [[graft.operators.Knn.MaxBatchQueries]].
    * Returns (query_id, id, hamming, score_q) — top `n2` per query. */
  def prefetchTopNMulti(spark: SparkSession, dir: String,
                        queries: Seq[(Long, Seq[Double])], n1: Int,
                        n2: Int): DataFrame = {
    graft.operators.Knn.requireBatch(queries.length, "prefetchTopNMulti")
    val m = metaOf(dir)
    val (hDf, ids) = graft.operators.GraphAnn.pinWithIds(
      hammingTopNMulti(spark, dir, queries, n1), m.idCol)
    // score each (query, row) pair once, with the query's OWN literal
    // expression (the beamSearchMultiIndexed one-column-per-query rule)
    val scoreQ = queries.foldRight(lit(null).cast("double")) {
      case ((qid, q), acc) =>
        when(col("query_id") === qid,
          VectorOps.sqScoreFromCodes(col("codes"), col("mn"), col("mx"), q))
          .otherwise(acc)
    }
    graft.operators.GraphAnn.inIds(read(spark, dir), m.idCol, ids)
      .join(broadcast(hDf), m.idCol)
      .withColumn("score_q", scoreQ)
      .withColumn("__rnk", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(desc("score_q"), col(m.idCol))))
      .filter(col("__rnk") <= n2)
      .select(col("query_id"), col(m.idCol), col("hamming"),
        col("score_q"))
  }

  /** EXACT top-`n`-cosine candidate set from the codes sidecar — the
    * refine-and-filter law (the FAISS refine / BlockMax family shape),
    * made RIGOROUS by the round-to-nearest code map:
    *
    *  - per coordinate, |v − dequant(code)| ≤ Δ/2 with
    *    Δ = (mx−mn)/255, so the true dot is bracketed by
    *    `dotFromCodes ± (Δ/2)·‖q‖₁` and the true cosine by that
    *    bracket over the STORED true norm × ‖q‖;
    *  - job 1 heaps the per-row cosine LOWER bounds to the n-th
    *    largest, θ (a bounded TakeOrderedAndProject + 1-row collect).
    *    Every true top-n member's cosine ≥ the n-th largest true
    *    cosine ≥ the n-th largest lower bound = θ (lb ≤ cos
    *    pointwise ⇒ order statistics dominate pointwise);
    *  - job 2 keeps rows whose UPPER bound ≥ θ − [[BoundSlack]] — a
    *    guaranteed SUPERSET of the exact top-n (slack covers the
    *    caller's micro-unit tie window and FP accumulation headroom;
    *    it only ever ADDS candidates).
    *
    * The caller exact-rescores the candidates' full vectors (literal
    * id probe / semi-join downgrade — [[graft.operators.GraphAnn]]
    * inIdsFrame) and re-ranks: the result is the EXACT top-n, from a
    * stage-1 that scanned codes + 3 doubles per row and never the
    * vector column (ReadSchema spec-asserted). Candidate count is
    * n + the rows whose ±err band straddles θ — the band is
    * data-independent (quantization width), so the overshoot tracks
    * the score DENSITY at the boundary, not the corpus (probed FLAT;
    * see SURVEY §8).
    *
    * Contract: zero-norm vectors never become candidates (their
    * cosine is NULL in-plan and a NULL never outranks a scored row;
    * they could only surface in a top-n over a collection with < n
    * scoreable rows, where this verb already returns every scoreable
    * row because θ is the minimum lower bound).
    *
    * `scope` — the FILTER-SCOPED form (the r15 verdict's open dense
    * path: Qdrant's filtered search with quantization enabled): a
    * one-column id frame naming the filtered population. The bound
    * survives scoping because BOTH jobs see the same population — the
    * codes scan semi-joins the scope ids BEFORE the θ heap, so θ is
    * the n-th largest lower bound WITHIN the filter and the ub ≥ θ
    * rows are a guaranteed superset of the filtered exact top-n (the
    * unscoped proof verbatim, quantified over the scoped rows). What
    * this buys at scale: a filter-composed exact search reads the
    * filter's own pruned columns + the codes sliver, never the full
    * vector column of the filtered rows — the one dense serving path
    * that previously grew with the collection. Stage-1 ReadSchema on
    * the codes table is unchanged (the semi-join adds the scope's own
    * scan, separately pruned). Returns (idCol, lb, ub). */
  def cosineCandidates(spark: SparkSession, dir: String,
                       query: Seq[Double], n: Int,
                       scope: Option[DataFrame] = None): DataFrame = {
    val m = metaOf(dir)
    require(query.length == m.dim,
      s"query dim ${query.length} != index dim ${m.dim}")
    // the layout STAMP, not a schema sniff: a mixed layout (partial
    // swap onto a pre-norm sidecar) still INFERS a norm column while
    // unrefreshed buckets read it as NULL — only the stamped generation
    // proves every bucket carries it
    requireCurrentLayout(dir, "serving exact-bound candidates")
    val base = scope match {
      case Some(sc) =>
        read(spark, dir).join(sc.select(col(m.idCol)), Seq(m.idCol),
          "left_semi")
      case None => read(spark, dir)
    }
    val qNorm = math.sqrt(query.map(x => x * x).sum)
    val qL1 = query.map(math.abs).sum
    require(qNorm > 0, "cosine candidates need a non-zero query vector")
    val bounded = base
      .filter(col("norm") > 0)
      .withColumn("__dq", org.apache.spark.sql.GraftSqlBridge.column(
        graft.functions.SqCodesDotExpr(
          org.apache.spark.sql.GraftSqlBridge.expression(col("codes")),
          org.apache.spark.sql.GraftSqlBridge.expression(col("mn")),
          org.apache.spark.sql.GraftSqlBridge.expression(col("mx")),
          query)))
      .withColumn("__err",
        (col("mx") - col("mn")) / lit(255.0) / lit(2.0) * lit(qL1))
      .withColumn("lb",
        (col("__dq") - col("__err")) / (col("norm") * lit(qNorm)))
      .withColumn("ub",
        (col("__dq") + col("__err")) / (col("norm") * lit(qNorm)))
    // θ = n-th largest lower bound; < n scoreable rows → the minimum
    // (every row a candidate). Bounded: heap + 1-row collect.
    val thetaRow = bounded.select(col("lb"))
      .orderBy(desc("lb")).limit(n)
      .agg(min("lb")).collect()
    val theta = if (thetaRow.isEmpty || thetaRow.head.isNullAt(0))
      Double.NegativeInfinity else thetaRow.head.getDouble(0)
    bounded
      .filter(col("ub") >= lit(theta - BoundSlack))
      .select(col(m.idCol), col("lb"), col("ub"))
  }

  /** BATCHED exact-bound candidates — the queryPointsMulti law applied
    * to [[cosineCandidates]]: N queries share the TWO codes-only scans
    * (each query's dequantized dot is its own bound literal expression
    * in a per-query CASE chain — the prefetchTopNMulti rule, CHECKED
    * against [[graft.operators.Knn.MaxBatchQueries]]); job 1 heaps
    * every query's lower bounds map-side
    * ([[graft.plans.TopKByScore]] — |partitions|·N·n rows shuffled)
    * and collects the N θ values (one bounded row per query), job 2
    * filters the broadcast-joined upper bounds. Per query the
    * candidate set is IDENTICAL to the single-query verb
    * (spec-pinned); the job budget is independent of the batch size.
    * `scope` composes exactly as in [[cosineCandidates]] — one shared
    * filter population semi-joined before every query's θ heap (the
    * shared-filter `query_batch_points` shape), per-query supersets
    * within the filter. Returns (query_id, idCol, lb, ub). */
  def cosineCandidatesMulti(spark: SparkSession, dir: String,
                            queries: Seq[(Long, Seq[Double])], n: Int,
                            scope: Option[DataFrame] = None)
      : DataFrame = {
    val m = metaOf(dir)
    queries.foreach { case (qid, q) => require(q.length == m.dim,
      s"query $qid dim ${q.length} != index dim ${m.dim}") }
    require(queries.map(_._1).distinct.length == queries.length,
      "cosineCandidatesMulti: duplicate query ids in the batch")
    graft.operators.Knn.requireBatch(queries.length,
      "cosineCandidatesMulti")
    // the layout stamp, not a schema sniff (see cosineCandidates)
    requireCurrentLayout(dir, "serving exact-bound candidates")
    val base = scope match {
      case Some(sc) =>
        read(spark, dir).join(sc.select(col(m.idCol)), Seq(m.idCol),
          "left_semi")
      case None => read(spark, dir)
    }
    val consts = queries.map { case (qid, q) =>
      val qn = math.sqrt(q.map(x => x * x).sum)
      require(qn > 0, s"query $qid: cosine candidates need a non-zero " +
        "query vector")
      (qid, qn, q.map(math.abs).sum)
    }
    import spark.implicits._
    val qdf = broadcast(consts.toDF("query_id", "__qn", "__ql1"))
    // each query's dot is its OWN literal kernel (the one-column-per-
    // query rule: a query's weights must ride generated code, and rows
    // pair with every query via the broadcast constants frame)
    val dqCase = queries.foldRight(lit(null).cast("double")) {
      case ((qid, q), acc) =>
        when(col("query_id") === qid,
          org.apache.spark.sql.GraftSqlBridge.column(
            graft.functions.SqCodesDotExpr(
              org.apache.spark.sql.GraftSqlBridge.expression(col("codes")),
              org.apache.spark.sql.GraftSqlBridge.expression(col("mn")),
              org.apache.spark.sql.GraftSqlBridge.expression(col("mx")),
              q))).otherwise(acc)
    }
    def bounded = base
      .filter(col("norm") > 0)
      .crossJoin(qdf)
      .withColumn("__dq", dqCase)
      .withColumn("__err",
        (col("mx") - col("mn")) / lit(255.0) / lit(2.0) * col("__ql1"))
      .withColumn("lb",
        (col("__dq") - col("__err")) / (col("norm") * col("__qn")))
      .withColumn("ub",
        (col("__dq") + col("__err")) / (col("norm") * col("__qn")))
    // job 1: per-query θ (n-th largest lower bound; < n scoreable rows
    // → that query's minimum) — map-side heaps, N bounded rows out.
    // lb is null only for a codes/query dim mismatch (construction-
    // impossible past the entry require) — filtered like every heap
    // input (the hammingTopNMulti discipline) rather than trusted
    val thetas = bounded
      .filter(col("lb").isNotNull)
      .groupBy("query_id")
      .agg(graft.plans.TopKByScore.topK(col("lb"),
        col(m.idCol).cast("long"), n).as("__tk"))
      .select(col("query_id"),
        posexplode(col("__tk")).as(Seq("__pos", "__e")))
      .groupBy("query_id").agg(min(col("__e.score")).as("__theta"))
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val missing = queries.map(_._1).toSet -- thetas.map(_._1).toSet
    val tdf = broadcast(
      (thetas ++ missing.map(_ -> Double.NegativeInfinity))
        .toSeq.toDF("query_id", "__theta"))
    // job 2 (the caller's): same bounded frame, per-query θ filter
    bounded
      .join(tdf, "query_id")
      .filter(col("ub") >= col("__theta") - lit(BoundSlack))
      .select(col("query_id"), col(m.idCol), col("lb"), col("ub"))
  }

  /** Rows at or below which a quant declaration does not pay for
    * itself: [[VectorRouter]] gives such a collection NO route, so
    * knn, batch and filtered reads all take the one-scan exact plan
    * (Qdrant's `full_scan_threshold` plain search), and
    * [[graft.VectorQueries]]' phrase-scoped key takes its plain
    * semi-join. Every indexed plan spends constant extra jobs — the
    * prefetch chain's driver-pinned candidate collect and id probe, the
    * scoped bound's θ collect and superset filter — that a small
    * collection never earns back: 65 536 rows × 256 B/vector ≈ 16 MB
    * is sub-second single-pass work on any hardware, while extra job
    * launches never are free. Measured on a 4-core host at 65 536 ×
    * 384-d doubles (≈ 200 MB of vectors), the exact scan still wins:
    * knn 388 vs 831 ms, an 8-query batch 1.10 vs 1.98 s (medians of 10,
    * exact vs prefetch); at 262 144 rows it still does (1.27 vs 2.28 s,
    * 3.43 vs 4.89 s), so the default is conservative for wide vectors
    * too. The bound is on the COLLECTION (a zero-job
    * parquet-footer count of the sidecar), which upper-bounds every
    * scope. Overridable per session (`spark.graft.quant.scopedScanRows`)
    * so a deployment can move the break-even; the default is justified
    * by the byte math above, not tuned to the local bench. */
  def scopedScanRows(spark: SparkSession): Long =
    spark.conf.get("spark.graft.quant.scopedScanRows", "65536").toLong

  /** Footer-walk bound for [[collectionRows]]: past this many sidecar
    * files the driver-side walk would stop being a metadata read — and
    * a listing that big IS a big collection (the decision needs no
    * count). */
  private val FooterWalkFiles = 256L

  /** Driver-side parquet-footer row count of the sidecar (zero jobs;
    * None = listing past [[FooterWalkFiles]] files), memoized on the
    * sidecar's top-level listing: [[build]] rewrites every `src_bucket=`
    * dir and [[refresh]] swaps in new ones, so either changes it. */
  private def collectionRows(spark: SparkSession, dir: String)
      : Option[Long] =
    graft.Memo("quantRows", (), dir) {
      IndexRouter.metadataRowCount(read(spark, dir),
        maxFiles = FooterWalkFiles)
    }

  /** Does the sidecar at `dir` pay for itself? True when its zero-job
    * footer count exceeds [[scopedScanRows]] (or the listing is too big
    * to walk — a big collection by construction). The one size gate:
    * [[VectorRouter]] routes a quant declaration only when it pays, and
    * serves every read class of a smaller collection by the exact scan.
    * For the filter-scoped bound this is a plan choice, never a
    * semantic one (both paths are EXACT); for the unfiltered prefetch
    * chain the small side is exact where the chain is recall-bounded. */
  def scopedBoundPays(spark: SparkSession, dir: String): Boolean =
    collectionRows(spark, dir).forall(_ > scopedScanRows(spark))

  /** Candidate slack: 1e-6 for the caller's micro-unit rank-tie window
    * (a row can enter a micro-ranked top-n with a true cosine up to
    * half a micro below the n-th score's rounding band) + 1e-6 of FP
    * accumulation headroom (≫ the ~1e-13 worst case of a few-thousand-
    * term double sum). Slack only ADDS candidates — the exact rescore
    * discards them — so correctness never rests on it being tight. */
  val BoundSlack: Double = 2e-6

  /** Incremental refresh from the change feed — the
    * [[PayloadIndex.refresh]] contract verbatim: stale `src_bucket=`
    * dirs deleted, staged replacements moved in, untouched buckets
    * byte-stable. Returns the new cursor. */
  def refresh(spark: SparkSession, collDir: String, indexDir: String,
              prev: Collections.ManifestView): Collections.ManifestView = {
    val m = metaOf(indexDir)
    // a partial swap writes CURRENT-layout buckets — onto a pre-norm
    // layout that produces the mixed schema the candidate verbs can't
    // detect from inference alone; refuse loudly, force a full rebuild
    requireCurrentLayout(indexDir, "a partial bucket swap")
    Collections.stagedBucketRefresh(spark, collDir, indexDir,
      prev, Seq("src_bucket")) { changed =>
      codesOf(changed, m).withColumn("src_bucket",
        Collections.bucketOf(m.idCol, Collections.numBuckets(collDir)))
    }
  }
}
