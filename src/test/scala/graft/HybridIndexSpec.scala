package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TextAnalysis
import graft.sources.{LexIndex, QuantIndex}

/** Indexed hybrid retrieval (the r13 verdict's top gap): the lexical
  * postings layout, the exact-bound dense candidate stage, and the
  * three `v_hybrid_*_indexed` keys — every claim pinned against the
  * in-plan twins the UNCHANGED oracles gate. */
class HybridIndexSpec extends AnyFunSuite with SparkSpec {

  private lazy val docs = Tables.load(spark, sf, "documents")
  private lazy val emb = Tables.load(spark, sf, "embeddings")

  private lazy val lexDir = VectorQueries.lexIndexDir(spark, sf)
  private lazy val quantDir = VectorQueries.quantIndexDir(spark, sf)

  private def qv(i: Long): Seq[Double] =
    emb.filter(col("vec_id") === i)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0)

  test("cosineCandidates: guaranteed SUPERSET of the exact micro-ranked " +
       "top-100, for several queries, and the bound brackets the true " +
       "cosine on every row") {
    for (q <- Seq(0L, 3L, 7L)) {
      val query = qv(q)
      val exact = emb
        .withColumn("m", floor(graft.functions.VectorOps.cosine(
          col("embedding"), typedLit(query)) * 1e6 + lit(0.5)).cast("long"))
        .orderBy(desc("m"), col("vec_id"))
        .limit(100).select("vec_id")
        .collect().map(_.getLong(0)).toSet
      val cands = QuantIndex.cosineCandidates(spark, quantDir, query, 100)
      val candIds = cands.select("vec_id")
        .collect().map(_.getLong(0)).toSet
      assert(exact.subsetOf(candIds),
        s"query $q: exact top-100 not covered — missing " +
          s"${(exact -- candIds).take(5)} of ${exact.size} " +
          s"(candidates ${candIds.size})")
      // lb ≤ cos ≤ ub pointwise (joined against the true vectors)
      val viol = cands
        .join(emb.select(col("vec_id"), col("embedding")), "vec_id")
        .withColumn("c", graft.functions.VectorOps.cosine(
          col("embedding"), typedLit(query)))
        .filter(col("c") < col("lb") - lit(1e-12) ||
          col("c") > col("ub") + lit(1e-12))
      assert(viol.count() == 0,
        s"query $q: bound does not bracket the true cosine")
    }
  }

  test("cosineCandidates with a SCOPE: θ and the superset live within " +
       "the filtered population (covers the scoped exact top-n, every " +
       "candidate passes the filter, no embedding bytes in any scan), " +
       "and the batched form matches per query") {
    val scope = emb.filter(col("label") === 3).select(col("vec_id"))
    val scopeIds = scope.collect().map(_.getLong(0)).toSet
    for (q <- Seq(0L, 7L)) {
      val query = qv(q)
      // the scoped exact top-10 can sit entirely below the GLOBAL θ —
      // exactly the case the scope parameter exists for
      val exact = emb.filter(col("label") === 3)
        .withColumn("m", floor(graft.functions.VectorOps.cosine(
          col("embedding"), typedLit(query)) * 1e6 + lit(0.5)).cast("long"))
        .orderBy(desc("m"), col("vec_id"))
        .limit(10).select("vec_id")
        .collect().map(_.getLong(0)).toSet
      val cands = QuantIndex.cosineCandidates(spark, quantDir, query, 10,
        scope = Some(scope))
      val candIds = cands.select("vec_id")
        .collect().map(_.getLong(0)).toSet
      assert(exact.subsetOf(candIds),
        s"query $q: scoped exact top-10 not covered — missing " +
          s"${(exact -- candIds).take(5)}")
      assert(candIds.subsetOf(scopeIds),
        s"query $q: a candidate escaped the scope")
      // the candidate stage still never reads a vector column — the
      // scope side is its own pruned scan (vec_id+label only here)
      val plan = cands.queryExecution.executedPlan.toString
      val rs = "ReadSchema: [^\\n]*".r.findAllIn(plan).toSeq
      assert(rs.nonEmpty && rs.forall(!_.contains("embedding")),
        s"scoped stage-1 reads a vector column:\n$plan")
    }
    // batched scoped == single scoped per query (the shared-filter
    // query_batch_points contract)
    val qs = Seq(0L, 7L).map(i => i -> qv(i))
    val multi = QuantIndex.cosineCandidatesMulti(spark, quantDir, qs, 10,
        scope = Some(scope))
      .select("query_id", "vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    qs.foreach { case (qid, query) =>
      val single = QuantIndex
        .cosineCandidates(spark, quantDir, query, 10, Some(scope))
        .select("vec_id").collect().map(r => (qid, r.getLong(0))).toSet
      assert(multi.filter(_._1 == qid) == single,
        s"query $qid: batched scoped candidates != single")
    }
  }

  test("scopedBoundPays (r17): the fixture sidecar is below the " +
       "production default (small collections route to the plain " +
       "filtered scan), a zero threshold opens the gate, and the " +
       "v_knn_phrase_indexed pipeline returns the identical rows on " +
       "both branches") {
    // default (65 536): a 500-row fixture sidecar can never pay
    assert(!QuantIndex.scopedBoundPays(spark, quantDir),
      "fixture-sized collection claimed to pay for the scoped bound")
    assert(quantGateOpen(QuantIndex.scopedBoundPays(spark, quantDir)),
      "zero threshold must open the gate")
    // both branches of the declared query compute the same rows: the
    // scoped bound is a superset-then-exact-rescore of the very scan
    // the small path runs
    def phraseRows(): Seq[(Long, Int, Double)] =
      Queries.queries("v_knn_phrase_indexed")(spark, sf)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
        .toSeq
    val small = phraseRows() // gate closed (default)
    val scopedB = quantGateOpen(phraseRows()) // the scoped-θ serving
    assert(small == scopedB,
      "v_knn_phrase_indexed rows differ between the gate's branches")
  }

  test("cosineCandidates stage 1 is a codes-only scan: one parquet scan " +
       "of the sidecar, ReadSchema carries codes+range+norm but neither " +
       "the bq words nor the MRL prefix (pruned), and never a vector " +
       "column") {
    val cands = QuantIndex.cosineCandidates(spark, quantDir, qv(0), 100)
    val plan = cands.queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(plan).length == 1,
      s"candidate stage must be one codes scan:\n$plan")
    val rs = "ReadSchema: [^\\n]*".r.findAllIn(plan).toSeq
    assert(rs.nonEmpty && rs.forall(s =>
        !s.contains("embedding") && !s.contains("prefix") &&
          !s.contains("bq")),
      s"stage-1 ReadSchema reads more than codes+range+norm:\n$plan")
    assert(rs.exists(s => s.contains("codes") && s.contains("norm")),
      s"stage-1 ReadSchema misses codes/norm:\n$plan")
  }

  test("SqCodesDotExpr is bit-equal to the HOF dequantize-dot twin") {
    val query = qv(3)
    val dq = graft.functions.VectorOps.sqDequantize(col("codes"),
      struct(col("mn"), col("mx")))
    val hof = aggregate(
      zip_with(dq, typedLit(query), (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)
    val fused = org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.SqCodesDotExpr(
        org.apache.spark.sql.GraftSqlBridge.expression(col("codes")),
        org.apache.spark.sql.GraftSqlBridge.expression(col("mn")),
        org.apache.spark.sql.GraftSqlBridge.expression(col("mx")),
        query))
    val diverged = QuantIndex.read(spark, quantDir)
      .select(hof.as("a"), fused.as("b"))
      .filter(!(col("a") <=> col("b")))
    assert(diverged.count() == 0,
      "fused dequantized dot != sequential HOF twin")
  }

  test("LexIndex.bm25 equals TextAnalysis.bm25 row-for-row (tf, len, " +
       "df, N, Σlen all from the layout)") {
    val terms = Seq("data", "query", "table")
    val served = LexIndex.bm25(spark, lexDir, terms)
      .select("doc_id", "bm25_micro", "n_terms_hit")
      .collect().map(_.toSeq).toSet
    val inPlan = TextAnalysis.bm25(docs, "doc_id", "text", terms)
      .select("doc_id", "bm25_micro", "n_terms_hit")
      .collect().map(_.toSeq).toSet
    assert(served == inPlan, "postings-served BM25 diverges from in-plan")
    // and for a term set with different df/tf shape (single rare-ish term)
    val t2 = Seq("scan")
    val s2 = LexIndex.bm25(spark, lexDir, t2)
      .collect().map(_.toSeq).toSet
    val p2 = TextAnalysis.bm25(docs, "doc_id", "text", t2)
      .collect().map(_.toSeq).toSet
    assert(s2 == p2, "single-term BM25 diverges")
  }

  test("termCountScores equals the in-plan keyword-occurrence count " +
       "(hit documents), and the postings scan prunes tgrp partitions " +
       "at listing with no text column anywhere") {
    val kws = Seq("data", "query", "table")
    val served = LexIndex.termCountScores(spark, lexDir, kws)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val inPlan = docs
      .withColumn("s", size(filter(TextAnalysis.tokens(col("text")),
        t => array_contains(typedLit(kws), t))).cast("long"))
      .filter(col("s") > 0)
      .select("doc_id", "s")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(served == inPlan, "postings keyword counts diverge from in-plan")
    val plan = LexIndex.termPostings(spark, lexDir, kws)
      .queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*tgrp[^\\]]*".r
        .findFirstIn(plan).isDefined,
      s"term groups not pruned at file listing:\n$plan")
    val rs = "ReadSchema: [^\\n]*".r.findAllIn(plan).toSeq
    assert(rs.nonEmpty && rs.forall(!_.contains("text")),
      s"postings serving reads the corpus text:\n$plan")
  }

  test("rankedTopN: zero-fill path (fewer hits than n) and no-fill path " +
       "both equal the in-plan rank-over-the-whole-corpus twin") {
    val kws = Seq("data", "query", "table")
    val hits = LexIndex.termCountScores(spark, lexDir, kws)
    val universe = docs.select("doc_id")
    val inPlanAll = graft.operators.Fusion.topNRanked(
      docs.withColumn("score_t",
        size(filter(TextAnalysis.tokens(col("text")),
          t => array_contains(typedLit(kws), t))).cast("long")),
      100, "r_t", desc("score_t"), col("doc_id"))
    // sf0.001 has 50 docs < 100 → the id-ordered zero tail must appear
    val a100 = LexIndex.rankedTopN(spark, hits, universe, "doc_id",
        "score_t", 100, "r_t")
      .select("doc_id", "score_t", "r_t")
      .collect().map(_.toSeq).toSet
    val b100 = inPlanAll.select("doc_id", "score_t", "r_t")
      .collect().map(_.toSeq).toSet
    assert(a100 == b100, "zero-fill ranked list diverges from in-plan")
    assert(a100.size == universe.count().min(100),
      "zero-fill did not reach the full list length")
    // n below the hit count → pure-heap path (universe never consulted)
    val a5 = LexIndex.rankedTopN(spark, hits, universe, "doc_id",
        "score_t", 5, "r_t")
      .select("doc_id", "score_t", "r_t")
      .collect().map(_.toSeq).toSet
    val b5 = graft.operators.Fusion.topNRanked(
        docs.withColumn("score_t",
          size(filter(TextAnalysis.tokens(col("text")),
            t => array_contains(typedLit(kws), t))).cast("long")),
        5, "r_t", desc("score_t"), col("doc_id"))
      .select("doc_id", "score_t", "r_t")
      .collect().map(_.toSeq).toSet
    assert(a5 == b5, "no-fill ranked list diverges from in-plan")
    // STRING ids through the fill path: the layout accepts any id
    // column, so the zero-tail exclusion must be type-agnostic (the
    // Long-literal isin it replaced CCE'd here at serve time)
    import spark.implicits._
    val sHits = Seq(("b", 5L), ("d", 2L)).toDF("k", "s")
    val sUniverse = Seq("a", "b", "c", "d", "e").toDF("k")
    val sRanked = LexIndex.rankedTopN(spark, sHits, sUniverse, "k",
        "s", 4, "r")
      .select("k", "s", "r")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
      .sortBy(_._3)
    assert(sRanked.toSeq == Seq(("b", 5L, 1), ("d", 2L, 2),
        ("a", 0L, 3), ("c", 0L, 4)),
      s"string-id fill path diverged: ${sRanked.toSeq}")
    // r16 (r15 ADVICE): a ZERO-SCORE HIT must interleave with the fill
    // rows by id — the single-query verb ranks the assembled union by
    // (score DESC, id), so the batched form must too, not hits-first
    val zHits = Seq((5L, 3L, 7L), (5L, 4L, 0L))
      .toDF("query_id", "doc_id", "score_t")
    val zUni = Seq(1L, 2L, 3L, 4L, 5L).toDF("doc_id")
    val zMulti = LexIndex.rankedTopNMulti(spark, zHits, zUni, "doc_id",
        "score_t", 4, "r_t", Seq(5L))
      .select("doc_id", "score_t", "r_t")
      .collect().map(_.toSeq).toSet
    val zSingle = LexIndex.rankedTopN(spark,
        zHits.filter(col("query_id") === 5L).drop("query_id"),
        zUni, "doc_id", "score_t", 4, "r_t")
      .select("doc_id", "score_t", "r_t")
      .collect().map(_.toSeq).toSet
    assert(zMulti == zSingle,
      s"zero-score hit ranks differently batched ($zMulti) vs " +
        s"single ($zSingle)")
    // the 0-score hit (doc 4) must NOT outrank lower-id fill rows
    assert(zMulti.contains(Seq(1L, 0L, 2)) &&
        zMulti.contains(Seq(4L, 0L, 4)),
      s"assembled ordering wrong: $zMulti")
  }

  test("the three indexed hybrid keys AND exact sidecar kNN equal " +
       "their in-plan twins row-for-row (the unchanged-oracle " +
       "contract, asserted locally)") {
    for (base <- Seq("v_hybrid_rrf", "v_hybrid_bm25", "v_hybrid_dbsf",
        "v_knn")) {
      val a = Queries.queries(base)(spark, sf)
        .collect().map(_.toSeq.toString).toSeq
      val b = Queries.queries(s"${base}_indexed")(spark, sf)
        .collect().map(_.toSeq.toString).toSeq
      assert(a == b, s"$base: indexed serving changed rows")
    }
  }

  test("routed hybrid (v_auto_hybrid): every declaration combination — " +
       "both legs, one leg, none, exact bypass — returns the identical " +
       "row set (routing is a plan decision, never a semantic one), " +
       "and the sniffers pick only their own layout kinds") {
    import graft.sources.VectorRouter
    val both = Seq(lexDir, quantDir)
    // sniffers: each finds its own kind, ignores the other
    assert(VectorRouter.lexDirOf(both).contains(lexDir))
    assert(VectorRouter.quantDirOf(both).contains(quantDir))
    assert(VectorRouter.lexDirOf(Seq(quantDir)).isEmpty)
    assert(VectorRouter.quantDirOf(Seq(lexDir)).isEmpty)
    val base = Queries.queries("v_hybrid_rrf")(spark, sf)
      .collect().map(_.toSeq.toString).toSeq
    def routed(decls: Seq[String], exact: Boolean = false): Seq[String] =
      AutoQueries.hybridRrfRouted(spark, sf, decls, exact)
        .collect().map(_.toSeq.toString).toSeq
    assert(routed(both) == base, "both-legs routing changed rows")
    assert(routed(Seq(lexDir)) == base, "text-only routing changed rows")
    assert(routed(Seq(quantDir)) == base, "dense-only routing changed rows")
    assert(routed(Nil) == base, "no-declaration fallback changed rows")
    assert(routed(both, exact = true) == base, "exact bypass changed rows")
  }

  test("cosineCandidatesMulti: per-query candidates equal the " +
       "single-query verb; the job budget is flat across batch sizes; " +
       "batched exact kNN (v_knn_multi_indexed) equals the in-plan " +
       "batch; loud batch contracts") {
    import graft.sources.QuantIndex
    val qs3 = Seq(0L, 3L, 7L).map(i => i -> qv(i))
    val multiRows = QuantIndex
      .cosineCandidatesMulti(spark, quantDir, qs3, 100)
      .select("query_id", "vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    for ((q, vec) <- qs3) {
      val single = QuantIndex.cosineCandidates(spark, quantDir, vec, 100)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(multiRows(q) == single,
        s"query $q: batched candidates diverge from single-query")
    }
    // the queryPointsMulti job-budget law: a doubled batch runs the
    // same number of jobs (two shared scans + the θ collect)
    def jobsFor(qs: Seq[(Long, Seq[Double])]): Int =
      jobsIn(QuantIndex.cosineCandidatesMulti(spark, quantDir, qs, 100)
        .queryExecution.toRdd.foreach(_ => ()))
    val qs6 = qs3 ++ Seq(1L, 2L, 4L).map(i => i -> qv(i))
    assert(jobsFor(qs3) == jobsFor(qs6),
      "candidate job budget grew with the batch")
    // the declared batched key equals its in-plan twin row-for-row
    val a = Queries.queries("v_knn_multi")(spark, sf)
      .collect().map(_.toSeq.toString).toSeq
    val b = Queries.queries("v_knn_multi_indexed")(spark, sf)
      .collect().map(_.toSeq.toString).toSeq
    assert(a == b, "batched sidecar kNN changed rows")
    intercept[IllegalArgumentException] {
      QuantIndex.cosineCandidatesMulti(spark, quantDir,
        Seq((1L, qv(0)), (1L, qv(3))), 10)
    }
    intercept[IllegalArgumentException] {
      QuantIndex.cosineCandidatesMulti(spark, quantDir,
        (0 to graft.operators.Knn.MaxBatchQueries)
          .map(i => i.toLong -> qv(0)), 10)
    }
  }

  test("batched routed hybrid: termCountScoresMulti / bm25Multi / " +
       "rankedTopNMulti / v_auto_hybrid_multi each equal their " +
       "single-query twins per query; text-leg job budget flat across " +
       "batch sizes; loud batch contracts") {
    val batch = Seq(0L -> Seq("data", "query", "table"),
      1L -> Seq("scan", "index"), 2L -> Seq("the", "of", "data"))
    // Σtf fold per query == single-query termCountScores
    val tcMulti = LexIndex.termCountScoresMulti(spark, lexDir, batch)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    for ((qid, terms) <- batch) {
      val single = LexIndex.termCountScores(spark, lexDir, terms)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(tcMulti.getOrElse(qid, Set.empty) == single,
        s"query $qid: batched term counts diverge")
    }
    // BM25 fold per query == single-query bm25 (integer-identical)
    val bmMulti = LexIndex.bm25Multi(spark, lexDir, batch)
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    for ((qid, terms) <- batch) {
      val single = LexIndex.bm25(spark, lexDir, terms)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      assert(bmMulti.getOrElse(qid, Set.empty) == single,
        s"query $qid: batched BM25 diverges")
    }
    // batched ranked lists (incl. the zero tail — sf0.001 under-fills)
    val universe = docs.select("doc_id")
    val rtMulti = LexIndex.rankedTopNMulti(spark,
        LexIndex.termCountScoresMulti(spark, lexDir, batch),
        universe, "doc_id", "score_t", 100, "r_t", batch.map(_._1))
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getInt(3))))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    for ((qid, terms) <- batch) {
      val single = LexIndex.rankedTopN(spark,
          LexIndex.termCountScores(spark, lexDir, terms),
          universe, "doc_id", "score_t", 100, "r_t")
        .select("doc_id", "score_t", "r_t")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        .toSet
      assert(rtMulti.getOrElse(qid, Set.empty) == single,
        s"query $qid: batched ranked list diverges")
    }
    // the declared key equals the single-query routed composition
    val multi = Queries.queries("v_auto_hybrid_multi")(spark, sf)
      .collect()
      .map(r => (r.getLong(0),
        (r.getLong(1), r.getInt(2), r.getInt(3), r.getLong(4))))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val reqs = AutoQueries.hybridBatch(spark, sf)
    for ((qid, qvec, terms) <- reqs) {
      val single = graft.operators.Fusion.rrfFuse(
          VectorQueries.kwsTopNIndexed(spark, sf, lexDir, terms, 100),
          VectorQueries.vectorTopNIndexed(spark, sf, quantDir, qvec, 100)
            .select("doc_id", "r_v"))
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
        .toSet
      assert(multi.getOrElse(qid, Set.empty) == single,
        s"query $qid: batched routed hybrid diverges from single-query")
    }
    // routing is a plan decision for the BATCH too: every declaration
    // combination — both legs, one leg, none, exact bypass — returns
    // the identical row set
    val base = AutoQueries.hybridRrfRoutedMulti(spark, sf,
        Seq(lexDir, quantDir), reqs)
      .collect().map(_.toSeq).toSet
    for (decls <- Seq(Seq(lexDir), Seq(quantDir), Seq.empty[String])) {
      val got = AutoQueries.hybridRrfRoutedMulti(spark, sf, decls, reqs)
        .collect().map(_.toSeq).toSet
      assert(got == base,
        s"batched routing with decls=$decls changed rows")
    }
    val bypass = AutoQueries.hybridRrfRoutedMulti(spark, sf,
        Seq(lexDir, quantDir), reqs, exact = true)
      .collect().map(_.toSeq).toSet
    assert(bypass == base, "batched exact bypass changed rows")
    // text-leg job budget: a doubled batch over the SAME layouts runs
    // the same number of jobs (one pruned postings scan + the bounded
    // rank collect + the shared zero-tail head)
    def jobsFor(qs: Seq[(Long, Seq[String])]): Int =
      jobsIn(LexIndex.rankedTopNMulti(spark,
        LexIndex.termCountScoresMulti(spark, lexDir, qs),
        universe, "doc_id", "score_t", 100, "r_t", qs.map(_._1)).count())
    val batch6 = batch ++ Seq(3L -> Seq("data"), 4L -> Seq("query"),
      5L -> Seq("table", "scan"))
    assert(jobsFor(batch) == jobsFor(batch6),
      "text-leg job budget grew with the batch")
    intercept[IllegalArgumentException] {
      LexIndex.termCountScoresMulti(spark, lexDir,
        Seq(1L -> Seq("data"), 1L -> Seq("query")))
    }
    intercept[IllegalArgumentException] {
      LexIndex.bm25Multi(spark, lexDir,
        (0 to graft.operators.Knn.MaxBatchQueries)
          .map(i => i.toLong -> Seq("data")))
    }
  }

  test("batched DBSF hybrid: request 0 of v_hybrid_dbsf_multi_indexed " +
       "equals the single v_hybrid_dbsf_indexed serving row-for-row " +
       "(same vector, same terms), and every query fuses by its OWN " +
       "band (nt/nv differ across requests)") {
    val multi = Queries.queries("v_hybrid_dbsf_multi_indexed")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    val single = Queries.queries("v_hybrid_dbsf_indexed")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(multi.filter(_._1 == 0L)
        .map(t => (t._2, t._3, t._4, t._5)).toSeq == single,
      "batched DBSF request 0 != single-query indexed serving")
    // three requests, ≤ 10 rows each, all three present
    assert(multi.map(_._1).distinct.sorted.toSeq == Seq(0L, 1L, 2L))
    assert(multi.groupBy(_._1).values.forall(_.length <= 10))
  }

  test("positional postings: phraseMatches equals the in-plan phrase " +
       "predicate for 1/2/3-term and repeated-term phrases, from " +
       "text-free scans; pre-positions layouts are refused loudly") {
    import graft.operators.PayloadFilter
    def inPlan(phrase: String): Set[Long] = docs
      .filter(PayloadFilter.fromJson(
        s"""{"must": [{"key": "text", "match": {"phrase": "$phrase"}}]}""",
        idCol = "doc_id"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    for (phrase <- Seq("scan", "scan query", "the scan query",
        "the the", "data data data", "zzznope query")) {
      val served = LexIndex.phraseMatches(spark, lexDir,
          phrase.split(" ").toSeq)
        .collect().map(_.getLong(0)).toSet
      assert(served == inPlan(phrase),
        s"phrase '$phrase': positions diverge from the in-plan predicate")
    }
    // r16: the indexed path normalizes through the build tokenizer —
    // mixed-case and multi-word inputs match the in-plan twin's query
    // normalization (r15 ADVICE: they silently returned no matches)
    assert(LexIndex.phraseMatches(spark, lexDir, Seq("Scan", "QUERY"))
        .collect().map(_.getLong(0)).toSet == inPlan("scan query"),
      "mixed-case phrase terms diverge from the normalized form")
    assert(LexIndex.phraseMatches(spark, lexDir, Seq("scan query"))
        .collect().map(_.getLong(0)).toSet == inPlan("scan query"),
      "a whole-phrase string diverges from the split form")
    // position lists never touch the corpus text, and every leg prunes
    // its posting group at listing
    val plan = LexIndex.phraseMatches(spark, lexDir, Seq("scan", "query"))
      .queryExecution.executedPlan.toString
    val rs = "ReadSchema: [^\\n]*".r.findAllIn(plan).toSeq
    assert(rs.nonEmpty && rs.forall(!_.contains("text")),
      s"phrase serving reads the corpus text:\n$plan")
    assert("PartitionFilters: \\[[^\\]]*tgrp[^\\]]*".r
        .findFirstIn(plan).isDefined,
      s"phrase legs not pruned at file listing:\n$plan")
    // a pre-positions layout (no stamp): loud rebuild-it errors from
    // phrase serving AND refresh (the QuantIndex stamp discipline)
    val root = SparkSpec.tempDir("graft-oldlex")
    val old = root.resolve("old").toString
    spark.read.parquet(lexDir).drop("pos")
      .write.mode("overwrite").partitionBy("src_bucket", "tgrp")
      .parquet(old)
    val preStamp = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(lexDir, "_lex_index.json")),
        java.nio.charset.StandardCharsets.UTF_8)
      .replaceFirst(""""layout":\s*\d+,\s*""", "")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(old, "_lex_index.json"),
      preStamp.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    assert(LexIndex.layoutOf(lexDir) == LexIndex.CurrentLayout)
    assert(LexIndex.layoutOf(old) == 1)
    intercept[IllegalStateException] {
      LexIndex.phraseMatches(spark, old, Seq("scan", "query"))
    }
    intercept[IllegalStateException] {
      LexIndex.refresh(spark, old, old,
        graft.sources.Collections.ManifestView(0, Map.empty))
    }
    // the declared key equals its in-plan twin
    val a = Queries.queries("txt_phrase")(spark, sf)
      .collect().map(_.toSeq).toSeq
    val b = Queries.queries("txt_phrase_lex")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(a == b, "positional phrase serving changed rows")
  }

  test("loud contracts: empty term set, wrong query dim, stale layout " +
       "without the norm column") {
    intercept[IllegalArgumentException] {
      LexIndex.termPostings(spark, lexDir, Seq.empty)
    }
    intercept[IllegalArgumentException] {
      QuantIndex.cosineCandidates(spark, quantDir, Seq(1.0, 2.0), 10)
    }
    // a sidecar persisted BEFORE the stored-norm column (no layout
    // stamp in its metadata): descriptive rebuild-it error from EVERY
    // verb that would otherwise silently break on it — the candidate
    // stage (mixed/NULL norms drop rows from the guaranteed superset)
    // AND refresh (a partial swap would CREATE the mixed layout a
    // schema sniff cannot detect)
    val root = SparkSpec.tempDir("graft-oldquant")
    val full = root.resolve("full").toString
    val old = root.resolve("old").toString
    QuantIndex.build(emb.limit(50), "vec_id", "embedding",
      qv(0).length, full)
    spark.read.parquet(full).drop("norm")
      .write.mode("overwrite").parquet(old)
    val preStamp = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(full, "_quant_index.json")),
        java.nio.charset.StandardCharsets.UTF_8)
      .replaceFirst("""\"layout\":\s*\d+,\s*""", "")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(old, "_quant_index.json"),
      preStamp.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    assert(QuantIndex.layoutOf(full) == QuantIndex.CurrentLayout)
    assert(QuantIndex.layoutOf(old) == 1)
    val e = intercept[IllegalStateException] {
      QuantIndex.cosineCandidates(spark, old, qv(0), 10)
    }
    assert(e.getMessage.contains("stored-norm"),
      s"unexpected error: ${e.getMessage}")
    intercept[IllegalStateException] {
      QuantIndex.cosineCandidatesMulti(spark, old, Seq(0L -> qv(0)), 10)
    }
    val e2 = intercept[IllegalStateException] {
      QuantIndex.refresh(spark, old, old,
        graft.sources.Collections.ManifestView(0, Map.empty))
    }
    assert(e2.getMessage.contains("partial bucket swap"),
      s"refresh must refuse a pre-norm layout loudly: ${e2.getMessage}")
    // the stamp — not schema inference — is what refuses: a MIXED
    // layout (one refreshed bucket with norm beside pre-norm buckets)
    // still infers a norm column, which is exactly why the sniff was
    // insufficient
  }
}
