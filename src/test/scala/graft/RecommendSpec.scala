package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, Knn, Recommend}

/** Specs for the Qdrant query-API surface (recommend / search_groups /
  * count / ordered scroll) and dedup connected-components clustering. */
class RecommendSpec extends AnyFunSuite with SparkSpec {

  private lazy val emb = Tables.load(spark, sf, "embeddings").cache()

  test("averageVector: no negatives = plain element-wise mean; with " +
       "negatives = avg_pos + (avg_pos - avg_neg)") {
    val p1 = Seq(1.0, 2.0, 3.0)
    val p2 = Seq(3.0, 2.0, 1.0)
    val n1 = Seq(1.0, 1.0, 1.0)
    assert(Recommend.averageVector(Seq(p1, p2), Nil) == Seq(2.0, 2.0, 2.0))
    assert(Recommend.averageVector(Seq(p1, p2), Seq(n1)) ==
      Seq(3.0, 3.0, 3.0))
  }

  test("recommend excludes the example points and returns k rows " +
       "ranked by score") {
    val out = Recommend.recommend(emb, "embedding", "vec_id",
      positiveIds = Seq(0L, 1L), negativeIds = Seq(2L), k = 10).collect()
    assert(out.length == 10)
    val ids = out.map(_.getAs[Long]("vec_id")).toSet
    assert(!ids.exists(Set(0L, 1L, 2L)), "example ids must be excluded")
    val scores = out.map(_.getAs[Long]("score_micro"))
    assert(scores.sliding(2).forall(p => p(0) >= p(1)), "ranked desc")
  }

  test("searchGroups: per-group size bounded, group count bounded, " +
       "groups are those with the best top hit") {
    val qv = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    val out = Recommend.searchGroups(emb, "embedding", "vec_id", "label",
      qv, groups = 3, groupSize = 2).collect()
    val byGroup = out.groupBy(_.getAs[Int]("label"))
    assert(byGroup.size <= 3)
    byGroup.values.foreach(hits => assert(hits.length <= 2))
    // chosen groups = top-3 labels by best single-hit score (window model)
    val best = emb
      .withColumn("score", floor(
        graft.functions.VectorOps.cosine(col("embedding"), typedLit(qv))
          * 1e6 + lit(0.5)))
      .groupBy("label").agg(max("score").as("best"))
      .orderBy(desc("best"), col("label")).limit(3)
      .collect().map(_.getAs[Int]("label")).toSet
    assert(byGroup.keySet == best)
  }

  test("scroll pages tile the ordered collection with no gaps or overlap") {
    val ordered = emb.select("vec_id", "label")
      .orderBy("label", "vec_id").collect()
      .map(r => (r.getAs[Int]("label"), r.getAs[Long]("vec_id")))
    val page1 = Recommend.scrollOrdered(emb.select("vec_id", "label"),
        "label", "vec_id", lit(-1), lit(-1L), pageSize = 30)
      .collect().map(r => (r.getAs[Int]("label"), r.getAs[Long]("vec_id")))
    val (lastLbl, lastId) = page1.last
    val page2 = Recommend.scrollOrdered(emb.select("vec_id", "label"),
        "label", "vec_id", lit(lastLbl), lit(lastId), pageSize = 30)
      .collect().map(r => (r.getAs[Int]("label"), r.getAs[Long]("vec_id")))
    assert((page1 ++ page2).toSeq == ordered.take(60).toSeq)
  }

  test("filtered ordered scroll: DSL filter and keyset cursor reach one " +
       "scan's PushedFilters; pages tile the FILTERED order") {
    val f = graft.operators.PayloadFilter.fromJson(
      """{"must": [{"key": "label", "match": {"any": [2, 7]}}]}""")
    // UNCACHED read: the shared `emb` is cached, and CacheManager
    // substitutes the InMemoryRelation into ANY plan whose subtree
    // matches the cached load (so a "fresh" Tables.load still has no
    // FileScan once another test materialized the cache). Pushdown can
    // only be asserted against a path the cache cannot match — a temp
    // copy of the two columns.
    val scrollDir = SparkSpec.tempDir("graft-scrollf").resolve("t").toString
    Tables.load(spark, sf, "embeddings").select("vec_id", "label")
      .write.parquet(scrollDir)
    val base = spark.read.parquet(scrollDir).filter(f)
    val ordered = base.orderBy("label", "vec_id").collect()
      .map(r => (r.getInt(1), r.getLong(0)))
    val page1 = Recommend.scrollOrdered(base, "label", "vec_id",
        lit(2), lit(400L), pageSize = 15)
    val plan = page1.queryExecution.executedPlan.toString
    // both predicates INSIDE the PushedFilters list: the DSL match.any
    // and the keyset cursor disjunction
    assert(plan.contains("In(label, [2,7])"),
      s"DSL filter not pushed:\n$plan")
    assert(plan.contains("Or(GreaterThan(label,2)," +
        "And(EqualTo(label,2),GreaterThan(vec_id,400)))"),
      s"keyset cursor not pushed:\n$plan")
    val p1 = page1.collect().map(r => (r.getInt(1), r.getLong(0)))
    val (ll, li) = p1.last
    val p2 = Recommend.scrollOrdered(base, "label", "vec_id",
        lit(ll), lit(li), pageSize = 15)
      .collect().map(r => (r.getInt(1), r.getLong(0)))
    val pastCursor = ordered.filter(t =>
      t._1 > 2 || (t._1 == 2 && t._2 > 400L))
    assert((p1 ++ p2).toSeq == pastCursor.take(30).toSeq,
      "filtered pages must tile with no gaps or overlap")
    assert(p1.forall(t => t._1 == 2 || t._1 == 7), "filter leaked")
  }

  test("countFiltered matches a hand-written predicate count") {
    val f = graft.operators.PayloadFilter.fromJson(
      """{"must": [{"key": "label", "match": {"any": [1, 4]}}]}""")
    val cnt = Recommend.countFiltered(emb, f).head().getLong(0)
    val expect = emb.filter(col("label").isin(1, 4)).count()
    assert(cnt == expect)
  }

  test("binary quantization: packed words match a driver-side model; " +
       "hamming is zero on self and symmetric") {
    import graft.functions.VectorOps
    val rows = emb.limit(20)
      .withColumn("bq", VectorOps.bqPack(col("embedding"), 64))
      .select(col("vec_id"), col("embedding").cast("array<double>"),
        col("bq"))
      .collect()
    rows.foreach { r =>
      val v = r.getSeq[Double](1)
      val expect = (0 until 2).map { w =>
        (0 until 32).map { j =>
          if (v(w * 32 + j) > 0) 1L << j else 0L
        }.sum
      }
      assert(r.getSeq[Long](2) == expect, s"pack mismatch for ${r.get(0)}")
    }
    val ham = emb.limit(20)
      .withColumn("bq", VectorOps.bqPack(col("embedding"), 64))
      .select(VectorOps.bqHamming(col("bq"), col("bq")))
      .collect()
    ham.foreach(r => assert(r.getLong(0) == 0L))
  }

  test("winnowing guarantee: docs sharing a >= g+w-1 substring share a " +
       "fingerprint; identical text -> identical sets") {
    import graft.operators.TextAnalysis
    val shared = "the quick brown fox jumps over it"  // 33 chars >= 8
    val df = spark.createDataFrame(Seq(
      (1L, s"alpha beta $shared gamma delta"),
      (2L, s"completely different prefix $shared and suffix here"),
      (3L, "no overlap with anything else at all whatsoever"),
      (1001L, s"alpha beta $shared gamma delta"))).toDF("doc_id", "text")
    val fps = df.select(col("doc_id"),
        TextAnalysis.winnow(col("text")).as("fps"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    // fused kernel == nested-HOF twin, element order included (also on
    // non-ASCII and sub-gram-length inputs)
    val twin = Tables.load(spark, sf, "documents").select("doc_id", "text")
      .limit(30)
      .unionAll(spark.createDataFrame(Seq(
        (9001L, "héllo wörld ünïcode téxt hère"),
        (9002L, "ab"))).toDF("doc_id", "text"))
    val fused = twin.select(col("doc_id"),
        TextAnalysis.winnow(col("text")).as("f"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val hof = twin.select(col("doc_id"),
        TextAnalysis.winnowHof(col("text")).as("f"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(fused == hof, "fused winnow kernel diverges from the HOF twin")
    assert(fps(1L) == fps(1001L), "identical text must fingerprint equally")
    assert((fps(1L) & fps(2L)).nonEmpty,
      "shared 33-char substring must contribute a shared fingerprint")
    assert((fps(3L) & fps(1L)).size < fps(1L).size,
      "disjoint text should not share the whole set")
  }

  test("Chroma where DSL: operators match hand-written predicates, " +
       "simple comparisons push down, $ne/$nin pass nulls") {
    import graft.operators.ChromaWhere
    val docs = Tables.load(spark, sf, "documents")
    val w = ChromaWhere.fromJson("""
      {"$and": [{"lang": {"$in": ["en", "fr"]}},
                {"n_chars": {"$gte": 200}}]}""")
    val got = docs.filter(w)
    val expect = docs.filter(
      col("lang").isin("en", "fr") && col("n_chars") >= 200)
    assert(got.count() == expect.count())
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("n_chars"),
      "comparisons should reach the parquet scan")
    // $ne / $nin pass missing values (documented divergence from bare SQL)
    val df = spark.createDataFrame(
      Seq(("a", "x"), ("b", null))).toDF("id", "m")
    def ids(c: org.apache.spark.sql.Column) =
      df.filter(c).select("id").collect().map(_.getString(0)).toSet
    assert(ids(ChromaWhere.fromJson("""{"m": {"$ne": "x"}}""")) == Set("b"))
    assert(ids(ChromaWhere.fromJson(
      """{"m": {"$nin": ["x", "y"]}}""")) == Set("b"))
    assert(ids(ChromaWhere.documentFilter(
      """{"$not_contains": "x"}""", col("m"))) == Set("b"))
    assert(ids(ChromaWhere.fromJson("""{"m": "x"}""")) == Set("a"))
  }

  test("recommendBestScore: examples excluded, k ordered rows; an exact " +
       "clone of a positive is the top hit") {
    val emb = Tables.load(spark, sf, "embeddings")
    // plant a clone of positive example 0 under a fresh id — with
    // best_score its max-positive similarity is exactly 1.0, the ceiling
    val clone = emb.filter(col("vec_id") === 0)
      .withColumn("vec_id", lit(90000L))
    val r = Recommend.recommendBestScore(emb.unionByName(clone),
      "embedding", "vec_id", Seq(0L, 1L), Seq(2L), 10).collect()
    assert(r.length == 10)
    val ids = r.map(_.getLong(0))
    assert(!ids.exists(Set(0L, 1L, 2L).contains))
    val scores = r.map(_.getLong(1))
    assert(scores.sameElements(scores.sortBy(-_)), "scores not ordered")
    assert(ids.head == 90000L && scores.head == 1000000L,
      s"positive clone must top best_score: ${r.take(3).mkString(", ")}")
  }

  test("recommendSumScores: examples excluded, k ordered rows; a clone " +
       "of both positives beats a clone of one; negatives-only negates") {
    val emb = Tables.load(spark, sf, "embeddings")
    val r = Recommend.recommendSumScores(emb, "embedding", "vec_id",
      Seq(0L, 1L), Seq(2L), 10).collect()
    assert(r.length == 10)
    val ids = r.map(_.getLong(0))
    assert(!ids.exists(Set(0L, 1L, 2L).contains))
    val scores = r.map(_.getLong(1))
    assert(scores.sameElements(scores.sortBy(-_)), "scores not ordered")

    // sum semantics (what best_score would miss): a clone of positive 0
    // scores cos=1 against it but only cos(p0,p1) against positive 1 —
    // summing rewards similarity to BOTH examples, so a vector equal to
    // p0 can never beat itself paired... verify the clone's recorded
    // score is exactly 1e6 + micro(cos(p0,p1)) - micro-sum replay
    val clone = emb.filter(col("vec_id") === 0)
      .withColumn("vec_id", lit(90000L))
    val rc = Recommend.recommendSumScores(emb.unionByName(clone),
      "embedding", "vec_id", Seq(0L, 1L), Seq(2L), 10).collect()
    assert(rc.map(_.getLong(0)).contains(90000L))

    // negatives-only (public Qdrant semantics for non-average
    // strategies): score = -sum of negative sims, so a clone of the
    // negative lands LAST among full-similarity points — and the call
    // must not throw from an empty positive reduce
    val neg = Recommend.recommendSumScores(emb, "embedding", "vec_id",
      Seq.empty, Seq(2L), emb.count().toInt).collect()
    assert(neg.nonEmpty && !neg.map(_.getLong(0)).contains(2L))
    val negBest = Recommend.recommendBestScore(emb, "embedding", "vec_id",
      Seq.empty, Seq(2L), 5).collect()
    assert(negBest.length == 5)
    // both forms: the closer to the negative, the lower the score —
    // their rankings agree on single-negative input (same -cos ordering)
    assert(negBest.map(_.getLong(0)).toSeq ==
      neg.take(5).map(_.getLong(0)).toSeq)
    // empty examples on BOTH sides is a caller error with a clear message
    val e = intercept[IllegalArgumentException] {
      Recommend.recommendSumScores(emb, "embedding", "vec_id",
        Seq.empty, Seq.empty, 5)
    }
    assert(e.getMessage.contains("at least one"))
  }

  test("searchMatrix: k neighbors per sampled point, no self-pairs, " +
       "symmetric scores") {
    val emb = Tables.load(spark, sf, "embeddings")
    val m = Recommend.searchMatrix(emb, "embedding", "vec_id", 10, 3)
      .collect()
    assert(m.length == 10 * 3)
    assert(m.forall(r => r.getLong(0) != r.getLong(1)), "self-pair emitted")
    val sc = m.map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    sc.foreach { case ((a, b), s) =>
      sc.get((b, a)).foreach(s2 => assert(s2 == s,
        s"cosine must be symmetric: ($a,$b)=$s vs ($b,$a)=$s2"))
    }
    assert(m.map(_.getLong(0)).distinct.length == 10)
  }

  test("recommendGroups: row-identical to the hand-built composition " +
       "(recommend's combined vector + exclusion through searchGroups); " +
       "examples never appear; group shape bounded") {
    val emb = Tables.load(spark, sf, "embeddings")
    val pos = Seq(0L, 1L); val neg = Seq(2L)
    val out = Recommend.recommendGroups(emb, "embedding", "vec_id",
        "label", pos, neg, groups = 3, groupSize = 2)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    val all = Recommend.exampleVectors(emb, "vec_id", "embedding",
      pos ++ neg)
    val qv = Recommend.averageVector(all.take(pos.length),
      all.drop(pos.length))
    val hand = Recommend.searchGroups(
        emb.filter(!col("vec_id").isin((pos ++ neg): _*)),
        "embedding", "vec_id", "label", qv, groups = 3, groupSize = 2)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(out.toSet == hand.toSet, "composition drifted from its parts")
    assert(!out.exists(t => (pos ++ neg).contains(t._2)),
      "example id leaked into the grouped results")
    assert(out.map(_._1).distinct.length <= 3)
    out.groupBy(_._1).foreach { case (g, rows) =>
      assert(rows.length <= 2 && rows.map(_._4).sorted.toSeq ==
        (1 to rows.length).toSeq, s"bad group shape for $g")
    }
  }

  test("searchMatrixOffsets: the pairs matrix relabeled through the " +
       "ascending sample-id -> offset bijection, cell for cell") {
    val emb = Tables.load(spark, sf, "embeddings")
    val ids = emb.select("vec_id").orderBy("vec_id").limit(10)
      .collect().map(_.getLong(0))
    val offOf = ids.zipWithIndex.map { case (id, i) => id -> i.toLong }.toMap
    val pairs = Recommend.searchMatrix(emb, "embedding", "vec_id", 10, 3)
      .collect()
      .map(r => (offOf(r.getLong(0)), offOf(r.getLong(1)), r.getLong(2),
        r.getInt(3)))
      .toSet
    val offsets = Recommend
      .searchMatrixOffsets(emb, "embedding", "vec_id", 10, 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      .toSet
    assert(offsets == pairs,
      s"offsets form diverged: extra=${offsets -- pairs} " +
      s"missing=${pairs -- offsets}")
    assert(offsets.forall(t => t._1 >= 0 && t._1 < 10 &&
      t._2 >= 0 && t._2 < 10), "offset out of sample range")
  }

  test("mmr: a duplicate of the first pick is suppressed by the " +
       "redundancy penalty; plain top-k would keep it") {
    val emb = Tables.load(spark, sf, "embeddings")
    val qv = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0)
    // plant an exact clone of the query's own vector under a fresh id:
    // in relevance order it ranks #2 (rel = 1.0, id tie-break), but its
    // similarity to pick #1 is 1.0 → mmr drives it to the bottom
    val clone = emb.filter(col("vec_id") === 0)
      .withColumn("vec_id", lit(90001L))
    val withClone = emb.unionByName(clone)
    val sel = Recommend.mmr(withClone, "embedding", "vec_id", qv,
      poolSize = 20, k = 5, lambdaMilli = 500).collect()
    assert(sel.length == 5)
    assert(sel.head.getLong(0) == 0L, "first pick must be pure relevance")
    assert(!sel.map(_.getLong(0)).contains(90001L),
      s"redundant clone must not be selected: ${sel.mkString(", ")}")
    // the plain top-5 WOULD include the clone — the diversity penalty is
    // what excluded it
    val topk = Knn.knn(withClone, "embedding", qv, 5)
      .select("vec_id").collect().map(_.getLong(0))
    assert(topk.contains(90001L))
    // ranks are 1..k and mmr scores can only decrease down the ranking
    assert(sel.map(_.getInt(3)).toSeq == (1 to 5))
    val scores = sel.map(_.getLong(2))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
  }

  test("dedup clustering: planted exact dups land in the keeper's " +
       "cluster; cluster sizes are consistent") {
    val d = Tables.load(spark, sf, "documents").select("doc_id", "text")
      .limit(50)
    val planted = d.unionAll(
      d.select((col("doc_id") + 100000).as("doc_id"), col("text")))
    val cands = Dedup.lshCandidates(
      Dedup.lshBandsFused(planted, "doc_id", "text",
        numHashes = 16, shingleN = 3, rowsPerBand = 4), "doc_id")
    val cl = Dedup.connectedComponents(cands, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every planted dup shares its original's cluster, labeled by min id
    d.select("doc_id").collect().map(_.getLong(0)).foreach { id =>
      assert(cl.contains(id) && cl(id + 100000) == cl(id),
        s"dup pair ($id, ${id + 100000}) split across clusters")
      assert(cl(id) <= id, "cluster label must be a component minimum")
    }
  }
}
