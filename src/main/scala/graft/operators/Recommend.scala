package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import scala.collection.immutable.ArraySeq

/** The remaining public Qdrant query APIs served by the collections the
  * reference creates (`bob_vector_db/qdrant_embedder.py:92-103` pins the
  * cosine named-vector geometry; the query surface of those collections
  * is Qdrant's public API): recommendation by example points, grouped
  * search, and filtered count. Each is a thin composition of the engine's
  * scoring/top-k primitives — no new physical machinery.
  */
object Recommend {

  /** Qdrant's `average_vector` recommendation strategy: the combined
    * query vector is `avg(positives) + (avg(positives) − avg(negatives))`
    * — without negatives it degenerates to `avg(positives)`. Computed
    * element-wise with a FIXED operation order (left-to-right sum, then
    * one divide, then the shift) so an oracle replaying the same
    * expression gets bit-identical doubles. */
  def averageVector(positives: Seq[Seq[Double]],
                    negatives: Seq[Seq[Double]]): Seq[Double] = {
    require(positives.nonEmpty, "recommend needs >= 1 positive example")
    val dim = positives.head.length
    def avg(vs: Seq[Seq[Double]], i: Int): Double =
      vs.map(_(i)).reduceLeft(_ + _) / vs.length
    (0 until dim).map { i =>
      val ap = avg(positives, i)
      if (negatives.isEmpty) ap else ap + (ap - avg(negatives, i))
    }
  }

  /** Fetch example vectors by id (driver-side — the example set is tiny
    * by construction, this is the query side of the broadcast pattern). */
  def exampleVectors(coll: DataFrame, idCol: String, vecCol: String,
                     ids: Seq[Long]): Seq[Seq[Double]] = {
    val rows = coll.filter(col(idCol).isin(ids: _*))
      .select(col(idCol), col(vecCol).cast("array<double>"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    ids.map(id => rows.getOrElse(id,
      throw new IllegalArgumentException(s"example id $id not found")))
  }

  /** Example vectors split into (positives, negatives) in declaration
    * order. The positional take/drop rides on [[exampleVectors]]
    * preserving input-id order — that invariant lives HERE, once, for
    * every recommend-family strategy. */
  private def exampleSplit(coll: DataFrame, idCol: String, vecCol: String,
                           positiveIds: Seq[Long], negativeIds: Seq[Long])
      : (Seq[Seq[Double]], Seq[Seq[Double]]) = {
    val all = exampleVectors(coll, idCol, vecCol, positiveIds ++ negativeIds)
    (all.take(positiveIds.length), all.drop(positiveIds.length))
  }

  /** Recommend API: score the collection against the combined example
    * vector, EXCLUDING the example points themselves (Qdrant semantics),
    * top-k by cosine. Same plan shape as plain kNN — a broadcast literal
    * vector, a pushed-down id exclusion, TakeOrderedAndProject. Scores
    * are micro-int quantized (`floor(x·1e6 + 0.5)`) BEFORE ranking —
    * round(x, 6) diverges between engines at .5 boundaries (the pinned
    * oracle-gate rule), and the combined vector is a new score
    * distribution with no history of dodging them. All example vectors
    * are fetched in ONE driver-side lookup. */
  def recommend(coll: DataFrame, vecCol: String, idCol: String,
                positiveIds: Seq[Long], negativeIds: Seq[Long],
                k: Int): DataFrame = {
    val (pos, neg) = exampleSplit(coll, idCol, vecCol,
      positiveIds, negativeIds)
    val qv = averageVector(pos, neg)
    Knn.scoreAll(
        coll.filter(!col(idCol).isin((positiveIds ++ negativeIds): _*)),
        vecCol, qv)
      .withColumn("score_micro",
        floor(col("score") * 1e6 + lit(0.5)).cast("long"))
      .filter(col("score_micro").isNotNull)
      .orderBy(desc("score_micro"), col(idCol))
      .limit(k)
      .drop("score")
  }

  /** Grouped search (Qdrant `search_groups`): top `groupSize` hits per
    * group, for the `groups` best groups — groups ranked by their best
    * hit's score. Scale shape: per-group top-k via the bounded-heap
    * aggregate (partial heaps map-side — only |partitions|·|groups|·k
    * rows shuffle, never a global window), then the tiny per-group
    * summary is ranked with TakeOrderedAndProject. Output one row per
    * hit: (group, id, score, rnk). */
  def searchGroups(coll: DataFrame, vecCol: String, idCol: String,
                   groupCol: String, query: Seq[Double],
                   groups: Int, groupSize: Int): DataFrame = {
    // micro-int quantize BEFORE ranking (integer-valued doubles through
    // the heap — exact), same oracle-gate rationale as recommend()
    val scored = Knn.scoreAll(coll, vecCol, query)
      .withColumn("score",
        floor(col("score") * 1e6 + lit(0.5)).cast("double"))
      .filter(col("score").isNotNull)
    val perGroup = scored.groupBy(groupCol)
      .agg(graft.plans.TopKByScore.topK(col("score"), col(idCol), groupSize)
        .as("__hits"))
    perGroup
      // group rank = its best hit (element 1 of the rank-ordered heap)
      .withColumn("__best", element_at(col("__hits"), 1).getField("score"))
      .orderBy(desc("__best"), col(groupCol))
      .limit(groups)
      .select(col(groupCol), posexplode(col("__hits")).as(Seq("__pos", "__e")))
      .select(col(groupCol),
        col("__e.id").as(idCol),
        col("__e.score").cast("long").as("score_micro"),
        (col("__pos") + 1).cast("int").as("rnk"))
  }

  /** Qdrant `recommend_groups` (public API): [[recommend]]'s combined
    * example-vector scoring (`average_vector` strategy, example points
    * excluded) delivered through [[searchGroups]]' grouped shape — top
    * `groupSize` hits per group for the `groups` best groups, groups
    * ranked by their best hit. Composed from the two public verbs it
    * combines (the example lookup + combined vector from [[recommend]],
    * the bounded per-group heap from [[searchGroups]]), so the composed
    * verb cannot drift from its parts — the spec asserts row-identity
    * with the hand-built composition. Scale shape inherits from both:
    * one driver-side example lookup, a broadcast-literal scoring pass,
    * map-side partial heaps, never a global window. */
  def recommendGroups(coll: DataFrame, vecCol: String, idCol: String,
                      groupCol: String,
                      positiveIds: Seq[Long], negativeIds: Seq[Long],
                      groups: Int, groupSize: Int): DataFrame = {
    val (pos, neg) = exampleSplit(coll, idCol, vecCol,
      positiveIds, negativeIds)
    val qv = averageVector(pos, neg)
    searchGroups(
      coll.filter(!col(idCol).isin((positiveIds ++ negativeIds): _*)),
      vecCol, idCol, groupCol, qv, groups, groupSize)
  }

  /** Recommend with `lookup_from` (public Qdrant API): the example ids
    * resolve against a DIFFERENT collection (and possibly a different
    * named vector) than the one being searched — the "query by items
    * from catalog A, search catalog B" flow. Same scale shape as
    * [[recommend]]: one driver-side lookup of the tiny example set (from
    * the LOOKUP collection), one broadcast-literal scoring pass over the
    * target. Example-id EXCLUSION does not apply — the ids live in the
    * lookup collection's id space, which is not searched (Qdrant
    * documents the same: exclusion only covers ids of the collection
    * being queried). */
  def recommendLookupFrom(coll: DataFrame, vecCol: String, idCol: String,
                          lookup: DataFrame, lookupIdCol: String,
                          lookupVecCol: String,
                          positiveIds: Seq[Long], negativeIds: Seq[Long],
                          k: Int): DataFrame = {
    val (pos, neg) = exampleSplit(lookup, lookupIdCol, lookupVecCol,
      positiveIds, negativeIds)
    val qv = averageVector(pos, neg)
    Knn.scoreAll(coll, vecCol, qv)
      .withColumn("score_micro",
        floor(col("score") * 1e6 + lit(0.5)).cast("long"))
      .filter(col("score_micro").isNotNull)
      .orderBy(desc("score_micro"), col(idCol))
      .limit(k)
      .drop("score")
  }

  /** `search_groups` + `with_lookup` (the public Qdrant group-lookup
    * flow): each returned group's key doubles as a point id in a LOOKUP
    * collection, and that point's payload rides on every hit of the
    * group (e.g. chunks grouped by document id, with the document
    * record joined on). The group output is BOUNDED (≤ groups·groupSize
    * rows) so it broadcasts; the lookup collection streams through one
    * narrow scan of its id + payload columns — never shuffled, never
    * collected. Lookup id column is dropped (it equals the group key);
    * lookup payload columns keep their names. */
  def searchGroupsLookup(coll: DataFrame, vecCol: String, idCol: String,
                         groupCol: String, query: Seq[Double],
                         groups: Int, groupSize: Int,
                         lookup: DataFrame, lookupIdCol: String)
      : DataFrame =
    broadcast(
      searchGroups(coll, vecCol, idCol, groupCol, query, groups, groupSize))
      .join(lookup, col(groupCol) === col(lookupIdCol))
      .drop(lookupIdCol)

  /** Qdrant's `best_score` recommendation strategy (the other public
    * strategy besides `average_vector`): each point scores against EVERY
    * example individually — no combined vector — and the final score is
    * the best positive similarity when it beats the best negative
    * similarity, otherwise the negated best negative (points closer to a
    * negative than to any positive sink below every purely-positive
    * match). Example points themselves are excluded, as in [[recommend]].
    *
    * Scale shape: examples are tiny driver-side literals, so every
    * per-example cosine is an in-row expression — `greatest(...)` over
    * them, no join, no shuffle; then the same micro-quantize + bounded
    * top-k tail as plain kNN. */
  def recommendBestScore(coll: DataFrame, vecCol: String, idCol: String,
                         positiveIds: Seq[Long], negativeIds: Seq[Long],
                         k: Int): DataFrame = {
    require(positiveIds.nonEmpty || negativeIds.nonEmpty,
      "recommend needs at least one positive or negative example")
    val (pos, neg) = exampleSplit(coll, idCol, vecCol,
      positiveIds, negativeIds)
    def bestSim(vs: Seq[Seq[Double]]): Column =
      vs.map(v => graft.functions.VectorOps.cosine(col(vecCol), typedLit(v)))
        match {
          case Seq(one) => one
          case many => greatest(many: _*)
        }
    val score =
      if (neg.isEmpty) bestSim(pos)
      else {
        val maxNeg = bestSim(neg)
        // negatives-only (Qdrant permits it for non-average strategies):
        // every point scores the negated best negative similarity
        if (pos.isEmpty) -maxNeg
        else {
          val maxPos = bestSim(pos)
          when(maxPos > maxNeg, maxPos).otherwise(-maxNeg)
        }
      }
    coll.filter(!col(idCol).isin((positiveIds ++ negativeIds): _*))
      .withColumn("score_micro",
        floor(score * 1e6 + lit(0.5)).cast("long"))
      .filter(col("score_micro").isNotNull)
      .orderBy(desc("score_micro"), col(idCol))
      .limit(k)
      .select(col(idCol), col("score_micro"))
  }

  /** Qdrant's `sum_scores` recommendation strategy (the third public
    * strategy, added for ColBERT-style multi-positive queries): each
    * point's score is the SUM of its similarities to every positive
    * example minus the sum of its similarities to every negative — no
    * combined vector, no max. Example points excluded as in
    * [[recommend]].
    *
    * Scale shape: identical to [[recommendBestScore]] — the examples are
    * driver-side literals, every per-example cosine is an in-row fused
    * expression, and the adds run in a FIXED left-to-right order
    * (positives first, then the negative subtraction) so the oracle
    * replays identical IEEE doubles before the one micro-quantization.
    * One scan, bounded top-k heap, zero shuffle.
    *
    * Qdrant permits NEGATIVES-ONLY recommend for the non-average
    * strategies (score = −Σ negative sims): the positive fold starts at
    * 0.0 when `positiveIds` is empty instead of throwing from an empty
    * reduce. At least one example of either sign is required. */
  def recommendSumScores(coll: DataFrame, vecCol: String, idCol: String,
                         positiveIds: Seq[Long], negativeIds: Seq[Long],
                         k: Int): DataFrame = {
    require(positiveIds.nonEmpty || negativeIds.nonEmpty,
      "recommend needs at least one positive or negative example")
    val (pos, neg) = exampleSplit(coll, idCol, vecCol,
      positiveIds, negativeIds)
    def sim(v: Seq[Double]): Column =
      graft.functions.VectorOps.cosine(col(vecCol), typedLit(v))
    // bit-parity: keep the s0+s1+… reduce when positives exist (a 0.0
    // seed would be value-identical but adds a node); seed only the
    // negatives-only fold
    val posSum =
      if (pos.isEmpty) lit(0.0) else pos.map(sim).reduceLeft(_ + _)
    val score = neg.map(sim).foldLeft(posSum)(_ - _)
    coll.filter(!col(idCol).isin((positiveIds ++ negativeIds): _*))
      .withColumn("score_micro",
        floor(score * 1e6 + lit(0.5)).cast("long"))
      .filter(col("score_micro").isNotNull)
      .orderBy(desc("score_micro"), col(idCol))
      .limit(k)
      .select(col(idCol), col("score_micro"))
  }

  /** Qdrant's distance-matrix API (`search_matrix_pairs`): pairwise
    * similarity among a deterministic sample of points — for each sampled
    * point, its `k` nearest OTHER sampled points. The public API samples
    * randomly; this engine pins the sample to the `n` lowest ids so the
    * result is replayable (the sampling-by-hash pipeline op covers
    * randomized sampling separately).
    *
    * Scale shape: the sample is n rows (n ≪ collection) — one pushed-down
    * id-range scan, a broadcast self-join of n×n scored pairs, and a
    * per-point window over ≤ n rows. The collection itself is never
    * joined or shuffled. */
  def searchMatrix(coll: DataFrame, vecCol: String, idCol: String,
                   n: Int, k: Int): DataFrame =
    matrixPairs(coll, vecCol, idCol, sampleIdsOf(coll, idCol, n), k)

  /** The pinned n-lowest-ids matrix sample — collected ONCE per query
    * and passed to [[matrixPairs]], so the pairs and the offsets form
    * can never be built from two different samples. */
  private def sampleIdsOf(coll: DataFrame, idCol: String, n: Int)
      : Seq[Long] =
    ArraySeq.unsafeWrapArray(coll.select(col(idCol)).orderBy(col(idCol))
      .limit(n).collect()).map(_.getLong(0))

  private def matrixPairs(coll: DataFrame, vecCol: String, idCol: String,
                          sampleIds: Seq[Long], k: Int): DataFrame = {
    val sample = coll.filter(col(idCol).isin(sampleIds: _*))
      .select(col(idCol).as("id_a"), col(vecCol).as("__va"))
    val other = coll.filter(col(idCol).isin(sampleIds: _*))
      .select(col(idCol).as("id_b"), col(vecCol).as("__vb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id_a")
      .orderBy(desc("score_micro"), col("id_b"))
    sample.join(broadcast(other), col("id_a") =!= col("id_b"))
      .withColumn("score_micro",
        floor(graft.functions.VectorOps.cosine(col("__va"), col("__vb"))
          * 1e6 + lit(0.5)).cast("long"))
      .filter(col("score_micro").isNotNull)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("id_a"), col("id_b"), col("score_micro"),
        col("rnk").cast("int").as("rnk"))
  }

  /** The offsets form of the distance-matrix API
    * (`search_matrix_offsets`): the same matrix as [[searchMatrix]] with
    * each point addressed by its OFFSET into the ascending sampled-id
    * array — the wire shape Qdrant's offsets variant returns
    * (`offsets_row`/`offsets_col` indexing an `ids` list). Rendered
    * relationally one cell per row; ascending ids make offsets
    * order-isomorphic to ids, so the rank tie-break is unchanged. Same
    * scale shape as the pairs form: the collection is never shuffled,
    * only the n-row sample broadcast-self-joins. */
  def searchMatrixOffsets(coll: DataFrame, vecCol: String, idCol: String,
                          n: Int, k: Int): DataFrame = {
    val sampleIds = sampleIdsOf(coll, idCol, n)
    val pairs = matrixPairs(coll, vecCol, idCol, sampleIds, k)
    val spark = coll.sparkSession
    import spark.implicits._
    val off = sampleIds.zipWithIndex
      .map { case (id, i) => (id, i.toLong) }
      .toDF("__id", "__off")
    pairs
      .join(broadcast(off.select(col("__id").as("id_a"),
        col("__off").as("offset_row"))), "id_a")
      .join(broadcast(off.select(col("__id").as("id_b"),
        col("__off").as("offset_col"))), "id_b")
      .select(col("offset_row"), col("offset_col"), col("score_micro"),
        col("rnk"))
  }

  /** Maximal-marginal-relevance (MMR) diversity re-ranking — the greedy
    * `λ·relevance − (1−λ)·redundancy` selection over a bounded relevance
    * pool (the diversity option of modern vector-search query APIs; the
    * classic Carbonell–Goldstein formulation).
    *
    * Stage 1 is distributed and is the ONLY pass over the collection:
    * cosine top-`poolSize` via TakeOrderedAndProject. Stage 2 is the
    * exact greedy over the pool on the driver — ≤ poolSize² similarity
    * pairs over poolSize rows, the standard re-rank boundary (the pool is
    * k-bounded by construction; at 100 TB nothing changes, the pool is
    * still `poolSize` rows).
    *
    * INTEGER arithmetic end-to-end: relevance and pairwise cosines are
    * micro-ints (floor(x·1e6 + 0.5), the same accumulator order as
    * CosineSimExpr), λ is in milli — so `mmr_score` (λ-milli × sim-micro
    * units, 1e-9 of the real value) is an exact long and an oracle
    * replays the selection step-for-step. The first pick carries no
    * redundancy penalty; ties break by id. */
  def mmr(coll: DataFrame, vecCol: String, idCol: String,
          query: Seq[Double], poolSize: Int, k: Int,
          lambdaMilli: Int): DataFrame = {
    val spark = coll.sparkSession
    import spark.implicits._
    val pool = Knn.scoreAll(coll, vecCol, query)
      .withColumn("rel_micro",
        floor(col("score") * 1e6 + lit(0.5)).cast("long"))
      .filter(col("rel_micro").isNotNull)
      .orderBy(desc("rel_micro"), col(idCol))
      .limit(poolSize)
      .select(col(idCol).cast("long"), col("rel_micro"),
        col(vecCol).cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Double](2).toArray))

    // micro-int cosine, identical accumulator order to CosineSimExpr —
    // the driver-side greedy must see the same longs the oracle computes
    def cosMicro(a: Array[Double], b: Array[Double]): Long = {
      var dot = 0.0; var xx = 0.0; var yy = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); xx += a(i) * a(i); yy += b(i) * b(i); i += 1
      }
      math.floor(dot / (math.sqrt(xx) * math.sqrt(yy)) * 1e6 + 0.5).toLong
    }

    val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val selVecs = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    val remaining = scala.collection.mutable.LinkedHashMap(
      pool.map(p => p._1 -> p).toSeq: _*)
    while (selected.length < k && remaining.nonEmpty) {
      var best: (Long, Long, Long) = null
      remaining.valuesIterator.foreach { case (id, rel, v) =>
        val pen = if (selVecs.isEmpty) 0L
                  else selVecs.iterator.map(sv => cosMicro(v, sv)).max
        val score = lambdaMilli * rel - (1000L - lambdaMilli) * pen
        if (best == null || score > best._3 ||
            (score == best._3 && id < best._1)) best = (id, rel, score)
      }
      selVecs += remaining(best._1)._3
      remaining.remove(best._1)
      selected += best
    }
    selected.toSeq.zipWithIndex
      .map { case ((id, rel, m), i) => (id, rel, m, i + 1) }
      .toDF(idCol, "rel_micro", "mmr_score", "rnk")
  }

  /** Count API (`count` with a filter): the filter is a Qdrant filter-DSL
    * predicate (PayloadFilter) — it pushes to the scan, and the count is
    * a partial-aggregated scalar: the cheapest possible distributed plan. */
  def countFiltered(coll: DataFrame, dslFilter: Column): DataFrame =
    coll.filter(dslFilter).agg(count(lit(1)).as("cnt"))

  /** Ordered scroll (`scroll` with `order_by` + cursor): keyset
    * pagination on (orderCol, idCol) — the cursor predicate pushes to the
    * parquet scan (no OFFSET, which would read and discard at scale).
    * Returns the next `pageSize` rows strictly after the cursor. */
  def scrollOrdered(coll: DataFrame, orderCol: String, idCol: String,
                    afterOrder: Column, afterId: Column,
                    pageSize: Int): DataFrame =
    coll.filter(col(orderCol) > afterOrder ||
        (col(orderCol) === afterOrder && col(idCol) > afterId))
      .orderBy(col(orderCol), col(idCol))
      .limit(pageSize)

  /** Random-sampling query (Qdrant `query: {"sample": "random"}`): `n`
    * points drawn uniformly from the collection (optionally filtered
    * upstream). SEEDED, not `rand()`: the rank key is md5(seed ‖ id), so
    * a given seed reproduces the same sample on any engine, any run, any
    * partitioning (the pipe_sample determinism contract — callers vary
    * the seed per request for fresh draws; a hash of a unique id is
    * uniform, which is all "random" promises). Plan shape:
    * TakeOrderedAndProject over the narrow key projection — a bounded
    * per-partition heap, never a global sort, at any corpus size. */
  def sampleRandom(coll: DataFrame, idCol: String, seed: String,
                   n: Int): DataFrame =
    coll
      .withColumn("__sample_key",
        conv(substring(md5(concat(lit(s"$seed|"),
          col(idCol).cast("string"))), 1, 15), 16, 10).cast("long"))
      .orderBy(col("__sample_key"), col(idCol))
      .limit(n)
      .drop("__sample_key")
}
