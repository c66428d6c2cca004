package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: language ID,
  * quality scoring, token counting, document fingerprinting (driver north
  * star, SURVEY.md §2.2 V7). The reference stores raw document text
  * (`bob_vector_db/qdrant_embedder.py:58-62`); these are the curation ops
  * a 100 TB corpus of such documents needs before embedding.
  *
  * Everything is a narrow per-row column expression — no shuffle, no UDF,
  * fully codegen-able, trivially data-parallel at any scale. Ratios are
  * integer micro-units (x*1e6 div y) so the DuckDB oracle matches
  * bit-for-bit.
  */
object TextAnalysis {

  /** Tiny per-language stopword lists for the n-gram/stopword language-ID
    * heuristic. Deliberately literal (broadcast-as-constant): at scale the
    * real lists ride along inside the generated code, never a join. */
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "los"),
    "fr" -> Seq("le", "la", "les", "et", "des", "un", "une", "dans"),
    "zh" -> Seq("的", "是", "了", "在", "和", "有"))

  def tokens(text: Column): Column = Dedup.tokens(text)

  /** Count of tokens present in a fixed word list. */
  def hitCount(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => array_contains(typedLit(words), t)))

  /** Per-language stopword hit counts + argmax prediction (alphabetical
    * tie-break — first language reaching the max wins). */
  def langId(toks: Column): Column = {
    val scores = stopwords.map { case (lang, words) =>
      lang -> size(filter(toks, t => array_contains(typedLit(words), t)))
    }
    val m = greatest(scores.map(_._2): _*)
    scores.tail.foldLeft(
      when(scores.head._2 === m, lit(scores.head._1))) {
      case (acc, (lang, sc)) => acc.when(sc === m, lit(lang))
    }
  }

  /** BPE-ish subword count: runs of letters, runs of digits, or single
    * other non-space chars. */
  def subwordCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))

  /** Rolling-hash fingerprint: min 60-bit md5 hash over character
    * 5-grams (docs shorter than 5 chars hash whole text). A per-doc
    * constant-size signature — the winnowing building block. One fused
    * compiled pass (MinGramExpr): no explode, no shuffle, no gram array
    * — a narrow map at any scale. */
  def fingerprint(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
      org.apache.spark.sql.GraftSqlBridge.column(
        graft.functions.MinGramExpr(
          org.apache.spark.sql.GraftSqlBridge.expression(col(textCol)), 5))
        .as("fingerprint"))

  /** Within-document n-gram repetition statistics: struct(total, uniq)
    * over word `shingleN`-gram shingles, one fused compiled pass per doc
    * (GramStatsExpr). The repetition ratio (total − uniq)/total is a
    * standard LLM-corpus quality signal — template/boilerplate text
    * repeats its n-grams; dedup removes cross-doc copies, this flags
    * WITHIN-doc copies. Narrow per-row transform: no shuffle, scales with
    * bytes scanned. */
  def repetitionStats(toks: Column, shingleN: Int = 3): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.GramStatsExpr(
        org.apache.spark.sql.GraftSqlBridge.expression(toks), shingleN))

  /** Overlapping token-window chunking — the training-data op that turns
    * documents into model-context-sized pieces (window `size` tokens,
    * stride `step`, overlap = size − step). One fused compiled pass
    * (ChunksExpr); explode the result to get one row per chunk. Narrow
    * per-row transform — no shuffle, output volume ≈ input × size/step. */
  def chunk(toks: Column, size: Int, step: Int): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.ChunksExpr(
        org.apache.spark.sql.GraftSqlBridge.expression(toks), size, step))

  /** Interpreted-HOF twin of [[fingerprint]] — value-identical
    * (spec-asserted), kept as the independent reference implementation;
    * ~15× slower (per-gram lambda + substring + hex conv). */
  def fingerprintHof(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
      array_min(transform(
        when(length(col(textCol)) >= 5,
          transform(sequence(lit(1), length(col(textCol)) - 4),
            i => col(textCol).substr(i, lit(5))))
          .otherwise(array(col(textCol))),
        g => conv(substring(md5(g), 1, 15), 16, 10).cast("long")))
        .as("fingerprint"))

  /** Winnowing fingerprint SET (Schleimer–Wilkerson–Aiken): character
    * `g`-gram hashes, min per sliding window of `w`, distinct
    * selections. Any substring of length ≥ g + w − 1 shared by two
    * documents contributes at least one shared fingerprint (the
    * winnowing guarantee). One fused compiled pass per document
    * (WinnowExpr) — no explode, no shuffle. Short inputs degrade exactly
    * like [[fingerprint]]: < g chars → the whole text is the single
    * gram; < w grams → one global-min window. */
  def winnow(text: Column, g: Int = 5, w: Int = 4): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.WinnowExpr(
        org.apache.spark.sql.GraftSqlBridge.expression(text), g, w))

  /** The nested-HOF twin of [[winnow]] — value-identical (spec-asserted),
    * kept as the independent reference implementation. NEVER use it in a
    * declared query: CollapseProject inlines the gram array into every
    * window slice and every downstream reference, making the plan
    * O(len²) per reference (measured 27 min vs <1 s at sf0.1). */
  def winnowHof(text: Column, g: Int = 5, w: Int = 4): Column = {
    def gramHash(c: Column): Column =
      conv(substring(md5(c), 1, 15), 16, 10).cast("long")
    val grams = when(length(text) >= g,
        transform(sequence(lit(1), length(text) - (g - 1)),
          i => gramHash(text.substr(i, lit(g)))))
      .otherwise(array(gramHash(text)))
    val wins = when(size(grams) >= w,
        transform(sequence(lit(1), size(grams) - (w - 1)),
          j => array_min(slice(grams, j, lit(w)))))
      .otherwise(array(array_min(grams)))
    array_distinct(wins)
  }

  /** Deterministic BM25 relevance over a fixed query-term set — the
    * principled keyword side of hybrid retrieval (the RRF query's
    * keyword-count scorer is the degenerate form). FIXED-POINT VARIANT:
    * every quantity is integer milli/micro units and the idf is the
    * ln-free monotone surrogate `(1e6·N) DIV (df+1)` — BM25's ln idf
    * would hinge on transcendental rounding that differs between engines
    * at the last ulp, which an exact-hash oracle cannot tolerate; the
    * surrogate preserves the rank ordering ln provides (strictly
    * decreasing in df), which is all ranking needs.
    *
    * Scale shape (single-pass, r6): one fused compiled pass per document
    * (TermStatsExpr) yields len + per-term tfs in-row; pass 1 folds those
    * to the 1-row corpus stats (N, Σlen, per-term df — all
    * map-side-combinable), pass 2 re-reads the corpus and scores each doc
    * entirely in-row against the broadcast stats row. The document table
    * is tokenized exactly once per pass and NEVER shuffled or exploded —
    * the previous explode→groupBy formulation re-tokenized the corpus in
    * every plan branch (lens/stats/tf) and shuffled doc×term rows.
    * k1 = 1.2, b = 0.75 (milli). */
  def bm25(docs: DataFrame, idCol: String, textCol: String,
           terms: Seq[String], k1Milli: Long = 1200,
           bMilli: Long = 750): DataFrame = {
    // the explode→isin form this replaced collapsed duplicate query terms
    // (isin is a set test); keep that contract
    val qTerms = terms.distinct
    def idiv(a: Column, b: Column): Column = call_function("div", a, b)
    val perDoc = docs.select(col(idCol),
      org.apache.spark.sql.GraftSqlBridge.column(
        graft.functions.TermStatsExpr(
          org.apache.spark.sql.GraftSqlBridge.expression(
            tokens(col(textCol))), qTerms)).as("__st"))
    val tfs = col("__st").getField("tfs")
    val len = col("__st").getField("len")
    // corpus stats: N, Σlen, and every term's df folded in ONE partial agg
    val stats = perDoc.agg(
      count(lit(1)).as("n"),
      sum(len).as("sumlen"),
      array(qTerms.indices.map(i =>
        sum(when(tfs.getItem(i) > 0, 1L).otherwise(0L))): _*).as("__dfs"))
    val normMilli = {
      val avglenMilli = idiv(col("sumlen") * lit(1000L), col("n"))
      val ratioMilli = idiv(len * lit(1000000L), avglenMilli)
      lit(1000L - bMilli) + idiv(lit(bMilli) * ratioMilli, lit(1000L))
    }
    val termScore = qTerms.indices.map { i =>
      val tf = tfs.getItem(i)
      val idfMicro = idiv(lit(1000000L) * col("n"), col("__dfs").getItem(i) + lit(1L))
      val denomMilli = tf * lit(1000L) + idiv(lit(k1Milli) * col("norm_milli"), lit(1000L))
      // numerator in DECIMAL(38,0): the LONG product overflows once
      // N·tf ≈ 4e9 (rare term ⇒ idfMicro ≈ 1e6·N). IntegralDivide
      // floors decimals exactly like longs, so every non-overflowing
      // score is bit-identical — and LexIndex.bm25 widens the same way,
      // keeping the served twin integer-for-integer at every scale.
      when(tf > 0, idiv(idfMicro.cast(org.apache.spark.sql.types
          .DecimalType(38, 0)) * tf * lit(1000L + k1Milli), denomMilli))
        .otherwise(lit(0L))
    }
    val hit = qTerms.indices.map(i =>
      when(tfs.getItem(i) > 0, 1L).otherwise(0L))
    perDoc.crossJoin(broadcast(stats))
      .withColumn("norm_milli", normMilli)
      .select(col(idCol),
        termScore.reduce(_ + _).as("bm25_micro"),
        hit.reduce(_ + _).as("n_terms_hit"))
      .filter(col("n_terms_hit") > 0)
  }

  /** Train a two-class hashed-bigram linear model (the naive-Bayes /
    * fastText quality-gate shape): token bigrams hash into `buckets`
    * (h32 mod buckets — the [[graft.functions.TokensNgramScoreExpr]]
    * feature law, so the fitted table plugs straight into the fused
    * inference kernel), per-bucket class occurrence counts fold in ONE
    * corpus pass (map-side combined; output BOUNDED at `buckets` rows by
    * construction — the literal-LUT collect discipline), and the weight
    * is the Laplace-smoothed integer micro-probability ratio of the two
    * classes CENTERED on 0 (ratio 1 → 0), the transcendental-free
    * surrogate of the log-likelihood ratio (monotone per bucket — the
    * pipe_dsir oracle law), so `Σ weights > 0` is the keep decision.
    *
    * `docs` needs a tokens array column `tokCol` and a boolean teacher
    * column `labelCol`; rows with fewer than 2 tokens contribute no
    * feature (the kernel scores them 0 at inference). Scale shape: the
    * only shuffle is the `buckets`-row aggregation; the model never
    * becomes a join table. */
  def fitBigramRatioWeights(docs: DataFrame, tokCol: String,
                            labelCol: String,
                            buckets: Int = 4096): Seq[Long] = {
    require(buckets > 0, s"need a positive bucket count, got $buckets")
    val rows = docs
      .select(col(labelCol).as("__label"), col(tokCol).as("__tk"))
      .filter(size(col("__tk")) >= 2)
      .select(col("__label"), explode(expr(
        "transform(sequence(0, size(__tk) - 2), " +
          "i -> concat(__tk[i], ' ', __tk[i + 1]))")).as("__g"))
      .select(col("__label"),
        pmod(Dedup.h32(col("__g")), lit(buckets.toLong))
          .cast("int").as("__bk"))
      .groupBy("__bk")
      .agg(count(when(col("__label"), 1)).as("p"),
        count(when(!col("__label"), 1)).as("q"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    val pt = rows.map(_._2).sum
    val qt = rows.map(_._3).sum
    val m = rows.map(t => t._1 -> (t._2, t._3)).toMap
    (0 until buckets).map { b =>
      val (p, q) = m.getOrElse(b, (0L, 0L))
      val pm = ((p + 1L) * 1000000L) / (pt + buckets)
      val qm = math.max(((q + 1L) * 1000000L) / (qt + buckets), 1L)
      (pm * 1000L) / qm - 1000L
    }
  }
}
