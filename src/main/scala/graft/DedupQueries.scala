package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Declared deduplication queries (SURVEY.md §2.2 V5/V6 + the
  * training-data-pipeline suite). The fixture corpus has no duplicates, so
  * each query PLANTS them inside the query itself — exact copies
  * (doc_id+100000) and near-copies with a token tail appended
  * (doc_id+200000) — and the oracle replants identically in SQL. Every
  * emitted number is an integer (md5-derived hashes, counts, micro-unit
  * ratios), so the driver's exact hash compare is drift-free. */
object DedupQueries {

  /** Corpus + planted dups: exact copy of every doc_id % 100 == 0, near
    * copy (4 tokens appended) of every doc_id % 100 == 1. The plant
    * offset is `greatest(100000, max(doc_id)+1)`, computed IN-PLAN (a
    * 1-row broadcast scalar, the txt_decontam discipline): 100000 at
    * fixture scale — oracle rows byte-identical — but collision-proof on
    * larger corpora (the §8.5b probe's 100× blow-up reaches doc_id
    * 500000, where a fixed +100000 would alias planted copies onto REAL
    * documents and corrupt every dedup measurement). */
  // one narrow max-scan per table file per JVM — a memoized driver
  // literal keeps every plant plan free of the 1-row cross join a scalar
  // subquery would repeat per union branch (measured: 12
  // BroadcastNestedLoopJoins in the dedup_simhash plan)
  private[graft] def plantOffset(s: SparkSession, dir: String,
                                 table: String, idCol: String): Long =
    Memo("plantOffset", idCol, Tables.path(dir, table)) {
      math.max(100000L,
        // via Option+toString.toLong: max() is NULL on an empty table and
        // the id column may arrive as INT rather than BIGINT — getLong(0)
        // would NPE / ClassCastException respectively
        Option(Tables.load(s, dir, table).agg(max(col(idCol))).head().get(0))
          .map(_.toString.toLong).getOrElse(0L) + 1L)
    }

  /** [[planted]] WITHOUT the trailing spread exchange — for consumers
    * that only need a narrow per-row projection of the planted corpus
    * (id, length) where paying an exchange to parallelize costs more
    * than the projection itself. */
  private[graft] def plantedRaw(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.load(s, dir, "documents").select("doc_id", "text")
    val off = plantOffset(s, dir, "documents", "doc_id")
    d.unionAll(d.filter(col("doc_id") % 100 === 0)
        .select((col("doc_id") + off).as("doc_id"), col("text")))
      .unionAll(d.filter(col("doc_id") % 100 === 1)
        .select((col("doc_id") + off * 2).as("doc_id"),
          concat(col("text"), lit(" extra trailing tokens appended"))
            .as("text")))
  }

  private[graft] def planted(s: SparkSession, dir: String): DataFrame =
    // The fixture is one small parquet file → a single input split; the
    // explode/hash-heavy dedup pipelines would run on one core. Spread
    // the corpus first (at real scale the scan has many splits and this
    // hash exchange of a tiny table is noise). Keyed by doc_id, NOT
    // round-robin (r17): a keyless repartition locally SORTS its input
    // inside the one scan task this exists to relieve (SPARK-23207);
    // hash-partitioning is sort-free and retry-deterministic.
    plantedRaw(s, dir)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))

  private val plantedSql = """
      poff AS (SELECT greatest(100000, max(doc_id) + 1) AS o FROM documents),
      docs2 AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + (SELECT o FROM poff), text
        FROM documents WHERE doc_id % 100 = 0
        UNION ALL
        SELECT doc_id + 2 * (SELECT o FROM poff),
               text || ' extra trailing tokens appended'
        FROM documents WHERE doc_id % 100 = 1)"""

  /** Shared shingle CTE (lowercase whitespace tokens → distinct word
    * 3-grams; short docs contribute their whole token list). */
  private val shingleSql = s"""
      WITH $plantedSql,
      tk AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(lower(text), '\\s+'),
                           t -> t <> '') AS tk
        FROM docs2),
      sh AS (
        SELECT DISTINCT doc_id,
               unnest(CASE WHEN len(tk) >= 3
                 THEN list_transform(range(len(tk) - 2),
                        i -> array_to_string(tk[(i+1):(i+3)], ' '))
                 ELSE [array_to_string(tk, ' ')] END) AS sh
        FROM tk)"""

  /** MinHash signature + LSH band CTEs (mirrors Dedup.minhash/lshBands:
    * one md5 per shingle → affine per-seed hash family → per-band ordered
    * signature strings). Appended after `shingleSql`. */
  private val minhashSql = """,
      hs AS (
        SELECT doc_id, seed,
               MIN(((seed*2 + 3) * h + seed*104729 + 12345) % 2147483647)
                 AS minhash
        FROM (SELECT doc_id, ('0x' || substr(md5(sh), 1, 8))::BIGINT AS h
              FROM sh)
        CROSS JOIN (SELECT unnest(range(16)) AS seed) seeds
        GROUP BY doc_id, seed),
      bands AS (
        SELECT doc_id, seed // 4 AS band,
               string_agg(minhash::VARCHAR, '-' ORDER BY seed) AS band_sig
        FROM hs GROUP BY doc_id, seed // 4)"""

  /** V5 — exact content dedup: one hash-shuffle on md5(text). */
  val dedupExact = Q("dedup_exact",
    (s, dir) =>
      planted(s, dir)
        .groupBy(md5(col("text")).as("content_hash"))
        .agg(count(lit(1)).as("n_dups"), min("doc_id").as("keeper"))
        .orderBy("content_hash"),
    Some(s"""
      WITH $plantedSql
      SELECT md5(text) AS content_hash, COUNT(*) AS n_dups,
             MIN(doc_id) AS keeper
      FROM docs2 GROUP BY 1 ORDER BY 1"""))

  /** V6 — MinHash (16 hashes) + LSH (4 bands × 4 rows) candidate pairs.
    * Banding is the fused in-row form (no signature explode, no (id,band)
    * shuffle — lshBandsFused). */
  val dedupMinhash = Q("dedup_minhash",
    (s, dir) => {
      Dedup.lshCandidates(
          Dedup.lshBandsFused(planted(s, dir), "doc_id", "text",
            numHashes = 16, shingleN = 3, rowsPerBand = 4),
          "doc_id")
        .orderBy("doc_a", "doc_b")
    },
    Some(shingleSql + minhashSql + """
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_sig = b.band_sig
       AND a.doc_id < b.doc_id
      ORDER BY doc_a, doc_b"""))

  /** V6 — SimHash near-dup pairs: 60-bit signatures, Manku-style band
    * bucketing (4 bands × 15 bits — the scale form: an equi-join on
    * (band, band_bits), never all-pairs), exact hamming ≤ 8 verified on
    * candidates only. Recall is exact for hamming ≤ 3 (pigeonhole over 4
    * bands); the 4–8 range is found iff one band is untouched — the
    * standard banded-LSH trade. The oracle replays the identical
    * band→verify pipeline. */
  val dedupSimhash = Q("dedup_simhash",
    (s, dir) => {
      val sig = Dedup.simhashCached(planted(s, dir), "doc_id", "text")
      // super-bucket cap AUTO-SIZED from the KMV n̂ (Dedup.autoMaxBucket):
      // the 1024 floor sits ~4× above the largest ORGANIC band bucket at
      // the gate SFs (measured 269 at sf0.1), so no row is dropped and
      // the uncapped oracle stays exact — while a 100× corpus's
      // pathological buckets (the §8.5b 101 s cliff) are bounded by this
      // same call with no hand-set knob
      val cap = Dedup.autoMaxBucket(
        corpusEstimate(s, dir, "documents", "doc_id"))
      // the signature RIDES the band rows (8 bytes/row), so the hamming
      // verify is an IN-ROW xor+popcount at the band join and the ≤8
      // filter runs BEFORE the pair distinct — the distinct and
      // everything downstream see only the verified matches, where the
      // former shape shuffled the FULL candidate volume three times
      // (distinct + two signature join-backs; measured 58 → 13 s warm
      // at the 100× probe, §8.7). Row-identical: a set filtered then
      // deduped equals the set deduped then filtered.
      Dedup.bandedPairsCarry(
          Dedup.simhashBands(sig, "doc_id", bits = 60, bands = 4,
            carrySig = true),
          Seq("band", "band_bits"), "doc_id", maxBucket = Some(cap),
          carry = Seq("simhash"))
        .withColumn("hamming",
          bit_count(col("simhash_a").bitwiseXOR(col("simhash_b"))))
        .filter(col("hamming") <= 8)
        .select("doc_a", "doc_b", "hamming")
        .distinct()
        .orderBy("doc_a", "doc_b")
    },
    Some(s"""
      WITH $plantedSql,
      tok AS (
        SELECT doc_id, unnest(list_filter(
          regexp_split_to_array(lower(text), '\\s+'), t -> t <> '')) AS tok
        FROM docs2),
      th AS (
        SELECT doc_id,
               ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
        FROM tok),
      bits AS (
        SELECT doc_id, j,
               SUM(CASE WHEN (h >> j) % 2 = 1 THEN 1 ELSE -1 END) AS s
        FROM th CROSS JOIN (SELECT unnest(range(60)) AS j) js
        GROUP BY doc_id, j),
      sig AS (
        SELECT doc_id,
               CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << j) ELSE 0 END)
                 AS BIGINT) AS simhash
        FROM bits GROUP BY doc_id),
      bnd AS (
        SELECT doc_id, band, (simhash >> (band * 15)) & 32767 AS band_bits
        FROM sig CROSS JOIN (SELECT unnest(range(4)) AS band) bands),
      cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bnd a JOIN bnd b
          ON a.band = b.band AND a.band_bits = b.band_bits
         AND a.doc_id < b.doc_id)
      SELECT c.doc_a, c.doc_b,
             bit_count(xor(sa.simhash, sb.simhash)) AS hamming
      FROM cand c
      JOIN sig sa ON sa.doc_id = c.doc_a
      JOIN sig sb ON sb.doc_id = c.doc_b
      WHERE bit_count(xor(sa.simhash, sb.simhash)) <= 8
      ORDER BY doc_a, doc_b"""))

  /** V6 — the canonical TWO-STAGE near-dup pipeline: LSH proposes
    * candidate pairs, exact n-gram Jaccard verifies them (≥ 0.3). Cost
    * scales with LSH collision count, never n² — the 100 TB form. (The
    * raw inverted-index all-pairs Jaccard remains available as
    * Dedup.ngramJaccard.) */
  val dedupNgram = Q("dedup_ngram",
    (s, dir) => {
      val docs = planted(s, dir)
      val cands = Dedup.lshCandidates(
        Dedup.lshBandsFused(docs, "doc_id", "text",
          numHashes = 16, shingleN = 3, rowsPerBand = 4), "doc_id")
      // in-row fused verify (per-pair set intersection, no shingle table);
      // the inverted-index twin jaccardVerify is bit-equal (spec)
      Dedup.jaccardVerifyInRow(cands, docs, "doc_id", "text", shingleN = 3)
        .filter(col("jacc_micro") >= 300000)
        .orderBy("doc_a", "doc_b")
        .select("doc_a", "doc_b", "inter", "jacc_micro")
    },
    Some(shingleSql + minhashSql + """,
      cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.band_sig = b.band_sig
         AND a.doc_id < b.doc_id),
      sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
      inter AS (
        SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
        FROM cand c
        JOIN sh a ON a.doc_id = c.doc_a
        JOIN sh b ON b.doc_id = c.doc_b AND b.sh = a.sh
        GROUP BY 1, 2)
      SELECT doc_a, doc_b, inter,
             inter * 1000000 // (sa.n_sh + sb.n_sh - inter) AS jacc_micro
      FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE inter * 1000000 // (sa.n_sh + sb.n_sh - inter) >= 300000
      ORDER BY doc_a, doc_b"""))

  /** Driver-side memoized KMV corpus-cardinality estimate per table
    * file — the n̂ that feeds the auto-sized LSH geometry. One narrow
    * sketch aggregation per JVM per fixture (same 60-bit md5 hashing as
    * sketch_distinct, k = 1024 → ±3% — the sizing functions' floor rungs
    * leave far wider margins than that). */
  private[graft] def corpusEstimate(s: SparkSession, dir: String,
                                    table: String, idCol: String): Double =
    Memo("corpusEstimate", idCol, Tables.path(dir, table)) {
      Tables.load(s, dir, table)
        .select(conv(substring(md5(concat(lit("kmv|"), col(idCol))), 1, 15),
          16, 10).cast("long").as("h"))
        .agg(graft.plans.KmvSketch.estimate(
          graft.plans.KmvSketch.kmv(col("h"), 1024), 1024).as("est"))
        .head().getDouble(0)
    }

  /** V6 — embedding-cosine near-dup, the 100 TB form: hyperplane-LSH band
    * buckets propose candidate pairs (6 bands × 6 planes at fixture
    * scale, OR-construction — an equi-join on (band, bucket), never a
    * cross join), exact cosine verifies candidates only, top-20 kept.
    * Per-band collision probability for a random pair is ~2⁻⁶; recall
    * for cosine≈0.9 pairs is ~0.95 across 6 bands. Planes are
    * md5-derived ±1 constants, so the oracle replays the identical
    * bucket→verify pipeline.
    *
    * Geometry is AUTO-SIZED from the KMV n̂ ([[embGeometry]] →
    * [[graft.operators.Ann.lshGeometryFor]]): at the gate SFs the
    * estimate sits under the floor rung, so the auto size RESOLVES to
    * the pinned (6, 6) the static oracle replays — rows bit-unchanged —
    * while a 100× corpus gets log₂-grown planes and recall-holding
    * bands through this same code path with no hand-set knobs (the
    * §8.5b conclusion closed). */
  private[graft] val embBands = 6
  private[graft] lazy val embPlanes =
    graft.operators.Ann.hyperplanes(embBands * 6, 64)

  private[graft] def embGeometry(s: SparkSession, dir: String)
      : (Int, Seq[Seq[Double]]) = {
    val (b, p) = graft.operators.Ann.lshGeometryFor(
      corpusEstimate(s, dir, "embeddings", "vec_id"))
    (b, graft.operators.Ann.hyperplanes(b * p, 64))
  }

  val dedupEmbed = Q("dedup_embed",
    (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val (bands, planes) = embGeometry(s, dir)
      // spread + repartition-on-the-join-key (r16): parallelize the
      // single-split banding projection and share ONE exchange between
      // the self-join sides (ReusedExchange) instead of computing the
      // banding twice under a broadcast — the bandedPairsCarry shape
      val banded = graft.operators.Par.spread(emb).select(col("vec_id"),
          posexplode(graft.operators.Ann.lshBandBuckets(
            col("embedding"), planes, bands)).as(Seq("band", "bits")))
        .repartition(col("band"), col("bits"))
      val cands = banded
        .select(col("band"), col("bits"), col("vec_id").as("doc_a"))
        .join(banded.select(col("band"), col("bits"),
          col("vec_id").as("doc_b")), Seq("band", "bits"))
        .filter(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
      cands
        .join(emb.select(col("vec_id").as("doc_a"),
          col("embedding").as("va")), "doc_a")
        .join(emb.select(col("vec_id").as("doc_b"),
          col("embedding").as("vb")), "doc_b")
        .withColumn("score",
          graft.functions.VectorOps.cosine(col("va"), col("vb")))
        .orderBy(desc("score"), col("doc_a"), col("doc_b"))
        .limit(20)
        .select(col("doc_a"), col("doc_b"),
          floor(col("score") * 1e6 + lit(0.5)).cast("long").as("score_micro"))
    },
    Some({
      val (bucketCols, orJoin) =
        AnnQueries.bandedOracleParts(embPlanes, embBands)
      s"""
      WITH bk AS (
        SELECT vec_id, embedding, $bucketCols FROM embeddings),
      cand AS (
        SELECT a.vec_id AS doc_a, c.vec_id AS doc_b,
               a.embedding AS va, c.embedding AS vb
        FROM bk a JOIN bk c ON a.vec_id < c.vec_id AND ($orJoin)),
      scored AS (
        SELECT doc_a, doc_b,
               list_inner_product(CAST(va AS DOUBLE[]), CAST(vb AS DOUBLE[]))
               / (sqrt(list_inner_product(CAST(va AS DOUBLE[]),
                                          CAST(va AS DOUBLE[])))
                  * sqrt(list_inner_product(CAST(vb AS DOUBLE[]),
                                            CAST(vb AS DOUBLE[]))))
                 AS score
        FROM cand)
      SELECT doc_a, doc_b,
             CAST(floor(score * 1000000 + 0.5) AS BIGINT) AS score_micro
      FROM scored
      ORDER BY score DESC, doc_a, doc_b
      LIMIT 20"""
    }))

  /** The step AFTER pair generation in a real dedup pipeline: connected
    * components over the candidate-pair graph → one cluster id per doc
    * (keep-one-per-cluster follows trivially as `doc_id == cluster`).
    * Components via min-label propagation, `ccRounds` synchronous BSP
    * rounds — each round is one equi-join (edges ⋈ labels) plus a
    * map-side-combined min aggregation, the canonical distributed CC
    * step. Rounds are FIXED (not run-to-convergence) so the oracle
    * replays the identical computation; labels after round r are exact
    * for every component of diameter ≤ r, and near-dup clusters are
    * star/clique-shaped (diameter ≤ 2 in the planted fixture). At scale
    * the edge set is the near-dup graph — orders of magnitude smaller
    * than the corpus — and rounds grow O(log diameter) with large-star
    * tricks if ever needed. */
  private val ccRounds = 3

  val dedupCluster = Q("dedup_cluster",
    (s, dir) => {
      val cands = Dedup.lshCandidates(
        Dedup.lshBandsFused(planted(s, dir), "doc_id", "text",
          numHashes = 16, shingleN = 3, rowsPerBand = 4), "doc_id")
      val labels = Dedup.connectedComponents(cands, rounds = ccRounds)
      val sizes = labels.groupBy("lbl").agg(count(lit(1)).as("csize"))
      labels.join(sizes, "lbl")
        .select(col("v").as("doc_id"), col("lbl").as("cluster"),
          col("csize"))
        .orderBy("doc_id")
    },
    Some {
      // unrolled min-label propagation: l0 = identity, l{r+1}(v) =
      // min(l{r}(v), min over in-neighbors) — same rounds as the engine
      val rounds = (1 to ccRounds).map { r =>
        s"""
      l$r AS (
        SELECT x.v, MIN(x.lbl) AS lbl FROM (
          SELECT e.src AS v, p.lbl FROM e JOIN l${r - 1} p ON p.v = e.dst
          UNION ALL SELECT v, lbl FROM l${r - 1}) x
        GROUP BY x.v)"""
      }.mkString(",")
      shingleSql + minhashSql + s""",
      cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.band_sig = b.band_sig
         AND a.doc_id < b.doc_id),
      e AS (SELECT doc_a AS src, doc_b AS dst FROM cand
            UNION ALL SELECT doc_b, doc_a FROM cand),
      l0 AS (SELECT DISTINCT src AS v, src AS lbl FROM e),$rounds,
      sz AS (SELECT lbl, COUNT(*) AS csize FROM l$ccRounds GROUP BY lbl)
      SELECT l.v AS doc_id, l.lbl AS cluster, sz.csize
      FROM l$ccRounds l JOIN sz ON sz.lbl = l.lbl
      ORDER BY doc_id"""
    })

  /** PRIORITY-KEEP cluster curation — the decision step a real dedup
    * pipeline runs AFTER clustering: within each near-dup cluster keep
    * the highest-priority member (here: longest text, id tie-break — the
    * "most complete version wins" policy of web-corpus curation; CCNet
    * keeps by quality score, same shape). Differs observably from
    * keep-min-id: the planted near-copies (+200000, 4 tokens appended)
    * are LONGER than their originals, so the clone wins those clusters.
    *
    * Scale shape: labels ∝ the near-dup graph (≪ corpus); the per-cluster
    * argmax is `max(struct(len, −id))` — an ordinary map-side-combinable
    * aggregate, no window over corpus rows; the keeper joins back on the
    * SAME cluster-keyed partitioning (exchange reuse). Output is the
    * per-doc audit row (doc, cluster, keeper, keep flag). */
  val dedupPriority = Q("dedup_priority",
    (s, dir) => {
      val cands = Dedup.lshCandidates(
        Dedup.lshBandsFused(planted(s, dir), "doc_id", "text",
          numHashes = 16, shingleN = 3, rowsPerBand = 4), "doc_id")
      val labels = Dedup.connectedComponents(cands, rounds = ccRounds)
      // length side reads the UNSPREAD planted frame (r17): the length
      // projection is trivial per row, and reusing the spread `planted`
      // here re-ran its exchange a second time per execution (Dev prof:
      // a duplicate scan+union+exchange job chain)
      val withLen = labels.join(
        plantedRaw(s, dir)
          .select(col("doc_id").as("v"), length(col("text")).as("len")),
        "v")
      val keepers = withLen.groupBy("lbl")
        .agg(max(struct(col("len"), (-col("v")).as("negid"))).as("k"))
        .select(col("lbl"), (-col("k.negid")).as("keeper"))
      withLen.join(keepers, "lbl")
        .select(col("v").as("doc_id"), col("lbl").as("cluster"),
          col("keeper"),
          (col("v") === col("keeper")).cast("long").as("keep"))
        .orderBy("doc_id")
    },
    Some {
      val rounds = (1 to ccRounds).map { r =>
        s"""
      l$r AS (
        SELECT x.v, MIN(x.lbl) AS lbl FROM (
          SELECT e.src AS v, p.lbl FROM e JOIN l${r - 1} p ON p.v = e.dst
          UNION ALL SELECT v, lbl FROM l${r - 1}) x
        GROUP BY x.v)"""
      }.mkString(",")
      shingleSql + minhashSql + s""",
      cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.band_sig = b.band_sig
         AND a.doc_id < b.doc_id),
      e AS (SELECT doc_a AS src, doc_b AS dst FROM cand
            UNION ALL SELECT doc_b, doc_a FROM cand),
      l0 AS (SELECT DISTINCT src AS v, src AS lbl FROM e),$rounds,
      wl AS (
        SELECT l.v, l.lbl, length(d2.text) AS len
        FROM l$ccRounds l JOIN docs2 d2 ON d2.doc_id = l.v),
      k AS (
        SELECT lbl, v AS keeper FROM (
          SELECT lbl, v, ROW_NUMBER() OVER (
            PARTITION BY lbl ORDER BY len DESC, v ASC) AS rn
          FROM wl) WHERE rn = 1)
      SELECT wl.v AS doc_id, wl.lbl AS cluster, k.keeper,
             CAST(wl.v = k.keeper AS BIGINT) AS keep
      FROM wl JOIN k ON k.lbl = wl.lbl
      ORDER BY doc_id"""
    })

  /** Batch twin of the STREAMING near-dup detector
    * (streaming/Stream.nearDupStream): for every doc that shares an LSH
    * band bucket with an EARLIER doc (smaller id — the arrival order of
    * an id-ordered stream), emit the earliest such partner. This is
    * "which documents would an incremental dedupper drop, and which
    * keeper wins" — the keep-first semantics of streaming ingestion,
    * versus dedup_minhash's symmetric pair list. StreamSpec asserts the
    * live stateful stream computes the identical set. */
  val dedupStreamNeardup = Q("dedup_stream_neardup",
    (s, dir) => {
      val bands = Dedup.lshBandsFused(planted(s, dir), "doc_id", "text",
        numHashes = 16, shingleN = 3, rowsPerBand = 4)
      bands.select(col("band"), col("band_sig"), col("doc_id"))
        .join(bands.select(col("band"), col("band_sig"),
          col("doc_id").as("earlier")), Seq("band", "band_sig"))
        .filter(col("earlier") < col("doc_id"))
        .groupBy("doc_id")
        .agg(min("earlier").as("dup_of"))
        .orderBy("doc_id")
    },
    Some(shingleSql + minhashSql + """
      SELECT a.doc_id, MIN(b.doc_id) AS dup_of
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_sig = b.band_sig
       AND b.doc_id < a.doc_id
      GROUP BY a.doc_id
      ORDER BY a.doc_id"""))

  /** Corpus-frequency segment dedup (the CCNet/Gopher "line dedup" pass,
    * Wenzek et al. 2020 §3.1, adapted to the fixture: documents carry no
    * newlines, so the removable unit is a non-overlapping 8-token segment
    * — same frequency-filter semantics, different delimiter). A segment
    * that occurs more than once ANYWHERE in the corpus is boilerplate
    * (headers, footers, navigation chrome at web scale) and is stripped
    * from every document; the output is the per-doc audit a curation
    * pipeline keeps: segment counts and the md5 of the retained text.
    *
    * Scale shape (this is the canonical 100 TB form): one map-side-
    * combinable groupBy on the segment md5 (the frequency table — rows ∝
    * DISTINCT segments, not corpus size), one equi-join of segments
    * against it (shuffle keyed on the same md5 — co-partitioned with the
    * count), one doc_id reassembly. No all-pairs anything; every shuffle
    * key is a hash. The in-doc segment order is carried as an index and
    * restored with array_sort, so reassembly is deterministic. */
  val dedupSegments = Q("dedup_segments",
    (s, dir) => {
      import graft.operators.TextAnalysis
      val segs = Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(TextAnalysis.chunk(
            TextAnalysis.tokens(col("text")), 8, 8)).as(Seq("i", "seg")))
        .select(col("doc_id"), col("i"), col("seg"),
          md5(col("seg")).as("seg_key"))
      val freq = segs.groupBy("seg_key").agg(count(lit(1)).as("cnt"))
      segs.join(freq, "seg_key")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_seg"),
          sum(when(col("cnt") > 1, 1L).otherwise(0L)).as("n_removed"),
          collect_list(when(col("cnt") <= 1,
            struct(col("i"), col("seg")))).as("__kept"))
        .withColumn("__retained",
          array_join(transform(array_sort(col("__kept")),
            x => x.getField("seg")), " "))
        .select(col("doc_id"), col("n_seg"), col("n_removed"),
          md5(col("__retained")).as("retained_md5"),
          length(col("__retained")).cast("long").as("retained_chars"))
        .orderBy("doc_id")
    },
    Some("""
      WITH tok AS (
        SELECT doc_id, list_filter(
          regexp_split_to_array(lower(text), '\s+'), t -> t <> '') AS ts
        FROM documents),
      c AS (
        SELECT doc_id,
               CASE WHEN len(ts) = 0 THEN ['']
                    ELSE list_transform(range((len(ts) + 7) // 8),
                           i -> array_to_string(
                             ts[i*8 + 1 : least(i*8 + 8, len(ts))], ' '))
               END AS segs
        FROM tok),
      seg AS (
        SELECT doc_id,
               CAST(generate_subscripts(segs, 1) - 1 AS BIGINT) AS i,
               unnest(segs) AS seg
        FROM c),
      freq AS (
        SELECT md5(seg) AS seg_key, COUNT(*) AS cnt
        FROM seg GROUP BY 1)
      SELECT s.doc_id,
             COUNT(*) AS n_seg,
             CAST(SUM(CASE WHEN f.cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_removed,
             md5(COALESCE(string_agg(s.seg, ' ' ORDER BY s.i)
                   FILTER (WHERE f.cnt <= 1), '')) AS retained_md5,
             CAST(length(COALESCE(string_agg(s.seg, ' ' ORDER BY s.i)
                   FILTER (WHERE f.cnt <= 1), '')) AS BIGINT)
               AS retained_chars
      FROM seg s JOIN freq f ON f.seg_key = md5(s.seg)
      GROUP BY s.doc_id
      ORDER BY s.doc_id"""))

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): k-means-cluster the
    * embedding space, then look for near-duplicate pairs ONLY within each
    * cluster — the cluster assignment is the candidate filter, so the
    * pair space shrinks from O(n²) to Σ|cluster|², and at 100 TB the
    * k grows with the corpus to hold per-cluster work constant. Distinct
    * from dedup_embed (hyperplane-LSH buckets): LSH recall is
    * probabilistic per band; cluster-scoped search is the published
    * semantic-dedup recipe for LLM training corpora.
    *
    * Centroids are the SAME memoized 2-round Lloyd training as
    * ann_kmeans (oracle replays training); the CLUSTER COUNT is
    * auto-sized from the KMV n̂
    * ([[graft.operators.Ann.semanticClusterCount]]): at the gate SFs the
    * estimate sits under the k=8 floor rung, so training resolves to the
    * k=8 the static oracle replays — rows bit-unchanged — while a 100×
    * corpus grows k ∝ n̂ to hold per-cluster pair work constant (the
    * §8.5b DNF closed: fixed k=8 made Σ|cluster|² grow ∝ n²/8). So this
    * query gates the full chain: train → assign (argmin, cid tie-break)
    * → within-cluster pair scoring → keep-lowest-id verdict. The fixture
    * corpus has no natural
    * near-dups (max pair cosine ≈ 0.51), so the query plants exact copies
    * (vec_id+100000 of every id%50==0) and perturbed copies
    * (vec_id+200000 of id%50==1, first component +0.25 → cosine ≈ 0.97);
    * τ = 0.9 separates both plants from the naturals with wide margin. */
  val dedupSemantic = Q("dedup_semantic",
    (s, dir) => {
      import graft.functions.VectorOps
      import graft.operators.Ann
      val emb = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      // memoized plant offset (plantOffset): 100000 at fixture scale,
      // collision-proof when a blown-up corpus outgrows it
      val off = plantOffset(s, dir, "embeddings", "vec_id")
      val planted = emb
        .unionAll(emb.filter(col("vec_id") % 50 === 0)
          .select((col("vec_id") + off).as("vec_id"), col("v")))
        .unionAll(emb.filter(col("vec_id") % 50 === 1)
          .select((col("vec_id") + off * 2).as("vec_id"),
            concat(array(element_at(col("v"), 1) + lit(0.25)),
              slice(col("v"), 2, 63)).as("v")))
      val k = Ann.semanticClusterCount(
        corpusEstimate(s, dir, "embeddings", "vec_id"))
      val cents = AnnQueries.trainedCentroids(s, dir, k, 2)
      // carry form (r17): the join-back evaluated the planted subtree
      // twice and paid a vec_id join for columns the narrow assignment
      // projection already had (Ann.argminAssignCarry scaladoc)
      val assigned = Ann.argminAssignCarry(planted, "v", cents, "cid", "cv")
      val pairs = assigned.select(col("cluster"),
          col("vec_id").as("a"), col("v").as("va"))
        .join(assigned.select(col("cluster"), col("vec_id").as("b"),
          col("v").as("vb")), Seq("cluster"))
        .filter(col("a") < col("b"))
        .withColumn("score_micro",
          floor(VectorOps.cosine(col("va"), col("vb")) * 1e6 + lit(0.5))
            .cast("long"))
        .filter(col("score_micro") >= 900000)
      pairs.groupBy(col("b").as("vec_id"))
        .agg(min("a").as("dup_of"),
          min_by(col("score_micro"), col("a")).as("score_micro"))
        .orderBy("vec_id")
    },
    Some(s"""
      WITH ${AnnQueries.kmeansSql(8, 2)},
      voff AS (SELECT greatest(100000, max(vec_id) + 1) AS o
               FROM embeddings),
      pemb AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        UNION ALL
        SELECT vec_id + (SELECT o FROM voff), CAST(embedding AS DOUBLE[])
        FROM embeddings WHERE vec_id % 50 = 0
        UNION ALL
        SELECT vec_id + 2 * (SELECT o FROM voff),
               [CAST(embedding AS DOUBLE[])[1] + 0.25]
                 || CAST(embedding AS DOUBLE[])[2:64]
        FROM embeddings WHERE vec_id % 50 = 1),
      asg AS (
        SELECT vec_id, v, cid AS cluster FROM (
          SELECT p.vec_id, p.v, c.cid,
                 ROW_NUMBER() OVER (PARTITION BY p.vec_id
                   ORDER BY list_distance(p.v, c.cv), c.cid) AS rn
          FROM pemb p CROSS JOIN c2 c) WHERE rn = 1),
      pairs AS (
        SELECT a.vec_id AS a, b.vec_id AS b,
               CAST(floor(list_cosine_similarity(a.v, b.v) * 1000000 + 0.5)
                 AS BIGINT) AS score_micro
        FROM asg a JOIN asg b
          ON a.cluster = b.cluster AND a.vec_id < b.vec_id)
      SELECT b AS vec_id, MIN(a) AS dup_of,
             MIN_BY(score_micro, a) AS score_micro
      FROM pairs WHERE score_micro >= 900000
      GROUP BY b ORDER BY vec_id"""))

  /** INCREMENTAL exact dedup — new batch vs an already-ingested corpus —
    * with a Bloom prefilter (operators/Bloom.scala): the corpus (docs with
    * id % 3 == 0) builds a k=4 filter over its content hashes in one
    * bounded distinct-positions pass; the batch (remaining docs plus
    * planted re-ingests of every corpus doc with id % 30 == 0, plant ids
    * offset by max(doc_id)+1 so they can NEVER collide with a real id at
    * any scale factor) probes the filter IN-ROW (no join), and only probe
    * survivors reach the exact content-hash verification join. Blooms
    * have no false negatives, so the final n_dup is exactly the exact
    * join's answer while the verify shuffle carries only
    * `fpr · batch + true_dups` rows — the incremental-ingest shape at
    * 100 TB, where re-shuffling the full corpus per arriving batch is the
    * thing you cannot do. The filter size m is DERIVED FROM DATA, not
    * pinned: a KMV sketch (one extra bounded pass, ≤ 64 longs to the
    * driver) estimates the corpus's distinct-content cardinality and m =
    * smallest power of two ≥ 16·n̂ (Bloom.sizeFromEstimate — fpr ≈ 0.24%,
    * bitmap ≤ 2^26 bits documented there; the oracle replays the
    * estimate AND the sizing exactly). The per-language (n_batch, n_cand,
    * n_dup) accounting gates the sizing, every bit position, and the
    * verify. */
  val dedupBloom = Q("dedup_bloom",
    (s, dir) => {
      import graft.operators.Bloom
      import graft.plans.KmvSketch
      val k = 4
      val docs = Tables.load(s, dir, "documents")
        .select("doc_id", "lang", "text")
      // ONE scan folds both driver-side inputs: the plant offset (max id)
      // and the KMV estimate of distinct CORPUS contents (the when()
      // restricts the sketch to corpus rows — KMV skips nulls); the
      // estimator itself is KmvSketch.estimate, not a re-derivation
      val prologue = docs
        .agg(max("doc_id").as("mx"),
          KmvSketch.kmv(
            when(col("doc_id") % 3 === 0,
              conv(substring(md5(col("text")), 1, 15), 16, 10).cast("long")),
            64).as("sk"))
        .select(col("mx"),
          floor(KmvSketch.estimate(col("sk"), 64)).cast("long").as("est"))
        .head()
      val (maxId, est) = (prologue.getLong(0), prologue.getLong(1))
      val corpus = docs.filter(col("doc_id") % 3 === 0)
      val batch = docs.filter(col("doc_id") % 3 =!= 0)
        .unionAll(corpus.filter(col("doc_id") % 30 === 0)
          .select((col("doc_id") + lit(maxId + 1)).as("doc_id"), col("lang"),
            col("text")))
      val m = Bloom.sizeFromEstimate(est)
      val h = Dedup.h32(col("text"))
      val bitmap = Bloom.build(corpus, h, k, m)
      val flagged = batch.withColumn("__cand",
        Bloom.mightContain(bitmap, h, k, m))
      val cand = flagged.filter(col("__cand"))
        .select(col("doc_id"), col("lang"), md5(col("text")).as("__ch"))
      val nb = flagged.groupBy("lang").agg(count(lit(1)).as("n_batch"))
      val nc = cand.groupBy("lang").agg(count(lit(1)).as("n_cand"))
      // exact verify on survivors only; the candidate side is fpr-bounded
      // so AQE broadcasts it against the corpus hash column
      val nd = cand
        .join(corpus.select(md5(col("text")).as("__ch")).distinct(), "__ch")
        .groupBy("lang").agg(count(lit(1)).as("n_dup"))
      nb.join(nc, Seq("lang"), "left").join(nd, Seq("lang"), "left")
        .na.fill(0L, Seq("n_cand", "n_dup"))
        .orderBy("lang")
    },
    Some("""
      WITH corpus AS (
        SELECT doc_id, lang, text FROM documents WHERE doc_id % 3 = 0),
      batch AS (
        SELECT doc_id, lang, text FROM documents WHERE doc_id % 3 <> 0
        UNION ALL
        SELECT doc_id + (SELECT MAX(doc_id) FROM documents) + 1, lang, text
        FROM corpus WHERE doc_id % 30 = 0),
      kmvh AS (
        SELECT DISTINCT ('0x' || substr(md5(text), 1, 15))::BIGINT AS h
        FROM corpus),
      rk AS (SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn FROM kmvh),
      skz AS (SELECT COUNT(*) AS sz, MAX(CASE WHEN rn = 64 THEN h END) AS kth
              FROM rk WHERE rn <= 64),
      estt AS (
        SELECT CASE WHEN sz < 64 THEN sz
               ELSE CAST(floor(63.0 * 1152921504606846976.0
                               / CAST(kth AS DOUBLE)) AS BIGINT)
               END AS est
        FROM skz),
      mm AS (
        SELECT MIN(1::BIGINT << i) AS m
        FROM estt, (SELECT unnest(range(10, 27)) AS i)
        WHERE (1::BIGINT << i) >= 16 * est),
      js AS (SELECT unnest(range(4)) AS j),
      cp AS (
        SELECT DISTINCT ((2*j+3) * h + 104729*j + 12345) % 2147483647
                 % (SELECT m FROM mm) AS pos
        FROM (SELECT ('0x' || substr(md5(text), 1, 8))::BIGINT AS h
              FROM corpus)
        CROSS JOIN js),
      bh AS (
        SELECT doc_id, lang, md5(text) AS ch,
               ('0x' || substr(md5(text), 1, 8))::BIGINT AS h
        FROM batch),
      bp AS (
        SELECT doc_id,
               ((2*j+3) * h + 104729*j + 12345) % 2147483647
                 % (SELECT m FROM mm) AS pos
        FROM bh CROSS JOIN js),
      cand AS (
        SELECT doc_id FROM bp JOIN cp USING (pos)
        GROUP BY doc_id HAVING COUNT(*) = 4),
      nb AS (SELECT lang, COUNT(*) AS n_batch FROM bh GROUP BY lang),
      nc AS (SELECT b.lang, COUNT(*) AS n_cand
             FROM bh b JOIN cand c ON c.doc_id = b.doc_id GROUP BY b.lang),
      nd AS (SELECT b.lang, COUNT(*) AS n_dup
             FROM bh b JOIN cand c ON c.doc_id = b.doc_id
             WHERE b.ch IN (SELECT md5(text) FROM corpus)
             GROUP BY b.lang)
      SELECT nb.lang, nb.n_batch,
             COALESCE(nc.n_cand, 0) AS n_cand,
             COALESCE(nd.n_dup, 0) AS n_dup
      FROM nb LEFT JOIN nc ON nc.lang = nb.lang
              LEFT JOIN nd ON nd.lang = nb.lang
      ORDER BY nb.lang"""))

  /** EXACT-SUBSTRING duplicated-span mass (the Lee et al. 2022
    * "Deduplicating Training Data Makes Language Models Better" signal,
    * re-expressed relationally): a window INSTANCE is duplicated when its
    * 8-token span also appears in another document; `dup_pm` is the ‰ of
    * a doc's window instances that are cross-doc duplicated. The
    * suffix-array formulation is inherently single-node; the equivalent
    * window-hash form distributes — every 8-token window at stride 1
    * (hashed in-row to a 60-bit md5 integer), cross-doc frequency per
    * hash, instance mass folded back per doc. Planted exact copies score
    * 1000‰; the appended-suffix near-copies score high but < 1000.
    *
    * Scale shape: windows fold to DISTINCT (doc, hash) pairs with
    * multiplicity map-side before any shuffle (the exploded stream never
    * crosses the wire raw); the cross-doc frequency table derives from
    * that same pre-aggregate, and the final join keys on the hash — both
    * sides already partitioned by it (exchange reuse). Shuffle tracks
    * distinct spans, the honest lower bound for this operator. */
  val dedupSubstring = Q("dedup_substring",
    (s, dir) => {
      val win = planted(s, dir)
        .withColumn("tk", Dedup.tokens(col("text")))
        .select(col("doc_id"), explode(when(size(col("tk")) >= 8,
          expr("""transform(sequence(0, size(tk) - 8),
                  i -> CAST(conv(substr(md5(
                         array_join(slice(tk, i + 1, 8), ' ')),
                         1, 15), 16, 10) AS BIGINT))"""))
          .otherwise(expr("CAST(array() AS ARRAY<BIGINT>)"))).as("wh"))
      val per = win.groupBy("doc_id", "wh").agg(count(lit(1)).as("m"))
      val dft = per.groupBy("wh").agg(count(lit(1)).as("ndocs"))
      per.join(dft, "wh")
        .groupBy("doc_id")
        .agg(sum("m").as("n_windows"),
          sum(when(col("ndocs") >= 2, col("m")).otherwise(0L))
            .as("dup_windows"))
        .select(col("doc_id"), col("n_windows"), col("dup_windows"),
          expr("1000 * dup_windows DIV n_windows").as("dup_pm"))
        .orderBy("doc_id")
    },
    Some(shingleSql + """,
      win AS (
        SELECT doc_id, unnest(CASE WHEN len(tk) >= 8
          THEN list_transform(range(len(tk) - 7),
                 i -> ('0x' || substr(md5(
                        array_to_string(tk[(i+1):(i+8)], ' ')),
                        1, 15))::BIGINT)
          ELSE CAST([] AS BIGINT[]) END) AS wh
        FROM tk),
      per AS (SELECT doc_id, wh, COUNT(*) AS m FROM win GROUP BY 1, 2),
      dft AS (SELECT wh, COUNT(*) AS ndocs FROM per GROUP BY 1)
      SELECT p.doc_id, CAST(SUM(p.m) AS BIGINT) AS n_windows,
             CAST(SUM(CASE WHEN d.ndocs >= 2 THEN p.m ELSE 0 END)
               AS BIGINT) AS dup_windows,
             CAST(1000 * SUM(CASE WHEN d.ndocs >= 2 THEN p.m ELSE 0 END)
               // SUM(p.m) AS BIGINT) AS dup_pm
      FROM per p JOIN dft d USING (wh)
      GROUP BY 1 ORDER BY doc_id"""))

  /** Band CTEs (the dedup_minhash tk → sh → hs → bands chain, suffixed)
    * over an arbitrary (doc_id, text) CTE `src` — one banding definition
    * replayed for each SIDE of the incremental-dedup oracles, exactly as
    * `DedupIndex.banded` is the one definition both sides share in the
    * engine. Geometry pinned to the index default (16 hashes, 3-gram
    * shingles, 4 rows/band). */
  private def bandCtes(src: String, sfx: String): String = s""",
      tk$sfx AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(lower(text), '\\s+'),
                           t -> t <> '') AS tk
        FROM $src),
      sh$sfx AS (
        SELECT DISTINCT doc_id,
               unnest(CASE WHEN len(tk) >= 3
                 THEN list_transform(range(len(tk) - 2),
                        i -> array_to_string(tk[(i+1):(i+3)], ' '))
                 ELSE [array_to_string(tk, ' ')] END) AS sh
        FROM tk$sfx),
      hs$sfx AS (
        SELECT doc_id, seed,
               MIN(((seed*2 + 3) * h + seed*104729 + 12345) % 2147483647)
                 AS minhash
        FROM (SELECT doc_id, ('0x' || substr(md5(sh), 1, 8))::BIGINT AS h
              FROM sh$sfx)
        CROSS JOIN (SELECT unnest(range(16)) AS seed) seeds
        GROUP BY doc_id, seed),
      bands$sfx AS (
        SELECT doc_id, seed // 4 AS band,
               string_agg(minhash::VARCHAR, '-' ORDER BY seed) AS band_sig
        FROM hs$sfx GROUP BY doc_id, seed // 4)"""

  /** The corpus band index (DedupIndex layout over `documents`), built
    * once per fixture listing per JVM — the persisted form both incremental
    * verbs serve from. Contents are deterministic (md5-derived bands),
    * so the memo is gate-safe. */
  private[graft] def dedupIndexDir(s: SparkSession, dir: String): String =
    Tables.memoTempDir("dedupidx", dir) { target =>
      graft.sources.DedupIndex.build(
        Tables.load(s, dir, "documents").select("doc_id", "text"),
        "doc_id", "text", target)
    }

  /** An incoming delivery to dedup AGAINST the corpus: exact copies of
    * every doc_id % 100 == 0 document, near copies (4-token tail) of
    * every % 100 == 1, and fully-novel documents (id-salted tokens, so
    * every shingle is unique) for every % 100 == 2 — the novel rows prove
    * the index returns nothing for genuinely new content. */
  private[graft] def shard(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.load(s, dir, "documents").select("doc_id", "text")
    val off = plantOffset(s, dir, "documents", "doc_id")
    d.filter(col("doc_id") % 100 === 0)
      .select((col("doc_id") + off).as("doc_id"), col("text"))
      .unionAll(d.filter(col("doc_id") % 100 === 1)
        .select((col("doc_id") + off * 2).as("doc_id"),
          concat(col("text"), lit(" extra trailing tokens appended"))
            .as("text")))
      .unionAll(d.filter(col("doc_id") % 100 === 2)
        .select((col("doc_id") + off * 3).as("doc_id"),
          concat(lit("u"), col("doc_id"), lit("a u"), col("doc_id"),
            lit("b u"), col("doc_id"), lit("c")).as("text")))
  }

  private val shardSql = """
      shard AS (
        SELECT doc_id + (SELECT o FROM poff) AS doc_id, text
        FROM documents WHERE doc_id % 100 = 0
        UNION ALL
        SELECT doc_id + 2 * (SELECT o FROM poff),
               text || ' extra trailing tokens appended'
        FROM documents WHERE doc_id % 100 = 1
        UNION ALL
        SELECT doc_id + 3 * (SELECT o FROM poff),
               'u' || doc_id || 'a u' || doc_id || 'b u' || doc_id || 'c'
        FROM documents WHERE doc_id % 100 = 2)"""

  /** V6, the 100 TB serving form — incremental dedup of an incoming
    * shard against the PERSISTED corpus band index: the corpus is banded
    * once at index build and never re-shingled per delivery; the shard's
    * bands are broadcast against the streamed index (no corpus shuffle),
    * with the shard's (band, sbucket) combos — driver-bounded at
    * bands × sig_buckets rows by construction — pruning the index read.
    * Exact copies collide in all 4 bands, near copies in ≥ 1, novel
    * documents in none; the oracle replays both sides' banding and the
    * band join. */
  val dedupIncremental = Q("dedup_incremental",
    (s, dir) =>
      graft.sources.DedupIndex.pairsAgainst(
          s, dedupIndexDir(s, dir), shard(s, dir), "doc_id", "text")
        .orderBy("shard_id", "corpus_id"),
    Some(s"""
      WITH poff AS (SELECT greatest(100000, max(doc_id) + 1) AS o
                    FROM documents),
      corpus AS (SELECT doc_id, text FROM documents),$shardSql"""
      + bandCtes("corpus", "_c") + bandCtes("shard", "_s") + """
      SELECT DISTINCT s.doc_id AS shard_id, c.doc_id AS corpus_id
      FROM bands_s s JOIN bands_c c
        ON s.band = c.band AND s.band_sig = c.band_sig
      ORDER BY shard_id, corpus_id"""))

  /** V6, the point-probe serving form — "is this single document already
    * in the corpus?": the probe's band signatures are computed
    * DRIVER-SIDE (the bit-identical minhashLocal twin — zero jobs), so
    * the one job carries literal (band, sbucket) PartitionFilters into
    * the index layout — `bands` leaf dirs read out of
    * bands × sig_buckets — with the band_sig equality pushed to parquet.
    * Probe = the near-copy of the lowest % 100 == 1 document (1-row
    * bounded driver fetch, the argmax idiom). */
  val dedupLookup = Q("dedup_lookup",
    (s, dir) => {
      val base = Tables.load(s, dir, "documents")
        .filter(col("doc_id") % 100 === 1)
        .orderBy("doc_id").select("text").limit(1)
        .head().getString(0)
      graft.sources.DedupIndex.lookup(s, dedupIndexDir(s, dir),
          base + " extra trailing tokens appended")
        .select(col("doc_id").as("corpus_id"), col("n_bands"))
        .orderBy("corpus_id")
    },
    Some(s"""
      WITH probe AS (
        SELECT 0 AS doc_id, text || ' extra trailing tokens appended' AS text
        FROM documents
        WHERE doc_id = (SELECT min(doc_id) FROM documents
                        WHERE doc_id % 100 = 1)),
      corpus AS (SELECT doc_id, text FROM documents)"""
      + bandCtes("corpus", "_c") + bandCtes("probe", "_p") + """
      SELECT c.doc_id AS corpus_id, CAST(count(*) AS BIGINT) AS n_bands
      FROM bands_c c JOIN bands_p p
        ON c.band = p.band AND c.band_sig = p.band_sig
      GROUP BY 1 ORDER BY 1"""))

  /** V6, batched point probes — `dedup_lookup` × 3 through ONE pruned
    * scan: every probe's bands are driver-computed (zero jobs), the
    * cells' union is one literal PartitionFilter DNF, and per-probe
    * attribution is a broadcast join against the 12-row literal probe
    * table (the queryPointsMulti batching discipline on the dedup
    * index). Probes = near-copies of the 3 lowest % 100 == 1 documents. */
  val dedupLookupBatch = Q("dedup_lookup_batch",
    (s, dir) => {
      val probes = Tables.load(s, dir, "documents")
        .filter(col("doc_id") % 100 === 1)
        .orderBy("doc_id").select("doc_id", "text").limit(3)
        .collect().map(r => (r.getLong(0),
          r.getString(1) + " extra trailing tokens appended")).toSeq
      graft.sources.DedupIndex.lookupMulti(s, dedupIndexDir(s, dir), probes)
        .select(col("probe_id"), col("doc_id").as("corpus_id"),
          col("n_bands"))
        .orderBy("probe_id", "corpus_id")
    },
    Some(s"""
      WITH lows AS (
        SELECT doc_id, text, ROW_NUMBER() OVER (ORDER BY doc_id) AS rn
        FROM documents WHERE doc_id % 100 = 1),
      probe AS (
        SELECT doc_id, text || ' extra trailing tokens appended' AS text
        FROM lows WHERE rn <= 3),
      corpus AS (SELECT doc_id, text FROM documents)"""
      + bandCtes("corpus", "_c") + bandCtes("probe", "_p") + """
      SELECT p.doc_id AS probe_id, c.doc_id AS corpus_id,
             CAST(count(*) AS BIGINT) AS n_bands
      FROM bands_c c JOIN bands_p p
        ON c.band = p.band AND c.band_sig = p.band_sig
      GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** The persisted SemDeDup cell index (SemanticDedupIndex layout over
    * `embeddings`), built once per fixture listing per JVM — the semantic
    * twin of [[dedupIndexDir]]. Cluster count auto-sizes from the KMV n̂
    * (the dedup_semantic law — k = 8 at the gate SFs, so the pinned
    * centroids are exactly the kmeansSql(8,2) table the oracles replay);
    * contents are deterministic (kmeansFit's determinism is
    * spec-asserted), so the memo is gate-safe. */
  private[graft] def semanticIndexDir(s: SparkSession, dir: String)
      : String =
    Tables.memoTempDir("semidx", dir) { target =>
      val k = graft.operators.Ann.semanticClusterCount(
        corpusEstimate(s, dir, "embeddings", "vec_id"))
      graft.sources.SemanticDedupIndex.build(s,
        Tables.load(s, dir, "embeddings").select("vec_id", "embedding"),
        "vec_id", "embedding", target,
        AnnQueries.trainedCentroids(s, dir, k, 2))
    }

  /** An incoming embedding delivery to dedup AGAINST the corpus index:
    * exact copies of every vec_id % 50 == 0 point, near copies (first
    * component +0.25 → cosine ≈ 0.97) of every % 50 == 1, and
    * fully-novel vectors — the NEGATION of every % 50 == 2 point, whose
    * cosine against ANY corpus point is ≤ the naturals' max |pairwise
    * cosine| (measured 0.60 at sf0.1) — far under τ = 0.9, so the novel
    * rows prove the index returns nothing for genuinely new content. */
  private[graft] def semanticDelivery(s: SparkSession, dir: String)
      : DataFrame = {
    val emb = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val off = plantOffset(s, dir, "embeddings", "vec_id")
    emb.filter(col("vec_id") % 50 === 0)
      .select((col("vec_id") + off).as("vec_id"), col("v"))
      .unionAll(emb.filter(col("vec_id") % 50 === 1)
        .select((col("vec_id") + off * 2).as("vec_id"),
          concat(array(element_at(col("v"), 1) + lit(0.25)),
            slice(col("v"), 2, 63)).as("v")))
      .unionAll(emb.filter(col("vec_id") % 50 === 2)
        .select((col("vec_id") + off * 3).as("vec_id"),
          transform(col("v"), x => -x).as("v")))
  }

  /** DuckDB replay of the delivery plants (over kmeansSql's `e` CTE). */
  private val semanticDeliverySql = """
      voff AS (SELECT greatest(100000, max(vec_id) + 1) AS o
               FROM embeddings),
      delivery AS (
        SELECT vec_id + (SELECT o FROM voff) AS vec_id, v
        FROM e WHERE vec_id % 50 = 0
        UNION ALL
        SELECT vec_id + 2 * (SELECT o FROM voff),
               [v[1] + 0.25] || v[2:64]
        FROM e WHERE vec_id % 50 = 1
        UNION ALL
        SELECT vec_id + 3 * (SELECT o FROM voff),
               list_transform(v, x -> -x)
        FROM e WHERE vec_id % 50 = 2)"""

  /** The argmin cell assignment CTE (same (distance, cid) tie-break as
    * Ann.argminAssign) for DuckDB, over source CTE `src` into `out`. */
  private def assignSql(src: String, out: String): String = s"""
      $out AS (
        SELECT vec_id, v, cid AS cluster FROM (
          SELECT p.vec_id, p.v, c.cid,
                 ROW_NUMBER() OVER (PARTITION BY p.vec_id
                   ORDER BY list_distance(p.v, c.cv), c.cid) AS rn
          FROM $src p CROSS JOIN c2 c) WHERE rn = 1)"""

  /** V6, the 100 TB SEMANTIC serving form — SemDeDup of an incoming
    * embedding delivery against the PERSISTED cell index: the corpus is
    * assigned to its pinned-centroid cells once at index build and never
    * re-scored per delivery; the delivery is assigned in flight (one
    * broadcast of the k·dim pinned centroids), its distinct cells become
    * a literal partition filter on the index read, and the cosine verify
    * runs only within shared cells (the dedup_semantic candidate rule,
    * corpus × delivery instead of corpus × corpus). Exact copies land in
    * their source's cell at cosine 1.0, near copies at ≈ 0.97 (when the
    * +0.25 perturbation keeps the cell — the oracle replays any cell
    * miss identically), novel rows verify nothing. Keep-lowest corpus id
    * per delivery point, the dedup_semantic verdict shape. */
  val dedupSemanticIncremental = Q("dedup_semantic_incremental",
    (s, dir) =>
      graft.sources.SemanticDedupIndex.pairsAgainst(
          s, semanticIndexDir(s, dir), semanticDelivery(s, dir),
          "vec_id", "v", 900000L)
        .groupBy("delivery_id")
        .agg(min("corpus_id").as("dup_of"),
          min_by(col("score_micro"), col("corpus_id")).as("score_micro"))
        .orderBy("delivery_id"),
    Some(s"""
      WITH ${AnnQueries.kmeansSql(8, 2)},$semanticDeliverySql,
      ${assignSql("e", "casg")},
      ${assignSql("delivery", "dasg")},
      pairs AS (
        SELECT d.vec_id AS delivery_id, c.vec_id AS corpus_id,
               CAST(floor(list_cosine_similarity(c.v, d.v) * 1000000 + 0.5)
                 AS BIGINT) AS score_micro
        FROM dasg d JOIN casg c ON d.cluster = c.cluster)
      SELECT delivery_id, MIN(corpus_id) AS dup_of,
             MIN_BY(score_micro, corpus_id) AS score_micro
      FROM pairs WHERE score_micro >= 900000
      GROUP BY 1 ORDER BY 1"""))

  /** V6, the semantic point-probe serving form — "is this single vector
    * already in the corpus?": the probe's cell is computed DRIVER-SIDE
    * against the memoized pinned centroids (the minhashLocal twin
    * discipline — zero jobs), so the one job carries a literal
    * `cluster =` PartitionFilter (ONE cell dir of k) with the cosine
    * verify fused in-row. Probe = the near-copy of the lowest
    * % 50 == 1 embedding (1-row bounded driver fetch, the argmax
    * idiom). */
  val dedupSemanticLookup = Q("dedup_semantic_lookup",
    (s, dir) => {
      val base = Tables.load(s, dir, "embeddings")
        .filter(col("vec_id") % 50 === 1)
        .orderBy("vec_id").limit(1)
        .select(col("embedding").cast("array<double>"))
        .head().getSeq[Double](0)
      val probe = (base.head + 0.25) +: base.tail
      graft.sources.SemanticDedupIndex.lookup(
          s, semanticIndexDir(s, dir), probe, 900000L)
        .select(col("vec_id").as("corpus_id"), col("score_micro"))
        .orderBy("corpus_id")
    },
    Some(s"""
      WITH ${AnnQueries.kmeansSql(8, 2)},
      probe AS (
        SELECT [v[1] + 0.25] || v[2:64] AS v FROM e
        WHERE vec_id = (SELECT min(vec_id) FROM e WHERE vec_id % 50 = 1)),
      pcell AS (
        SELECT cid AS cluster FROM (
          SELECT c.cid, ROW_NUMBER() OVER (
            ORDER BY list_distance(p.v, c.cv), c.cid) AS rn
          FROM probe p CROSS JOIN c2 c) WHERE rn = 1),
      ${assignSql("e", "casg")}
      SELECT c.vec_id AS corpus_id,
             CAST(floor(list_cosine_similarity(c.v, p.v) * 1000000 + 0.5)
               AS BIGINT) AS score_micro
      FROM casg c CROSS JOIN probe p
      WHERE c.cluster = (SELECT cluster FROM pcell)
        AND floor(list_cosine_similarity(c.v, p.v) * 1000000 + 0.5)
              >= 900000
      ORDER BY corpus_id"""))

  /** V6, batched semantic point probes — `dedup_semantic_lookup` × 3
    * through ONE pruned scan: every probe's cell and norm are
    * driver-computed (zero jobs), the cells' union is one literal
    * cluster IN filter, and per-probe attribution is a broadcast join
    * against the 3-row literal probe table (the queryPointsMulti
    * batching discipline on the semantic index). Probes = near-copies
    * of the 3 lowest % 50 == 1 embeddings. */
  val dedupSemanticLookupBatch = Q("dedup_semantic_lookup_batch",
    (s, dir) => {
      val probes = Tables.load(s, dir, "embeddings")
        .filter(col("vec_id") % 50 === 1)
        .orderBy("vec_id").limit(3)
        .select(col("vec_id"), col("embedding").cast("array<double>"))
        .collect().map { r =>
          val v = r.getSeq[Double](1)
          (r.getLong(0), (v.head + 0.25) +: v.tail)
        }.toSeq
      graft.sources.SemanticDedupIndex.lookupMulti(
          s, semanticIndexDir(s, dir), probes, 900000L)
        .select(col("probe_id"), col("vec_id").as("corpus_id"),
          col("score_micro"))
        .orderBy("probe_id", "corpus_id")
    },
    Some(s"""
      WITH ${AnnQueries.kmeansSql(8, 2)},
      lows AS (
        SELECT vec_id, v, ROW_NUMBER() OVER (ORDER BY vec_id) AS rn
        FROM e WHERE vec_id % 50 = 1),
      probe AS (
        SELECT vec_id AS probe_id, [v[1] + 0.25] || v[2:64] AS pv
        FROM lows WHERE rn <= 3),
      pcell AS (
        SELECT probe_id, pv, cid AS cluster FROM (
          SELECT p.probe_id, p.pv, c.cid,
                 ROW_NUMBER() OVER (PARTITION BY p.probe_id
                   ORDER BY list_distance(p.pv, c.cv), c.cid) AS rn
          FROM probe p CROSS JOIN c2 c) WHERE rn = 1),
      ${assignSql("e", "casg")}
      SELECT p.probe_id, c.vec_id AS corpus_id,
             CAST(floor(list_cosine_similarity(c.v, p.pv) * 1000000 + 0.5)
               AS BIGINT) AS score_micro
      FROM casg c JOIN pcell p ON c.cluster = p.cluster
      WHERE floor(list_cosine_similarity(c.v, p.pv) * 1000000 + 0.5)
              >= 900000
      ORDER BY probe_id, corpus_id"""))

  /** The PUBLISHED SemDeDup keeper policy (Abbas et al. 2023 §3: within
    * each duplicate group "we keep the example with the LOWEST cosine
    * similarity to the cluster centroid" — the most atypical member,
    * maximizing retained diversity) — the verdict step dedup_semantic's
    * keep-lowest-id shape simplifies away. Pipeline: the dedup_semantic
    * candidate rule (same plants, training and τ), connected components
    * over the pair graph (the dedup_cluster fixed-round min-label
    * machinery — groups here are diameter-1 plant pairs), then one
    * map-side-combinable `min(struct(cc_micro, vec_id))` per group: the
    * keeper is the member least similar to its OWN pinned centroid (id
    * tie-break — exact copies tie bit-for-bit). Observably different
    * from keep-lowest-id: a perturbed clone that sits farther from the
    * centroid than its source WINS its group. Output = the per-member
    * audit row (vec_id, grp, cc_micro, keeper, keep). */
  val dedupSemanticKeeper = Q("dedup_semantic_keeper",
    (s, dir) => {
      import graft.functions.VectorOps
      import graft.operators.{Ann, Dedup}
      val emb = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val off = plantOffset(s, dir, "embeddings", "vec_id")
      val planted = emb
        .unionAll(emb.filter(col("vec_id") % 50 === 0)
          .select((col("vec_id") + off).as("vec_id"), col("v")))
        .unionAll(emb.filter(col("vec_id") % 50 === 1)
          .select((col("vec_id") + off * 2).as("vec_id"),
            concat(array(element_at(col("v"), 1) + lit(0.25)),
              slice(col("v"), 2, 63)).as("v")))
      val k = Ann.semanticClusterCount(
        corpusEstimate(s, dir, "embeddings", "vec_id"))
      val cents = AnnQueries.trainedCentroids(s, dir, k, 2)
      // carry form (r17): the join-back evaluated the planted subtree
      // twice and paid a vec_id join for columns the narrow assignment
      // projection already had (Ann.argminAssignCarry scaladoc)
      val assigned = Ann.argminAssignCarry(planted, "v", cents, "cid", "cv")
      val pairs = assigned.select(col("cluster"),
          col("vec_id").as("doc_a"), col("v").as("va"))
        .join(assigned.select(col("cluster"), col("vec_id").as("doc_b"),
          col("v").as("vb")), Seq("cluster"))
        .filter(col("doc_a") < col("doc_b"))
        .filter(floor(VectorOps.cosine(col("va"), col("vb")) * 1e6
          + lit(0.5)).cast("long") >= 900000)
        .select("doc_a", "doc_b")
      val labels = Dedup.connectedComponents(pairs, rounds = 3)
      val ccm = assigned.join(
          broadcast(cents.select(col("cid").as("cluster"), col("cv"))),
          "cluster")
        .select(col("vec_id"),
          floor(VectorOps.cosine(col("v"), col("cv")) * 1e6 + lit(0.5))
            .cast("long").as("cc_micro"))
      val members = labels.select(col("v").as("vec_id"), col("lbl"))
        .join(ccm, "vec_id")
      val keepers = members.groupBy("lbl")
        .agg(min(struct(col("cc_micro"), col("vec_id"))).as("k"))
        .select(col("lbl"), col("k.vec_id").as("keeper"))
      members.join(keepers, "lbl")
        .select(col("vec_id"), col("lbl").as("grp"), col("cc_micro"),
          col("keeper"),
          (col("vec_id") === col("keeper")).cast("long").as("keep"))
        .orderBy("vec_id")
    },
    Some {
      val rounds = (1 to 3).map { r =>
        s"""
      l$r AS (
        SELECT x.v, MIN(x.lbl) AS lbl FROM (
          SELECT ed.src AS v, p.lbl FROM ed JOIN l${r - 1} p ON p.v = ed.dst
          UNION ALL SELECT v, lbl FROM l${r - 1}) x
        GROUP BY x.v)"""
      }.mkString(",")
      s"""
      WITH ${AnnQueries.kmeansSql(8, 2)},
      voff AS (SELECT greatest(100000, max(vec_id) + 1) AS o
               FROM embeddings),
      pemb AS (
        SELECT vec_id, v FROM e
        UNION ALL
        SELECT vec_id + (SELECT o FROM voff), v
        FROM e WHERE vec_id % 50 = 0
        UNION ALL
        SELECT vec_id + 2 * (SELECT o FROM voff),
               [v[1] + 0.25] || v[2:64]
        FROM e WHERE vec_id % 50 = 1),
      asg AS (
        SELECT vec_id, v, cid AS cluster FROM (
          SELECT p.vec_id, p.v, c.cid,
                 ROW_NUMBER() OVER (PARTITION BY p.vec_id
                   ORDER BY list_distance(p.v, c.cv), c.cid) AS rn
          FROM pemb p CROSS JOIN c2 c) WHERE rn = 1),
      pairs AS (
        SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
        FROM asg a JOIN asg b
          ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        WHERE floor(list_cosine_similarity(a.v, b.v) * 1000000 + 0.5)
                >= 900000),
      ed AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
             UNION ALL SELECT doc_b, doc_a FROM pairs),
      l0 AS (SELECT DISTINCT src AS v, src AS lbl FROM ed),$rounds,
      ccm AS (
        SELECT a.vec_id,
               CAST(floor(list_cosine_similarity(a.v, c.cv) * 1000000
                 + 0.5) AS BIGINT) AS cc_micro
        FROM asg a JOIN c2 c ON c.cid = a.cluster),
      members AS (
        SELECT l.v AS vec_id, l.lbl, m.cc_micro
        FROM l3 l JOIN ccm m ON m.vec_id = l.v),
      keepers AS (
        SELECT lbl, vec_id AS keeper FROM (
          SELECT lbl, vec_id, ROW_NUMBER() OVER (PARTITION BY lbl
            ORDER BY cc_micro, vec_id) AS rn
          FROM members) WHERE rn = 1)
      SELECT m.vec_id, m.lbl AS grp, m.cc_micro, k.keeper,
             CAST(CASE WHEN m.vec_id = k.keeper THEN 1 ELSE 0 END
               AS BIGINT) AS keep
      FROM members m JOIN keepers k ON k.lbl = m.lbl
      ORDER BY m.vec_id"""
    })

  /** A combined text+embedding delivery for the INDEXED curation loop:
    * one incoming batch where every item carries both modalities
    * (documents ⋈ embeddings on id — the fixtures share the id domain).
    * Four planted groups exercise every gate:
    *  - %100==0: exact text + exact vector (the LEXICAL gate rejects);
    *  - %100==1: near text (4-token tail) + exact vector (lexical
    *    rejects — ≥ 1 shared band);
    *  - %100==2: salt-interleaved stopword text (every shingle unique →
    *    passes lexical) + the +0.25 perturbed vector (cosine ≈ 0.97 —
    *    the SEMANTIC gate rejects);
    *  - %100==3: differently-salted stopword text + the NEGATED vector
    *    (novel both ways — survives to the QUALITY gate, where the
    *    trained classifier's verdict on the salted bigrams decides).
    * Salt tokens embed the source id, so every 3-gram shingle is unique
    * across the delivery AND the corpus — no accidental band
    * collisions. */
  private[graft] def curateDelivery(s: SparkSession, dir: String)
      : DataFrame = {
    val off = plantOffset(s, dir, "documents", "doc_id")
    val docs = Tables.load(s, dir, "documents").select("doc_id", "text")
    val emb = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val src = docs.join(emb, docs("doc_id") === emb("vec_id"))
      .select(col("doc_id").as("src"), col("text"), col("v"))
    def salted(a: String, b: String, c: String, d: String) =
      concat(lit("the u"), col("src"), lit(s"$a of u"), col("src"),
        lit(s"$b and u"), col("src"), lit(s"$c is u"), col("src"),
        lit(d))
    // SINGLE-PASS group dispatch (r16): the previous four filtered
    // unionAll arms each re-planned the docs ⋈ embeddings subtree — four
    // scans of BOTH tables and four joins per delivery evaluation (and
    // the unpinned gate composite evaluated the delivery several times,
    // multiplying that). Same row set, one scan + one join: the group is
    // a CASE dispatch per row (guide §2.4 — remove duplicate subtrees
    // outright). Row order differs (interleaved, not arm-concatenated) —
    // immaterial: every consumer is an order-insensitive gate/aggregate.
    val g = (col("src") % 100).cast("long")
    // g >= 0 keeps the rewrite id-sign-agnostic: a negative id's negative
    // remainder must not pass (the pre-r16 exact-equality arms rejected it)
    src.filter(g >= 0L && g <= 3L)
      .select((col("src") + lit(off) * (g + 1L)).as("item_id"),
        when(g === 0L, col("text"))
          .when(g === 1L,
            concat(col("text"), lit(" extra trailing tokens appended")))
          .when(g === 2L, salted("a", "b", "c", "d"))
          .otherwise(salted("e", "f", "g", "h")).as("text"),
        when(g <= 1L, col("v"))
          .when(g === 2L,
            concat(array(element_at(col("v"), 1) + lit(0.25)),
              slice(col("v"), 2, 63)))
          .otherwise(transform(col("v"), x => -x)).as("v"))
  }

  /** The INDEXED end-to-end curation loop (the r13 verdict's #3): one
    * delivery through the three serving gates the persisted layouts
    * exist for, with per-stage accounting —
    *
    *   1. LEXICAL near-dup gate vs the persisted band index
    *      ([[graft.sources.DedupIndex.gateKept]] — corpus banded once,
    *      delivery broadcast against the pruned index; reject on ≥ 1
    *      shared band or an intra-batch lower-id twin);
    *   2. SEMANTIC near-dup gate vs the persisted cell index
    *      ([[graft.sources.SemanticDedupIndex.gateKept]] — pinned-
    *      centroid assignment, literal cell pruning, stored-norm dot
    *      verify at τ = 0.9);
    *   3. QUALITY gate through the corpus-TRAINED classifier (the
    *      txt_classify_trained model via the fused
    *      [[graft.functions.TokensNgramScoreExpr]] kernel, keep iff
    *      score > 0).
    *
    * This is `pipe_curate` re-expressed over the serving layouts: the
    * batch form of the ingest loop (the streaming form — the same
    * gates' `gateAppend` composed in foreachBatch — is StreamSpec's
    * walk; gated layouts == this batch law by the gateAppend
    * contract). Output: (stage, n_in, n_kept), one row per gate. The
    * oracle replays both sides' banding, k-means assignment + cell
    * cosine, and the classifier fit end to end. */
  val pipeCurateIndexed = Q("pipe_curate_indexed",
    (s, dir) => {
      // the delivery is pinned too (r16): unpinned, its docs ⋈ embeddings
      // lineage re-executed inside BOTH banding arms of the lexical gate,
      // the left_anti probe side, AND the semIn join — ~4 subtree
      // evaluations per run for a ~|corpus|/25-row frame that costs one
      // small parquet write to freeze (Dev curateprof round-2 split
      // measures the pinned form directly)
      val delivery = Tables.pinned(curateDelivery(s, dir))
      // STAGE BOUNDARIES ARE MATERIALIZED (write-then-read temp parquet
      // — the deterministic-cache rule): each gate runs several
      // internal actions (cell collects, estimates) and the accounting
      // counts each stage, so an unpinned lineage re-runs the lexical
      // gate inside every semantic action and the whole chain per
      // count — measured 55 s vs ~4 s at sf0.01 (Dev curateprof).
      // Immutable files, not localCheckpoint: checkpoint blocks live in
      // the block manager, whose accumulated state made this key's
      // bench figure swing 3.1–7.6 s across same-day runs (SURVEY §8).
      // r17: the modality columns RIDE the lexical gate (banding only
      // reads text; the anti-join carries v through), so kept1's pin
      // already holds the semantic gate's input and the separate semIn
      // pin — one whole write+read stage — is gone (guide §2.4).
      val kept1 = Tables.pinned(graft.sources.DedupIndex.gateKept(
        s, dedupIndexDir(s, dir),
        delivery.select("item_id", "text", "v"), "item_id", "text"))
      val kept2 = Tables.pinned(kept1.join(
        graft.sources.SemanticDedupIndex.gateKept(
            s, semanticIndexDir(s, dir), kept1.select("item_id", "v"),
            "item_id", "v", 900000L)
          .select("item_id"),
        "item_id"))
      val score = org.apache.spark.sql.GraftSqlBridge.column(
        graft.functions.TokensNgramScoreExpr(
          org.apache.spark.sql.GraftSqlBridge.expression(
            Dedup.tokens(col("text"))),
          TextQueries.trainedWeights(s, dir)))
      val kept3 = kept2.filter(score > 0)
      // ONE action, FOUR count subtrees (r17): the previous per-stage
      // crossJoin form aggregated kept1 and kept2 twice each (stage N's
      // n_kept is stage N+1's n_in) — six aggregates and three unioned
      // arms for four distinct numbers. Fold the four counts into one
      // row and explode the three stage rows from it: same rows, same
      // schema, same order.
      def cnt(df: DataFrame, as: String) =
        df.agg(count(lit(1)).cast("long").as(as))
      cnt(delivery, "c0").crossJoin(cnt(kept1, "c1"))
        .crossJoin(cnt(kept2, "c2")).crossJoin(cnt(kept3, "c3"))
        .select(explode(array(
          struct(lit("1_lexical_gate").as("stage"),
            col("c0").as("n_in"), col("c1").as("n_kept")),
          struct(lit("2_semantic_gate").as("stage"),
            col("c1").as("n_in"), col("c2").as("n_kept")),
          struct(lit("3_quality_gate").as("stage"),
            col("c2").as("n_in"), col("c3").as("n_kept")))).as("__s"))
        .select(col("__s.stage").as("stage"), col("__s.n_in").as("n_in"),
          col("__s.n_kept").as("n_kept"))
        .orderBy("stage")
    },
    Some {
      val en = graft.operators.TextAnalysis.stopwords.toMap.apply("en")
        .map(w => s"'$w'").mkString("[", ", ", "]")
      s"""
      WITH poff AS (SELECT greatest(100000, max(doc_id) + 1) AS o
                    FROM documents),
      corpus AS (SELECT doc_id, text FROM documents),
      ${AnnQueries.kmeansSql(8, 2)},
      -- delivery items need BOTH modalities: restrict to ids present
      -- in documents AND embeddings (the engine's join — the fixture
      -- tables share a prefix of the id domain, not all of it)
      dsel AS (
        SELECT doc_id AS src, doc_id + (SELECT o FROM poff) AS item_id,
               0 AS grp FROM documents
        WHERE doc_id % 100 = 0 AND doc_id IN (SELECT vec_id FROM e)
        UNION ALL
        SELECT doc_id, doc_id + 2 * (SELECT o FROM poff), 1
        FROM documents
        WHERE doc_id % 100 = 1 AND doc_id IN (SELECT vec_id FROM e)
        UNION ALL
        SELECT doc_id, doc_id + 3 * (SELECT o FROM poff), 2
        FROM documents
        WHERE doc_id % 100 = 2 AND doc_id IN (SELECT vec_id FROM e)
        UNION ALL
        SELECT doc_id, doc_id + 4 * (SELECT o FROM poff), 3
        FROM documents
        WHERE doc_id % 100 = 3 AND doc_id IN (SELECT vec_id FROM e)),
      dtext AS (
        SELECT s.item_id AS doc_id,
               CASE s.grp
                 WHEN 0 THEN d.text
                 WHEN 1 THEN d.text || ' extra trailing tokens appended'
                 WHEN 2 THEN 'the u' || s.src || 'a of u' || s.src ||
                   'b and u' || s.src || 'c is u' || s.src || 'd'
                 ELSE 'the u' || s.src || 'e of u' || s.src ||
                   'f and u' || s.src || 'g is u' || s.src || 'h'
               END AS text
        FROM dsel s JOIN documents d ON d.doc_id = s.src),
      dvec AS (
        SELECT s.item_id AS vec_id,
               CASE s.grp
                 WHEN 2 THEN [e.v[1] + 0.25] || e.v[2:64]
                 WHEN 3 THEN list_transform(e.v, x -> -x)
                 ELSE e.v
               END AS v
        FROM dsel s JOIN e ON e.vec_id = s.src)""" +
      bandCtes("corpus", "_c") + bandCtes("dtext", "_d") + s""",
      rej1 AS (
        SELECT DISTINCT s.doc_id
        FROM bands_d s JOIN bands_c c
          ON s.band = c.band AND s.band_sig = c.band_sig
        UNION
        SELECT DISTINCT b.doc_id
        FROM bands_d a JOIN bands_d b
          ON a.band = b.band AND a.band_sig = b.band_sig
             AND a.doc_id < b.doc_id),
      kept1 AS (
        SELECT doc_id FROM dtext
        WHERE doc_id NOT IN (SELECT doc_id FROM rej1)),
      ${assignSql("e", "casg")},
      dveck AS (
        SELECT v.vec_id, v.v FROM dvec v
        JOIN kept1 k ON k.doc_id = v.vec_id),
      ${assignSql("dveck", "dasg")},
      rej2 AS (
        SELECT DISTINCT d.vec_id AS doc_id
        FROM dasg d JOIN casg c ON d.cluster = c.cluster
        WHERE CAST(floor(list_cosine_similarity(c.v, d.v) * 1000000 + 0.5)
                AS BIGINT) >= 900000
        UNION
        SELECT DISTINCT b.vec_id
        FROM dasg a JOIN dasg b
          ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        WHERE CAST(floor(list_cosine_similarity(a.v, b.v) * 1000000 + 0.5)
                AS BIGINT) >= 900000),
      kept2 AS (
        SELECT doc_id FROM kept1
        WHERE doc_id NOT IN (SELECT doc_id FROM rej2)),
      -- the trained-classifier fit, txt_classify_trained's chain
      tkw AS (
        SELECT doc_id, list_filter(
          regexp_split_to_array(lower(text), '\\s+'), t -> t <> '') AS tk
        FROM documents),
      labw AS (
        SELECT doc_id, tk,
               CASE WHEN len(tk) >= 2 AND
                 len(list_filter(tk, t -> list_contains($en, t))) * 10
                   >= len(tk)
                 THEN 1 ELSE 0 END AS label
        FROM tkw),
      bgw AS (
        SELECT doc_id, label,
               unnest(list_transform(range(len(tk) - 1),
                 i -> tk[i + 1] || ' ' || tk[i + 2])) AS g
        FROM labw WHERE len(tk) >= 2),
      bkw AS (
        SELECT doc_id, label,
               ('0x' || substr(md5(g), 1, 8))::BIGINT % 4096 AS bk
        FROM bgw),
      freqw AS (
        SELECT bk, COUNT(CASE WHEN label = 1 THEN 1 END) AS p,
                   COUNT(CASE WHEN label = 0 THEN 1 END) AS q
        FROM bkw GROUP BY bk),
      totw AS (SELECT SUM(p) AS pt, SUM(q) AS qt FROM freqw),
      -- the DENSE 4096-bucket LUT (the engine's fitted array): a
      -- delivery bigram the corpus never produced still scores its
      -- bucket's Laplace-prior weight — the sparse observed-buckets
      -- join of the txt_classify_trained oracle is only equivalent
      -- when every scored bigram came from the training corpus
      freqf AS (
        SELECT a.bk, COALESCE(f.p, 0) AS p, COALESCE(f.q, 0) AS q
        FROM (SELECT unnest(range(4096)) AS bk) a
        LEFT JOIN freqw f USING (bk)),
      ww AS (
        SELECT bk,
               ((p + 1) * 1000000 // (pt + 4096)) * 1000 //
                 greatest((q + 1) * 1000000 // (qt + 4096), 1) - 1000 AS w
        FROM freqf CROSS JOIN totw),
      dtk AS (
        SELECT t.doc_id, list_filter(
          regexp_split_to_array(lower(t.text), '\\s+'), x -> x <> '') AS tk
        FROM dtext t JOIN kept2 k ON k.doc_id = t.doc_id),
      dbg AS (
        SELECT doc_id,
               unnest(list_transform(range(len(tk) - 1),
                 i -> tk[i + 1] || ' ' || tk[i + 2])) AS g
        FROM dtk WHERE len(tk) >= 2),
      dbk AS (
        SELECT doc_id,
               ('0x' || substr(md5(g), 1, 8))::BIGINT % 4096 AS bk
        FROM dbg),
      dsc AS (
        SELECT d.doc_id, SUM(w.w) AS score
        FROM dbk d JOIN ww w USING (bk) GROUP BY d.doc_id),
      kept3 AS (
        SELECT k.doc_id FROM kept2 k
        LEFT JOIN dsc s ON s.doc_id = k.doc_id
        WHERE COALESCE(s.score, 0) > 0)
      SELECT '1_lexical_gate' AS stage,
             (SELECT COUNT(*) FROM dtext) AS n_in,
             (SELECT COUNT(*) FROM kept1) AS n_kept
      UNION ALL
      SELECT '2_semantic_gate',
             (SELECT COUNT(*) FROM kept1),
             (SELECT COUNT(*) FROM kept2)
      UNION ALL
      SELECT '3_quality_gate',
             (SELECT COUNT(*) FROM kept2),
             (SELECT COUNT(*) FROM kept3)
      ORDER BY stage"""
    })

  def queries: Seq[Q] = Seq(dedupExact, dedupMinhash, dedupSimhash,
    dedupNgram, dedupEmbed, dedupCluster, dedupPriority,
    dedupStreamNeardup,
    dedupSegments, dedupSemantic, dedupBloom, dedupSubstring,
    dedupIncremental, dedupLookup, dedupLookupBatch,
    dedupSemanticIncremental, dedupSemanticLookup,
    dedupSemanticLookupBatch, dedupSemanticKeeper, pipeCurateIndexed)
}
