package graft

import org.apache.spark.sql.functions._
import graft.functions.VectorOps
import graft.operators.Pq

/** Declared product-quantization queries: codebook TRAINING is itself
  * oracle-gated (the DuckDB oracle replays the per-subspace Lloyd rounds
  * exactly, like ann_kmeans), and the search gate covers encode + ADC +
  * exact rescore end-to-end. Parameters: m=4 subspaces × 16 dims, k=8
  * codes, 1 Lloyd round — small enough that the oracle's 4 unrolled
  * k-means CTE chains stay readable, big enough that every code path
  * (slicing, per-subspace argmin, LUT lookup, integer ADC) is exercised. */
object PqQueries {

  private val M = 4
  private val SubDim = 16
  private val K = 8
  private val Iters = 1

  /** Codebooks, memoized per embeddings file (training is
    * deterministic; v_pq_codebooks and v_pq_search share one training
    * run). */
  private def codebooks(s: org.apache.spark.sql.SparkSession, dir: String)
      : Array[Array[(Long, Array[Long])]] =
    Memo("pqCodebooks", (M, SubDim, K, Iters), Tables.path(dir, "embeddings")) {
      Pq.trainCodebooks(Tables.load(s, dir, "embeddings"),
        "vec_id", "embedding", M, SubDim, K, Iters)
    }

  /** DuckDB replay of one subspace's Lloyd training (mirror of
    * AnnQueries.kmeansSql over the micro slice [off+1, off+subDim]):
    * CTE chain suffixed _s<sub> ending in cb_s<sub> (cid, cm BIGINT[]). */
  private def pqKmeansSql(sub: Int): String = {
    val off = sub * SubDim
    val x = s"_s$sub"
    val init = s"""
      e$x AS (SELECT vec_id,
                CAST(embedding AS DOUBLE[])[${off + 1}:${off + SubDim}] AS v
              FROM embeddings),
      c0$x AS (
        SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
        FROM (SELECT * FROM e$x ORDER BY vec_id LIMIT $K))"""
    val steps = (0 until Iters).map { n =>
      s""",
      a${n + 1}$x AS (
        SELECT vec_id, cid FROM (
          SELECT e.vec_id, c.cid,
                 ROW_NUMBER() OVER (PARTITION BY e.vec_id
                   ORDER BY list_distance(e.v, c.cv), c.cid) AS rn
          FROM e$x e CROSS JOIN c$n$x c) WHERE rn = 1),
      m${n + 1}$x AS (
        SELECT a.cid, ii.i,
               floor((CAST(SUM(CAST(e.v[ii.i + 1] AS DECIMAL(25,12)))
                             AS DOUBLE) / COUNT(*)) * 1000000 + 0.5)
                 / 1000000 AS c
        FROM a${n + 1}$x a JOIN e$x e ON e.vec_id = a.vec_id
        CROSS JOIN (SELECT unnest(range($SubDim)) AS i) ii
        GROUP BY a.cid, ii.i),
      c${n + 1}$x AS (
        SELECT c.cid, COALESCE(m.cv, c.cv) AS cv
        FROM c$n$x c LEFT JOIN (
          SELECT cid, array_agg(c ORDER BY i) AS cv
          FROM m${n + 1}$x GROUP BY cid) m ON m.cid = c.cid)"""
    }.mkString
    init + steps + s""",
      cb$x AS (
        SELECT CAST($sub AS BIGINT) AS sub, cid,
               list_transform(cv,
                 x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT)) AS cm
        FROM c$Iters$x)"""
  }

  private val allCbSql =
    (0 until M).map(pqKmeansSql).mkString(",") + s""",
      cb AS (${(0 until M).map(s => s"SELECT * FROM cb_s$s")
        .mkString(" UNION ALL ")})"""

  /** PQ codebooks in long format (sub, cid, i, c_micro) — the training
    * gate. Micro integers because training already micro-quantizes means;
    * long format because the driver compare cannot hash arrays. */
  val vPqCodebooks = Q("v_pq_codebooks",
    (s, dir) => {
      import s.implicits._
      codebooks(s, dir).zipWithIndex.flatMap { case (cb, sub) =>
        cb.flatMap { case (cid, cm) =>
          cm.zipWithIndex.map { case (c, i) =>
            (sub.toLong, cid, i.toLong, c)
          }
        }
      }.toSeq.toDF("sub", "cid", "i", "c_micro")
        .orderBy("sub", "cid", "i")
    },
    Some(s"""
      WITH $allCbSql
      SELECT sub, cid, CAST(ii.i AS BIGINT) AS i, cm[ii.i + 1] AS c_micro
      FROM cb CROSS JOIN (SELECT unnest(range($SubDim)) AS i) ii
      ORDER BY sub, cid, i"""))

  /** PQ search: encode every vector to m codes (integer argmin per
    * subspace), ADC-score it against the query's m×k lookup table
    * (integer sum of 4 lookups — the collection pass reads codes, never
    * floats), take the 20 best candidates, exact-cosine rescore to a
    * top-10. The two-stage shape is what survives 100 TB: stage 1 is a
    * narrow codegen pass over ~1/64th the bytes ending in a bounded
    * top-k heap; stage 2 touches 20 full vectors. */
  val vPqSearch = Q("v_pq_search",
    (s, dir) => {
      val cbs = codebooks(s, dir)
      val emb = Tables.load(s, dir, "embeddings")
      val q = VectorQueries.queryVec(s, dir, 0)
      val qm = q.map(Pq.microQ).toArray
      val lut: Array[Array[Long]] = cbs.zipWithIndex.map { case (cb, sub) =>
        cb.map { case (_, cm) =>
          Pq.distInt(qm.slice(sub * SubDim, (sub + 1) * SubDim), cm)
        }
      }
      val vm = Pq.vmicro(col("embedding"))
      val codeCols = (0 until M).map(sub =>
        Pq.codeCol(vm, cbs(sub), sub, SubDim))
      // spread (r17): the PQ encode (M per-subspace argmins over the
      // codebooks, per row) ran in one task on the single-split scan
      // (Dev prof: a 0.51 s single-task job = most of the query);
      // cluster no-op by Par's gate, both stages end in bounded top-k
      graft.operators.Par.spread(emb)
        .withColumn("adc", Pq.adcCol(codeCols, lut))
        .orderBy(col("adc"), col("vec_id")).limit(20)
        .withColumn("score_micro",
          floor(VectorOps.cosine(col("embedding"), typedLit(q)) * 1e6
            + lit(0.5)).cast("long"))
        .orderBy(desc("score_micro"), col("vec_id")).limit(10)
        .select("vec_id", "adc", "score_micro")
    },
    Some(s"""
      WITH $allCbSql,
      em AS (
        SELECT vec_id,
               list_transform(CAST(embedding AS DOUBLE[]),
                 x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT)) AS vm
        FROM embeddings),
      q AS (
        SELECT list_transform(
            (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings
             WHERE vec_id = 0),
            x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT)) AS qm),
      qd AS (
        SELECT cb.sub, cb.cid,
               CAST(list_sum(list_transform(range($SubDim),
                 i -> (q.qm[cb.sub*$SubDim + i + 1] - cb.cm[i + 1])
                    * (q.qm[cb.sub*$SubDim + i + 1] - cb.cm[i + 1])))
                 AS BIGINT) AS qdist
        FROM cb CROSS JOIN q),
      codes AS (
        SELECT vec_id, sub, cid FROM (
          SELECT em.vec_id, cb.sub, cb.cid,
                 ROW_NUMBER() OVER (PARTITION BY em.vec_id, cb.sub
                   ORDER BY CAST(list_sum(list_transform(range($SubDim),
                     i -> (em.vm[cb.sub*$SubDim + i + 1] - cb.cm[i + 1])
                        * (em.vm[cb.sub*$SubDim + i + 1] - cb.cm[i + 1])))
                     AS BIGINT), cb.cid) AS rn
          FROM em CROSS JOIN cb) WHERE rn = 1),
      adc AS (
        SELECT c.vec_id, CAST(SUM(qd.qdist) AS BIGINT) AS adc
        FROM codes c JOIN qd ON qd.sub = c.sub AND qd.cid = c.cid
        GROUP BY c.vec_id),
      cand AS (SELECT vec_id, adc FROM adc ORDER BY adc, vec_id LIMIT 20)
      SELECT e.vec_id, cand.adc,
             CAST(floor(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
               (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings
                WHERE vec_id = 0)) * 1000000 + 0.5) AS BIGINT) AS score_micro
      FROM cand JOIN embeddings e ON e.vec_id = cand.vec_id
      ORDER BY score_micro DESC, e.vec_id LIMIT 10"""))

  /** Session-lifetime memo of the PQ codes sidecar
    * ([[graft.sources.PqIndex]]) — codebooks pinned from the same
    * memoized training run the in-plan queries share. */
  private def pqIndexDir(s: org.apache.spark.sql.SparkSession,
                         dir: String): String =
    Tables.memoTempDir("pqidx", dir) { target =>
      graft.sources.PqIndex.build(Tables.load(s, dir, "embeddings"),
        "vec_id", "embedding", codebooks(s, dir), SubDim, target)
    }

  /** [[vPqSearch]] over the MATERIALIZED codes sidecar: the ADC pass
    * scans ONLY `(vec_id, codes)` — 4 small ints per row, never the
    * embedding column (ReadSchema spec-asserted) — with the query's m×k
    * integer LUT as a plan literal; the exact stage probes 20 full
    * vectors by literal id and re-ranks by the SAME micro-quantized
    * score (and tie-break) as the in-plan twin. Same oracle as
    * `v_pq_search`: materialization must not change a row. */
  val vPqSearchIndexed = Q("v_pq_search_indexed",
    (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val q = VectorQueries.queryVec(s, dir, 0)
      val cand = graft.sources.PqIndex.adcTopN(s, pqIndexDir(s, dir),
          q.map(Pq.microQ).toArray, 20)
        .select(col("vec_id"), col("adc"))
      VectorQueries.exactRescore(s, emb, cand, q, 10, byMicro = true)
        .select("vec_id", "adc", "score_micro")
    },
    vPqSearch.oracle)

  /** IVF-PQ — the composed production ANN shape (the published FAISS
    * IVFADC construction, re-expressed Spark-first): the trained-k-means
    * IVF probe PRUNES the collection to nprobe cells, the integer ADC
    * pass scores ONLY the pruned cells against the query's m×k lookup
    * table, and an exact-cosine rescore fixes the top-10. All three
    * stages are individually oracle-gated elsewhere (`ann_kmeans`,
    * `ann_ivf`, `v_pq_search`); this query gates their COMPOSITION — the
    * oracle replays coarse training, cell assignment, probe selection,
    * per-subspace codebook training, encoding, ADC, and the rescore in
    * one CTE chain. Scale: stage cost is (nprobe/k)·collection narrow
    * integer work + 20 full-vector reads; with the materialized index
    * (`ann_ivf_indexed`) the probe is partition pruning and the ADC pass
    * reads codes at ~1/64th the bytes. */
  val annIvfPq = Q("ann_ivfpq",
    (s, dir) => {
      import graft.operators.Ann
      val emb = Tables.load(s, dir, "embeddings")
      val cbs = codebooks(s, dir)
      val centroids = AnnQueries.trainedCentroids(s, dir, 8, 2)
      val q = VectorQueries.queryVec(s, dir, 0)
      val qm = q.map(Pq.microQ).toArray
      val lut: Array[Array[Long]] = cbs.zipWithIndex.map { case (cb, sub) =>
        cb.map { case (_, cm) =>
          Pq.distInt(qm.slice(sub * SubDim, (sub + 1) * SubDim), cm)
        }
      }
      val assigned = emb.join(
        Ann.argminAssign(emb, "vec_id", "embedding", centroids, "cid", "cv"),
        "vec_id")
      val probed = Ann.probeClusters(centroids, "cid", "cv", q, 2)
      val cand = assigned.join(broadcast(probed), "cluster")
      val vm = Pq.vmicro(col("embedding"))
      val codeCols = (0 until M).map(sub =>
        Pq.codeCol(vm, cbs(sub), sub, SubDim))
      cand
        .withColumn("adc", Pq.adcCol(codeCols, lut))
        .orderBy(col("adc"), col("vec_id")).limit(20)
        .withColumn("score_micro",
          floor(VectorOps.cosine(col("embedding"), typedLit(q)) * 1e6
            + lit(0.5)).cast("long"))
        .orderBy(desc("score_micro"), col("vec_id")).limit(10)
        .select("vec_id", "cluster", "adc", "score_micro")
    },
    Some(s"""
      WITH ${AnnQueries.kmeansSql(8, 2)},
      $allCbSql,
      q0 AS (
        SELECT CAST(embedding AS DOUBLE[]) AS qv
        FROM embeddings WHERE vec_id = 0),
      assign AS (
        SELECT e.vec_id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY list_distance(e.v, c.cv), c.cid) AS rn
        FROM e CROSS JOIN c2 c),
      amin AS (SELECT vec_id, cid AS cluster FROM assign WHERE rn = 1),
      probes AS (
        SELECT cid FROM c2 CROSS JOIN q0
        ORDER BY list_distance(cv, qv), cid LIMIT 2),
      em AS (
        SELECT e.vec_id, a.cluster,
               list_transform(e.v,
                 x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT)) AS vm
        FROM e JOIN amin a ON a.vec_id = e.vec_id
        WHERE a.cluster IN (SELECT cid FROM probes)),
      qmic AS (
        SELECT list_transform((SELECT qv FROM q0),
          x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT)) AS qm),
      qd AS (
        SELECT cb.sub, cb.cid,
               CAST(list_sum(list_transform(range($SubDim),
                 i -> (q.qm[cb.sub*$SubDim + i + 1] - cb.cm[i + 1])
                    * (q.qm[cb.sub*$SubDim + i + 1] - cb.cm[i + 1])))
                 AS BIGINT) AS qdist
        FROM cb CROSS JOIN qmic q),
      codes AS (
        SELECT vec_id, sub, cid FROM (
          SELECT em.vec_id, cb.sub, cb.cid,
                 ROW_NUMBER() OVER (PARTITION BY em.vec_id, cb.sub
                   ORDER BY CAST(list_sum(list_transform(range($SubDim),
                     i -> (em.vm[cb.sub*$SubDim + i + 1] - cb.cm[i + 1])
                        * (em.vm[cb.sub*$SubDim + i + 1] - cb.cm[i + 1])))
                     AS BIGINT), cb.cid) AS rn
          FROM em CROSS JOIN cb) WHERE rn = 1),
      adc AS (
        SELECT c.vec_id, CAST(SUM(qd.qdist) AS BIGINT) AS adc
        FROM codes c JOIN qd ON qd.sub = c.sub AND qd.cid = c.cid
        GROUP BY c.vec_id),
      cand AS (
        SELECT a.vec_id, em.cluster, a.adc
        FROM adc a JOIN em ON em.vec_id = a.vec_id
        ORDER BY a.adc, a.vec_id LIMIT 20)
      SELECT cand.vec_id, cand.cluster, cand.adc,
             CAST(floor(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
               (SELECT qv FROM q0)) * 1000000 + 0.5) AS BIGINT)
               AS score_micro
      FROM cand JOIN embeddings e ON e.vec_id = cand.vec_id
      ORDER BY score_micro DESC, cand.vec_id LIMIT 10"""))

  /** Session-lifetime memo of the IVF+PQ layout
    * ([[graft.sources.IvfPqIndex]]) — coarse centroids and codebooks
    * pinned from the SAME memoized training runs the in-plan `ann_ivfpq`
    * uses, so assignment and encoding are bit-identical by construction. */
  private[graft] def ivfPqIndexDir(s: org.apache.spark.sql.SparkSession,
                            dir: String): String =
    Tables.memoTempDir("ivfpqidx", dir) { target =>
      graft.sources.IvfPqIndex.build(Tables.load(s, dir, "embeddings"),
        "vec_id", "embedding", AnnQueries.trainedCentroids(s, dir, 8, 2),
        codebooks(s, dir), SubDim, target)
    }

  /** [[annIvfPq]] over the MATERIALIZED layout: the nprobe-cluster probe
    * becomes PARTITION PRUNING (the ADC pass lists only the probed
    * `cluster=` dirs — PartitionFilters spec-asserted) and scans ONLY
    * `(vec_id, codes)` — never the embedding column (ReadSchema
    * spec-asserted). The exact stage probes 20 full vectors by literal
    * id and re-ranks by the SAME micro-quantized score as the in-plan
    * twin. Same oracle as `ann_ivfpq`: materialization must not change
    * a row. */
  val annIvfPqIndexed = Q("ann_ivfpq_indexed",
    (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val q = VectorQueries.queryVec(s, dir, 0)
      val cand = graft.sources.IvfPqIndex
        .adcTopN(s, ivfPqIndexDir(s, dir), q, nprobe = 2, n = 20)
        // partition-discovery types the cluster column int; the in-plan
        // twin's (and the oracle's) cluster is BIGINT
        .select(col("vec_id"), col("cluster").cast("long").as("cluster"),
          col("adc"))
      VectorQueries.exactRescore(s, emb, cand, q, 10, byMicro = true)
        .select("vec_id", "cluster", "adc", "score_micro")
    },
    annIvfPq.oracle)

  def queries: Seq[Q] = Seq(vPqCodebooks, vPqSearch, vPqSearchIndexed,
    annIvfPq, annIvfPqIndexed)
}
