package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import scala.collection.immutable.ArraySeq

/** Product quantization (Jégou, Douze, Schmid: "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011) — the memory-side ANN companion
  * to IVF (Ann.scala): split the d-dim embedding into `m` subspaces of
  * d/m dims, k-means each subspace independently, and represent every
  * vector by its `m` nearest-centroid codes. At m=4, k=8 a 64-dim float
  * vector (256 B) becomes 4 codes (3 bits each) — the scan side of a
  * 100 TB search touches the code columns only, ~64× less IO, and the
  * query-to-code distance is a lookup in an m×k table computed once per
  * query on the driver (ADC — asymmetric distance computation).
  *
  * Everything is pinned for exact oracle replay (same contract as
  * [[Ann.kmeansFit]], which trains each subspace codebook):
  *
  *  - codebook centroids are micro-quantized (×1e6 integers) — the Lloyd
  *    rounds already quantize means, so this is a representation change,
  *    not a precision loss;
  *  - vectors quantize to micro integers BEFORE encoding, so assignment
  *    distances are exact BIGINT sums of squared micro differences — no
  *    floating point anywhere in encode or ADC, hence no ulp drift
  *    between engines;
  *  - argmin ties break by code id; candidate ties break by vector id.
  *
  * The reference delegates index choice to Qdrant, which offers scalar /
  * product / binary quantization on collections
  * (`bob_vector_db/qdrant_embedder.py:92-103` creates the cosine
  * collections a user would quantize); SQ and BQ live in
  * VectorExpressions — PQ completes the family. */
object Pq {

  def microQ(x: Double): Long = math.floor(x * 1e6 + 0.5).toLong

  /** Micro-quantized vector column: array<double> → array<long>. */
  def vmicro(vec: Column): Column =
    transform(vec.cast("array<double>"),
      x => floor(x * 1e6 + lit(0.5)).cast("long"))

  /** One codebook per subspace, trained by the oracle-replayable Lloyd
    * iteration on the sliced subvectors. Returns, per subspace, the
    * (cid, micro-centroid) table sorted by cid — k·d micros total, a
    * driver-sized constant (k=8, d=64 → 512 longs). */
  def trainCodebooks(coll: DataFrame, idCol: String, vecCol: String,
                     m: Int, subDim: Int, k: Int, iters: Int)
      : Array[Array[(Long, Array[Long])]] =
    (0 until m).toArray.map { s =>
      Ann.kmeansFit(
          coll.select(col(idCol),
            slice(col(vecCol).cast("array<double>"), s * subDim + 1, subDim)
              .as("__sv")),
          idCol, "__sv", k, iters)
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).map(microQ).toArray))
        .sortBy(_._1)
    }

  /** Exact integer squared distance between two micro vectors. */
  def distInt(a: Array[Long], b: Array[Long]): Long =
    a.indices.foldLeft(0L) { (acc, i) =>
      val d = a(i) - b(i); acc + d * d
    }

  /** Per-subspace code column: argmin over the codebook of the BIGINT
    * squared distance between the vector's micro slice and each micro
    * centroid (cid tie-break via struct ordering). The codebook is inlined
    * as literals — no join, stays inside whole-stage codegen. */
  def codeCol(vm: Column, codebook: Array[(Long, Array[Long])],
              sub: Int, subDim: Int): Column = {
    val sl = slice(vm, sub * subDim + 1, subDim)
    array_min(array(ArraySeq.unsafeWrapArray(codebook).map { case (cid, cm) =>
      struct(
        aggregate(
          zip_with(sl, typedLit(cm.toSeq), (x, y) => (x - y) * (x - y)),
          lit(0L), (acc, x) => acc + x).as("d"),
        lit(cid).as("c"))
    }: _*)).getField("c")
  }

  /** ADC distance column: Σ over subspaces of the precomputed
    * query-to-centroid table entry for this vector's code. `lut(s)(cid)`
    * is integer math on driver-side micros — exact in any engine. */
  def adcCol(codeCols: Seq[Column], lut: Array[Array[Long]]): Column =
    codeCols.zipWithIndex.map { case (c, s) =>
      element_at(typedLit(lut(s).toSeq), c.cast("int") + 1)
    }.reduce(_ + _)
}
