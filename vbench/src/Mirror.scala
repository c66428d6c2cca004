package vbench

import scala.collection.mutable

/** The benchmark's own model of the collection: every point it upserted,
  * keep-last by id, with its vector from the same embedding model. Exact
  * top-k over it is the reference routed results are checked against. */
final class Mirror {
  private val points = mutable.HashMap.empty[Long, (Int, Array[Double])]

  def upsert(docs: Seq[Gen.Doc], vecs: Seq[Array[Double]]): Unit =
    docs.zip(vecs).foreach { case (d, v) => points(d.id) = (d.shard, v) }

  def size: Int = points.size

  /** Exact top-`k` as (id, cosine), by cosine descending then id, over
    * the points whose shard is `shard` when given. Cosine is the engine's
    * fold order: dot / (sqrt(a·a) · sqrt(b·b)), each sum left to right. */
  def topK(q: Seq[Double], k: Int, shard: Option[Int] = None): Seq[(Long, Double)] = {
    val qa = q.toArray
    val qn = math.sqrt(dot(qa, qa))
    points.iterator
      .filter { case (_, (s, _)) => shard.forall(_ == s) }
      .map { case (id, (_, v)) => (id, dot(v, qa) / (math.sqrt(dot(v, v)) * qn)) }
      .filterNot(_._2.isNaN)
      .toSeq.sortBy { case (id, c) => (-c, id) }.take(k)
  }

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0
    var i = 0
    while (i < a.length) { acc = acc + a(i) * b(i); i += 1 }
    acc
  }
}

object Mirror {
  /** The engine's micro-unit score. */
  def micro(c: Double): Long = math.floor(c * 1e6 + 0.5).toLong
}
