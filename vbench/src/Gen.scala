package vbench

import java.util.SplittableRandom

/** Seeded corpus generator: topic-clustered documents over a Zipf
  * vocabulary, packed as the reference's full embed messages
  * (`{"collection", "documents", "metadatas", "ids"}`).
  *
  * Every document carries two payload fields: `topic` (its cluster) and
  * `shard`, drawn uniformly from [0, Shards) so that every `shard` filter
  * has the same selectivity and therefore takes the same router plan.
  * Ids are integral. The same seed yields byte-identical messages. */
final class Gen(seed: Long) {
  import Gen._

  private val rnd = new SplittableRandom(seed)

  /** Each topic favours its own slice of the vocabulary, Zipf-weighted
    * inside the slice. */
  private val topicWords: Array[Array[Int]] = Array.fill(Topics) {
    Array.fill(TopicVocab)(TopicBase + rnd.nextInt(Vocab - TopicBase))
  }

  private def zipf(cdf: Array[Double]): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
    math.min(if (i >= 0) i else -i - 1, cdf.length - 1)
  }

  /** One document of `len` tokens from `topic`. */
  def text(topic: Int, len: Int): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < len) {
      if (i > 0) sb.append(' ')
      val w =
        if (rnd.nextDouble() < TopicShare) topicWords(topic)(zipf(TopicCdf))
        else zipf(VocabCdf)
      sb.append(word(w))
      i += 1
    }
    sb.toString
  }

  def doc(id: Long): Doc = {
    val topic = rnd.nextInt(Topics)
    Doc(id, text(topic, DocMin + rnd.nextInt(DocMax - DocMin + 1)), topic,
      rnd.nextInt(Shards))
  }

  /** Seeded query texts, drawn from the same topics as the corpus. */
  def queries(n: Int): Seq[String] =
    Seq.fill(n)(text(rnd.nextInt(Topics), DocMin + rnd.nextInt(DocMax - DocMin + 1)))

  def nextInt(bound: Int): Int = rnd.nextInt(bound)
}

object Gen {
  val Vocab = 8000
  val Topics = 24
  val TopicVocab = 160
  val TopicBase = 40 // the commonest words belong to no topic
  val TopicShare = 0.6
  val DocMin = 16
  val DocMax = 40
  val Shards = 8
  val Collection = "bench"

  final case class Doc(id: Long, text: String, topic: Int, shard: Int)

  private def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / total }
  }
  private val VocabCdf = zipfCdf(Vocab, 1.07)
  private val TopicCdf = zipfCdf(TopicVocab, 1.0)

  private val Syllables = Array("ka", "lo", "mi", "nu", "pe", "ra", "si",
    "to", "ve", "zu", "ba", "do", "fi", "gu", "ha", "je")

  /** Vocabulary word `i`: its base-16 digits spelled as syllables. */
  def word(i: Int): String = {
    val sb = new StringBuilder
    var v = i
    do { sb.append(Syllables(v & 15)); v >>>= 4 } while (v > 0)
    sb.toString
  }

  /** A full embed message holding `docs` (reference `README.md` shape). */
  def message(docs: Seq[Doc]): String = {
    def strs(xs: Seq[String]) = xs.map(x => "\"" + x + "\"").mkString("[", ", ", "]")
    val metas = docs.map(d =>
      s"""{"topic": "${d.topic}", "shard": "${d.shard}"}""").mkString("[", ", ", "]")
    s"""{"collection": "$Collection", "documents": ${strs(docs.map(_.text))}, """ +
      s""""metadatas": $metas, "ids": ${strs(docs.map(_.id.toString))}}"""
  }
}
