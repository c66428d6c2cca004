package vbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Operator families of the query registry (`graft.SparkEntry.queries`),
  * by key prefix. */
object Families {
  val Named = Seq("v", "dedup", "txt", "q", "pipe", "ann", "embed", "mm", "coll")
  /** Prefixes of the small families reported together as `other`. */
  val Other = Set("ingest", "sketch", "chroma")

  /** The family of a registry key; None for a prefix no family claims. */
  def of(key: String): Option[String] = {
    val p = key.takeWhile(_ != '_')
    if (Named.contains(p)) Some(p)
    else if (p.matches("q\\d+")) Some("q") // q1_pricing, q3_..., q5_...
    else if (Other.contains(p)) Some("other")
    else None
  }
}

/** The registry keys the workloads run, and their result checks. */
object Registry {

  /** A fixed subset of `graft.SparkEntry.queries`, one key for each of
    * the six largest families: vector, dedup, text, relational, pipeline
    * and ANN queries. The run budget leaves no time for the small ones. */
  val Keys: Seq[String] = Seq(
    "v_knn_join", "dedup_semantic", "txt_bm25", "q_sessionize", "pipe_curate", "ann_ivf")

  /** The fixture the keys run on, under `vbench/fixture`. */
  val Scale = "sf0.01"

  def query(key: String): (org.apache.spark.sql.SparkSession, String) => DataFrame =
    graft.SparkEntry.queries(key)

  /** Recorded (rows, hash) per key; `unstable` keys did not reproduce
    * their hash across two recording runs and are checked by rows only. */
  final case class Baseline(keys: Map[String, (Long, String)], unstable: Set[String])

  /** (row count, sum of per-row xxhash64 over every column rendered as
    * a string) — equal for equal row multisets, whatever their order. */
  def rowsAndHash(df: DataFrame): (Long, String) = {
    val d = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val h = xxhash64(d.columns.toSeq.map(c => col(c).cast("string")): _*)
      .cast("decimal(38,0)")
    val r = d.agg(count(lit(1)), coalesce(sum(h), lit(0).cast("decimal(38,0)"))).head()
    (r.getLong(0), r.getDecimal(1).toPlainString)
  }

  def readBaseline(path: String): Baseline = {
    val j = JsonMethods.parse(new String(Files.readAllBytes(Paths.get(path)), StandardCharsets.UTF_8))
    val keys = (j \ "keys") match {
      case JObject(fs) => fs.collect { case (k, JArray(List(JInt(n), JString(h)))) => k -> (n.toLong, h) }.toMap
      case _ => Map.empty[String, (Long, String)]
    }
    val unstable = (j \ "unstable") match {
      case JArray(xs) => xs.collect { case JString(k) => k }.toSet
      case _ => Set.empty[String]
    }
    Baseline(keys, unstable)
  }
}
