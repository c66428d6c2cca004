package vbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{EmbedderOps, FeatureHashEmbedder, Ingest}
import graft.sources.{Collections, PayloadIndex, QuantIndex, VectorRouter}

/** The engine's public calls, as a user drives them: embed messages in,
  * routed top-k searches out. One collection with a declared quant
  * layout and a declared payload layout on `shard`. */
final class Engine(spark: SparkSession, root: String, tracer: Tracer) {
  import Engine._

  val coll = s"$root/coll"
  val quant = s"$root/quant"
  val payload = s"$root/payload"
  private val embedder = new FeatureHashEmbedder()
  val dim: Int = embedder.dim
  private var quantCursor: Option[Collections.ManifestView] = None
  private var payloadCursor: Option[Collections.ManifestView] = None

  Collections.create(coll, Collections.VectorConfig(dim))

  /** Per-commit accounting, from the files on disk and the manifest. */
  final case class CommitStats(points: Int, bucketsRewritten: Int,
                               collBytesWritten: Long,
                               layoutBytesWritten: Long)

  /** The state a commit's accounting is taken against. */
  final case class Snapshot(view: Collections.ManifestView,
                            collFiles: Map[Path, Long], layoutFiles: Map[Path, Long])

  def snapshot(): Snapshot =
    Snapshot(Collections.manifestView(coll), files(coll), files(quant) ++ files(payload))

  def statsSince(before: Snapshot, points: Int): CommitStats = {
    def newBytes(old: Map[Path, Long], dirs: String*): Long =
      dirs.flatMap(d => files(d)).filterNot { case (p, _) => old.contains(p) }.map(_._2).sum
    CommitStats(points,
      Collections.changedBuckets(before.view, Collections.manifestView(coll)).size,
      newBytes(before.collFiles, coll), newBytes(before.layoutFiles, quant, payload))
  }

  /** Messages → normalize → points → embed, as a lazy frame. */
  def points(docs: Seq[Gen.Doc], seq: Long): DataFrame = {
    import spark.implicits._
    val raw = docs.grouped(MessageDocs).map(Gen.message).toSeq.toDF("raw")
    val pts = Ingest.toPoints(Ingest.normalize(raw, "raw"))
      .select(col("id").cast("long").as(IdCol), col("document"),
        element_at(col("payload"), "topic").cast("int").as("topic"),
        element_at(col("payload"), "shard").cast("int").as(ShardCol),
        lit(seq).as("seq"))
    EmbedderOps.embedTextBatch(pts, "document", VecCol, embedder)
  }

  /** One commit: upsert the batch, then bring every declared layout up
    * to date. Returns once the batch is searchable through them, with
    * the upsert's own time (ns). */
  def commit(docs: Seq[Gen.Doc], seq: Long): Long = {
    val t0 = System.nanoTime()
    tracer.span("collections.upsert") {
      Collections.upsert(spark, coll, points(docs, seq), IdCol, "seq")
    }
    val upsertNs = System.nanoTime() - t0
    quantCursor = quantCursor.map(c =>
      tracer.span("layout.quant")(QuantIndex.refresh(spark, coll, quant, c)))
    payloadCursor = payloadCursor.map(c =>
      tracer.span("layout.payload")(PayloadIndex.refresh(spark, coll, payload, IdCol, c)))
    upsertNs
  }

  /** Declare the quant and payload layouts: build both from the
    * collection. Returns the build times (ns) of each. */
  def declareLayouts(): (Long, Long) = {
    val t0 = System.nanoTime()
    quantCursor = Some(tracer.span("layout.quant")(
      QuantIndex.buildFromCollection(spark, coll, quant, IdCol, VecCol, dim)))
    val t1 = System.nanoTime()
    payloadCursor = Some(tracer.span("layout.payload")(
      PayloadIndex.buildFromCollection(spark, coll, payload, ShardCol, IdCol)))
    (t1 - t0, System.nanoTime() - t1)
  }

  private def read(): DataFrame =
    tracer.span("collections.read")(Collections.read(spark, coll))

  private val vectorIndexes = Seq(quant)
  private val payloadIndexes = Seq(ShardCol -> payload)

  def filterOf(shard: Int): String =
    s"""{"must": [{"key": "$ShardCol", "match": {"value": $shard}}]}"""

  /** Routed top-k: (id, score_micro) in rank order. */
  def knn(q: Seq[Double], dsl: Option[String] = None): Seq[(Long, Long)] = {
    val pts = read()
    val df = tracer.span("router.call") {
      VectorRouter.queryPoints(spark, pts, IdCol, VecCol, vectorIndexes,
        payloadIndexes, q, K, dsl)
    }
    tracer.span("action")(df.collect()).toSeq
      .map(r => (r.getLong(0), r.getLong(1)))
  }

  /** Routed batch: per query, (id, score_micro) in rank order. */
  def batch(qs: Seq[Seq[Double]]): Map[Long, Seq[(Long, Long)]] = {
    val pts = read()
    val df = tracer.span("router.call") {
      VectorRouter.queryPointsMulti(spark, pts, IdCol, VecCol, vectorIndexes,
        qs.indices.map(_.toLong).zip(qs), K)
    }
    tracer.span("action")(df.collect()).toSeq
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sortBy(x => (-x._2, x._1)) }
  }

  /** Query vectors through the engine's batch embedding boundary. */
  def embed(texts: Seq[String]): Seq[Seq[Double]] = {
    import spark.implicits._
    EmbedderOps.embedTextBatch(texts.zipWithIndex.toDF("text", "i"), "text",
        "v", embedder)
      .orderBy("i").select("v").collect().toSeq.map(_.getSeq[Double](0))
  }

  /** Driver-side embedding of one text (same model, bit-identical). */
  def embedLocal(text: String): Seq[Double] =
    embedder.embedBatch(Seq(text)).head.toSeq

  def livePoints(): Long = Collections.read(spark, coll).count()

  /** Parquet files the current manifest references. */
  def liveFiles(): Int = Collections.manifestView(coll).buckets.values.toSeq
    .map(rel => files(s"$coll/data/$rel").count(_._1.toString.endsWith(".parquet"))).sum

  /** Bytes on disk under the collection and both layouts. */
  def diskBytes(): Long = Seq(coll, quant, payload).flatMap(files).map(_._2).sum

  /** Each layout equals a fresh build from the collection. */
  def layoutsMatchRebuild(): Boolean = {
    val q2 = s"$root/quant_rebuilt"
    val p2 = s"$root/payload_rebuilt"
    QuantIndex.buildFromCollection(spark, coll, q2, IdCol, VecCol, dim)
    PayloadIndex.buildFromCollection(spark, coll, p2, ShardCol, IdCol)
    def same(a: String, b: String): Boolean = {
      val x = spark.read.parquet(a)
      Registry.rowsAndHash(x) ==
        Registry.rowsAndHash(spark.read.parquet(b).select(x.columns.map(col).toSeq: _*))
    }
    same(quant, q2) && same(payload, p2)
  }
}

object Engine {
  val IdCol = "pid"
  val VecCol = "vec"
  val ShardCol = "shard"
  val K = 10
  val MessageDocs = 50

  /** Regular files under `dir` with their sizes (empty if absent). */
  def files(dir: String): Map[Path, Long] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => f -> Files.size(f)).toMap
      finally s.close()
    }
  }
}
