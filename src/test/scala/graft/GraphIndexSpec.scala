package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Ann
import graft.sources.{Collections, GraphIndex}
import graft.sources.Collections.VectorConfig

/** Incremental navigable-graph index maintenance (sources/GraphIndex):
  * refresh over the change feed must equal a full rebuild ROW FOR ROW —
  * for every persisted round, the order table, and the seeds — after a
  * mixed upsert/deleteWhere/setVectorWhere sequence, while leaving
  * untouched bucket dirs physically untouched. */
class GraphIndexSpec extends AnyFunSuite with SparkSpec {

  // deliberately small geometry: dirty neighborhoods stay local, so the
  // byte-stability assertion has untouched buckets to observe
  private val P = GraphIndex.Params(bands = 2, planesPerBand = 4,
    w = 3, m = 4, rounds = 2, planes = Ann.hyperplanes(8, 64))

  private def graphRows(spark: org.apache.spark.sql.SparkSession,
                        dir: String, r: Int): Seq[String] =
    spark.read.parquet(s"$dir/graph/round=$r")
      .select("src", "dst", "score_micro", "rnk")
      .collect().map(_.toSeq.toString).toSeq.sorted

  private def tableRows(spark: org.apache.spark.sql.SparkSession,
                        path: String, cols: String*): Seq[String] =
    spark.read.parquet(path).select(cols.map(col): _*)
      .collect().map(_.toSeq.toString).toSeq.sorted

  test("graph index refresh == full rebuild (all rounds, order, seeds) " +
       "after mixed mutations; untouched bucket dirs byte-stable") {
    val root = SparkSpec.tempDir("graft-gidx").toString
    val dir = s"$root/coll"
    // 32 id-hash buckets: small enough dirs, enough of them that a local
    // dirty neighborhood cannot touch all of them
    Collections.create(dir, VectorConfig(64), buckets = 32)
    val sink = new Collections.ParquetCollectionSink(spark, dir,
      VectorConfig(64), "embedding", "vec_id", "seq")
    val emb = Tables.load(spark, sf, "embeddings").limit(200)
    sink.write(emb.withColumn("seq", lit(0)))

    val idx = s"$root/gidx"
    val v0 = GraphIndex.build(spark, dir, idx, "vec_id", "embedding", P)

    // serving sanity on the maintained layout
    val q0 = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    val hits = GraphIndex.search(spark, dir, idx, "vec_id", "embedding",
      q0, beam = 8, rounds = 3, k = 5).collect()
    assert(hits.length == 5 && hits.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L, 5L))
    assert(hits.map(_.getLong(2)).toSeq ==
      hits.map(_.getLong(2)).toSeq.sorted.reverse, "scores not descending")

    // ---- mixed mutation sequence ------------------------------------
    // (a) re-embed two nodes with a DIRECTION change (bucket + scores move)
    sink.write(emb.filter(col("vec_id").isin(1L, 101L))
      .withColumn("embedding", reverse(col("embedding")).cast("array<float>"))
      .withColumn("seq", lit(1)))
    // (b) delete one node
    Collections.deleteWhere(spark, dir, col("vec_id") === 53, "vec_id")
    // (c) scale two vectors ×2 — cosine-invariant: same buckets, same
    // scores; the refresh must PROVE the no-op by diffing, not assume it
    Collections.setVectorWhere(spark, dir, col("vec_id").isin(5L, 97L),
      "vec_id", "embedding",
      transform(col("embedding"), x => x * 2).cast("array<float>"))

    // capture every graph bucket dir's file listing before the refresh
    def listings(): Map[String, Set[(String, Long)]] = {
      import scala.jdk.CollectionConverters._
      (0 to P.rounds).flatMap { r =>
        val base = Paths.get(s"$idx/graph/round=$r")
        val s = Files.list(base)
        try s.iterator().asScala
          .filter(d => Files.isDirectory(d) &&
            d.getFileName.toString.startsWith("src_bucket="))
          .map { d =>
            val walk = Files.walk(d)
            val files = try walk.iterator().asScala
              .filter(Files.isRegularFile(_))
              .map(p => p.toString -> Files.getLastModifiedTime(p).toMillis)
              .toSet
            finally walk.close()
            s"round=$r/${d.getFileName}" -> files
          }.toList
        finally s.close()
      }.toMap
    }
    val pre = listings()

    GraphIndex.refresh(spark, dir, idx, "vec_id", "embedding", v0)

    // untouched dirs are PHYSICALLY untouched — and there are some
    val post = listings()
    val stable = pre.keySet.intersect(post.keySet)
      .filter(k => pre(k) == post(k))
    assert(stable.nonEmpty,
      s"refresh rewrote every one of the ${pre.size} bucket dirs — " +
        "not incremental")

    // row-for-row equality with a full rebuild over the mutated state
    val idx2 = s"$root/gidx_full"
    GraphIndex.build(spark, dir, idx2, "vec_id", "embedding", P)
    (0 to P.rounds).foreach { r =>
      assert(graphRows(spark, idx, r) == graphRows(spark, idx2, r),
        s"round $r adjacency diverges from the full rebuild")
    }
    assert(tableRows(spark, s"$idx/order", "id", "band", "bkt") ==
      tableRows(spark, s"$idx2/order", "id", "band", "bkt"),
      "order table diverges from the full rebuild")
    assert(tableRows(spark, s"$idx/seeds", "id") ==
      tableRows(spark, s"$idx2/seeds", "id"),
      "seeds diverge from the full rebuild")
    assert(graphRows(spark, idx, P.rounds).nonEmpty)

    // the deleted node is gone from the adjacency entirely
    (0 to P.rounds).foreach { r =>
      val g = spark.read.parquet(s"$idx/graph/round=$r")
      assert(g.filter(col("src") === 53 || col("dst") === 53).count() == 0,
        s"deleted node survives in round $r")
    }

    // a refresh with NO changes is a no-op (cursor-stable, files stable)
    val v1 = Collections.manifestView(dir)
    val preNoop = listings()
    GraphIndex.refresh(spark, dir, idx, "vec_id", "embedding", v1)
    assert(listings() == preNoop, "no-change refresh rewrote files")
  }

  test("successive refreshes from a moving cursor track a growing " +
       "collection (the per-micro-batch maintenance loop)") {
    val root = SparkSpec.tempDir("graft-gidx2").toString
    val dir = s"$root/coll"
    Collections.create(dir, VectorConfig(64), buckets = 16)
    val sink = new Collections.ParquetCollectionSink(spark, dir,
      VectorConfig(64), "embedding", "vec_id", "seq")
    val emb = Tables.load(spark, sf, "embeddings")

    sink.write(emb.filter(col("vec_id") < 120).withColumn("seq", lit(0)))
    val idx = s"$root/gidx"
    var cursor = GraphIndex.build(spark, dir, idx, "vec_id", "embedding", P)

    // batch 2: 40 new points
    sink.write(emb.filter(col("vec_id").between(120, 159))
      .withColumn("seq", lit(1)))
    cursor = GraphIndex.refresh(spark, dir, idx, "vec_id", "embedding",
      cursor)
    // batch 3: 20 more new points + a deletion + a re-embed
    sink.write(emb.filter(col("vec_id").between(160, 179))
      .withColumn("seq", lit(2)))
    Collections.deleteWhere(spark, dir, col("vec_id") === 7, "vec_id")
    Collections.setVectorWhere(spark, dir, col("vec_id") === 11,
      "vec_id", "embedding",
      reverse(col("embedding")).cast("array<float>"))
    cursor = GraphIndex.refresh(spark, dir, idx, "vec_id", "embedding",
      cursor)

    val full = s"$root/gidx_full"
    GraphIndex.build(spark, dir, full, "vec_id", "embedding", P)
    (0 to P.rounds).foreach { r =>
      assert(graphRows(spark, idx, r) == graphRows(spark, full, r),
        s"round $r diverges after two chained refreshes")
    }
    assert(tableRows(spark, s"$idx/seeds", "id") ==
      tableRows(spark, s"$full/seeds", "id"))
    assert(graphRows(spark, idx, P.rounds).nonEmpty)
  }

  test("payload-only rewrite: refresh proves V = ∅ by vector diff and " +
       "touches NO graph dir (compact/set-payload must not cost a " +
       "rebuild)") {
    val root = SparkSpec.tempDir("graft-gidx3").toString
    val dir = s"$root/coll"
    Collections.create(dir, VectorConfig(64), buckets = 16)
    val sink = new Collections.ParquetCollectionSink(spark, dir,
      VectorConfig(64), "embedding", "vec_id", "seq")
    sink.write(Tables.load(spark, sf, "embeddings").limit(150)
      .withColumn("seq", lit(0)).withColumn("tag", lit("x")))
    val idx = s"$root/gidx"
    val v0 = GraphIndex.build(spark, dir, idx, "vec_id", "embedding", P)

    // payload-only mutation: rows rewrite (bucket paths change) but no
    // vector moves — the change feed reports the buckets, the vector
    // diff must prove nothing re-vectored
    Collections.setPayloadWhere(spark, dir, col("vec_id") % 5 === 0,
      "vec_id", Map("tag" -> lit("y")))

    def graphListing(): Map[String, Long] = {
      import scala.jdk.CollectionConverters._
      val walk = Files.walk(Paths.get(s"$idx/graph"))
      try walk.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString -> Files.getLastModifiedTime(f).toMillis)
        .toMap
      finally walk.close()
    }
    val pre = graphListing()
    GraphIndex.refresh(spark, dir, idx, "vec_id", "embedding", v0)
    assert(graphListing() == pre,
      "payload-only refresh rewrote graph files — the vector diff " +
        "failed to prove V = ∅")
    // and the index still equals a full rebuild over the current state
    val full = s"$root/gidx_full"
    GraphIndex.build(spark, dir, full, "vec_id", "embedding", P)
    (0 to P.rounds).foreach { r =>
      assert(graphRows(spark, idx, r) == graphRows(spark, full, r))
    }
  }

  test("a _refresh_in_progress marker at entry (crashed refresh) forces " +
       "a full rebuild instead of trusting torn on-disk state") {
    val root = SparkSpec.tempDir("graft-gidx4").toString
    val dir = s"$root/coll"
    Collections.create(dir, VectorConfig(64), buckets = 16)
    val sink = new Collections.ParquetCollectionSink(spark, dir,
      VectorConfig(64), "embedding", "vec_id", "seq")
    val emb = Tables.load(spark, sf, "embeddings")
    sink.write(emb.filter(col("vec_id") < 120).withColumn("seq", lit(0)))
    val idx = s"$root/gidx"
    val v0 = GraphIndex.build(spark, dir, idx, "vec_id", "embedding", P)
    sink.write(emb.filter(col("vec_id").between(120, 139))
      .withColumn("seq", lit(1)))

    // simulate a refresh that died mid-swap: marker present, and the
    // round-1 table torn (one bucket dir gone) — the state an
    // incremental re-run would silently diverge from
    Files.write(Paths.get(idx, "_refresh_in_progress"),
      Array.emptyByteArray)
    locally {
      import scala.jdk.CollectionConverters._
      val r1 = Paths.get(s"$idx/graph/round=1")
      val ls = Files.list(r1)
      val victim = try ls.iterator().asScala
        .filter(d => d.getFileName.toString.startsWith("src_bucket="))
        .toSeq.minBy(_.toString)
      finally ls.close()
      val walk = Files.walk(victim)
      try walk.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally walk.close()
    }

    GraphIndex.refresh(spark, dir, idx, "vec_id", "embedding", v0)
    assert(!Files.exists(Paths.get(idx, "_refresh_in_progress")),
      "marker survived recovery")
    val full = s"$root/gidx_full"
    GraphIndex.build(spark, dir, full, "vec_id", "embedding", P)
    (0 to P.rounds).foreach { r =>
      assert(graphRows(spark, idx, r) == graphRows(spark, full, r),
        s"round $r after marker recovery diverges from a full rebuild")
    }
    assert(tableRows(spark, s"$idx/order", "id", "band", "bkt") ==
      tableRows(spark, s"$full/order", "id", "band", "bkt"))
    assert(tableRows(spark, s"$idx/seeds", "id") ==
      tableRows(spark, s"$full/seeds", "id"))
  }

  test("params round-trip through _graph_index.json exactly") {
    val tmp = SparkSpec.tempDir("graft-gmeta").toString
    val dir = s"$tmp/coll"
    Collections.create(dir, VectorConfig(64), buckets = 4)
    val sink = new Collections.ParquetCollectionSink(spark, dir,
      VectorConfig(64), "embedding", "vec_id", "seq")
    sink.write(Tables.load(spark, sf, "embeddings").limit(30)
      .withColumn("seq", lit(0)))
    val idx = s"$tmp/gidx"
    GraphIndex.build(spark, dir, idx, "vec_id", "embedding", P)
    assert(GraphIndex.params(idx) == P)
  }
}
