package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Embed, Ingest}
import graft.sources.Collections
import graft.sources.Collections.VectorConfig

/** End-to-end reference parity: the complete flow a bob_vector_db user
  * runs — publish embed messages → normalize → points → embed → upsert
  * into a cosine collection → kNN query it (DataFrame and SQL). */
class E2ESpec extends AnyFunSuite with SparkSpec {

  test("embed-message → collection → kNN, end to end") {
    val dir = SparkSpec.tempDir("graft-e2e").toString + "/xfiles"

    // 1. the reference README's own example messages (FIXTURES.md)
    import spark.implicits._
    val raw = IngestQueries.fixtures.toDF("msg_id", "raw")

    // 2. normalize + explode to points (O5/O6/O13/O14)
    val points = Ingest.toPoints(Ingest.normalize(raw, "raw"))

    // 3. embed the document text (O9; 64-dim deterministic model)
    val embedded = Embed.embedText(
        points.filter(col("document").isNotNull), "id", "document",
        model = "graft/hash-64")
      .select(col("id"), col("collection"), col("document"),
        col("embedding"), lit(0).as("seq"))

    // 4. upsert into a cosine collection with dim enforcement (O12/O14)
    val sink = new Collections.ParquetCollectionSink(spark, dir,
      VectorConfig(64), "embedding", "id", "seq")
    sink.write(embedded)
    assert(Collections.config(dir) == VectorConfig(64, "cosine"))

    // 5. upsert semantics: two fixture messages share id "id1", so the
    //    collection holds one row per distinct id (same id overwrites —
    //    `qdrant_embedder.py:130-143`); rewriting the batch is idempotent
    sink.write(embedded)
    val stored = Collections.read(spark, dir)
    assert(stored.count() == embedded.dropDuplicates("id").count())
    assert(stored.count() < embedded.count()) // the id1 collision collapsed

    // 6. kNN over the collection — DataFrame path
    val q = stored.orderBy("id").select(col("embedding")).head()
      .getSeq[Double](0)
    val top3 = graft.operators.Knn.scoreAll(stored, "embedding", q)
      .orderBy(desc("score"), col("id")).limit(3)
    assert(top3.count() == 3)
    assert(top3.head().getDouble(top3.head().fieldIndex("score")) > 0.999999)

    // 7. same query through SQL with the registered native function
    graft.functions.GraftFunctions.register(spark)
    stored.createOrReplaceTempView("xfiles")
    val sqlTop = spark.sql(
      s"""SELECT id, graft_cosine(embedding, array(${q.mkString(",")})) AS score
          FROM xfiles ORDER BY score DESC, id LIMIT 3""").collect()
    assert(sqlTop.length == 3)
    assert(sqlTop.head.getDouble(1) > 0.999999)
  }

  test("STREAMING end to end: drop-dir topic → normalize → batch-embed " +
       "→ bucketed collection → search") {
    val tmp = SparkSpec.tempDir("graft-e2e-stream")
    val in = tmp.resolve("in"); Files.createDirectories(in)
    val coll = tmp.resolve("xfiles").toString
    import scala.jdk.CollectionConverters._
    Files.write(in.resolve("batch1.txt"),
      IngestQueries.fixtures.map(_._2).asJava)

    val sink = new Collections.ParquetCollectionSink(spark, coll,
      VectorConfig(64), "embedding", "id", "seq")
    val stream = graft.streaming.Stream.upsertSink(
      graft.streaming.Stream.pointsStream(spark, in.toString),
      tmp.resolve("ckpt").toString) { (batch, _) =>
      // the reference's per-message flow, per micro-batch: embed through
      // the batch-inference boundary, then upsert into the collection
      val embedded = Embed.embedTextBatch(
          batch.filter(col("document").isNotNull), "document",
          model = "graft/hash-64")
        .select(col("id"), col("collection"), col("document"),
          col("embedding"), lit(0).as("seq"))
      sink.write(embedded)
    }
    graft.streaming.Stream.runAvailableNow(stream)

    val stored = Collections.read(spark, coll)
    assert(stored.count() > 0)
    assert(stored.select("id").distinct().count() == stored.count())
    // and the collection answers a search with itself as best match
    val q = stored.orderBy("id").select(col("embedding")).head()
      .getSeq[Double](0)
    val hits = Collections.search(spark, coll, "embedding", "id", q, 3)
      .collect()
    assert(hits.length == 3)
    assert(hits.head.getDouble(hits.head.fieldIndex("score")) > 0.999999)
  }

  test("SQL registry misuse fails cleanly (arity, null tokens, topk types)") {
    graft.functions.GraftFunctions.register(spark)
    // wrong arity: a clean error from the registry, not an index crash
    val e = intercept[Exception] { spark.sql("SELECT graft_cosine(array(1.0))") }
    assert(e.getMessage.contains("graft_cosine expects 2 argument(s)"),
      s"unexpected: ${e.getMessage}")
    // a token array WITH a null element gets defined semantics (null
    // skipped, like array_join) instead of an executor NPE
    val sig = spark.sql(
      "SELECT graft_tokens_minhash(array('a', CAST(NULL AS STRING), 'b'))")
      .head().getSeq[Long](0)
    val sigNoNull = spark.sql("SELECT graft_tokens_minhash(array('a', 'b'))")
      .head().getSeq[Long](0)
    assert(sig == sigNoNull && sig.length == 16)
    // TopKByScore type misuse fails at ANALYSIS, not execution
    import org.apache.spark.sql.functions._
    val df = Tables.load(spark, sf, "embeddings").limit(5)
      .select(lit(1.0).as("s"), col("vec_id").cast("int").as("i"))
    val bad = intercept[Exception] {
      df.agg(graft.plans.TopKByScore.topK(col("s"), col("i"), 3)).collect()
    }
    assert(bad.getMessage.toLowerCase.contains("bigint") ||
           bad.getMessage.contains("DATATYPE_MISMATCH"),
      s"not an analysis-time type error: ${bad.getMessage}")
  }

  test("SQL registry: text/media kernels callable from spark.sql") {
    graft.functions.GraftFunctions.register(spark)
    val sh = spark.sql(
      "SELECT graft_shingles(array('a','b','c','d'), 3)").head().getSeq[String](0)
    assert(sh == Seq("a b c", "b c d"))
    val ch = spark.sql(
      "SELECT graft_chunks(array('a','b','c'), 2, 2)").head().getSeq[String](0)
    assert(ch == Seq("a b", "c"))
    val gs = spark.sql(
      "SELECT graft_gram_stats(array('x','x','x','x'), 3)").head().getStruct(0)
    assert(gs.getLong(0) == 2 && gs.getLong(1) == 1) // 2 trigrams, 1 distinct
    assert(spark.sql("SELECT graft_byte_sum(CAST('ab' AS BINARY))")
      .head().getLong(0) == 97L + 98L)
    assert(spark.sql("SELECT graft_ahash_bands(CAST('abcd' AS BINARY))")
      .head().getSeq[Long](0).length == 4)
    assert(spark.sql("SELECT size(graft_winnow('abcdefghij', 5, 4))")
      .head().getInt(0) > 0)
    assert(spark.sql("SELECT graft_min_gram('abcdefghij', 5)")
      .head().getLong(0) >= 0L)
    val ts = spark.sql(
      "SELECT graft_term_stats(array('a','b','a'), 'a', 'c')")
      .head().getStruct(0)
    assert(ts.getLong(0) == 3 && ts.getSeq[Long](1) == Seq(2L, 0L))
    val e3 = intercept[Exception] {
      spark.sql("SELECT graft_term_stats(array('a'), lower('B'))")
    }
    assert(e3.getMessage.contains("string literal"),
      s"unexpected: ${e3.getMessage}")
    // structural params must be literals — clean error otherwise
    val e = intercept[Exception] {
      spark.sql("SELECT graft_shingles(array('a'), CAST(NULL AS INT))")
    }
    assert(e.getMessage.contains("integer literal"),
      s"unexpected: ${e.getMessage}")
    // ... and in-range: a zero window is a clean construction-time error,
    // not an executor ArrayIndexOutOfBounds
    val e2 = intercept[Exception] {
      spark.sql("SELECT graft_winnow('abcdef', 5, 0)")
    }
    assert(e2.getMessage.contains("w > 0"), s"unexpected: ${e2.getMessage}")
  }
}
