package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Ingest
import graft.streaming.Stream

/** Structured Streaming wiring tests: bounded streams (AvailableNow) must
  * agree exactly with their batch twins. */
class StreamSpec extends AnyFunSuite with SparkSpec {

  test("file-stream ingest (normalize→points→upsert) matches batch run") {
    val tmp = SparkSpec.tempDir("graft-stream")
    val in = tmp.resolve("in"); Files.createDirectories(in)
    Files.write(in.resolve("batch1.txt"),
      IngestQueries.fixtures.map(_._2).asJava)

    val pts = Stream.pointsStream(spark, in.toString)
    assert(pts.isStreaming)
    var streamedRows = 0L
    val sink = Stream.upsertSink(pts, tmp.resolve("ckpt").toString) {
      (batch, _) => streamedRows += batch.count()
    }
    Stream.runAvailableNow(sink)

    val batchPts = Ingest.toPoints(Ingest.normalize(
      spark.read.text(in.toString).withColumnRenamed("value", "raw"), "raw"))
    assert(streamedRows == batchPts.dropDuplicates("id").count())
    assert(streamedRows > 0)
  }

  test("upsertSink dropOnError=false propagates sink failures " +
       "(at-least-once); default drops and continues") {
    val tmp = SparkSpec.tempDir("graft-stream-err")
    val in = tmp.resolve("in"); Files.createDirectories(in)
    Files.write(in.resolve("b.txt"), IngestQueries.fixtures.map(_._2).asJava)

    // strict mode: the failure must reach the caller (checkpoint unset)
    val strict = Stream.upsertSink(Stream.pointsStream(spark, in.toString),
      tmp.resolve("ckpt1").toString, dropOnError = false) { (_, _) =>
      throw new RuntimeException("sink down")
    }
    val e = intercept[Exception] { Stream.runAvailableNow(strict) }
    assert(e.getMessage.contains("sink down") ||
      Option(e.getCause).exists(_.getMessage.contains("sink down")))

    // contained mode (the reference's O19): same failure, stream finishes
    var calls = 0
    val contained = Stream.upsertSink(
      Stream.pointsStream(spark, in.toString),
      tmp.resolve("ckpt2").toString) { (_, _) =>
      calls += 1; throw new RuntimeException("sink down")
    }
    Stream.runAvailableNow(contained) // must NOT throw
    assert(calls > 0)
  }

  test("flatMapGroupsWithState sessionization matches the batch twin") {
    val dir = SparkSpec.tempDir("graft-sess")
    Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(dir.toString).schema
    val gapUs = 1800000000L
    val stream = Stream.sessionizeStream(
      spark.readStream.schema(schema).parquet(dir.toString), gapUs)
    val q = stream.writeStream.format("memory").queryName("sess")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("sess")
      .select("userId", "startUs", "endUs", "nEvents")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet

    // batch twin (q_sessionize logic), minus each user's LAST session —
    // on a bounded stream that session never times out before stream end
    val batch = StreamingQueries.qSessionize.fn(spark, sf)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
    val closedBatch = batch
      .withColumn("last_idx", max("session_idx").over(w))
      .filter(col("session_idx") < col("last_idx"))
      .select("user_id", "start_us", "end_us", "n_events")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet

    assert(closedBatch.subsetOf(streamed),
      s"missing ${closedBatch.diff(streamed).take(3)}")
    // nothing extra beyond batch sessions (open or closed)
    val allBatch = batch.select("user_id", "start_us", "end_us", "n_events")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(streamed.subsetOf(allBatch), s"extra ${streamed.diff(allBatch).take(3)}")
    assert(streamed.nonEmpty)
  }

  test("sessionization with end-of-stream flush equals the batch twin " +
       "EXACTLY (no still-open carve-out)") {
    val dir = SparkSpec.tempDir("graft-sess-flush")
    // materialize CANONICAL (epoch-ns BIGINT ts) events: writeSessionFlush
    // appends a BIGINT-ts punctuation file to the same drop directory, so
    // the directory's physical ts type must be homogeneous
    Tables.load(spark, sf, "events")
      .coalesce(1).write.mode("overwrite").parquet(dir.toString)
    val gapUs = 1800000000L
    // punctuation: one sentinel past max_ts + gap + watermark delay —
    // after it, every open session's timeout is behind the watermark
    val maxTsNs = spark.read.parquet(dir.toString)
      .agg(max("ts")).head().getLong(0)
    Stream.writeSessionFlush(spark, dir.toString,
      maxTsNs + gapUs * 1000L + 3600L * 2 * 1000000000L)

    val schema = spark.read.parquet(dir.toString).schema
    val stream = Stream.sessionizeStream(
      spark.readStream.schema(schema).parquet(dir.toString), gapUs)
    val q = stream.writeStream.format("memory").queryName("sessflush")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("sessflush")
      .select("userId", "startUs", "endUs", "nEvents")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet

    val allBatch = StreamingQueries.qSessionize.fn(spark, sf)
      .select("user_id", "start_us", "end_us", "n_events")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    val missing = allBatch.diff(streamed)
    val extra = streamed.diff(allBatch)
    assert(missing.isEmpty && extra.isEmpty,
      s"${missing.size} missing (${missing.take(3)}), " +
        s"${extra.size} extra (${extra.take(3)}), " +
        s"streamed=${streamed.size} batch=${allBatch.size}")
    assert(streamed.exists(_._1 != Stream.FlushUserId) && streamed.nonEmpty)
  }

  test("sessionize: cross-batch early late event forms its own session") {
    import spark.implicits._
    val dir = SparkSpec.tempDir("graft-late")
    val gapUs = 1800000000L // 30 min
    def write(name: String, rows: Seq[(Long, Long)]): Unit = {
      val tmp = SparkSpec.tempDir("graft-late-w").resolve("out")
      rows.map { case (id, tsSec) =>
        (id, tsSec * 1000000000L, 1L, "e", 1.0, "{}")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.parquet(tmp.toString)
      val part = Files.list(tmp).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      Files.move(part, dir.resolve(name))
    }
    // main session at t=10000..10100s; a late event at t=7000s arrives in
    // a separate file: more than gap (1800s) before the session start,
    // inside the 1h watermark — must close immediately as its own session
    write("a_main.parquet", Seq((1L, 10000L), (2L, 10100L)))
    write("b_late.parquet", Seq((3L, 7000L)))

    val schema = spark.read.parquet(dir.toString).schema
    val events = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1) // force separate micro-batches
      .parquet(dir.toString)
    val q = Stream.sessionizeStream(events, gapUs)
      .writeStream.format("memory").queryName("latesess")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val closed = spark.table("latesess")
      .select("startUs", "endUs", "nEvents")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // whichever file order the source picked, t=7000s closes as its own
    // single-event session (the open 10000..10100 session stays in state)
    assert(closed.contains((7000000000L, 7000000000L, 1L)), s"got $closed")
    assert(!closed.exists(s => s._1 == 7000000000L && s._3 > 1),
      "late event must NOT merge into the distant session")
  }

  test("streaming hourly event rollup totals match the batch table") {
    // stream from a drop-directory (the realistic shape): copy the fixture in
    val dir = SparkSpec.tempDir("graft-events")
    Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    val q = Stream.eventsHourlyStream(spark, dir.toString)
      .writeStream.format("memory").queryName("evh")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamedTotal = spark.table("evh").agg(sum("n")).head().getLong(0)
    val batchTotal = Tables.load(spark, sf, "events").count()
    assert(streamedTotal == batchTotal)
    // bucket count matches the declared batch query's distinct hour buckets
    val streamedBuckets = spark.table("evh").count()
    val batchBuckets = Tables.load(spark, sf, "events")
      .groupBy(col("event_type"),
        expr("ts DIV 3600000000000").as("hb"))
      .count().count()
    assert(streamedBuckets == batchBuckets)
  }

  test("streaming near-dup (stateful band buckets) matches the batch " +
       "keep-first twin") {
    val dir = SparkSpec.tempDir("graft-neardup")
    // id-ordered bounded corpus with planted exact dups (id+1000)
    val d = Tables.load(spark, sf, "documents").select("doc_id", "text")
      .limit(40)
    d.unionAll(d.select((col("doc_id") + 1000).as("doc_id"), col("text")))
      .coalesce(1).write.mode("overwrite").parquet(dir.toString)
    val schema = spark.read.parquet(dir.toString).schema

    val hits = Stream.nearDupStream(
      spark.readStream.schema(schema).parquet(dir.toString))
    val q = hits.writeStream.format("memory").queryName("neardup")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // reduce per-band hits to min(dupOf) per doc — the sink-side agg
    val streamed = spark.table("neardup")
      .groupBy("docId").agg(min("dupOf").as("dupOf"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    val bands = graft.operators.Dedup.lshBandsFused(
      spark.read.parquet(dir.toString), "doc_id", "text", 16, 3, 4)
    val batch = bands.select(col("band"), col("band_sig"), col("doc_id"))
      .join(bands.select(col("band"), col("band_sig"),
        col("doc_id").as("earlier")), Seq("band", "band_sig"))
      .filter(col("earlier") < col("doc_id"))
      .groupBy("doc_id").agg(min("earlier").as("dup_of"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    assert(streamed == batch,
      s"streamed ${streamed.size} hits != batch ${batch.size}")
    // every planted dup was caught, keeper no later than its original
    // (an incidental band-mate with a smaller id may win the min)
    d.select("doc_id").collect().map(_.getLong(0)).foreach { id =>
      assert(streamed.contains(id + 1000) && streamed(id + 1000) <= id)
    }
  }

  test("end-to-end E1 flow: stream → normalize → embed → manifest " +
       "collection upsert → search") {
    // the reference's primary path (embed topic → qdrant collection,
    // SURVEY §3 E1) on the engine: a file stream of embed messages feeds
    // the manifest-committed collection via foreachBatch, and the
    // resulting collection answers a cosine search
    val tmp = SparkSpec.tempDir("graft-e1")
    val in = tmp.resolve("in"); Files.createDirectories(in)
    Files.write(in.resolve("batch1.txt"),
      IngestQueries.fixtures.map(_._2).asJava)
    val collDir = tmp.resolve("coll").toString

    import graft.operators.Embed
    val dim = Embed.dimOf(Embed.defaultTextModel)
    val pts = Stream.pointsStream(spark, in.toString)
    val sink = new graft.sources.Collections.ParquetCollectionSink(
      spark, collDir, graft.sources.Collections.VectorConfig(dim),
      "embedding", "id", "__seq")
    // embedding runs INSIDE foreachBatch — the reference's shape exactly
    // (batch-embed the delivered documents, then upload,
    // `qdrant_embedder.py:56-62`); as a plan-level streaming transform
    // the per-id aggregation would need a watermark
    Stream.runAvailableNow(
      Stream.upsertSink(pts, tmp.resolve("ckpt").toString) { (batch, _) =>
        sink.write(Embed.embedText(batch, "id", "document")
          .withColumn("__seq", lit(0L)))
      })

    val stored = graft.sources.Collections.read(spark, collDir)
    val batchTwin = Embed.embedText(
      Ingest.toPoints(Ingest.normalize(
        spark.read.text(in.toString).withColumnRenamed("value", "raw"),
        "raw")), "id", "document")
      .dropDuplicates("id")
    // the sink's dim gate quarantines points whose embedding is null or
    // off-dim (a fixture message with no document) — the twin must apply
    // the same validate() semantics
    val validTwin = batchTwin.filter(
      graft.functions.VectorOps.hasDim(col("embedding"), dim))
    assert(stored.count() == validTwin.count() && stored.count() > 0)
    assert(stored.count() < batchTwin.count(),
      "fixture should exercise the quarantine path")
    assert(Files.exists(tmp.resolve("coll/_manifest.json")))

    // the collection answers a search: a stored point's own vector must
    // be its best match (cosine self-similarity = 1)
    val probe = stored.orderBy("id").limit(1)
      .select(col("id"), col("embedding").cast("array<double>"))
      .head()
    val hits = graft.sources.Collections.search(spark, collDir,
      "embedding", "id", probe.getSeq[Double](1), 3).collect()
    assert(hits.nonEmpty &&
      hits.head.getString(hits.head.fieldIndex("id")) == probe.getString(0))
  }

  test("streaming upserts keep the incremental IVF index AND the " +
       "quantized-codes sidecar fresh: change-feed refresh per " +
       "micro-batch equals a full rebuild at the end") {
    import graft.sources.{Collections, IvfIndex, QuantIndex}
    import spark.implicits._
    val tmp = SparkSpec.tempDir("graft-sivf")
    val in = tmp.resolve("in"); Files.createDirectories(in)
    // two files + maxFilesPerTrigger=1 → two micro-batches, so the index
    // is refreshed INCREMENTALLY at least twice, never fully rebuilt
    val (f1, f2) = IngestQueries.fixtures.map(_._2).splitAt(4)
    Files.write(in.resolve("b1.txt"), f1.asJava)
    Files.write(in.resolve("b2.txt"), f2.asJava)

    import graft.operators.{Embed, Ingest}
    val dim = Embed.dimOf(Embed.defaultTextModel)
    val collDir = tmp.resolve("coll").toString
    val idxDir = tmp.resolve("idx").toString
    val sink = new Collections.ParquetCollectionSink(
      spark, collDir, Collections.VectorConfig(dim), "embedding", "id",
      "__seq")
    val cents = Seq(
      (0L, Seq.tabulate(dim)(i => if (i == 0) 1.0 else 0.0)),
      (1L, Seq.tabulate(dim)(i => if (i == 1) 1.0 else 0.0)))
      .toDF("cid", "cv")
    val quantDir = tmp.resolve("quant").toString
    var cursor = Collections.ManifestView(0, Map.empty)
    var qCursor = Collections.ManifestView(0, Map.empty)
    var batches = 0
    val raw = spark.readStream.option("maxFilesPerTrigger", 1)
      .text(in.toString).withColumnRenamed("value", "raw")
    val pts = Ingest.toPoints(Ingest.normalize(raw, "raw"))
    Stream.runAvailableNow(
      Stream.upsertSink(pts, tmp.resolve("ckpt").toString) { (batch, _) =>
        sink.write(Embed.embedText(batch, "id", "document")
          .withColumn("__seq", lit(0L)))
        cursor = IvfIndex.refresh(spark, collDir, idxDir, "id",
          "embedding", cents, "cid", "cv", cursor)
        // first batch creates the sidecar, later batches maintain it —
        // the per-micro-batch loop every derived layout shares
        if (batches == 0)
          qCursor = QuantIndex.buildFromCollection(spark, collDir,
            quantDir, "id", "embedding", dim)
        else
          qCursor = QuantIndex.refresh(spark, collDir, quantDir, qCursor)
        batches += 1
      })
    assert(batches >= 2, s"expected >=2 micro-batches, got $batches")

    val full = tmp.resolve("idx_full").toString
    IvfIndex.build(spark, collDir, full, "id", "embedding",
      cents, "cid", "cv")
    def rows(p: String): Seq[(String, Long)] =
      spark.read.parquet(p)
        .select(col("id"), col("cluster").cast("long"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
    assert(rows(idxDir) == rows(full),
      "per-batch incremental index diverges from a full rebuild")
    assert(rows(idxDir).nonEmpty)

    val qFull = tmp.resolve("quant_full").toString
    QuantIndex.build(Collections.read(spark, collDir), "id", "embedding",
      dim, qFull, Collections.numBuckets(collDir))
    def qRows(p: String): Seq[String] =
      spark.read.parquet(p).drop("src_bucket")
        .collect()
        .map(r => (r.getString(r.fieldIndex("id")),
          r.getSeq[Long](r.fieldIndex("bq")),
          r.getSeq[Int](r.fieldIndex("codes"))).toString)
        .toSeq.sorted
    assert(qRows(quantDir) == qRows(qFull),
      "per-batch quantized sidecar diverges from a full rebuild")
    assert(qRows(quantDir).nonEmpty)
  }

  test("streaming upserts keep EVERY derived vector layout fresh: PQ " +
       "codes, IVF+PQ, and the graph index refresh per micro-batch and " +
       "equal a full rebuild after a mixed insert/re-vector sequence") {
    import graft.sources.{Collections, PqIndex, IvfPqIndex, GraphIndex}
    import graft.sources.Collections.VectorConfig
    import graft.operators.{Ann, Pq}
    import spark.implicits._
    val tmp = SparkSpec.tempDir("graft-slayouts")
    val in = tmp.resolve("in"); Files.createDirectories(in)
    val emb = Tables.load(spark, sf, "embeddings").limit(60)
      .select(col("vec_id").cast("long").as("id"), col("embedding"))
    // batch 1: ids 0–39; batch 2: ids 0–9 RE-VECTORED (reversed — a
    // direction change, so codes/cells/edges all move) + ids 40–59 new —
    // the mixed sequence every layout's refresh must absorb
    val b1 = emb.filter(col("id") < 40)
    val b2 = emb.filter(col("id") < 10)
      .withColumn("embedding", reverse(col("embedding"))
        .cast("array<float>"))
      .unionAll(emb.filter(col("id") >= 40))
    b1.coalesce(1).write.parquet(in.resolve("b1").toString)
    b2.coalesce(1).write.parquet(in.resolve("b2").toString)

    val collDir = tmp.resolve("coll").toString
    Collections.create(collDir, VectorConfig(64), buckets = 8)
    val sink = new Collections.ParquetCollectionSink(spark, collDir,
      VectorConfig(64), "embedding", "id", "__seq")
    val pqDir = tmp.resolve("pq").toString
    val ivfpqDir = tmp.resolve("ivfpq").toString
    val graphDir = tmp.resolve("graph").toString
    val cents = Seq(
      (0L, Seq.tabulate(64)(i => if (i == 0) 1.0 else 0.0)),
      (1L, Seq.tabulate(64)(i => if (i == 1) 1.0 else 0.0)))
      .toDF("cid", "cv")
    val gp = GraphIndex.Params(bands = 2, planesPerBand = 4, w = 3,
      m = 4, rounds = 2, planes = Ann.hyperplanes(8, 64))
    var pqCur = Collections.ManifestView(0, Map.empty)
    var ivfpqCur = Collections.ManifestView(0, Map.empty)
    var gCur = Collections.ManifestView(0, Map.empty)
    var batches = 0
    val pts = spark.readStream.schema(b1.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$in/*")
    Stream.runAvailableNow(
      Stream.upsertSink(pts, tmp.resolve("ckpt").toString) { (batch, _) =>
        sink.write(batch.withColumn("__seq", lit(batches.toLong)))
        if (batches == 0) {
          // first batch trains + builds; the artifacts PIN — later
          // batches refresh with them (the layouts' pinned-artifact rule)
          val cbs = Pq.trainCodebooks(Collections.read(spark, collDir),
            "id", "embedding", m = 8, subDim = 8, k = 8, iters = 1)
          pqCur = PqIndex.buildFromCollection(spark, collDir, pqDir,
            "id", "embedding", cbs, subDim = 8)
          ivfpqCur = IvfPqIndex.buildFromCollection(spark, collDir,
            ivfpqDir, "id", "embedding", cents, cbs, subDim = 8)
          gCur = GraphIndex.build(spark, collDir, graphDir, "id",
            "embedding", gp)
        } else {
          pqCur = PqIndex.refresh(spark, collDir, pqDir, pqCur)
          ivfpqCur = IvfPqIndex.refresh(spark, collDir, ivfpqDir,
            ivfpqCur)
          gCur = GraphIndex.refresh(spark, collDir, graphDir, "id",
            "embedding", gCur)
        }
        batches += 1
      })
    assert(batches >= 2, s"expected >=2 micro-batches, got $batches")

    // full rebuilds over the FINAL collection state with the SAME pinned
    // artifacts (codebooks read back from the maintained layouts)
    def rows(p: String, cols: String*): Seq[String] =
      spark.read.parquet(p).select(cols.map(col): _*)
        .collect().map(_.toSeq.toString).toSeq.sorted
    val coll = Collections.read(spark, collDir)
    val nb = Collections.numBuckets(collDir)

    val pqFull = tmp.resolve("pq_full").toString
    PqIndex.build(coll, "id", "embedding",
      PqIndex.codebooksOf(spark, pqDir), subDim = 8, pqFull, nb)
    assert(rows(pqDir, "id", "codes") == rows(pqFull, "id", "codes"),
      "per-batch PQ sidecar diverges from a full rebuild")

    val ivfpqFull = tmp.resolve("ivfpq_full").toString
    IvfPqIndex.build(coll, "id", "embedding", cents,
      IvfPqIndex.codebooksOf(spark, ivfpqDir), subDim = 8, ivfpqFull, nb)
    assert(rows(ivfpqDir, "id", "codes", "cluster") ==
        rows(ivfpqFull, "id", "codes", "cluster"),
      "per-batch IVF+PQ layout diverges from a full rebuild")

    val graphFull = tmp.resolve("graph_full").toString
    GraphIndex.build(spark, collDir, graphFull, "id", "embedding", gp)
    (0 to gp.rounds).foreach { r =>
      assert(rows(s"$graphDir/graph/round=$r",
          "src", "dst", "score_micro", "rnk") ==
        rows(s"$graphFull/graph/round=$r",
          "src", "dst", "score_micro", "rnk"),
        s"per-batch graph round $r diverges from a full rebuild")
    }
    assert(rows(s"$graphDir/seeds", "id") == rows(s"$graphFull/seeds", "id"),
      "per-batch graph seeds diverge from a full rebuild")

    // the re-vectored points actually changed their codes (the batch 2
    // update was absorbed, not skipped)
    assert(rows(pqDir, "id", "codes").nonEmpty)
    val reVec = spark.read.parquet(pqDir).filter(col("id") < 10)
      .select("id", "codes").collect().map(_.toSeq.toString).toSeq.sorted
    val b1Codes = {
      val d = tmp.resolve("pq_b1").toString
      PqIndex.build(b1, "id", "embedding",
        PqIndex.codebooksOf(spark, pqDir), subDim = 8, d, nb)
      spark.read.parquet(d).filter(col("id") < 10)
        .select("id", "codes").collect().map(_.toSeq.toString).toSeq.sorted
    }
    assert(reVec != b1Codes,
      "re-vectored points kept their batch-1 codes — update not absorbed")
  }

  test("streaming dedup gate: each micro-batch rejects corpus dups and " +
       "within-batch dups, appends survivors, and the next batch " +
       "deduplicates against them; final index equals a full rebuild") {
    import graft.sources.DedupIndex
    import spark.implicits._
    val tmp = SparkSpec.tempDir("graft-sdedup")
    val in = tmp.resolve("in"); Files.createDirectories(in)
    val idxDir = tmp.resolve("idx").toString
    val outDir = tmp.resolve("kept").toString

    val corpusText =
      "alpha bravo charlie delta echo foxtrot golf hotel india juliett"
    val novelA =
      "kilo lima mike november oscar papa quebec romeo sierra tango"
    val novelB =
      "uniform victor whiskey xray yankee zulu one two three four"
    val corpus = Seq((1L, corpusText),
      (2L, "five six seven eight nine ten eleven twelve thirteen fourteen"))
      .toDF("doc_id", "text")
    DedupIndex.build(corpus, "doc_id", "text", idxDir)

    // two files + maxFilesPerTrigger=1 → two ordered micro-batches:
    //   b1: 101 = corpus dup (reject), 102 = novel A (keep),
    //       103 = intra-batch copy of A (reject — keep-lowest)
    //   b2: 201 = copy of the doc KEPT in b1 (reject — proves the
    //       append), 202 = novel B (keep)
    Files.write(in.resolve("b1.txt"), Seq(
      s"101|$corpusText", s"102|$novelA", s"103|$novelA").asJava)
    Files.write(in.resolve("b2.txt"), Seq(
      s"201|$novelA", s"202|$novelB").asJava)

    val docs = spark.readStream.option("maxFilesPerTrigger", 1)
      .text(in.toString)
      .select(split(col("value"), "\\|").getItem(0).cast("long")
        .as("doc_id"),
        split(col("value"), "\\|").getItem(1).as("text"))
    Stream.runAvailableNow(docs.writeStream
      .option("checkpointLocation", tmp.resolve("ckpt").toString)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        DedupIndex.gateAppend(spark, idxDir, batch, "doc_id", "text",
            batchId = Some(id))
          .write.mode("append").parquet(outDir)
        ()
      })

    val kept = spark.read.parquet(outDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(102L, 202L), s"gate kept $kept")

    // maintenance invariant: the appended index equals a fresh build
    // over corpus + kept docs (the per-batch-equals-rebuild law every
    // derived layout holds)
    val fullDir = tmp.resolve("idx_full").toString
    DedupIndex.build(
      corpus.unionAll(Seq((102L, novelA), (202L, novelB))
        .toDF("doc_id", "text")),
      "doc_id", "text", fullDir)
    def bandRows(p: String): Set[String] =
      spark.read.parquet(p)
        .select(col("doc_id"), col("band").cast("int"), col("band_sig"),
          col("sbucket").cast("int"))
        .collect().map(_.toSeq.toString).toSet
    assert(bandRows(idxDir) == bandRows(fullDir),
      "gated index diverges from a full rebuild over corpus + kept")
    // and the gated content serves: a probe of novel A finds 102 only
    val hit = DedupIndex.lookup(spark, idxDir, novelA)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hit == Map(102L -> 4L), s"post-stream lookup got $hit")
  }

  test("streaming SEMANTIC dedup gate: the embedded-content " +
       "dedup-before-store loop through foreachBatch — corpus and " +
       "within-batch rejects per micro-batch, survivors appended under " +
       "the pinned centroids, next batch dedups against them; final " +
       "index equals a full rebuild") {
    import graft.sources.SemanticDedupIndex
    import spark.implicits._
    val tmp = SparkSpec.tempDir("graft-semgate-stream")
    val in = tmp.resolve("in").toString
    val idxDir = tmp.resolve("idx").toString
    val outDir = tmp.resolve("kept").toString

    def vecOf(id: Long): Seq[Double] =
      Tables.load(spark, sf, "embeddings").filter(col("vec_id") === id)
        .select(col("embedding").cast("array<double>"))
        .head().getSeq[Double](0)
    val (v1, v2, v3, v4) = (vecOf(1L), vecOf(2L), vecOf(3L), vecOf(4L))
    def nearCopy(v: Seq[Double]): Seq[Double] = (v.head + 1e-4) +: v.tail
    val corpus = Seq((1L, v1), (2L, v2)).toDF("vec_id", "embedding")
    SemanticDedupIndex.build(spark, corpus, "vec_id", "embedding",
      idxDir, AnnQueries.trainedCentroids(spark, sf, 8, 2))

    // two parquet files + maxFilesPerTrigger=1 → two ordered batches:
    //   b1: 101 = near-copy of corpus 1 (reject), 102 = novel (keep),
    //       103 = near-copy of 102's vector (reject — keep-lowest)
    //   b2: 201 = near-copy of the point KEPT in b1 (reject — proves
    //       the append), 202 = novel (keep)
    Seq((101L, nearCopy(v1)), (102L, v3), (103L, nearCopy(v3)))
      .toDF("vec_id", "embedding").coalesce(1)
      .write.mode("append").parquet(in)
    Seq((201L, nearCopy(v3)), (202L, v4))
      .toDF("vec_id", "embedding").coalesce(1)
      .write.mode("append").parquet(in)

    val pts = spark.readStream
      .schema("vec_id LONG, embedding ARRAY<DOUBLE>")
      .option("maxFilesPerTrigger", 1)
      .parquet(in)
    Stream.runAvailableNow(pts.writeStream
      .option("checkpointLocation", tmp.resolve("ckpt").toString)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        SemanticDedupIndex.gateAppend(spark, idxDir, batch, "vec_id",
            "embedding", 900000L, batchId = Some(id))
          .write.mode("append").parquet(outDir)
        ()
      })

    val kept = spark.read.parquet(outDir)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(102L, 202L), s"semantic gate kept $kept")

    // the per-batch-equals-rebuild law under the SAME pinned artifacts
    val fullDir = tmp.resolve("idx_full").toString
    SemanticDedupIndex.build(spark,
      corpus.unionAll(Seq((102L, v3), (202L, v4))
        .toDF("vec_id", "embedding")),
      "vec_id", "embedding", fullDir,
      AnnQueries.trainedCentroids(spark, sf, 8, 2))
    def cellRows(p: String): Set[(Long, Long)] =
      spark.read.parquet(p)
        .select(col("vec_id"), col("cluster").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cellRows(idxDir) == cellRows(fullDir),
      "gated semantic index diverges from a full rebuild over " +
        "corpus + kept")
    // and the gated content serves: a probe of the kept vector finds
    // 102 only (103/201 were rejected)
    val hit = SemanticDedupIndex.lookup(spark, idxDir, v3, 999999L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hit == Map(102L -> 1000000L), s"post-stream lookup got $hit")
  }

  test("INDEXED curation loop, streamed: two micro-batches through " +
       "lexical gateAppend → semantic gateAppend → trained-classifier " +
       "gate equal the one-batch pure-gate composition (the gateAppend " +
       "law, composed), per-stage accounting matches, and both gated " +
       "layouts equal full rebuilds over corpus + their survivors") {
    import graft.sources.{DedupIndex, SemanticDedupIndex}
    import spark.implicits._
    val tmp = SparkSpec.tempDir("graft-curate-stream")
    val lexIdx = tmp.resolve("lex").toString
    val semIdx = tmp.resolve("sem").toString
    val outDir = tmp.resolve("curated").toString

    def vecOf(id: Long): Seq[Double] =
      Tables.load(spark, sf, "embeddings").filter(col("vec_id") === id)
        .select(col("embedding").cast("array<double>"))
        .head().getSeq[Double](0)
    def nearCopy(v: Seq[Double]): Seq[Double] = (v.head + 1e-4) +: v.tail
    val (v1, v2, v3, v4) = (vecOf(1L), vecOf(2L), vecOf(3L), vecOf(4L))

    val cText1 =
      "alpha bravo charlie delta echo foxtrot golf hotel india juliett"
    val cText2 =
      "five six seven eight nine ten eleven twelve thirteen fourteen"
    val tA = "the small cat and the old dog are in the big house"
    val tB = "a quick brown fox jumps over the lazy sleeping dog today"
    val tC = "an old green bird and a young blue fish near the wide river"
    val tD = "the warm sun is over the cold hill and the wet field"

    DedupIndex.build(Seq((1L, cText1), (2L, cText2))
      .toDF("item_id", "text"), "item_id", "text", lexIdx)
    SemanticDedupIndex.build(spark,
      Seq((1L, v1), (2L, v2)).toDF("item_id", "v"), "item_id", "v",
      semIdx, AnnQueries.trainedCentroids(spark, sf, 8, 2))
    val weights = TextQueries.trainedWeights(spark, sf)
    def score(tk: org.apache.spark.sql.Column) =
      org.apache.spark.sql.GraftSqlBridge.column(
        graft.functions.TokensNgramScoreExpr(
          org.apache.spark.sql.GraftSqlBridge.expression(tk), weights))

    //   b1: 101 = corpus text dup (LEXICAL reject)
    //       102 = novel text, near-copy of corpus v1 (SEMANTIC reject)
    //       103 = novel text + novel vector (reaches the classifier)
    //       104 = intra-batch copy of 103's text (lexical keep-lowest)
    //   b2: 201 = copy of 103's text (lexical reject — proves the
    //             lexical APPEND of b1's survivor)
    //       202 = novel text, near-copy of 103's vector (semantic
    //             reject — proves the semantic APPEND)
    //       203 = novel text + novel vector (reaches the classifier)
    val b1 = Seq((101L, cText1, vecOf(5L)), (102L, tA, nearCopy(v1)),
      (103L, tB, v3), (104L, tB, vecOf(6L)))
    val b2 = Seq((201L, tB, vecOf(7L)), (202L, tC, nearCopy(v3)),
      (203L, tD, v4))
    val in = tmp.resolve("in").toString
    b1.toDF("item_id", "text", "v").coalesce(1)
      .write.mode("append").parquet(in)
    b2.toDF("item_id", "text", "v").coalesce(1)
      .write.mode("append").parquet(in)

    // per-stage accounting, accumulated across batches (local mode —
    // foreachBatch runs on the driver)
    val acct = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Long, Long)] // batch, in, k1, k2, k3
    val items = spark.readStream
      .schema("item_id LONG, text STRING, v ARRAY<DOUBLE>")
      .option("maxFilesPerTrigger", 1)
      .parquet(in)
    Stream.runAvailableNow(items.writeStream
      .option("checkpointLocation", tmp.resolve("ckpt").toString)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        val kept1 = DedupIndex.gateAppend(spark, lexIdx,
          batch.select("item_id", "text"), "item_id", "text",
          batchId = Some(id))
        val kept2 = SemanticDedupIndex.gateAppend(spark, semIdx,
          batch.join(kept1.select("item_id"), "item_id")
            .select("item_id", "v"),
          "item_id", "v", 900000L, batchId = Some(id))
        val kept3 = batch
          .join(kept2.select("item_id"), "item_id")
          .filter(score(graft.operators.Dedup.tokens(col("text"))) > 0)
          .select("item_id", "text")
        kept3.write.mode("append").parquet(outDir)
        acct += ((id, batch.count(), kept1.count(), kept2.count(),
          spark.read.parquet(outDir).count()))
        ()
      })

    val curated = spark.read.parquet(outDir)
      .select("item_id").collect().map(_.getLong(0)).toSet

    // the one-batch PURE composition over fresh identical indexes (the
    // gateAppend law, composed: id-ordered deliveries make the
    // streamed corpus-reject of a b1 survivor the one-batch
    // keep-lowest intra reject)
    val lex2 = tmp.resolve("lex2").toString
    val sem2 = tmp.resolve("sem2").toString
    DedupIndex.build(Seq((1L, cText1), (2L, cText2))
      .toDF("item_id", "text"), "item_id", "text", lex2)
    SemanticDedupIndex.build(spark,
      Seq((1L, v1), (2L, v2)).toDF("item_id", "v"), "item_id", "v",
      sem2, AnnQueries.trainedCentroids(spark, sf, 8, 2))
    val all = (b1 ++ b2).toDF("item_id", "text", "v")
    val k1b = DedupIndex.gateKept(spark, lex2,
      all.select("item_id", "text"), "item_id", "text")
    val k2b = SemanticDedupIndex.gateKept(spark, sem2,
      all.join(k1b.select("item_id"), "item_id").select("item_id", "v"),
      "item_id", "v", 900000L)
    val k3b = all.join(k2b.select("item_id"), "item_id")
      .filter(score(graft.operators.Dedup.tokens(col("text"))) > 0)
    val k1Ids = k1b.select("item_id").collect().map(_.getLong(0)).toSet
    val k2Ids = k2b.select("item_id").collect().map(_.getLong(0)).toSet
    val k3Ids = k3b.select("item_id").collect().map(_.getLong(0)).toSet
    assert(k1Ids == Set(102L, 103L, 202L, 203L),
      s"batch-law lexical kept $k1Ids")
    assert(k2Ids == Set(103L, 203L), s"batch-law semantic kept $k2Ids")
    assert(curated == k3Ids,
      s"streamed curation $curated != one-batch law $k3Ids")
    assert(k3Ids.subsetOf(Set(103L, 203L)))

    // per-stage accounting: batch sizes and kept counts line up with
    // the planted structure (k1: 2 of 4 then 2 of 3; k2: 1 then 1)
    assert(acct.map(a => (a._2, a._3, a._4)).toSeq ==
      Seq((4L, 2L, 1L), (3L, 2L, 1L)), s"accounting was $acct")

    // both gated layouts equal full rebuilds over corpus + survivors
    val lexFull = tmp.resolve("lex_full").toString
    DedupIndex.build(
      Seq((1L, cText1), (2L, cText2), (102L, tA), (103L, tB),
        (202L, tC), (203L, tD)).toDF("item_id", "text"),
      "item_id", "text", lexFull)
    def bandRows(p: String): Set[(Long, String)] =
      spark.read.parquet(p)
        .select(col("item_id"), concat_ws("|", col("band"),
          col("band_sig")).as("b"))
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(bandRows(lexIdx) == bandRows(lexFull),
      "gated lexical index diverges from a full rebuild")
    val semFull = tmp.resolve("sem_full").toString
    SemanticDedupIndex.build(spark,
      Seq((1L, v1), (2L, v2), (103L, v3), (203L, v4)).toDF("item_id", "v"),
      "item_id", "v", semFull,
      AnnQueries.trainedCentroids(spark, sf, 8, 2))
    def cellRows(p: String): Set[(Long, Long)] =
      spark.read.parquet(p)
        .select(col("item_id"), col("cluster").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cellRows(semIdx) == cellRows(semFull),
      "gated semantic index diverges from a full rebuild")
  }

  test("nearDupStreamTtl: expired band bucket re-admits content; " +
       "within-TTL duplicate still hits") {
    import spark.implicits._
    val dir = SparkSpec.tempDir("graft-neardup-ttl")
    val textX = "the quick brown fox jumps over the lazy dog again and again"
    val textY = "completely different content about structured streaming state"
    val t0 = 1000000L // epoch seconds
    def write(name: String, rows: Seq[(Long, String, Long)],
              modMs: Long): Unit = {
      val tmp = SparkSpec.tempDir("graft-ttl-w").resolve("out")
      rows.toDF("doc_id", "text", "ts_sec")
        .withColumn("ts", timestamp_seconds(col("ts_sec"))).drop("ts_sec")
        .coalesce(1).write.parquet(tmp.toString)
      val part = Files.list(tmp).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      val dst = dir.resolve(name)
      Files.move(part, dst)
      // the file source orders by modification time — pin it so the three
      // micro-batches replay in the scripted order
      Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(modMs))
    }
    // batch 1: first occupant of textX's buckets
    write("a.parquet", Seq((1L, textX, t0)), 1000)
    // batch 2: a within-TTL dup (must hit) + a far-future doc that drags
    // the watermark 3 h forward — past textX's 1 h TTL horizon
    write("b.parquet",
      Seq((2L, textX, t0 + 600), (50L, textY, t0 + 3 * 3600)), 2000)
    // batch 3: same content arrives at the EXPIRED bucket — re-admitted
    write("c.parquet", Seq((100L, textX, t0 + 3 * 3600 + 60)), 3000)

    val schema = spark.read.parquet(dir.toString).schema
    val hits = Stream.nearDupStreamTtl(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(dir.toString),
      "ts", ttlMs = 3600 * 1000L, watermarkDelay = "0 seconds")
    val q = hits.writeStream.format("memory").queryName("neardupttl")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("neardupttl")
      .groupBy("docId").agg(min("dupOf").as("dupOf"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed.get(2L).contains(1L),
      s"within-TTL duplicate must emit a hit: $streamed")
    assert(!streamed.contains(100L),
      s"doc 100 landed after the bucket's TTL horizon and must be " +
        s"re-admitted, not flagged: $streamed")
    assert(!streamed.contains(50L), s"distinct content must not hit: $streamed")
  }

  test("stream-static search: streamed query batches get the batch " +
       "operator's exact answers") {
    val tmp = SparkSpec.tempDir("graft-sss")
    val in = tmp.resolve("queries"); Files.createDirectories(in)
    val emb = Tables.load(spark, sf, "embeddings")
    // two query files → two micro-batches
    emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      .coalesce(1).write.parquet(in.resolve("a").toString)
    emb.filter(col("vec_id") >= 3 && col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      .coalesce(1).write.parquet(in.resolve("b").toString)
    val schema = spark.read.parquet(in.resolve("a").toString).schema

    val results = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Int)]
    val sink = Stream.searchSink(
      spark.readStream.schema(schema)
        .parquet(in.toString + "/*"),
      emb, "embedding", "qid", "qv", k = 3,
      tmp.resolve("ckpt").toString) { res =>
      results ++= res.select("query_id", "vec_id", "rnk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    }
    Stream.runAvailableNow(sink)

    val batch = graft.operators.Knn.knnMulti(emb,
        emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("embedding").as("qv")),
        "embedding", "qid", "qv", 3)
      .select("query_id", "vec_id", "rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(results.toSet == batch,
      s"streamed ${results.size} answers != batch ${batch.size}")
    assert(batch.nonEmpty)
  }

  test("exactly-once batch fence: a replayed foreachBatch batchId is " +
       "skipped — manifest generation, fence, and row set all unchanged; " +
       "compaction carries the fence forward") {
    import graft.sources.Collections
    val tmp = SparkSpec.tempDir("graft-fence")
    val dir = tmp.resolve("coll").toString
    import spark.implicits._
    Collections.create(dir, Collections.VectorConfig(2))
    def pts(rows: (String, Seq[Float], Long)*) =
      rows.toSeq.toDF("id", "embedding", "__seq")

    assert(Collections.lastAppliedBatch(dir) == -1L)
    assert(Collections.upsertBatch(spark, dir,
      pts(("a", Seq(1f, 0f), 0L), ("b", Seq(0f, 1f), 0L)),
      "id", "__seq", batchId = 0L))
    val gen1 = new String(Files.readAllBytes(tmp.resolve("coll/_manifest.json")))
    assert(Collections.lastAppliedBatch(dir) == 0L)

    // the failure-replay shape: same batchId re-delivered with DIFFERENT
    // derived content (e.g. a nondeterministic enrichment) — the fence
    // must skip it without writing anything
    assert(!Collections.upsertBatch(spark, dir,
      pts(("a", Seq(9f, 9f), 1L), ("c", Seq(1f, 1f), 1L)),
      "id", "__seq", batchId = 0L))
    val gen2 = new String(Files.readAllBytes(tmp.resolve("coll/_manifest.json")))
    assert(gen1 == gen2, "replay must not touch the manifest")
    val after = Collections.read(spark, dir)
    assert(after.count() == 2 &&
      after.filter(col("id") === "a")
        .select(col("embedding")(0)).head().getFloat(0) == 1f)

    // the NEXT batch applies; an older id stays fenced even after it
    assert(Collections.upsertBatch(spark, dir,
      pts(("c", Seq(1f, 1f), 2L)), "id", "__seq", batchId = 1L))
    assert(Collections.lastAppliedBatch(dir) == 1L)
    assert(!Collections.upsertBatch(spark, dir,
      pts(("d", Seq(2f, 2f), 3L)), "id", "__seq", batchId = 0L))
    assert(Collections.read(spark, dir).count() == 3)

    // batch-agnostic maintenance must not un-fence: compact, then replay
    Collections.compact(spark, dir, "id")
    assert(Collections.lastAppliedBatch(dir) == 1L,
      "compact dropped the batch fence")
    assert(!Collections.upsertBatch(spark, dir,
      pts(("e", Seq(3f, 3f), 4L)), "id", "__seq", batchId = 1L))
    assert(Collections.read(spark, dir).count() == 3)

    // an EMPTY applied batch still advances the fence
    assert(Collections.upsertBatch(spark, dir,
      pts().filter(lit(false)), "id", "__seq", batchId = 2L))
    assert(Collections.lastAppliedBatch(dir) == 2L)

    // snapshot/restore carries the fence like compact does: a restored
    // collection must keep skipping batches it already applied, or the
    // exactly-once guarantee would silently end at the first restore
    val snap = tmp.resolve("snap").toString
    Collections.snapshot(dir, snap)
    Collections.restore(snap, dir)
    assert(Collections.lastAppliedBatch(dir) == 2L,
      "snapshot/restore dropped the batch fence")
    assert(!Collections.upsertBatch(spark, dir,
      pts(("f", Seq(4f, 4f), 5L)), "id", "__seq", batchId = 2L))
    assert(Collections.read(spark, dir).count() == 3)
  }

  test("an all-rejected streaming batch does NOT advance the fence: a " +
       "corrected replay of that batchId can still apply, and the " +
       "rejected count is surfaced") {
    import graft.sources.Collections
    val tmp = SparkSpec.tempDir("graft-fence-rej")
    val dir = tmp.resolve("coll").toString
    import spark.implicits._
    val sink = new Collections.ParquetCollectionSink(spark, dir,
      Collections.VectorConfig(2), "embedding", "id", "__seq")
    def pts(rows: (String, Seq[Float], Long)*) =
      rows.toSeq.toDF("id", "embedding", "__seq")

    // every row violates the declared dim → not applied, fence untouched,
    // rejection count surfaced (NOT the same as a genuinely empty batch)
    val (applied, rejected) = sink.writeBatchCounted(
      pts(("a", Seq(1f, 2f, 3f), 0L), ("b", Seq(9f), 0L)), batchId = 0L)
    assert(!applied && rejected == 2L)
    assert(Collections.lastAppliedBatch(dir) == -1L,
      "an all-rejected batch must not fence its batchId")

    // the corrected replay of the SAME batchId applies
    val (applied2, rejected2) = sink.writeBatchCounted(
      pts(("a", Seq(1f, 2f), 0L), ("b", Seq(9f, 8f), 0L)), batchId = 0L)
    assert(applied2 && rejected2 == 0L)
    assert(Collections.lastAppliedBatch(dir) == 0L)
    assert(Collections.read(spark, dir).count() == 2)

    // a PARTIALLY-rejected batch applies the surviving rows, surfaces the
    // count, and fences (the reference's drop-on-error containment)
    val (applied3, rejected3) = sink.writeBatchCounted(
      pts(("c", Seq(5f, 5f), 1L), ("d", Seq(1f), 1L)), batchId = 1L)
    assert(applied3 && rejected3 == 1L)
    assert(Collections.lastAppliedBatch(dir) == 1L)
    assert(Collections.read(spark, dir).count() == 3)

    // a genuinely EMPTY batch still advances the fence
    assert(sink.writeBatch(pts().filter(lit(false)), batchId = 2L))
    assert(Collections.lastAppliedBatch(dir) == 2L)
  }

  test("stream-stream interval join (attribution) emits exactly the " +
       "batch twin's pairs") {
    val dir = SparkSpec.tempDir("graft-ssjoin")
    Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    Tables.load(spark, sf, "events") // sets the nanosAsLong read conf
    val schema = spark.read.parquet(dir.toString).schema

    val live = Stream.attributionJoin(
      spark.readStream.schema(schema).parquet(dir.toString))
    assert(live.isStreaming)
    val q = live.writeStream.format("memory").queryName("ssjoin")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("ssjoin")
      .select("user_id", "view_id", "click_id", "lag_us")
      .collect().map(_.toSeq).toSet

    val batch = Stream.attributionJoin(spark.read.parquet(dir.toString))
      .collect().map(_.toSeq).toSet
    assert(batch.nonEmpty, "fixture produced no view→click pairs")
    assert(streamed == batch,
      s"streamed ${streamed.size} pairs != batch ${batch.size}")
  }
}
