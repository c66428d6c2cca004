package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Collections
import graft.sources.Collections.VectorConfig

/** Collection DDL + upsert-sink semantics (reference O12/O14/O17/O20). */
class CollectionsSpec extends AnyFunSuite with SparkSpec {

  test("create-iff-absent records config; second create is a no-op") {
    val dir = SparkSpec.tempDir("graft-coll").toString + "/c1"
    assert(!Collections.exists(dir))
    Collections.create(dir, VectorConfig(64))
    assert(Collections.exists(dir))
    assert(Collections.config(dir) == VectorConfig(64, "cosine"))
    Collections.create(dir, VectorConfig(128, "l2")) // must NOT overwrite
    assert(Collections.config(dir) == VectorConfig(64, "cosine"))
  }

  test("search: metric dispatch (cosine vs l2), info, DSL filter") {
    val dir = SparkSpec.tempDir("graft-coll").toString + "/c4"
    val emb = Tables.load(spark, sf, "embeddings").withColumn("seq", lit(0))
    new Collections.ParquetCollectionSink(spark, dir, VectorConfig(64),
      "embedding", "vec_id", "seq").write(emb)

    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)

    val inf = Collections.info(spark, dir)
    assert(inf.config == VectorConfig(64, "cosine") && inf.numPoints == 500)

    // cosine collection: the query vector is its own best match
    val hits = Collections.search(spark, dir, "embedding", "vec_id", q, 5)
    assert(hits.count() == 5)
    assert(hits.head().getLong(hits.head().fieldIndex("vec_id")) == 0L)

    // filtered search via the Qdrant DSL
    val filtered = Collections.search(spark, dir, "embedding", "vec_id", q, 5,
      Some(graft.operators.PayloadFilter.fromJson(
        """{"key": "label", "match": {"value": 3}}""")))
    assert(filtered.collect().forall(r => r.getInt(r.fieldIndex("label")) == 3))

    // an l2 collection orders ascending: self-match first with distance 0
    val dirL2 = SparkSpec.tempDir("graft-coll").toString + "/c5"
    new Collections.ParquetCollectionSink(spark, dirL2,
      VectorConfig(64, "l2"), "embedding", "vec_id", "seq").write(emb)
    val l2hits = Collections.search(spark, dirL2, "embedding", "vec_id", q, 3)
      .collect()
    assert(l2hits.head.getLong(0) == 0L)
    assert(l2hits.head.getDouble(l2hits.head.fieldIndex("score")) == 0.0)

    // dim mismatch is rejected up front
    intercept[IllegalArgumentException] {
      Collections.search(spark, dir, "embedding", "vec_id", Seq(1.0, 2.0), 3)
    }
  }

  test("manifest commit: a crash between generation write and manifest " +
       "publish leaves readers wholly-old; the publish flips wholly-new") {
    val dir = SparkSpec.tempDir("graft-coll").toString + "/c8"
    val sink = new Collections.ParquetCollectionSink(spark, dir,
      VectorConfig(64), "embedding", "vec_id", "seq")
    val emb = Tables.load(spark, sf, "embeddings").limit(60)
    sink.write(emb.withColumn("seq", lit(0)))
    def snapshot(): Set[(Long, Int)] = Collections.read(spark, dir)
      .select("vec_id", "label").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    val afterW1 = snapshot()
    val manifest = java.nio.file.Paths.get(s"$dir/_manifest.json")
    val w1Manifest = Files.readAllBytes(manifest)

    // write 2 touches MANY buckets (every id), then the manifest is
    // rolled back to simulate a crash an instant before the publish:
    // the new generation sits on disk, unreferenced
    sink.write(emb.withColumn("label", col("label") + 500)
      .withColumn("seq", lit(1)))
    val afterW2 = snapshot()
    assert(afterW2 != afterW1)
    Files.write(manifest, w1Manifest)
    val gens = new java.io.File(s"$dir/data").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(gens.exists(_ > "g00001"), s"orphan generation missing: $gens")

    // a reader now sees EXACTLY write 1's rows — not one row of the
    // crashed write's generation (the per-bucket rename protocol could
    // land here with half the buckets swapped)
    assert(snapshot() == afterW1, "reader saw a mixed/partial commit")

    // redoing the write recovers: orphan GC'd, result = write 2's state
    sink.write(emb.withColumn("label", col("label") + 500)
      .withColumn("seq", lit(1)))
    assert(snapshot() == afterW2)
  }

  /** Recursive (path → lastModified) snapshot of every FILE under p. */
  private def fileSnapshot(p: String): Map[String, Long] = {
    val root = java.nio.file.Paths.get(p)
    if (!Files.exists(root)) Map.empty
    else {
      val walk = Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.filter(Files.isRegularFile(_))
          .map(f => f.toString -> Files.getLastModifiedTime(f).toMillis)
          .toMap
      } finally walk.close()
    }
  }

  test("incremental upsert: a one-bucket batch leaves every other " +
       "bucket's files untouched") {
    val dir = SparkSpec.tempDir("graft-coll").toString + "/c6"
    val sink = new Collections.ParquetCollectionSink(spark, dir,
      VectorConfig(64), "embedding", "vec_id", "seq")
    val emb = Tables.load(spark, sf, "embeddings").limit(200)
    sink.write(emb.withColumn("seq", lit(0)))

    val bucketDirs = fileSnapshot(s"$dir/data").keySet
      .flatMap("""bucket=\d+""".r.findFirstIn(_))
    assert(bucketDirs.size > 1, s"expected several buckets, got $bucketDirs")

    // second batch: ONE id → exactly one touched bucket
    val one = emb.filter(col("vec_id") === 7)
      .withColumn("label", col("label") + 100).withColumn("seq", lit(1))
    val touchedBucket = one
      .select(pmod(hash(col("vec_id")), lit(Collections.numBuckets(dir))))
      .head().getInt(0)
    val before = fileSnapshot(s"$dir/data")
    sink.write(one)
    val after = fileSnapshot(s"$dir/data")

    // untouched buckets: every pre-write file is still there, unmodified
    // (generations are immutable — nothing is ever rewritten in place)
    def partOf(m: Map[String, Long]) = m.filter { case (f, _) =>
      !f.contains(s"bucket=$touchedBucket/") && f.contains("bucket=")
    }
    assert(partOf(before).toSet.subsetOf(partOf(after).toSet),
      "files in untouched buckets were rewritten or removed")
    // the touched bucket moved to a NEW generation directory
    def liveDirOf(b: Int): String = {
      val m = new String(Files.readAllBytes(
        java.nio.file.Paths.get(s"$dir/_manifest.json")), "UTF-8")
      s""""$b":\\s*"([^"]+)"""".r.findFirstMatchIn(m).get.group(1)
    }
    assert(liveDirOf(touchedBucket).startsWith("g00002/"),
      s"touched bucket not remapped: ${liveDirOf(touchedBucket)}")
    // … and the merge semantics held: same count, updated label
    val now = Collections.read(spark, dir)
    assert(now.count() == 200)
    assert(now.filter(col("vec_id") === 7).head()
      .getAs[Int]("label") >= 100)
  }

  test("deleteWhere: only match-holding buckets rewritten; an emptied " +
       "bucket drops out of the manifest") {
    val dir = SparkSpec.tempDir("graft-coll").toString + "/c9"
    val sink = new Collections.ParquetCollectionSink(spark, dir,
      VectorConfig(64), "embedding", "vec_id", "seq")
    val emb = Tables.load(spark, sf, "embeddings").limit(200)
    sink.write(emb.withColumn("seq", lit(0)))
    val nb = Collections.numBuckets(dir)
    val touchedBucket = emb.filter(col("vec_id") === 7)
      .select(pmod(hash(col("vec_id")), lit(nb))).head().getInt(0)

    val before = fileSnapshot(s"$dir/data")
    val n = Collections.deleteWhere(spark, dir, col("vec_id") === 7, "vec_id")
    val after = fileSnapshot(s"$dir/data")
    assert(n == 1)
    val now = Collections.read(spark, dir)
    assert(now.count() == 199 && now.filter(col("vec_id") === 7).count() == 0)
    // untouched buckets: byte-stable (generations are immutable)
    def partOf(m: Map[String, Long]) = m.filter { case (f, _) =>
      !f.contains(s"bucket=$touchedBucket/") && f.contains("bucket=")
    }
    assert(partOf(before).toSet.subsetOf(partOf(after).toSet),
      "deleteWhere rewrote buckets without matches")

    // empty a WHOLE bucket by predicate: its manifest entry must vanish
    // and reads must keep working
    val whole = Collections.deleteWhere(spark, dir,
      pmod(hash(col("vec_id")), lit(nb)) === touchedBucket, "vec_id")
    assert(whole > 0)
    val manifest = new String(Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/_manifest.json")), "UTF-8")
    assert(!manifest.contains(s""""$touchedBucket":"""),
      s"emptied bucket still referenced: $manifest")
    assert(Collections.read(spark, dir).count() == 199 - whole)
    // no match anywhere: a no-op returns 0 and publishes nothing new
    val manifestBytes = Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/_manifest.json"))
    assert(Collections.deleteWhere(spark, dir,
      col("vec_id") === 999999, "vec_id") == 0)
    assert(java.util.Arrays.equals(manifestBytes, Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/_manifest.json"))))
  }

  test("snapshot/restore: point-in-time copy survives later writes and " +
       "deletes; torn snapshots are rejected") {
    val root = SparkSpec.tempDir("graft-snap").toString
    val dir = s"$root/c11"
    val sink = new Collections.ParquetCollectionSink(spark, dir,
      VectorConfig(64), "embedding", "vec_id", "seq")
    val emb = Tables.load(spark, sf, "embeddings").limit(80)
    sink.write(emb.withColumn("seq", lit(0)))
    def snap(d: String): Set[(Long, Int)] = Collections.read(spark, d)
      .select("vec_id", "label").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    val atSnapshot = snap(dir)

    val sd = s"$root/snap1"
    Collections.snapshot(dir, sd)
    // the snapshot is itself a readable collection with identical rows
    assert(snap(sd) == atSnapshot)
    assert(Collections.config(sd) == Collections.config(dir))

    // mutate the live collection heavily: snapshot must not move
    sink.write(emb.withColumn("label", col("label") + 700)
      .withColumn("seq", lit(1)))
    Collections.deleteWhere(spark, dir, col("vec_id") < 10, "vec_id")
    assert(snap(sd) == atSnapshot, "snapshot changed under later writes")
    assert(snap(dir) != atSnapshot)

    // restore: the live collection returns to the point in time
    Collections.restore(sd, dir)
    assert(snap(dir) == atSnapshot)
    // and keeps working as a collection afterwards
    sink.write(emb.limit(5).withColumn("vec_id", col("vec_id") + 50000)
      .withColumn("seq", lit(2)))
    assert(Collections.read(spark, dir).count() == atSnapshot.size + 5)

    // a torn snapshot (no manifest — crash mid-copy) must be rejected
    val torn = s"$root/torn"
    Files.createDirectories(java.nio.file.Paths.get(s"$torn/data"))
    intercept[IllegalArgumentException] { Collections.restore(torn, dir) }
  }

  test("aliases: atomic repointing — the blue/green reindex flow") {
    val root = SparkSpec.tempDir("graft-alias").toString
    val emb = Tables.load(spark, sf, "embeddings").limit(30)
      .withColumn("seq", lit(0))
    new Collections.ParquetCollectionSink(spark, s"$root/items_v1",
      VectorConfig(64), "embedding", "vec_id", "seq").write(emb)
    Collections.setAlias(root, "items", "items_v1")
    assert(Collections.resolve(root, "items") == s"$root/items_v1")
    assert(Collections.read(spark,
      Collections.resolve(root, "items")).count() == 30)
    // physical names resolve to themselves when no alias shadows them
    assert(Collections.resolve(root, "items_v1") == s"$root/items_v1")

    // blue/green: build v2 offline, repoint, drop the old generation
    new Collections.ParquetCollectionSink(spark, s"$root/items_v2",
      VectorConfig(64), "embedding", "vec_id", "seq")
      .write(emb.withColumn("label", col("label") + 100))
    Collections.setAlias(root, "items", "items_v2")
    val resolved = Collections.read(spark,
      Collections.resolve(root, "items"))
    assert(resolved.filter(col("label") >= 100).count() == 30)
    Collections.delete(s"$root/items_v1")
    assert(Collections.read(spark,
      Collections.resolve(root, "items")).count() == 30)
    Collections.dropAlias(root, "items")
    assert(Collections.aliases(root).isEmpty)
  }

  test("setPayloadWhere: matching points updated, null clears (the " +
       "delete_payload verb), non-matching rows byte-equal") {
    val dir = SparkSpec.tempDir("graft-coll").toString + "/c10"
    val sink = new Collections.ParquetCollectionSink(spark, dir,
      VectorConfig(64), "embedding", "vec_id", "seq")
    val emb = Tables.load(spark, sf, "embeddings").limit(100)
    sink.write(emb.withColumn("seq", lit(0)))
    val nMatch = Collections.read(spark, dir)
      .filter(col("label") === 3).count()
    assert(nMatch > 0, "degenerate fixture: no label-3 rows")

    val n = Collections.setPayloadWhere(spark, dir, col("label") === 3,
      "vec_id", Map("label" -> lit(999)))
    assert(n == nMatch)
    val now = Collections.read(spark, dir)
    assert(now.filter(col("label") === 999).count() == nMatch)
    assert(now.filter(col("label") === 3).count() == 0)
    assert(now.count() == 100)
    // non-matching rows are untouched, row-for-row
    val others = emb.filter(col("label") =!= 3)
      .select("vec_id", "label").collect().map(r =>
        (r.getLong(0), r.getInt(1))).toSet
    val othersNow = now.filter(col("label") =!= 999)
      .select("vec_id", "label").collect().map(r =>
        (r.getLong(0), r.getInt(1))).toSet
    assert(othersNow == others)

    // delete_payload: clear by setting null (needs a nullable column —
    // label read back from parquet is nullable)
    val cleared = Collections.setPayloadWhere(spark, dir,
      col("label") === 999, "vec_id",
      Map("label" -> lit(null).cast("int")))
    assert(cleared == nMatch)
    assert(Collections.read(spark, dir)
      .filter(col("label").isNull).count() == nMatch)
  }

  test("clearPayloadWhere nulls every payload column on matches only; " +
       "deleteVectorsWhere nulls named vectors, points survive and the " +
       "null side is skipped by partial scoring") {
    val dir = SparkSpec.tempDir("graft-coll").toString + "/c16"
    val sink = new Collections.ParquetCollectionSink(spark, dir,
      VectorConfig(64), "embedding", "vec_id", "seq")
    val emb = Tables.load(spark, sf, "embeddings").limit(100)
    sink.write(emb.withColumn("seq", lit(0)))
    val total = Collections.read(spark, dir).count()

    // clear_payload: label (the only payload column) nulls on matches
    val nClear = Collections.clearPayloadWhere(spark, dir,
      col("vec_id") % 4 === 0, "vec_id",
      vecCols = Seq("embedding"), seqCol = "seq")
    assert(nClear > 0)
    val afterClear = Collections.read(spark, dir)
      .select(col("vec_id"), col("label"), col("embedding")).collect()
    assert(afterClear.length == total, "clear_payload must not drop points")
    afterClear.foreach { r =>
      if (r.getLong(0) % 4 == 0)
        assert(r.isNullAt(1), s"payload not cleared for ${r.getLong(0)}")
      else assert(!r.isNullAt(1), s"payload cleared off-filter")
      assert(!r.isNullAt(2), "clear_payload must never touch vectors")
    }

    // delete_vectors: the vector nulls on matches, ids/payload survive
    val nDel = Collections.deleteVectorsWhere(spark, dir,
      col("vec_id") % 5 === 0, "vec_id", vecCols = Seq("embedding"))
    assert(nDel > 0)
    val afterDel = Collections.read(spark, dir)
    assert(afterDel.count() == total, "delete_vectors must not drop points")
    afterDel.select(col("vec_id"), col("embedding")).collect().foreach { r =>
      assert(r.isNullAt(1) == (r.getLong(0) % 5 == 0))
    }
    // and the partial-scoring contract: a vector-less point scores NULL
    // (not returned), a vector-carrying point scores normally
    val q = emb.filter(col("vec_id") === 1)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0)
    val scored = afterDel.withColumn("s", graft.operators.Fusion
        .blendPartial(Seq((when(col("embedding").isNotNull,
          floor(graft.functions.VectorOps.cosine(col("embedding"),
            typedLit(q)) * 1e6 + lit(0.5)).cast("long") + lit(1000000L)),
          1000L))))
      .select(col("vec_id"), col("s")).collect()
    scored.foreach { r =>
      assert(r.isNullAt(1) == (r.getLong(0) % 5 == 0),
        "vector-less point not excluded from partial scoring")
    }
  }

  test("overwritePayloadWhere replaces the whole payload on matches: " +
       "set keys take the new value, unset keys null, off-filter rows " +
       "and identity/vectors untouched") {
    val dir = SparkSpec.tempDir("graft-coll").toString + "/c17"
    val sink = new Collections.ParquetCollectionSink(spark, dir,
      VectorConfig(64), "embedding", "vec_id", "seq")
    val emb = Tables.load(spark, sf, "embeddings").limit(100)
    sink.write(emb.withColumn("seq", lit(0))
      .withColumn("note", concat(lit("n"), col("vec_id"))))
    val total = Collections.read(spark, dir).count()

    val n = Collections.overwritePayloadWhere(spark, dir,
      col("vec_id") % 3 === 0, "vec_id",
      vecCols = Seq("embedding"), seqCol = "seq",
      sets = Map("label" -> lit(99)))
    assert(n > 0)
    val after = Collections.read(spark, dir)
      .select(col("vec_id"), col("label"), col("note"), col("embedding"))
      .collect()
    assert(after.length == total, "overwrite_payload must not drop points")
    after.foreach { r =>
      val id = r.getLong(0)
      if (id % 3 == 0) {
        assert(r.getInt(1) == 99, s"label not overwritten for $id")
        assert(r.isNullAt(2), s"unset payload key survived for $id")
      } else {
        assert(r.getInt(1) != 99, s"label overwritten off-filter for $id")
        assert(r.getString(2) == s"n$id", s"note clobbered off-filter")
      }
      assert(!r.isNullAt(3), "overwrite_payload must never touch vectors")
    }
  }

  test("setVectorWhere: re-embed of a filtered subset touches only " +
       "matching buckets; dim gate fails BEFORE the manifest swap") {
    val dir = SparkSpec.tempDir("graft-coll").toString + "/c12"
    val sink = new Collections.ParquetCollectionSink(spark, dir,
      VectorConfig(64), "embedding", "vec_id", "seq")
    val emb = Tables.load(spark, sf, "embeddings").limit(100)
    sink.write(emb.withColumn("seq", lit(0)))
    val nMatch = Collections.read(spark, dir)
      .filter(col("label") === 3).count()
    assert(nMatch > 0, "degenerate fixture: no label-3 rows")
    val buckets = Collections.numBuckets(dir)
    val matchBuckets = Collections.read(spark, dir)
      .filter(col("label") === 3)
      .select(pmod(hash(col("vec_id")), lit(buckets)))
      .distinct().collect().map(_.getInt(0)).toSet
    val before = Collections.manifestView(dir)

    // the "model upgrade": negate matched vectors (dim-preserving)
    val n = Collections.setVectorWhere(spark, dir, col("label") === 3,
      "vec_id", "embedding",
      transform(col("embedding"), x => -x))
    assert(n == nMatch)
    val after = Collections.manifestView(dir)
    // only buckets holding matches were remapped; the rest are untouched
    (before.buckets.keySet -- matchBuckets).foreach { b =>
      assert(after.buckets(b) == before.buckets(b),
        s"bucket $b rewritten without holding a match")
    }
    matchBuckets.foreach { b =>
      assert(after.buckets(b) != before.buckets(b),
        s"matched bucket $b not rewritten")
    }
    // vectors re-embedded on matches, byte-identical elsewhere
    val pre = emb.select(col("vec_id"), col("label"),
      col("embedding").cast("array<double>")).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getSeq[Double](2))).toMap
    Collections.read(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().foreach { r =>
        val (label, orig) = pre(r.getLong(0))
        val now = r.getSeq[Double](1)
        if (label == 3) assert(now == orig.map(x => -x))
        else assert(now == orig)
      }

    // dim violation: the write job fails and the manifest stays put
    val thrown = intercept[Exception] {
      Collections.setVectorWhere(spark, dir, col("label") === 5,
        "vec_id", "embedding", slice(col("embedding"), 1, 3))
    }
    assert(thrown.getMessage != null)
    val unchanged = Collections.manifestView(dir)
    assert(unchanged.gen == after.gen && unchanged.buckets == after.buckets,
      "failed setVectorWhere mutated the manifest")
    assert(Collections.read(spark, dir).count() == 100)
  }

  test("incremental IVF index maintenance over the change feed equals a " +
       "full rebuild after a mixed upsert/deleteWhere/setVectorWhere " +
       "sequence; untouched bucket dirs are physically untouched") {
    import graft.sources.IvfIndex
    import graft.operators.Ann
    val root = SparkSpec.tempDir("graft-ivf").toString
    val dir = s"$root/c13"
    val sink = new Collections.ParquetCollectionSink(spark, dir,
      VectorConfig(64), "embedding", "vec_id", "seq")
    val emb = Tables.load(spark, sf, "embeddings").limit(200)
    sink.write(emb.withColumn("seq", lit(0)))
    // centroids trained once, materialized driver-side (both builds must
    // see the identical table, independent of later collection state)
    val cents = Ann.kmeansFit(Collections.read(spark, dir),
      "vec_id", "embedding", k = 4, iters = 1)
    val idx = s"$root/idx"
    val v0 = IvfIndex.build(spark, dir, idx, "vec_id", "embedding",
      cents, "cid", "cv")

    // mixed mutation sequence
    sink.write(emb.filter(col("vec_id") % 10 === 0) // re-embed via upsert
      .withColumn("embedding",
        transform(col("embedding"), x => -x).cast("array<float>"))
      .withColumn("seq", lit(1)))
    Collections.deleteWhere(spark, dir, col("vec_id") % 7 === 0, "vec_id")
    Collections.setVectorWhere(spark, dir, col("vec_id") % 11 === 3,
      "vec_id", "embedding",
      transform(col("embedding"), x => x * 2).cast("array<float>"))

    // capture an untouched bucket's index files before the refresh
    val nb = Collections.numBuckets(dir)
    val touchedBuckets = Collections.read(spark, dir)
      .filter(col("vec_id") % 10 === 0 || col("vec_id") % 11 === 3)
      .select(pmod(hash(col("vec_id")), lit(nb)))
      .union(emb.filter(col("vec_id") % 7 === 0)
        .select(pmod(hash(col("vec_id")), lit(nb))))
      .distinct().collect().map(_.getInt(0)).toSet
    val untouched = (0 until nb).find(b => !touchedBuckets.contains(b)
      && Files.exists(java.nio.file.Paths.get(idx, s"src_bucket=$b")))
    def listing(b: Int): Set[(String, Long)] = {
      import scala.jdk.CollectionConverters._
      val walk = Files.walk(java.nio.file.Paths.get(idx, s"src_bucket=$b"))
      try walk.iterator().asScala
        .filter(Files.isRegularFile(_))
        .map(p => p.toString -> Files.getLastModifiedTime(p).toMillis)
        .toSet
      finally walk.close()
    }
    val preListing = untouched.map(listing)

    IvfIndex.refresh(spark, dir, idx, "vec_id", "embedding",
      cents, "cid", "cv", v0)
    untouched.foreach(b => assert(listing(b) == preListing.get,
      s"untouched bucket $b index files were rewritten"))

    // row-for-row equality with a full rebuild over the mutated state
    val idx2 = s"$root/idx_full"
    IvfIndex.build(spark, dir, idx2, "vec_id", "embedding",
      cents, "cid", "cv")
    // MULTISET compare (sorted seq, not Set): a refresh defect that
    // appends duplicate rows for an already-live bucket must fail here
    def rows(p: String): Seq[String] =
      spark.read.parquet(p)
        .select(col("vec_id"), col("cluster").cast("long"),
          col("embedding").cast("array<double>"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Double](2)).toString)
        .toSeq.sorted
    assert(rows(idx) == rows(idx2),
      "incrementally-maintained index diverges from a full rebuild")
    assert(rows(idx).nonEmpty)
  }

  test("updateBatch (batch_update_points): ops apply in order with " +
       "in-batch visibility, commit as ONE generation, and fail " +
       "all-or-nothing") {
    import Collections.PointOp._
    import spark.implicits._
    val root = SparkSpec.tempDir("graft-ubatch").toString
    def mk(name: String): String = {
      val dir = s"$root/$name"
      val sink = new Collections.ParquetCollectionSink(spark, dir,
        VectorConfig(2), "embedding", "id", "seq")
      sink.write(Seq(
        ("a", Seq(1f, 0f), "red", 0L), ("b", Seq(0f, 1f), "red", 0L),
        ("c", Seq(1f, 1f), "blue", 0L), ("d", Seq(2f, 1f), "blue", 0L))
        .toDF("id", "embedding", "color", "seq"))
      dir
    }
    def rows(dir: String): Set[(String, Seq[Float], String)] =
      Collections.read(spark, dir)
        .select(col("id"), col("embedding"), col("color"))
        .collect().map(r => (r.getString(0),
          Option(r.getSeq[Float](1)).getOrElse(null), r.getString(2))).toSet

    // the batch: upsert e + re-embed a, delete blue, recolor the rest —
    // then delete the row the batch ITSELF upserted (in-batch visibility)
    val batchDir = mk("batch")
    val ops = Seq(
      Upsert(Seq(("e", Seq(5f, 5f), "green", 1L),
        ("a", Seq(9f, 9f), "red", 1L))
        .toDF("id", "embedding", "color", "seq")),
      Delete(col("color") === "blue"),
      SetPayload(col("color") === "red", Map("color" -> lit("crimson"))),
      Delete(col("id") === "e"))
    val genBefore = Collections.manifestView(batchDir).gen
    Collections.updateBatch(spark, batchDir, ops, "id", "seq",
      Seq("embedding"))
    assert(Collections.manifestView(batchDir).gen == genBefore + 1,
      "batch must commit exactly one generation")

    // equivalence with the standalone verbs applied sequentially
    val seqDir = mk("seq")
    Collections.upsert(spark, seqDir,
      Seq(("e", Seq(5f, 5f), "green", 1L), ("a", Seq(9f, 9f), "red", 1L))
        .toDF("id", "embedding", "color", "seq"), "id", "seq")
    Collections.deleteWhere(spark, seqDir, col("color") === "blue", "id")
    Collections.setPayloadWhere(spark, seqDir, col("color") === "red",
      "id", Map("color" -> lit("crimson")))
    Collections.deleteWhere(spark, seqDir, col("id") === "e", "id")
    assert(rows(batchDir) == rows(seqDir),
      "one-commit batch diverges from the sequential verbs")
    assert(rows(batchDir).map(_._1) == Set("a", "b"))
    assert(rows(batchDir).forall(_._3 == "crimson"))

    // ATOMICITY: a failing op (dim-violating SetVector) must leave the
    // collection at the PRE-batch state — no partial application of the
    // earlier ops (the property sequential verbs cannot give)
    val before = rows(batchDir)
    val manBefore = Collections.manifestView(batchDir)
    val bad = Seq(
      Delete(col("id") === "a"), // would apply first if not atomic
      SetVector(col("id") === "b", "embedding",
        lit(Array(1f)))) // wrong dim → job fails before the swap
    val thrown = intercept[Exception] {
      Collections.updateBatch(spark, batchDir, bad, "id", "seq",
        Seq("embedding"))
    }
    assert(thrown.getMessage != null)
    val manAfter = Collections.manifestView(batchDir)
    assert(manAfter.gen == manBefore.gen &&
      manAfter.buckets == manBefore.buckets,
      "failed batch mutated the manifest")
    assert(rows(batchDir) == before,
      "failed batch partially applied — atomicity broken")
  }

  test("payload field index: indexed read is row-identical to the " +
       "unindexed filter; refresh over the change feed equals a full " +
       "rebuild; untouched bucket dirs are physically untouched") {
    import graft.sources.PayloadIndex
    val root = SparkSpec.tempDir("graft-pidx").toString
    val dir = s"$root/c16"
    val sink = new Collections.ParquetCollectionSink(spark, dir,
      VectorConfig(64), "embedding", "vec_id", "seq")
    val emb = Tables.load(spark, sf, "embeddings").limit(200)
    sink.write(emb.withColumn("seq", lit(0)))
    val idx = s"$root/pidx"
    val v0 = PayloadIndex.buildFromCollection(spark, dir, idx,
      "label", "vec_id")
    assert(PayloadIndex.keyOf(idx) == "label")
    assert(PayloadIndex.keyTypeOf(idx) == "int")

    // literal-type independence: Murmur3 is type-sensitive, so an index
    // on a BIGINT key probed with an Int (or String) literal must still
    // route to the right pbucket — the serving cast is the regression
    // under test (an uncast lit(3) would hash to the wrong partition and
    // silently return zero rows)
    val idxL = s"$root/pidx_long"
    PayloadIndex.buildFromCollection(spark, dir, idxL, "vec_id", "vec_id")
    assert(PayloadIndex.keyTypeOf(idxL) == "bigint")
    assert(PayloadIndex.forValue(spark, idxL, 3).count() == 1L,
      "Int literal against a BIGINT key missed its bucket")
    assert(PayloadIndex.forValue(spark, idxL, "3").count() == 1L,
      "String literal against a BIGINT key missed its bucket")
    assert(PayloadIndex.forValues(spark, idxL, Seq(3, 5)).count() == 2L)
    // LOSSY casts must return nothing — the unindexed double-promoted
    // comparison (vec_id === 3.7) matches no row, so the index must not
    // either (an uncast guard would truncate 3.7 -> 3 and return a
    // FALSE POSITIVE)
    assert(PayloadIndex.forValue(spark, idxL, 3.7).count() == 0L,
      "lossy double literal matched rows the unindexed filter rejects")
    assert(PayloadIndex.forValues(spark, idxL, Seq(3, 3.7)).count() == 1L)

    // covering-index contract: the indexed read IS the filtered read
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select(col("vec_id"), col("label").cast("long"),
          col("embedding").cast("array<double>"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Double](2)).toString)
        .toSeq.sorted
    assert(canon(PayloadIndex.forValue(spark, idx, 3)) ==
      canon(Collections.read(spark, dir).filter(col("label") === 3)))
    assert(canon(PayloadIndex.forValues(spark, idx, Seq(2, 5))) ==
      canon(Collections.read(spark, dir)
        .filter(col("label").isin(2, 5))))

    // mixed mutation sequence (the IvfIndex refresh shape)
    sink.write(emb.filter(col("vec_id") % 10 === 0)
      .withColumn("label", col("label") + 100) // move rows across values
      .withColumn("seq", lit(1)))
    Collections.deleteWhere(spark, dir, col("vec_id") % 7 === 0, "vec_id")
    Collections.setPayloadWhere(spark, dir, col("vec_id") % 11 === 3,
      "vec_id", Map("label" -> (col("label") + 1)))

    val nb = Collections.numBuckets(dir)
    val touchedBuckets = Collections.read(spark, dir)
      .filter(col("vec_id") % 10 === 0 || col("vec_id") % 11 === 3)
      .select(pmod(hash(col("vec_id")), lit(nb)))
      .union(emb.filter(col("vec_id") % 7 === 0)
        .select(pmod(hash(col("vec_id")), lit(nb))))
      .distinct().collect().map(_.getInt(0)).toSet
    val untouched = (0 until nb).find(b => !touchedBuckets.contains(b)
      && Files.exists(java.nio.file.Paths.get(idx, s"src_bucket=$b")))
    def listing(b: Int): Set[(String, Long)] = {
      import scala.jdk.CollectionConverters._
      val walk = Files.walk(java.nio.file.Paths.get(idx, s"src_bucket=$b"))
      try walk.iterator().asScala
        .filter(Files.isRegularFile(_))
        .map(p => p.toString -> Files.getLastModifiedTime(p).toMillis)
        .toSet
      finally walk.close()
    }
    val preListing = untouched.map(listing)

    PayloadIndex.refresh(spark, dir, idx, "vec_id", v0)
    untouched.foreach(b => assert(listing(b) == preListing.get,
      s"untouched bucket $b index files were rewritten"))

    val idx2 = s"$root/pidx_full"
    PayloadIndex.buildFromCollection(spark, dir, idx2, "label", "vec_id")
    def rows(p: String): Seq[String] = canon(spark.read.parquet(p)
      .drop("pbucket", "src_bucket"))
    assert(rows(idx) == rows(idx2),
      "incrementally-maintained payload index diverges from a full rebuild")
    assert(rows(idx).nonEmpty)
    // and the refreshed index still serves row-identically
    assert(canon(PayloadIndex.forValue(spark, idx, 103)) ==
      canon(Collections.read(spark, dir).filter(col("label") === 103)))
  }

  test("RANGE payload index refresh over the change feed equals a full " +
       "rebuild (pinned origin/width — no boundary drift)") {
    import graft.sources.PayloadIndex
    val root = SparkSpec.tempDir("graft-pridxr").toString
    val dir = s"$root/coll"
    val sink = new Collections.ParquetCollectionSink(spark, dir,
      VectorConfig(64), "embedding", "vec_id", "seq")
    val emb = Tables.load(spark, sf, "embeddings").limit(200)
      // an integral payload key with range structure
      .withColumn("score_i", (col("vec_id") * 7 % 100).cast("long"))
    sink.write(emb.withColumn("seq", lit(0)))
    val idx = s"$root/pridx"
    val v0 = PayloadIndex.buildRangeFromCollection(spark, dir, idx,
      "score_i", "vec_id", origin = 0L, width = 10L)
    assert(PayloadIndex.kindOf(idx) == "range")

    // serving parity before mutations
    def canon(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select("vec_id").collect().map(_.getLong(0)).toSeq.sorted
    assert(canon(PayloadIndex.forRange(spark, idx,
        gte = Some(20L), lt = Some(40L))) ==
      canon(Collections.read(spark, dir)
        .filter(col("score_i") >= 20 && col("score_i") < 40)))

    // mutations: move some keys across range buckets, delete others
    sink.write(emb.filter(col("vec_id") % 10 === 0)
      .withColumn("score_i", col("score_i") + 55)
      .withColumn("seq", lit(1)))
    Collections.deleteWhere(spark, dir, col("vec_id") % 7 === 0, "vec_id")

    PayloadIndex.refresh(spark, dir, idx, "vec_id", v0)
    val idx2 = s"$root/pridx_full"
    PayloadIndex.buildRangeFromCollection(spark, dir, idx2,
      "score_i", "vec_id", origin = 0L, width = 10L)
    def rows(p: String): Seq[String] =
      spark.read.parquet(p).select("vec_id", "score_i", "pbucket")
        .collect().map(_.toSeq.toString).toSeq.sorted
    assert(rows(idx) == rows(idx2),
      "incrementally-maintained range index diverges from a full rebuild")
    assert(rows(idx).nonEmpty)
    // post-refresh serving parity (covers rows moved across buckets)
    assert(canon(PayloadIndex.forRange(spark, idx,
        gte = Some(100L), lte = Some(154L))) ==
      canon(Collections.read(spark, dir).filter(col("score_i") >= 100 &&
        col("score_i") <= 154)))
  }

  test("GEO payload index refresh over the change feed equals a full " +
       "rebuild (pure-function cells — no drift); box and radius reads " +
       "stay row-identical to the unindexed predicates after rows move " +
       "across cells") {
    import graft.sources.PayloadIndex
    val root = SparkSpec.tempDir("graft-pgidx").toString
    val dir = s"$root/coll"
    val sink = new Collections.ParquetCollectionSink(spark, dir,
      VectorConfig(64), "embedding", "vec_id", "seq")
    val emb = VectorQueries.geoLocated(
      Tables.load(spark, sf, "embeddings").limit(200))
    sink.write(emb.withColumn("seq", lit(0)))
    val idx = s"$root/pgidx"
    val v0 = PayloadIndex.buildGeoFromCollection(spark, dir, idx,
      "location", "vec_id")
    assert(PayloadIndex.kindOf(idx) == "geo")
    assert(PayloadIndex.keyOf(idx) == "location")

    def canon(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select("vec_id").collect().map(_.getLong(0)).toSeq.sorted
    def boxPred = {
      val la = col("location.lat").cast("double")
      val lo = col("location.lon").cast("double")
      la <= lit(50.0) && la >= lit(-50.0) &&
        lo >= lit(-90.0) && lo <= lit(90.0)
    }
    assert(canon(PayloadIndex.forGeoBox(spark, idx,
        50.0, -90.0, -50.0, 90.0)) ==
      canon(Collections.read(spark, dir).filter(boxPred)))

    // mutations: REFLECT some points' latitude (moves them across plat
    // cells), delete others — the refresh must move rows between cell
    // dirs, not just rewrite in place
    sink.write(emb.filter(col("vec_id") % 10 === 0)
      .withColumn("location", struct(
        (col("location.lat") * lit(-1.0)).as("lat"),
        col("location.lon").as("lon")))
      .withColumn("seq", lit(1)))
    Collections.deleteWhere(spark, dir, col("vec_id") % 7 === 0, "vec_id")

    PayloadIndex.refresh(spark, dir, idx, "vec_id", v0)
    val idx2 = s"$root/pgidx_full"
    PayloadIndex.buildGeoFromCollection(spark, dir, idx2,
      "location", "vec_id")
    def rows(p: String): Seq[String] =
      spark.read.parquet(p)
        .select(col("vec_id"), col("location.lat"), col("location.lon"),
          col("plat"), col("plon"))
        .collect().map(_.toSeq.toString).toSeq.sorted
    assert(rows(idx) == rows(idx2),
      "incrementally-maintained geo index diverges from a full rebuild")
    assert(rows(idx).nonEmpty)
    // post-refresh serving parity, box AND radius (haversine residual)
    assert(canon(PayloadIndex.forGeoBox(spark, idx,
        50.0, -90.0, -50.0, 90.0)) ==
      canon(Collections.read(spark, dir).filter(boxPred)))
    assert(canon(PayloadIndex.forGeoRadius(spark, idx,
        20.0, 30.0, 4000e3)) ==
      canon(Collections.read(spark, dir).filter(
        graft.operators.PayloadFilter.geoRadiusPred(
          col("location.lat").cast("double"),
          col("location.lon").cast("double"),
          lit(20.0), lit(30.0), lit(4000e3)))))
  }

  test("quantized-codes sidecar refresh over the change feed equals a " +
       "full rebuild; untouched bucket dirs are physically untouched") {
    import graft.sources.QuantIndex
    val root = SparkSpec.tempDir("graft-qidx").toString
    val dir = s"$root/coll"
    val sink = new Collections.ParquetCollectionSink(spark, dir,
      VectorConfig(64), "embedding", "vec_id", "seq")
    val emb = Tables.load(spark, sf, "embeddings").limit(200)
    sink.write(emb.withColumn("seq", lit(0)))
    val idx = s"$root/qidx"
    val v0 = QuantIndex.buildFromCollection(spark, dir, idx,
      "vec_id", "embedding", 64)
    val m = QuantIndex.metaOf(idx)
    assert(m.idCol == "vec_id" && m.vecCol == "embedding" &&
      m.dim == 64 && m.wordBits == 32 && m.prefixDim == 16)

    def canon(p: String): Seq[String] =
      spark.read.parquet(p).drop("src_bucket")
        .collect()
        .map(r => (r.getLong(r.fieldIndex("vec_id")),
          r.getSeq[Long](r.fieldIndex("bq")),
          r.getDouble(r.fieldIndex("mn")),
          r.getDouble(r.fieldIndex("mx")),
          r.getSeq[Int](r.fieldIndex("codes")),
          r.getSeq[Float](r.fieldIndex("prefix"))).toString)
        .toSeq.sorted

    assert(canon(idx).nonEmpty)

    // mutations: re-embed (vector changes → codes must change), delete
    sink.write(emb.filter(col("vec_id") % 10 === 0)
      .withColumn("embedding", reverse(col("embedding")).cast("array<float>"))
      .withColumn("seq", lit(1)))
    Collections.deleteWhere(spark, dir, col("vec_id") % 7 === 0, "vec_id")

    val nb = Collections.numBuckets(dir)
    val touched = emb
      .filter(col("vec_id") % 10 === 0 || col("vec_id") % 7 === 0)
      .select(pmod(hash(col("vec_id")), lit(nb)))
      .distinct().collect().map(_.getInt(0)).toSet
    val untouched = (0 until nb).find(b => !touched.contains(b) &&
      Files.exists(java.nio.file.Paths.get(idx, s"src_bucket=$b")))
    def listing(b: Int): Set[(String, Long)] = {
      import scala.jdk.CollectionConverters._
      val walk = Files.walk(java.nio.file.Paths.get(idx, s"src_bucket=$b"))
      try walk.iterator().asScala
        .filter(Files.isRegularFile(_))
        .map(p => p.toString -> Files.getLastModifiedTime(p).toMillis)
        .toSet
      finally walk.close()
    }
    val preListing = untouched.map(listing)

    QuantIndex.refresh(spark, dir, idx, v0)
    untouched.foreach(b => assert(listing(b) == preListing.get,
      s"untouched bucket $b sidecar files were rewritten"))

    val idx2 = s"$root/qidx_full"
    QuantIndex.buildFromCollection(spark, dir, idx2,
      "vec_id", "embedding", 64)
    assert(canon(idx) == canon(idx2),
      "incrementally-maintained codes sidecar diverges from a full rebuild")
    assert(canon(idx).nonEmpty)

    // and the refreshed sidecar still serves: hamming stage returns rows
    // for a live query and none for deleted ids
    val q = Collections.read(spark, dir).filter(col("vec_id") === 1)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    val hits = QuantIndex.hammingTopN(spark, idx, q, 10)
      .select("vec_id").collect().map(_.getLong(0))
    assert(hits.length == 10 && !hits.exists(_ % 7 == 0),
      "deleted rows survive in the refreshed sidecar")
  }

  test("PQ codes sidecar refresh encodes with the PINNED codebooks and " +
       "equals a rebuild with the same codebooks") {
    import graft.sources.PqIndex
    import graft.operators.Pq
    val root = SparkSpec.tempDir("graft-pqidxr").toString
    val dir = s"$root/coll"
    val sink = new Collections.ParquetCollectionSink(spark, dir,
      VectorConfig(64), "embedding", "vec_id", "seq")
    val emb = Tables.load(spark, sf, "embeddings").limit(200)
    sink.write(emb.withColumn("seq", lit(0)))
    // train ONCE on the initial state — the pin under test
    val cbs = Pq.trainCodebooks(Collections.read(spark, dir),
      "vec_id", "embedding", 4, 16, 8, 1)
    val idx = s"$root/pqidx"
    val v0 = PqIndex.buildFromCollection(spark, dir, idx,
      "vec_id", "embedding", cbs, 16)

    sink.write(emb.filter(col("vec_id") % 10 === 0)
      .withColumn("embedding", reverse(col("embedding")).cast("array<float>"))
      .withColumn("seq", lit(1)))
    Collections.deleteWhere(spark, dir, col("vec_id") % 7 === 0, "vec_id")

    PqIndex.refresh(spark, dir, idx, v0)
    // rebuild with the SAME pinned codebooks (retraining would be a new
    // index — the IVF re-clustering contract)
    val idx2 = s"$root/pqidx_full"
    PqIndex.buildFromCollection(spark, dir, idx2,
      "vec_id", "embedding", cbs, 16)
    def rows(p: String): Seq[String] =
      spark.read.parquet(p).drop("src_bucket")
        .collect()
        .map(r => (r.getLong(r.fieldIndex("vec_id")),
          r.getSeq[Int](r.fieldIndex("codes"))).toString)
        .toSeq.sorted
    assert(rows(idx) == rows(idx2),
      "incrementally-maintained PQ sidecar diverges from a rebuild")
    assert(rows(idx).nonEmpty)
    // deleted rows are gone; re-vectored rows re-encoded (spot check:
    // serving returns only live ids)
    val hits = PqIndex.adcTopN(spark, idx,
        Collections.read(spark, dir).filter(col("vec_id") === 1)
          .select(col("embedding").cast("array<double>"))
          .head().getSeq[Double](0).map(Pq.microQ).toArray, 10)
      .select("vec_id").collect().map(_.getLong(0))
    assert(hits.length == 10 && !hits.exists(_ % 7 == 0))
  }

  test("IVF+PQ layout refresh re-assigns with the PINNED centroids and " +
       "re-encodes with the PINNED codebooks; a re-vectored row MOVES " +
       "to its new cluster partition; refresh equals a rebuild") {
    import graft.sources.IvfPqIndex
    import graft.operators.{Ann, Pq}
    val root = SparkSpec.tempDir("graft-ivfpqr").toString
    val dir = s"$root/coll"
    val sink = new Collections.ParquetCollectionSink(spark, dir,
      VectorConfig(64), "embedding", "vec_id", "seq")
    val emb = Tables.load(spark, sf, "embeddings").limit(200)
    sink.write(emb.withColumn("seq", lit(0)))
    // train BOTH artifacts once on the initial state — the pins under test
    val coll0 = Collections.read(spark, dir)
    val cbs = Pq.trainCodebooks(coll0, "vec_id", "embedding", 4, 16, 8, 1)
    val centroids = Ann.kmeansFit(coll0, "vec_id", "embedding", 8, 2)
    val idx = s"$root/ivfpqidx"
    val v0 = IvfPqIndex.buildFromCollection(spark, dir, idx,
      "vec_id", "embedding", centroids, cbs, 16)

    def clusterOf(p: String, id: Long): Long =
      spark.read.parquet(p).filter(col("vec_id") === id)
        .select(col("cluster").cast("long")).head().getLong(0)

    // pick a row and the centroid of a DIFFERENT cluster; re-vectoring
    // the row to that centroid guarantees its argmin moves there (its
    // distance to that centroid is ~0, every other is > 0)
    val victim = 1L
    val before = clusterOf(idx, victim)
    val targetCluster = centroids
      .filter(col("cid") =!= before).orderBy("cid")
      .head()
    val (targetCid, targetCv) =
      (targetCluster.getLong(0), targetCluster.getSeq[Double](1))
    sink.write(emb.filter(col("vec_id") === victim)
      .withColumn("embedding",
        typedLit(targetCv.map(_.toFloat)).cast("array<float>"))
      .withColumn("seq", lit(1)))
    Collections.deleteWhere(spark, dir, col("vec_id") % 7 === 0, "vec_id")

    IvfPqIndex.refresh(spark, dir, idx, v0)

    // the re-vectored row physically moved to the target cluster's dir
    assert(clusterOf(idx, victim) == targetCid,
      s"re-vectored row should now live in cluster=$targetCid")

    // refresh == rebuild with the SAME pinned artifacts
    val idx2 = s"$root/ivfpqidx_full"
    IvfPqIndex.buildFromCollection(spark, dir, idx2,
      "vec_id", "embedding", centroids, cbs, 16)
    def rows(p: String): Seq[String] =
      spark.read.parquet(p).drop("src_bucket")
        .collect()
        .map(r => (r.getLong(r.fieldIndex("vec_id")),
          r.getSeq[Int](r.fieldIndex("codes")),
          r.getAs[Number](r.fieldIndex("cluster")).longValue).toString)
        .toSeq.sorted
    assert(rows(idx) == rows(idx2),
      "incrementally-maintained IVF+PQ layout diverges from a rebuild")
    assert(rows(idx).nonEmpty)

    // serving over the refreshed layout returns only live ids
    val qv = Collections.read(spark, dir).filter(col("vec_id") === 1)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0)
    val hits = IvfPqIndex.adcTopN(spark, idx, qv, 2, 10)
      .select("vec_id").collect()
      .map(r => r.getAs[Number](0).longValue)
    assert(hits.length == 10 && !hits.exists(_ % 7 == 0),
      "deleted rows survive in the refreshed IVF+PQ layout")
  }

  test("payload field index: a STRING key probed with a numeric literal " +
       "serves via the unindexed coercion fallback — no under-return") {
    import graft.sources.PayloadIndex
    val root = SparkSpec.tempDir("graft-pidxs").toString
    val dir = s"$root/coll"
    val sink = new Collections.ParquetCollectionSink(spark, dir,
      VectorConfig(64), "embedding", "vec_id", "seq")
    // string codes WITH leading zeros: '03' = 3 is TRUE under the
    // unindexed numeric coercion but hash("03") != hash("3") — the case
    // where pbucket routing on the rendered literal cannot reach the row
    sink.write(Tables.load(spark, sf, "embeddings").limit(100)
      .withColumn("code", format_string("%02d", pmod(col("vec_id"), lit(10))))
      .withColumn("seq", lit(0)))
    val idx = s"$root/pidx"
    PayloadIndex.buildFromCollection(spark, dir, idx, "code", "vec_id")
    assert(PayloadIndex.keyTypeOf(idx) == "string")
    val coll = Collections.read(spark, dir)
    def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select("vec_id").collect().map(_.getLong(0)).toSeq.sorted
    // string probe: routed + pruned, row-identical
    assert(ids(PayloadIndex.forValue(spark, idx, "03")) ==
      ids(coll.filter(col("code") === "03")))
    // numeric probe: the unindexed comparison matches '03' rows; the
    // indexed read must return the same set, not silently drop them
    val unidx = ids(coll.filter(col("code") === 3))
    assert(unidx.nonEmpty, "fixture lost the coercion-match rows")
    assert(ids(PayloadIndex.forValue(spark, idx, 3)) == unidx,
      "numeric probe against a string key under-returned")
    assert(ids(PayloadIndex.forValues(spark, idx, Seq(3, "04"))) ==
      ids(coll.filter(col("code") === 3 || col("code") === "04")),
      "mixed-type IN against a string key under-returned")
  }

  test("sparse index refresh over the change feed equals a full rebuild; " +
       "untouched bucket dirs are physically untouched") {
    import graft.sources.SparseIndex
    val root = SparkSpec.tempDir("graft-sparse").toString
    val dir = s"$root/c15"
    val sink = new Collections.ParquetCollectionSink(spark, dir,
      VectorConfig(2), "vec", "doc_id", "seq")
    val docs = Tables.load(spark, sf, "documents").limit(200)
      .select(col("doc_id"), col("text"))
      .withColumn("vec", array(lit(0.0f), lit(1.0f)))
    sink.write(docs.withColumn("seq", lit(0)))
    val idx = s"$root/sidx"
    val v0 = SparseIndex.build(spark, dir, idx, "doc_id", "text")

    // mutations: re-text some docs via upsert, delete others
    sink.write(docs.filter(col("doc_id") % 10 === 0)
      .withColumn("text", concat(col("text"), lit(" extra planted token")))
      .withColumn("seq", lit(1)))
    Collections.deleteWhere(spark, dir, col("doc_id") % 7 === 0, "doc_id")

    val nb = Collections.numBuckets(dir)
    val touched = docs
      .filter(col("doc_id") % 10 === 0 || col("doc_id") % 7 === 0)
      .select(pmod(hash(col("doc_id")), lit(nb)))
      .distinct().collect().map(_.getInt(0)).toSet
    val untouched = (0 until nb).find(b => !touched.contains(b) &&
      Files.exists(java.nio.file.Paths.get(idx, s"src_bucket=$b")))
    def listing(b: Int): Set[(String, Long)] = {
      import scala.jdk.CollectionConverters._
      val walk = Files.walk(java.nio.file.Paths.get(idx, s"src_bucket=$b"))
      try walk.iterator().asScala
        .filter(Files.isRegularFile(_))
        .map(p => p.toString -> Files.getLastModifiedTime(p).toMillis)
        .toSet
      finally walk.close()
    }
    val preListing = untouched.map(listing)

    SparseIndex.refresh(spark, dir, idx, "doc_id", "text", v0)
    untouched.foreach(b => assert(listing(b) == preListing.get,
      s"untouched bucket $b posting files were rewritten"))

    // row-for-row (multiset) equality with a full rebuild
    val idx2 = s"$root/sidx_full"
    SparseIndex.build(spark, dir, idx2, "doc_id", "text")
    def rows(p: String): Seq[String] =
      spark.read.parquet(p)
        .select(col("doc_id"), col("sbucket"), col("tf"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)).toString)
        .toSeq.sorted
    assert(rows(idx) == rows(idx2),
      "incrementally-maintained sparse index diverges from a full rebuild")
    assert(rows(idx).nonEmpty)
  }

  test("lex postings refresh over the change feed equals a full rebuild " +
       "(postings AND pinned stats); untouched bucket dirs physically " +
       "untouched; BM25 served from the refreshed layout equals the " +
       "in-plan operator over the current collection") {
    import graft.sources.LexIndex
    val root = SparkSpec.tempDir("graft-lex").toString
    val dir = s"$root/c16"
    val sink = new Collections.ParquetCollectionSink(spark, dir,
      VectorConfig(2), "vec", "doc_id", "seq")
    val docs = Tables.load(spark, sf, "documents").limit(200)
      .select(col("doc_id"), col("text"))
      .withColumn("vec", array(lit(0.0f), lit(1.0f)))
    sink.write(docs.withColumn("seq", lit(0)))
    val idx = s"$root/lidx"
    val v0 = LexIndex.build(spark, dir, idx, "doc_id", "text")

    sink.write(docs.filter(col("doc_id") % 10 === 0)
      .withColumn("text", concat(col("text"), lit(" extra planted token")))
      .withColumn("seq", lit(1)))
    Collections.deleteWhere(spark, dir, col("doc_id") % 7 === 0, "doc_id")

    val nb = Collections.numBuckets(dir)
    val touched = docs
      .filter(col("doc_id") % 10 === 0 || col("doc_id") % 7 === 0)
      .select(pmod(hash(col("doc_id")), lit(nb)))
      .distinct().collect().map(_.getInt(0)).toSet
    val untouched = (0 until nb).find(b => !touched.contains(b) &&
      Files.exists(java.nio.file.Paths.get(idx, s"src_bucket=$b")))
    def listing(b: Int): Set[(String, Long)] = {
      import scala.jdk.CollectionConverters._
      val walk = Files.walk(java.nio.file.Paths.get(idx, s"src_bucket=$b"))
      try walk.iterator().asScala
        .filter(Files.isRegularFile(_))
        .map(p => p.toString -> Files.getLastModifiedTime(p).toMillis)
        .toSet
      finally walk.close()
    }
    val preListing = untouched.map(listing)

    LexIndex.refresh(spark, dir, idx, v0)
    untouched.foreach(b => assert(listing(b) == preListing.get,
      s"untouched bucket $b posting files were rewritten"))

    val idx2 = s"$root/lidx_full"
    LexIndex.build(spark, dir, idx2, "doc_id", "text")
    def rows(p: String): Seq[String] =
      spark.read.parquet(p)
        .select(col("doc_id"), col("tok"), col("tf"), col("len"))
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getLong(3)).toString)
        .toSeq.sorted
    assert(rows(idx) == rows(idx2),
      "incrementally-maintained lex index diverges from a full rebuild")
    assert(rows(idx).nonEmpty)
    assert(LexIndex.corpusStats(spark, idx) ==
      LexIndex.corpusStats(spark, idx2),
      "refreshed pinned stats diverge from a rebuild's")

    // BM25 from the refreshed layout == the in-plan operator over the
    // CURRENT collection (serving from a maintained layout must not
    // change a score)
    val terms = Seq("data", "query", "extra")
    val served = LexIndex.bm25(spark, idx, terms)
      .collect().map(_.toSeq).toSet
    val inPlan = graft.operators.TextAnalysis.bm25(
        Collections.read(spark, dir), "doc_id", "text", terms)
      .select("doc_id", "bm25_micro", "n_terms_hit")
      .collect().map(_.toSeq).toSet
    assert(served == inPlan,
      "BM25 served from the refreshed lex layout diverges from in-plan")
  }

  test("tenant layout refresh over the change feed equals a full rebuild; " +
       "untouched bucket leaves are physically untouched") {
    import graft.sources.Tenancy
    val root = SparkSpec.tempDir("graft-ten").toString
    val dir = s"$root/c14"
    val sink = new Collections.ParquetCollectionSink(spark, dir,
      VectorConfig(64), "embedding", "vec_id", "seq")
    val emb = Tables.load(spark, sf, "embeddings").limit(200)
    sink.write(emb.withColumn("seq", lit(0)))
    val layout = s"$root/layout"
    val v0 = Tenancy.buildFromCollection(spark, dir, layout, "label",
      "vec_id")

    // mutate: payload change (label move!) + delete
    Collections.setPayloadWhere(spark, dir, col("vec_id") % 9 === 0,
      "vec_id", Map("label" -> lit(7)))
    Collections.deleteWhere(spark, dir, col("vec_id") % 13 === 0, "vec_id")

    val nb = Collections.numBuckets(dir)
    val touched = emb
      .filter(col("vec_id") % 9 === 0 || col("vec_id") % 13 === 0)
      .select(pmod(hash(col("vec_id")), lit(nb)))
      .distinct().collect().map(_.getInt(0)).toSet
    // pick an untouched (tenant dir, bucket leaf) that exists and snapshot it
    def leaves(): Seq[java.nio.file.Path] = {
      import scala.jdk.CollectionConverters._
      val s1 = Files.list(java.nio.file.Paths.get(layout))
      try s1.iterator().asScala
        .filter(d => d.getFileName.toString.startsWith("label="))
        .flatMap { td =>
          val s2 = Files.list(td)
          try s2.iterator().asScala
            .filter(_.getFileName.toString.startsWith("bucket=")).toList
          finally s2.close()
        }.toSeq
      finally s1.close()
    }
    val untouchedLeaf = leaves().find(p =>
      !touched.contains(p.getFileName.toString.stripPrefix("bucket=").toInt))
    def listing(p: java.nio.file.Path): Set[(String, Long)] = {
      import scala.jdk.CollectionConverters._
      val walk = Files.walk(p)
      try walk.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString -> Files.getLastModifiedTime(f).toMillis).toSet
      finally walk.close()
    }
    val pre = untouchedLeaf.map(listing)

    Tenancy.refresh(spark, dir, layout, "label", "vec_id", v0)
    untouchedLeaf.foreach(p => assert(listing(p) == pre.get,
      s"untouched leaf $p rewritten"))

    // row-for-row vs a full rebuild (multiset)
    val full = s"$root/layout_full"
    Tenancy.buildFromCollection(spark, dir, full, "label", "vec_id")
    def rows(p: String): Seq[String] =
      spark.read.parquet(p).select("vec_id", "label")
        .collect().map(r => (r.getLong(0), r.getInt(1)).toString).toSeq.sorted
    assert(rows(layout) == rows(full),
      "refreshed tenant layout diverges from a full rebuild")
    assert(rows(layout).nonEmpty)
    // moved points serve from their NEW tenant
    val t7 = Tenancy.forTenant(spark, layout, "label", 7)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val expect7 = Collections.read(spark, dir).filter(col("label") === 7)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(t7 == expect7, "tenant view diverges after the label move")
  }

  test("management surface: list / scroll / delete") {
    val root = SparkSpec.tempDir("graft-mgmt").toString
    val emb = Tables.load(spark, sf, "embeddings").withColumn("seq", lit(0))
    Seq("alpha", "beta").foreach { name =>
      new Collections.ParquetCollectionSink(spark, s"$root/$name",
        VectorConfig(64), "embedding", "vec_id", "seq").write(emb.limit(30))
    }
    Files.createDirectories(java.nio.file.Paths.get(s"$root/not_a_coll"))
    assert(Collections.list(root) == Seq("alpha", "beta"))

    // scroll: pages are disjoint, ordered, and cover the collection
    val (p1, o1) = Collections.scroll(spark, s"$root/alpha", "vec_id",
      None, 12)
    val (p2, o2) = Collections.scroll(spark, s"$root/alpha", "vec_id",
      o1, 12)
    val (p3, o3) = Collections.scroll(spark, s"$root/alpha", "vec_id",
      o2, 12)
    val ids = Seq(p1, p2, p3).flatMap(_.select("vec_id").collect()
      .map(_.getLong(0)))
    assert(ids == ids.sorted && ids.distinct.size == 30)
    assert(o3.isEmpty, "last page must end the scroll")
    // filtered scroll composes with the DSL
    val (pf, _) = Collections.scroll(spark, s"$root/alpha", "vec_id",
      None, 100, Some(graft.operators.PayloadFilter.fromJson(
        """{"key": "label", "match": {"value": 3}}""")))
    assert(pf.collect().forall(_.getAs[Int]("label") == 3))

    Collections.delete(s"$root/beta")
    assert(Collections.list(root) == Seq("alpha"))
    assert(!Collections.exists(s"$root/beta"))

    // the scroll offset predicate pushes to the parquet scan
    val plan = Collections.read(spark, s"$root/alpha")
      .filter(col("vec_id") > lit(11L)).orderBy(col("vec_id")).limit(12)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThan"),
      s"scroll offset not pushed down:\n$plan")
  }

  test("upsert: same id overwrites (keep-last by sequence), dims enforced") {
    val dir = SparkSpec.tempDir("graft-coll").toString + "/c2"
    val sink = new Collections.ParquetCollectionSink(spark, dir,
      VectorConfig(64), "embedding", "vec_id", "seq")
    val emb = Tables.load(spark, sf, "embeddings").limit(50)

    sink.write(emb.withColumn("seq", lit(0)))
    assert(Collections.read(spark, dir).count() == 50)

    // second batch: 10 overwrites with label bumped +100, 5 new ids,
    // 3 invalid rows (wrong dim) that must be rejected
    val overwrite = emb.filter(col("vec_id") < 10)
      .withColumn("label", col("label") + 100).withColumn("seq", lit(1))
    val fresh = emb.filter(col("vec_id") < 5)
      .withColumn("vec_id", col("vec_id") + 10000).withColumn("seq", lit(1))
    val bad = emb.filter(col("vec_id") < 3)
      .withColumn("vec_id", col("vec_id") + 20000)
      .withColumn("embedding", slice(col("embedding"), 1, 8))
      .withColumn("seq", lit(1))
    sink.write(overwrite.unionByName(fresh).unionByName(bad))

    val now = Collections.read(spark, dir)
    assert(now.count() == 55) // 50 + 5 new, bad rejected
    assert(now.filter(col("vec_id") < 10 && col("label") >= 100).count() == 10)
    assert(now.filter(col("vec_id") >= 20000).count() == 0)
    // every stored vector satisfies the declared dim
    assert(now.filter(size(col("embedding")) =!= 64).count() == 0)
  }

  test("compact folds many generations into one; data byte-identical; " +
       "feed reports every bucket moved") {
    val dir = SparkSpec.tempDir("graft-coll").toString + "/c10"
    val sink = new Collections.ParquetCollectionSink(spark, dir,
      VectorConfig(64), "embedding", "vec_id", "seq")
    val emb = Tables.load(spark, sf, "embeddings").limit(120)
    sink.write(emb.withColumn("seq", lit(0)))
    // two incremental writes → at least three generation directories
    sink.write(emb.filter(col("vec_id") === 3).withColumn("seq", lit(1)))
    sink.write(emb.filter(col("vec_id") === 5).withColumn("seq", lit(2)))
    def gens(): Set[String] = {
      val m = new String(Files.readAllBytes(
        java.nio.file.Paths.get(s"$dir/_manifest.json")), "UTF-8")
      """g\d+""".r.findAllIn(m).toSet
    }
    assert(gens().size >= 2, s"expected a multi-generation view: ${gens()}")
    val before = Collections.read(spark, dir)
      .orderBy("vec_id").collect().toSeq
    val vPre = Collections.manifestView(dir)

    Collections.compact(spark, dir, "vec_id")

    assert(gens().size == 1, s"compact must fold to one generation: ${gens()}")
    val after = Collections.read(spark, dir)
      .orderBy("vec_id").collect().toSeq
    assert(after == before, "compact changed the data")
    // the point of compaction: ONE data file per live bucket
    Collections.manifestView(dir).buckets.values.foreach { rel =>
      val n = Files.list(java.nio.file.Paths.get(s"$dir/data/$rel"))
        .filter(_.toString.endsWith(".parquet")).count()
      assert(n == 1, s"bucket $rel has $n files after compact")
    }
    // every live bucket moved → the change feed reports all of them
    val (_, delta, dropped) = Collections.changedSince(spark, dir, vPre)
    assert(dropped.isEmpty)
    assert(delta.count() == before.size)
  }

  test("change feed: consumers re-read only buckets a write touched; " +
       "idle polls are empty; full-bucket deletes are reported") {
    val dir = SparkSpec.tempDir("graft-coll").toString + "/c9"
    val sink = new Collections.ParquetCollectionSink(spark, dir,
      VectorConfig(64), "embedding", "vec_id", "seq")
    val emb = Tables.load(spark, sf, "embeddings").limit(200)
    sink.write(emb.withColumn("seq", lit(0)))

    // first sync: everything is new relative to the empty cursor
    val v0 = Collections.ManifestView(0, Map.empty)
    val (v1, all, d1) = Collections.changedSince(spark, dir, v0)
    assert(all.count() == 200 && d1.isEmpty)

    // idle poll: same view → nothing to read
    val (v1b, none, d2) = Collections.changedSince(spark, dir, v1)
    assert(v1b == v1 && none.count() == 0 && d2.isEmpty)

    // a one-id write: the feed carries exactly that bucket's rows
    val one = emb.filter(col("vec_id") === 7)
      .withColumn("label", col("label") + 100).withColumn("seq", lit(1))
    sink.write(one)
    val touched = one
      .select(pmod(hash(col("vec_id")), lit(Collections.numBuckets(dir))))
      .head().getInt(0)
    val (v2, delta, d3) = Collections.changedSince(spark, dir, v1)
    assert(d3.isEmpty)
    val expected = Collections.read(spark, dir)
      .filter(pmod(hash(col("vec_id")),
        lit(Collections.numBuckets(dir))) === touched)
    assert(delta.count() == expected.count())
    assert(delta.filter(col("vec_id") === 7).head()
      .getAs[Int]("label") >= 100)

    // deleting every row of the touched bucket drops it from the manifest
    Collections.deleteWhere(spark, dir,
      pmod(hash(col("vec_id")), lit(Collections.numBuckets(dir)))
        === touched, "vec_id")
    val (_, after, d4) = Collections.changedSince(spark, dir, v2)
    assert(d4 == Set(touched), s"expected dropped bucket $touched, got $d4")
    assert(after.count() == 0)

    // delete EVERYTHING: the poll must still succeed (empty frame, all
    // remaining buckets reported dropped), not crash on a schema-less dir
    val vCur = Collections.manifestView(dir)
    Collections.deleteWhere(spark, dir, lit(true), "vec_id")
    val (vEmpty, none2, dAll) = Collections.changedSince(spark, dir, vCur)
    assert(vEmpty.buckets.isEmpty && none2.count() == 0)
    assert(dAll == vCur.buckets.keySet)
    // ...and SCHEMA-STABLE: a consumer unioning successive polls must not
    // hit an AnalysisException on the emptied-collection poll (analysis
    // only — `all`'s generation files were GC'd by the later writes)
    assert(none2.schema.fieldNames.toSet == all.schema.fieldNames.toSet,
      s"emptied-collection poll lost the feed schema: ${none2.schema}")
    assert(all.unionByName(none2).queryExecution.analyzed != null)
    // idle poll of the emptied collection is also fine
    val (_, none3, dNone) = Collections.changedSince(spark, dir, vEmpty)
    assert(none3.count() == 0 && dNone.isEmpty)
    assert(none3.schema.fieldNames.toSet == all.schema.fieldNames.toSet)
  }

  test("serving-read memo: every mutation verb evicts — serving after " +
       "build/refresh/retrain sees the new layout state, and eviction " +
       "is prefix-wide (subdir reads like _codebooks drop too)") {
    import graft.sources.{Drift, PqIndex, QuantIndex, ServedReads}
    import graft.operators.Pq
    val root = SparkSpec.tempDir("graft-memo").toString
    val dir = s"$root/coll"
    val sink = new Collections.ParquetCollectionSink(spark, dir,
      VectorConfig(64), "embedding", "vec_id", "seq")
    val emb = Tables.load(spark, sf, "embeddings").limit(100)
    sink.write(emb.withColumn("seq", lit(0)))
    val qIdx = s"$root/quant"
    val v0 = QuantIndex.buildFromCollection(spark, dir, qIdx,
      "vec_id", "embedding", 64)
    // memoize the serving read
    val before = QuantIndex.read(spark, qIdx).count()
    assert(before == 100)
    // mutate the collection and refresh the sidecar — serving must see
    // the refreshed state (a stale memo would keep serving 100 rows)
    Collections.deleteWhere(spark, dir, col("vec_id") < 50, "vec_id")
    QuantIndex.refresh(spark, dir, qIdx, v0)
    assert(QuantIndex.read(spark, qIdx).count() ==
      Collections.read(spark, dir).count(),
      "stale serving memo survived a refresh")
    // retrain path (whole-layout staged swap) evicts too, incl. the
    // _codebooks SUBDIR read (prefix eviction)
    def cbs(pts: org.apache.spark.sql.DataFrame) =
      Pq.trainCodebooks(pts, "vec_id", "embedding", m = 4, subDim = 16,
        k = 8, iters = 1)
    val pqIdx = s"$root/pq"
    PqIndex.build(Collections.read(spark, dir), "vec_id", "embedding",
      cbs(Collections.read(spark, dir)), 16, pqIdx,
      Collections.numBuckets(dir))
    val cb0 = PqIndex.codebooksOf(spark, pqIdx) // memoizes _codebooks
    sink.write(emb.filter(col("vec_id") >= 50)
      .withColumn("embedding",
        transform(col("embedding"), x => -x).cast("array<float>"))
      .withColumn("seq", lit(1)))
    PqIndex.retrain(spark, dir, pqIdx, "vec_id", "embedding", cbs, 16)
    val cb1 = PqIndex.codebooksOf(spark, pqIdx)
    assert(!cb0.flatten.map(_._2.toSeq).sameElements(
        cb1.flatten.map(_._2.toSeq)),
      "stale _codebooks memo survived a retrain (prefix evict broken)")
    // direct eviction is prefix-safe: "a/b" does not evict "a/bc"
    ServedReads.evict(pqIdx)
    assert(PqIndex.codebooksOf(spark, pqIdx).nonEmpty)
  }

  test("drift + staged retrain: a distribution shift raises the HDR " +
       "assignment-distance signal, pinned-artifact probe recall " +
       "degrades, retrain restores it, and the refresh contract holds " +
       "before AND after the retrain") {
    import graft.sources.{Drift, IvfIndex}
    import graft.operators.Ann
    val root = SparkSpec.tempDir("graft-drift").toString
    val dir = s"$root/coll"
    val sink = new Collections.ParquetCollectionSink(spark, dir,
      VectorConfig(64), "embedding", "vec_id", "seq")
    val emb = Tables.load(spark, sf, "embeddings").limit(300)
    sink.write(emb.withColumn("seq", lit(0)))
    def train(pts: org.apache.spark.sql.DataFrame) =
      Ann.kmeansFit(pts, "vec_id", "embedding", k = 8, iters = 2)
    val cents0 = train(Collections.read(spark, dir))
    val idx = s"$root/idx"
    val v0 = IvfIndex.build(spark, dir, idx, "vec_id", "embedding",
      cents0, "cid", "cv")
    Drift.snapshotAssignment(idx, Collections.read(spark, dir),
      "embedding", cents0)
    // no shift → the signal is exactly 1 (same data, same pinned
    // centroids, deterministic sketch)
    assert(Drift.assignmentRatio(spark, idx, Collections.read(spark, dir),
      "embedding", cents0) == 1.0)

    // SYNTHETIC SHIFT (a re-embedding with a new model: direction AND
    // magnitude change): dimensions rolled by 17 and the vector scaled
    // 2.5× — a scaled permutation, so cosine neighborhoods are
    // PRESERVED (orthogonal + scale-invariant) while the pinned
    // centroids, trained pre-shift, stop describing any cell (the roll
    // scrambles assignment) and every point sits farther from all of
    // them (the scale moves the distance quantile): exactly the silent
    // degradation drift maintenance exists to catch
    sink.write(emb.withColumn("embedding",
        transform(concat(slice(col("embedding"), 18, 47),
          slice(col("embedding"), 1, 17)), x => x * 2.5f)
          .cast("array<float>"))
      .withColumn("seq", lit(1)))
    // refresh contract intact under the PINNED artifacts
    val v1 = IvfIndex.refresh(spark, dir, idx, "vec_id", "embedding",
      cents0, "cid", "cv", v0)
    def rows(p: String): Seq[String] =
      spark.read.parquet(p)
        .select(col("vec_id"), col("cluster").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1)).toString)
        .toSeq.sorted
    val idxPinnedFull = s"$root/idx_pinned_full"
    IvfIndex.build(spark, dir, idxPinnedFull, "vec_id", "embedding",
      cents0, "cid", "cv")
    assert(rows(idx) == rows(idxPinnedFull),
      "pinned-artifact refresh diverged from rebuild after the shift")
    // the signal FIRES
    val shifted = Drift.assignmentRatio(spark, idx,
      Collections.read(spark, dir), "embedding", cents0)
    assert(shifted > 1.1,
      s"drift signal $shifted did not rise on a full distribution shift")

    // probe recall@10 (nprobe 2 of 8) averaged over 3 queries
    def recall(cents: org.apache.spark.sql.DataFrame): Double = {
      val coll = Collections.read(spark, dir)
      val qs = Seq(1L, 5L, 9L).map { qid =>
        coll.filter(col("vec_id") === qid)
          .select(col("embedding").cast("array<double>"))
          .head().getSeq[Double](0)
      }
      qs.map { q =>
        val exact = graft.operators.Knn.knn(coll, "embedding", q, 10)
          .select("vec_id").collect().map(_.getLong(0)).toSet
        val probes = Ann.probeClusters(cents, "cid", "cv", q, 2)
          .collect().map(_.getLong(0))
        val got = graft.operators.Knn.knn(
            spark.read.parquet(idx).filter(
              col("cluster").isin(probes.map(Long.box): _*)),
            "embedding", q, 10)
          .select("vec_id").collect().map(_.getLong(0)).toSet
        (got & exact).size.toDouble / exact.size
      }.sum / qs.size
    }
    val pinnedRecall = recall(cents0)
    val (v2, cents1) = IvfIndex.retrain(spark, dir, idx, "vec_id",
      "embedding", train)
    val retrainedRecall = recall(cents1)
    assert(retrainedRecall > pinnedRecall,
      s"retrain did not restore recall: pinned $pinnedRecall vs " +
        s"retrained $retrainedRecall")
    // retrain reset the drift baseline (snapshot over the new data)
    assert(Drift.assignmentRatio(spark, idx, Collections.read(spark, dir),
      "embedding", cents1) == 1.0)
    // retrained layout == fresh build with the same trained artifacts
    // (the staged swap published a complete, deterministic layout)
    val idxFresh = s"$root/idx_fresh"
    IvfIndex.build(spark, dir, idxFresh, "vec_id", "embedding",
      cents1, "cid", "cv")
    assert(rows(idx) == rows(idxFresh),
      "staged retrain's layout differs from a fresh build")
    // refresh contract intact AFTER the retrain, from the new cursor
    // with the new artifacts
    Collections.deleteWhere(spark, dir, col("vec_id") % 13 === 2,
      "vec_id")
    IvfIndex.refresh(spark, dir, idx, "vec_id", "embedding",
      cents1, "cid", "cv", v2)
    val idxFull2 = s"$root/idx_full2"
    IvfIndex.build(spark, dir, idxFull2, "vec_id", "embedding",
      cents1, "cid", "cv")
    assert(rows(idx) == rows(idxFull2),
      "post-retrain refresh diverged from rebuild")
    assert(rows(idx).nonEmpty)
  }

  test("staged retrain on the other trained layouts (PqIndex, " +
       "IvfPqIndex, GraphIndex): the swapped layout equals a fresh " +
       "build with the same freshly-trained artifacts") {
    import graft.sources.{GraphIndex, IvfPqIndex, PqIndex}
    import graft.operators.{Ann, Pq}
    val root = SparkSpec.tempDir("graft-retrain").toString
    val dir = s"$root/coll"
    val sink = new Collections.ParquetCollectionSink(spark, dir,
      VectorConfig(64), "embedding", "vec_id", "seq")
    val emb = Tables.load(spark, sf, "embeddings").limit(200)
    sink.write(emb.withColumn("seq", lit(0)))
    def cents(pts: org.apache.spark.sql.DataFrame) =
      Ann.kmeansFit(pts, "vec_id", "embedding", k = 4, iters = 1)
    def cbs(pts: org.apache.spark.sql.DataFrame) =
      Pq.trainCodebooks(pts, "vec_id", "embedding", m = 4, subDim = 16,
        k = 16, iters = 1)
    val coll0 = Collections.read(spark, dir)
    // build each layout on the initial state
    val pqIdx = s"$root/pq"
    PqIndex.build(coll0, "vec_id", "embedding", cbs(coll0), 16, pqIdx,
      Collections.numBuckets(dir))
    val ivfpqIdx = s"$root/ivfpq"
    IvfPqIndex.build(coll0, "vec_id", "embedding", cents(coll0),
      cbs(coll0), 16, ivfpqIdx, Collections.numBuckets(dir))
    val gParams = GraphIndex.Params(2, 6, 4, 6, 1,
      Ann.hyperplanes(12, 64))
    val gIdx = s"$root/graph"
    GraphIndex.buildFromPoints(coll0, "vec_id", "embedding",
      Collections.numBuckets(dir), gIdx, gParams)
    // shift the collection (re-embed), then retrain each layout
    sink.write(emb.withColumn("embedding",
        transform(col("embedding"), x => -x).cast("array<float>"))
      .withColumn("seq", lit(1)))
    val coll1 = Collections.read(spark, dir)
    PqIndex.retrain(spark, dir, pqIdx, "vec_id", "embedding",
      cbs, 16)
    IvfPqIndex.retrain(spark, dir, ivfpqIdx, "vec_id", "embedding",
      cents, cbs, 16)
    GraphIndex.retrain(spark, dir, gIdx, "vec_id", "embedding", gParams)
    // each swapped layout equals a fresh build over the current state
    // with identically-trained artifacts (trainers are deterministic)
    def codes(p: String): Seq[String] =
      spark.read.parquet(p)
        .select(col("vec_id"), col("codes").cast("array<long>"))
        .collect().map(r => (r.getLong(0), r.getSeq[Long](1)).toString)
        .toSeq.sorted
    val pqFresh = s"$root/pq_fresh"
    PqIndex.build(coll1, "vec_id", "embedding", cbs(coll1), 16, pqFresh,
      Collections.numBuckets(dir))
    assert(codes(pqIdx) == codes(pqFresh) && codes(pqIdx).nonEmpty,
      "PqIndex retrain != fresh build")
    val ivfpqFresh = s"$root/ivfpq_fresh"
    IvfPqIndex.build(coll1, "vec_id", "embedding", cents(coll1),
      cbs(coll1), 16, ivfpqFresh, Collections.numBuckets(dir))
    assert(codes(ivfpqIdx) == codes(ivfpqFresh),
      "IvfPqIndex retrain != fresh build")
    val gFresh = s"$root/graph_fresh"
    GraphIndex.buildFromPoints(coll1, "vec_id", "embedding",
      Collections.numBuckets(dir), gFresh, gParams)
    def adj(p: String): Seq[String] =
      GraphIndex.adjacency(spark, p)
        .select(col("src"), col("dst"), col("score_micro"))
        .collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2)).toString)
        .toSeq.sorted
    assert(adj(gIdx) == adj(gFresh) && adj(gIdx).nonEmpty,
      "GraphIndex retrain != fresh build")
    // the retrained graph's persisted entry seeds are live and match
    // the fresh build's (re-derived from the CURRENT data)
    assert(GraphIndex.seeds(spark, gIdx, 4).toSeq ==
      GraphIndex.seeds(spark, gFresh, 4).toSeq)
  }

  test("one-call drift maintenance (maintain) on every trained layout " +
       "(IVF, PQ, IVF-PQ, graph): below threshold a byte-identical " +
       "no-op; a distribution shift fires all four, each retrains with " +
       "its original trainer, the signal returns to 1.0, IVF probe " +
       "recall recovers, and refresh continues from the returned cursor") {
    import graft.sources.{Drift, GraphIndex, IvfIndex, IvfPqIndex, PqIndex}
    import graft.operators.{Ann, Pq}
    val root = SparkSpec.tempDir("graft-maintain").toString
    val dir = s"$root/coll"
    val sink = new Collections.ParquetCollectionSink(spark, dir,
      VectorConfig(64), "embedding", "vec_id", "seq")
    val emb = Tables.load(spark, sf, "embeddings").limit(300)
    sink.write(emb.withColumn("seq", lit(0)))
    // the proven recall-recovery geometry of the drift+retrain test
    // (k=8, iters=2, nprobe 2 of 8) — k=4/nprobe-2-of-4 probes half the
    // cells and stale recall stays lucky at toy scale
    def train(pts: org.apache.spark.sql.DataFrame) =
      Ann.kmeansFit(pts, "vec_id", "embedding", k = 8, iters = 2)
    def cbs(pts: org.apache.spark.sql.DataFrame) =
      Pq.trainCodebooks(pts, "vec_id", "embedding", m = 4, subDim = 16,
        k = 16, iters = 1)
    val coll0 = Collections.read(spark, dir)
    val cents0 = train(coll0)

    val ivfIdx = s"$root/ivf"
    val v0 = IvfIndex.build(spark, dir, ivfIdx, "vec_id", "embedding",
      cents0, "cid", "cv")
    Drift.snapshotAssignment(ivfIdx, coll0, "embedding", cents0)
    val pqIdx = s"$root/pq"
    PqIndex.build(coll0, "vec_id", "embedding", cbs(coll0), 16, pqIdx,
      Collections.numBuckets(dir))
    PqIndex.snapshotDrift(spark, dir, pqIdx)
    val ivfpqIdx = s"$root/ivfpq"
    IvfPqIndex.build(coll0, "vec_id", "embedding", cents0, cbs(coll0),
      16, ivfpqIdx, Collections.numBuckets(dir))
    IvfPqIndex.snapshotDrift(spark, dir, ivfpqIdx)
    // seedCap = 2 (of the default 64): with 200 points in 16 buckets
    // the default would make EVERY point a seed and the routing signal
    // degenerately 0 on both sides — real collections outgrow
    // buckets x seedCap immediately, toy fixtures must force it
    val gParams = GraphIndex.Params(2, 6, 4, 6, 1, Ann.hyperplanes(12, 64),
      seedCap = 2)
    val gIdx = s"$root/graph"
    GraphIndex.buildFromPoints(coll0, "vec_id", "embedding",
      Collections.numBuckets(dir), gIdx, gParams)
    GraphIndex.snapshotDrift(spark, dir, gIdx, "vec_id", "embedding")

    def fileState(d: String): Map[String, (Long, Long)] = {
      val rp = java.nio.file.Paths.get(d)
      val s = java.nio.file.Files.walk(rp)
      try s.filter(java.nio.file.Files.isRegularFile(_)).toArray
        .map(_.asInstanceOf[java.nio.file.Path])
        .map(p => rp.relativize(p).toString ->
          (java.nio.file.Files.size(p),
            java.nio.file.Files.getLastModifiedTime(p).toMillis))
        .toMap
      finally s.close()
    }

    // --- below threshold: every maintain is a byte-identical no-op ---
    val states0 = Seq(ivfIdx, pqIdx, ivfpqIdx, gIdx).map(fileState)
    val (mi0, ri0) = IvfIndex.maintain(spark, dir, ivfIdx, "vec_id",
      "embedding", cents0, train)
    val (mp0, rp0) = PqIndex.maintain(spark, dir, pqIdx, cbs)
    val (mq0, rq0) = IvfPqIndex.maintain(spark, dir, ivfpqIdx, train, cbs)
    val (mg0, rg0) = GraphIndex.maintain(spark, dir, gIdx, "vec_id",
      "embedding", gParams)
    for ((m, what) <- Seq((mi0, "ivf"), (mp0, "pq"), (mq0, "ivfpq"),
        (mg0, "graph"))) {
      assert(m.ratio == 1.0 && !m.retrained,
        s"$what: no-drift maintain was not a 1.0 no-op: $m")
    }
    assert(ri0.isEmpty && rp0.isEmpty && rq0.isEmpty && rg0.isEmpty)
    assert(Seq(ivfIdx, pqIdx, ivfpqIdx, gIdx).map(fileState) == states0,
      "a no-op maintain touched layout bytes")

    // --- the CollectionsSpec distribution shift (dims rolled by 17,
    // 2.5× scale): every signal fires, every layout retrains ---
    sink.write(emb.withColumn("embedding",
        transform(concat(slice(col("embedding"), 18, 47),
          slice(col("embedding"), 1, 17)), x => x * 2.5f)
          .cast("array<float>"))
      .withColumn("seq", lit(1)))
    val (mi1, ri1) = IvfIndex.maintain(spark, dir, ivfIdx, "vec_id",
      "embedding", cents0, train)
    val (mp1, rp1) = PqIndex.maintain(spark, dir, pqIdx, cbs)
    val (mq1, rq1) = IvfPqIndex.maintain(spark, dir, ivfpqIdx, train, cbs)
    val (mg1, rg1) = GraphIndex.maintain(spark, dir, gIdx, "vec_id",
      "embedding", gParams)
    for ((m, what) <- Seq((mi1, "ivf"), (mp1, "pq"), (mq1, "ivfpq"),
        (mg1, "graph"))) {
      assert(m.ratio > 1.1 && m.retrained,
        s"$what: maintain did not fire on the shift: $m")
    }
    // every signal is back at exactly 1.0 under the NEW artifacts
    val cents1 = ri1.get._2
    assert(Drift.assignmentRatio(spark, ivfIdx,
      Collections.read(spark, dir), "embedding", cents1) == 1.0)
    assert(PqIndex.driftRatio(spark, dir, pqIdx) == 1.0)
    assert(Drift.assignmentRatio(spark, ivfpqIdx,
      Collections.read(spark, dir), "embedding",
      IvfPqIndex.centroidsOf(spark, ivfpqIdx)) == 1.0)
    assert(GraphIndex.driftRatio(spark, dir, gIdx, "vec_id",
      "embedding") == 1.0)
    assert(rp1.nonEmpty && rq1.nonEmpty && rg1.nonEmpty)

    // IVF probe recall recovered vs the stale pinned centroids
    def recall(cents: org.apache.spark.sql.DataFrame,
               idxDir: String): Double = {
      val coll = Collections.read(spark, dir)
      val qs = Seq(1L, 5L, 9L).map { qid =>
        coll.filter(col("vec_id") === qid)
          .select(col("embedding").cast("array<double>"))
          .head().getSeq[Double](0)
      }
      qs.map { q =>
        val exact = graft.operators.Knn.knn(coll, "embedding", q, 10)
          .select("vec_id").collect().map(_.getLong(0)).toSet
        val probes = Ann.probeClusters(cents, "cid", "cv", q, 2)
          .collect().map(_.getLong(0))
        val got = graft.operators.Knn.knn(
            spark.read.parquet(idxDir).filter(
              col("cluster").isin(probes.map(Long.box): _*)),
            "embedding", q, 10)
          .select("vec_id").collect().map(_.getLong(0)).toSet
        (got & exact).size.toDouble / exact.size
      }.sum / qs.size
    }
    // the maintained layout (new artifacts) vs a stale pinned rebuild
    val stale = s"$root/ivf_stale"
    IvfIndex.build(spark, dir, stale, "vec_id", "embedding", cents0,
      "cid", "cv")
    assert(recall(cents1, ivfIdx) > recall(cents0, stale),
      "maintain's retrain did not recover IVF probe recall")

    // refresh continues from maintain's returned cursor with the NEW
    // artifacts (the retrain contract, through the one-call verb)
    sink.write(emb.limit(20)
      .withColumn("embedding",
        transform(concat(slice(col("embedding"), 18, 47),
          slice(col("embedding"), 1, 17)), x => x * 2.5f)
          .cast("array<float>"))
      .withColumn("vec_id", col("vec_id") + 100000L)
      .withColumn("seq", lit(2)))
    IvfIndex.refresh(spark, dir, ivfIdx, "vec_id", "embedding", cents1,
      "cid", "cv", ri1.get._1)
    val full = s"$root/ivf_full"
    IvfIndex.build(spark, dir, full, "vec_id", "embedding", cents1,
      "cid", "cv")
    def rows(p: String): Seq[String] =
      spark.read.parquet(p)
        .select(col("vec_id"), col("cluster").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1)).toString)
        .toSeq.sorted
    assert(rows(ivfIdx) == rows(full),
      "refresh from maintain's cursor diverged from rebuild")
    assert(v0 != null)
  }

  // -------------------------------------------------------------------
  // Held-open collection reads: one relation per committed manifest
  // -------------------------------------------------------------------

  private def rowSet(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  test("held-open collection read: every commit verb, restore, " +
       "delete-and-recreate and a manifest rolled back by hand are " +
       "visible to the next read; an unchanged collection's read is a " +
       "0-job memo hit equal to an inference read; commits evict") {
    import java.nio.file.Paths
    import org.apache.spark.sql.DataFrame
    import Collections.PointOp
    val root = SparkSpec.tempDir("graft-held").toString
    val dir = s"$root/coll"
    val emb = Tables.load(spark, sf, "embeddings").limit(120)
      .withColumn("seq", lit(0))
    def sinkOf(d: String) = new Collections.ParquetCollectionSink(spark, d,
      VectorConfig(64), "embedding", "vec_id", "seq")
    val sink = sinkOf(dir)
    sink.write(emb)
    def read(d: String = dir) = Collections.read(spark, d)
    def labels(df: DataFrame): Map[Long, Int] =
      df.select("vec_id", "label").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // the reference: an inference read of the committed paths
    def inferred(d: String = dir) = spark.read.parquet(
      Collections.manifestView(d).buckets.values.toSeq.sorted
        .map(rel => s"$d/data/$rel"): _*)

    // a first read lists the manifest's paths with its schema (no
    // inference job); the next is the same relation, from the memo
    assert(jobsIn(read()) == 0, "a committed read ran a schema job")
    val hits0 = graft.Memo.hits.get
    var again: DataFrame = null
    assert(jobsIn { again = read() } == 0, "an unchanged read ran a job")
    assert(graft.Memo.hits.get == hits0 + 1 && (again eq read()),
      "the read of an unchanged collection was not a memo hit")
    assert(again.schema == inferred().schema)
    assert(again.count() == 120 && rowSet(again) == rowSet(inferred()),
      "the held-open read differs from an inference read")

    // each mutation is visible to the very next read, which is a miss
    var expect = labels(inferred())
    def visible(verb: String)(change: Map[Long, Int] => Map[Long, Int])(
        mutate: => Any): Unit = {
      read() // hold the pre-mutation state open
      mutate
      expect = change(expect)
      val misses0 = graft.Memo.misses.get
      assert(labels(read()) == expect,
        s"$verb: the next read served a stale collection")
      assert(graft.Memo.misses.get == misses0 + 1,
        s"$verb: the next read did not resolve the new manifest")
    }
    def relabel(ids: Set[Long], to: Int)(m: Map[Long, Int]) =
      m.map { case (id, l) => id -> (if (ids(id)) to else l) }
    visible("upsert")(relabel(Set(1L, 2L), 100)) {
      sink.write(emb.filter(col("vec_id").isin(1, 2))
        .withColumn("label", lit(100)).withColumn("seq", lit(1)))
    }
    visible("empty upsertBatch (fence bump)")(identity) {
      assert(Collections.upsertBatch(spark, dir, emb.limit(0), "vec_id",
        "seq", batchId = 0))
    }
    visible("deleteWhere")(_ -- (10L to 14L)) {
      Collections.deleteWhere(spark, dir,
        col("vec_id").between(10, 14), "vec_id")
    }
    visible("setPayloadWhere")(relabel(Set(20L), 7777)) {
      Collections.setPayloadWhere(spark, dir, col("vec_id") === 20,
        "vec_id", Map("label" -> lit(7777)))
    }
    visible("updateBatch")(m => relabel(Set(22L), 8888)(m - 21L)) {
      Collections.updateBatch(spark, dir, Seq(
        PointOp.Delete(col("vec_id") === 21),
        PointOp.SetPayload(col("vec_id") === 22, Map("label" -> lit(8888)))),
        "vec_id", "seq", Seq("embedding"))
    }
    visible("compact")(identity)(Collections.compact(spark, dir, "vec_id"))
    Collections.snapshot(dir, s"$root/snap")
    val atSnapshot = expect
    visible("upsert after snapshot")(relabel(Set(30L), 300)) {
      sink.write(emb.filter(col("vec_id") === 30)
        .withColumn("label", lit(300)).withColumn("seq", lit(2)))
    }
    visible("restore")(_ => atSnapshot) {
      Collections.restore(s"$root/snap", dir)
    }
    val manifest = Paths.get(s"$dir/_manifest.json")
    val saved = Files.readAllBytes(manifest)
    val atSaved = expect
    visible("upsert before a rollback")(relabel(Set(40L), 400)) {
      sink.write(emb.filter(col("vec_id") === 40)
        .withColumn("label", lit(400)).withColumn("seq", lit(3)))
    }
    visible("manifest rolled back by hand")(_ => atSaved) {
      Files.write(manifest, saved)
    }
    // no commit in this JVM evicted the superseded entry: the miss did
    val heldAfterRollback = graft.Memo.inputsOf("collectionRead")
      .count(_ == Seq(dir))
    assert(heldAfterRollback == 1,
      s"$heldAfterRollback collectionRead entries after a hand-written manifest")

    // a deleteWhere that empties the collection: the manifest keeps the
    // schema and maps no bucket, while the superseded generation is still
    // on disk in its grace window; nothing of it may be read back
    val live = read().columns.toSeq
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    def searchAll() = Collections.search(spark, dir, "embedding", "vec_id",
      q, 5)
    val searchCols = searchAll().columns.toSeq
    visible("deleteWhere empties the collection")(_ => Map.empty) {
      assert(Collections.deleteWhere(spark, dir, lit(true), "vec_id") ==
        expect.size)
    }
    assert(Collections.manifestView(dir).buckets.isEmpty)
    assert(read().columns.toSeq == live && read().count() == 0,
      s"the emptied read: ${read().columns.toSeq}")
    assert(Collections.info(spark, dir).numPoints == 0)
    val hits = searchAll()
    assert(hits.columns.toSeq == searchCols && hits.count() == 0,
      s"the emptied search: ${hits.columns.toSeq}")
    val (page, next) = Collections.scroll(spark, dir, "vec_id", None, 10)
    assert(page.columns.toSeq == live && page.count() == 0 && next.isEmpty,
      s"the emptied scroll: ${page.columns.toSeq}")

    // delete, then create and upsert at the same path: the manifest
    // text is byte-identical, so only the dir's listing tells them apart
    val d2 = s"$root/c2"
    sinkOf(d2).write(emb)
    val before2 = labels(read(d2))
    val bytes2 = Files.readAllBytes(Paths.get(s"$d2/_manifest.json"))
    Collections.delete(d2)
    sinkOf(d2).write(emb.withColumn("label", col("label") + 500))
    assert(java.util.Arrays.equals(bytes2,
      Files.readAllBytes(Paths.get(s"$d2/_manifest.json"))),
      "weak case: the recreated manifest differs from the first")
    assert(labels(read(d2)) == before2.map { case (id, l) => id -> (l + 500) },
      "delete + create + upsert: the next read served the old collection")

    // superseded manifests' relations do not pile up
    (1 to 10).foreach { i =>
      sink.write(emb.filter(col("vec_id") === 50 + i)
        .withColumn("seq", lit(10 + i)))
      read()
    }
    val entries = graft.Memo.inputsOf("collectionRead")
    Seq(dir, d2).foreach { d =>
      assert(entries.count(_ == Seq(d)) <= 1,
        s"${entries.count(_ == Seq(d))} collectionRead entries for $d")
    }
  }

  test("a restored snapshot of an emptied collection polls the change " +
       "feed with the live schema") {
    val root = SparkSpec.tempDir("graft-snapempty").toString
    val dir = s"$root/coll"
    new Collections.ParquetCollectionSink(spark, dir, VectorConfig(64),
      "embedding", "vec_id", "seq")
      .write(Tables.load(spark, sf, "embeddings").limit(20)
        .withColumn("seq", lit(0)))
    val live = Collections.read(spark, dir).columns.toSeq
    assert(Collections.deleteWhere(spark, dir, lit(true), "vec_id") == 20)
    Collections.snapshot(dir, s"$root/snap")
    Collections.restore(s"$root/snap", s"$root/restored")
    val (cur, df, _) = Collections.changedSince(spark, s"$root/restored",
      Collections.ManifestView(0, Map.empty))
    assert(cur.buckets.isEmpty)
    assert(df.columns.toSeq == live,
      s"restored empty collection polls as ${df.columns.toSeq}, not $live")
    assert(df.count() == 0)
  }

  test("routed read job budget: Collections.read + VectorRouter." +
       "queryPoints + collect on a quant collection under the size gate " +
       "runs 1 job for knn and 1 for a filtered read") {
    import graft.sources.{PayloadIndex, QuantIndex, VectorRouter}
    val root = SparkSpec.tempDir("graft-budget").toString
    val dir = s"$root/coll"
    new Collections.ParquetCollectionSink(spark, dir, VectorConfig(64),
      "embedding", "vec_id", "seq")
      .write(Tables.load(spark, sf, "embeddings").withColumn("seq", lit(0)))
    val (quant, payload) = (s"$root/quant", s"$root/payload")
    QuantIndex.buildFromCollection(spark, dir, quant, "vec_id",
      "embedding", 64)
    PayloadIndex.buildFromCollection(spark, dir, payload, "label", "vec_id")
    assert(!QuantIndex.scopedBoundPays(spark, quant),
      "the sidecar is over the default gate — weak fixture")
    val q = VectorQueries.queryVec(spark, sf, 0)
    val dsl = """{"must": [{"key": "label", "match": {"value": 3}}]}"""
    def call(filter: Option[String]) =
      VectorRouter.queryPoints(spark, Collections.read(spark, dir),
        "vec_id", "embedding", Seq(quant), Seq("label" -> payload), q, 10,
        filter).collect()
    Seq("knn" -> None, "filtered" -> Some(dsl)).foreach { case (cls, f) =>
      val warm = call(f) // primes the footer-count memos
      assert(warm.length == 10)
      val jobs = jobsIn(call(f))
      assert(jobs == 1, s"$cls: a routed read ran $jobs jobs")
    }
  }

  test("commit-side reads take the manifest schema: an upsert and each " +
       "layout refresh run no schema-inference job") {
    import graft.sources.{PayloadIndex, QuantIndex}
    val root = SparkSpec.tempDir("graft-commitjobs").toString
    val dir = s"$root/coll"
    val emb = Tables.load(spark, sf, "embeddings").limit(200)
      .withColumn("seq", lit(0))
    new Collections.ParquetCollectionSink(spark, dir, VectorConfig(64),
      "embedding", "vec_id", "seq").write(emb)
    val (quant, payload) = (s"$root/quant", s"$root/payload")
    val q0 = QuantIndex.buildFromCollection(spark, dir, quant, "vec_id",
      "embedding", 64)
    val p0 = PayloadIndex.buildFromCollection(spark, dir, payload, "label",
      "vec_id")
    val batch = emb.filter(col("vec_id") < 20)
      .withColumn("label", col("label") + 1).withColumn("seq", lit(1))
    val upsert = jobsIn(Collections.upsert(spark, dir, batch, "vec_id", "seq"))
    val quantRefresh = jobsIn(QuantIndex.refresh(spark, dir, quant, q0))
    val payloadRefresh = jobsIn(
      PayloadIndex.refresh(spark, dir, payload, "vec_id", p0))
    // the touched buckets' read and each refresh's change-feed read take
    // the manifest's schema: an inference read adds one job to each
    // (6, 2 and 2)
    assert((upsert, quantRefresh, payloadRefresh) == ((5, 1, 1)),
      s"jobs: upsert $upsert, quant refresh $quantRefresh, " +
        s"payload refresh $payloadRefresh")
  }

  // -------------------------------------------------------------------
  // One on-disk format: the manifest is the only state
  // -------------------------------------------------------------------

  test("a never-written collection is gen 0 with no buckets, polls an " +
       "empty feed and refuses a read, also after an empty streaming " +
       "batch; its first real upsert reads back with the live schema") {
    val dir = SparkSpec.tempDir("graft-unwritten").toString + "/coll"
    Collections.create(dir, VectorConfig(64))
    val empty = Collections.ManifestView(0, Map.empty)
    def unreadable(when: String): Unit = {
      val e = intercept[IllegalStateException](Collections.read(spark, dir))
      assert(e.getMessage.contains(dir), s"$when: ${e.getMessage}")
    }
    assert(Collections.manifestView(dir) == empty)
    val (cur, df, dropped) = Collections.changedSince(spark, dir, empty)
    assert(cur == empty && df.count() == 0 && dropped.isEmpty)
    unreadable("created")

    val emb = Tables.load(spark, sf, "embeddings").limit(40)
      .withColumn("seq", lit(0))
    assert(Collections.upsertBatch(spark, dir, emb.limit(0), "vec_id", "seq",
      batchId = 0))
    assert(Collections.lastAppliedBatch(dir) == 0)
    assert(Collections.manifestView(dir).buckets.isEmpty)
    unreadable("after an empty batch")

    assert(Collections.upsertBatch(spark, dir, emb, "vec_id", "seq",
      batchId = 1))
    val back = Collections.read(spark, dir)
    assert(back.columns.toSeq == emb.columns.toSeq)
    assert(rowSet(back) == rowSet(emb))
  }

  /** Every file under `p` with its bytes. */
  private def fileBytes(p: String): Map[String, Seq[Byte]] = {
    val walk = Files.walk(java.nio.file.Paths.get(p))
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString -> Files.readAllBytes(f).toSeq).toMap
    } finally walk.close()
  }

  test("the writer refuses an entry under data/ it did not write and " +
       "deletes nothing") {
    val dir = SparkSpec.tempDir("graft-foreign").toString + "/coll"
    Collections.create(dir, VectorConfig(64))
    val emb = Tables.load(spark, sf, "embeddings").limit(40)
      .withColumn("seq", lit(0))
    emb.write.parquet(s"$dir/data") // loose part files, by hand
    val before = fileBytes(dir)
    val e = intercept[IllegalStateException] {
      Collections.upsert(spark, dir, emb, "vec_id", "seq")
    }
    assert(e.getMessage.contains(s"$dir/data/"), e.getMessage)
    assert(fileBytes(dir) == before, "the refused write changed the files")
  }

  test("a write touching a referenced bucket missing from disk fails and " +
       "leaves the manifest unchanged") {
    import java.nio.file.Paths
    val dir = SparkSpec.tempDir("graft-missing").toString + "/coll"
    val emb = Tables.load(spark, sf, "embeddings").limit(200)
      .withColumn("seq", lit(0))
    Collections.create(dir, VectorConfig(64))
    Collections.upsert(spark, dir, emb, "vec_id", "seq")
    val bucket = emb.filter(col("vec_id") === 7)
      .select(pmod(hash(col("vec_id")), lit(Collections.numBuckets(dir))))
      .head().getInt(0)
    val gone = Paths.get(dir, "data",
      Collections.manifestView(dir).buckets(bucket)).toFile
    gone.listFiles().foreach(_.delete())
    assert(gone.delete())
    val manifest = Paths.get(s"$dir/_manifest.json")
    val committed = Files.readAllBytes(manifest)
    val one = emb.filter(col("vec_id") === 7).withColumn("seq", lit(1))
    intercept[org.apache.spark.sql.AnalysisException] {
      Collections.upsert(spark, dir, one, "vec_id", "seq")
    }
    intercept[org.apache.spark.sql.AnalysisException] {
      Collections.deleteWhere(spark, dir, col("vec_id") === 7, "vec_id")
    }
    assert(java.util.Arrays.equals(committed, Files.readAllBytes(manifest)),
      "a write over a missing bucket committed")
  }

  test("a collection record without its bucket count is refused") {
    val dir = SparkSpec.tempDir("graft-meta").toString
    Files.write(java.nio.file.Paths.get(dir, "_collection.json"),
      """{"dim": 64, "metric": "cosine"}""".getBytes("UTF-8"))
    intercept[IllegalStateException](Collections.numBuckets(dir))
  }
}
