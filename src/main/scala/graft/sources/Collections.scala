package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import org.json4s._
import org.json4s.jackson.JsonMethods
import graft.functions.VectorOps

/** Collection storage layer — the engine's form of the reference's
  * collection DDL + sink surface:
  *
  *  - O12 `create_collection` iff absent with a fixed vector config
  *    (`bob_vector_db/qdrant_embedder.py:92-103`): a collection is a
  *    parquet directory plus a `_collection.json` metadata record pinning
  *    {dim, metric} — metric defaults to cosine exactly as the reference
  *    pins `Distance.COSINE` (`qdrant_embedder.py:98,101`).
  *  - O14 upsert (`upload_points`, same-id overwrite): append + keep-last
  *    compaction via the ingest-sequence window.
  *  - O17/O20 the abstract sink interface (`json_embedder.py:3-9`):
  *    [[CollectionSink]] with a single write(df) method.
  *  - Dim validation enforces the declared vector size on every write
  *    (the engine-level form of the collection's fixed vector config).
  *  - The Qdrant point-mutation verbs beyond upsert: [[deleteWhere]]
  *    (`delete(filter)`) and [[setPayloadWhere]] (`set_payload` /
  *    `delete_payload` by filter) — both rewrite ONLY buckets holding
  *    matches.
  *
  * == Manifest-committed generation layout ==
  *
  * {{{
  * dir/
  *   _collection.json          {dim, metric, buckets}
  *   _manifest.json            {"gen": N, "buckets": {"3": "g00002/bucket=3", ...},
  *                              "schema": {"type": "struct", "fields": [...]}}
  *   data/
  *     g00001/bucket=5/part-….parquet   immutable generation directories
  *     g00002/bucket=3/part-….parquet
  * }}}
  *
  * Ids hash into a bucket count pinned at creation; a write compacts only
  * the buckets its rows touch into a NEW generation directory (existing
  * files are never renamed, moved, or rewritten), then publishes a new
  * `_manifest.json` mapping every live bucket to its current directory.
  * Readers resolve through the manifest — the bucket paths AND the schema
  * of the rows they hold, so a read lists only the manifest's bucket dirs
  * and runs no schema-inference job — so:
  *
  *  - a multi-bucket write is ATOMIC: until the manifest swap, readers see
  *    the wholly-old collection; after it, wholly-new — never a mix;
  *  - the scheme is OBJECT-STORE-SAFE: data paths are write-once (no
  *    renames of live data), and the commit is one small-file swap —
  *    `Files.move(ATOMIC_MOVE)` on POSIX, a single conditional PUT on an
  *    S3-class store;
  *  - crash recovery is garbage collection, not repair: a generation
  *    directory not referenced by the manifest is either a crashed write
  *    or a superseded generation — the next write deletes it. Superseded
  *    generations therefore survive exactly one write, a grace period for
  *    readers whose lazy plans bound to the previous manifest. The
  *    collector deletes only unreferenced `gNNNNN` directories: any other
  *    entry under `data/` (files written by hand, a layout this engine
  *    does not write) makes the write throw, naming it, before anything
  *    is deleted. A bucket the manifest references but that is missing
  *    from disk fails the write too, so a write never publishes a bucket
  *    without its old rows.
  *
  * The manifest is the ONLY state: no manifest means generation 0 with no
  * buckets and no schema. A collection whose manifest has a schema but no
  * buckets (every row deleted) reads as an empty frame with that schema;
  * one never written (no manifest, or only a streaming fence bump, which
  * commits neither buckets nor a schema) has no rows to read, and [[read]]
  * throws.
  *
  * Scale notes: a collection is a standard partitionable parquet dataset
  * (split-friendly, predicate-pushdown-friendly); keep-last compaction is
  * one hash shuffle over touched buckets only; the manifest is O(buckets)
  * bytes, written once per commit. Single writer, many readers.
  */
object Collections {

  /** Fixed per-collection vector config (SURVEY.md §1.3). */
  final case class VectorConfig(dim: Int, metric: String = "cosine")

  private def metaPath(dir: String) = Paths.get(dir, "_collection.json")
  private def manifestPath(dir: String) = Paths.get(dir, "_manifest.json")
  private def manifestTmp(dir: String) = Paths.get(dir, "_manifest.json.tmp")

  def exists(dir: String): Boolean = Files.exists(metaPath(dir))

  /** Fixed bucket count for the hash-bucketed data layout, pinned at
    * creation (id→bucket must stay stable across the collection's life —
    * rebucketing would split an id's versions across buckets and break
    * keep-last compaction). */
  val DefaultBuckets = 16

  /** O12: create iff absent — records the vector config; no data yet. */
  def create(dir: String, config: VectorConfig,
             buckets: Int = DefaultBuckets): Unit =
    if (!exists(dir)) {
      Files.createDirectories(Paths.get(dir))
      Files.write(metaPath(dir),
        s"""{"dim": ${config.dim}, "metric": "${config.metric}", "buckets": $buckets}"""
          .getBytes(StandardCharsets.UTF_8))
    }

  /** One parse of `_collection.json`: the vector config and the pinned
    * bucket count, each field required ([[create]] writes all three). */
  private def meta(dir: String): (VectorConfig, Int) = {
    val j = JsonMethods.parse(new String(Files.readAllBytes(metaPath(dir)),
      StandardCharsets.UTF_8))
    (j \ "dim", j \ "metric", j \ "buckets") match {
      case (JInt(dim), JString(metric), JInt(buckets)) =>
        (VectorConfig(dim.toInt, metric), buckets.toInt)
      case _ => throw new IllegalStateException(
        s"${metaPath(dir)} lacks one of dim, metric, buckets")
    }
  }

  def config(dir: String): VectorConfig = meta(dir)._1

  /** The collection's pinned bucket count ([[DefaultBuckets]] before
    * [[create]]). */
  def numBuckets(dir: String): Int =
    if (!exists(dir)) DefaultBuckets else meta(dir)._2

  /** THE validity predicate — one definition shared by [[validate]] and
    * the rejection counting in `writeBatchCounted`, so the two can never
    * drift. */
  private[sources] def validCond(vecCol: String, cfg: VectorConfig): Column =
    VectorOps.hasDim(col(vecCol), cfg.dim)

  /** Dim-validation gate: rows whose vector violates the collection's
    * declared size are rejected (returned separately — the quarantine
    * analog of the reference's drop-on-error, upgraded to be observable). */
  def validate(points: DataFrame, vecCol: String, cfg: VectorConfig)
      : (DataFrame, DataFrame) = {
    val okCond = validCond(vecCol, cfg)
    (points.filter(okCond), points.filter(!okCond || col(vecCol).isNull))
  }

  private[sources] def deleteRecursively(p: java.nio.file.Path): Unit = {
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder())
      .forEach(f => Files.delete(f))
    finally walk.close()
  }

  private val BucketCol = "bucket"

  /** id → bucket: Murmur3 hash mod the collection's pinned bucket count.
    * Stable per Spark's hash() contract; storage-layout-only (never part
    * of a declared query result). */
  private[sources] def bucketOf(idCol: String, buckets: Int) =
    pmod(hash(col(idCol)), lit(buckets))

  private def listBuckets(p: java.nio.file.Path): Map[String, java.nio.file.Path] =
    if (!Files.isDirectory(p)) Map.empty
    else {
      val s = Files.list(p)
      try s.iterator().asScala
        .filter(d => Files.isDirectory(d) &&
          d.getFileName.toString.startsWith(s"$BucketCol="))
        .map(d => d.getFileName.toString -> d).toMap
      finally s.close()
    }

  // ---------------------------------------------------------------------
  // Manifest
  // ---------------------------------------------------------------------

  /** A committed manifest: generation, bucket → path relative to `data/`,
    * the streaming batch fence (-1: none) and the schema of the rows its
    * paths hold (None until the first publish of rows; never None while
    * a bucket is mapped). One parse of one file, so a schema always
    * matches its paths. */
  private final case class Manifest(gen: Int, buckets: Map[Int, String],
                                    batch: Long = -1L,
                                    schema: Option[StructType] = None)

  private def manifestText(dir: String): Option[String] =
    if (!Files.exists(manifestPath(dir))) None
    else Some(new String(Files.readAllBytes(manifestPath(dir)),
      StandardCharsets.UTF_8))

  private def parseManifest(dir: String, txt: String): Manifest = {
    val j = JsonMethods.parse(txt)
    val JInt(gen) = j \ "gen"
    val JObject(buckets) = j \ "buckets"
    val m = Manifest(gen.toInt,
      buckets.collect { case (k, JString(rel)) => k.toInt -> rel }.toMap,
      j \ "batch" match { case JInt(b) => b.toLong; case _ => -1L },
      j \ "schema" match {
        case JNothing => None
        case s => Some(DataType.fromJson(JsonMethods.compact(s))
          .asInstanceOf[StructType])
      })
    if (m.buckets.nonEmpty && m.schema.isEmpty)
      throw new IllegalStateException(
        s"${manifestPath(dir)} maps buckets but carries no schema: it was " +
          "written by older code. Rebuild the collection, or re-commit " +
          "it with a writer that records the schema")
    m
  }

  private def readManifest(dir: String): Option[Manifest] =
    manifestText(dir).map(parseManifest(dir, _))

  /** The last STREAMING batch id the manifest committed, or -1: the
    * exactly-once fence for foreachBatch replays (Structured Streaming
    * re-delivers a batchId after a failure between the sink write and
    * the checkpoint commit; recording the id IN the manifest makes
    * "applied" and "visible" the same atomic event). */
  def lastAppliedBatch(dir: String): Long =
    readManifest(dir).fold(-1L)(_.batch)

  /** The commit point: stage the manifest beside its target, then one
    * atomic swap. On an object store this becomes a single conditional
    * PUT of `_manifest.json` — no other step of a write mutates a path a
    * reader can hold. `m.batch` (when ≥ 0) records the streaming batch id
    * this commit applied; batch-agnostic writes pass the carried-forward
    * value so a compaction never un-fences a replay. Reads memoized
    * against a superseded manifest are evicted after the swap. */
  private def writeManifest(dir: String, m: Manifest): Unit = {
    val body = m.buckets.toSeq.sortBy(_._1)
      .map { case (k, p) => s""""$k": "$p"""" }.mkString("{", ", ", "}")
    val batchField = if (m.batch >= 0) s""", "batch": ${m.batch}""" else ""
    val schemaField = m.schema.fold("")(s => s""", "schema": ${s.json}""")
    val tmp = manifestTmp(dir)
    Files.write(tmp,
      s"""{"gen": ${m.gen}$batchField, "buckets": $body$schemaField}"""
        .getBytes(StandardCharsets.UTF_8))
    try Files.move(tmp, manifestPath(dir),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
    catch { case _: java.nio.file.AtomicMoveNotSupportedException =>
      Files.move(tmp, manifestPath(dir), StandardCopyOption.REPLACE_EXISTING)
    }
    graft.Memo.evict(dir)
  }

  /** Current state: the manifest; none is generation 0, no buckets. */
  private def currentState(dir: String): Manifest =
    readManifest(dir).getOrElse(Manifest(0, Map.empty))

  /** The rows of `m`'s bucket paths `rels`, read with `m`'s schema (no
    * inference job); no paths is an empty frame with that schema. `m`
    * must carry a schema, as every manifest that maps a bucket does. A
    * path missing from disk fails the read. */
  private def rowsOf(spark: SparkSession, dir: String, m: Manifest,
                     rels: Seq[String]): DataFrame =
    spark.read.schema(m.schema.get)
      .parquet(rels.map(rel => s"$dir/data/$rel"): _*)

  /** Write `rows` (carrying [[BucketCol]]) as generation `gen`+1 and
    * publish the manifest remapping `touched` buckets to it, with the
    * rows' schema. A touched bucket with no surviving rows is dropped
    * from the manifest (its directory is simply never written).
    * Everything before the final [[writeManifest]] is invisible to
    * readers. */
  private def publishGeneration(dir: String, prev: Manifest,
                                touched: Set[Int], rows: DataFrame,
                                batch: Long = -1L): Unit = {
    // batch-agnostic writes (compact, mutation verbs, plain upserts)
    // carry the recorded streaming fence forward — dropping it would let
    // a later replay of an already-applied batch double-apply
    val effBatch = if (batch >= 0) batch else prev.batch
    val genName = f"g${prev.gen + 1}%05d"
    val genDir = Paths.get(dir, "data", genName)
    rows.write.mode("overwrite").partitionBy(BucketCol)
      .parquet(genDir.toString)
    val written = listBuckets(genDir).keySet
      .map(_.stripPrefix(s"$BucketCol=").toInt)
    // the consumer-visible schema commits in the same swap as the paths:
    // a poll of a later fully-emptied collection still returns a
    // schema-stable empty frame, and a reader never pairs a new schema
    // with old files
    writeManifest(dir, Manifest(prev.gen + 1,
      (prev.buckets -- touched) ++
        written.map(k => k -> s"$genName/$BucketCol=$k"),
      effBatch, Some(rows.drop(BucketCol).schema)))
  }

  private val GenerationDir = """g\d+""".r

  /** WRITER-side recovery = garbage collection; returns the current
    * state. Only the single writer may call this — destructive cleanup
    * from the read path would race an in-flight write. Deletes the
    * generation dirs the manifest does not reference (a crashed or
    * superseded write: its one-write grace ends now) and the superseded
    * bucket dirs inside live generations. Any other entry under `data/`
    * was not written by this engine: the write throws, naming it, and
    * nothing is deleted. */
  private def recoverForWrite(dir: String): Manifest = {
    val state = currentState(dir)
    val dataDir = Paths.get(s"$dir/data")
    if (Files.isDirectory(dataDir)) {
      val s = Files.list(dataDir)
      val children = try s.iterator().asScala.toList finally s.close()
      children.find(c => !Files.isDirectory(c) ||
          !GenerationDir.matches(c.getFileName.toString))
        .foreach(c => throw new IllegalStateException(
          s"$c is not a generation directory of collection $dir: refusing " +
            "to write (nothing was deleted)"))
      val liveRel = state.buckets.values.toSet
      val liveTop = liveRel.map(_.split('/').head)
      children.foreach { child =>
        val n = child.getFileName.toString
        if (!liveTop.contains(n)) deleteRecursively(child)
        else listBuckets(child).foreach { case (bn, bp) =>
          if (!liveRel.contains(s"$n/$bn")) deleteRecursively(bp)
        }
      }
    }
    Files.deleteIfExists(manifestTmp(dir))
    state
  }

  /** O14: append a batch, then compact to keep-last per id (Qdrant upsert
    * semantics — same id overwrites). `seqCol` orders versions.
    *
    * INCREMENTAL: a batch reads, compacts, and rewrites ONLY the buckets
    * its ids touch — per-write cost is O(batch + touched-bucket bytes),
    * not O(collection); untouched buckets' files are never opened. The
    * commit is the manifest swap (object doc) — atomic across buckets. */
  def upsert(spark: SparkSession, dir: String, batch: DataFrame,
             idCol: String, seqCol: String): Unit = {
    upsertImpl(spark, dir, batch, idCol, seqCol, batchId = -1L); ()
  }

  /** EXACTLY-ONCE streaming upsert: foreachBatch can re-deliver a
    * batchId after a failure between the sink write and the checkpoint
    * commit; this form records the applied batchId in the same atomic
    * manifest swap that publishes the rows, and NO-OPS any batch whose
    * id is ≤ the recorded fence (batchIds are monotone per query).
    * Returns true when the batch was applied, false on a replay skip.
    * The keep-last upsert is idempotent anyway — the fence upgrades
    * "replay is harmless" to "replay does not even write a generation"
    * (no wasted rewrite, no manifest churn, byte-stable layout). */
  def upsertBatch(spark: SparkSession, dir: String, batch: DataFrame,
                  idCol: String, seqCol: String, batchId: Long): Boolean = {
    require(batchId >= 0, s"streaming batchId must be >= 0, got $batchId")
    if (batchId <= lastAppliedBatch(dir)) false
    else upsertImpl(spark, dir, batch, idCol, seqCol, batchId)
  }

  private def upsertImpl(spark: SparkSession, dir: String, batch: DataFrame,
                         idCol: String, seqCol: String,
                         batchId: Long): Boolean = {
    val state = recoverForWrite(dir)
    val buckets = numBuckets(dir)
    val bucketed = batch.withColumn(BucketCol, bucketOf(idCol, buckets))
    val touched = bucketed.select(BucketCol).distinct()
      .collect().map(_.getInt(0)).toSet
    if (touched.isEmpty) {
      // an EMPTY batch still advances the fence (its delivery must not
      // be replayable as "never applied"): commit a manifest that only
      // bumps gen + batch, no data movement (the schema carries forward)
      if (batchId >= 0)
        writeManifest(dir, state.copy(gen = state.gen + 1, batch = batchId))
      return batchId >= 0
    }
    // files do not store the bucket column (it is the directory name);
    // recompute it on read — same hash, same pinned bucket count
    val existing = touched.toSeq.sorted.flatMap(state.buckets.get)
    val merged =
      if (existing.isEmpty) bucketed
      else rowsOf(spark, dir, state, existing)
        .withColumn(BucketCol, bucketOf(idCol, buckets))
        .unionByName(bucketed)
    val compacted = graft.operators.Ingest.upsert(merged, idCol, seqCol)
    publishGeneration(dir, state, touched, compacted, batchId)
    true
  }

  /** COMPACTION — the lakehouse OPTIMIZE maintenance verb: rewrite every
    * live bucket into ONE fresh generation and publish it atomically.
    * Incremental upserts accrete generation directories (the small-file
    * problem at scale: a reader's file listing grows with write count,
    * not data size); compact folds the live view back to one file set
    * per bucket. A pure rewrite — row-identical by construction
    * (CollectionsSpec asserts read-back equality) — and superseded
    * generations get the usual one-write GC grace, so a concurrent
    * reader finishes against the old view. */
  def compact(spark: SparkSession, dir: String, idCol: String): Unit = {
    val state = recoverForWrite(dir)
    if (state.buckets.isEmpty) return
    val buckets = numBuckets(dir)
    val rows = rowsOf(spark, dir, state, state.buckets.values.toSeq.sorted)
      .withColumn(BucketCol, bucketOf(idCol, buckets))
      // co-locate each bucket before the partitioned write: without this
      // every input split writes its own file per bucket it happens to
      // hold — (splits × buckets) small files, the opposite of
      // compaction. One exchange on the bucket key → one file per bucket.
      .repartition(col(BucketCol))
    publishGeneration(dir, state, state.buckets.keySet, rows)
  }

  /** Shared machinery of the filter-scoped mutation verbs: locate the
    * buckets holding matches (one pushdown-friendly scan), rewrite ONLY
    * those buckets through `xform`, commit via the manifest. Returns the
    * matched-row count. Qdrant's `filter` matches where the predicate is
    * TRUE — a NULL predicate row is not a match and survives untouched. */
  private def rewriteWhere(spark: SparkSession, dir: String, filter: Column,
                           idCol: String)
                          (xform: (DataFrame, Column) => DataFrame): Long = {
    val state = recoverForWrite(dir)
    if (state.buckets.isEmpty) return 0L
    val buckets = numBuckets(dir)
    val matchCond = coalesce(filter, lit(false))
    def stored(rels: Seq[String]) = rowsOf(spark, dir, state, rels)
      .withColumn(BucketCol, bucketOf(idCol, buckets))
    // one job: per-bucket match counts → touched set + matched total
    val perBucket = stored(state.buckets.values.toSeq.sorted)
      .filter(matchCond).groupBy(BucketCol).count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val touched = perBucket.keySet
    if (touched.isEmpty) return 0L
    val touchedData = stored(touched.toSeq.sorted.map(state.buckets))
    publishGeneration(dir, state, touched, xform(touchedData, matchCond))
    perBucket.values.sum
  }

  // -------------------------------------------------------------------
  // THE verb transforms — one definition each, shared by the standalone
  // verbs (via rewriteWhere) AND by updateBatch, so "identical semantics
  // of the standalone verb" is true by construction, not by hand-kept
  // copies. Each is (state, coalesced match condition) => new state.
  // -------------------------------------------------------------------
  private def xformDelete(df: DataFrame, cond: Column): DataFrame =
    df.filter(!cond)

  private def xformSetPayload(sets: Map[String, Column])
                             (df: DataFrame, cond: Column): DataFrame =
    sets.foldLeft(df) { case (d, (name, e)) =>
      d.withColumn(name, when(cond, e).otherwise(col(name)))
    }

  private def xformClearPayload(keep: Set[String])
                               (df: DataFrame, cond: Column): DataFrame =
    df.columns.filterNot(keep).foldLeft(df) { (d, name) =>
      d.withColumn(name,
        when(cond, lit(null).cast(d.schema(name).dataType))
          .otherwise(col(name)))
    }

  private def xformOverwritePayload(keep: Set[String],
                                    sets: Map[String, Column])
                                   (df: DataFrame, cond: Column): DataFrame =
    df.columns.filterNot(keep).foldLeft(df) { (d, name) =>
      val replaced = sets.getOrElse(name,
        lit(null).cast(d.schema(name).dataType))
      d.withColumn(name, when(cond, replaced).otherwise(col(name)))
    }

  private def xformSetVector(idCol: String, vecCol: String, newVec: Column,
                             dim: Int, verb: String)
                            (df: DataFrame, cond: Column): DataFrame =
    df.withColumn(vecCol,
      when(!cond, col(vecCol))
        .when(VectorOps.hasDim(newVec, dim), newVec)
        .otherwise(raise_error(concat(
          lit(s"$verb: replacement vector violates dim=$dim for id "),
          col(idCol).cast("string")))))

  private def xformDeleteVectors(vecCols: Seq[String])
                                (df: DataFrame, cond: Column): DataFrame =
    vecCols.foldLeft(df) { (d, name) =>
      d.withColumn(name,
        when(cond, lit(null).cast(d.schema(name).dataType))
          .otherwise(col(name)))
    }

  /** Qdrant `delete(filter)`: remove matching points; only buckets
    * holding matches are rewritten (a bucket emptied by the delete is
    * dropped from the manifest). Returns the number of points deleted. */
  def deleteWhere(spark: SparkSession, dir: String, filter: Column,
                  idCol: String): Long =
    rewriteWhere(spark, dir, filter, idCol)(xformDelete)

  /** Qdrant `set_payload` / `delete_payload` by filter: on matching
    * points, each named column is replaced by its expression (use
    * `lit(null)` to clear — the delete_payload verb); non-matching rows
    * and untouched buckets are byte-identical. Returns matched count. */
  def setPayloadWhere(spark: SparkSession, dir: String, filter: Column,
                      idCol: String, sets: Map[String, Column]): Long =
    rewriteWhere(spark, dir, filter, idCol)(xformSetPayload(sets))

  /** Qdrant `update_vectors` analog: replace the vector on matching
    * points — the re-embed flow (model upgrade over a filtered subset)
    * that previously required a full-collection upsert. Same
    * manifest-committed O(touched buckets) cost as [[setPayloadWhere]].
    * The collection's declared dim is ENFORCED on every replacement: a
    * matched row whose new vector violates the gate (wrong length or
    * null) fails the write job BEFORE the manifest swap, so the previous
    * generation stays live — mutation is all-or-nothing. Returns the
    * matched-point count. */
  def setVectorWhere(spark: SparkSession, dir: String, filter: Column,
                     idCol: String, vecCol: String, newVec: Column): Long =
    rewriteWhere(spark, dir, filter, idCol)(
      xformSetVector(idCol, vecCol, newVec, config(dir).dim,
        "setVectorWhere"))

  /** Qdrant `clear_payload` by filter: on matching points, EVERY payload
    * column nulls out — the id, vector, and sequence columns survive
    * (Qdrant clears the payload object, never the point identity or its
    * vectors). Same manifest-committed O(touched buckets) rewrite as
    * [[setPayloadWhere]]; returns the matched count. */
  def clearPayloadWhere(spark: SparkSession, dir: String, filter: Column,
                        idCol: String, vecCols: Seq[String],
                        seqCol: String): Long = {
    // BucketCol is the layout's routing partition column — never payload
    val keep = (Seq(idCol, seqCol, BucketCol) ++ vecCols).toSet
    rewriteWhere(spark, dir, filter, idCol)(xformClearPayload(keep))
  }

  /** Qdrant `overwrite_payload` by filter: on matching points the ENTIRE
    * payload is REPLACED by `sets` — keys not in `sets` null out (unlike
    * [[setPayloadWhere]], which merges). One rewrite composes the clear
    * and the set, so it is the same manifest-committed O(touched
    * buckets) cost as either half; returns the matched count. */
  def overwritePayloadWhere(spark: SparkSession, dir: String, filter: Column,
                            idCol: String, vecCols: Seq[String],
                            seqCol: String, sets: Map[String, Column]): Long = {
    val keep = (Seq(idCol, seqCol, BucketCol) ++ vecCols).toSet
    rewriteWhere(spark, dir, filter, idCol)(
      xformOverwritePayload(keep, sets))
  }

  /** Qdrant `delete_vectors` by filter: on matching points, the NAMED
    * vector columns null out — the partial-named-vector state
    * (`Fusion.blendPartial` skips a null side; a point whose every
    * queried vector is null is not returned). Points, ids, and payload
    * survive — this deletes vectors FROM points, not the points
    * (that is [[deleteWhere]]). NOT dim-gated: null is the legal
    * "vector absent" state, unlike [[setVectorWhere]]'s replacements.
    * Same manifest-committed O(touched buckets) cost; returns the
    * matched count. */
  def deleteVectorsWhere(spark: SparkSession, dir: String, filter: Column,
                         idCol: String, vecCols: Seq[String]): Long =
    rewriteWhere(spark, dir, filter, idCol)(xformDeleteVectors(vecCols))

  /** One operation of a [[updateBatch]] — the Qdrant `batch_update_points`
    * operation vocabulary (upsert / delete / set_payload /
    * overwrite_payload / clear_payload / update_vectors / delete_vectors),
    * each with the IDENTICAL semantics of its standalone verb. */
  sealed trait PointOp
  object PointOp {
    final case class Upsert(points: DataFrame) extends PointOp
    final case class Delete(filter: Column) extends PointOp
    final case class SetPayload(filter: Column,
                                sets: Map[String, Column]) extends PointOp
    final case class OverwritePayload(filter: Column,
                                      sets: Map[String, Column]) extends PointOp
    final case class ClearPayload(filter: Column) extends PointOp
    final case class SetVector(filter: Column, vecCol: String,
                               newVec: Column) extends PointOp
    final case class DeleteVectors(filter: Column,
                                   vecCols: Seq[String]) extends PointOp
  }

  /** Qdrant `batch_update_points`: a SEQUENCE of heterogeneous point
    * operations, applied in order — each op sees the preceding ops'
    * effects (an op's filter can match a row the batch itself upserted) —
    * but committed through ONE generation write and ONE atomic manifest
    * swap. That makes the batch ALL-OR-NOTHING: a failure anywhere (a
    * dim-violating SetVector replacement, a lost executor mid-write)
    * leaves the collection at the pre-batch state with no partial
    * application — strictly stronger than replaying the standalone verbs
    * one by one, where a mid-sequence crash strands the collection
    * between generations. (Qdrant itself applies the batch sequentially;
    * the one-commit form is the lakehouse upgrade the manifest layout
    * makes free.)
    *
    * Cost: one progressive pass per FILTER op to locate its matched
    * buckets (pushdown-friendly, exactly like the standalone verbs),
    * then a single rewrite of the union of touched buckets. `vecCols` /
    * `seqCol` provide the clear/overwrite verbs' identity-column context.
    * Ops count is expected small (the public API batches a handful);
    * lineage grows with ops and stays linear. */
  def updateBatch(spark: SparkSession, dir: String, ops: Seq[PointOp],
                  idCol: String, seqCol: String,
                  vecCols: Seq[String]): Unit = {
    import PointOp._
    val state = recoverForWrite(dir)
    val buckets = numBuckets(dir)
    val keep = (Seq(idCol, seqCol, BucketCol) ++ vecCols).toSet
    val dim = config(dir).dim
    def withBucket(df: DataFrame) =
      df.withColumn(BucketCol, bucketOf(idCol, buckets))
    var cur = withBucket(read(spark, dir))
    var touched = Set.empty[Int]
    val persisted = scala.collection.mutable.ListBuffer.empty[DataFrame]
    def matchedBuckets(cond: Column): Set[Int] =
      cur.filter(cond).select(BucketCol).distinct()
        .collect().map(_.getInt(0)).toSet
    ops.foreach { op =>
      op match {
        case Upsert(points) =>
          // dim gate on upserted rows (loud-fail — the batch is
          // all-or-nothing, so failing beats the sink's quarantine-drop):
          // a null named vector is the legal "vector absent" state
          // (partial named vectors), a wrong-sized one never is
          val gated = vecCols.foldLeft(points) { (d, vc) =>
            d.withColumn(vc,
              when(col(vc).isNull || VectorOps.hasDim(col(vc), dim),
                col(vc))
                .otherwise(raise_error(concat(
                  lit(s"updateBatch Upsert: vector violates dim=$dim "
                    + "for id "),
                  col(idCol).cast("string")))))
          }
          val b = withBucket(gated)
          touched ++= b.select(BucketCol).distinct()
            .collect().map(_.getInt(0)).toSet
          // persist the post-upsert state: the keep-last window is the
          // batch's one shuffle, and every later op's match scan (plus
          // the final write) would otherwise replay it — O(ops²) work
          cur = withBucket(graft.operators.Ingest.upsert(
            cur.drop(BucketCol).unionByName(gated), idCol, seqCol))
            .persist()
          persisted += cur
        case Delete(f) =>
          val cond = coalesce(f, lit(false))
          touched ++= matchedBuckets(cond)
          cur = xformDelete(cur, cond)
        case SetPayload(f, sets) =>
          val cond = coalesce(f, lit(false))
          touched ++= matchedBuckets(cond)
          cur = xformSetPayload(sets)(cur, cond)
        case OverwritePayload(f, sets) =>
          val cond = coalesce(f, lit(false))
          touched ++= matchedBuckets(cond)
          cur = xformOverwritePayload(keep, sets)(cur, cond)
        case ClearPayload(f) =>
          val cond = coalesce(f, lit(false))
          touched ++= matchedBuckets(cond)
          cur = xformClearPayload(keep)(cur, cond)
        case SetVector(f, vecCol, newVec) =>
          val cond = coalesce(f, lit(false))
          touched ++= matchedBuckets(cond)
          cur = xformSetVector(idCol, vecCol, newVec, dim,
            "updateBatch SetVector")(cur, cond)
        case DeleteVectors(f, vcs) =>
          val cond = coalesce(f, lit(false))
          touched ++= matchedBuckets(cond)
          cur = xformDeleteVectors(vcs)(cur, cond)
      }
    }
    try {
      if (touched.isEmpty) return
      publishGeneration(dir, state, touched,
        cur.filter(col(BucketCol).isin(touched.toSeq.sorted.map(Int.box): _*)))
    } finally persisted.foreach(_.unpersist(blocking = false))
  }

  /** Readers resolve through the manifest: the path set is immutable for
    * the life of that manifest generation (superseded generations outlive
    * their de-referencing write by one more write — the grace window for
    * plans bound to the previous manifest), and the rows are read with
    * the manifest's schema. A manifest whose every bucket was deleted
    * reads as an empty frame with that schema. A collection never written
    * (no manifest, or one that commits neither buckets nor a schema: a
    * first streaming batch that was empty) throws IllegalStateException.
    *
    * HELD OPEN: a committed manifest resolves to one relation per
    * (session, manifest text, [[graft.Memo.fingerprint]] of `dir`),
    * memoized through [[graft.Memo]]: the manifest's files are
    * immutable, so its frozen listing stays exact, and the next read of
    * an unchanged collection lists nothing and runs no job. The
    * fingerprint changes on every manifest swap (a new inode), on
    * delete-and-recreate, on [[restore]] and on a manifest rewritten in
    * place. Every miss evicts the dir's superseded entries, whoever wrote
    * the manifest, so at most one is held per collection;
    * [[writeManifest]] evicts them at once. */
  def read(spark: SparkSession, dir: String): DataFrame = {
    val txt = manifestText(dir)
    val m = txt.map(parseManifest(dir, _)).filter(_.schema.isDefined)
      .getOrElse(throw new IllegalStateException(
        s"collection $dir was never written: no committed rows to read"))
    graft.Memo("collectionRead", (spark, txt.get), dir) {
      graft.Memo.evict(dir)
      rowsOf(spark, dir, m, m.buckets.values.toSeq.sorted)
    }
  }

  /** An immutable published view of a collection: the manifest generation
    * plus its bucket→directory map. Incremental consumers hold one of
    * these as their cursor. */
  final case class ManifestView(gen: Int, buckets: Map[Int, String])

  /** The currently-published view (gen 0 and no buckets before the first
    * commit). */
  def manifestView(dir: String): ManifestView = {
    val m = currentState(dir)
    ManifestView(m.gen, m.buckets)
  }

  /** Bucket ids whose mapped path differs between two manifest views —
    * THE change-feed comparison rule, shared by [[changedSince]] and the
    * derived-layout refreshers (IvfIndex, Tenancy), so their delete sets
    * can never diverge from the rows the feed hands them. */
  def changedBuckets(prev: ManifestView, cur: ManifestView): Set[Int] =
    cur.buckets.collect {
      case (b, rel) if !prev.buckets.get(b).contains(rel) => b
    }.toSet

  /** CHANGE FEED — the incremental-consumer API the manifest layout
    * exists for: given the view a consumer last processed, return the
    * current view, a DataFrame of every bucket whose mapped directory
    * CHANGED since (newly created or rewritten — generation directories
    * are immutable, so an unchanged path ⇒ byte-identical data, no
    * timestamps or checksums needed), and the ids of buckets dropped
    * entirely. Cost is O(changed buckets) — a downstream index/reindex
    * job re-reads only what a write touched, never the collection. The
    * consumer's next cursor is the returned view; polling between writes
    * returns an empty frame (same path map ⇒ nothing to read). The view
    * and the schema come from one manifest read. */
  def changedSince(spark: SparkSession, dir: String, prev: ManifestView)
      : (ManifestView, DataFrame, Set[Int]) = {
    val state = currentState(dir)
    val cur = ManifestView(state.gen, state.buckets)
    val changed = changedBuckets(prev, cur).toSeq.sorted.map(cur.buckets)
    val dropped = prev.buckets.keySet -- cur.buckets.keySet
    // the manifest's schema even with nothing changed or every bucket
    // dropped, so consumers can union successive polls; a never-written
    // collection has no schema and polls as a schema-less empty frame
    val df =
      if (state.schema.isEmpty) spark.emptyDataFrame
      else rowsOf(spark, dir, state, changed)
    (cur, df, dropped)
  }

  /** The staged per-`src_bucket` refresh EVERY flat derived layout
    * shares (IvfIndex, PayloadIndex, SparseIndex, QuantIndex, PqIndex —
    * one implementation so their crash contracts can never drift;
    * Tenancy's tenant-rooted leaves and GraphIndex's per-round merge
    * keep their own specialized swaps):
    *
    *  1. STAGE — run `replacementOf(changedRows)` to completion under
    *     `_staging_refresh` (underscore: invisible to Spark's listing);
    *     a failure during the expensive write leaves the live layout
    *     byte-identical. A leftover staging dir from a previous crash is
    *     cleared first.
    *  2. SWAP — delete the stale `src_bucket=` dirs the feed reported
    *     changed/dropped, move staged dirs in (renames only). Untouched
    *     buckets' files are not read, not rewritten, not moved.
    *
    * `replacementOf` receives the change feed's rows and must return
    * them with a `src_bucket` column plus whatever secondary partition
    * columns `partitionCols` names (which must start with
    * "src_bucket"). Returns the new cursor. */
  private[sources] def stagedBucketRefresh(
      spark: SparkSession, collDir: String, indexDir: String,
      prev: ManifestView, partitionCols: Seq[String])(
      replacementOf: DataFrame => DataFrame): ManifestView =
    stagedBucketRefreshFrom(spark, indexDir, prev,
      changedSince(spark, collDir, prev), partitionCols)(replacementOf)

  /** [[stagedBucketRefresh]] over a caller-derived change feed — for
    * layouts that ALSO consume the feed for sidecar math (LexIndex's
    * `_stats` merge): both steps see ONE `(cur, changedDf, dropped)`
    * view, so a concurrent publish between "derive the feed" and "swap
    * the buckets" can never leave the sidecar computed from a different
    * manifest generation than the swapped dirs. */
  private[sources] def stagedBucketRefreshFrom(
      spark: SparkSession, indexDir: String, prev: ManifestView,
      view: (ManifestView, DataFrame, Set[Int]),
      partitionCols: Seq[String])(
      replacementOf: DataFrame => DataFrame): ManifestView = {
    require(partitionCols.headOption.contains("src_bucket"),
      s"staged refresh swaps src_bucket dirs; got $partitionCols")
    // CENTRAL serving-memo eviction for every staged layout refresh: a
    // memoized listing predates the swap (and one re-memoized mid-swap
    // is stale too — second evict below)
    ServedReads.evict(indexDir)
    val (cur, changedDf, dropped) = view
    val stale = changedBuckets(prev, cur)
    val staging = Paths.get(indexDir, "_staging_refresh")
    if (Files.exists(staging)) deleteRecursively(staging)
    if (stale.nonEmpty)
      replacementOf(changedDf)
        .write.mode("overwrite").partitionBy(partitionCols: _*)
        .parquet(staging.toString)
    (stale ++ dropped).foreach { b =>
      val dir = Paths.get(indexDir, s"src_bucket=$b")
      if (Files.exists(dir)) deleteRecursively(dir)
    }
    if (Files.isDirectory(staging)) {
      val staged = Files.list(staging)
      try staged.iterator().asScala
        .filter(d => Files.isDirectory(d) &&
          d.getFileName.toString.startsWith("src_bucket="))
        .foreach(d =>
          Files.move(d, Paths.get(indexDir, d.getFileName.toString)))
      finally staged.close()
      deleteRecursively(staging)
    }
    ServedReads.evict(indexDir)
    cur
  }

  /** Collection info (the Qdrant collection-info shape): declared config
    * plus live point count. */
  final case class CollectionInfo(config: VectorConfig, numPoints: Long)

  def info(spark: SparkSession, dir: String): CollectionInfo =
    CollectionInfo(config(dir), read(spark, dir).count())

  /** "Query the DB and return the results" (`README.md:13`) — one-call
    * top-k search over a stored collection, scoring with the collection's
    * DECLARED metric (cosine/l2/dot — the config pinned at creation,
    * `qdrant_embedder.py:92-103`), with an optional payload filter
    * (the Qdrant filter DSL via operators/PayloadFilter or any Column). */
  def search(spark: SparkSession, dir: String, vecCol: String,
             idCol: String, query: Seq[Double], k: Int,
             filter: Option[Column] = None): DataFrame = {
    val cfg = config(dir)
    require(query.length == cfg.dim,
      s"query dim ${query.length} != collection dim ${cfg.dim}")
    val base = filter.foldLeft(read(spark, dir))((df, f) => df.filter(f))
    val (metricFn, ascending) = cfg.metric match {
      case "cosine" => (VectorOps.cosine _, false)
      case "dot" => (VectorOps.dot _, false)
      case "l2" => (VectorOps.l2 _, true) // distance: smaller is better
      case m => throw new IllegalArgumentException(s"unknown metric: $m")
    }
    // delegate to Knn.knn: one top-k implementation, one determinism
    // contract (round-6 scores, id tie-break, null-score exclusion)
    graft.operators.Knn.knn(base, vecCol, query, k, metricFn, idCol,
      ascending)
  }

  /** Collection-management surface (the Qdrant client verbs the reference's
    * backends expose beyond create/upsert/search): list / delete / scroll. */

  /** Collections under `rootDir` = subdirectories carrying a
    * `_collection.json` metadata record. */
  def list(rootDir: String): Seq[String] = {
    val root = Paths.get(rootDir)
    if (!Files.isDirectory(root)) Seq.empty
    else {
      val s = Files.list(root)
      try s.iterator().asScala
        .filter(d => Files.isDirectory(d) && exists(d.toString))
        .map(_.getFileName.toString).toSeq.sorted
      finally s.close()
    }
  }

  /** Drop a collection: metadata, manifest, data — everything. */
  def delete(dir: String): Unit = {
    if (Files.exists(Paths.get(dir))) deleteRecursively(Paths.get(dir))
    graft.Memo.evict(dir)
  }

  /** One scroll page (Qdrant `scroll`): points ordered by id, strictly
    * after `afterId`, optionally filtered (the filter DSL composes here
    * like in search). Returns (page, nextOffset) — nextOffset is None on
    * the last page. Plans to TakeOrderedAndProject (bounded heap), so a
    * page never global-sorts the collection; the id predicate pushes to
    * the scan. */
  def scroll(spark: SparkSession, dir: String, idCol: String,
             afterId: Option[Any], limit: Int,
             filter: Option[Column] = None)
      : (DataFrame, Option[Any]) = {
    val base0 = filter.foldLeft(read(spark, dir))((df, f) => df.filter(f))
    val base = afterId.foldLeft(base0)((df, a) => df.filter(col(idCol) > lit(a)))
    val plan = base.orderBy(col(idCol)).limit(limit)
    // materialize ONCE: the returned page and the offset must come from
    // the same execution, or a concurrent upsert between the two runs
    // could skip/duplicate ids across pages (and each page would pay a
    // double scan). Pages are `limit`-bounded, so localizing is safe.
    val rows = plan.collect()
    val idIdx = plan.schema.fieldIndex(idCol)
    val next = if (rows.length < limit) None else Some(rows.last.get(idIdx))
    (spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), plan.schema), next)
  }

  /** Qdrant `create_snapshot`: a consistent point-in-time copy of the
    * collection — metadata, the CURRENT manifest, and exactly the data
    * files that manifest references (superseded generations are not
    * copied). Because generations are immutable and the manifest is the
    * read authority, the copy is consistent WITHOUT pausing the writer:
    * whatever manifest is read, its files cannot change underneath the
    * copy (they can only be GC'd one write later — so snapshot while no
    * more than one write races, the single-writer contract). At scale
    * this is a metadata operation plus parallel byte copies — no
    * recompute, no shuffle. */
  def snapshot(dir: String, snapDir: String): Unit = {
    val state = currentState(dir)
    Files.createDirectories(Paths.get(snapDir))
    Files.copy(metaPath(dir), Paths.get(snapDir, "_collection.json"),
      StandardCopyOption.REPLACE_EXISTING)
    state.buckets.foreach { case (_, rel) =>
      val src = Paths.get(dir, "data", rel)
      val dst = Paths.get(snapDir, "data", rel)
      Files.createDirectories(dst)
      val s = Files.list(src)
      try s.iterator().asScala
        .filter(Files.isRegularFile(_))
        .foreach(f => Files.copy(f, dst.resolve(f.getFileName.toString),
          StandardCopyOption.REPLACE_EXISTING))
      finally s.close()
    }
    // the manifest is written LAST — a torn snapshot directory (crash
    // mid-copy) has no manifest and is detectably incomplete. The
    // streaming batch fence and the schema travel WITH the snapshot: a
    // restore()d collection must still skip replays of batches it already
    // applied (same carry-forward contract as compact), or the
    // exactly-once guarantee would silently end at the first restore; and
    // a restored empty collection still polls with the live schema.
    writeManifest(snapDir, state)
  }

  /** Qdrant `recover_snapshot`: a snapshot directory IS a collection
    * (same layout), so restore = [[delete]] target + copy the snapshot.
    * The restored collection resumes at the snapshot's generation. */
  def restore(snapDir: String, dir: String): Unit = {
    require(Files.exists(manifestPath(snapDir)),
      s"not a complete snapshot (no manifest): $snapDir")
    delete(dir)
    val root = Paths.get(snapDir)
    val walk = Files.walk(root)
    try walk.iterator().asScala.foreach { p =>
      val dst = Paths.get(dir).resolve(root.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else if (p != manifestPath(snapDir))
        Files.copy(p, dst, StandardCopyOption.REPLACE_EXISTING)
    } finally walk.close()
    // the manifest commits LAST, as in snapshot: a read during the copy
    // finds no manifest, never one whose files are still being copied
    writeManifest(dir, readManifest(snapDir).get)
  }

  /** Collection ALIASES (the Qdrant aliases API): a level of indirection
    * between query code and physical collections — the standard
    * blue/green reindex flow (build `items_v2` offline, then atomically
    * repoint the `items` alias; readers never see a half-built index).
    * Aliases live in `rootDir/_aliases.json`; the swap is the same
    * stage-then-atomic-move commit as the manifest. */
  private def aliasPath(rootDir: String) = Paths.get(rootDir, "_aliases.json")

  def aliases(rootDir: String): Map[String, String] =
    if (!Files.exists(aliasPath(rootDir))) Map.empty
    else """"([^"]+)":\s*"([^"]+)"""".r
      .findAllMatchIn(new String(Files.readAllBytes(aliasPath(rootDir)),
        StandardCharsets.UTF_8))
      .map(m => m.group(1) -> m.group(2)).toMap

  /** Create or repoint an alias — atomic: readers resolve either the old
    * or the new target, never a torn file. */
  def setAlias(rootDir: String, alias: String, collection: String): Unit = {
    require(!alias.contains("\"") && !collection.contains("\""),
      "alias names must not contain quotes")
    writeAliases(rootDir, aliases(rootDir) + (alias -> collection))
  }

  def dropAlias(rootDir: String, alias: String): Unit =
    writeAliases(rootDir, aliases(rootDir) - alias)

  private def writeAliases(rootDir: String, m: Map[String, String]): Unit = {
    val body = m.toSeq.sortBy(_._1)
      .map { case (a, c) => s""""$a": "$c"""" }.mkString("{", ", ", "}")
    val tmp = Paths.get(rootDir, "_aliases.json.tmp")
    Files.write(tmp, body.getBytes(StandardCharsets.UTF_8))
    try Files.move(tmp, aliasPath(rootDir),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
    catch { case _: java.nio.file.AtomicMoveNotSupportedException =>
      Files.move(tmp, aliasPath(rootDir), StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** Resolve a name through the alias table (aliases win over physical
    * names, matching Qdrant's resolution) to a collection directory. */
  def resolve(rootDir: String, name: String): String =
    s"$rootDir/${aliases(rootDir).getOrElse(name, name)}"

  /** O20: the sink interface (`json_embedder.py:3-9`) — one write method,
    * backends differ only in construction (O18's backend dispatch). */
  trait CollectionSink {
    def write(points: DataFrame): Unit
  }

  /** The default parquet-collection sink with upsert semantics. */
  final class ParquetCollectionSink(spark: SparkSession, dir: String,
                                    cfg: VectorConfig, vecCol: String,
                                    idCol: String, seqCol: String)
      extends CollectionSink {
    create(dir, cfg)
    override def write(points: DataFrame): Unit = {
      val (ok, _) = validate(points, vecCol, cfg)
      upsert(spark, dir, ok, idCol, seqCol)
    }
    /** Exactly-once streaming form: [[Collections.upsertBatch]] with the
      * foreachBatch batchId — a replayed batch is skipped, not
      * re-applied. Returns whether the batch was applied.
      *
      * Rejection visibility: a batch whose rows are ALL dropped by
      * validation must NOT advance the fence — silently fencing it would
      * make a corrected replay of that batchId permanently skippable with
      * the bad rows unrecoverable, indistinguishable from a genuinely
      * empty batch. Partial rejections apply the surviving rows (the
      * reference's drop-on-error containment, `embedder.py`) but are
      * surfaced loudly via the returned count. */
    def writeBatch(points: DataFrame, batchId: Long): Boolean =
      writeBatchCounted(points, batchId)._1

    /** [[writeBatch]] plus the rejected-row count (one aggregate job —
      * total and valid counted in the same pass, with [[validate]]'s own
      * predicate). An already-fenced replay short-circuits BEFORE the
      * count: it must cost one metadata read, not a batch scan + a
      * spurious rejection warning. */
    def writeBatchCounted(points: DataFrame, batchId: Long): (Boolean, Long) = {
      require(batchId >= 0, s"streaming batchId must be >= 0, got $batchId")
      if (batchId <= lastAppliedBatch(dir)) return (false, 0L)
      val (ok, _) = validate(points, vecCol, cfg)
      val counts = points.agg(
        count(lit(1)).as("__total"),
        count(when(validCond(vecCol, cfg), 1)).as("__ok"))
        .head()
      val (total, valid) = (counts.getLong(0), counts.getLong(1))
      val rejected = total - valid
      if (rejected > 0)
        org.slf4j.LoggerFactory.getLogger(getClass)
          .warn(s"collection $dir batch $batchId: $rejected of $total " +
            s"rows rejected by dim validation")
      if (valid == 0 && total > 0) (false, rejected) // fence untouched
      else (upsertBatch(spark, dir, ok, idCol, seqCol, batchId), rejected)
    }
  }
}
