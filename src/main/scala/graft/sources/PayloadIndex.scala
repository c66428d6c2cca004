package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Payload FIELD index — the engine's form of Qdrant's
  * `create_payload_index` (the public API companion of the filter DSL:
  * the reference's collections get payload filtering accelerated
  * server-side by exactly this declaration; `qdrant_embedder.py:92-103`
  * creates the collections the README's "Query the DB" claim filters
  * over). The engine's payload filters already push down to parquet row
  * groups; this index upgrades a DECLARED high-selectivity key to
  * file-listing pruning — the serving-layout family's last member next
  * to IVF ([[IvfIndex]]), sparse ([[SparseIndex]]) and tenant
  * ([[Tenancy]]) routing.
  *
  * Three field schemas, mirroring Qdrant's public index types:
  *
  *  - **hash** ([[build]]): keyword/equality fields — `pbucket =
  *    pmod(hash(key), vb)`, serving `match`/`match.any` via a
  *    constant-folded literal bucket ([[forValue]]/[[forValues]]).
  *  - **range** ([[buildRange]]): integer/float/datetime fields —
  *    `pbucket = floor((key − origin) / width)`, the value-width
  *    partitioning production lakes use for date keys. A DSL `range`
  *    becomes a contiguous literal `pbucket BETWEEN` comparison
  *    ([[forRange]]) that prunes at FILE LISTING, which hashing
  *    structurally cannot do (hash scatters adjacent values across all
  *    buckets). The bucket is a pure function of the value — no trained
  *    quantiles — so refresh == rebuild holds bit-exactly and
  *    boundaries never drift. Datetime keys index their epoch integer
  *    (Qdrant's datetime index is integer timestamps internally too);
  *    float keys index a fixed-point micro-unit column.
  *  - **geo** ([[buildGeo]]): geo-point fields (Qdrant's `geo` field
  *    schema) — 2-D integer cells `plat=floor(lat·cpd)/plon=
  *    floor(lon·cpd)`, serving `geo_bounding_box` via the box's cell
  *    window ([[forGeoBox]]) and `geo_radius` via the spherical cap's
  *    bounding box + the exact haversine residual ([[forGeoRadius]]) —
  *    BOTH axes prune at file listing.
  *
  * (The full Qdrant field-schema list — keyword, integer, float, bool,
  * uuid, datetime, text, geo — maps onto these plus [[SparseIndex]]'s
  * text postings: keyword/bool/uuid/integer/float equality → hash,
  * integer/float/datetime ranges → range, full-text → text, geo → geo.)
  *
  * == Layout ==
  *
  * A generic (key → value-bucket) partitioned materialization:
  *
  * {{{
  * indexDir/
  *   _payload_index.json    {"key", "key_type", "kind", "value_buckets",
  *                           "origin", "width"}
  *   src_bucket=b/pbucket=v/part-….parquet
  * }}}
  *
  * `src_bucket` is the collection's id-hash bucket, the refresh/swap
  * unit ([[IvfIndex]]'s discipline exactly). Hash `pbucket` serves
  * high-cardinality keys with a pinned fan-out (unlike [[Tenancy]]'s
  * one-dir-per-value); range `pbucket` fan-out is value-span/width —
  * pick `width` like a lake picks its date partition grain.
  *
  * == Serving ==
  *
  * An equality (or IN) predicate on the declared key becomes a LITERAL
  * `pbucket` comparison: `pmod(hash(lit(v)), vb)` constant-folds at
  * optimization, so the scan shows `PartitionFilters: [pbucket = N]` —
  * pruning at FILE LISTING time on the driver; only 1/vb of the index's
  * files are listed, and the residual `key = v` equality (hash
  * collisions share a bucket) pushes down to row groups as usual. At
  * 100 TB: a selective payload filter reads O(matching bucket) files,
  * never the corpus listing.
  *
  * The index stores full rows (a covering index): a query that filters
  * on the key can be served from the index alone, row-identical to
  * filtering the collection — materialization must never change a
  * result (the gate runs the SAME oracle as the unindexed filter).
  *
  * == Refresh ==
  *
  * [[refresh]] composes the collection change feed
  * ([[Collections.changedSince]]) with a STAGED per-src_bucket swap:
  * replacement rows are written under `_staging_refresh` first
  * (underscore — invisible to Spark's listing), then stale `src_bucket=`
  * dirs are deleted and staged dirs move in (renames only). Cost is
  * O(points in touched buckets); untouched buckets' files are not read,
  * not rewritten, not moved. Crash during the write leaves the live
  * index intact (single writer; re-run repairs the rename window).
  */
object PayloadIndex {

  val DefaultValueBuckets = 64

  private def metaPath(dir: String) = Paths.get(dir, "_payload_index.json")

  /** The value-bucket routing expression — shared by build (assignment)
    * and serving (constant-folded literal comparison), so the two can
    * never disagree. */
  def valueBucket(key: Column, buckets: Int): Column =
    pmod(hash(key), lit(buckets))

  /** The declared key of an existing index. */
  def keyOf(dir: String): String =
    """"key":\s*"([^"]+)"""".r
      .findFirstMatchIn(new String(Files.readAllBytes(metaPath(dir)),
        StandardCharsets.UTF_8)).get.group(1)

  /** The indexed key's Catalyst type (catalogString), pinned at build.
    * Serving must hash the query literal AS THIS TYPE: Murmur3 is
    * type-sensitive (hash(3: Int) != hash(3L)), so an uncast literal of
    * the wrong Scala type would route to the wrong pbucket and silently
    * return zero rows while the residual equality (which casts
    * implicitly) hides the mismatch. */
  def keyTypeOf(dir: String): String =
    """"key_type":\s*"([^"]+)"""".r
      .findFirstMatchIn(new String(Files.readAllBytes(metaPath(dir)),
        StandardCharsets.UTF_8))
      .map(_.group(1))
      .getOrElse(throw new IllegalStateException(
        s"payload index at $dir predates the key_type metadata — " +
          "rebuild it with PayloadIndex.build (a derived layout, " +
          "rebuildable from the collection)"))

  /** The pinned value-bucket count of an existing index. */
  def valueBucketsOf(dir: String): Int =
    """"value_buckets":\s*(\d+)""".r
      .findFirstMatchIn(new String(Files.readAllBytes(metaPath(dir)),
        StandardCharsets.UTF_8)).get.group(1).toInt

  /** The field-schema kind: "hash" (equality) or "range". Pre-range
    * metadata (no kind record) is a hash index. */
  def kindOf(dir: String): String =
    """"kind":\s*"([^"]+)"""".r
      .findFirstMatchIn(new String(Files.readAllBytes(metaPath(dir)),
        StandardCharsets.UTF_8)).map(_.group(1)).getOrElse("hash")

  /** The pinned (origin, width) of a range index. */
  def rangeParamsOf(dir: String): (Long, Long) = {
    val txt = new String(Files.readAllBytes(metaPath(dir)),
      StandardCharsets.UTF_8)
    def long(k: String): Long =
      (""""""" + k + """":\s*(-?\d+)""").r.findFirstMatchIn(txt)
        .getOrElse(throw new IllegalStateException(
          s"index at $dir is not a range index (no $k in metadata)"))
        .group(1).toLong
    (long("origin"), long("width"))
  }

  private def writeMeta(dir: String, key: String, keyType: String,
                        vb: Int, kind: String = "hash",
                        origin: Long = 0L, width: Long = 0L,
                        cellsPerDeg: Double = 0,
                        geo: Option[GeoStats] = None): Unit = {
    Files.createDirectories(Paths.get(dir))
    // cells_per_deg / geo_* appear ONLY on geo indexes: stamping them
    // everywhere would turn cellsPerDegOf's not-a-geo-index guard into a
    // silent 0.0
    val geoField =
      if (kind == "geo")
        s""", "cells_per_deg": $cellsPerDeg""" + geo.map(st =>
          s""", "geo_rows": ${st.rows}, "geo_lat_min": ${st.latMin}""" +
            s""", "geo_lat_max": ${st.latMax}""" +
            s""", "geo_lon_min": ${st.lonMin}""" +
            s""", "geo_lon_max": ${st.lonMax}""").getOrElse("")
      else ""
    Files.write(metaPath(dir),
      (s"""{"key": "$key", "key_type": "$keyType", "kind": "$kind", """ +
        s""""value_buckets": $vb, "origin": $origin, "width": $width""" +
        s"""$geoField}""")
        .getBytes(StandardCharsets.UTF_8))
    ()
  }

  private def assigned(points: DataFrame, key: String, idCol: String,
                       idBuckets: Int, vb: Int): DataFrame = {
    require(!points.columns.contains("pbucket") &&
        !points.columns.contains("src_bucket"),
      "points carry a column named 'pbucket'/'src_bucket' — reserved " +
        "for the index layout")
    points
      .withColumn("pbucket", valueBucket(col(key), vb))
      .withColumn("src_bucket", Collections.bucketOf(idCol, idBuckets))
  }

  /** Materialize the index from a points frame (fixture-table form). */
  def build(points: DataFrame, key: String, idCol: String, dir: String,
            idBuckets: Int = Collections.DefaultBuckets,
            valueBuckets: Int = DefaultValueBuckets): Unit = {
    require(!key.contains("\""), "key must not contain quotes")
    val keyType = points.schema(key).dataType.catalogString
    require(!keyType.contains("\""), s"unsupported key type: $keyType")
    assigned(points, key, idCol, idBuckets, valueBuckets)
      .write.mode("overwrite")
      .partitionBy("src_bucket", "pbucket")
      .parquet(dir)
    // AFTER the data write: overwrite mode deletes the target dir first,
    // and a metadata record present without data would claim a live index
    writeMeta(dir, key, keyType, valueBuckets)
    ServedReads.evict(dir)
  }

  /** Materialize FROM a collection; returns the manifest cursor for
    * [[refresh]]. */
  def buildFromCollection(spark: SparkSession, collDir: String,
                          indexDir: String, key: String, idCol: String,
                          valueBuckets: Int = DefaultValueBuckets)
      : Collections.ManifestView = {
    val cur = Collections.manifestView(collDir)
    build(Collections.read(spark, collDir), key, idCol, indexDir,
      Collections.numBuckets(collDir), valueBuckets)
    cur
  }

  // ---------------------------------------------------------------------
  // Range field schema (Qdrant integer / float / datetime index types)
  // ---------------------------------------------------------------------

  /** The range-bucket routing expression: `floor((key − origin) /
    * width)` in EXACT integer arithmetic (a double floor would lose
    * precision beyond 2⁵³ — epoch-nanos keys live there). Shared by
    * build (assignment) and serving (bound computation), so the two can
    * never disagree. Truncating `div` on `a − pmod(a, w)` (an exact
    * multiple of w, with pmod ∈ [0, w)) equals floor division for
    * negatives too. */
  def rangeBucket(key: Column, origin: Long, width: Long): Column = {
    val a = key.cast("long") - lit(origin)
    val fl = a - pmod(a, lit(width))
    call_function("div", fl, lit(width)).cast("int")
  }

  /** The bucket id holding `value` — driver-side twin of
    * [[rangeBucket]]. */
  private def bucketOfValue(v: Long, origin: Long, width: Long): Long =
    Math.floorDiv(v - origin, width)

  private def assignedRange(points: DataFrame, key: String, idCol: String,
                            idBuckets: Int, origin: Long,
                            width: Long): DataFrame = {
    require(!points.columns.contains("pbucket") &&
        !points.columns.contains("src_bucket"),
      "points carry a column named 'pbucket'/'src_bucket' — reserved " +
        "for the index layout")
    points
      .withColumn("pbucket", rangeBucket(col(key), origin, width))
      .withColumn("src_bucket", Collections.bucketOf(idCol, idBuckets))
  }

  /** Materialize a RANGE index from a points frame. The key must be
    * integral or TIMESTAMP (a timestamp key buckets on its epoch
    * SECONDS — `cast(ts as long)` floors exactly — so `width`/`origin`
    * are in seconds and sub-second precision lives in the residual;
    * float keys index a fixed-point micro-unit column — exact bucket
    * arithmetic needs integers). `width` is the partition grain in key
    * units (e.g. 86400 for day-grain timestamps); fan-out = value
    * span / width. */
  def buildRange(points: DataFrame, key: String, idCol: String,
                 dir: String, origin: Long, width: Long,
                 idBuckets: Int = Collections.DefaultBuckets): Unit = {
    require(width > 0, s"width must be positive, got $width")
    require(!key.contains("\""), "key must not contain quotes")
    val keyType = points.schema(key).dataType.catalogString
    require(
      Set("tinyint", "smallint", "int", "bigint", "timestamp")(keyType),
      s"range index needs an integral or timestamp key, got $keyType " +
        "(index float as fixed-point micro-units)")
    assignedRange(points, key, idCol, idBuckets, origin, width)
      .write.mode("overwrite")
      .partitionBy("src_bucket", "pbucket")
      .parquet(dir)
    ServedReads.evict(dir)
    writeMeta(dir, key, keyType, 0, kind = "range", origin = origin,
      width = width)
  }

  /** Materialize a range index FROM a collection; returns the cursor. */
  def buildRangeFromCollection(spark: SparkSession, collDir: String,
                               indexDir: String, key: String,
                               idCol: String, origin: Long, width: Long)
      : Collections.ManifestView = {
    val cur = Collections.manifestView(collDir)
    buildRange(Collections.read(spark, collDir), key, idCol, indexDir,
      origin, width, Collections.numBuckets(collDir))
    cur
  }

  /** The indexed read for a DSL `range` condition (gt/gte/lt/lte, any
    * subset): the bound buckets become LITERAL `pbucket >= / <=`
    * comparisons — partition pruning at file listing, only
    * span/width-intersecting directories are listed — and the exact
    * bounds push to row groups as the residual predicate. Row-identical
    * to filtering the collection with the same bounds. The upper bucket
    * bound uses the `lt`/`lte` value's own bucket (a ≤ one-bucket
    * superset at an exact boundary; the residual keeps it exact). */
  def forRange(spark: SparkSession, dir: String,
               gt: Option[Long] = None, gte: Option[Long] = None,
               lt: Option[Long] = None, lte: Option[Long] = None)
      : DataFrame = {
    require(gt.nonEmpty || gte.nonEmpty || lt.nonEmpty || lte.nonEmpty,
      "forRange needs at least one bound")
    require(kindOf(dir) == "range",
      s"index at $dir is a ${kindOf(dir)} index — forRange needs a " +
        "range index (buildRange)")
    val key = keyOf(dir)
    val (origin, width) = rangeParamsOf(dir)
    val lo = (gt.toSeq ++ gte.toSeq).reduceOption(_ max _)
      .map(v => bucketOfValue(v, origin, width))
    val hi = (lt.toSeq ++ lte.toSeq).reduceOption(_ min _)
      .map(v => bucketOfValue(v, origin, width))
    val prune = (lo.map(b => col("pbucket") >= lit(b)).toSeq
        ++ hi.map(b => col("pbucket") <= lit(b)).toSeq)
      .reduce(_ && _)
    val residual = (gt.map(v => col(key) > lit(v)).toSeq
        ++ gte.map(v => col(key) >= lit(v)).toSeq
        ++ lt.map(v => col(key) < lit(v)).toSeq
        ++ lte.map(v => col(key) <= lit(v)).toSeq)
      .reduce(_ && _)
    ServedReads.of(spark, dir)
      .filter(prune && residual)
      .drop("pbucket", "src_bucket")
  }

  /** PRUNE-ONLY range read — bucket bound comparisons, NO residual:
    * the [[IndexRouter]] path for timestamp keys, whose exact
    * comparison semantics live in the full-DSL residual the router
    * re-applies (a long-literal residual against a TIMESTAMP column
    * would ride on cast coercions the bucket math must not depend on).
    * `lo`/`hi` are key-unit values (epoch seconds for timestamp keys),
    * already widened to a superset by the caller. */
  private[graft] def forRangePrune(spark: SparkSession, dir: String,
                                   lo: Option[Long], hi: Option[Long])
      : DataFrame = {
    require(lo.nonEmpty || hi.nonEmpty, "forRangePrune needs a bound")
    require(kindOf(dir) == "range",
      s"index at $dir is a ${kindOf(dir)} index")
    val (origin, width) = rangeParamsOf(dir)
    val prune = (lo.map(v => col("pbucket") >=
          lit(bucketOfValue(v, origin, width))).toSeq
        ++ hi.map(v => col("pbucket") <=
          lit(bucketOfValue(v, origin, width))).toSeq)
      .reduce(_ && _)
    ServedReads.of(spark, dir).filter(prune).drop("pbucket", "src_bucket")
  }

  /** Ordered scroll served from a RANGE index — Qdrant's `scroll` with
    * `order_by`, which the server only permits on a field carrying a
    * range-capable payload index (the documented precondition); this is
    * the layout that precondition buys. The unindexed
    * `Recommend.scrollOrdered` is row-identical but feeds a top-K heap
    * from EVERY row of the collection; here the value-width `pbucket`
    * partitioning is monotone in the key (bucket b's key range lies
    * strictly below bucket b+1's — disjoint floor intervals), so the
    * minimal prefix of value-ordered bucket directories holding
    * `pageSize` qualifying rows bounds the page GLOBALLY: an
    * ORDER BY + LIMIT that reads a few directories at file listing
    * instead of scanning the corpus, at any collection size.
    *
    * The window is found by geometric expansion (1, 2, 4, … of the
    * present buckets past the cursor — dir-level listing only, never a
    * file enumeration), so total probe work is ≤ 2× the final window
    * and the job count is logarithmic in it. Rows with a NULL key sit
    * in the Hive default partition, which the bucket window never
    * lists — exactly Qdrant's "points missing the order_by field are
    * skipped" contract. Integral keys only (a TIMESTAMP key's order
    * scroll goes through its epoch column, the [[IndexRouter]]
    * discipline — a long cursor literal against a timestamp column
    * would ride on cast coercions the bucket math must not depend
    * on). */
  def scrollAfter(spark: SparkSession, dir: String, idCol: String,
                  afterOrder: Long, afterId: Long, pageSize: Int,
                  ascending: Boolean = true): DataFrame = {
    require(pageSize > 0, s"pageSize must be positive, got $pageSize")
    require(kindOf(dir) == "range",
      s"index at $dir is a ${kindOf(dir)} index — ordered scroll " +
        "needs a range index (buildRange)")
    require(Set("tinyint", "smallint", "int", "bigint")(keyTypeOf(dir)),
      s"ordered scroll needs an integral key, got ${keyTypeOf(dir)} " +
        "(scroll a timestamp key through its epoch column)")
    val key = keyOf(dir)
    val (origin, width) = rangeParamsOf(dir)
    val b0 = bucketOfValue(afterOrder, origin, width)
    // present value buckets, dir-level glob (∝ bucket dirs, not files)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val present = fs
      .globStatus(new org.apache.hadoop.fs.Path(dir,
        "src_bucket=*/pbucket=*"))
      .toSeq.map(_.getPath.getName.stripPrefix("pbucket="))
      .filter(_.matches("-?\\d+")).map(_.toLong).distinct.sorted
    val ahead =
      if (ascending) present.filter(_ >= b0)
      else present.filter(_ <= b0).reverse
    val residual =
      if (ascending)
        col(key) > lit(afterOrder) ||
          (col(key) === lit(afterOrder) && col(idCol) > lit(afterId))
      else
        col(key) < lit(afterOrder) ||
          (col(key) === lit(afterOrder) && col(idCol) < lit(afterId))
    def window(n: Int): DataFrame = {
      val w = ahead.take(n)
      ServedReads.of(spark, dir)
        .filter(col("pbucket") >= lit(w.min) &&
          col("pbucket") <= lit(w.max) && residual)
    }
    if (ahead.isEmpty)
      // cursor past the last (first, desc) present bucket: empty page,
      // original schema
      return ServedReads.of(spark, dir).filter(lit(false))
        .drop("pbucket", "src_bucket")
    var n = 1
    while (n < ahead.length &&
        window(n).limit(pageSize).count() < pageSize)
      n = math.min(n * 2, ahead.length)
    val ordered =
      if (ascending) window(n).orderBy(col(key), col(idCol))
      else window(n).orderBy(col(key).desc, col(idCol).desc)
    ordered.limit(pageSize).drop("pbucket", "src_bucket")
  }

  // ---------------------------------------------------------------------
  // Geo field schema (Qdrant geo index type)
  // ---------------------------------------------------------------------

  /** The pinned cell granularity of a geo index (cells per degree —
    * 1 → 1°×1° cells, 4 → 0.25° cells, 0.03125 → 32° cells; always a
    * power of two when [[autoCellsPerDeg]] chose it). */
  def cellsPerDegOf(dir: String): Double =
    """"cells_per_deg":\s*([0-9.eE+-]+)""".r
      .findFirstMatchIn(new String(Files.readAllBytes(metaPath(dir)),
        StandardCharsets.UTF_8))
      .getOrElse(throw new IllegalStateException(
        s"index at $dir is not a geo index (no cells_per_deg)"))
      .group(1).toDouble

  /** The 2-D cell assignment — `floor(deg · cpd)` per axis. Doubles are
    * fine here (±180·cpd is far inside 2⁵³, and `x → x·cpd` then `floor`
    * are both MONOTONE in IEEE arithmetic, which is all the serving-side
    * window computation needs: every value between two bounds lands in a
    * cell between the bounds' cells). Shared by build and serving. */
  private def geoCell(deg: Column, cpd: Double): Column =
    floor(deg.cast("double") * lit(cpd)).cast("int")

  /** Driver-side twin of [[geoCell]] — same IEEE ops, same result. */
  private def cellOfDeg(deg: Double, cpd: Double): Int =
    math.floor(deg * cpd).toInt

  /** Auto-sized cell granularity (the [[graft.operators.Ann]] LSH
    * auto-geometry discipline applied to the geo grid): a fixed `cpd`
    * cannot serve every corpus — 1° cells over a scattered synthetic
    * corpus explode into one tiny file per (src_bucket, cell) (the 100×
    * probe measured 51k+ files for 200k points — a listing-time cliff),
    * while a dense city-scale corpus wants sub-degree cells. Pick cells
    * ≈ n̂/[[GeoRowsPerCell]] clamped to [64, 4096] occupied cells,
    * spread over the data's actual lat×lon extent, and SNAP to a
    * power-of-two rung (deterministic, and the floor rung pins
    * fixture-scale geometry the way the LSH/bucket-cap rungs do). The
    * chosen value is PINNED in the layout metadata — refresh reuses it,
    * so refresh == rebuild regardless of drift in n. */
  def autoCellsPerDeg(points: DataFrame, key: String): Double =
    cpdOfStats(geoStats(points, key))

  /** The geo build's one stats pass: row count + the data's lat/lon
    * extent in degrees (0-width extents for an empty/degenerate frame).
    * Feeds the auto cell grain AND the metadata the router's zero-IO
    * selectivity estimate reads ([[geoStatsOf]]). */
  private[graft] def geoStats(points: DataFrame, key: String): GeoStats = {
    val row = points.select(
      count(col(s"$key.lat")),
      coalesce(min(col(s"$key.lat")).cast("double"), lit(0.0)),
      coalesce(max(col(s"$key.lat")).cast("double"), lit(0.0)),
      coalesce(min(col(s"$key.lon")).cast("double"), lit(0.0)),
      coalesce(max(col(s"$key.lon")).cast("double"), lit(0.0)))
      .head()
    GeoStats(row.getLong(0), row.getDouble(1), row.getDouble(2),
      row.getDouble(3), row.getDouble(4))
  }

  /** A geo index's build-time data summary (stamped in its metadata):
    * coordinate-carrying row count and lat/lon extent in degrees. */
  final case class GeoStats(rows: Long, latMin: Double, latMax: Double,
                            lonMin: Double, lonMax: Double)

  private def cpdOfStats(st: GeoStats): Double = {
    // degenerate extents (all points in one spot) get a 1-cell-wide
    // floor; the grid then has a handful of cells, which is correct —
    // pruning value comes from cells the data does NOT occupy
    val area = math.max(st.latMax - st.latMin, 1.0) *
      math.max(st.lonMax - st.lonMin, 1.0)
    val targetCells =
      math.min(4096.0, math.max(64.0, st.rows.toDouble / GeoRowsPerCell))
    val raw = math.sqrt(targetCells / area)
    // snap to the nearest power-of-two rung, clamped to sane grains
    // (2^-6 = 64° cells … 2^10 ≈ 0.001° ≈ 100 m cells)
    val k = math.max(-6, math.min(10, math.round(
      math.log(raw) / math.log(2.0)).toInt))
    math.pow(2.0, k)
  }

  /** The pinned build-time [[GeoStats]] of a geo index — None on a
    * pre-r13 layout (no stats record), where the router falls back to
    * its pre-cost-decision behavior (route unconditionally). */
  def geoStatsOf(dir: String): Option[GeoStats] = {
    val txt = new String(Files.readAllBytes(metaPath(dir)),
      StandardCharsets.UTF_8)
    def num(k: String): Option[Double] =
      (""""""" + k + """":\s*(-?[0-9.eE+-]+)""").r
        .findFirstMatchIn(txt).map(_.group(1).toDouble)
    for (r <- num("geo_rows"); a <- num("geo_lat_min");
         b <- num("geo_lat_max"); c <- num("geo_lon_min");
         d <- num("geo_lon_max"))
      yield GeoStats(r.toLong, a, b, c, d)
  }

  /** Build-time target occupancy for [[autoCellsPerDeg]]: enough rows
    * per cell that a cell is a real parquet file, few enough that a
    * box/radius residual scans a bounded neighborhood. */
  val GeoRowsPerCell = 1024

  private def assignedGeo(points: DataFrame, key: String, idCol: String,
                          idBuckets: Int, cpd: Double): DataFrame = {
    require(!points.columns.exists(Set("plat", "plon", "src_bucket")),
      "points carry a column named 'plat'/'plon'/'src_bucket' — " +
        "reserved for the index layout")
    points
      .withColumn("plat", geoCell(col(s"$key.lat"), cpd))
      .withColumn("plon", geoCell(col(s"$key.lon"), cpd))
      .withColumn("src_bucket", Collections.bucketOf(idCol, idBuckets))
      // co-locate each leaf partition before the partitioned write (the
      // Collections.compact discipline): without this every input split
      // writes its own file per (bucket, cell) it happens to hold —
      // splits × cells small files (measured: 35,955 files for 4,608
      // leaf dirs at the 100× probe, and the 2-D listing's ~8× file
      // multiplicity was most of the routed read's fixed planning cost).
      // One exchange on the partition key → one file per leaf dir.
      .repartition(col("src_bucket"), col("plat"), col("plon"))
  }

  /** Materialize a GEO index (Qdrant's `geo` field schema) from a points
    * frame. `key` names a struct column with `lat`/`lon` fields (the
    * Qdrant geo-point payload shape the DSL's `geo_bounding_box` /
    * `geo_radius` conditions address). Layout partitions by the 2-D
    * integer cell (`plat=`/`plon=` under `src_bucket=`), so a geo
    * condition's cell window prunes BOTH axes at file listing. Fan-out =
    * occupied cells — the auto grain targets [[GeoRowsPerCell]] rows per
    * cell within a [64, 4096]-cell budget, so the layout never explodes
    * into tiny files however the corpus scatters, and a dense city-scale
    * corpus still gets sub-degree cells. The cell is a pure function of the
    * coordinates — refresh == rebuild bit-exactly. Null/missing
    * coordinates land in the hive default partition and are excluded by
    * every geo residual, exactly as the unindexed predicates exclude
    * them. `cellsPerDeg` ≤ 0 (the default) auto-sizes the grain from
    * the data ([[autoCellsPerDeg]]); pass an explicit positive value to
    * pin it. */
  def buildGeo(points: DataFrame, key: String, idCol: String, dir: String,
               cellsPerDeg: Double = 0,
               idBuckets: Int = Collections.DefaultBuckets): Unit = {
    require(!key.contains("\""), "key must not contain quotes")
    val keyType = points.schema(key).dataType.catalogString
    require(keyType.startsWith("struct") && keyType.contains("lat") &&
        keyType.contains("lon"),
      s"geo index needs a struct<lat,lon> key, got $keyType")
    // ONE stats pass serves both the auto grain and the pinned extent
    // metadata the router's zero-IO selectivity decision reads
    val stats = geoStats(points, key)
    val cpd = if (cellsPerDeg > 0) cellsPerDeg else cpdOfStats(stats)
    assignedGeo(points, key, idCol, idBuckets, cpd)
      .write.mode("overwrite")
      .partitionBy("src_bucket", "plat", "plon")
      .parquet(dir)
    ServedReads.evict(dir)
    writeMeta(dir, key, "struct", 0, kind = "geo", cellsPerDeg = cpd,
      geo = Some(stats))
  }

  /** Materialize a geo index FROM a collection; returns the cursor. */
  def buildGeoFromCollection(spark: SparkSession, collDir: String,
                             indexDir: String, key: String, idCol: String,
                             cellsPerDeg: Double = 0)
      : Collections.ManifestView = {
    val cur = Collections.manifestView(collDir)
    buildGeo(Collections.read(spark, collDir), key, idCol, indexDir,
      cellsPerDeg, Collections.numBuckets(collDir))
    cur
  }

  /** The indexed read for a DSL `geo_bounding_box`: the box's cell
    * window becomes literal `plat`/`plon` BETWEEN comparisons — file
    * listing prunes BOTH axes — and the exact box comparisons re-apply
    * as the residual, row-identical to the in-plan predicate (including
    * the degenerate tlLon > brLon case, which both forms treat as empty
    * — the in-plan DSL does not wrap the antimeridian either). */
  def forGeoBox(spark: SparkSession, dir: String, tlLat: Double,
                tlLon: Double, brLat: Double, brLon: Double): DataFrame = {
    require(kindOf(dir) == "geo",
      s"index at $dir is a ${kindOf(dir)} index — forGeoBox needs a " +
        "geo index (buildGeo)")
    val key = keyOf(dir)
    val cpd = cellsPerDegOf(dir)
    val lat = col(s"$key.lat").cast("double")
    val lon = col(s"$key.lon").cast("double")
    ServedReads.of(spark, dir)
      .filter(
        col("plat") >= lit(cellOfDeg(brLat, cpd)) &&
          col("plat") <= lit(cellOfDeg(tlLat, cpd)) &&
          col("plon") >= lit(cellOfDeg(tlLon, cpd)) &&
          col("plon") <= lit(cellOfDeg(brLon, cpd)) &&
          lat <= lit(tlLat) && lat >= lit(brLat) &&
          lon >= lit(tlLon) && lon <= lit(brLon))
      .drop("plat", "plon", "src_bucket")
  }

  /** The indexed read for a DSL `geo_radius`: the spherical cap's
    * bounding box (the published cap-box construction — |Δlat| ≤ d/R,
    * Δlon = asin(sin(d/R)/cos(center lat)), lon unbounded when the cap
    * touches a pole) widened by an epsilon for FP rounding gives the
    * cell window; the EXACT haversine predicate
    * ([[graft.operators.PayloadFilter.geoRadiusPred]] — the in-plan DSL
    * arm verbatim) re-applies as the residual. Over-inclusion in the
    * window is free (the residual is exact); under-inclusion cannot
    * happen (the cap-box bound is exact and only ever widened). */
  def forGeoRadius(spark: SparkSession, dir: String, cLat: Double,
                   cLon: Double, radiusM: Double): DataFrame = {
    require(kindOf(dir) == "geo",
      s"index at $dir is a ${kindOf(dir)} index — forGeoRadius needs a " +
        "geo index (buildGeo)")
    require(radiusM >= 0, s"radius must be non-negative: $radiusM")
    val key = keyOf(dir)
    val cpd = cellsPerDegOf(dir)
    val dRad = radiusM / 6371000.0 // angular radius
    val eps = 1e-9
    val dLatDeg = math.toDegrees(dRad) * (1 + eps) + eps
    val latLo = cLat - dLatDeg
    val latHi = cLat + dLatDeg
    // lon window: unbounded if the cap reaches a pole or sin(d/R) ≥
    // cos(center lat) (the asin argument would leave [-1, 1]). A window
    // crossing ±180 WRAPS (the haversine's sin(Δλ/2) is periodic, so the
    // exact predicate matches across the antimeridian — the window must
    // too): the between becomes an OR of the two unwrapped arms, still a
    // partition filter. Coordinates are assumed normalized to the geo
    // domain ([-90, 90] × [-180, 180], the public Qdrant convention the
    // in-plan DSL shares).
    val sinD = math.sin(math.min(dRad, math.Pi / 2))
    val cosC = math.cos(math.toRadians(cLat))
    val lonPrune: Option[Column] =
      if (latHi >= 90.0 || latLo <= -90.0 || sinD >= cosC) None
      else {
        val dLonDeg =
          math.toDegrees(math.asin(sinD / cosC)) * (1 + eps) + eps
        val (loDeg, hiDeg) = (cLon - dLonDeg, cLon + dLonDeg)
        def between(lo: Double, hi: Double): Column =
          col("plon") >= lit(cellOfDeg(lo, cpd)) &&
            col("plon") <= lit(cellOfDeg(hi, cpd))
        if (2 * dLonDeg >= 360.0) None
        else if (loDeg < -180.0)
          Some(between(loDeg + 360.0, 180.0) || between(-180.0, hiDeg))
        else if (hiDeg > 180.0)
          Some(between(loDeg, 180.0) || between(-180.0, hiDeg - 360.0))
        else Some(between(loDeg, hiDeg))
      }
    val lat = col(s"$key.lat").cast("double")
    val lon = col(s"$key.lon").cast("double")
    val prune = Seq(
      Some(col("plat") >= lit(cellOfDeg(latLo, cpd)) &&
        col("plat") <= lit(cellOfDeg(latHi, cpd))),
      lonPrune)
      .flatten.reduce(_ && _)
    ServedReads.of(spark, dir)
      .filter(prune && graft.operators.PayloadFilter.geoRadiusPred(
        lat, lon, lit(cLat), lit(cLon), lit(radiusM)))
      .drop("plat", "plon", "src_bucket")
  }

  /** A STRING key probed with a non-string literal cannot be served by
    * pbucket routing at all: the unindexed comparison coerces the COLUMN
    * side numerically (`'03' = 3` is true — both promote to double), so
    * a matching row may live in hash("03")'s bucket while the literal
    * routes to hash("3")'s — no residual predicate can recover a row in
    * a bucket the listing never probes. The pbucket route is therefore
    * the one cast-sensitive step: for this mismatch the read falls back
    * to the unindexed coercion semantics over the full index (correct,
    * unpruned — pass string probes to string keys to keep the pruning). */
  private def stringKeyMismatch(keyType: String, value: Any): Boolean =
    keyType == "string" && value != null && !value.isInstanceOf[String]

  /** The indexed read for `key = value`: a constant-folded `pbucket`
    * literal → static partition pruning at file listing, plus the
    * residual key equality pushed to row groups (bucket collisions).
    * Row-identical to `collection.filter(key === value)` — including the
    * string-key/numeric-probe case, which serves via the
    * [[stringKeyMismatch]] fallback. */
  def forValue(spark: SparkSession, dir: String, value: Any): DataFrame = {
    // wrong-kind probes must fail loudly, not return zero rows: a range
    // index's meta has value_buckets = 0, and pmod(hash, 0) is NULL —
    // an unguarded equality probe would silently match nothing
    require(kindOf(dir) == "hash",
      s"index at $dir is a ${kindOf(dir)} index — forValue needs a " +
        "hash index (build); ranges go through forRange")
    val key = keyOf(dir)
    val vb = valueBucketsOf(dir)
    val t = keyTypeOf(dir)
    if (stringKeyMismatch(t, value))
      ServedReads.of(spark, dir).filter(col(key) === lit(value))
        .drop("pbucket", "src_bucket")
    else {
      // cast the literal to the INDEXED type before hashing (still
      // constant-folds): Murmur3 is type-sensitive, see [[keyTypeOf]].
      // The round-trip conjunct (v === lit) guards LOSSY casts: a query
      // for 3.7 against an int key must return NOTHING (as the unindexed
      // double-promoted comparison does), not every key=3 row — the
      // conjunct folds to false and the whole scan prunes away
      val v = lit(value).cast(t)
      ServedReads.of(spark, dir)
        .filter(col("pbucket") === valueBucket(v, vb) && col(key) === v &&
          v === lit(value))
        .drop("pbucket", "src_bucket")
    }
  }

  /** The indexed read for `key IN (values)` (the DSL's `match any`):
    * the pruned listing is the union of the values' buckets. */
  def forValues(spark: SparkSession, dir: String, values: Seq[Any])
      : DataFrame = {
    require(values.nonEmpty, "forValues needs at least one value")
    require(kindOf(dir) == "hash",
      s"index at $dir is a ${kindOf(dir)} index — forValues needs a " +
        "hash index (build); ranges go through forRange")
    val key = keyOf(dir)
    val vb = valueBucketsOf(dir)
    val t = keyTypeOf(dir)
    // ONE non-string probe against a string key forces the whole read
    // onto the [[stringKeyMismatch]] fallback: its arm can match rows in
    // any bucket, and an OR with an unpruned arm defeats listing-time
    // pruning anyway — serving the entire disjunction with the unindexed
    // coercion semantics keeps the row-identical contract
    if (values.exists(stringKeyMismatch(t, _)))
      ServedReads.of(spark, dir)
        .filter(values.map(raw => col(key) === lit(raw)).reduce(_ || _))
        .drop("pbucket", "src_bucket")
    else {
      // per-value arm with the same lossy-cast round-trip guard as
      // [[forValue]]; an all-lossy value list folds to an empty scan
      val arms = values.map { raw =>
        val v = lit(raw).cast(t)
        (col("pbucket") === valueBucket(v, vb)) && col(key) === v &&
          v === lit(raw)
      }
      ServedReads.of(spark, dir)
        .filter(arms.reduce(_ || _))
        .drop("pbucket", "src_bucket")
    }
  }

  /** Incremental refresh from the change feed — the [[IvfIndex.refresh]]
    * contract verbatim: stale `src_bucket=` dirs deleted, staged
    * replacements moved in, untouched buckets byte-stable. Returns the
    * new cursor. Serves both kinds: the bucket expression (hash or
    * range) is the pinned pure function the build used, so refresh ==
    * rebuild bit-exactly either way. */
  def refresh(spark: SparkSession, collDir: String, indexDir: String,
              idCol: String,
              prev: Collections.ManifestView): Collections.ManifestView = {
    val key = keyOf(indexDir)
    val kind = kindOf(indexDir)
    val partCols =
      if (kind == "geo") Seq("src_bucket", "plat", "plon")
      else Seq("src_bucket", "pbucket")
    ServedReads.evict(indexDir) // a memoized listing predates the swap
    val cur = Collections.stagedBucketRefresh(spark, collDir, indexDir,
      prev, partCols) { changed =>
      kind match {
        case "geo" =>
          assignedGeo(changed, key, idCol, Collections.numBuckets(collDir),
            cellsPerDegOf(indexDir))
        case "range" =>
          val (origin, width) = rangeParamsOf(indexDir)
          assignedRange(changed, key, idCol,
            Collections.numBuckets(collDir), origin, width)
        case _ =>
          assigned(changed, key, idCol, Collections.numBuckets(collDir),
            valueBucketsOf(indexDir))
      }
    }
    ServedReads.evict(indexDir) // and one re-memoized mid-swap is stale too
    cur
  }
}
