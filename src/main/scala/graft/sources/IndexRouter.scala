package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Index-aware serving for the Qdrant filter DSL — the planner step
  * that makes DECLARED payload indexes apply AUTOMATICALLY, the way the
  * Qdrant server consults its field indexes when executing a filter
  * (`create_payload_index` exists so filters get faster without the
  * caller changing the query), instead of requiring callers to invoke
  * `forValue`/`forRange` by hand.
  *
  * == Routing rule ==
  *
  * Scan the DSL's top-level `must` conditions in declaration order and
  * take the FIRST one a declared index can serve:
  *
  *  - **hash** index on the key: `match.value` →
  *    [[PayloadIndex.forValue]], `match.any` → [[PayloadIndex.forValues]];
  *  - **range** index on the key: a numeric `range` whose bounds are all
  *    integral → [[PayloadIndex.forRange]]. Fractional or
  *    datetime-string bounds do NOT route: the bucket arithmetic needs
  *    exact integers and the router cannot know a datetime key's epoch
  *    unit — such filters serve unrouted, or through a purpose-built
  *    read like `q_events_dsl_time_indexed`;
  *  - **text** index (a [[SparseIndex]] postings dir) on the key:
  *    `match.text` / `match.phrase` → the candidates-then-verify read:
  *    ids containing all query-token buckets
  *    ([[SparseIndex.candidatesContainingAll]]) select the base rows via
  *    [[graft.operators.GraphAnn.inIdsFrame]] (literal probe ≤
  *    ProbeLimit, distributed semi-join above), and the full DSL
  *    residual settles collisions and word order. An all-blank query
  *    does not route (vacuously true — routing would have to return
  *    every row);
  *  - **geo** index on the key: `geo_bounding_box` →
  *    [[PayloadIndex.forGeoBox]] (the box's 2-D cell window prunes at
  *    file listing), `geo_radius` → [[PayloadIndex.forGeoRadius]] (the
  *    spherical cap's bounding box prunes; the exact haversine rides
  *    in the read's own residual and again in the full DSL),
  *    `geo_polygon` → [[PayloadIndex.forGeoBox]] over the exterior
  *    ring's bounding box, widened 1 µ° per side so the routed read
  *    stays a strict superset of the micro-degree-quantized ray cast
  *    (the exact polygon, holes included, rides in the full-DSL
  *    residual). The geo arm is the one COST-GATED route (the r12
  *    verdict's prescription): it declines when the window covers more
  *    than [[GeoRouteMaxFraction]] of the index's pinned build-time
  *    extent — a wide window prunes too few bytes to repay opening its
  *    many small cell files (measured 7.2× slower than the direct scan
  *    at the 2M-row probe on the fixture polygon's 41%-of-extent
  *    window, even with the listing amortized) — or when the pinned
  *    row count sits under [[GeoRouteMinRows]] — a small corpus costs
  *    less to scan than its cell grid costs to open (measured: routed
  *    lost or tied at EVERY window fraction on the 200k-row probe
  *    corpus). Both signals are pure zero-IO functions of the
  *    condition and the pinned [[PayloadIndex.geoStatsOf]] stats, so
  *    plans stay deterministic.
  *
  * First-match keeps the choice deterministic and plan-stable (the geo
  * selectivity gate is a deterministic function of the condition and
  * the index metadata, not a runtime sample). Priority follows the
  * FILTER's must-condition order — declarations are a lookup set, their
  * order carries no preference — so put the most selective condition
  * first in the filter JSON. `should` / `must_not` conditions never
  * route (they do not restrict the base set the way a conjunctive
  * `must` does).
  *
  * == Correctness ==
  *
  * The indexed read replaces only the BASE SCAN; the FULL DSL predicate
  * re-applies on top (the covering index stores complete rows, so every
  * key the filter references is present). `must` conditions AND
  * together, so the routed condition's matches are a superset of the
  * filter's matches — routing is purely an IO decision and the one
  * predicate remains the single source of semantics. Result is
  * row-identical to `points.filter(PayloadFilter.fromJson(dsl))`
  * whether or not anything routed (oracle-gated: `v_knn_dsl_routed`
  * reuses `v_knn_dsl`'s oracle verbatim). Typed (top-level-column) mode
  * only — a JSON-payload-column filter addresses keys the index layout
  * does not cover.
  *
  * At 100 TB: a selective declared key turns the filter's base read
  * from a corpus scan into a file-listing-pruned index read
  * (PartitionFilters — spec-asserted on the routed plan), with the
  * residual predicate pushed to row groups as usual.
  */
object IndexRouter {

  /** Serve `points.filter(dsl)` through the first routable declared
    * index. `indexes` = (key → indexDir) in declaration order. */
  def filtered(spark: SparkSession, points: DataFrame,
               indexes: Seq[(String, String)], dslJson: String,
               idCol: String = "id"): DataFrame = {
    val pred =
      graft.operators.PayloadFilter.fromJson(dslJson, idCol = idCol)
    baseRead(spark, points, indexes, dslJson, idCol).filter(pred)
  }

  /** The base read alone (exposed for plan-shape specs): the routed
    * index read, or `points` when nothing routes. */
  private[graft] def baseRead(spark: SparkSession, points: DataFrame,
                              indexes: Seq[(String, String)],
                              dslJson: String, idCol: String): DataFrame =
    baseReadInfo(spark, points, indexes, dslJson, idCol)._1

  /** [[baseRead]] plus whether the routed read is LISTING-PRUNED (its
    * file listing is the pruned index partitions — the hash/range/geo
    * kinds). The text kind's candidates-then-verify read filters the
    * POINTS scan by literal ids, so its listing is the whole
    * collection: a footer count over it would count the corpus, not
    * the candidates — [[VectorRouter]]'s estimate must count its ROWS
    * (a cheap literal-pruned job), never its footers. */
  private[graft] def baseReadInfo(spark: SparkSession, points: DataFrame,
                                  indexes: Seq[(String, String)],
                                  dslJson: String, idCol: String)
      : (DataFrame, Boolean) = {
    val musts: Seq[JValue] = JsonMethods.parse(dslJson) match {
      case JObject(fs) => fs.toMap.get("must") match {
        case Some(JArray(cs)) => cs
        case _ => Nil
      }
      case _ => Nil
    }
    musts.iterator
      .map(routeOne(spark, points, indexes, idCol, _))
      .collectFirst { case Some(r) => r }
      .getOrElse((points, false))
  }

  /** Qdrant's DATETIME range (RFC 3339 string bounds) on a declared
    * TIMESTAMP range key: bounds parse to epoch seconds — FLOORED for
    * lower bounds and CEILED for upper bounds, so the bucket window is
    * a SUPERSET at sub-second precision (the full-DSL residual the
    * router re-applies restores exactness; the prune-only read skips
    * the key residual whose timestamp-vs-long coercion the bucket math
    * must not depend on). Any unparseable bound → no route. */
  private def routeTimestampRange(spark: SparkSession, dir: String,
                                  rm: Map[String, JValue])
      : Option[DataFrame] = {
    def sec(n: String, ceil: Boolean): Option[Option[Long]] =
      rm.get(n) match {
        case None => None
        case Some(JString(s)) =>
          try {
            val i = java.time.OffsetDateTime.parse(s).toInstant
            Some(Some(i.getEpochSecond +
              (if (ceil && i.getNano > 0) 1L else 0L)))
          } catch { case _: java.time.format.DateTimeParseException =>
            Some(None) }
        case Some(_) => Some(None) // non-string bound on a ts key
      }
    val bs = Seq(sec("gt", ceil = false), sec("gte", ceil = false),
      sec("lt", ceil = true), sec("lte", ceil = true))
    if (bs.exists(_.contains(None)) || bs.forall(_.isEmpty)) None
    else {
      val Seq(gt, gte, lt, lte) = bs.map(_.flatten)
      val lo = (gt.toSeq ++ gte.toSeq).reduceOption(_ max _)
      val hi = (lt.toSeq ++ lte.toSeq).reduceOption(_ min _)
      Some(PayloadIndex.forRangePrune(spark, dir, lo, hi))
    }
  }

  private def raw(v: JValue): Option[Any] = v match {
    case JInt(i) => Some(i.toLong)
    case JLong(l) => Some(l)
    case JDouble(d) => Some(d)
    case JDecimal(d) => Some(d.toDouble)
    case JString(s) => Some(s)
    case JBool(b) => Some(b)
    case _ => None
  }

  /** One condition's route, tagged with whether the read is
    * LISTING-PRUNED (see [[baseReadInfo]]): true for the partition-
    * window kinds (hash/range/geo), false for text's literal-id read. */
  private def routeOne(spark: SparkSession, points: DataFrame,
                       indexes: Seq[(String, String)], idCol: String,
                       cond: JValue): Option[(DataFrame, Boolean)] =
    cond match {
    case JObject(fs) =>
      val m = fs.toMap
      m.get("key") match {
        case Some(JString(k)) =>
          indexes.find(_._1 == k).flatMap { case (_, dir) =>
            val kind =
              if (SparseIndex.isTextIndex(dir)) "text"
              else PayloadIndex.kindOf(dir)
            val routedRead: Option[DataFrame] = kind match {
              case "text" => m.get("match") match {
                case Some(JObject(mf)) =>
                  val mm = mf.toMap
                  (mm.get("text").orElse(mm.get("phrase")) match {
                    case Some(JString(qtext)) =>
                      val toks = qtext.split("\\s+").toSeq
                        .filter(_.nonEmpty)
                      if (toks.isEmpty) None // vacuously-true condition
                      else Some(toks)
                    case _ => None
                  }).map { toks =>
                    // the postings pin their own id column name — probe
                    // with it, rename to the caller's id for the join
                    val (idxId, _) = SparseIndex.textMeta(dir)
                    graft.operators.GraphAnn.inIdsFrame(points, idCol,
                      SparseIndex.candidatesContainingAll(spark, dir,
                          idxId, toks)
                        .withColumnRenamed(idxId, idCol))
                  }
                case _ => None
              }
              case "hash" => m.get("match") match {
                case Some(JObject(mf)) =>
                  val mm = mf.toMap
                  mm.get("value").flatMap(raw)
                    .map(PayloadIndex.forValue(spark, dir, _))
                    .orElse(mm.get("any") match {
                      case Some(JArray(vs)) if vs.nonEmpty =>
                        val rs = vs.flatMap(raw)
                        if (rs.length == vs.length)
                          Some(PayloadIndex.forValues(spark, dir, rs))
                        else None
                      case _ => None
                    })
                case _ => None
              }
              case "geo" =>
                def num(v: JValue): Option[Double] = v match {
                  case JInt(i) => Some(i.toDouble)
                  case JLong(l) => Some(l.toDouble)
                  case JDouble(d) => Some(d)
                  case JDecimal(d) => Some(d.toDouble)
                  case _ => None
                }
                def pt(v: JValue): Option[(Double, Double)] = v match {
                  case JObject(p) =>
                    val pm = p.toMap
                    for (la <- pm.get("lat").flatMap(num);
                         lo <- pm.get("lon").flatMap(num)) yield (la, lo)
                  case _ => None
                }
                // (window, routed read): the WINDOW is the condition's
                // lat/lon pruning rectangle — what the cost decision
                // below measures against the index's pinned data extent
                val routed: Option[(GeoWindow, () => DataFrame)] =
                m.get("geo_bounding_box") match {
                  case Some(JObject(b)) =>
                    val bm = b.toMap
                    for ((tlLat, tlLon) <- bm.get("top_left").flatMap(pt);
                         (brLat, brLon) <-
                           bm.get("bottom_right").flatMap(pt))
                      yield (GeoWindow(brLat, tlLat,
                          Some(Seq((tlLon, brLon)))),
                        () => PayloadIndex.forGeoBox(spark, dir,
                          tlLat, tlLon, brLat, brLon))
                  case _ => m.get("geo_radius") match {
                    case Some(JObject(r)) =>
                      val rm = r.toMap
                      // a negative radius must NOT route: the unrouted
                      // haversine predicate evaluates to an empty frame,
                      // and the router's contract is row-identical
                      // serving, never a crash the unrouted form lacks
                      for ((cLat, cLon) <- rm.get("center").flatMap(pt);
                           rad <- rm.get("radius").flatMap(num)
                             if rad >= 0)
                        yield (radiusWindow(cLat, cLon, rad),
                          () => PayloadIndex.forGeoRadius(spark, dir,
                            cLat, cLon, rad))
                    case _ => m.get("geo_polygon") match {
                      // the EXTERIOR ring's bounding box prunes the cell
                      // window; the exact ray-cast polygon (holes
                      // included) rides in the full-DSL residual. The
                      // polygon predicate is plate-carrée (no
                      // antimeridian wrap — PayloadFilter object doc),
                      // so the flat min/max box is always a superset of
                      // the ring it serves. The box is WIDENED by 1
                      // micro-degree per side: the exact predicate
                      // quantizes coordinates to micro-degrees
                      // (floor(x·1e6 + 0.5)), so a point up to 0.5 µ°
                      // outside the raw ring extreme can still be
                      // quantized-inside the ray cast — the widened box
                      // keeps the routed read a strict superset of the
                      // quantized polygon (r12 ADVICE).
                      case Some(JObject(gp)) =>
                        def ringPts(v: JValue)
                            : Option[Seq[(Double, Double)]] = v match {
                          case JObject(r) => r.toMap.get("points") match {
                            case Some(JArray(ps)) =>
                              val pts = ps.flatMap(pt)
                              if (pts.length == ps.length && pts.nonEmpty)
                                Some(pts)
                              else None
                            case _ => None
                          }
                          case _ => None
                        }
                        for (ext <- gp.toMap.get("exterior").flatMap(ringPts))
                          yield {
                            val (latLo, latHi) = (ext.map(_._1).min - 1e-6,
                              ext.map(_._1).max + 1e-6)
                            val (lonLo, lonHi) = (ext.map(_._2).min - 1e-6,
                              ext.map(_._2).max + 1e-6)
                            (GeoWindow(latLo, latHi,
                                Some(Seq((lonLo, lonHi)))),
                              () => PayloadIndex.forGeoBox(spark, dir,
                                latHi, lonLo, latLo, lonHi))
                          }
                      case _ => None
                    }
                  }
                }
                routed.collect { case (win, read)
                    if geoWindowSelective(spark, dir, win) => read() }
              case "range" => m.get("range") match {
                case Some(JObject(rf)) =>
                  val rm = rf.toMap
                  if (PayloadIndex.keyTypeOf(dir) == "timestamp")
                    routeTimestampRange(spark, dir, rm)
                  else {
                    // None = absent bound (fine); Some(None) encodes a
                    // NON-INTEGRAL bound → the whole condition must not
                    // route (a truncated bucket bound could under-prune)
                    def bound(n: String): Option[Option[Long]] =
                      rm.get(n) match {
                        case None => None
                        case Some(JInt(i)) => Some(Some(i.toLong))
                        case Some(JLong(l)) => Some(Some(l))
                        case Some(_) => Some(None)
                      }
                    val bs = Seq("gt", "gte", "lt", "lte").map(bound)
                    if (bs.exists(_.contains(None)) ||
                        bs.forall(_.isEmpty))
                      None
                    else {
                      val Seq(gt, gte, lt, lte) = bs.map(_.flatten)
                      Some(PayloadIndex.forRange(spark, dir, gt, gte, lt,
                        lte))
                    }
                  }
                case _ => None
              }
              case _ => None
            }
            routedRead.map((_, kind != "text"))
          }
        case _ => None
      }
    case _ => None
  }

  /** A geo condition's pruning rectangle in degrees: the latitude span
    * plus the longitude arms (None = longitude-unbounded, as when a
    * radius cap touches a pole; two arms when a cap window wraps the
    * antimeridian). Feeds ONLY the routing cost decision — the routed
    * read computes its own exact cell window, so a conservative window
    * here can never change a row. */
  private[graft] final case class GeoWindow(
      latLo: Double, latHi: Double,
      lonArms: Option[Seq[(Double, Double)]])

  /** Default ceiling on the window/extent area fraction a geo route
    * accepts (override per session via `graft.geo.routeMaxFraction`).
    * The route reads ≈ fraction of the corpus (plus per-pruned-file
    * overhead), the direct scan reads all of it in full-size files.
    * Measured (r13 `Dev georouteprobe`, 2M-row stored-location corpus,
    * amortized listing — SURVEY §8.8): routed/direct = 0.49 at a 0.5%
    * window, 0.85 at 2%, 1.40 at 6%, 2.0 at 12.5%, 7.2 at the fixture
    * polygon's 41% — the crossover sits at ~2–6%, and 0.05 is read off
    * it. At petabyte scale per-file overhead shrinks relative to bytes
    * and the crossover moves right; deployments there should RAISE
    * this. */
  val GeoRouteMaxFraction = 0.05

  /** Floor on the index's pinned build-time row count under which a geo
    * route NEVER pays (override via `graft.geo.routeMinRows`): a corpus
    * this small costs less to scan outright than to open the grid's
    * many small pruned files — measured (r13 `Dev georouteprobe`,
    * SURVEY §8.8): at 200k rows the routed form lost or tied at EVERY
    * window fraction (ratio 1.4–2.2), at 2M rows selective windows win
    * 2× — 1M is read off that bracket. Pure metadata decision —
    * [[PayloadIndex.geoStatsOf]]'s pinned rows, zero IO at query
    * time. */
  val GeoRouteMinRows = 1000000L

  /** The r13 cost decision the r12 verdict prescribed: serve a geo
    * condition through the 2-D cell index only when its window is
    * SELECTIVE against the index's pinned build-time extent
    * ([[PayloadIndex.geoStatsOf]] — zero IO beyond the metadata file
    * already read to kind the index). A wide window selects most cells,
    * and the pruned listing + per-tiny-file task overhead then cost
    * more than the corpus scan the route avoids (measured: the fixture
    * polygon's 41%-of-extent bbox served 6× SLOWER routed at the 100×
    * probe — r12 §8.7). Routing stays deterministic: the decision is a
    * pure function of the window and the pinned stats. Pre-r13 layouts
    * (no stats record) route unconditionally, the pre-decision
    * behavior. */
  private def geoWindowSelective(spark: SparkSession, dir: String,
                                 win: GeoWindow): Boolean = {
    val maxFrac = spark.conf.getOption("graft.geo.routeMaxFraction")
      .map(_.toDouble).getOrElse(GeoRouteMaxFraction)
    val minRows = spark.conf.getOption("graft.geo.routeMinRows")
      .map(_.toLong).getOrElse(GeoRouteMinRows)
    PayloadIndex.geoStatsOf(dir).forall { st =>
      st.rows >= minRows && windowFraction(win, st) <= maxFrac
    }
  }

  /** The window's share of the index's pinned extent (area fraction,
    * uniform-density estimate — the same first-order model a server
    * planner's cardinality estimate uses). */
  private def windowFraction(win: GeoWindow,
                             st: PayloadIndex.GeoStats): Double = {
      def axisFrac(lo: Double, hi: Double, exLo: Double,
                   exHi: Double): Double =
        if (hi < lo) 0.0
        else if (exHi <= exLo) // degenerate extent: one occupied line
          (if (lo <= exHi && hi >= exLo) 1.0 else 0.0)
        else {
          val overlap = math.min(hi, exHi) - math.max(lo, exLo)
          if (overlap <= 0) 0.0 else math.min(1.0, overlap / (exHi - exLo))
        }
      val latFrac = axisFrac(win.latLo, win.latHi, st.latMin, st.latMax)
      val lonFrac = win.lonArms match {
        case None => 1.0
        case Some(arms) => math.min(1.0,
          arms.map(a => axisFrac(a._1, a._2, st.lonMin, st.lonMax)).sum)
      }
      latFrac * lonFrac
  }

  /** The spherical cap's bounding window — [[PayloadIndex.forGeoRadius]]'s
    * cap-box construction, reproduced for the COST DECISION only (the
    * routed read recomputes its own exact window, so any drift here can
    * change a plan choice, never a row). */
  private def radiusWindow(cLat: Double, cLon: Double,
                           radiusM: Double): GeoWindow = {
    val dRad = radiusM / 6371000.0
    val eps = 1e-9
    val dLatDeg = math.toDegrees(dRad) * (1 + eps) + eps
    val (latLo, latHi) = (cLat - dLatDeg, cLat + dLatDeg)
    val sinD = math.sin(math.min(dRad, math.Pi / 2))
    val cosC = math.cos(math.toRadians(cLat))
    val lonArms: Option[Seq[(Double, Double)]] =
      if (latHi >= 90.0 || latLo <= -90.0 || sinD >= cosC) None
      else {
        val dLonDeg =
          math.toDegrees(math.asin(sinD / cosC)) * (1 + eps) + eps
        val (loDeg, hiDeg) = (cLon - dLonDeg, cLon + dLonDeg)
        if (2 * dLonDeg >= 360.0) None
        else if (loDeg < -180.0)
          Some(Seq((loDeg + 360.0, 180.0), (-180.0, hiDeg)))
        else if (hiDeg > 180.0)
          Some(Seq((loDeg, 180.0), (-180.0, hiDeg - 360.0)))
        else Some(Seq((loDeg, hiDeg)))
      }
    GeoWindow(latLo, latHi, lonArms)
  }

  /** The plan's scan when it is exactly one parquet file scan. */
  private[graft] def singleScan(df: DataFrame)
      : Option[org.apache.spark.sql.execution.FileSourceScanExec] =
    df.queryExecution.executedPlan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    } match { case Seq(f) => Some(f); case _ => None }

  /** (files, bytes) of a single-parquet-scan plan's PRUNED listing —
    * driver-side metadata already materialized at planning, zero IO.
    * None when the plan is not one parquet file scan. Lets
    * [[VectorRouter]]'s estimate classify a frame as small by BYTES,
    * not just file count: a tiny collection fragmented across many
    * files is still metadata to read (r12 ADVICE — the >64-file
    * fragmented small collection silently flipped plans). */
  private[graft] def listingStats(df: DataFrame): Option[(Long, Long)] =
    singleScan(df).map(_.selectedPartitions).map { listing =>
      (listing.totalNumberOfFiles,
        listing.filePartitionIterator.flatMap(_.files).map(_.getLen).sum)
    }

  /** ZERO-SCAN row count of a parquet read: the sum of the footer
    * (row-group metadata) row counts over the scan's PRUNED file
    * listing — `selectedPartitions` is the post-PartitionFilters
    * listing, computed at planning time, so a routed index read costs
    * one driver-side footer pass over its pruned files and NO Spark
    * job. None when the plan is not a single parquet file scan (the
    * caller falls back to whatever it did before), or when the listing
    * has more than `maxFiles` files (a caller-set bound that keeps the
    * footer pass an actual metadata read). Used by [[VectorRouter]]'s
    * filtered-search cardinality estimate: the count is the pruned
    * listing's TOTAL rows — an upper bound of the routed condition's
    * matches (bucket/cell co-residents included), which is exactly what
    * a planner threshold wants (Qdrant's planner likewise consults index
    * cardinality estimates, not exact predicate counts). */
  private[graft] def metadataRowCount(df: DataFrame,
                                      maxFiles: Long = Long.MaxValue)
      : Option[Long] =
    singleScan(df).map(_.selectedPartitions)
      .filter(_.totalNumberOfFiles <= maxFiles).map { listing =>
        val conf = df.sparkSession.sessionState.newHadoopConf()
        listing.filePartitionIterator.flatMap(_.files)
          .map(footerRows(_, conf)).sum
      }

  /** One parquet file's row count from its footer, memoized per (path,
    * mtime, length) — layout files are immutable once written (append
    * adds files, compact swaps directories), so a footer read never goes
    * stale; on a long-gated index (one file per cell per micro-batch)
    * over remote storage this turns the per-call footer walk into one
    * round-trip per NEW file instead of thousands per serve. Bounded: one
    * Long per distinct file ever probed in the session. */
  private[graft] def footerRows(
      st: org.apache.spark.sql.execution.datasources.FileStatusWithMetadata,
      conf: org.apache.hadoop.conf.Configuration): Long =
    graft.Memo("footerRows",
        (st.getPath.toString, st.getModificationTime, st.getLen)) {
      import org.apache.parquet.hadoop.util.HadoopInputFile
      val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
        HadoopInputFile.fromPath(st.getPath, conf))
      try rd.getRecordCount finally rd.close()
    }
}
