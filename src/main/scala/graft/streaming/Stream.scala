package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.Row
import graft.operators.Ingest

/** Structured Streaming ingestion — the engine's form of the reference's
  * ROS topic subscriptions (O1-O4, `bob_vector_db/embedder.py:161-174`):
  * an unbounded stream of embed messages, normalized and upserted.
  * Delivery is AT-MOST-ONCE PER BATCH by deliberate choice, mirroring the
  * reference's error containment (`embedder.py:217-225`) — a batch whose
  * sink write fails is logged and dropped while the checkpoint advances —
  * but unlike the reference's silent drop, the loss is observable and
  * bounded to whole batches. Callers that need at-least-once pass
  * `dropOnError = false` to [[upsertSink]] — the failure then propagates
  * uncaught, the query stops before the checkpoint commits, and a restart
  * replays the batch (safe under the idempotent keep-last upsert).
  *
  * Scale notes: the file source scales by `maxFilesPerTrigger` (the
  * analog of the reference's queue depth 1000); normalization is narrow;
  * the only stateful ops are watermark-bounded (windowed aggs, within-
  * watermark dedup), so state size is (window span × key cardinality),
  * independent of stream length.
  */
object Stream {

  /** O1/O2 — unbounded embed-message stream from a drop-directory of
    * text files (one raw message per line) → canonical points. */
  def pointsStream(spark: SparkSession, inputDir: String): DataFrame = {
    val raw = spark.readStream
      .option("maxFilesPerTrigger", 1000)
      .text(inputDir)
      .withColumnRenamed("value", "raw")
    Ingest.toPoints(Ingest.normalize(raw, "raw"))
  }

  /** Upsert sink: same-id overwrite within each micro-batch (the
    * streaming form of O14, `qdrant_embedder.py:130-143`) via
    * foreachBatch. Error containment per the object scaladoc: with
    * `dropOnError = true` (default, the reference's O19 behavior) a
    * failing `onBatch` is logged and the batch DROPPED while the
    * checkpoint advances (at-most-once per batch); with
    * `dropOnError = false` there is NO catch — the failure propagates,
    * the query stops before the checkpoint commits, and a restart
    * replays the batch (at-least-once; safe under the idempotent
    * keep-last upsert). */
  def upsertSink(points: DataFrame, checkpointDir: String,
                 dropOnError: Boolean = true)
                (onBatch: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    points.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        // same-id overwrite WITHIN a batch must be deterministic: keep the
        // LAST arrival — dropDuplicates would keep an arbitrary row. The
        // arrival clock is assigned HERE (monotonically_increasing_id is
        // batch-only): deterministic for a given file set/layout, which is
        // exactly the replay-determinism the checkpoint needs.
        val deduped = Ingest.upsert(
            batch.withColumn("__seq", monotonically_increasing_id()),
            "id", "__seq")
          .drop("__seq")
        // O19 error containment (`embedder.py:217-225`): a failing batch is
        // logged and dropped rather than killing the stream — but unlike
        // the reference's silent at-most-once drop, the checkpoint makes
        // the loss observable and bounded to one batch. NonFatal only:
        // OOM/interrupts must still kill the stream.
        if (dropOnError)
          try onBatch(deduped, id)
          catch { case scala.util.control.NonFatal(e) =>
            System.err.println(s"[stream-upsert] batch $id dropped: ${e.getMessage}")
          }
        else onBatch(deduped, id)
      }

  /** Streaming tumbling-hour event rollup with a 1-hour watermark — the
    * streaming twin of the batch `q_events_hourly` query (same answer on
    * a bounded input via Trigger.AvailableNow). `ts` is first normalized
    * to the canonical epoch-ns BIGINT ([[graft.Tables.canonicalTsNs]] —
    * fixtures have shipped both ns-as-INT64 and timestamp[us]); windowing
    * needs TimestampType so it is truncated to µs — bucket boundaries are
    * hour-aligned, unaffected. */
  def eventsHourlyStream(spark: SparkSession, eventsDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(eventsDir).schema
    graft.Tables.canonicalTsNs(spark.readStream
      .schema(schema)
      .parquet(eventsDir))
      .withColumn("tsc", timestamp_micros(expr("ts DIV 1000")))
      .withWatermark("tsc", "1 hour")
      .groupBy(window(col("tsc"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n"))
  }

  /** STREAM-STATIC search — the online-serving form of V2 kNN (the
    * reference's "query the DB" flow with queries arriving as a stream):
    * each micro-batch of query vectors is answered against the STATIC
    * collection with the same multi-query top-k operator the batch
    * engine declares (`Knn.knnMulti` — collection scanned once per
    * batch, queries broadcast, bounded top-k). Per-batch exact top-k via
    * `foreachBatch` is the standard serving pattern (rank windows are
    * unsupported on streams); results for a query are complete the
    * moment its batch commits, and StreamSpec asserts the streamed
    * answers equal the batch operator's exactly. At scale the static
    * side would be the materialized IVF index — swap `coll` for the
    * index read and probes prune partitions identically. */
  def searchSink(queries: DataFrame, coll: DataFrame, vecCol: String,
                 qIdCol: String, qVecCol: String, k: Int,
                 checkpoint: String)(onResult: DataFrame => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    queries.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          onResult(graft.operators.Knn.knnMulti(
            coll, batch, vecCol, qIdCol, qVecCol, k))
      }

  /** STREAM-STREAM interval join (view→click attribution): each 'view'
    * event pairs with the same user's 'click' events that land strictly
    * after it and within `lagMax`. Written against the unified
    * DataFrame API so the SAME function serves both engines: on batch
    * inputs the watermarks are no-ops and this is an ordinary
    * equi+range join (the declared `q_stream_join` twin, oracle-gated);
    * on streaming inputs Spark runs its watermarked interval join —
    * state on each side is bounded by watermark delay + lag bound, and
    * rows age out as the watermark passes (the published stream-join
    * state-cleanup contract). The time bound is the join's state TTL:
    * an unbounded-lag stream join would buffer forever.
    *
    * Scale: the join shuffles both sides by user_id once; state per key
    * is the in-horizon event window only. Lag is emitted in exact µs. */
  def attributionJoin(rawEvents: DataFrame,
                      lagMax: String = "10 minutes"): DataFrame = {
    val events = graft.Tables.canonicalTsNs(rawEvents)
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"),
        timestamp_micros(expr("ts DIV 1000")).as("view_ts"))
      .withWatermark("view_ts", "1 hour")
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("__cu"), col("event_id").as("click_id"),
        timestamp_micros(expr("ts DIV 1000")).as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    views.join(clicks,
        col("user_id") === col("__cu") &&
          col("click_ts") > col("view_ts") &&
          col("click_ts") <= col("view_ts") + expr(s"INTERVAL $lagMax"))
      .select(col("user_id"), col("view_id"), col("click_id"),
        (unix_micros(col("click_ts")) - unix_micros(col("view_ts")))
          .as("lag_us"))
  }

  /** One closed session: [start, end] event-time span + aggregates. */
  final case class Session(userId: Long, startUs: Long, endUs: Long,
                           nEvents: Long, sumValue: Double)

  /** Open-session state (public: the state encoder's generated code must
    * be able to construct it). */
  final case class SessState(startUs: Long, endUs: Long,
                             nEvents: Long, sumValue: Double)

  /** The punctuation user id: a [[writeSessionFlush]] sentinel advances
    * the watermark past every open session's timeout without contributing
    * a session itself (filtered out below the watermark node). */
  val FlushUserId: Long = Long.MinValue

  /** End-of-stream flush for [[sessionizeStream]]: sessions are emitted
    * when the WATERMARK passes their gap, so on a bounded stream each
    * user's final open session would stay in state forever. Writing one
    * punctuation event at `horizonNs` (≥ max event time + gap + watermark
    * delay) into the drop directory pushes the watermark past every
    * possible timeout; the engine's no-data micro-batch then fires the
    * timeouts and the final sessions drain. This is the standard
    * punctuation/heartbeat close pattern for event-time session streams —
    * at scale the same sentinel doubles as a liveness heartbeat for
    * low-traffic partitions. */
  def writeSessionFlush(spark: SparkSession, inputDir: String,
                        horizonNs: Long): Unit = {
    import spark.implicits._
    Seq((Long.MaxValue, horizonNs, FlushUserId, "__flush", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("append").parquet(inputDir)
  }

  /** Custom-state streaming sessionization via flatMapGroupsWithState
    * (SURVEY.md §2.3 UDF/state row): per-user state holds the open
    * session; an event past the gap closes and emits it. With an
    * EventTimeTimeout the state also closes when the watermark passes the
    * gap — state size is bounded by (active users), independent of stream
    * length. On a BOUNDED stream the batch twin `q_sessionize` computes
    * the same sessions: close the tail with [[writeSessionFlush]] and the
    * streamed set equals the batch set exactly (StreamSpec asserts
    * equality, no still-open carve-out). */
  def sessionizeStream(events: DataFrame, gapUs: Long): org.apache.spark.sql.Dataset[Session] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    // the watermark column (tsc) must survive the projection feeding the
    // stateful operator, or Spark rejects the event-time timeout
    val typed = graft.Tables.canonicalTsNs(events)
      .withColumn("tsu", expr("ts DIV 1000"))
      .withColumn("tsc", timestamp_micros(col("tsu")))
      .withWatermark("tsc", "1 hour")
      .select(col("user_id").as("userId"), col("tsu"),
        col("value"), col("tsc"))
      .as[(Long, Long, Double, java.sql.Timestamp)]
      .groupByKey(_._1)

    // local primitive copy: naming the object field inside fn would make
    // the lambda capture the (non-serializable) enclosing module
    val flushId = FlushUserId

    def fn(userId: Long, rows: Iterator[(Long, Long, Double, java.sql.Timestamp)],
           state: GroupState[SessState]): Iterator[Session] = {
      // the punctuation user advances the watermark but must not form a
      // session. Dropped HERE, not with a plan-level filter: Catalyst
      // pushes a userId predicate BELOW the EventTimeWatermark node, which
      // would drop the sentinel before it ever moves the watermark.
      if (userId == flushId) return Iterator.empty
      if (state.hasTimedOut) {
        // watermark passed the gap with no new events: close + emit
        val s = state.get
        state.remove()
        return Iterator(Session(userId, s.startUs, s.endUs, s.nEvents,
          s.sumValue))
      }
      val out = Seq.newBuilder[Session]
      // micro-batch rows are not ordering-guaranteed; sort within batch
      val sorted = rows.toSeq.sortBy(_._2)
      var cur = state.getOption
      sorted.foreach { case (_, ts, v, _) =>
        cur match {
          // merge only when the event is within `gap` of the OPEN SPAN
          // ([start-gap, end+gap]) — `ts - end <= gap` alone would merge
          // arbitrarily-early late events. Span can extend, never rewind.
          case Some(s) if ts >= s.startUs - gapUs && ts <= s.endUs + gapUs =>
            cur = Some(SessState(math.min(s.startUs, ts),
              math.max(s.endUs, ts), s.nEvents + 1, s.sumValue + v))
          case Some(s) if ts < s.startUs - gapUs =>
            // a late event more than `gap` BEFORE the open session can
            // never merge with it: emit it as its own closed session
            // (approximation for heavily out-of-order input — exact
            // reconstruction would require buffering to the watermark)
            out += Session(userId, ts, ts, 1, v)
          case Some(s) =>
            out += Session(userId, s.startUs, s.endUs, s.nEvents, s.sumValue)
            cur = Some(SessState(ts, ts, 1, v))
          case None =>
            cur = Some(SessState(ts, ts, 1, v))
        }
      }
      cur.foreach { s =>
        state.update(s)
        // close the session when no event arrives within the gap
        state.setTimeoutTimestamp(s.endUs / 1000 + gapUs / 1000)
      }
      out.result().iterator
    }

    typed.flatMapGroupsWithState(OutputMode.Append(),
      GroupStateTimeout.EventTimeTimeout())(fn)
  }

  /** One streaming near-dup hit: `docId` collided with an already-seen
    * `dupOf` (< docId) in some LSH band. A doc in b bands can emit up to
    * b hits — reduce to `min(dupOf) per docId` at the sink (the standard
    * post-aggregation when a stateful op's natural key — the band bucket
    * — differs from the output key). */
  final case class BandHit(docId: Long, dupOf: Long)

  /** STREAMING content near-dup detection — the arrival-incremental form
    * of the banded MinHash pipeline (Dedup.lshBandsFused →
    * lshCandidates): fused in-row signatures band each document, state
    * per (band, band_sig) bucket holds the MINIMUM doc id seen, and a
    * document landing in a bucket with an earlier occupant emits a hit.
    * Within a micro-batch documents are processed in doc-id order
    * (micro-batches carry no row order — the sort makes replay
    * deterministic), so on a bounded id-ordered stream the emitted set
    * equals the batch twin `dedup_stream_neardup` exactly (StreamSpec).
    *
    * Scale: state is one long per OCCUPIED band bucket — proportional to
    * distinct content regions, not stream length. This variant keeps
    * buckets FOREVER (exact keep-first semantics on a bounded stream —
    * what the batch-twin equality gate needs); for unbounded streams use
    * [[nearDupStreamTtl]], which bounds state to the dedup horizon with
    * an event-time timeout, exactly like the reference's within-watermark
    * id dedup (`dropDuplicatesWithinWatermark`). */
  def nearDupStream(docs: DataFrame, numHashes: Int = 16,
                    shingleN: Int = 3, rowsPerBand: Int = 4)
      : org.apache.spark.sql.Dataset[BandHit] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = docs.sparkSession
    import spark.implicits._
    val buckets = graft.operators.Dedup
      .lshBandsFused(docs, "doc_id", "text", numHashes, shingleN, rowsPerBand)
      .select(concat_ws("|", col("band"), col("band_sig")).as("bucket"),
        col("doc_id"))
      .as[(String, Long)]
      .groupByKey(_._1)

    def fn(bucket: String, rows: Iterator[(String, Long)],
           state: GroupState[Long]): Iterator[BandHit] = {
      val ids = rows.map(_._2).toArray.sorted
      val out = Seq.newBuilder[BandHit]
      var minSeen = if (state.exists) state.get else Long.MaxValue
      ids.foreach { id =>
        if (minSeen < id) out += BandHit(id, minSeen)
        if (id < minSeen) minSeen = id
      }
      state.update(minSeen)
      out.result().iterator
    }

    buckets.flatMapGroupsWithState(OutputMode.Append(),
      GroupStateTimeout.NoTimeout())(fn)
  }

  /** Band-bucket state for [[nearDupStreamTtl]]: the minimum doc id seen
    * plus the bucket's last event time (ms) — the expiry clock. */
  final case class BucketState(minId: Long, lastMs: Long)

  /** [[nearDupStream]] with BOUNDED state: band buckets expire `ttlMs`
    * of EVENT TIME after their last occupant, so state tracks the distinct
    * content seen within the dedup horizon instead of the whole stream's.
    * A document landing in an expired bucket is re-admitted as a fresh
    * occupant (no hit) — the semantics of "duplicate within the horizon",
    * the same contract as `dropDuplicatesWithinWatermark` for ids.
    *
    * Two expiry paths cover both arrival patterns:
    *  - no data arrives: the EventTimeTimeout callback fires once the
    *    watermark passes `lastMs + ttlMs` and removes the state;
    *  - data arrives AT an expired bucket before its timeout callback ran
    *    (timeouts only fire for groups with no data in the batch): the
    *    handler itself discards state whose horizon has passed.
    *
    * `tsCol` must be a TimestampType column on `docs`; the watermark is
    * pinned to it BEFORE banding and the column is carried through the
    * band projection (dropping it would strip the event-time tag the
    * stateful operator requires). */
  def nearDupStreamTtl(docs: DataFrame, tsCol: String, ttlMs: Long,
                       watermarkDelay: String = "1 hour",
                       numHashes: Int = 16, shingleN: Int = 3,
                       rowsPerBand: Int = 4)
      : org.apache.spark.sql.Dataset[BandHit] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = docs.sparkSession
    import spark.implicits._
    val buckets = graft.operators.Dedup
      .lshBandsFused(docs.withWatermark(tsCol, watermarkDelay),
        "doc_id", "text", numHashes, shingleN, rowsPerBand,
        carryCols = Seq(tsCol))
      .select(concat_ws("|", col("band"), col("band_sig")).as("bucket"),
        col("doc_id"), col(tsCol).as("__ts"))
      .as[(String, Long, java.sql.Timestamp)]
      .groupByKey(_._1)

    // local primitive copy — see sessionizeStream: naming the parameter
    // inside fn is fine, but keep the closure free of the module
    val ttl = ttlMs

    def fn(bucket: String, rows: Iterator[(String, Long, java.sql.Timestamp)],
           state: GroupState[BucketState]): Iterator[BandHit] = {
      if (state.hasTimedOut) {
        // watermark passed lastMs + ttl with no new occupant: forget
        state.remove()
        return Iterator.empty
      }
      val evs = rows.toArray
      val maxMs = evs.iterator.map(_._3.getTime).max
      val wmMs = state.getCurrentWatermarkMs()
      // arrival at an expired bucket: the timed-out callback never fires
      // for a group WITH data this batch, so expiry is re-checked here
      var minSeen = state.getOption
        .filter(s => s.lastMs + ttl > wmMs)
        .map(_.minId).getOrElse(Long.MaxValue)
      val out = Seq.newBuilder[BandHit]
      evs.iterator.map(_._2).toArray.sorted.foreach { id =>
        if (minSeen < id) out += BandHit(id, minSeen)
        if (id < minSeen) minSeen = id
      }
      state.update(BucketState(minSeen, maxMs))
      // must be strictly above the current watermark or Spark rejects it
      // (late data can put maxMs + ttl below the watermark)
      state.setTimeoutTimestamp(math.max(maxMs + ttl, wmMs + 1))
      out.result().iterator
    }

    buckets.flatMapGroupsWithState(OutputMode.Append(),
      GroupStateTimeout.EventTimeTimeout())(fn)
  }

  /** Run a bounded stream to completion (AvailableNow) and wait. */
  def runAvailableNow(w: DataStreamWriter[Row]): StreamingQuery = {
    val q = w.trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    q
  }
}
