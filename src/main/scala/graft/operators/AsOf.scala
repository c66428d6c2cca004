package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.collection.immutable.ArraySeq

/** Distributed AS-OF JOIN — the time-series operator Spark lacks
  * natively (SURVEY.md §4 custom-operator ladder, rung (a): composed
  * from built-ins, no Catalyst extension needed), in both directions:
  * backward (latest quote at or before the probe) and forward (earliest
  * quote strictly after it).
  *
  * Implementation is the union + running-window form, NOT a range join:
  * tag both sides, union, ONE shuffle on the key, one sort by
  * (ts, side-tag), and a running MAX (backward) / MIN (forward) over the
  * quote timestamps. Cost is shuffle+sort of |probe|+|quote| — the
  * canonical 100 TB form (a non-equi range join degrades to per-key
  * quadratic work; a windowed union never does).
  *
  * Tie semantics via the side tag: backward orders quotes BEFORE probes
  * at equal timestamps so `quote.ts <= probe.ts` holds exactly at ties;
  * forward ALSO orders quotes before probes, which excludes a same-ts
  * quote from the probe's strictly-following frame — exactly strict `>`.
  *
  * Null semantics (pinned — engines disagree on null sort order, DuckDB
  * sorts nulls last where Spark sorts them first): a null ts or null key
  * never matches. Null-key and null-ts quotes are dropped; null-ts probe
  * rows pass through with a null asof column.
  */
object AsOf {

  /** Shared union + running-window plumbing. `frame`/`agg` choose the
    * direction; everything else (side tagging, null handling, column
    * alignment) is one copy for both. */
  private def asof(probe: DataFrame, quote: DataFrame, keyCol: String,
                   tsCol: String, asofCol: String,
                   frame: org.apache.spark.sql.expressions.WindowSpec => org.apache.spark.sql.expressions.WindowSpec,
                   agg: Column => Column): DataFrame = {
    val pCols = ArraySeq.unsafeWrapArray(probe.columns)
    val pu = probe
      .withColumn("__side", lit(1))
      .withColumn("__qts", lit(null).cast("long"))
    // join semantics: NULL keys/ts never match (Window.partitionBy would
    // group NULL with NULL; null ts would sort engine-dependently) —
    // such quotes are dropped, so affected probe rows get a null asof
    val qu = quote
      .filter(col(keyCol).isNotNull && col(tsCol).isNotNull)
      .select(pCols.map { c =>
        if (c == keyCol || c == tsCol) col(c)
        else lit(null).cast(probe.schema(c).dataType).as(c)
      }: _*)
      .withColumn("__side", lit(0))
      .withColumn("__qts", col(tsCol).cast("long"))
    val w = frame(Window.partitionBy(keyCol)
      .orderBy(col(tsCol), col("__side")))
    pu.unionByName(qu)
      .withColumn(asofCol,
        // a null-ts probe row must not read a frame at an engine-chosen
        // null sort position — its asof is null by definition
        when(col(tsCol).isNull, lit(null).cast("long"))
          .otherwise(agg(col("__qts")).over(w)))
      .filter(col("__side") === 1)
      .drop("__side", "__qts")
  }

  /** BACKWARD: attach `asofCol` = max quote `tsCol` <= the probe row's
    * `tsCol` (same `keyCol`; null when no quote precedes). Probe columns
    * pass through unchanged. `tsCol` must be an integral epoch column
    * (ns/µs BIGINT — exact; no timestamp truncation). */
  def asofJoin(probe: DataFrame, quote: DataFrame, keyCol: String,
               tsCol: String, asofCol: String = "asof_ts"): DataFrame =
    asof(probe, quote, keyCol, tsCol, asofCol,
      _.rowsBetween(Window.unboundedPreceding, Window.currentRow), max)

  /** FORWARD: min quote `tsCol` STRICTLY AFTER the probe row's `tsCol`
    * (same key; null when none follows) — the complement direction
    * (ClickHouse ASOF `>` / pandas merge_asof(direction='forward',
    * allow_exact_matches=False) — pandas' DEFAULT allow_exact_matches=True
    * matches on >=, which this deliberately does not):
    * "the next event after this one", the lookup an attribution window
    * or a sensor-alignment backfill reads. Quotes keep side 0 so a
    * same-ts quote sorts BEFORE the probe and falls outside the
    * strictly-following frame; intervening probe rows carry null __qts
    * and cannot win the min. */
  def asofJoinForward(probe: DataFrame, quote: DataFrame, keyCol: String,
                      tsCol: String,
                      asofCol: String = "asof_ts"): DataFrame =
    asof(probe, quote, keyCol, tsCol, asofCol,
      _.rowsBetween(1, Window.unboundedFollowing), min)
}
