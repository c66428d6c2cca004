package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-(session, dir) memo of serving-layout parquet reads — the "hold
  * the index open" discipline of a serving system, shared by EVERY
  * materialized layout (payload/geo/text indexes, quantized-codes and
  * PQ sidecars, IVF/IVF-PQ cells, graph adjacency/seeds, tenant
  * layouts).
  *
  * Why it exists: a fresh `spark.read.parquet(dir)` re-LISTS the layout
  * and re-parses every partition path on each call — Spark's shared
  * file-status cache is keyed per FileIndex INSTANCE, so new reads
  * never hit it. On a wide partitioned layout that fixed per-query cost
  * dominates serving: measured (r13 `Dev georouteprobe`) ~45 s PER
  * QUERY on a 17.6k-dir geo grid, ~0.8 s on 4.6k dirs. A real vector
  * server opens its index once and serves from it; at 100 TB an IVF
  * layout has thousands of `cluster=` dirs and per-query relisting is
  * exactly the geo cliff. The memoized frame is a resolved relation
  * whose file listing is frozen at first use; PartitionFilters still
  * prune per query — only the listing is shared. Entries are keyed by
  * dir and dropped by [[evict]] ([[graft.Memo.untilEvicted]] states the
  * soundness contract). */
object ServedReads {

  /** The memoized read of `dir` for this session. */
  def of(spark: SparkSession, dir: String): DataFrame =
    graft.Memo.untilEvicted("servedRead", dir, spark)(spark.read.parquet(dir))

  /** Drop every memoized read of `dir` and everything under it. Called
    * by every verb that mutates the layout, before and after the
    * mutation. */
  def evict(dir: String): Unit = graft.Memo.evict(dir)
}
