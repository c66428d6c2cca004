package graft.sources

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Materialized SPARSE inverted index over a collection's text column —
  * the serving layout behind the sparse-vector queries (Qdrant sparse
  * vectors; `v_sparse_search`/`v_sparse_idf` compute the postings
  * in-query, this persists them, the `ann_ivf_indexed` discipline
  * applied to the sparse surface).
  *
  * Posting rows (id, sbucket, tf) in the PINNED [[Buckets]]-dimension
  * sparse space, laid out parquet-partitioned by
  * `(src_bucket, sgrp = sbucket % Groups)`:
  *
  *  - a query's literal bucket set prunes to ≤ |query| of the [[Groups]]
  *    posting groups at FILE-LISTING time (`PartitionFilters` — asserted
  *    in OperatorSpec), and the residual `sbucket IN (...)` predicate
  *    pushes to the parquet scan — at 100 TB a 3-term query opens ≤ 3/64
  *    of the index bytes and row-group-skips within them;
  *  - `src_bucket` is the collection's id-hash bucket, so the
  *    change-feed [[refresh]] re-derives ONLY touched buckets' postings
  *    — O(points in touched buckets), like [[IvfIndex]].
  *
  * STAGED refresh, same crash contract as [[IvfIndex.refresh]]: the
  * replacement job writes into `_staging` first (invisible to Spark's
  * listing), the swap is directory renames only, a failed job leaves the
  * live index intact, re-running refresh clears leftover staging.
  */
object SparseIndex {

  /** Pinned sparse dimension space — matches the sparse queries' hashed
    * bucket space (md5-32 % 4096); data-independent by construction. */
  val Buckets = 4096

  /** Partition granularity: posting groups per src_bucket. 64 keeps the
    * directory fan-out bounded (16·64) while a few-term query still
    * prunes to a few groups. */
  val Groups = 64

  /** The sparse dimension of one token — the same hash the in-query
    * sparse operators use (oracle replay: `('0x'||substr(md5(tok),1,8))
    * ::BIGINT % 4096`). */
  def sbucketOf(tok: Column): Column =
    graft.operators.Dedup.h32(tok) % Buckets

  /** Posting rows for a point set: one (id, sbucket, tf) per distinct
    * (point, dimension) — the groupBy folds token occurrences map-side,
    * so the shuffle is ∝ distinct postings, never token occurrences. */
  private def postings(points: DataFrame, idCol: String, textCol: String,
                       numBuckets: Int): DataFrame =
    points
      .select(col(idCol),
        explode(graft.operators.TextAnalysis.tokens(col(textCol)))
          .as("__tok"))
      .select(col(idCol), sbucketOf(col("__tok")).as("sbucket"))
      .groupBy(idCol, "sbucket").agg(count(lit(1)).as("tf"))
      .withColumn("src_bucket", Collections.bucketOf(idCol, numBuckets))
      .withColumn("sgrp", col("sbucket") % Groups)

  private def metaPath(dir: String) =
    java.nio.file.Paths.get(dir, "_sparse_index.json")

  /** True when `dir` holds a postings layout (the self-identification
    * [[IndexRouter]] uses to tell a text index from a payload index). */
  def isTextIndex(dir: String): Boolean = Files.exists(metaPath(dir))

  /** The pinned (id_col, text_col) of a postings layout. */
  def textMeta(dir: String): (String, String) = {
    val txt = new String(Files.readAllBytes(metaPath(dir)),
      java.nio.charset.StandardCharsets.UTF_8)
    def str(k: String): String =
      (""""""" + k + """":\s*"([^"]+)"""").r.findFirstMatchIn(txt)
        .getOrElse(throw new IllegalStateException(
          s"postings at $dir predate the $k metadata — rebuild with " +
            "SparseIndex.buildFrom (a derived layout)"))
        .group(1)
    (str("id_col"), str("text_col"))
  }

  /** Build the layout directly from a point DataFrame (the fixture-table
    * form the declared query uses; collections go through [[build]] so
    * [[refresh]] has a manifest cursor). */
  def buildFrom(points: DataFrame, idCol: String, textCol: String,
                indexDir: String, numBuckets: Int = 16): Unit = {
    postings(points, idCol, textCol, numBuckets)
      .write.mode("overwrite")
      .partitionBy("src_bucket", "sgrp")
      .parquet(indexDir)
    // meta AFTER data (overwrite deletes the dir first): identifies the
    // layout kind to the router and pins the indexed columns
    Files.write(metaPath(indexDir),
      (s"""{"kind": "text", "id_col": "$idCol", """ +
        s""""text_col": "$textCol"}""")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    ServedReads.evict(indexDir)
    ()
  }

  /** Full build from a collection; returns the manifest cursor for
    * [[refresh]]. */
  def build(spark: SparkSession, collDir: String, indexDir: String,
            idCol: String, textCol: String): Collections.ManifestView = {
    val cur = Collections.manifestView(collDir)
    buildFrom(Collections.read(spark, collDir), idCol, textCol, indexDir,
      Collections.numBuckets(collDir))
    cur
  }

  /** Incremental refresh from the change feed: collection buckets the
    * feed reports changed/dropped get their `src_bucket=` index dirs
    * replaced (staged) / deleted; untouched buckets' files are not read,
    * not rewritten, not moved. Returns the new cursor. */
  def refresh(spark: SparkSession, collDir: String, indexDir: String,
              idCol: String, textCol: String,
              prev: Collections.ManifestView): Collections.ManifestView = {
    ServedReads.evict(indexDir) // memoized listing predates swap
    val cur = Collections.stagedBucketRefresh(spark, collDir, indexDir,
      prev, Seq("src_bucket", "sgrp"))(
      postings(_, idCol, textCol, Collections.numBuckets(collDir)))
    ServedReads.evict(indexDir) // re-memoized mid-swap is stale
    cur
  }

  /** FULL-TEXT candidate probe (the Qdrant `text` payload-index type)
    * over the SAME postings layout — one materialization serves both the
    * sparse dot-product and full-text filtering: ids whose posting set
    * contains EVERY query token's bucket (`match.text`'s
    * all-tokens-present contract). A hash-collision SUPERSET of the true
    * matches — the caller verifies the exact predicate on the probed
    * candidate rows only, which `match.phrase` needs anyway (postings
    * store no positions; Qdrant's own phrase serving is
    * candidates-then-verify against its text index). The probe prunes to
    * ≤ |tokens| of the [[Groups]] posting groups at FILE LISTING and
    * pushes the sbucket IN-list to row groups — at 100 TB a 2-token
    * phrase opens ≤ 2/64 of the index bytes and never the corpus text;
    * the per-id hit count folds map-side (shuffle ∝ candidate postings,
    * `sbucket` is distinct per (id, bucket) row by construction so the
    * count needs no distinct). */
  def candidatesContainingAll(spark: SparkSession, indexDir: String,
                              idCol: String, tokens: Seq[String])
      : DataFrame = {
    // lowercase EXACTLY as the build side did: postings were tokenized
    // through Spark's lower(), i.e. UTF8String.toLowerCase — whose
    // non-ASCII slow path is locale-sensitive. Folding the query token
    // through the same UTF8String call makes the two sides agree byte
    // for byte on any JVM locale (a Locale.ROOT fold can diverge on
    // e.g. tr-TR dotted/dotless I and silently drop true matches).
    // EMPTY tokens are dropped like the build-side tokenizer drops them:
    // hash("") names a bucket no posting can contain, and requiring it
    // would collapse the candidate set to zero — an under-return.
    val toks = tokens
      .map(t => org.apache.spark.unsafe.types.UTF8String.fromString(t)
        .toLowerCase.toString)
      .filter(_.nonEmpty)
    require(toks.nonEmpty,
      "candidatesContainingAll needs ≥ 1 non-empty token (an all-blank " +
        "match.text is vacuously true — serve it unindexed)")
    val buckets = toks
      .map(t => graft.operators.Dedup.h32(t) % Buckets)
      .distinct
    ServedReads.of(spark, indexDir)
      .filter(col("sgrp").isin(buckets.map(_ % Groups).distinct: _*) &&
        col("sbucket").isin(buckets: _*))
      .groupBy(idCol)
      .agg(count(lit(1)).as("__hits"))
      .filter(col("__hits") === buckets.size)
      .select(idCol)
  }

  /** Sparse dot-product search against the materialized index: the
    * query's literal (sbucket, weight) list prunes partitions (sgrp) and
    * row groups (sbucket) BEFORE any join; the surviving postings join
    * the broadcast query weights and fold per point map-side. Score =
    * Σ w·tf — identical to the in-query sparse operator (the declared
    * query reuses v_sparse_search's oracle: materialization must not
    * change one row). */
  def search(spark: SparkSession, indexDir: String, idCol: String,
             queryWeights: Seq[(Long, Long)], k: Int): DataFrame = {
    val qw = broadcast(
      spark.createDataFrame(queryWeights).toDF("sbucket", "w"))
    ServedReads.of(spark, indexDir)
      .filter(col("sgrp").isin(queryWeights.map(_._1 % Groups).distinct: _*)
        && col("sbucket").isin(queryWeights.map(_._1): _*))
      .join(qw, "sbucket")
      .groupBy(idCol)
      .agg(sum(col("w") * col("tf")).as("score"))
      .orderBy(desc("score"), col(idCol))
      .limit(k)
  }
}
