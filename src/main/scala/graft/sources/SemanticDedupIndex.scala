package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.immutable.ArraySeq

import graft.functions.{ArgminCellExpr, VectorOps}

/** Persisted SemDeDup cell index over an embedding corpus — the semantic
  * twin of the MinHash [[DedupIndex]]: the 100 TB serving law is the
  * same ("the corpus is processed ONCE and every later delivery reads
  * the stored form"), but the candidate structure is the published
  * SemDeDup one (Abbas et al. 2023) — k-means cells over the embedding
  * space, pair search only within a cell — instead of LSH bands. The
  * reference delegates all vector storage/search to its backing store
  * (`bob_vector_db/qdrant_embedder.py:92-103` creates the collection and
  * lets Qdrant hold the index); this is the engine-native layout that
  * delegation implies for the semantic-dedup serving path.
  *
  * Layout: one row per (id, v) parquet-partitioned by `cluster` (the
  * assigned cell under the PINNED centroids), one exchange on the
  * partition key at build so each cell dir holds one file per write
  * generation (the `Collections.compact` small-files discipline). The
  * trained centroids are pinned INSIDE the layout (`_centroids/` — the
  * PqIndex `_codebooks` discipline): [[append]] assigns new points with
  * the build-time artifacts, never retrains, so an appended row can
  * never disagree with the corpus rows on cell shape (retraining is a
  * rebuild, the [[Drift]] maintenance contract).
  *
  * Serving verbs, both reading through [[ServedReads]]:
  *   - [[pairsAgainst]] (delivery-vs-corpus): the delivery is assigned
  *     in flight (broadcast of the k·dim pinned centroids — the
  *     [[Ann.argminAssign]] shape, no corpus shuffle) and its distinct
  *     cells become a literal `cluster IN (...)` partition filter on the
  *     index read, so a delivery touching c cells reads c dirs of k.
  *     The delivery side is broadcast when small (the
  *     [[DedupIndex.pairsAgainst]] bound discipline, sized down for
  *     64-dim vector rows); an oversized re-delivery downgrades to the
  *     shuffle join it genuinely needs instead of OOMing the driver.
  *   - [[lookup]] (single-vector probe): the probe's cell is computed
  *     DRIVER-SIDE against the memoized pinned centroids (zero jobs —
  *     the `Dedup.minhashLocal` twin discipline; the argmin is the
  *     bit-identical (distance, cid) tie-break of the distributed
  *     assignment), so the one job carries a literal `cluster =`
  *     PartitionFilter — ONE cell dir read out of k — with the cosine
  *     verify fused in-row.
  * Ids present in both the delivery and the corpus pair with themselves
  * like any other cell-mates — the re-delivery case is the point.
  */
object SemanticDedupIndex {

  /** Reserved layout column names — inputs must not carry them (the id
    * column included: an id named `norm` would be silently replaced by
    * the stored-norm column). */
  private val Reserved = "cluster"
  private val ReservedAll = Seq("cluster", "norm")

  /** Past this many delivery rows the delivery is no longer "the small
    * side": vector rows are ~dim·8 bytes each, so the broadcast bound
    * sits far under [[DedupIndex.BroadcastMaxBandRows]] (200k 64-dim
    * rows ≈ 100 MB). Override per session via
    * `graft.dedup.semanticBroadcastMaxRows`. */
  val BroadcastMaxRows = 200000L

  /** Past this many distinct delivery cells the literal IN prune is
    * dropped (the scan is near-full anyway) and the join runs unpruned. */
  val MaxLiteralCells = 256

  /** Verify-stage work budget per task, in candidate PAIRS. The cell
    * join's input bytes are tiny (the index is a compact parquet scan)
    * but its output is Σ_cell |index_cell|·|delivery_cell| cosine
    * verifies — a CPU-heavy fan-out Spark's bytes-based task packing
    * cannot see, so a skewed 111M-pair probe ran on the 2-4 tasks its
    * 256 MB scan packed into (measured: 54 s verify at 1000×, §8 probe
    * record; ≈ 0.5-1M pairs/s/task). [[pairsAgainst]] estimates the pair
    * fan-out zero-job (delivery per-cell counts × parquet-footer per-cell
    * index counts) and repartitions the pruned read when the estimate
    * exceeds this budget × the scan's natural parallelism. */
  val PairsPerTask = 2000000L

  private def metaPath(dir: String) =
    Paths.get(dir, "_semantic_index.json")

  final case class Geometry(idCol: String, k: Int, dim: Int)

  def geometry(dir: String): Geometry = {
    val txt = new String(Files.readAllBytes(metaPath(dir)),
      StandardCharsets.UTF_8)
    def num(k: String): Int = (s""""$k":\\s*(\\d+)""").r
      .findFirstMatchIn(txt)
      .getOrElse(throw new IllegalStateException(
        s"semantic index at $dir has no $k in metadata"))
      .group(1).toInt
    val idCol = """"id_col":\s*"([^"]+)"""".r.findFirstMatchIn(txt)
      .getOrElse(throw new IllegalStateException(
        s"semantic index at $dir has no id_col in metadata"))
      .group(1)
    Geometry(idCol, num("k"), num("dim"))
  }

  private def writeMeta(dir: String, g: Geometry): Unit = {
    // hand-rolled JSON with no escaping: a quote/backslash in the id
    // column name would write metadata geometry()'s regex cannot parse
    // back — refuse at write time instead of orphaning the layout
    require(!g.idCol.contains("\"") && !g.idCol.contains("\\"),
      s"id column name '${g.idCol}' must not contain quotes or " +
        "backslashes (pinned verbatim in the layout metadata)")
    Files.write(metaPath(dir),
      (s"""{"id_col": "${g.idCol}", "k": ${g.k}, "dim": ${g.dim}}""")
        .getBytes(StandardCharsets.UTF_8))
    ()
  }

  /** Driver-side pinned centroids (k·dim doubles — the same driver bound
    * as kmeansFit's own result table), memoized on the listing of
    * `_centroids/`. */
  private def pinnedCentroidsLocal(spark: SparkSession, dir: String)
      : Array[(Long, Seq[Double])] =
    pin(dir)(ServedReads.of(spark, dir + "/_centroids")
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
      .sortBy(_._1))

  /** The centroid memo, computed by `local`. [[build]], [[retrain]] and
    * [[compact]] hand the table they just wrote to `_centroids/`:
    * doubles round-trip parquet exactly, so it equals reading the pinned
    * copy back, and the next [[append]] needs no job to read it. */
  private def pin(dir: String)(local: => Array[(Long, Seq[Double])])
      : Array[(Long, Seq[Double])] =
    graft.Memo("pinnedCentroids", (), dir + "/_centroids")(local)

  /** The pinned centroid table (cid, cv) as a DataFrame. */
  def pinnedCentroids(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    pinnedCentroidsLocal(spark, dir).toSeq.toDF("cid", "cv")
  }

  /** (id, v, cluster) rows under the given centroids — the one
    * assignment definition build, append and the delivery side of
    * [[pairsAgainst]] all share. Assignment is the FUSED in-row argmin
    * ([[ArgminCellExpr]] — the k·dim centroid matrix rides the generated
    * code as a reference object): one narrow map over the points, no
    * k-way row blow-up, no re-aggregation shuffle. Bit-identical to the
    * broadcast-crossjoin `Ann.argminAssign` chain (spec-pinned), which
    * this replaced after the 1000×-probe measured the k-way blow-up
    * dominating delivery serving (70.9 s warm at 500k points × 977
    * cells; see the SemanticDedupIndex §8 probe record). */
  private def assignedLocal(points: DataFrame, idCol: String,
                            vecCol: String,
                            local: Array[(Long, Seq[Double])]): DataFrame = {
    ReservedAll.foreach(c => require(
      !points.columns.contains(c) || c == vecCol,
      s"input carries a column named '$c' — reserved for the layout"))
    require(!ReservedAll.contains(idCol),
      s"id column must not be named ${ReservedAll.mkString("/")}")
    points.select(col(idCol), col(vecCol).cast("array<double>").as("v"))
      // the vector's L2 norm is STORED with the row (and computed once
      // per delivery point): the per-pair verify then needs only the
      // dot — CosineSimExpr's 3 accumulators fall to 1 on the Σ|cell|·
      // |delivery| fan-out, bit-identically (cosine ≡ dot/(norm_a ·
      // norm_b) where norm = sqrt(dot(v,v)): same sequential sums, same
      // sqrt, same final ops — the scratch-equality spec pins it)
      .withColumn("norm", sqrt(VectorOps.dot(col("v"), col("v"))))
      .withColumn("cluster", org.apache.spark.sql.GraftSqlBridge.column(
        ArgminCellExpr(
          org.apache.spark.sql.GraftSqlBridge.expression(col("v")),
          local.map(_._2).toSeq, local.map(_._1).toSeq)))
      // a null cell means a null-element or wrong-dimension vector
      // (ArgminCellExpr's null contract) — fail LOUDLY in the first job
      // that touches the row instead of writing it to the null
      // partition (unservable) or NPE-ing a driver collect downstream
      .withColumn("cluster",
        when(col("cluster").isNotNull, col("cluster"))
          .otherwise(raise_error(concat(
            lit("vector does not match the pinned centroids (dim "),
            lit(local.head._2.length),
            lit(") or has null elements — id "),
            col(idCol).cast("string")))))
  }

  /** Materialize the cell index: assign every corpus point to its
    * nearest centroid and write partitioned by cell, with the centroids
    * pinned inside the layout. `centroids` is the caller's trained
    * (cid, cv) table — training stays the caller's (the IvfIndex
    * contract), persistence is ours; it is collected here (k·dim
    * doubles, the same driver bound every consumer of a trained centroid
    * table already accepts) to bind into the fused assignment kernel. */
  def build(spark: SparkSession, points: DataFrame, idCol: String,
            vecCol: String, dir: String, centroids: DataFrame): Unit = {
    ServedReads.evict(dir)
    val local = centroids
      .select(col("cid").cast("long"), col("cv").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
      .sortBy(_._1)
    // the retrain() discipline: an empty trainer output dies here with
    // the contract named, not as a bare head() on the first assignment
    require(local.nonEmpty,
      "build needs a non-empty (cid, cv) centroid table — the trainer " +
        "returned zero centroids")
    assignedLocal(points, idCol, vecCol, local)
      .repartition(col("cluster"))
      .write.mode("overwrite")
      .partitionBy("cluster")
      .parquet(dir)
    // artifacts and metadata land AFTER the data write (overwrite deletes
    // the target first; metadata without data would claim a live index)
    import spark.implicits._
    local.toSeq.toDF("cid", "cv").repartition(1).write.mode("overwrite")
      .parquet(dir + "/_centroids")
    writeMeta(dir, Geometry(idCol, local.length, local.head._2.length))
    ServedReads.evict(dir)
    pin(dir)(local)
  }

  /** Incremental maintenance: assign ONLY the new points under the
    * pinned centroids and append into their cell dirs. The corpus is
    * never re-read or re-assigned. */
  def append(spark: SparkSession, points: DataFrame, vecCol: String,
             dir: String): Unit = {
    val g = geometry(dir)
    require(points.columns.contains(g.idCol),
      s"append input has no '${g.idCol}' column (pinned id_col of $dir)")
    ServedReads.evict(dir)
    assignedLocal(points, g.idCol, vecCol,
        pinnedCentroidsLocal(spark, dir))
      .repartition(col("cluster"))
      .write.mode("append")
      .partitionBy("cluster")
      .parquet(dir)
    ServedReads.evict(dir)
  }

  /** floor(cosine·1e6 + 0.5) through the stored norms — bit-identical to
    * scoring [[VectorOps.cosine]] directly (see [[assignedLocal]]). */
  private def normScoreMicro(a: Column, b: Column,
                             na: Column, nb: Column): Column =
    floor(VectorOps.dot(a, b) / (na * nb) * 1e6 + lit(0.5)).cast("long")

  /** Per-cell row counts of a pruned index read, from parquet FOOTERS
    * over the scan's selected file listing — driver-side metadata
    * already materialized at planning, zero jobs (the
    * `IndexRouter.metadataRowCount` discipline, keyed by the partition
    * value). None when the listing exceeds `maxFiles` (a footer walk
    * that big stops being a metadata read), the scan is not a single
    * file scan, or the partition column is missing. Footers are read
    * through the [[IndexRouter.footerRows]] memo. */
  private def cellFooterRows(df: DataFrame, maxFiles: Long = 4096)
      : Option[Map[Long, Long]] = {
    val scan = IndexRouter.singleScan(df).getOrElse(return None)
    val ps = scan.relation.partitionSchema
    val ci = ps.fieldNames.indexOf(Reserved)
    if (ci < 0) return None
    // partition discovery narrows a written BIGINT partition column to
    // INT on re-read — handle both widths
    val isLong =
      ps.fields(ci).dataType == org.apache.spark.sql.types.LongType
    val listing = scan.selectedPartitions
    if (listing.totalNumberOfFiles > maxFiles) return None
    val conf = df.sparkSession.sessionState.newHadoopConf()
    val m = scala.collection.mutable.Map.empty[Long, Long]
    listing.filePartitionIterator.foreach { p =>
      val cell =
        if (isLong) p.values.getLong(ci) else p.values.getInt(ci).toLong
      val rows = p.files.map(IndexRouter.footerRows(_, conf)).sum
      m.update(cell, m.getOrElse(cell, 0L) + rows)
    }
    Some(m.toMap)
  }

  /** Delivery-vs-corpus near-duplicate pairs: every (delivery id,
    * corpus id) sharing a cell with cosine ≥ tauMicro/1e6. One bounded
    * job assigns the delivery and folds its per-cell counts (≤
    * min(k, |delivery|) rows; collected only up to [[MaxLiteralCells]]
    * — past that the prune is dropped, never an unbounded collect); the
    * cells become a literal IN partition filter and the same counts
    * decide broadcast-vs-shuffle for the join. Output:
    * (delivery_id, corpus_id, score_micro). */
  def pairsAgainst(spark: SparkSession, dir: String, delivery: DataFrame,
                   idCol: String, vecCol: String,
                   tauMicro: Long): DataFrame = {
    val g = geometry(dir)
    val del = assignedLocal(
      delivery.select(col(idCol).as("delivery_id"), col(vecCol)),
      "delivery_id", vecCol, pinnedCentroidsLocal(spark, dir))
      .withColumnRenamed("v", "dv")
      .withColumnRenamed("norm", "dnorm")
    val cells = del.groupBy("cluster").count()
      .limit(MaxLiteralCells + 1).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val idx = ServedReads.of(spark, dir)
    val pruned =
      if (cells.length > MaxLiteralCells) idx
      else idx.filter(
        col("cluster").isin(ArraySeq.unsafeWrapArray(cells).map(_._1): _*))
    val delRows =
      if (cells.length > MaxLiteralCells) del.count()
      else cells.map(_._2).sum
    val maxBroadcast = spark.conf
      .getOption("graft.dedup.semanticBroadcastMaxRows")
      .map(_.toLong).getOrElse(BroadcastMaxRows)
    val right = if (delRows <= maxBroadcast) broadcast(del) else del
    // verify-stage parallelism (see [[PairsPerTask]]): a NARROW delivery
    // gets the zero-job exact estimate (its per-cell counts are in hand,
    // the index's come from parquet footers over the pruned listing —
    // the IndexRouter.metadataRowCount discipline); a WIDE delivery
    // (> MaxLiteralCells cells, or footers unavailable) is batch-shaped
    // — it reads most of the index regardless, so it gets the session's
    // full width unconditionally. The repartition is an IO-sized
    // exchange of exactly the rows the verify must read anyway; rows
    // served are identical on both branches (spec).
    // the decision only applies on the BROADCAST branch: a non-broadcast
    // delivery makes the join a shuffle join, which re-exchanges both
    // sides by the cluster key anyway (a round-robin repartition there
    // would be a wasted full exchange) and draws its parallelism from
    // spark.sql.shuffle.partitions
    val verifySrc = if (delRows > maxBroadcast) pruned else {
      val natural = pruned.rdd.getNumPartitions
      val estPairs: Option[Long] =
        if (cells.length > MaxLiteralCells) None
        else cellFooterRows(pruned).map(m =>
          cells.map { case (c, n) => m.getOrElse(c, 0L) * n }.sum)
      val wanted = estPairs match {
        case Some(p) =>
          math.min((p + PairsPerTask - 1) / PairsPerTask,
            4L * spark.sparkContext.defaultParallelism).toInt
        case None => spark.sparkContext.defaultParallelism
      }
      if (wanted > natural) pruned.repartition(wanted) else pruned
    }
    verifySrc
      .join(right, Seq("cluster"))
      .withColumn("score_micro", normScoreMicro(col("v"), col("dv"),
        col("norm"), col("dnorm")))
      .filter(col("score_micro") >= tauMicro)
      .select(col("delivery_id"), col(g.idCol).as("corpus_id"),
        col("score_micro"))
      // a replayed [[gateAppend]] crash-window append can only DUPLICATE
      // index rows, never change them (assignment is deterministic), so
      // the hits-only output distinct makes serving exactly-once-
      // effective under at-least-once maintenance — the DedupIndex
      // contract, paid on hits instead of on the vector-carrying scan
      .distinct()
  }

  /** Driver-side cell of one probe vector — the bit-identical local twin
    * of the distributed argmin: same sequential squared-diff sum, same
    * final sqrt, same (distance, cid) tie-break as [[VectorOps.l2]] under
    * [[Ann.argminAssign]] (the `Dedup.minhashLocal` twin discipline —
    * spec pins equality against the distributed assignment). Zero Spark
    * jobs once the centroid memo is warm. */
  def probeCell(spark: SparkSession, dir: String,
                vec: Seq[Double]): Long = {
    val cents = pinnedCentroidsLocal(spark, dir)
    require(cents.nonEmpty, s"semantic index at $dir has no centroids")
    require(vec.length == cents.head._2.length,
      s"probe vector has ${vec.length} dims, index pinned " +
        s"${cents.head._2.length}")
    cents.map { case (cid, cv) =>
      var d = 0.0
      var i = 0
      while (i < vec.length) {
        val t = vec(i) - cv(i); d += t * t; i += 1
      }
      (math.sqrt(d), cid)
    }.min._2
  }

  /** Single-vector probe: which corpus points share the probe's cell
    * with cosine ≥ tauMicro/1e6, through ONE literal-cluster
    * PartitionFilter read (one cell dir of k). Output:
    * (id_col, score_micro). */
  def lookup(spark: SparkSession, dir: String, vec: Seq[Double],
             tauMicro: Long): DataFrame = {
    val g = geometry(dir)
    require(vec.length == g.dim,
      s"probe vector has ${vec.length} dims, index pinned ${g.dim}")
    val cell = probeCell(spark, dir, vec)
    // the probe's norm, by the same sequential sum + sqrt as the engine
    var ss = 0.0
    vec.foreach(x => ss += x * x)
    ServedReads.of(spark, dir)
      .filter(col("cluster") === cell)
      .withColumn("score_micro",
        normScoreMicro(col("v"), lit(vec.toArray),
          col("norm"), lit(math.sqrt(ss))))
      .filter(col("score_micro") >= tauMicro)
      .select(col(g.idCol), col("score_micro"))
      // crash-window duplicates count once (see pairsAgainst)
      .distinct()
  }

  /** Batched point probes — the `queryPointsMulti` serving discipline on
    * the semantic index (the [[DedupIndex.lookupMulti]] twin): ALL
    * probes' cells and norms are computed DRIVER-SIDE (zero jobs), their
    * cells' union becomes ONE literal cluster IN filter over ONE scan,
    * and per-probe attribution is a broadcast join against the
    * batch-row literal probe table — job budget independent of batch
    * size (spec), each probe's rows equal to its single-[[lookup]]
    * serving. Bounded loudly by [[graft.operators.Knn.MaxBatchQueries]].
    * Output: (probe_id, id_col, score_micro). */
  def lookupMulti(spark: SparkSession, dir: String,
                  probes: Seq[(Long, Seq[Double])],
                  tauMicro: Long): DataFrame = {
    graft.operators.Knn.requireBatch(probes.length,
      "SemanticDedupIndex.lookupMulti")
    require(probes.map(_._1).distinct.length == probes.length,
      "duplicate probe ids in batch")
    val g = geometry(dir)
    probes.foreach { case (pid, v) =>
      require(v.length == g.dim,
        s"probe $pid has ${v.length} dims, index pinned ${g.dim}")
    }
    val rows = probes.map { case (pid, v) =>
      var ss = 0.0
      v.foreach(x => ss += x * x)
      (pid, probeCell(spark, dir, v), v, math.sqrt(ss))
    }
    val cells = rows.map(_._2).distinct
    val pruned = ServedReads.of(spark, dir)
      .filter(col("cluster").isin(cells: _*))
    import spark.implicits._
    val probeTable = broadcast(
      rows.toDF("probe_id", "cluster", "pv", "pnorm"))
    pruned
      .join(probeTable, Seq("cluster"))
      .withColumn("score_micro", normScoreMicro(col("v"), col("pv"),
        col("norm"), col("pnorm")))
      .filter(col("score_micro") >= tauMicro)
      .select(col("probe_id"), col(g.idCol), col("score_micro"))
      // crash-window duplicates count once (see pairsAgainst)
      .distinct()
  }

  /** The streaming ingestion gate — the [[DedupIndex.gateAppend]]
    * contract on the SEMANTIC index (the dedup-before-store loop for
    * embedded content): reject every batch point that near-collides with
    * the corpus ([[pairsAgainst]]) or with a LOWER-id point in the same
    * batch (keep-lowest on within-batch cell-mate collisions — new ids
    * are monotone in arrival, so lowest = first seen), then [[append]]
    * the survivors under the pinned centroids so the NEXT batch
    * deduplicates against them too. Returns the kept points.
    *
    * Replay contract (`batchId`): identical to the lexical gate — a
    * committed batch id returns an EMPTY frame and touches nothing; the
    * marker lands AFTER the append, so a crash in that window re-appends
    * IDENTICAL rows on retry, which is why both serving verbs distinct
    * their hits (at-least-once maintenance, exactly-once-effective
    * serving). */
  def gateAppend(spark: SparkSession, dir: String, batch: DataFrame,
                 idCol: String, vecCol: String, tauMicro: Long,
                 batchId: Option[Long] = None): DataFrame = {
    require(idCol != "delivery_id" && idCol != "corpus_id",
      "batch id column must not collide with the pair output names")
    val marker = batchId.map(id =>
      Paths.get(dir, "_gated_batches", id.toString))
    if (marker.exists(Files.exists(_)))
      return batch.limit(0)
    // materialize the gate ONCE (localCheckpoint — blocks released by
    // the ContextCleaner, the inIdsFrame discipline): append() below and
    // the caller's consumption of the returned frame (foreachBatch sinks
    // count/write it) would otherwise each re-run the corpus-pair and
    // intra-batch joins — double the per-batch gate cost
    val kept = gateKept(spark, dir, batch, idCol, vecCol, tauMicro)
      .localCheckpoint(eager = true)
    append(spark, kept, vecCol, dir)
    marker.foreach { m =>
      Files.createDirectories(m.getParent); Files.write(m, Array[Byte]())
    }
    kept
  }

  /** The PURE gate decision — [[gateAppend]]'s kept set with NO
    * mutation and no fence: batch rows surviving reject-vs-corpus
    * (≥ 1 same-cell cosine ≥ τ against the index) and keep-lowest-id
    * within the batch. One definition shared with [[gateAppend]], and
    * directly callable by declared queries (which must not mutate
    * state — `pipe_curate_indexed` composes this with the lexical and
    * quality gates). */
  def gateKept(spark: SparkSession, dir: String, batch: DataFrame,
               idCol: String, vecCol: String,
               tauMicro: Long): DataFrame = {
    require(idCol != "delivery_id" && idCol != "corpus_id",
      "batch id column must not collide with the pair output names")
    val vsCorpus = pairsAgainst(spark, dir, batch, idCol, vecCol, tauMicro)
      .select(col("delivery_id").as(idCol)).distinct()
    val asg = assignedLocal(batch.select(col(idCol), col(vecCol)), idCol,
      vecCol, pinnedCentroidsLocal(spark, dir))
    val intraLosers = asg
      .select(col("cluster"), col(idCol).as("__a"), col("v").as("__va"),
        col("norm").as("__na"))
      .join(asg.select(col("cluster"), col(idCol).as("__b"),
        col("v").as("__vb"), col("norm").as("__nb")), Seq("cluster"))
      .filter(col("__a") < col("__b"))
      .filter(normScoreMicro(col("__va"), col("__vb"), col("__na"),
        col("__nb")) >= tauMicro)
      .select(col("__b").as(idCol)).distinct()
    batch.join(vsCorpus.unionAll(intraLosers).distinct(),
      Seq(idCol), "left_anti")
  }

  /** The layout's stored points as the (id, v) frame maintenance verbs
    * train/score against. */
  private def storedPoints(spark: SparkSession, dir: String): DataFrame = {
    val g = geometry(dir)
    ServedReads.of(spark, dir).select(col(g.idCol), col("v")).distinct()
  }

  /** Snapshot the build-time assignment-distance sketch (`_drift/`
    * sidecar — the [[Drift]] signal's baseline) under the PINNED
    * centroids. Call after [[build]] when drift maintenance is wanted;
    * [[retrain]] refreshes it automatically. */
  def snapshotDrift(spark: SparkSession, dir: String): Unit = {
    val g = geometry(dir)
    Drift.snapshotAssignment(dir, storedPoints(spark, dir), "v",
      pinnedCentroids(spark, dir))
  }

  /** The drift signal for this index: current-contents q-quantile
    * assignment distance under the PINNED centroids over the pinned
    * build-time quantile — exactly 1.0 on unchanged data, rising as
    * appended content drifts from the distribution the centroids were
    * trained on (see [[Drift.assignmentRatio]]). */
  def driftRatio(spark: SparkSession, dir: String,
                 q: Double = 0.9): Double =
    Drift.assignmentRatio(spark, dir, storedPoints(spark, dir), "v",
      pinnedCentroids(spark, dir), q = q)

  /** ONE-CALL maintenance ([[Drift.maintain]]): evaluate [[driftRatio]],
    * [[retrain]] past `threshold` (default
    * [[Drift.DefaultThreshold]] — the measured fire point), no-op
    * otherwise (layout bytes untouched — spec-asserted). Requires the
    * [[snapshotDrift]] baseline, like the signal itself. */
  def maintain(spark: SparkSession, dir: String,
               trainCentroids: DataFrame => DataFrame,
               threshold: Double = Drift.DefaultThreshold)
      : Drift.MaintainResult =
    Drift.maintain(threshold)(driftRatio(spark, dir))(
      retrain(spark, dir, trainCentroids))

  /** Staged RETRAIN (the [[Drift]] maintenance verb, the IvfIndex
    * contract): train FRESH centroids from the CURRENT index contents
    * with the caller's trainer (the same function the original build
    * used), rebuild the whole layout into staging, swap — the live
    * layout serves until the renames, and the gate's replay fence
    * travels with the new generation. The drift snapshot is refreshed
    * against the new artifacts. Retrain is never implicit in append
    * (append == pinned-artifact assignment is the contract). */
  def retrain(spark: SparkSession, dir: String,
              trainCentroids: DataFrame => DataFrame): Unit = {
    val g = geometry(dir)
    val pts = storedPoints(spark, dir)
    val local = trainCentroids(pts)
      .select(col("cid").cast("long"), col("cv").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
      .sortBy(_._1)
    require(local.nonEmpty && local.head._2.length == g.dim,
      s"trainer returned centroids of dim " +
        s"${local.headOption.map(_._2.length)}, index pinned ${g.dim} — " +
        "refusing to stage a layout the pinned geometry cannot serve")
    import spark.implicits._
    Drift.stagedRebuild(dir) { staging =>
      assignedLocal(pts, g.idCol, "v", local)
        .repartition(col("cluster"))
        .write.mode("overwrite")
        .partitionBy("cluster")
        .parquet(staging)
      local.toSeq.toDF("cid", "cv").repartition(1).write.mode("overwrite")
        .parquet(staging + "/_centroids")
      writeMeta(staging, Geometry(g.idCol, local.length, g.dim))
      Drift.snapshotAssignment(staging, pts, "v",
        local.toSeq.toDF("cid", "cv"))
      val fence = Paths.get(dir, "_gated_batches")
      if (Files.isDirectory(fence)) {
        val target = Paths.get(staging, "_gated_batches")
        Files.createDirectories(target)
        val s = Files.list(fence)
        try s.forEach(p =>
          Files.copy(p, target.resolve(p.getFileName.toString)))
        finally s.close()
      }
    }
    pin(dir)(local)
  }

  /** Small-files maintenance for a long-gated index (the
    * [[DedupIndex.compact]] discipline): every [[gateAppend]] leaves one
    * file per touched cell per micro-batch; rewrite the layout with one
    * exchange on the partition key into a staging dir, then swap. The
    * PINNED artifacts travel with the new generation — `_centroids/`
    * (losing them would orphan the layout), metadata, and the gate's
    * replay fence. Rows are byte-identical: compaction is an IO-layout
    * verb, never a semantic one. */
  def compact(spark: SparkSession, dir: String): Unit = {
    val g = geometry(dir)
    val local = pinnedCentroidsLocal(spark, dir)
    Drift.stagedRebuild(dir) { staging =>
      ServedReads.of(spark, dir)
        .select(col(g.idCol), col("v"), col("norm"), col("cluster"))
        .repartition(col("cluster"))
        .write.mode("overwrite")
        .partitionBy("cluster")
        .parquet(staging)
      import spark.implicits._
      local.toSeq.toDF("cid", "cv").repartition(1)
        .write.mode("overwrite").parquet(staging + "/_centroids")
      writeMeta(staging, g)
      // the replay fence and the drift baseline travel too — rows are
      // byte-identical across a compact, so the pinned snapshot stays
      // the valid baseline
      Seq("_gated_batches", "_drift").foreach { side =>
        val src = Paths.get(dir, side)
        if (Files.isDirectory(src)) {
          val target = Paths.get(staging, side)
          Files.createDirectories(target)
          val s = Files.list(src)
          try s.forEach(p =>
            Files.copy(p, target.resolve(p.getFileName.toString)))
          finally s.close()
        }
      }
    }
    pin(dir)(local)
  }
}
