package graft

import org.apache.spark.sql.SparkSession

/** Dev tooling over the query registry: `Dev <verb> [args...]`, where
  * every `<key>` is a `SparkEntry.queries` key.
  *   schema <sfDir>                      — schema + 3 rows of every fixture table
  *   explain <key> <sfDir>               — formatted physical plan of a key
  *   run <key> <sfDir>                   — evaluate a key and show 50 rows
  *   prof <key[,key...]> <sfDir> [iters] — per-iteration `Profile` of each key
  *   scaleprobe <sfDir> [factors] [key...] — cold + warm `Profile` of each
  *                                         key on 1×/10×/100× blow-ups
  */
object Dev {
  private val Usage =
    """usage: graft.Dev <verb> [args...]   (<key>: a SparkEntry.queries key)
      |  schema <sfDir>
      |  explain <key> <sfDir>
      |  run <key> <sfDir>
      |  prof <key[,key...]> <sfDir> [iters]       (iters default 2)
      |  scaleprobe <sfDir> [factors] [key...]     (factors default 1,10,100)""".stripMargin

  /** Keys `scaleprobe` times when none are named: serving, ANN, dedup,
    * text and kNN-join paths (SURVEY §8.5b). */
  private val ScaleKeys = Seq(
    "v_cosine", "v_knn", "v_knn_filtered", "v_prefetch", "v_pq_search",
    "ann_ivf", "ann_ivf_indexed", "ann_lsh", "ann_graph_search",
    "dedup_exact", "dedup_minhash", "dedup_simhash", "dedup_embed",
    "dedup_cluster", "txt_quality", "txt_decontam",
    "v_knn_join", "v_knn_join_refined")

  def main(args: Array[String]): Unit = {
    def keys(csv: String): Option[Seq[String]] = {
      val ks = csv.split(',').toSeq.map(_.trim).filter(_.nonEmpty)
      Option.when(ks.nonEmpty && ks.forall(Queries.queries.contains))(ks)
    }
    def ints(csv: String): Option[Seq[Int]] = {
      val ns = csv.split(',').toSeq.map(_.trim.toIntOption)
      Option.when(ns.nonEmpty && ns.forall(_.exists(_ > 0)))(ns.flatten)
    }
    // parsed before a session exists, so bad args exit nonzero without
    // starting Spark
    val verb: Option[SparkSession => Unit] = args.toList match {
      case "schema" :: dir :: Nil => Some(schema(_, dir))
      case "explain" :: key :: dir :: Nil if Queries.queries.contains(key) =>
        Some(s => Queries.queries(key)(s, dir).explain("formatted"))
      case "run" :: key :: dir :: Nil if Queries.queries.contains(key) =>
        Some(s => Queries.queries(key)(s, dir).show(50, truncate = 60))
      case "prof" :: ks :: dir :: n if n.size <= 1 =>
        for (k <- keys(ks);
             i <- n.headOption.fold(Option(2))(_.toIntOption.filter(_ > 0)))
          yield prof(_, k, dir, i)
      case "scaleprobe" :: dir :: rest =>
        for {
          fs <- rest.headOption.fold(Option(Seq(1, 10, 100)))(ints)
          k <- if (rest.size > 1) keys(rest.tail.mkString(",")) else Some(ScaleKeys)
        } yield scaleprobe(_, dir, fs, k)
      case _ => None
    }
    verb match {
      case None =>
        System.err.println(Usage)
        sys.exit(2)
      case Some(f) =>
        val spark = Local.session("ERROR")
        try f(spark) finally spark.stop()
    }
  }

  private def schema(spark: SparkSession, dir: String): Unit =
    Tables.all.foreach { t =>
      println(s"=== $t")
      val df = Tables.load(spark, dir, t)
      df.printSchema(); df.show(3, truncate = 60)
    }

  private def profile(spark: SparkSession, key: String,
                      dir: String): Profile.Result =
    Profile(spark)(Local.evaluate(Queries.queries(key)(spark, dir)))

  private def secs(ms: Long): String = f"${ms / 1e3}%.3f s"

  private def summary(p: Profile.Result): String =
    s"wall ${secs(p.wallMs)}  jobs ${p.jobs.size}  stages ${p.stages}  " +
      s"tasks ${p.tasks}  job wall ${secs(p.jobWallMs)}  " +
      s"driver gap ${secs(p.gapMs)}  " +
      s"memo hits/misses ${p.memoHits}/${p.memoMisses}"

  /** Profile each key `iters` times in one session, in the given order —
    * the Bench context for a subset. An untimed pass over all keys at
    * `dir` first pays JIT, codegen and memoized builds; each timed
    * iteration starts with cold one-slot caches, as in Bench. */
  private def prof(spark: SparkSession, keys: Seq[String], dir: String,
                   iters: Int): Unit = {
    keys.foreach(k => Local.evaluate(Queries.queries(k)(spark, dir)))
    keys.foreach { k =>
      val walls = (1 to iters).map { i =>
        graft.operators.Dedup.releaseCaches()
        val p = profile(spark, k, dir)
        println(s"[$k] iter $i  ${summary(p)}")
        p.jobs.foreach { j =>
          println(f"    job ${j.id}%4d  ${secs(j.wallMs)}%9s  " +
            f"stages ${j.stages}%2d  tasks ${j.tasks}%4d")
        }
        p.wallMs
      }
      println(s"[$k] min ${secs(walls.min)}")
    }
  }

  /** 10×/100× blow-up probe (SURVEY §8.5b): materialize `factor`× copies
    * of `dir` (`blowUpDir`), then profile each key cold (memoized index
    * builds included) and warm. Factors share one JVM; the closing table
    * gives the warm-time exponent per decade between the first and last
    * factor. */
  private def scaleprobe(spark: SparkSession, dir: String,
                         factors: Seq[Int], keys: Seq[String]): Unit = {
    val warm = factors.map { f =>
      val fdir = blowUpDir(spark, dir, f)
      println(s"== factor $f: $fdir")
      f -> keys.map { k =>
        val cold = profile(spark, k, fdir)
        val hot = profile(spark, k, fdir)
        println(s"  [$k] cold ${summary(cold)}")
        println(s"  [$k] warm ${summary(hot)}")
        k -> hot.wallMs
      }.toMap
    }.toMap
    println("\nkey, " + factors.map(f => s"warm${f}x").mkString(", ") +
      ", warm-exp/decade")
    keys.foreach { k =>
      val (fa, fb) = (factors.head, factors.last)
      val exp =
        if (fa == fb) "n/a"
        else f"${math.log10(warm(fb)(k).toDouble / warm(fa)(k)) /
          math.log10(fb.toDouble / fa)}%.2f"
      println(s"$k, ${factors.map(f => secs(warm(f)(k))).mkString(", ")}, $exp")
    }
  }

  /** Materialize the deterministic blow-up corpus for `scaleprobe` at
    * `factor`× of `dir`, reused across runs (see the generator-version
    * rule below). */
  private def blowUpDir(spark: SparkSession, dir: String,
                        factor: Int): String = {
    import org.apache.spark.sql.functions._
    val hash = java.lang.Integer.toHexString(dir.hashCode)
    // NOT under the `graft_` prefix: Tables.memoTempDir's orphan
    // sweep reclaims those by pid suffix, and this dir is meant to
    // be reused across probe runs. The GENERATOR VERSION is part of
    // the name: reuse is keyed on what produced the data, so a
    // formula change can never silently serve stale blow-ups (the
    // period-7 artifact survived one fix exactly this way) — bump
    // it whenever the perturbation/rotation logic changes
    val genVersion = "v3"
    val out = s"${System.getProperty("java.io.tmpdir")}/graft-scale-$genVersion-${factor}x-$hash"
    val marker = java.nio.file.Paths.get(s"$out/embeddings.parquet/_SUCCESS")
    if (!java.nio.file.Files.exists(marker)) {
      // copies must be DISTINCT documents/points, not near-dups of
      // each other: a blow-up of near-identical copies multiplies
      // dedup candidate PAIRS quadratically in the copy count (a
      // duplication-density artifact, measured: dedup_simhash 0.65 s
      // → 10 s at 10×), drowning the n-scaling signal the probe
      // exists to read. Copy 0 is byte-identical to the source.
      val emb = Tables.load(spark, dir, "embeddings")
      val eOff = emb.agg(max("vec_id")).head().getLong(0) + 1
      val embBlown = emb
        .withColumn("c", explode(sequence(lit(0), lit(factor - 1))))
        .select((col("vec_id") + col("c") * eOff).as("vec_id"),
          // element-wise multiplier in [0.1, 1.9] pseudo-random per
          // (copy, dim): copies point in substantially different
          // directions (cross-copy cosine ~0.8, below near-dup).
          // The pmod argument mixes c AND c/7 so the pattern does
          // NOT repeat with period 7 in the copy index (a plain
          // c·(i+3) term made copies c and c+7 bit-identical —
          // ~15-point exact-dup vector clusters at 100×, exactly
          // the duplicate-density artifact this blow-up exists to
          // avoid; residual collisions at period 49 leave clusters
          // ≤ 3, matching the text side's rotation classes). Copy 0
          // stays byte-identical to the source.
          when(col("c") === 0, col("embedding")).otherwise(
            transform(col("embedding"),
              (x, i) => x * (lit(1.0f) + lit(0.3f) *
                (pmod(col("c") * (i + lit(3)) +
                    floor(col("c") / 7).cast("int") *
                    (i * 3 + lit(5)), lit(7)) - lit(3))
                  .cast("float")))
              .cast("array<float>")).as("embedding"),
          col("label"))
      val docs = Tables.load(spark, dir, "documents")
      val dOff = docs.agg(max("doc_id")).head().getLong(0) + 1
      // per-copy ALPHABET ROTATION (translate): most words change,
      // so shingle/gram/fingerprint features are disjoint across
      // rotation classes — distinct docs, constant collision
      // density. (A repeated per-copy filler token was measured to
      // CORRELATE simhash fingerprints — the filler dominates the
      // weight vector and every same-copy pair becomes a band
      // collision: dedup_simhash 0.8 s → 73 s at 10×.) Copies ≥ 26
      // reuse a rotation and differ only by the tail token —
      // bounded near-dup clusters (≤ factor/26), realistic and
      // linear in n.
      val abc = ('a' to 'z').mkString + ('A' to 'Z').mkString
      (0 until factor).map { c =>
        if (c == 0)
          docs.select(col("doc_id"), col("text"), col("lang"),
            col("source"))
        else {
          val r = c % 26
          val lower = ('a' to 'z').mkString
          val upper = ('A' to 'Z').mkString
          val mapped = lower.drop(r) + lower.take(r) +
            upper.drop(r) + upper.take(r)
          docs.select((col("doc_id") + c * dOff).as("doc_id"),
            concat(translate(col("text"), abc, mapped),
              lit(s" x$c")).as("text"),
            col("lang"), col("source"))
        }
      }.reduce(_ unionByName _)
        .withColumn("n_chars", length(col("text")).cast("long"))
        .repartition(32)
        .write.mode("overwrite").parquet(s"$out/documents.parquet")
      // embeddings LAST: its _SUCCESS is the completion marker, so
      // it must imply the documents write finished too (a crash
      // between the two would otherwise leave a half-built dir
      // every later run trusts)
      embBlown.repartition(32)
        .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    }
    out
  }
}
