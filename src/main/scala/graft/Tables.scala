package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Fixture-table loader. One parquet file per table (TESTDATA.md). */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events") {
      // The engine's canonical events.ts type is epoch-ns BIGINT; every
      // downstream window/sessionize/as-of site does integer `ts DIV …`
      // math on it, and the DuckDB oracles read the same value via
      // epoch_ns(ts). Fixture generations have shipped two physical
      // types, so adapt at load:
      //  - parquet TIMESTAMP(NANOS): Spark has no ns timestamp type
      //    (PARQUET_TYPE_ILLEGAL without the legacy flag), so read it as
      //    the raw INT64 of epoch nanoseconds — already canonical.
      //  - parquet timestamp[us] (current fixtures): loads as a Spark
      //    timestamp; normalize to epoch-ns via unix_micros * 1000
      //    (session tz is pinned UTC, so NTZ→TZ cast is identity).
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      canonicalTsNs(spark.read.parquet(path(dir, name)))
    } else spark.read.parquet(path(dir, name))
  }

  /** The file [[load]] reads: the input path of a memo over the table. */
  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  /** Normalize an events-style `ts` column to the canonical epoch-ns
    * BIGINT whatever its physical type: BIGINT (ns-as-LONG fixtures)
    * passes through; timestamp / timestamp_ntz (current fixtures)
    * converts via unix_micros × 1000 (session tz is pinned UTC, so the
    * NTZ→TZ cast is identity). Narrow projection — safe on both batch
    * and streaming DataFrames, which is why the streaming operators call
    * it too instead of assuming a physical type. */
  def canonicalTsNs(df: DataFrame, tsCol: String = "ts"): DataFrame =
    df.schema(tsCol).dataType match {
      case org.apache.spark.sql.types.LongType => df
      case _ =>
        import org.apache.spark.sql.functions.{col, unix_micros}
        df.withColumn(tsCol,
          unix_micros(col(tsCol).cast("timestamp")) * 1000L)
    }

  /** Live pin dirs, oldest-first — ONE static shutdown hook reaps
    * whatever is left at exit (r15 ADVICE: the previous per-call
    * `addShutdownHook` grew an unreclaimed hook THREAD per pin for the
    * JVM's lifetime). Bounded: past [[MaxLivePins]] the oldest pin is
    * reaped on the next [[pinned]] call, so a serving loop's pin-dir
    * count is flat (spec-probed) — safe because a pin is only read
    * between its creation and its composite's terminal action, and a
    * process holding [[MaxLivePins]] composites in flight at once is
    * far outside the pin's small-intermediate-frame shape. */
  private val livePins =
    new java.util.concurrent.ConcurrentLinkedDeque[java.nio.file.Path]()

  /** Pin-pool bound: the oldest pin above this is reaped on the next
    * [[pinned]] call. pipe_curate_indexed holds 3 pins per execution,
    * so 64 covers ~20 concurrent executions before the pool recycles a
    * dir that could still be live. */
  val MaxLivePins: Int = 64

  /** Memoized layout dirs ([[memoTempDir]]), reaped by the same exit
    * hook as pins but never recycled while the JVM lives. */
  private val memoDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()

  private lazy val exitHook: Unit = {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      releasePins()
      memoDirs.forEach(d => rmTree(d.toFile))
    }))
    ()
  }

  /** Drop every live pin's files now — the explicit cleanup a
    * long-lived serving process calls between composite executions
    * (any frame still reading a pin becomes invalid; callers own that
    * ordering). */
  def releasePins(): Unit = {
    var d = livePins.pollFirst()
    while (d != null) { rmTree(d.toFile); d = livePins.pollFirst() }
  }

  /** Live pin-dir count (probe surface for the flat-churn contract). */
  def livePinCount: Int = livePins.size()

  /** Pin a SMALL intermediate frame by write-then-read of an immutable
    * temp parquet — the stage-boundary materialization for multi-action
    * composites (pipe_curate_indexed): downstream actions re-read
    * frozen files instead of re-executing the upstream lineage.
    * Deliberately NOT `localCheckpoint`: checkpoint blocks live in the
    * executor block manager, whose accumulated state made the composite
    * key's latency swing ~2.5× across same-day bench runs; parquet temp
    * files cost one small write and read back at a flat price. Dirs are
    * tracked in the bounded [[livePins]] pool (oldest reaped past
    * [[MaxLivePins]]; one static exit hook reaps the remainder;
    * [[releasePins]] for eager cleanup), so neither hook threads nor
    * dirs accumulate across a serving loop. Contents must be
    * deterministic (the memoTempDir gate-safety rule) — a declared
    * query stays a pure function of the fixture. */
  def pinned(df: DataFrame): DataFrame = {
    exitHook
    while (livePins.size() >= MaxLivePins) {
      val old = livePins.pollFirst()
      if (old != null) rmTree(old.toFile)
    }
    // PID-KEYED name under the graft_ orphan convention —
    // createTempDirectory("graft_pin") put a NON-numeric tail after the
    // last underscore, which sweepOrphans parses as a dead pid: any
    // concurrently-starting graft process reaped another process's LIVE
    // pins mid-query (observed: a verify JVM deleted a profiling JVM's
    // pin files). With the pid suffix the sweep sees the owner alive,
    // and a SIGKILLed owner's pins are reclaimed like every other memo
    // dir.
    val dir = tempDir(
      s"pin_${java.util.UUID.randomUUID().toString.replace("-", "")}")
    require(dir.mkdirs(), s"could not create pin dir $dir")
    livePins.addLast(dir.toPath)
    val target = s"$dir/p"
    df.write.mode("overwrite").parquet(target)
    df.sparkSession.read.parquet(target)
  }

  /** `graft_<tag>_<pid>` under java.io.tmpdir: the name [[sweepOrphans]]
    * reads its owner from. */
  private def tempDir(tag: String): java.io.File =
    new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_${tag}_${ProcessHandle.current().pid()}")

  private def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree)); f.delete(); ()
  }

  /** One-shot startup sweep of ORPHANED layout dirs: the exit hook is
    * in-process only, so a SIGKILLed JVM leaves its pid-keyed
    * `graft_<prefix>_<hash>_<pid>` dirs behind in /tmp. Any such dir
    * whose pid is no longer alive is dead by construction (the pid key
    * exists precisely so only its owner touches it) and is removed the
    * next time any process memoizes. A recycled pid makes the liveness
    * probe a false "alive" — the safe direction (dir merely survives
    * until a later sweep). */
  private lazy val sweepOrphans: Unit = {
    val self = ProcessHandle.current().pid()
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    Option(tmp.listFiles()).getOrElse(Array.empty).foreach { f =>
      val name = f.getName
      if (f.isDirectory && name.startsWith("graft_")) {
        val pidStr = name.substring(name.lastIndexOf('_') + 1)
        val alive = pidStr.toLongOption.exists { p =>
          p == self || {
            val h = ProcessHandle.of(p)
            h.isPresent && h.get().isAlive
          }
        }
        if (!alive) rmTree(f)
      }
    }
  }

  /** Memoized per-fixture/per-pid temp materialization (the derived-
    * layout discipline shared by the IVF-index and tenant-layout
    * queries): `build` runs ONCE per (prefix, listing of the fixture dir)
    * per JVM into a temp dir named by the [[Memo]] key's digest (a
    * rewritten fixture builds into a fresh dir, never over a live one) +
    * the JVM's pid (two concurrent processes on one fixture must not
    * overwrite each other's live layout). The dir is registered with the
    * one exit hook BEFORE the build runs, so a failed or interrupted
    * build's partial dir is still cleaned; dirs orphaned by SIGKILL are
    * reaped by [[sweepOrphans]] on the next process's first memoization.
    * Contents must be deterministic — the memo is gate-safe only because
    * rebuilding would produce identical bytes. */
  def memoTempDir(prefix: String, dir: String)(build: String => Unit)
      : String = {
    sweepOrphans
    Memo.named("memoTempDir", prefix, dir) { digest =>
      val target = tempDir(s"${prefix}_$digest")
      exitHook
      memoDirs.add(target.toPath)
      build(target.toString)
      target.toString
    }
  }
}
