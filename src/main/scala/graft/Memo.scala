package graft

import java.nio.file.{Files, NoSuchFileException, Path, Paths}
import java.nio.file.attribute.BasicFileAttributes
import java.util.concurrent._
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** The one driver-side memo: trained centroids and codebooks, fixture
  * scalars, query vectors, fitted model LUTs, footer row counts, the
  * memoized temp layouts of [[Tables.memoTempDir]], the held-open
  * layout reads of [[graft.sources.ServedReads]] and the held-open
  * collection reads of [[graft.sources.Collections.read]] (one per
  * committed manifest, keyed by its text and the collection dir).
  *
  * Keying. An entry is keyed by (name, params, inputs), and each input
  * path by its [[fingerprint]]: one non-recursive listing giving every
  * entry's name, size, mtime and file key. A fixture table rewritten in
  * place or replaced, a staged bucket swap and a staged whole-dir
  * rebuild all change the listing, so a value is never served for
  * inputs that changed under the same path, and regenerating a fixture
  * needs no JVM restart. Values must be deterministic functions of their
  * key: recomputing one gives the same answer, which is what makes the
  * memo gate-safe.
  *
  * Evicted entries. A value that depends on files BELOW a dir's top level
  * (a layout read whose listing is frozen at first use, while
  * `SemanticDedupIndex.append` adds files inside existing `cluster=`
  * dirs) is keyed by the dir instead, through [[untilEvicted]], and
  * dropped by [[evict]]. Soundness: layouts are DERIVED data that mutate
  * only through their own verbs (build / refresh / retrain / staged
  * swaps), and every such verb evicts the layout root before AND after
  * the mutation (a reader re-memoizing mid-write sees a listing the
  * post-mutation evict clears). Eviction is by PATH PREFIX, because some
  * layouts are read through subdirectories (graph `_seeds/`, round
  * tables) whose keys differ from the root. External mutation of a
  * layout dir is outside the contract: rebuild instead.
  *
  * Single flight. The first caller of a key computes it outside any map
  * lock (a compute may run Spark jobs and memoize other keys); concurrent
  * callers of that key wait for its result. A compute that throws is not
  * kept: the next call retries. */
object Memo {
  /** One listing entry: name, size, mtime (ns) and file key. */
  final case class Entry(name: String, size: Long, mtime: Long, fileKey: AnyRef)

  /** `prints` is None for an entry keyed by dir (see [[untilEvicted]]). */
  private final case class Key(name: String, params: Any, paths: Seq[String],
                               prints: Option[Seq[Seq[Entry]]])

  private val cells = new ConcurrentHashMap[Key, FutureTask[Any]]()

  /** Calls answered from an entry (computed or in flight), and calls that
    * ran their compute. */
  val hits, misses = new AtomicLong

  /** The listing of `path`: its entries (sorted by name) when it is a
    * dir, itself when it is a file, nothing when it is missing. */
  def fingerprint(path: String): Seq[Entry] = {
    def entry(p: Path): Option[Entry] =
      try {
        val a = Files.readAttributes(p, classOf[BasicFileAttributes])
        Some(Entry(p.getFileName.toString, a.size,
          a.lastModifiedTime.to(TimeUnit.NANOSECONDS), a.fileKey))
      } catch { case _: NoSuchFileException => None } // deleted meanwhile
    val p = Paths.get(path)
    if (!Files.isDirectory(p)) entry(p).toSeq
    else try {
      val s = Files.list(p)
      try s.iterator.asScala.flatMap(entry).toSeq.sortBy(_.name)
      finally s.close()
    } catch { case _: NoSuchFileException => Nil }
  }

  /** `compute` once per (name, params, fingerprint of each input). */
  def apply[V](name: String, params: Any, inputs: String*)(compute: => V): V =
    named(name, params, inputs: _*)(_ => compute)

  /** [[apply]] whose compute receives a hex digest of its key: a name for
    * an artifact built from exactly these inputs. */
  def named[V](name: String, params: Any, inputs: String*)(
      compute: String => V): V = {
    val key = Key(name, params, inputs, Some(inputs.map(fingerprint)))
    cell(key)(compute(java.security.MessageDigest.getInstance("MD5")
      .digest(key.toString.getBytes("UTF-8")).take(8)
      .map("%02x".format(_)).mkString))
  }

  /** `compute` once per (name, dir, params) until [[evict]] drops it: for
    * values that depend on files below `dir`'s top level. */
  def untilEvicted[V](name: String, dir: String, params: Any)(
      compute: => V): V =
    cell(Key(name, params, Seq(dir), None))(compute)

  /** Drop the entries under `dir` (it included) that may be stale: every
    * entry keyed by such a dir, and every entry whose inputs there no
    * longer list as they did. Called by every verb that mutates a layout,
    * before and after the mutation, after every collection commit and on
    * every collection-read miss. */
  def evict(dir: String): Unit = {
    def under(p: String) = p == dir || p.startsWith(dir + "/")
    cells.keySet.removeIf(k => k.paths.exists(under) &&
      !k.prints.contains(k.paths.map(fingerprint)))
    ()
  }

  /** The input paths of each entry named `name`. */
  private[graft] def inputsOf(name: String): Seq[Seq[String]] =
    cells.keySet.asScala.toSeq.collect { case k if k.name == name => k.paths }

  private def cell[V](key: Key)(compute: => V): V = {
    val found = cells.get(key)
    val winner =
      if (found != null) { hits.incrementAndGet(); found }
      else {
        val task = new FutureTask[Any](() => compute)
        cells.putIfAbsent(key, task) match {
          case null => misses.incrementAndGet(); task.run(); task
          case other => hits.incrementAndGet(); other
        }
      }
    try winner.get().asInstanceOf[V]
    catch {
      case e: ExecutionException => // not kept: the next call retries
        cells.remove(key, winner)
        throw e.getCause
    }
  }
}
