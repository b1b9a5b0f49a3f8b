package graft.core

import org.apache.spark.sql.{DataFrame, Dataset}

/** Owner of query-lifetime state: frames an operator persists for one
  * query (shingle posting lists, banded signatures, split sides), as
  * opposed to session [[Artifacts]].
  *
  * A query runs as one [[scoped]] call, bound to the calling thread.
  * The scope keeps one release list for every [[transient]] and [[cut]]
  * registered on that thread while it is open and releases only that
  * list on exit, also when the body throws, so a gate batch on a stream
  * thread never releases another thread's query. Its name labels the
  * memo entries [[Artifacts.memo]] creates inside it. Registrations
  * outside any scope go to one unscoped list, drained by
  * [[releaseTransients]].
  *
  * USE-BEFORE-RELEASE: materialize whatever derives from a cut before
  * its scope closes. Releasing a local checkpoint is irreversible (its
  * lineage is truncated), so an action on such a frame afterwards
  * fails with Spark's `CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND` instead of
  * recomputing, as a released `.cache()` would. localCheckpoint is also
  * not fault-tolerant on a cluster (an executor loss kills the job):
  * fine for per-query intermediates, not for state that must survive.
  */
object Caches {

  /** One owner's (frame, release) list in registration order; frames
    * compare by reference (Dataset has no custom equals). */
  private final class Scope(val name: String) {
    private val entries = scala.collection.mutable.ArrayBuffer.empty[(AnyRef, () => Unit)]
    def add(frame: AnyRef, release: () => Unit): Int =
      synchronized { entries += frame -> release; entries.size }
    def remove(frame: AnyRef): Option[() => Unit] = synchronized {
      val i = entries.indexWhere(_._1 eq frame)
      if (i < 0) None else Some(entries.remove(i)._2)
    }
    /** Run and drop the oldest `n` releases (all by default). */
    def release(n: Int = Int.MaxValue): Unit = synchronized {
      val old = entries.take(n).toList
      entries.remove(0, old.size)
      old
    }.foreach(e => quietly(e._2))
  }

  private def quietly(release: () => Unit): Unit =
    try release()
    catch { case _: Throwable => () }

  /** Bound of the unscoped list: past it the OLDEST entry is released on
    * registration, so a session that never calls [[releaseTransients]]
    * (notebook, service) can't pin blocks without limit. A scope
    * releases on exit and needs no bound. */
  private val MaxTracked = 64

  private val unscoped = new Scope("")
  // plain, not inheritable: the stream and pool threads a query starts
  // must not share its release list
  private val current = new ThreadLocal[Scope]
  private def owner: Scope = Option(current.get).getOrElse(unscoped)

  /** The calling thread's scope name, "" outside any scope. */
  private[core] def scopeName: String = owner.name

  private def register(frame: AnyRef, release: () => Unit): Unit = {
    val n = owner.add(frame, release)
    if ((owner eq unscoped) && n > MaxTracked) unscoped.release(n - MaxTracked)
  }

  /** Run `body` as one query named `name` on the calling thread. A
    * nested scope restores the outer one on exit. */
  def scoped[T](name: String)(body: => T): T = {
    val outer = current.get
    val scope = new Scope(name)
    current.set(scope)
    try body
    finally {
      if (outer == null) current.remove() else current.set(outer)
      scope.release()
    }
  }

  /** Cache `ds` for the rest of the calling thread's scope. */
  def transient[T](ds: Dataset[T]): Dataset[T] = {
    register(ds, () => { ds.unpersist(false); () })
    ds.cache()
  }

  /** Stop tracking `ds` WITHOUT releasing it: [[Artifacts.memo]]
    * promotes a frame its builder registered to a session artifact. */
  def untrack(ds: Dataset[_]): Unit = { owner.remove(ds); () }

  /** Release `df` now, if the calling thread's scope registered it. */
  def release(df: Dataset[_]): Unit = owner.remove(df).foreach(quietly)

  /** Release everything registered outside any scope (non-blocking).
    * Scopes and [[Artifacts.memo]] entries are untouched. */
  def releaseTransients(): Unit = unscoped.release()

  /** Materialize `df` NOW and truncate its lineage (localCheckpoint).
    *
    * [[transient]] keeps the full logical plan under the cache: every
    * downstream action re-canonicalizes and re-optimizes that tree for
    * the cache lookup, which for expression-heavy relations (the
    * 66-md5 perceptual dHash, banded-signature tables fanned into
    * `maxDist+1` join branches) turns into SECONDS of single-threaded
    * driver work per query (s12: ~5 s, OPTIMIZATION_r14.md). Cutting
    * the lineage replaces it with a compact scan of the materialized
    * rows.
    *
    * Use for relations that are (a) expensive to PLAN (huge expression
    * trees), (b) consumed by several downstream branches, and (c)
    * small enough to hold — fingerprint/signature tables, not raw
    * corpus text. Eager: the cut runs the subquery at call time. The
    * use-before-release rule above applies. */
  def cut(df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint()
    // Dataset.unpersist does not free a checkpoint: the blocks belong
    // to the RDD under the cut's LogicalRDD
    register(cp, () => cp.queryExecution.logical match {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(false); ()
      case _ => ()
    })
    cp
  }
}
