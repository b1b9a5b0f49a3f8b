package graft.core

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.Dataset

/** Tracker for TRANSIENT caches — frames an operator persists for the
  * duration of one query (shingle posting lists, banded signatures,
  * split sides) as opposed to session [[Artifacts]].
  *
  * Operators route short-lived `.cache()` calls through [[transient]];
  * a harness then releases exactly these between queries with
  * [[releaseTransients]] instead of `spark.catalog.clearCache()`, which
  * cannot tell a per-query working set from a compute-once artifact.
  * (Within a query the cache is still load-bearing — consumers branch
  * over the frame several times — so operators cannot simply unpersist
  * before returning their lazy result.)
  */
object Caches {

  private val transients = new ConcurrentLinkedQueue[Dataset[_]]()

  /** Tracker bound: past this many live entries the OLDEST tracked
    * frame is unpersisted on registration, so a long-lived session
    * that never calls [[releaseTransients]] (notebook, service) can't
    * pin cached blocks without limit. Generous relative to the
    * transient count of any single query (≤ a handful). */
  private val MaxTracked = 64

  /** Cache `ds` and track it for the next [[releaseTransients]]. */
  def transient[T](ds: Dataset[T]): Dataset[T] = {
    transients.add(ds)
    while (transients.size > MaxTracked) {
      val old = transients.poll()
      if (old != null) {
        try old.unpersist(false)
        catch { case _: Throwable => () }
      }
    }
    ds.cache()
  }

  /** Remove `ds` from transient tracking WITHOUT unpersisting — used
    * by [[Artifacts.memo]] when a frame built through a
    * transient-routing code path is promoted to session-artifact
    * status: the sweep must no longer drop it. Reference equality
    * (Dataset has no custom equals), so only the exact registered
    * frame is untracked. */
  def untrack(ds: Dataset[_]): Unit = transients.remove(ds)

  /** Unpersist every tracked transient frame (non-blocking) and clear
    * the tracking list. Safe to call at any query boundary; artifacts
    * registered via [[Artifacts.memo]] are untouched. */
  def releaseTransients(): Unit = {
    var ds = transients.poll()
    while (ds != null) {
      try ds.unpersist(false)
      catch { case _: Throwable => () }
      ds = transients.poll()
    }
    var r = cutReleases.poll()
    while (r != null) {
      try r()
      catch { case _: Throwable => () }
      r = cutReleases.poll()
    }
  }

  private val cutReleases = new ConcurrentLinkedQueue[() => Unit]()

  /** Materialize `df` NOW and truncate its lineage (localCheckpoint),
    * tracking the checkpointed blocks for [[releaseTransients]].
    *
    * [[transient]] keeps the full logical plan under the cache: every
    * downstream action re-canonicalizes and re-optimizes that tree for
    * the cache lookup, which for expression-heavy relations (the
    * 66-md5 perceptual dHash, banded-signature tables fanned into
    * `maxDist+1` join branches) turns into SECONDS of single-threaded
    * driver work per query — measured on s12: ~5 s to plan the gate
    * and 6 parallel broadcast stages each re-walking the fingerprint
    * tree (OPTIMIZATION_r14.md s12 split). Cutting the lineage replaces all of
    * it with a compact scan of the materialized rows.
    *
    * Use for relations that are (a) expensive to PLAN (huge expression
    * trees), (b) consumed by several downstream branches, and (c)
    * small enough to hold — fingerprint/signature tables, not raw
    * corpus text. Eager: the cut runs the subquery at call time.
    *
    * USE-BEFORE-RELEASE CONTRACT: unpersisting a locally-checkpointed
    * RDD is irreversible — lineage is truncated, so after
    * [[releaseTransients]] a still-held DataFrame built over a cut
    * relation fails with missing-block errors instead of recomputing
    * (unlike a swept `.cache()`). Consumers must fully materialize
    * results derived from a cut relation before the next query-
    * boundary sweep; every harness (Bench, Verify, PerfProbe) runs one
    * action per query and sweeps after it, which satisfies this by
    * construction. localCheckpoint is also not fault-tolerant on a
    * cluster (an executor loss kills the job rather than recomputing)
    * — acceptable for ephemeral per-query intermediates, not for
    * state that must survive. */
  def cut(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val cp = df.localCheckpoint()
    cutReleases.add(() => cp.queryExecution.logical match {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(false)
      case _ => ()
    })
    // the same MaxTracked bound as [[transient]]: a session that never
    // sweeps (notebook, service, Verify-style long loops) must not pin
    // checkpoint blocks without limit — release the OLDEST cut past
    // the bound (safe there by the use-before-release contract: a
    // frame that old belongs to a long-finished query)
    while (cutReleases.size > MaxTracked) {
      val old = cutReleases.poll()
      if (old != null) {
        try old()
        catch { case _: Throwable => () }
      }
    }
    cp
  }
}
