package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Session-scoped artifact memo — the one pattern behind
  * `KnnJoin.exactSelfTop3`, `LlmPack.extractLong`, the dedup pack's
  * Jaccard-pair artifact and the MlPack heads: expensive frames that
  * the reference computes ONCE (its FAISS index, its extraction
  * checkpoint, its trained models) and every downstream consumer
  * reads. First caller pays the build; the persisted result serves the
  * rest of the session.
  *
  * Centralizing the memo (instead of one TrieMap per pack) gives the
  * harness seam the round-4 verdict asked for: artifacts are REGISTERED
  * state, so a benchmark can warm them before its timed loop and sweep
  * only [[Caches]]-tracked transient blocks between queries, instead of
  * `clearCache()`-ing the very frames whose design is "compute once".
  */
object Artifacts {

  private val memoMap =
    scala.collection.concurrent.TrieMap
      .empty[(org.apache.spark.sql.SparkSession, String), DataFrame]

  // scope label → which memo entries a given consumer's execution
  // CREATED (vs merely read), labelled with the creating thread's
  // [[Caches.scoped]] name. The bench's retry instrument needs this:
  // a retry that silently hits a memo built during the first pass
  // would "attribute" the cost to a transient and (worse) collapse a
  // declared superlinear query's scale factor to a cache read. The
  // retry drops exactly the entries the first pass created, so it
  // re-measures the same work; entries built outside any scope are
  // never dropped.
  private val scopeOf =
    scala.collection.concurrent.TrieMap
      .empty[(org.apache.spark.sql.SparkSession, String), String]

  /** Unpersist + evict every memo entry created under `name`, so a
    * re-run of that consumer rebuilds (and re-pays for) them. */
  def dropScope(name: String): Unit =
    scopeOf.toSeq.collect { case (k, s) if s == name => k }.foreach { k =>
      scopeOf.remove(k)
      memoMap.remove(k).foreach(_.unpersist())
    }

  /** The memoized frame for (session, key), built on first call.
    * Re-persists (lazily) if an external cache sweep dropped it — the
    * data is then recomputed once by the next consumer, never the
    * prompt/training stage itself for packs that layer their own
    * executor-scope caches underneath.
    *
    * Keys hold the session OBJECT (reference equality — collision-free
    * while the entry lives, unlike an identityHashCode, which a GC'd
    * session could share with a new one), and entries bound to a
    * stopped SparkContext are evicted on the next call so a long-lived
    * JVM cycling through sessions doesn't accumulate dead frames or
    * ever hand one to a new session. */
  def memo(spark: org.apache.spark.sql.SparkSession, key: String)
          (build: => DataFrame): DataFrame = {
    memoMap.filterInPlace((k, _) => !k._1.sparkContext.isStopped)
    scopeOf.filterInPlace((k, _) => !k._1.sparkContext.isStopped)
    val k = (spark, key)
    // race-safe insert: under parallel suites two threads can both
    // evaluate `build`; putIfAbsent elects ONE winner, the loser's
    // frame is discarded UN-persisted (build returns a lazy plan —
    // persistence happens below, only on the elected frame), and the
    // scope label is recorded only for the winning insert so retry
    // scope-drops can't misattribute a loser to the wrong query
    val df = memoMap.get(k) match {
      case Some(d) => d
      case None =>
        val built = build
        memoMap.putIfAbsent(k, built) match {
          case Some(existing) => existing
          case None =>
            val scope = Caches.scopeName
            if (scope.nonEmpty) scopeOf.put(k, scope)
            built
        }
    }
    // a builder may have routed the frame through Caches.transient
    // (e.g. the IVF centroid chain caches itself for within-query
    // reuse) — promotion to artifact status must exempt it from the
    // query's scope, or every scope exit would force a rebuild
    Caches.untrack(df)
    if (df.storageLevel == StorageLevel.NONE) df.persist()
    df
  }
}
