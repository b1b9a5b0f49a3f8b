package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryPack
import graft.core.Tables
import graft.dedup.Dedup
import graft.text.{TextAnalysis, TextOps}

/** Batch-side oracle checks for the streaming transforms: the same
  * functions run in the streaming specs; DuckDB verifies the event-
  * time semantics here (tumbling, sliding, session gap, JSON props). */
object StreamPack extends QueryPack {

  def tumbling(spark: SparkSession, dir: String): DataFrame =
    Streams.tumblingCounts(Tables(spark, dir).events)
      .orderBy(col("window_start"), col("event_type"))

  def sliding(spark: SparkSession, dir: String): DataFrame =
    Streams.slidingCounts(Tables(spark, dir).events)
      .orderBy(col("window_start"), col("event_type"))

  def sessionWindows(spark: SparkSession, dir: String): DataFrame =
    Streams.sessions(Tables(spark, dir).events)
      .orderBy(col("user_id"), col("session_start"))

  def props(spark: SparkSession, dir: String): DataFrame =
    Streams.propsRollup(Tables(spark, dir).events)
      .orderBy(col("event_type"))

  def dedupKeys(spark: SparkSession, dir: String): DataFrame =
    Streams.dedupKeys(Tables(spark, dir).events)
      .orderBy(col("user_id"), col("event_type"), col("bucket_start"))

  def attribution(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
    Streams.attribution(
        ev.filter(col("event_type") === "view"),
        ev.filter(col("event_type") === "purchase"))
      .orderBy(col("view_id"), col("purchase_id"))
  }

  /** s07: the ingest gate's deterministic batch twin over the
    * augmented corpus (planted dups give the dedup real work): quality
    * cut at 0.45 (the word-count tail fails the length score), then
    * the [[graft.dedup.Dedup.exactGroups]] keeper (min doc_id) per
    * content digest — what first-arrival-wins converges to under
    * id-ordered ingest. The streaming form
    * ([[Streams.ingestGate]]) is the same scalar expressions +
    * `dropDuplicates`; the spec pins stream ≡ batch with the dedup
    * state carried ACROSS micro-batches. */
  def ingestGate(spark: SparkSession, dir: String): DataFrame = {
    val scored = graft.core.Caches.transient(
      graft.dedup.DedupPack.augmented(spark, dir)
        .select(col("doc_id"), md5(col("text")).as("content_hash"),
          round(graft.text.TextAnalysis.qualityScore(col("text")), 6)
            .as("quality"))
        .filter(col("quality") >= 0.45))
    val keeper = graft.dedup.Dedup.exactGroups(scored, col("doc_id"),
        col("content_hash"))
      .select(col("content_hash"), col("keeper_id").as("doc_id"))
    scored.join(keeper, Seq("content_hash", "doc_id"))
      .select(col("doc_id"), col("content_hash"), col("quality"))
      .orderBy(col("doc_id"))
  }

  /** s08: the admission-cap batch twin ([[Streams.rateLimitBatch]]) —
    * first 5 events per user by (ts, event_id). */
  def rateLimit(spark: SparkSession, dir: String): DataFrame =
    Streams.rateLimitBatch(Tables(spark, dir).events, 5)
      .orderBy(col("user_id"), col("admit_seq"))

  /** s09: the continuous-ingest DEDUP GATE's batch twin
    * ([[graft.dedup.DedupPack.dedupGateWithState]] — d16's exact digest
    * screen composed with d19's MinHash screen): history = augmented
    * ids < 300, the arriving batch = everything else, so all the
    * interesting verdicts carry real rows — the planted exact copies
    * read 'dup_of_history', the planted near copies
    * 'near_dup_of_history', the remaining base documents 'new'. The
    * streaming form ([[Streams.dedupIngestGate]]) runs the identical
    * relation per micro-batch against the persisted history tables;
    * the StreamingSpec pins stream ≡ batch across micro-batch
    * boundaries and across a checkpoint restart.
    *
    * Equivalence scope: the stream matches this twin's LABELS AND
    * KEEPERS for splits that do not straddle a duplicate class (the
    * spec's fixture — each exact/near-dup class arrives within one
    * micro-batch, after its history). Under arbitrary splits the
    * streaming gate's contract is ARRIVAL-ORDER first-wins: an exact
    * class split across batches reads 'dup_of_history' where the
    * one-shot twin says 'dup_in_batch', the admitted keeper is the
    * first arrival rather than min(doc_id), and a near-dup pair split
    * across batches reads 'near_dup_of_history' where the twin says
    * 'new' — decision-equivalent policies, not label-equivalent. */
  def dedupGate(spark: SparkSession, dir: String): DataFrame =
    // the ordering is this oracle query's own concern — the shared
    // gate relation stays unsorted so streaming micro-batches never
    // pay a global sort
    gateDecisionsArtifact(spark, dir).orderBy(col("doc_id"))

  /** Session memo of the one-shot gate DECISIONS (unordered): s09
    * orders it, s10 aggregates it — one signature pass serves both
    * (the jaccardPairsArtifact discipline). */
  private def gateDecisionsArtifact(spark: SparkSession,
                                    dir: String): DataFrame =
    graft.core.Artifacts.memo(spark, s"gate_decisions:$dir") {
      import graft.dedup.DedupPack
      val aug = DedupPack.augmented(spark, dir)
      // history state and the batch's signature/shingle relations are
      // id-filters of the session shingle/minhash artifacts — the
      // declared <300 split applied to the shared relations instead
      // of two fresh text passes (identical rows to the derivations
      // the streaming gate runs per batch: per-row derivations commute
      // with id predicates). Only the digest rows are still computed
      // from text here (no digest artifact exists), through the gate's
      // own derivation.
      val sigs = DedupPack.augBandSigs(spark, dir)
      val sh = DedupPack.augShingleRows(spark, dir)
      DedupPack.dedupGateWithState(
        DedupPack.digestRowsOf(aug.filter(col("doc_id") < 300))
          .select(col("h")),
        sigs.filter(col("id") < 300)
          .select(col("id").as("hist_id"), col("band"), col("bandsig")),
        sh.filter(col("id") < 300),
        DedupPack.digestRowsOf(aug.filter(col("doc_id") >= 300)),
        sigs.filter(col("id") >= 300)
          .select(col("id").as("doc_id"), col("band"), col("bandsig")),
        sh.filter(col("id") >= 300))._1
    }

  /** s10: the per-batch ingest RUN SUMMARY's batch twin — the s09
    * gate run as ONE batch (the whole arriving side against the
    * <300 history), summarized by [[Streams.runSummaryOf]]: docs
    * seen, the verdict split, and quality quartiles via the x04
    * histogram sketch (constant ≤1000-bin state, fully SQL-replayed —
    * the sketch path's second hash-checked oracle exposure after
    * x04). The streaming gate writes the identical relation per
    * micro-batch beside its decisions; the StreamingSpec pins
    * single-batch stream ≡ this twin and multi-batch count columns
    * summing to it. */
  def runSummary(spark: SparkSession, dir: String): DataFrame = {
    val batch = graft.dedup.DedupPack.augmented(spark, dir)
      .filter(col("doc_id") >= 300)
    Streams.runSummaryOf(gateDecisionsArtifact(spark, dir), batch,
      batchId = 0L)
  }

  /** s11: the cross-batch summary TREND's batch twin
    * ([[Streams.summaryTrendOf]] — the f03 pattern over the gate's
    * `_summary/batch=*` output). The twin's per-batch summaries are
    * the ONE memoized gate pass's decisions partitioned into the
    * corpus's three planted regimes — base remainder (mostly new),
    * the near-copy block, the exact-copy block — so the trend rows
    * show exactly the drift the operator exists to surface: admit
    * rate collapsing 0.97 → 0, dup rate doing the inverse. Summary
    * slicing reuses the session gate artifact (no second signature
    * pass); the streaming form applies the same operator to the rows
    * the gate WROTE per micro-batch, and the StreamingSpec pins
    * stream ≡ batch on identically-sliced feeds. */
  def summaryTrend(spark: SparkSession, dir: String): DataFrame = {
    val aug = graft.dedup.DedupPack.augmented(spark, dir)
    val dec = gateDecisionsArtifact(spark, dir)
    def slice(b: Long, lo: Long, hi: Long): DataFrame =
      Streams.runSummaryOf(
        dec.filter(col("doc_id") >= lo && col("doc_id") < hi),
        aug.filter(col("doc_id") >= lo && col("doc_id") < hi), b)
    Streams.summaryTrendOf(
      slice(0L, 300L, 100000L)
        .unionByName(slice(1L, 100000L, 200000L))
        .unionByName(slice(2L, 200000L, Long.MaxValue)))
  }

  /** s12: the MEDIA ingest gate's batch twin ([[graft.multimodal
    * .MultimodalPack.mediaGateWithState]] — exact content-digest screen
    * composed with the perceptual dHash probe): history = gate-fixture
    * media ids < 300, the arriving batch = everything else, so every
    * verdict carries real rows — planted byte copies of history read
    * 'dup_of_history', same-batch byte copies 'dup_in_batch', planted
    * RE-ENCODES of history scenes (every container byte different —
    * the class a digest gate cannot see) 'near_dup_of_history' with
    * best_hist_id pointing at the historical original, the rest 'new'.
    * The streaming form ([[Streams.mediaIngestGate]]) runs the
    * identical relation per micro-batch against persisted digest +
    * fingerprint state under the s09 generation lifecycle; the
    * StreamingSpec pins stream ≡ batch across micro-batch boundaries
    * and compaction. Equivalence scope is s09's: splits must not
    * straddle a scene's duplicate class (the spec's fixture); under
    * arbitrary splits the policies are decision-equivalent
    * arrival-order first-wins. */
  def mediaGate(spark: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.MultimodalPack
    // history digests/fingerprints and the batch's (media_id, h, fp)
    // rows are id-filters of the session fingerprint artifact
    // ([[MultimodalPack.gateMediaFps]]) — the declared <300 split
    // applied to the shared relation instead of two decode passes per
    // query (identical rows to [[MultimodalPack.fpRowsOf]], which
    // the streaming gate runs per batch: per-row derivations commute
    // with id predicates; the s09 gate's discipline)
    val mf = MultimodalPack.gateMediaFps(spark, dir)
    MultimodalPack.mediaGateWithState(
        mf.filter(col("media_id") < 300).select(col("h")),
        graft.core.Caches.cut(mf.filter(col("media_id") < 300)
          .select(col("media_id").as("id"), col("fp"))),
        graft.core.Caches.cut(mf.filter(col("media_id") >= 300)))._1
      .orderBy(col("media_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s12_media_gate" -> mediaGate,
    "s10_run_summary" -> runSummary,
    "s11_summary_trend" -> summaryTrend,
    "s09_dedup_gate" -> dedupGate,
    "s08_rate_limit" -> rateLimit,
    "s07_ingest_gate" -> ingestGate,
    "s01_tumbling_counts" -> tumbling,
    "s02_sliding_counts" -> sliding,
    "s03_session_windows" -> sessionWindows,
    "s04_props_rollup" -> props,
    "s05_dedup_keys" -> dedupKeys,
    "s06_attribution_join" -> attribution)

  /** The s09 gate's decision relation as a CTE chain ending in
    * `dec(doc_id, status, best_hist_id, best_jaccard)` — shared by
    * the s09 oracle (selects it) and the s10/s11 run-summary oracles
    * (aggregate it). The digest is the gate's: null text ≡ "". */
  private val gateDecisionCtes: String = s"""
    |${graft.dedup.DedupPack.augmentedSql},
    |${Dedup.hashedShingleRowsSql("aug", "w", "sh", "hsh")},
    |${graft.dedup.DedupPack.minhashBandsSql},
    |hq AS (SELECT doc_id, text FROM aug WHERE doc_id < 300),
    |bq AS (SELECT doc_id, text FROM aug WHERE doc_id >= 300),
    |${Dedup.digestScreenSql("hq", "bq", "doc_id", "md5(coalesce(text, ''))", "ex")},
    |sv AS (SELECT doc_id FROM ex WHERE ex_status = 'exact_new'),
    |${graft.dedup.DedupPack.minhashBestMatchSql("bands", "hsh", "sv", "hq", "mb")},
    |${Dedup.gateDecisionsSql("ex", "mb", "doc_id", s"b.jac >= ${Dedup.JaccardThreshold}",
        "best_jaccard" -> "round(b.jac, 6)", "0.0", "dec")}"""
    .stripMargin

  /** The s07 per-doc quality relation `q(doc_id, content_hash,
    * quality)` over `aug` — shared by the s07 oracle and the s10
    * summary's quality quartiles. */
  private val qualityCtes: String = s"""
    |qw AS (SELECT doc_id, text, ${TextOps.wordsSql("text")} AS words FROM aug),
    |q AS (SELECT doc_id, md5(text) AS content_hash,
    |  round(${TextAnalysis.qualityOfSql("words", "text")}, 6) AS quality
    |  FROM qw)""".stripMargin

  /** s12 oracle: fixture, exact digest screen, dHash replay of the
    * history side and the digest-new batch side (the shared
    * [[graft.multimodal.Multimodal.gridHashSql]] fragment), then
    * the ALL-PAIRS popcount probe — bounded at oracle scale and
    * pair-for-pair identical to the engine's banded probe by the
    * pigeonhole argument (the mm06/d10 oracle pattern) — with best =
    * min (hamming, hist_id). */
  private val mediaGateSql: String = {
    import graft.multimodal.{Multimodal, MultimodalPack}
    s"""
    |WITH ${MultimodalPack.gateMediaSql},
    |ghist AS (SELECT media_id, hx FROM gm WHERE media_id < 300),
    |gbat AS (SELECT media_id, hx FROM gm WHERE media_id >= 300),
    |${Dedup.digestScreenSql("ghist", "gbat", "media_id", "md5(hx)", "gex")},
    |gsv AS (SELECT media_id, hx FROM gex WHERE ex_status = 'exact_new'),
    |${Multimodal.gridHashSql("ghist", "media_id", "px", 6, 11, "gh")},
    |${Multimodal.gridHashSql("gsv", "media_id", "px", 6, 11, "gb")},
    |${Dedup.hammingJoinSql("gb", "gh", "media_id", "fp", "media_id" -> "hist_id", 4,
        "true", "gpr")},
    |${Dedup.bestMatchSql("gpr", "media_id", "hamming, hist_id", "gbst")},
    |${Dedup.gateDecisionsSql("gex", "gbst", "media_id", "b.hist_id IS NOT NULL",
        "best_hamming" -> "b.hamming", "-1", "gdec")}
    |SELECT * FROM gdec ORDER BY media_id""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "s12_media_gate" -> mediaGateSql,
    "s11_summary_trend" -> s"""
      |WITH $gateDecisionCtes,
      |$qualityCtes,
      |tqv0 AS (SELECT quality AS x FROM q WHERE doc_id >= 300 AND doc_id < 100000),
      |tqv1 AS (SELECT quality AS x FROM q WHERE doc_id >= 100000 AND doc_id < 200000),
      |tqv2 AS (SELECT quality AS x FROM q WHERE doc_id >= 200000),
      |${graft.core.Sketches.histogramQuantilesCtes("tqv0", 1000, Seq(0.5), "tq0_")},
      |${graft.core.Sketches.histogramQuantilesCtes("tqv1", 1000, Seq(0.5), "tq1_")},
      |${graft.core.Sketches.histogramQuantilesCtes("tqv2", 1000, Seq(0.5), "tq2_")},
      |med AS (SELECT 0 AS b, est AS q_p50 FROM tq0_est
      |  UNION ALL SELECT 1, est FROM tq1_est
      |  UNION ALL SELECT 2, est FROM tq2_est),
      |cb AS (SELECT CASE WHEN doc_id < 100000 THEN 0
      |      WHEN doc_id < 200000 THEN 1 ELSE 2 END AS b,
      |    count(*) AS n_seen,
      |    sum(CASE WHEN status = 'new' THEN 1 ELSE 0 END) AS n_new,
      |    sum(CASE WHEN status IN ('dup_of_history', 'dup_in_batch',
      |      'near_dup_of_history') THEN 1 ELSE 0 END) AS n_dup
      |  FROM dec GROUP BY 1),
      |tr AS (SELECT cb.b, CAST(cb.n_seen AS BIGINT) AS n_seen,
      |    round(CAST(n_new AS DOUBLE) / CAST(cb.n_seen AS DOUBLE), 6) AS admit_rate,
      |    round(CAST(n_dup AS DOUBLE) / CAST(cb.n_seen AS DOUBLE), 6) AS dup_rate,
      |    med.q_p50
      |  FROM cb JOIN med ON med.b = cb.b)
      |SELECT CAST(b AS BIGINT) AS batch_id, n_seen, admit_rate, dup_rate,
      |  q_p50,
      |  round(admit_rate - lag(admit_rate) OVER (ORDER BY b), 6)
      |    AS admit_rate_delta,
      |  round(dup_rate - lag(dup_rate) OVER (ORDER BY b), 6) AS dup_rate_delta,
      |  q_p50 - lag(q_p50) OVER (ORDER BY b) AS q_p50_drift
      |FROM tr ORDER BY batch_id""".stripMargin,
    "s09_dedup_gate" -> s"""
      |WITH $gateDecisionCtes
      |SELECT doc_id, status, best_hist_id, best_jaccard
      |FROM dec ORDER BY doc_id""".stripMargin,
    "s10_run_summary" -> s"""
      |WITH $gateDecisionCtes,
      |$qualityCtes,
      |qv AS (SELECT quality AS x FROM q WHERE doc_id >= 300),
      |${graft.core.Sketches.histogramQuantilesCtes("qv", 1000,
           Seq(0.25, 0.5, 0.75))},
      |cnts AS (SELECT count(*) AS n_seen,
      |  CAST(sum(CASE WHEN status = 'new' THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_new,
      |  CAST(sum(CASE WHEN status = 'dup_of_history' THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_dup_of_history,
      |  CAST(sum(CASE WHEN status = 'dup_in_batch' THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_dup_in_batch,
      |  CAST(sum(CASE WHEN status = 'near_dup_of_history' THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_near_dup_of_history
      |  FROM dec),
      |qp AS (SELECT max(CASE WHEN q = 0.25 THEN est END) AS q_p25,
      |  max(CASE WHEN q = 0.5 THEN est END) AS q_p50,
      |  max(CASE WHEN q = 0.75 THEN est END) AS q_p75
      |  FROM qs_est)
      |SELECT CAST(0 AS BIGINT) AS batch_id, n_seen, n_new,
      |  n_dup_of_history, n_dup_in_batch, n_near_dup_of_history,
      |  q_p25, q_p50, q_p75
      |FROM cnts CROSS JOIN qp""".stripMargin,
    "s07_ingest_gate" -> s"""
      |WITH ${graft.dedup.DedupPack.augmentedSql},
      |$qualityCtes,
      |f AS (SELECT * FROM q WHERE quality >= 0.45),
      |k AS (SELECT content_hash, min(doc_id) AS doc_id FROM f GROUP BY 1)
      |SELECT f.doc_id, f.content_hash, f.quality
      |FROM f JOIN k ON k.content_hash = f.content_hash AND k.doc_id = f.doc_id
      |ORDER BY f.doc_id""".stripMargin,
    "s01_tumbling_counts" -> """
      |SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
      |  event_type, count(*) AS n,
      |  CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_value
      |FROM events GROUP BY time_bucket(INTERVAL '1 hour', ts), event_type
      |ORDER BY window_start, event_type""".stripMargin,
    "s02_sliding_counts" -> """
      |WITH s AS (SELECT event_type,
      |  unnest([time_bucket(INTERVAL '30 minutes', ts),
      |          time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes']) AS ws
      |  FROM events)
      |SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start, event_type,
      |  count(*) AS n
      |FROM s GROUP BY ws, event_type
      |ORDER BY window_start, event_type""".stripMargin,
    "s03_session_windows" -> """
      |WITH o AS (SELECT user_id, ts,
      |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      >= INTERVAL '10 minutes' OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
      |    THEN 1 ELSE 0 END AS new_session
      |  FROM events),
      |g AS (SELECT user_id, ts,
      |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
      |      ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM o)
      |SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
      |  count(*) AS n_events
      |FROM g GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin,
    "s04_props_rollup" -> """
      |SELECT event_type, count(*) AS n,
      |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "s05_dedup_keys" -> """
      |SELECT DISTINCT user_id, event_type,
      |  strftime(time_bucket(INTERVAL '5 minutes', ts), '%Y-%m-%d %H:%M:%S') AS bucket_start
      |FROM events
      |ORDER BY user_id, event_type, bucket_start""".stripMargin,
    "s06_attribution_join" -> """
      |SELECT a.event_id AS view_id, b.event_id AS purchase_id, a.user_id,
      |  epoch_us(b.ts) - epoch_us(a.ts) AS lag_us
      |FROM events a JOIN events b ON a.user_id = b.user_id
      |WHERE a.event_type = 'view' AND b.event_type = 'purchase'
      |  AND b.ts >= a.ts AND b.ts < a.ts + INTERVAL 30 MINUTE
      |ORDER BY view_id, purchase_id""".stripMargin,
    "s08_rate_limit" -> """
      |SELECT user_id, event_id, CAST(rn AS BIGINT) AS admit_seq FROM (
      |  SELECT user_id, event_id,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      |  FROM events)
      |WHERE rn <= 5 ORDER BY user_id, admit_seq""".stripMargin)
}
