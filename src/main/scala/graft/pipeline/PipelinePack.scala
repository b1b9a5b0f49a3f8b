package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.QueryPack
import graft.dedup.Dedup
import graft.text.{TextAnalysis, TextOps}

/** The flagship lifecycle (§3.2: split → train-index kNN → report)
  * under the oracle gate end-to-end — the whole pipeline, including
  * the hash split and the train/test asymmetry, replayed in SQL.
  */
object PipelinePack extends QueryPack {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p01_classify_lifecycle" ->
      ((s, d) => Lifecycles.classifyAndReport(s, d)),
    "p02_corpus_prep" ->
      ((s, d) => Lifecycles.corpusPrep(s, d)),
    "p03_corpus_report" ->
      ((s, d) => Lifecycles.corpusReport(s, d)),
    // batch twin of the streaming extract→confirm→route lifecycle —
    // reads the session extraction artifact (the model stage is paid
    // once, the l01/f-family discipline); the streaming form in
    // Streams.extractConfirmRoute runs the identical relation per
    // micro-batch and the StreamingSpec pins stream ≡ batch
    "p04_confirm_route" ->
      ((s, d) => Lifecycles.confirmRoute(graft.llm.LlmPack.extractLong(s, d))),
    "p05_funnel_thresholds" ->
      ((s, d) => Lifecycles.funnelThresholds(s, d)))

  /** 0.8 split threshold: round(0.8·65536) = 52429 = 0xcccd (the same
    * constant `Sampling.hashSplit` derives). */
  private val splitCte = s"""
    |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label,
    |        CASE WHEN substr(md5('42' || CAST(vec_id AS VARCHAR)), 1, 4) < 'cccd'
    |             THEN 'train' ELSE 'test' END AS split
    |      FROM embeddings),
    |tr AS (SELECT * FROM e WHERE split = 'train'),
    |te AS (SELECT * FROM e WHERE split = 'test'),
    |${graft.vector.KnnJoin.searchSql("te", "tr", "r")},
    |p1 AS (SELECT qid, CAST(tlabel AS VARCHAR) AS t, CAST(nlabel AS VARCHAR) AS p
    |       FROM r WHERE rnk = 1)""".stripMargin

  /** p02's 16-bit md5-prefix hash, kept inline: p02's oracle text is
    * byte-frozen (its DuckDB replay needs more memory than a 15 GiB
    * box has, so no oracle run can check a change to it), and
    * [[graft.dedup.Dedup.hexIntSql]] renders the nibble sum
    * differently. */
  private def hv16(e: String): String = {
    def nib(i: Int) = s"(strpos('0123456789abcdef', substr(md5($e), $i, 1)) - 1)"
    s"(${nib(1)}*4096 + ${nib(2)}*256 + ${nib(3)}*16 + ${nib(4)})"
  }

  /** p02's quality score over its qm columns. */
  private val qmQuality =
    TextAnalysis.qualitySql("n", "stop_n", "punct", "length(text)")

  /** p02: the whole corpus-prep funnel replayed in SQL — quality cut,
    * median-budget per-language quality cap (the a20 stage: the
    * oracle replays it as the FULL rank window, the engine takes the
    * threshold-prefilter shape — the a16≡a20 equality argument),
    * digest keepers, stop-shingle-capped (df ≤ 20, the d07 guard)
    * Jaccard pairs → recursive components, split +
    * shingle-overlap decontamination, α-weighted mixture rates.
    * Thresholds are data-derived percentile cuts (measured at sf0.01:
    * quality p05 ≈ 0.487 → cut 0.45; dup-word-frac p95 ≈ 0.688 → cut
    * 0.7; contam-frac p90 ≈ 0.297 → cut 0.3); the language budget is
    * the lower-median per-language survivor count. q1/qc are
    * MATERIALIZED: without the hint DuckDB re-inlines the windowed
    * cap chain into the recursive reachability CTE and the oracle
    * runs minutes-to-never (measured: >14 min inlined, ~54 s
    * materialized) — a pure oracle-side planner note, no semantics. */
  private val corpusPrepSql = s"""
    |WITH RECURSIVE
    |aug AS (
    |  SELECT doc_id, lang, text, source FROM documents
    |  UNION ALL SELECT doc_id + 100000, lang, regexp_replace(text, '^\\S+\\s*', ''), source
    |    FROM documents WHERE doc_id < 100
    |  UNION ALL SELECT doc_id + 200000, lang, text, source FROM documents WHERE doc_id < 50),
    |aw AS (SELECT doc_id, lang, text, source, ${TextOps.wordsSql("text")} AS words FROM aug),
    |qm AS (SELECT doc_id, lang, text, source, len(words) AS n,
    |  len(list_distinct(words)) AS d,
    |  ${TextAnalysis.stopCountSql("words")} AS stop_n,
    |  ${TextAnalysis.punctCharsSql("text")} AS punct
    | FROM aw),
    |q1 AS MATERIALIZED (SELECT doc_id, lang, text, source,
    |   round($qmQuality, 6) AS q
    | FROM qm
    | WHERE ($qmQuality) >= ${Lifecycles.QualityCut}
    |   AND (1.0 - CAST(d AS DOUBLE) / CAST(n AS DOUBLE)) <= ${Lifecycles.DupFracCut}),
    |lc AS (SELECT lang, count(*) AS cnt FROM q1 GROUP BY lang),
    |med AS (SELECT cnt AS cap FROM
    |  (SELECT cnt, row_number() OVER (ORDER BY cnt, lang) AS rn FROM lc) t,
    |  (SELECT count(*) AS nl FROM lc) c
    |  WHERE t.rn = (c.nl + 1) // 2),
    |qr AS (SELECT doc_id, lang, text, source,
    |    row_number() OVER (PARTITION BY lang ORDER BY q DESC, doc_id) AS rk
    |  FROM q1),
    |qc AS MATERIALIZED (SELECT doc_id, text, source FROM qr, med WHERE rk <= med.cap),
    |exk AS (SELECT md5(text) AS h, min(doc_id) AS k FROM qc GROUP BY md5(text)),
    |ex AS (SELECT qc.doc_id, qc.text, qc.source FROM qc
    |  JOIN exk ON md5(qc.text) = exk.h AND qc.doc_id = exk.k),
    |${Dedup.hashedShingleRowsSql("ex", "ew", "esh", "ehsh")},
    |erare AS (SELECT sh AS rsh FROM (SELECT sh, count(*) AS df_ FROM ehsh GROUP BY sh)
    |  WHERE df_ <= 20),
    |ehshf AS (SELECT id, sh FROM ehsh JOIN erare ON ehsh.sh = erare.rsh),
    |esizes AS (SELECT id, count(*) AS n FROM ehshf GROUP BY id),
    |eprs AS (SELECT a.id AS a_id, b.id AS b_id, count(*) AS inter
    |  FROM ehshf a JOIN ehshf b USING (sh) WHERE a.id < b.id GROUP BY 1, 2),
    |jp AS (SELECT p.a_id, p.b_id
    |  FROM eprs p JOIN esizes sa ON sa.id = p.a_id JOIN esizes sb ON sb.id = p.b_id
    |  WHERE CAST(p.inter AS DOUBLE) / CAST(sa.n + sb.n - p.inter AS DOUBLE) >= 0.5),
    |bi AS (SELECT a_id AS s, b_id AS d FROM jp
    |  UNION SELECT b_id, a_id FROM jp),
    |reach AS (SELECT s, d FROM bi
    |  UNION SELECT r.s, b.d FROM reach r JOIN bi b ON r.d = b.s WHERE b.d <> r.s),
    |lab AS (SELECT s AS doc_id, least(s, min(d)) AS keeper_id
    |  FROM reach GROUP BY s),
    |nr AS (SELECT e.doc_id, e.text, e.source FROM ex e
    |  LEFT JOIN lab ON lab.doc_id = e.doc_id
    |  WHERE lab.doc_id IS NULL OR lab.keeper_id = e.doc_id),
    |sp AS (SELECT doc_id,
    |  CASE WHEN substr(md5('42' || CAST(doc_id AS VARCHAR)), 1, 4) < 'cccd'
    |    THEN 'train' ELSE 'test' END AS split FROM nr),
    |${Dedup.hashedShingleRowsSql("nr", "nw", "nsh", "nhsh")},
    |trh AS (SELECT h.id, h.sh FROM nhsh h JOIN sp ON sp.doc_id = h.id
    |  WHERE sp.split = 'train'),
    |teh AS (SELECT DISTINCT h.sh FROM nhsh h JOIN sp ON sp.doc_id = h.id
    |  WHERE sp.split = 'test'),
    |tsz AS (SELECT id, count(*) AS n FROM trh GROUP BY id),
    |tshared AS (SELECT trh.id, count(*) AS n_shared FROM trh JOIN teh USING (sh)
    |  GROUP BY trh.id),
    |contam AS (SELECT c.id FROM tshared c JOIN tsz ON tsz.id = c.id
    |  WHERE CAST(c.n_shared AS DOUBLE) / CAST(tsz.n AS DOUBLE) > 0.3),
    |dc AS (SELECT n.doc_id, n.text, n.source FROM nr n
    |  JOIN sp ON sp.doc_id = n.doc_id
    |  WHERE sp.split = 'train'
    |    AND NOT EXISTS (SELECT 1 FROM contam WHERE contam.id = n.doc_id)),
    |per AS (SELECT source, count(*) AS n_docs,
    |    CAST(sum(length(text)) AS BIGINT) AS mass
    |  FROM dc GROUP BY source),
    |tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total,
    |  list_reduce(
    |    list_prepend(CAST(0.0 AS DOUBLE),
    |      list(sqrt(CAST(mass AS DOUBLE)) ORDER BY source)),
    |    (a, b) -> a + b) AS w_total
    |  FROM per),
    |rr AS (SELECT p.source,
    |  CAST(floor(least(1.0, (0.5 * CAST(t.n_total AS DOUBLE))
    |    * (sqrt(CAST(p.mass AS DOUBLE)) / t.w_total)
    |    / CAST(p.n_docs AS DOUBLE)) * 65536) AS BIGINT) AS thresh16
    |  FROM per p, tot t),
    |smp AS (SELECT count(*) AS c FROM dc JOIN rr ON rr.source = dc.source
    |  WHERE ${hv16("'7' || CAST(doc_id AS VARCHAR)")} < rr.thresh16)
    |SELECT CAST(stage_idx AS BIGINT) AS stage_idx, stage,
    |  CAST(n_docs AS BIGINT) AS n_docs
    |FROM (VALUES
    |  (0, 'raw', (SELECT count(*) FROM aug)),
    |  (1, 'quality', (SELECT count(*) FROM q1)),
    |  (2, 'lang_cap', (SELECT count(*) FROM qc)),
    |  (3, 'exact_dedup', (SELECT count(*) FROM ex)),
    |  (4, 'near_dedup', (SELECT count(*) FROM nr)),
    |  (5, 'decontam', (SELECT count(*) FROM dc)),
    |  (6, 'mixture', (SELECT c FROM smp))) AS t(stage_idx, stage, n_docs)
    |ORDER BY stage_idx""".stripMargin

  /** p03: the datasheet rollup — one scan, one ROLLUP aggregate; the
    * quality expression mirrors a02/s07. */
  private val corpusReportSql = s"""
    |WITH ${graft.dedup.DedupPack.augmentedSql},
    |w2 AS (SELECT doc_id, text, ${TextOps.wordsSql("text")} AS words FROM aug),
    |j AS (SELECT d.source, w2.doc_id, md5(w2.text) AS h,
    |    len(w2.words) AS nw,
    |    CAST(round(${TextAnalysis.qualityOfSql("w2.words", "w2.text")}, 6)
    |      AS DECIMAL(18,6)) AS q
    |  FROM w2 JOIN documents d ON d.doc_id = w2.doc_id % 100000),
    |g AS (SELECT source, count(*) AS n_docs, sum(nw) AS n_words,
    |    count(DISTINCT h) AS n_distinct, CAST(sum(q) AS DOUBLE) AS qsum
    |  FROM j GROUP BY ROLLUP(source))
    |SELECT coalesce(source, 'Overall') AS source,
    |  CAST(n_docs AS BIGINT) AS n_docs, CAST(n_words AS BIGINT) AS n_words,
    |  CAST(n_distinct AS BIGINT) AS n_distinct,
    |  round(1.0 - CAST(n_distinct AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) AS dup_frac,
    |  round(qsum / CAST(n_docs AS DOUBLE), 6) AS mean_quality
    |FROM g ORDER BY source""".stripMargin

  /** p04: the extraction chain (the shared stubCte — ONE SQL
    * definition with the l01/l02 oracles) pivoted wide per doc and
    * routed STP/HITL on all-fields-confirmed. */
  private val confirmRouteSql = s"""
    |WITH ${graft.llm.LlmPack.stubCte},
    |wide AS (SELECT doc_id,
    |    max(CASE WHEN field = 'first_word' THEN predicted_value END) AS pred_first_word,
    |    max(CASE WHEN field = 'word_count' THEN predicted_value END) AS pred_word_count,
    |    max(CASE WHEN field = 'first_word' THEN accuracy END) AS fw_ok,
    |    max(CASE WHEN field = 'word_count' THEN accuracy END) AS wc_ok
    |  FROM longf GROUP BY doc_id)
    |SELECT doc_id, pred_first_word, pred_word_count,
    |  CAST(fw_ok AS BIGINT) AS fw_ok, CAST(wc_ok AS BIGINT) AS wc_ok,
    |  CASE WHEN fw_ok + wc_ok = 2 THEN 'STP' ELSE 'HITL' END AS route
    |FROM wide ORDER BY doc_id""".stripMargin

  /** p05 oracle: the augmented corpus's quality / dup-word-fraction
    * metrics (6-dp, matching the engine's sketch inputs), then the
    * shared histogram-sketch CTE fragment per metric — the same
    * bit-for-bit replay the x04/s10/s11 sketch consumers use. */
  private val funnelThresholdsSql = s"""
    |WITH aug AS (
    |  SELECT doc_id, text FROM documents
    |  UNION ALL SELECT doc_id + 100000, regexp_replace(text, '^\\S+\\s*', '')
    |    FROM documents WHERE doc_id < 100
    |  UNION ALL SELECT doc_id + 200000, text FROM documents WHERE doc_id < 50),
    |faw AS (SELECT doc_id, text, ${TextOps.wordsSql("text")} AS words FROM aug),
    |fm AS (SELECT
    |    round(${TextAnalysis.qualityOfSql("words", "text")}, 6) AS quality,
    |    CASE WHEN len(words) > 0 THEN round(1.0 -
    |        CAST(len(list_distinct(words)) AS DOUBLE)
    |          / CAST(len(words) AS DOUBLE), 6)
    |    END AS dupfrac
    |  FROM faw),
    |fqv AS (SELECT quality AS x FROM fm),
    |fdv AS (SELECT dupfrac AS x FROM fm),
    |${graft.core.Sketches.histogramQuantilesCtes("fqv", 1000, Seq(0.05), "fq_")},
    |${graft.core.Sketches.histogramQuantilesCtes("fdv", 1000, Seq(0.95), "fd_")}
    |SELECT 'dupfrac_p95' AS metric, e.q, e.est,
    |  (b.hi - b.lo) / 1000.0 AS bin_width,
    |  CAST(${Lifecycles.DupFracCut} AS DOUBLE) AS published,
    |  CAST(CASE WHEN e.est > ${Lifecycles.DupFracCut} + (b.hi - b.lo) / 1000.0
    |    THEN 1 ELSE 0 END AS BIGINT) AS recalibrate
    |FROM fd_est e CROSS JOIN fd_b b
    |UNION ALL SELECT 'quality_p05', e.q, e.est, (b.hi - b.lo) / 1000.0,
    |  CAST(${Lifecycles.QualityCut} AS DOUBLE),
    |  CAST(CASE WHEN e.est < ${Lifecycles.QualityCut} - (b.hi - b.lo) / 1000.0
    |    THEN 1 ELSE 0 END AS BIGINT)
    |FROM fq_est e CROSS JOIN fq_b b
    |ORDER BY metric""".stripMargin

  val oracles: Map[String, String] = Map(
    "p01_classify_lifecycle" -> graft.metrics.MetricsPack.reportSqlFrom(splitCte),
    "p02_corpus_prep" -> corpusPrepSql,
    "p03_corpus_report" -> corpusReportSql,
    "p04_confirm_route" -> confirmRouteSql,
    "p05_funnel_thresholds" -> funnelThresholdsSql)
}
