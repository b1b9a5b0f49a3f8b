package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryPack
import graft.core.Tables
import graft.dedup.Dedup

/** Oracle-checked queries for the text-shaping surface (chunking F14,
  * truncation F13, length/token stats P3/P4, per-group flatten S8,
  * distribution report A13) over the `documents` table.
  *
  * Scale notes: chunking is a shuffle-free `posexplode`; the flatten
  * and the lang report are single partial-aggregatable shuffles. At
  * 100 TB the chunk fan-out is the dominant row multiplier — keeping
  * it inside codegen (array expressions, no UDF) is what makes the
  * embed/kNN path CPU-bound instead of serialization-bound.
  */
object TextPack extends QueryPack {

  val ChunkSize = 20
  val Overlap = 5

  /** F14 over documents: one row per chunk with lineage + stats.
    * Spread scan: the chunk generator's per-row work dominates. */
  def chunkStats(spark: SparkSession, dir: String): DataFrame =
    TextOps.chunkTable(Tables(spark, dir).documentsSpread,
        col("doc_id"), col("text"), ChunkSize, Overlap)
      .select(col("id"),
        col("chunk_idx").cast("long").as("chunk_idx"),
        col("start_word").cast("long").as("start_word"),
        col("chunk_word_len").cast("long").as("chunk_word_len"))
      .orderBy(col("id"), col("chunk_idx"))

  /** First chunk's text per document — verifies chunk content, not
    * just counts (md5 keeps the result compact). */
  def chunkFirstText(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documentsSpread
      .select(col("doc_id"),
        md5(element_at(TextOps.chunkTexts(col("text"), ChunkSize, Overlap), 1))
          .as("first_chunk_md5"))
      .orderBy(col("doc_id"))

  /** P3/P4 stats per document. */
  def tokenStats(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .select(col("doc_id"),
        TextOps.charLen(col("text")).cast("long").as("char_len"),
        TextOps.wordLen(col("text")).cast("long").as("word_len"),
        TextOps.tokenCount(col("text")).cast("long").as("token_count"))
      .orderBy(col("doc_id"))

  /** A13-style distribution report by language. */
  def langReport(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        sum(col("n_chars")).as("sum_chars"))
      .select(col("lang"), col("n_docs"), col("n_sources"), col("sum_chars"),
        (col("sum_chars").cast("double") / col("n_docs").cast("double"))
          .as("avg_chars"))
      .orderBy(col("lang"))

  /** S8 flatten: all doc texts per source, ordered by doc_id, joined
    * with newlines (md5'd — the value check is the content hash). */
  def flattenBySource(spark: SparkSession, dir: String): DataFrame =
    graft.ingest.Ingest.flattenPages(Tables(spark, dir).documents,
        col("source"), col("doc_id"), col("text"))
      .select(col("fn").as("source"), md5(col("full_text")).as("full_text_md5"))
      .orderBy(col("source"))

  /** F13 truncation golden vectors (documents.text has no newlines, so
    * the line-based semantics need synthetic multi-line inputs). */
  val truncVectors: Seq[String] = Seq(
    "l1\nl2\nl3\nl4\nl5\nl6\nl7\nl8\nl9\nl10",
    "a\nb\nc",
    "one line only",
    "1\n2\n3\n4\n5\n6\n7\n8",
    "")

  def truncate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    truncVectors.zipWithIndex.map { case (s, i) => (i, s) }.toDF("id", "s")
      .select(col("id"),
        TextOps.truncateTopBottom(col("s")).as("truncated"),
        TextOps.keepLines(col("s")).as("kept"))
      .orderBy(col("id"))
  }

  val SeqLen = 256L

  /** t07: sequence packing for pretraining — every document's position
    * on the concatenated token tape (word count as the deterministic
    * token stand-in), via [[SequencePacking]]'s distributed prefix sum
    * (NOT a single-partition global window — see its scaladoc). */
  def packSequences(spark: SparkSession, dir: String): DataFrame =
    SequencePacking.packSequences(Tables(spark, dir).documents,
        col("doc_id"), TextOps.wordLen(col("text")), SeqLen)
      .select(col("id").as("doc_id"), col("n_tok"), col("tok_start"),
        col("seq_id"), col("seq_offset"))
      .orderBy(col("doc_id"))

  /** t13: packing-efficiency report — the layout-decision table for
    * the two standard pretraining sequence layouts (Raffel et al.
    * 2020 pack-and-split; padded per-document batching as the
    * contrast): for each layout the sequence count, total capacity,
    * padding waste, fill rate, and how many documents get split
    * across sequence boundaries. Concat layout numbers derive from
    * t07's distributed prefix sum (a doc splits iff its first and
    * last token land in different sequences); padded layout is a
    * closed form per doc (ceil(n_tok/L) sequences, split iff
    * n_tok > L). Scale shape: t07's two linear passes + one
    * partial-aggregated rollup to a single row — the two output rows
    * are projections of that one aggregate, never a second corpus
    * scan. */
  def packingEfficiency(spark: SparkSession, dir: String): DataFrame = {
    val L = SeqLen
    val packed = SequencePacking.packSequences(Tables(spark, dir).documents,
      col("doc_id"), TextOps.wordLen(col("text")), L)
    val agg = graft.core.Caches.transient(packed.agg(
      count(lit(1)).as("n_docs"),
      coalesce(sum(col("n_tok")), lit(0L)).as("total_tokens"),
      coalesce(sum(when(col("n_tok") > 0 &&
          expr(s"(tok_start + n_tok - 1) div $L") =!= col("seq_id"), 1L)
        .otherwise(0L)), lit(0L)).as("concat_split"),
      coalesce(sum(expr(s"(n_tok + ${L - 1}) div $L")), lit(0L)).as("pad_seq"),
      coalesce(sum(when(col("n_tok") > L, 1L).otherwise(0L)), lit(0L))
        .as("pad_split")))
    val concatRow = agg.select(lit("concat").as("layout"),
      col("n_docs"), col("total_tokens"),
      expr(s"(total_tokens + ${L - 1}) div $L").as("n_sequences"),
      col("concat_split").as("docs_split"))
    val padRow = agg.select(lit("padded").as("layout"),
      col("n_docs"), col("total_tokens"),
      col("pad_seq").as("n_sequences"),
      col("pad_split").as("docs_split"))
    concatRow.unionByName(padRow)
      .select(col("layout"), col("n_docs"), col("total_tokens"),
        col("n_sequences"), (col("n_sequences") * L).as("capacity"),
        (col("n_sequences") * L - col("total_tokens")).as("waste_tokens"),
        when(col("n_sequences") > 0,
            round(col("total_tokens").cast("double") /
              (col("n_sequences") * L).cast("double"), 6))
          .otherwise(lit(0.0)).as("fill_rate"),
        col("docs_split"))
      .orderBy(col("layout"))
  }

  /** t08: vocabulary-coverage (Zipf) report — "how many distinct
    * words cover p of all tokens", the tokenizer-budget planning
    * number (BPE vocab sizing, Sennrich et al. 2016; token-frequency
    * curves in every corpus datasheet). For each p the answer is the
    * smallest k with (sum of the top-k word counts) ≥ p·total.
    *
    * Scale shape: never ranks the vocabulary globally. Word counts
    * collapse to count LEVELS (one row per distinct frequency value —
    * under a Zipf law ~O(√corpus) rows, asserted tiny relative to
    * vocab in the spec), and the two level prefix sums (mass above,
    * words above) ride [[SequencePacking.packSequences]]'s
    * distributed prefix sum keyed by descending count — the same
    * no-global-window machinery as t07, twice. The crossing level for
    * each p is then a broadcast threshold join and the in-level
    * remainder a closed-form ceil division; the oracle evaluates the
    * IDENTICAL float expression (not a rank scan), and the spec pins
    * the closed form against the window-rank twin. */
  def vocabCoverage(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val counts = graft.core.Caches.transient(
      Tables(spark, dir).documents
        .select(explode(TextOps.words(col("text"))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("cnt")))
    val levels = graft.core.Caches.transient(
      counts.groupBy(col("cnt")).agg(count(lit(1)).as("m"))
        .select((-col("cnt")).as("id"), col("cnt"), col("m"),
          (col("cnt") * col("m")).as("mass")))
    // exclusive prefix sums over levels in cnt-desc order (id asc):
    // token mass and word count strictly ABOVE each level
    val fMass = SequencePacking.packSequences(levels, col("id"), col("mass"), 1L)
      .select(col("id"), col("tok_start").as("f_mass"))
    val nAbove = SequencePacking.packSequences(levels, col("id"), col("m"), 1L)
      .select(col("id"), col("tok_start").as("n_above"))
    val totals = counts.agg(sum(col("cnt")).as("total"),
      count(lit(1)).as("vocab"))
    val ps = Seq(0.5, 0.9, 0.95, 0.99).toDF("p")
    val need = col("p") * col("total").cast("double")
    levels.join(fMass, Seq("id")).join(nAbove, Seq("id"))
      .crossJoin(broadcast(totals))
      .join(broadcast(ps),
        col("f_mass").cast("double") < need &&
          need <= (col("f_mass") + col("mass")).cast("double"))
      .select(col("p"),
        (col("n_above") +
          ceil((need - col("f_mass").cast("double")) /
            col("cnt").cast("double")).cast("long")).as("vocab_k"),
        col("vocab").as("vocab_size"), col("total").as("total_tokens"))
      .select(col("p"), col("vocab_k"),
        round(col("vocab_k").cast("double") /
          col("vocab_size").cast("double"), 6).as("vocab_frac"),
        col("vocab_size"), col("total_tokens"))
      .orderBy(col("p"))
  }

  val OrderSeed = "t09"
  val NShards = 8

  /** t09: deterministic training-order shuffle + shard manifest — the
    * reproducible global shuffle every pretraining data loader needs
    * (same seed ⇒ same order on any cluster size, cf. the epoch
    * shuffles in Raffel et al. 2020 §3.1's C4 pipeline). Each doc gets
    * a seeded md5 order key; its shard is a 60-bit slice of that key
    * mod [[NShards]]; its position is the rank of the key within the
    * shard. The manifest (one row per shard) carries doc/token counts,
    * the first doc in training order, and an order-SENSITIVE checksum
    * Σ pos·h32 (h32 = a second 32-bit key slice) so any reordering,
    * not just membership change, breaks the hash.
    *
    * Scale shape: one shuffle (the window partitioned by shard; each
    * shard sorts locally — exactly the per-shard sort a loader
    * materializes), then a partial-aggregatable rollup. No global
    * sort, no collected lists; the checksum is pure arithmetic in
    * DECIMAL(38,0) so it cannot overflow at 100 TB row counts.
    * [[NShards]] is a parameter — production sizes it to O(cluster
    * cores) so the per-shard sorts parallelize. */
  def trainOrder(spark: SparkSession, dir: String): DataFrame = {
    val k = md5(concat(lit(OrderSeed + ":"), col("doc_id").cast("string")))
    val keyed = Tables(spark, dir).documents
      .select(col("doc_id"), TextOps.wordLen(col("text")).cast("long").as("n_tok"),
        k.as("k"))
      .withColumn("shard",
        pmod(conv(substring(col("k"), 1, 15), 16, 10).cast("long"), lit(NShards.toLong)))
      .withColumn("h32", conv(substring(col("k"), 17, 8), 16, 10).cast("long"))
    val w = Window.partitionBy(col("shard")).orderBy(col("k"))
    keyed.withColumn("pos", row_number().over(w).cast("long"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("sum_tok"),
        min_by(col("doc_id"), col("k")).as("first_doc"),
        // pos is cast to decimal BEFORE the multiply so the product is
        // decimal arithmetic: a shard past 2^31 rows would overflow a
        // pos*h32 BIGINT product (silent wrap under non-ANSI Spark,
        // raise in DuckDB — divergence at exactly the scale the
        // checksum claims to cover)
        sum(col("pos").cast("decimal(38,0)") * col("h32"))
          .cast("decimal(38,0)").cast("string").as("order_checksum"))
      .orderBy(col("shard"))
  }

  /** t10: the learned BPE merge table — rank, pair, count-at-merge-
    * time, merged token (see [[Bpe]] for the algorithm and the scale
    * shape: one histogram shuffle + a bounded driver loop). The
    * DuckDB oracle re-trains the tokenizer from scratch — each stage
    * an argmax CTE feeding the next stage's replace — so the hash
    * compare verifies the entire merge trajectory inductively. */
  def bpeMerges(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Bpe.merges(spark, dir).zipWithIndex
      .map { case (m, i) => (i + 1L, m.lhs, m.rhs, m.count, m.lhs + m.rhs) }
      .toDF("rank", "lhs", "rhs", "pair_count", "token")
      .orderBy(col("rank"))
  }

  /** t11: tokenize the corpus with the learned merges — per doc the
    * word count, BPE token count, and a content hash of the full
    * segmentation. Shuffle-free scan: the merges replay as a literal
    * replace chain inside codegen (no UDF, no broadcast). */
  def bpeTokenize(spark: SparkSession, dir: String): DataFrame = {
    val ms = Bpe.merges(spark, dir)
    Tables(spark, dir).documentsSpread
      .select(col("doc_id"), TextOps.words(col("text")).as("ws"))
      .select(col("doc_id"),
        size(col("ws")).cast("long").as("n_words"),
        coalesce(aggregate(
            transform(col("ws"),
              w => Bpe.tokenCount(Bpe.applyMerges(Bpe.symbolize(w), ms))),
            lit(0L), (acc, n) => acc + n), lit(0L)).as("n_bpe"),
        md5(array_join(transform(col("ws"),
            w => Bpe.render(Bpe.applyMerges(Bpe.symbolize(w), ms))), "|"))
          .as("tok_md5"))
      .orderBy(col("doc_id"))
  }

  /** t12: per-language tokenizer FERTILITY report — tokens/word and
    * chars/token by language under the learned BPE merges, the
    * standard multilingual tokenizer-evaluation table (fertility in
    * the sense of Ács/mBERT analyses and multilingual-tokenizer
    * papers: how many subwords the tokenizer spends per word of each
    * language; a language with high fertility is under-served by the
    * vocabulary and pays more sequence length per sentence). Shape:
    * the same codegen'd replace-chain scan as t11, then ONE
    * partial-aggregatable shuffle on lang — corpus-linear, report-
    * sized output. */
  def bpeFertility(spark: SparkSession, dir: String): DataFrame = {
    val ms = Bpe.merges(spark, dir)
    val d = (c: org.apache.spark.sql.Column) => c.cast("double")
    Tables(spark, dir).documentsSpread
      .select(col("lang"), TextOps.words(col("text")).as("ws"))
      .select(col("lang"),
        size(col("ws")).cast("long").as("nw"),
        coalesce(aggregate(
            transform(col("ws"),
              w => Bpe.tokenCount(Bpe.applyMerges(Bpe.symbolize(w), ms))),
            lit(0L), (acc, n) => acc + n), lit(0L)).as("nb"),
        coalesce(aggregate(
            transform(col("ws"), w => length(w).cast("long")),
            lit(0L), (acc, n) => acc + n), lit(0L)).as("nc"))
      .groupBy(col("lang"))
      .agg(sum(col("nw")).as("n_words"), sum(col("nb")).as("n_bpe"),
        sum(col("nc")).as("n_chars"))
      .select(col("lang"), col("n_words"), col("n_bpe"), col("n_chars"),
        round(when(col("n_words") > 0, d(col("n_bpe")) / d(col("n_words")))
          .otherwise(lit(0.0)), 6).as("fertility"),
        round(when(col("n_bpe") > 0, d(col("n_chars")) / d(col("n_bpe")))
          .otherwise(lit(0.0)), 6).as("chars_per_token"))
      .orderBy(col("lang"))
  }

  /** BPE training (histogram shuffle + driver merge loop) is compute-
    * once state — warmed by the bench like the other fitted artifacts
    * so t10/t11 measure emission/application, not re-training. */
  override val artifacts: Map[String, (SparkSession, String) => DataFrame] =
    Map("bpe_merges" -> bpeMerges)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t10_bpe_merges" -> bpeMerges,
    "t11_bpe_tokenize" -> bpeTokenize,
    "t12_bpe_fertility" -> bpeFertility,
    "t09_train_order" -> trainOrder,
    "t08_vocab_coverage" -> vocabCoverage,
    "t01_chunk_stats" -> chunkStats,
    "t02_chunk_first_text" -> chunkFirstText,
    "t03_token_stats" -> tokenStats,
    "t04_lang_report" -> langReport,
    "t05_flatten_by_source" -> flattenBySource,
    "t06_truncate" -> truncate,
    "t07_pack_sequences" -> packSequences,
    "t13_packing_efficiency" -> packingEfficiency)

  private def sqlLit(s: String): String =
    if (s == null) "NULL" else "'" + s.replace("'", "''") + "'"

  /** The BPE self-training CTE chain shared by the t10/t11 oracles:
    * stage i computes pair counts over the type table with merges
    * 1..i-1 applied, then its argmax merge as a one-row CTE `mi`
    * (MATERIALIZED — each stage is referenced twice, and inlining
    * would expand the chain exponentially). Mirrors [[Bpe]] exactly:
    * same counting (overlapping adjacent pairs weighted by word
    * count), same application (leftmost non-overlapping full-symbol
    * replace), same tie-break (count desc, "lhs rhs" binary asc). */
  private def bpeStagesSql: String = {
    val b = new StringBuilder
    b ++= s"""u AS (SELECT unnest(${TextOps.wordsSql("text")}) AS wd FROM documents),
      |c AS (SELECT wd, count(*) AS cnt FROM u GROUP BY wd),
      |top AS (SELECT wd, cnt FROM c ORDER BY cnt DESC, wd LIMIT ${Bpe.MaxTypes}),
      |s1 AS MATERIALIZED (SELECT '  ' || regexp_replace(wd, '(.)', '\\1  ', 'g') AS s, cnt FROM top)""".stripMargin
    for (i <- 1 to Bpe.NMerges) {
      b ++= s""",
        |p$i AS (SELECT pr, sum(cnt) AS c FROM (
        |  SELECT unnest(list_transform(range(1, len(a)), j -> a[j] || ' ' || a[j+1])) AS pr, cnt
        |  FROM (SELECT string_split(trim(s), '  ') AS a, cnt FROM s$i)) GROUP BY pr),
        |m$i AS MATERIALIZED (SELECT split_part(pr, ' ', 1) AS lhs, split_part(pr, ' ', 2) AS rhs,
        |  CAST(c AS BIGINT) AS c FROM p$i ORDER BY c DESC, pr LIMIT 1)""".stripMargin
      if (i < Bpe.NMerges)
        b ++= s""",
          |s${i + 1} AS MATERIALIZED (SELECT replace(s.s, ' ' || m.lhs || '  ' || m.rhs || ' ',
          |  ' ' || m.lhs || m.rhs || ' ') AS s, cnt FROM s$i s, m$i m)""".stripMargin
    }
    b.result()
  }

  private val step = ChunkSize - Overlap

  val oracles: Map[String, String] = Map(
    "t10_bpe_merges" -> {
      val stages = (1 to Bpe.NMerges).map { i =>
        s"SELECT CAST($i AS BIGINT) AS rank, lhs, rhs, c AS pair_count, lhs || rhs AS token FROM m$i"
      }.mkString("\nUNION ALL ")
      s"""
      |WITH $bpeStagesSql
      |$stages ORDER BY rank""".stripMargin
    },
    "t11_bpe_tokenize" -> {
      val chain = (1 to Bpe.NMerges).foldLeft(
        s"'  ' || regexp_replace(w, '(.)', '\\1  ', 'g')") { (e, i) =>
        s"replace($e, ' ' || g$i.lhs || '  ' || g$i.rhs || ' ', ' ' || g$i.lhs || g$i.rhs || ' ')"
      }
      val froms = (1 to Bpe.NMerges).map(i => s"m$i AS g$i").mkString(", ")
      s"""
      |WITH $bpeStagesSql,
      |docw AS (SELECT doc_id, ${TextOps.wordsSql("text")} AS ws FROM documents),
      |ap AS (SELECT doc_id, ws, list_transform(ws, w -> $chain) AS ts
      |  FROM docw, $froms)
      |SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words,
      |  CAST(coalesce(list_sum(list_transform(ts, s -> len(string_split(trim(s), '  ')))), 0) AS BIGINT) AS n_bpe,
      |  md5(array_to_string(list_transform(ts, s -> regexp_replace(trim(s), '  ', ' ', 'g')), '|')) AS tok_md5
      |FROM ap ORDER BY doc_id""".stripMargin
    },
    "t12_bpe_fertility" -> {
      val chain = (1 to Bpe.NMerges).foldLeft(
        s"'  ' || regexp_replace(w, '(.)', '\\1  ', 'g')") { (e, i) =>
        s"replace($e, ' ' || g$i.lhs || '  ' || g$i.rhs || ' ', ' ' || g$i.lhs || g$i.rhs || ' ')"
      }
      val froms = (1 to Bpe.NMerges).map(i => s"m$i AS g$i").mkString(", ")
      s"""
      |WITH $bpeStagesSql,
      |docw AS (SELECT lang, ${TextOps.wordsSql("text")} AS ws FROM documents),
      |ap AS (SELECT lang, ws, list_transform(ws, w -> $chain) AS ts
      |  FROM docw, $froms),
      |per AS (SELECT lang, len(ws) AS nw,
      |    coalesce(list_sum(list_transform(ts, s -> len(string_split(trim(s), '  ')))), 0) AS nb,
      |    coalesce(list_sum(list_transform(ws, w -> length(w))), 0) AS nc
      |  FROM ap)
      |SELECT lang, CAST(sum(nw) AS BIGINT) AS n_words,
      |  CAST(sum(nb) AS BIGINT) AS n_bpe, CAST(sum(nc) AS BIGINT) AS n_chars,
      |  round(CASE WHEN sum(nw) > 0
      |    THEN CAST(sum(nb) AS DOUBLE) / CAST(sum(nw) AS DOUBLE)
      |    ELSE 0.0 END, 6) AS fertility,
      |  round(CASE WHEN sum(nb) > 0
      |    THEN CAST(sum(nc) AS DOUBLE) / CAST(sum(nb) AS DOUBLE)
      |    ELSE 0.0 END, 6) AS chars_per_token
      |FROM per GROUP BY lang ORDER BY lang""".stripMargin
    },
    "t09_train_order" -> s"""
      |WITH b AS (SELECT doc_id,
      |  CAST(len(${TextOps.wordsSql("text")}) AS BIGINT) AS n_tok,
      |  md5('$OrderSeed:' || CAST(doc_id AS VARCHAR)) AS k
      | FROM documents),
      |s AS (SELECT doc_id, n_tok, k,
      |  ${Dedup.hexIntSql("k", 1, 15)} % $NShards AS shard,
      |  ${Dedup.hexIntSql("k", 17, 8)} AS h32 FROM b),
      |r AS (SELECT *, row_number() OVER (PARTITION BY shard ORDER BY k) AS pos
      | FROM s)
      |SELECT CAST(shard AS BIGINT) AS shard, count(*) AS n_docs,
      |  CAST(sum(n_tok) AS BIGINT) AS sum_tok,
      |  arg_min(doc_id, k) AS first_doc,
      |  CAST(CAST(sum(CAST(pos AS DECIMAL(38,0)) * h32) AS DECIMAL(38,0)) AS VARCHAR)
      |    AS order_checksum
      |FROM r GROUP BY shard ORDER BY shard""".stripMargin,
    "t01_chunk_stats" -> s"""
      |WITH w AS (SELECT doc_id, ${TextOps.wordsSql("text")} AS words
      |  FROM documents),
      |c AS (SELECT doc_id, len(words) AS dwl,
      |    unnest(range(0, len(words), $step)) AS start_word
      |  FROM w WHERE len(words) > 0)
      |SELECT doc_id AS id, CAST(start_word // $step AS BIGINT) AS chunk_idx,
      |  CAST(start_word AS BIGINT) AS start_word,
      |  CAST(least($ChunkSize, dwl - start_word) AS BIGINT) AS chunk_word_len
      |FROM c ORDER BY id, chunk_idx""".stripMargin,
    "t02_chunk_first_text" -> s"""
      |WITH w AS (SELECT doc_id, ${TextOps.wordsSql("text")} AS words
      |  FROM documents)
      |SELECT doc_id, CASE WHEN len(words) > 0
      |  THEN md5(array_to_string(words[1:least($ChunkSize, len(words))], ' '))
      |  END AS first_chunk_md5
      |FROM w ORDER BY doc_id""".stripMargin,
    "t03_token_stats" -> s"""
      |SELECT doc_id, CAST(length(text) AS BIGINT) AS char_len,
      |  CAST(len(${TextOps.wordsSql("text")}) AS BIGINT) AS word_len,
      |  CAST(len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+')) AS BIGINT) AS token_count
      |FROM documents ORDER BY doc_id""".stripMargin,
    "t04_lang_report" -> """
      |SELECT lang, count(*) AS n_docs, count(DISTINCT source) AS n_sources,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |  CAST(sum(n_chars) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_chars
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "t05_flatten_by_source" -> """
      |SELECT source, md5(string_agg(text, chr(10) ORDER BY doc_id)) AS full_text_md5
      |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "t06_truncate" -> s"""
      |WITH x AS (SELECT * FROM ${truncVectors.zipWithIndex
        .map { case (s, i) => s"($i, ${sqlLit(s)})" }
        .mkString("(VALUES ", ", ", ") t(id, s)")}),
      |l AS (SELECT id, s, string_split(s, chr(10)) AS lines FROM x)
      |SELECT id,
      | CASE WHEN s IS NULL THEN NULL
      |      WHEN len(lines) <= 8 THEN s
      |      ELSE array_to_string(lines[1:4] || lines[-4:], chr(10)) END AS truncated,
      | array_to_string(lines[1:least(2, len(lines))]
      |   || lines[greatest(-2, -len(lines)):], chr(10)) AS kept
      |FROM l ORDER BY id""".stripMargin,
    "t08_vocab_coverage" -> s"""
      |WITH u AS (SELECT unnest(${TextOps.wordsSql("text")}) AS wd
      |  FROM documents),
      |c AS (SELECT wd, count(*) AS cnt FROM u GROUP BY wd),
      |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total,
      |    CAST(count(*) AS BIGINT) AS vocab FROM c),
      |lv AS (SELECT cnt, count(*) AS m, cnt * count(*) AS mass
      |  FROM c GROUP BY cnt),
      |f AS (SELECT cnt, m, mass,
      |    CAST(coalesce(sum(mass) OVER (ORDER BY cnt DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS f_mass,
      |    CAST(coalesce(sum(m) OVER (ORDER BY cnt DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n_above
      |  FROM lv),
      |p(p) AS (VALUES (0.5), (0.9), (0.95), (0.99)),
      |k AS (SELECT p.p AS p,
      |    f.n_above + CAST(ceil((p.p * CAST(t.total AS DOUBLE)
      |        - CAST(f.f_mass AS DOUBLE)) / CAST(f.cnt AS DOUBLE)) AS BIGINT)
      |      AS vocab_k,
      |    t.vocab AS vocab_size, t.total AS total_tokens
      |  FROM f, t, p
      |  WHERE CAST(f.f_mass AS DOUBLE) < p.p * CAST(t.total AS DOUBLE)
      |    AND p.p * CAST(t.total AS DOUBLE) <= CAST(f.f_mass + f.mass AS DOUBLE))
      |SELECT CAST(p AS DOUBLE) AS p, CAST(vocab_k AS BIGINT) AS vocab_k,
      |  round(CAST(vocab_k AS DOUBLE) / CAST(vocab_size AS DOUBLE), 6) AS vocab_frac,
      |  vocab_size, total_tokens
      |FROM k ORDER BY p""".stripMargin,
    "t07_pack_sequences" -> s"""
      |WITH b AS (SELECT doc_id,
      |  CAST(len(${TextOps.wordsSql("text")}) AS BIGINT) AS n_tok
      | FROM documents),
      |c AS (SELECT doc_id, n_tok,
      |  coalesce(sum(n_tok) OVER (ORDER BY doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_start
      | FROM b)
      |SELECT doc_id, n_tok, CAST(tok_start AS BIGINT) AS tok_start,
      |  CAST(tok_start // $SeqLen AS BIGINT) AS seq_id,
      |  CAST(tok_start % $SeqLen AS BIGINT) AS seq_offset
      |FROM c ORDER BY doc_id""".stripMargin,
    "t13_packing_efficiency" -> s"""
      |WITH b AS (SELECT doc_id,
      |  CAST(len(${TextOps.wordsSql("text")}) AS BIGINT) AS n_tok
      | FROM documents),
      |c AS (SELECT doc_id, n_tok,
      |  coalesce(sum(n_tok) OVER (ORDER BY doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_start
      | FROM b),
      |agg AS (SELECT count(*) AS n_docs, coalesce(sum(n_tok), 0) AS total,
      |  coalesce(sum(CASE WHEN n_tok > 0 AND (tok_start // $SeqLen)
      |      <> ((tok_start + n_tok - 1) // $SeqLen) THEN 1 ELSE 0 END), 0) AS concat_split,
      |  coalesce(sum((n_tok + ${SeqLen - 1}) // $SeqLen), 0) AS pad_seq,
      |  coalesce(sum(CASE WHEN n_tok > $SeqLen THEN 1 ELSE 0 END), 0) AS pad_split
      | FROM c),
      |u AS (
      |  SELECT 'concat' AS layout, n_docs, total,
      |    (total + ${SeqLen - 1}) // $SeqLen AS n_seq, concat_split AS docs_split FROM agg
      |  UNION ALL SELECT 'padded', n_docs, total, pad_seq, pad_split FROM agg)
      |SELECT layout, CAST(n_docs AS BIGINT) AS n_docs,
      |  CAST(total AS BIGINT) AS total_tokens,
      |  CAST(n_seq AS BIGINT) AS n_sequences,
      |  CAST(n_seq * $SeqLen AS BIGINT) AS capacity,
      |  CAST(n_seq * $SeqLen - total AS BIGINT) AS waste_tokens,
      |  CASE WHEN n_seq > 0 THEN round(CAST(total AS DOUBLE)
      |    / CAST(n_seq * $SeqLen AS DOUBLE), 6) ELSE 0.0 END AS fill_rate,
      |  CAST(docs_split AS BIGINT) AS docs_split
      |FROM u ORDER BY layout""".stripMargin)
}
