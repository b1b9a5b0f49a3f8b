package graft.ingest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** File ingestion with lineage columns — the reference's consolidation
  * stage re-expressed as one lazy Spark plan.
  *
  * Reference behavior (Kangaroo112233/Data_Ingestion_task):
  *  - per-channel directory scan with extension filter
  *    (`csv_single_2.py:12-36`, channels EML/FAX/WIN/SCN);
  *  - headerless one-column CSV per document, one row per page
  *    (`csv_single.py:40`);
  *  - derived lineage: `fn` basename, `channel` parent dir, 1-based
  *    `PE_num` page number (`csv_single_2.py:43-47`);
  *  - union of per-file frames (`csv_single.py:50-51`);
  *  - per-document flatten `"\n".join(...)` (`single_file_dff.py:46-48`).
  *
  * Spark-first: ONE `spark.read.csv` over a glob (no per-file loop — the
  * scan parallelizes over executors and scales to millions of files),
  * lineage from `input_file_name()`, page numbers from a window keyed by
  * file. The flatten uses `array_sort(collect_list(struct(...)))` rather
  * than a window+dropDuplicates so it's a single partial-aggregatable
  * shuffle.
  */
object Ingest {

  /** S1-S3 + P10/P11: scan the per-channel csv glob (headerless, one
    * text column per page) into the standard page table.
    *
    * `lineOrder` note: CSV files carry no intrinsic row order column,
    * so page order within a file is the file's physical line order.
    * The read sets `multiLine=true`, which makes the CSV reader
    * NON-SPLITTABLE — every file is one split read start-to-finish by
    * one task at ANY file size, so the per-file monotonic-id window
    * below is line order by construction. Without it a file larger
    * than `spark.sql.files.maxPartitionBytes` splits into several
    * partitions whose ids are assigned in size-packed (not offset)
    * order, silently scrambling `PE_num`. The cost is intra-file
    * parallelism on huge single files — the page corpus is
    * many-small-files, where parallelism comes from file count.
    *
    * The files are RAW TEXT LINES, not quoted/delimited CSV (the
    * reference's per-page files are one OCR'd page per line), so
    * quoting and field splitting are disabled: under multiLine a
    * page starting with an unbalanced double-quote would otherwise
    * swallow every following line of the file into one record, and a
    * comma in page text would split the single `text` column. quote
    * = U+0000 and sep = U+0001 make the reader a faithful
    * one-line-one-row scan (a page containing U+0001 itself is out
    * of contract for OCR text). */
  def readPages(spark: SparkSession, root: String,
                channels: Seq[String] = Seq("EML", "FAX", "WIN", "SCN")): DataFrame = {
    val paths = channels.map(c => s"$root/$c/*.csv")
    val raw = spark.read
      .schema("text STRING")
      .option("pathGlobFilter", "*.csv")
      .option("multiLine", true)
      .option("quote", "\u0000")
      .option("sep", "\u0001")
      .csv(paths: _*)
      .select(
        col("text"),
        input_file_name().as("fp"),
        monotonically_increasing_id().as("_order"))
    val w = Window.partitionBy(col("fp")).orderBy(col("_order"))
    raw
      .withColumn("PE_num", row_number().over(w))
      .withColumn("fn", element_at(split(col("fp"), "/"), -1))
      .withColumn("channel", element_at(split(col("fp"), "/"), -2))
      .select(col("fn"), col("fp"), col("channel"), col("PE_num"), col("text"))
  }

  /** S8: per-document flatten — pages ordered by `orderCol`, joined with
    * newlines. One shuffle; `array_sort` on (order, text) structs keeps
    * the aggregation partial/combinable (vs. a window + distinct).
    */
  def flattenPages(pages: DataFrame, key: Column, orderCol: Column,
                   text: Column): DataFrame =
    pages
      .groupBy(key.as("fn"))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(struct(orderCol.as("o"), text.as("t")))),
            x => x.getField("t")),
          "\n").as("full_text"))

  /** P8: rename columns by map, then project to a target schema order;
    * missing targets become nulls (schema-aligning union prep,
    * `wordschrstokens.py:29-39`). */
  def conformTo(df: DataFrame, renames: Map[String, String],
                target: Seq[String]): DataFrame = {
    val renamed = renames.foldLeft(df) { case (d, (from, to)) =>
      if (d.columns.contains(from)) d.withColumnRenamed(from, to) else d
    }
    val cols = target.map { c =>
      if (renamed.columns.contains(c)) col(c) else lit(null).cast("string").as(c)
    }
    renamed.select(cols: _*)
  }

  /** S11: schema-aligning union. */
  def unionAll(dfs: Seq[DataFrame]): DataFrame =
    dfs.reduce(_.unionByName(_, allowMissingColumns = true))
}
