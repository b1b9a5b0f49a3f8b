package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing (builder brief): image/audio/video as
  * opaque `binary` columns with typed metadata, decoded / feature-
  * extracted / resized / frame-sampled through batch stages.
  *
  * The decode step itself is STUBBED — no image/audio libraries exist
  * in this environment — with [[FakeDecoder]], a deterministic fake
  * that reads a synthetic header. Everything around it is real Spark
  * plumbing: binary columns through parquet, Dataset[Array[Byte]]
  * encoders, mapPartitions batch shape (one decoder instance per
  * partition — where a real libjpeg/ffmpeg handle would live), and
  * 1→N frame explosion that stays shuffle-free.
  *
  * At 100 TB: binary payloads dominate row size, so metadata-only
  * operations must prune the content column (Catalyst column pruning
  * drops `content` from scans when untouched), and frame sampling
  * happens BEFORE any shuffle.
  */
object Multimodal {

  /** Deterministic synthetic media: 64 opaque bytes derived from a
    * text seed (4 chained md5 blocks) — the test-mode stand-in for
    * real image bytes. */
  def syntheticContent(seed: Column): Column =
    unhex(concat(
      md5(seed), md5(concat(seed, lit("1"))),
      md5(concat(seed, lit("2"))), md5(concat(seed, lit("3")))))

  /** Hex view of a binary column, lowercase on every engine. */
  def hexOf(content: Column): Column = lower(hex(content))

  /** Byte at 0-based `pos` as an int (via the hex view — expression-
    * only, codegen-friendly). */
  def byteAt(content: Column, pos: Int): Column =
    conv(substring(hexOf(content), pos * 2 + 1, 2), 16, 10).cast("int")

  /** Header decode as pure expressions: width/height/format from the
    * first bytes — the EXPRESSION twin of [[FakeDecoder]]. */
  def widthOf(content: Column): Column = lit(16) + pmod(byteAt(content, 0), lit(240))
  def heightOf(content: Column): Column = lit(16) + pmod(byteAt(content, 1), lit(240))
  def formatOf(content: Column): Column =
    element_at(array(lit("jpeg"), lit("png"), lit("webp")),
      pmod(byteAt(content, 2), lit(3)) + 1)

  /** "Resize": keep the first `bytes` bytes (stub transform with the
    * real binary-in/binary-out shape). */
  def resize(content: Column, bytes: Int): Column =
    substring(content, 1, bytes)

  /** Scene-addressed synthetic media (the mm06 fixture) — 35 bytes:
    * a 3-byte CONTAINER header + a 16-byte latent SCENE digest + 16
    * bytes of encoder padding, all md5-derived so DuckDB replays the
    * layout byte-for-byte. Two encodings of the same text (different
    * `enc` tags — a re-encode, a resize) share the scene but differ in
    * every container byte, so their md5 content digests NEVER match
    * while their decoded pixel surfaces nearly do — exactly the
    * duplicate class a byte-level digest misses and a perceptual hash
    * catches. */
  def sceneContent(text: Column, enc: String): Column =
    unhex(concat(
      substring(md5(concat(text, lit(s"|h$enc"))), 1, 6),
      md5(text),
      md5(concat(text, lit(s"|n$enc")))))

  /** The image grid: a 6×11 normalized grayscale surface — the
    * post-resize grid a real dHash pipeline reduces every image to, so
    * hashes are comparable across resolutions by construction. Its
    * [[gridHash]] is the 60-bit dHash: one bit per horizontally
    * adjacent pixel pair. */
  val DhashGridRows = 6
  val DhashGridCols = 11
  val DhashBits: Int = DhashGridRows * (DhashGridCols - 1) // 60

  /** The 60-bit dHash: [[gridHash]] over the image grid. */
  def dHash(content: Column): Column =
    gridHash(content, "px", DhashGridRows, DhashGridCols)

  /** The audio grid: 12 pitch-class bins × 6 time frames — the
    * normalized energy surface a chromaprint-style pipeline reduces
    * every window to, so fingerprints are comparable across
    * codecs/bitrates by construction. Its [[gridHash]] is the 60-bit
    * chromaprint-style fingerprint: one bit per temporally adjacent
    * energy pair within a bin (the sign of the energy difference
    * across time). */
  val ChromaBins = 12
  val ChromaFrames = 6
  val ChromaBits: Int = ChromaBins * (ChromaFrames - 1) // 60

  /** Gradient-sign hash of the DECODED `rows` × `cols` grid of
    * [[sceneContent]] bytes, as pure codegen'd expressions — the
    * perceptual fingerprint of images (`tag` "px", the 6×11 dHash
    * grid: mm06, mm07's frames, the media gate) and of audio windows
    * (`tag` "ch", the 12×6 chroma grid: mm08). Bit k (row
    * k/(cols−1), step k%(cols−1)) is set when cell [row][step+1] >
    * cell [row][step].
    *
    * Decode model (the FakeDecoder seam: a real pipeline swaps the
    * cell derivation for decoded pixels or chroma energies and keeps
    * everything from the comparison step down): cell i is byte i%16
    * of md5(sceneHex || "|" || tag || i/16) — a function of the SCENE
    * only, so any encoding of the same scene normalizes to the same
    * surface — plus a one-cell +8 perturbation at a position keyed on
    * the ENCODER padding byte (the lossy-codec artifact: each
    * re-encode moves one cell). One perturbed cell flips at most 2
    * gradient bits, so two encodings of one scene sit within Hamming
    * ≤ 4 (≤ 2 perturbed cells × ≤ 2 bits) while unrelated scenes are
    * ~30 bits apart — the band join at `maxDist = 4` separates them
    * with no tuning. At most 60 bits (not 64) keeps every value
    * positive in a signed BIGINT on both engines, the d10/hash60
    * discipline. */
  def gridHash(content: Column, tag: String, rows: Int, cols: Int): Column = {
    val cells = rows * cols
    val bits = rows * (cols - 1)
    require(bits <= 60, s"a $rows×$cols grid has more than 60 gradient bits")
    graft.core.Expr.let(hexOf(content)) { hx =>
      val scene = substring(hx, 7, 32)
      val perturb = conv(substring(hx, 39, 2), 16, 10).cast("int") % cells
      // the block md5s are STAGED through one let instead of being
      // referenced once per cell: codegen subexpression elimination
      // does not fully collapse the repeats (measured 0.98 s vs
      // 0.67 s warm on 6k images, bit-identical output), so bind
      // each block digest once and index into it
      val blocks = array((0 until (cells + 15) / 16).map(b =>
        md5(concat(scene, lit(s"|$tag$b")))): _*)
      graft.core.Expr.let(blocks) { bl =>
        val gridArr = array((0 until cells).map { i =>
          conv(substring(element_at(bl, i / 16 + 1),
            (i % 16) * 2 + 1, 2), 16, 10).cast("int") +
            when(perturb === i, 8).otherwise(0)
        }: _*)
        graft.core.Expr.let(gridArr) { g =>
          (0 until bits).map { k =>
            val idx = (k / (cols - 1)) * cols + k % (cols - 1)
            when(element_at(g, idx + 2) > element_at(g, idx + 1),
              lit(1L << k)).otherwise(0L)
          }.reduce(_ + _)
        }
      }
    }
  }

  /** The DuckDB twin of [[gridHash]] over relation `src` (`id`, hx),
    * with hx the content's hex view: relation `out` (`id`, fp).
    * Defines `<out>_0` and `<out>_1` on the way. */
  private[graft] def gridHashSql(src: String, id: String, tag: String,
                                 rows: Int, cols: Int, out: String): String = {
    val cells = rows * cols
    def cell(off: Int) =
      s"g[CAST((k // ${cols - 1}) * $cols + (k % ${cols - 1}) + $off AS INT)]"
    val byte = graft.dedup.Dedup.hexIntSql(s"substr(md5(scene || '|$tag' || " +
      "CAST(i // 16 AS VARCHAR)), CAST((i % 16) * 2 + 1 AS INT), 2)", 1, 2)
    s"""
    |${out}_0 AS (SELECT $id, substr(hx, 7, 32) AS scene,
    |    ${graft.dedup.Dedup.hexIntSql("hx", 39, 2)} % $cells AS p
    |  FROM $src),
    |${out}_1 AS (SELECT $id, list_transform(range(0, $cells), i ->
    |      $byte + CASE WHEN i = p THEN 8 ELSE 0 END) AS g
    |  FROM ${out}_0),
    |$out AS (SELECT $id, CAST(list_sum(list_transform(range(0, ${rows * (cols - 1)}), k ->
    |      CASE WHEN ${cell(2)} > ${cell(1)}
    |      THEN (CAST(1 AS BIGINT) << CAST(k AS INT)) ELSE 0 END)) AS BIGINT)
    |    AS fp
    |  FROM ${out}_1)""".stripMargin
  }

  /** Frame sampling: view content as 4-byte frames, keep every
    * `step`-th; returns array<struct<frame_idx,frame_val>> for a
    * posexplode — 1→N with no shuffle. */
  def sampleFrames(content: Column, step: Int): Column = {
    val h = hexOf(content)
    val nFrames = (length(h) / 8).cast("int")
    transform(
      sequence(lit(0), greatest(nFrames - 1, lit(0)), lit(step)),
      i => struct(i.as("frame_idx"),
        conv(substring(h, i * 8 + 1, lit(4)), 16, 10).cast("long").as("frame_val")))
  }
}

/** The stub decoder — the seam where a real image library plugs in.
  * Deterministic fake: reads the 3-byte synthetic header exactly like
  * the expression twin in [[Multimodal]]. */
object FakeDecoder extends Serializable {
  final case class Meta(width: Int, height: Int, format: String)
  def decode(bytes: Array[Byte]): Meta = {
    def u(b: Byte): Int = b & 0xff
    Meta(
      16 + u(bytes(0)) % 240,
      16 + u(bytes(1)) % 240,
      Seq("jpeg", "png", "webp")(u(bytes(2)) % 3))
  }
}

/** Batch decode stage: mapPartitions so a real decoder would
  * initialize once per partition, not per row. */
object MediaStage {
  final case class Decoded(media_id: Long, width: Int, height: Int,
                           format: String, n_bytes: Int)

  def decode(df: DataFrame, id: Column, content: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(id.cast("long").as("id"), content.as("c"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        // per-partition init point for a real decoder handle
        rows.map { case (mid, bytes) =>
          val m = FakeDecoder.decode(bytes)
          Decoded(mid, m.width, m.height, m.format, bytes.length)
        }
      }
      .toDF()
  }
}
