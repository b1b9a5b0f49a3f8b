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

  /** Number of luminance samples in the decoded pixel surface: a 6×11
    * normalized grayscale grid — the post-resize grid a real dHash
    * pipeline reduces every image to, so hashes are comparable across
    * resolutions by construction. */
  val DhashGridRows = 6
  val DhashGridCols = 11
  val DhashPixels: Int = DhashGridRows * DhashGridCols // 66
  /** dHash width: one bit per horizontally adjacent pixel pair. */
  val DhashBits: Int = DhashGridRows * (DhashGridCols - 1) // 60

  /** 60-bit perceptual dHash over [[sceneContent]] bytes — the
    * difference hash (row-wise gradient sign) of the DECODED pixel
    * surface, as pure codegen'd expressions (the FakeDecoder seam: a
    * real pipeline swaps the luminance derivation for decoded pixels
    * and keeps everything from the comparison step down).
    *
    * Decode model: luminance i (0..65) is byte i%16 of
    * md5(sceneHex || "|px" || i/16) — a function of the SCENE only, so
    * any encoding of the same scene normalizes to the same surface —
    * plus a one-pixel +8 perturbation at a position keyed on the
    * ENCODER padding byte (the lossy-codec artifact: each re-encode
    * moves one pixel). One perturbed pixel flips at most 2 of the 60
    * gradient bits, so two encodings of one scene sit within Hamming
    * ≤ 4 (≤ 2 perturbed pixels × ≤ 2 bits) while unrelated scenes are
    * ~30 bits apart — the band join at `maxDist = 4` separates them
    * with no tuning. 60 bits (not 64) keeps every value positive in a
    * signed BIGINT on both engines, the d10/hash60 discipline. */
  def dhash(content: Column): Column =
    graft.core.Expr.let(hexOf(content)) { hx =>
      val scene = substring(hx, 7, 32)
      val perturb = conv(substring(hx, 39, 2), 16, 10).cast("int") % DhashPixels
      // the 5 block md5s are STAGED through one let instead of being
      // referenced 66× in the luminance array: codegen subexpression
      // elimination does not fully collapse the repeats (measured
      // 0.98 s vs 0.67 s warm on 6k images, bit-identical
      // output), so bind each block digest once and index into it
      val blocks = array((0 until (DhashPixels + 15) / 16).map(b =>
        md5(concat(scene, lit(s"|px$b")))): _*)
      graft.core.Expr.let(blocks) { bl =>
        val lumArr = array((0 until DhashPixels).map { i =>
          conv(substring(element_at(bl, i / 16 + 1),
            (i % 16) * 2 + 1, 2), 16, 10).cast("int") +
            when(perturb === i, 8).otherwise(0)
        }: _*)
        graft.core.Expr.let(lumArr) { lum =>
          (0 until DhashBits).map { k =>
            val idx = (k / (DhashGridCols - 1)) * DhashGridCols +
              k % (DhashGridCols - 1)
            when(element_at(lum, idx + 2) > element_at(lum, idx + 1),
              lit(1L << k)).otherwise(0L)
          }.reduce(_ + _)
        }
      }
    }

  /** Chroma grid of the decoded audio window: 12 pitch-class bins ×
    * 6 time frames — the normalized energy surface a chromaprint-style
    * pipeline reduces every window to, so fingerprints are comparable
    * across codecs/bitrates by construction. */
  val ChromaBins = 12
  val ChromaFrames = 6
  val ChromaSamples: Int = ChromaBins * ChromaFrames // 72
  /** Fingerprint width: one bit per temporally adjacent energy pair
    * within a bin (the chromaprint gradient family's simplest filter:
    * sign of the energy difference across time). */
  val ChromaBits: Int = ChromaBins * (ChromaFrames - 1) // 60

  /** 60-bit chromaprint-style audio fingerprint over [[sceneContent]]
    * bytes — the third consumer of the banded Hamming machinery
    * (image mm06 dHash, video mm07 per-frame dHash, audio THIS): per
    * window, the sign of the chroma-energy gradient across time,
    * bit k (bin k/5, step k%5) set when energy[bin][t+1] >
    * energy[bin][t]. As with [[dhash]], the decode is the FakeDecoder
    * seam: energy i is byte i%16 of md5(sceneHex || "|ch" || i/16) —
    * a function of the latent SCENE only, so any encoding of the same
    * audio normalizes to the same surface — plus a one-sample +8
    * perturbation keyed on the encoder padding (the lossy-codec
    * artifact). One perturbed energy appears in at most 2 temporal
    * comparisons, so two encodings of one window sit within Hamming
    * ≤ 4 while unrelated windows are ~30 bits apart — the maxDist = 4
    * band join separates them with no tuning. The 5 block md5s stage
    * through one let (the dhash CSE lesson — codegen does not fully
    * collapse repeated md5s). */
  def chromaHash(content: Column): Column =
    graft.core.Expr.let(hexOf(content)) { hx =>
      val scene = substring(hx, 7, 32)
      val perturb =
        conv(substring(hx, 39, 2), 16, 10).cast("int") % ChromaSamples
      val blocks = array((0 until (ChromaSamples + 15) / 16).map(b =>
        md5(concat(scene, lit(s"|ch$b")))): _*)
      graft.core.Expr.let(blocks) { bl =>
        val energyArr = array((0 until ChromaSamples).map { i =>
          conv(substring(element_at(bl, i / 16 + 1),
            (i % 16) * 2 + 1, 2), 16, 10).cast("int") +
            when(perturb === i, 8).otherwise(0)
        }: _*)
        graft.core.Expr.let(energyArr) { en =>
          (0 until ChromaBits).map { k =>
            val idx = (k / (ChromaFrames - 1)) * ChromaFrames +
              k % (ChromaFrames - 1)
            when(element_at(en, idx + 2) > element_at(en, idx + 1),
              lit(1L << k)).otherwise(0L)
          }.reduce(_ + _)
        }
      }
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
