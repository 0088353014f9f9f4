package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, BinaryType, DoubleType}

/**
 * The decode seam of the multimodal surface: binary payload column in,
 * fixed-width feature column out. Everything upstream (content hashing,
 * dedup, partitioning) and downstream (ANN, centroids, similarity) of a
 * media pipeline composes against this trait, so swapping one codec for
 * another is ONE class — no call-site changes.
 *
 * Implementations here span the honest range this environment allows:
 * [[NetpbmDecoder]] and [[WavDecoder]] are REAL parsers (Netpbm and
 * RIFF/PCM are hand-parseable — see [[MediaCodec]]) running the full
 * production shape — `mapPartitions`, fixed-size row batches bounding
 * peak decoder memory to batch_size × max_payload, malformed input
 * degrading to NULL rather than task failure. A heavier codec (JPEG,
 * FLAC — JVM lib or native via JNI/FFM, Arrow record batches if
 * out-of-process) slots into the same [[Multimodal.decodeWith]] core by
 * swapping the per-batch function.
 */
trait BinaryDecoder {
  /** Fixed feature-vector width every decoded row must have. */
  def dims: Int

  /** Append `outCol` (`array<double>`, length [[dims]], NULL for
    * undecodable payloads) decoded from the BinaryType column
    * `payloadCol`. Must add no shuffle. */
  def decode(df: DataFrame, payloadCol: String, outCol: String): DataFrame
}

/**
 * REAL image decoder for raw Netpbm payloads (PGM `P5` grayscale when
 * `channels = 1`, PPM `P6` RGB when `channels = 3`): parses the header
 * (comments, whitespace grammar) and raster bytes, and emits exact
 * integer moments as features —
 * `[width, height, sum(c0), sumsq(c0), ... per channel]` ([[dims]] =
 * `2 + 2·channels`). Moments, not means: sums are exact (< 2^53), so
 * the caller's single division is reproducible by any engine — the
 * basis of the q120 oracle. A payload that fails to parse, or parses
 * to the OTHER channel count, yields NULL (a P6 payload is not "a P5
 * with different stats" — a mixed bucket should be split by
 * [[Multimodal.contentHash]]-keyed routing, not silently averaged).
 */
final class NetpbmDecoder(channels: Int = 1, batchSize: Int = 64)
    extends BinaryDecoder {
  require(channels == 1 || channels == 3,
    s"Netpbm raw rasters are 1 (P5) or 3 (P6) channels, got $channels")
  val dims: Int = 2 + 2 * channels
  def decode(df: DataFrame, payloadCol: String, outCol: String): DataFrame = {
    val ch = channels // local copy: the task closure must not drag `this`
    Multimodal.decodeWith(df, payloadCol, outCol, batchSize) { bytes =>
      MediaCodec.parseNetpbm(bytes).filter(_.channels == ch).map { s =>
        Array(s.width.toDouble, s.height.toDouble) ++
          (0 until ch).flatMap(c =>
            Seq(s.sums(c).toDouble, s.sqSums(c).toDouble))
      }
    }
  }
}

/**
 * REAL audio decoder for RIFF/WAV PCM16 payloads: walks the chunk list
 * ([[MediaCodec.parseWav]]) and emits
 * `[sampleRate, channels, nSamples, sampleSum, sampleSqSum]` — exact
 * integer moments again, so duration (`nSamples / rate / channels`) and
 * RMS (`sqrt(sqSum / nSamples)`) are single reproducible float ops at
 * the call site (the q121 oracle). Non-PCM, non-16-bit, or truncated
 * payloads yield NULL. Sum exactness holds to 2^53 ≈ 26 hours of
 * full-scale 16-bit audio per asset; longer assets should be frame-
 * sliced ([[Multimodal.frames]]) first.
 */
final class WavDecoder(batchSize: Int = 64) extends BinaryDecoder {
  val dims: Int = 5
  def decode(df: DataFrame, payloadCol: String, outCol: String): DataFrame =
    Multimodal.decodeWith(df, payloadCol, outCol, batchSize) { bytes =>
      MediaCodec.parseWav(bytes).map(s =>
        Array(s.sampleRate.toDouble, s.channels.toDouble,
          s.nSamples.toDouble, s.sampleSum.toDouble, s.sampleSqSum.toDouble))
    }
}

/**
 * REAL image decoder for uncompressed 24-bit BMP payloads
 * ([[MediaCodec.parseBmp]]): the third hand-parseable interchange
 * format through the same batch core, and the one that exercises
 * byte-layout features Netpbm lacks — little-endian headers, 4-byte
 * row padding (pad bytes never reach the moments), and bottom-up vs
 * top-down row order (moment-invariant, so both parse). Emits
 * `[width, height, sum(B), sumsq(B), sum(G), sumsq(G), sum(R),
 * sumsq(R)]` — exact integer moments in the file's B,G,R storage
 * order, divisions stay at the call site (the q201 oracle recomputes
 * the same sums from the synthesis formula without parsing). Other
 * depths/compressions yield NULL.
 */
final class BmpDecoder(batchSize: Int = 64) extends BinaryDecoder {
  val dims: Int = 8
  def decode(df: DataFrame, payloadCol: String, outCol: String): DataFrame =
    Multimodal.decodeWith(df, payloadCol, outCol, batchSize) { bytes =>
      MediaCodec.parseBmp(bytes).map { s =>
        Array(s.width.toDouble, s.height.toDouble) ++
          (0 until 3).flatMap(c =>
            Seq(s.sums(c).toDouble, s.sqSums(c).toDouble))
      }
    }
}

/**
 * Multimodal column handling: images / audio / video ride through the
 * engine as opaque `BinaryType` payloads plus typed metadata, and every
 * relational operator (dedup, grouping, partitioning, sinks) treats them
 * like any other column — the north-star multimodal surface
 * (SURVEY.md §2.11 X4).
 *
 * The codec step is REAL for the hand-parseable interchange formats —
 * [[NetpbmDecoder]] (PGM/PPM images) and [[WavDecoder]] (PCM16 audio)
 * run actual byte-level parsing through the production `mapPartitions`
 * batch shape ([[decodeWith]]). Formats that need a heavyweight library
 * (JPEG, FLAC, video) are not buildable in this environment; they slot
 * into the same core with a different per-batch function.
 *
 * Scale: the metadata operators are per-row expressions (no shuffle);
 * decode is a per-row mapPartitions pass (no shuffle, memory bounded by
 * the batch size); binary payloads stay columnar in Parquet and are
 * never collected.
 */
object Multimodal {

  /**
   * The shared batch-decode core every [[BinaryDecoder]] rides: per
   * partition, rows are pulled in fixed-size batches (the handoff point
   * where an out-of-process codec would receive one Arrow record batch;
   * peak working set = batchSize × max payload, never a whole
   * partition), each payload is decoded to exactly the decoder's
   * feature width, and failures become NULL feature rows — a corrupt
   * asset must never kill a corpus-wide decode pass. Appends one
   * `array<double>` column; every input column passes through
   * unchanged. No shuffle: the plan gains only a narrow
   * MapPartitions stage.
   */
  private[ext] def decodeWith(
      df: DataFrame, payloadCol: String, outCol: String, batchSize: Int)(
      f: Array[Byte] => Option[Array[Double]]): DataFrame = {
    require(batchSize > 0, s"batchSize must be positive: $batchSize")
    val schema = df.schema.add(outCol, ArrayType(DoubleType))
    val idx = df.schema.fieldIndex(payloadCol)
    df.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.map { r =>
          val decoded = f(r.getAs[Array[Byte]](idx))
          Row.fromSeq(r.toSeq :+ decoded.orNull)
        }
      }
    }(Encoders.row(schema))
  }

  /**
   * The payload→payload twin of [[decodeWith]] — the batch shape a real
   * media TRANSFORM (resize, transcode, frame extraction, loudness
   * normalization) rides: same bounded batching, same failure contract
   * (unprocessable asset → NULL output payload, never a dead pass),
   * same no-shuffle narrow plan. Appends one BinaryType column.
   */
  private[ext] def transformWith(
      df: DataFrame, payloadCol: String, outCol: String, batchSize: Int)(
      f: Array[Byte] => Option[Array[Byte]]): DataFrame = {
    require(batchSize > 0, s"batchSize must be positive: $batchSize")
    val schema = df.schema.add(outCol, BinaryType)
    val idx = df.schema.fieldIndex(payloadCol)
    df.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.map { r =>
          val out = f(r.getAs[Array[Byte]](idx))
          Row.fromSeq(r.toSeq :+ out.orNull)
        }
      }
    }(Encoders.row(schema))
  }

  /**
   * The one-row-in / many-features-out sibling of [[decodeWith]] — the
   * batch shape a FRAME SAMPLER rides (one container payload decodes to
   * a variable number of per-frame feature rows): same bounded batching,
   * same failure contract (undecodable container → NULL, never a dead
   * pass), same no-shuffle narrow plan. Appends one
   * `array<array<double>>` column; the caller explodes it (posexplode /
   * explode are narrow too, so the whole sample stays shuffle-free).
   */
  private[ext] def decodeMultiWith(
      df: DataFrame, payloadCol: String, outCol: String, batchSize: Int)(
      f: Array[Byte] => Option[Seq[Array[Double]]]): DataFrame = {
    require(batchSize > 0, s"batchSize must be positive: $batchSize")
    val schema = df.schema.add(outCol, ArrayType(ArrayType(DoubleType)))
    val idx = df.schema.fieldIndex(payloadCol)
    df.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.map { r =>
          val decoded = f(r.getAs[Array[Byte]](idx))
          Row.fromSeq(r.toSeq :+ decoded.orNull)
        }
      }
    }(Encoders.row(schema))
  }

  /**
   * REAL video-style frame sampling over concatenated-Netpbm containers
   * ([[MediaCodec.parseNetpbmFrames]]): every `every`-th frame of the
   * container decodes to one output row with its exact moments —
   * `(…input columns…, frame_idx, frame_width, frame_height, frame_sum,
   * frame_sq_sum)` — skipped frames are walked but never pixel-read, and
   * an undecodable container contributes NO rows (the explode of a NULL
   * frame list; route such assets to quarantine by anti-joining the
   * result's ids against the input's). Moments, not means: sums are
   * exact integers carried as doubles (< 2^53), so the caller's
   * divisions are engine-reproducible — the q120/q121 oracle principle
   * extended to the time axis.
   */
  def sampleNetpbmFrames(
      df: DataFrame, payloadCol: String, every: Int,
      batchSize: Int = 64): DataFrame = {
    val multi = decodeMultiWith(df, payloadCol, "__frames", batchSize)(
      MediaCodec.parseNetpbmFrames(_, every).map(_.map(s =>
        Array(s.idx.toDouble, s.width.toDouble, s.height.toDouble,
          s.sum.toDouble, s.sqSum.toDouble))))
    multi
      .select(multi.columns.filter(_ != "__frames").map(col) :+
        explode(col("__frames")).as("__f"): _*)
      .withColumn("frame_idx", element_at(col("__f"), 1).cast("long"))
      .withColumn("frame_width", element_at(col("__f"), 2).cast("long"))
      .withColumn("frame_height", element_at(col("__f"), 3).cast("long"))
      .withColumn("frame_sum", element_at(col("__f"), 4).cast("long"))
      .withColumn("frame_sq_sum", element_at(col("__f"), 5).cast("long"))
      .drop("__f")
  }

  /**
   * REAL image resize over Netpbm payloads
   * ([[MediaCodec.resizeNetpbmNearest]]): nearest-neighbor to
   * `outW × outH`, re-encoded in the source format with maxval
   * preserved — integer-exact pixel selection, so the output BYTES are
   * engine-reproducible (q156 oracles the md5 of the resized payload).
   * The thumbnail/normalize step of a multimodal training pipeline,
   * composing with [[NetpbmDecoder]] downstream (resize → decode →
   * features) through the same batch cores.
   */
  def resizeNetpbm(
      df: DataFrame, payloadCol: String, outCol: String,
      outW: Int, outH: Int, batchSize: Int = 64): DataFrame =
    transformWith(df, payloadCol, outCol, batchSize)(
      MediaCodec.resizeNetpbmNearest(_, outW, outH))

  /** Deterministic fake asset from a text column: the UTF-8 bytes as the
    * binary payload. Stands in for real media bytes in tests/harness. */
  def syntheticPayload(text: Column): Column = text.cast("binary")

  /** Content address of a payload (md5 hex) — the exact-dedup key for
    * binary data: identical bytes ⇒ identical hash. */
  def contentHash(payload: Column): Column = md5(payload)

  /** Payload size in bytes. */
  def byteLength(payload: Column): Column = length(payload).cast("long")

  /**
   * Fixed-size frame slicing (the "frame-sample" shape for audio/video):
   * payload split into ⌈bytes/frameSize⌉ binary chunks. Pure expression —
   * `substr` on binary is byte-addressed.
   */
  def frames(payload: Column, frameSize: Int): Column =
    transform(
      sequence(lit(0),
        greatest(ceil(length(payload).cast("double") / frameSize).cast("int") - 1, lit(0))),
      i => payload.substr(i * frameSize + 1, lit(frameSize)))
}
