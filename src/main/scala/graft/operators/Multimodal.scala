package graft.operators

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import scala.util.control.NonFatal

/**
 * Multimodal column handling: media content is an opaque `binary` column plus
 * a typed metadata struct; decode / feature-extract / frame-sample run as
 * typed `mapPartitions` stages (one decoder instantiation per partition, the
 * Spark-idiomatic shape for per-row native-library calls at scale — no
 * driver-side materialization, no per-row decoder setup).
 *
 * The byte-level decoder is pluggable behind [[Multimodal.MediaCodec]]; this
 * container has no image/audio codecs, so the default [[Multimodal.StubCodec]]
 * is a deterministic fake, but the Spark-side plumbing — schema, batch shape,
 * partitioning, typed pipeline, per-partition `open()`/`close()` lifecycle,
 * per-row error surfacing — is real and tested (a fault-injecting codec
 * exercises the seam in MultimodalSpec).
 */
object Multimodal {

  /** An ingested media object: opaque payload + source-asserted metadata. */
  case class MediaRow(media_id: Long, content: Array[Byte], format: String, source: String)

  /** Decoded media metadata + a small fixed-width feature vector. */
  case class DecodedMedia(
      media_id: Long,
      format: String,
      byte_len: Int,
      width: Int,
      height: Int,
      n_frames: Int,
      features: Array[Double])

  /** One decode attempt: the decoded columns on success, or zeroed columns
    * plus a non-null `error` when the codec rejected the payload. A corrupt
    * row never fails the task — at 100 TB a one-in-a-billion malformed file
    * must surface as a row, not a job abort. */
  case class DecodeAttempt(
      media_id: Long,
      format: String,
      byte_len: Int,
      width: Int,
      height: Int,
      n_frames: Int,
      features: Array[Double],
      error: String)

  /**
   * The codec contract. Implementations are shipped to executors by closure
   * serialization; `open()` runs once per partition-task before the first
   * row (native-library handles, model weights), `close()` runs at task
   * completion (success OR failure — registered as a TaskContext listener).
   * `decode` may throw for a malformed payload; [[decodeSafe]] turns that
   * into a per-row error while [[decode]] propagates it (fail-fast).
   */
  trait MediaCodec extends Serializable {
    def open(): Unit = ()
    def close(): Unit = ()
    def decode(mediaId: Long, content: Array[Byte], format: String): DecodedMedia

    /** Decode to a gray-intensity raster of exactly `cols` x `rows` cells
      * (row-major) — the grid a perceptual hash is computed over. The
      * default is the deterministic stub raster: cell value = the exact
      * mean byte value of the payload's proportional slice
      * (integer-exact sum / count, so every engine computing it agrees
      * bit-for-bit; empty slices — payloads shorter than the grid — read
      * 0). A REAL image codec overrides this with the decoded, resampled,
      * gamma-corrected grayscale raster; everything downstream
      * ([[perceptualHash]], [[perceptualDedupPairs]]) is raster-agnostic. */
    def rasterize(mediaId: Long, content: Array[Byte], format: String,
        cols: Int, rows: Int): Array[Double] = {
      val n = cols * rows
      val len = if (content == null) 0 else content.length
      val out = new Array[Double](n)
      var c = 0
      while (c < n) {
        val from = (c.toLong * len / n).toInt
        val until = ((c + 1).toLong * len / n).toInt
        if (until > from) {
          var s = 0L
          var i = from
          while (i < until) { s += (content(i) & 0xff); i += 1 }
          out(c) = s.toDouble / (until - from)
        }
        c += 1
      }
      out
    }
  }

  /**
   * Deterministic fake decoder: derives plausible dimensions and an 8-bin
   * byte-histogram "feature vector" from the payload alone, so every test
   * and query is reproducible. A real implementation replaces `decode` with
   * a codec call; the signature is the contract.
   */
  object StubCodec extends MediaCodec {
    def decode(media_id: Long, content: Array[Byte], format: String): DecodedMedia = {
      val len = content.length
      val h = {
        var acc = 0xcbf29ce484222325L
        var i = 0
        while (i < len) { acc ^= (content(i) & 0xffL); acc *= 0x100000001b3L; i += 1 }
        acc
      }
      val width = 16 + math.floorMod(h, 240).toInt
      val height = 16 + math.floorMod(h >>> 8, 240).toInt
      val frames = if (format == "video") 1 + math.floorMod(h >>> 16, 120).toInt else 1
      val hist = new Array[Double](8)
      var i = 0
      while (i < len) { hist((content(i) & 0xff) >>> 5) += 1.0; i += 1 }
      if (len > 0) { var j = 0; while (j < 8) { hist(j) /= len; j += 1 } }
      DecodedMedia(media_id, format, len, width, height, frames, hist)
    }
  }

  /** Run `codec.open()` once for this partition and register `close()` on
    * task completion (fires on success, failure, and cancellation alike).
    * Outside a task (driver-local evaluation) there is no completion hook;
    * the codec stays open — a leak in that exotic path beats handing the
    * mapper a closed codec. */
  private def openForPartition(codec: MediaCodec): Unit = {
    codec.open()
    val tc = TaskContext.get()
    if (tc != null) tc.addTaskCompletionListener[Unit](_ => codec.close())
  }

  /** Decode a media table, fail-fast: a codec exception fails the task.
    * Use [[decodeSafe]] when corrupt payloads must become rows instead. */
  def decode(media: Dataset[MediaRow], codec: MediaCodec = StubCodec): Dataset[DecodedMedia] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      openForPartition(codec)
      rows.map(r => codec.decode(r.media_id, r.content, r.format))
    }
  }

  /** Decode with per-row error containment: a payload the codec rejects
    * yields a row with zeroed decode columns and the exception in `error`;
    * every other row decodes normally. Downstream splits on
    * `error IS NULL`. */
  def decodeSafe(media: Dataset[MediaRow], codec: MediaCodec = StubCodec)
      : Dataset[DecodeAttempt] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      openForPartition(codec)
      rows.map { r =>
        try {
          val d = codec.decode(r.media_id, r.content, r.format)
          DecodeAttempt(d.media_id, d.format, d.byte_len, d.width, d.height,
            d.n_frames, d.features, null)
        } catch {
          case NonFatal(e) =>
            DecodeAttempt(r.media_id, r.format,
              if (r.content == null) 0 else r.content.length,
              0, 0, 0, Array.empty[Double],
              s"${e.getClass.getSimpleName}: ${e.getMessage}")
        }
      }
    }
  }

  /** Sample every `stride`-th frame of video media as (media_id, frame_no,
    * frame payload slice) — the frame extraction shape for vision pipelines.
    * A payload the codec rejects contributes no frames (skip, don't abort):
    * frame extraction is a best-effort fan-out, and the decode-stage gate
    * ([[decodeSafe]]) is where per-row errors are accounted. */
  case class Frame(media_id: Long, frame_no: Int, payload: Array[Byte])
  def sampleFrames(media: Dataset[MediaRow], stride: Int,
      codec: MediaCodec = StubCodec): Dataset[Frame] = {
    import media.sparkSession.implicits._
    media.filter(_.format == "video").mapPartitions { rows =>
      openForPartition(codec)
      rows.flatMap { r =>
        val decoded =
          try Some(codec.decode(r.media_id, r.content, r.format))
          catch { case NonFatal(_) => None }
        decoded.toSeq.flatMap { d =>
          val chunk = math.max(1, r.content.length / math.max(1, d.n_frames))
          (0 until d.n_frames by stride).map { f =>
            val from = f * chunk
            val until = math.min(r.content.length, from + chunk)
            Frame(r.media_id, f, r.content.slice(from, math.max(from, until)))
          }
        }
      }
    }
  }

  /**
   * dHash-style 64-bit perceptual hash per media row — the multimodal twin
   * of [[Dedup.simHashPairs]]' text fingerprint: a RE-ENCODED copy of the
   * same image (different bytes, same picture) hashes within a small
   * Hamming distance, where any content-hash sees a brand-new payload.
   * Computed through the [[MediaCodec]] raster seam (one codec per
   * partition task, [[decode]]'s lifecycle): a 9 x 8 gray raster, one bit
   * per horizontally-adjacent cell pair (`left > right`), 64 bits total —
   * the classic dHash recipe, gradient-based so uniform brightness/scale
   * shifts cancel. Payloads the codec rejects yield no hash row (the
   * decode-stage gate is where per-row errors are accounted,
   * [[sampleFrames]]' contract).
   */
  def perceptualHash(media: Dataset[MediaRow],
      codec: MediaCodec = StubCodec): DataFrame = {
    import media.sparkSession.implicits._
    val rejected = media.sparkSession.sparkContext
      .longAccumulator("graft.perceptualHash.rejectedRows")
    rejectedAcc = Some(rejected)
    media.mapPartitions { rows =>
      openForPartition(codec)
      var warned = 0
      rows.flatMap { r =>
        val g =
          try codec.rasterize(r.media_id, r.content, r.format, 9, 8)
          catch {
            case NonFatal(e) =>
              // per-ROW containment is for corrupt payloads only; the
              // drop is counted (accumulator + Spark UI) and warn-logged
              // so an all-rows-rejected codec cannot silently yield zero
              // hash rows and zero dedup pairs.
              rejected.add(1L)
              if (warned < 3) {
                warned += 1
                RejectLog.log.warn(s"[perceptualHash] codec rejected media " +
                  s"${r.media_id}: ${e.getClass.getSimpleName}: ${e.getMessage}" +
                  (if (warned == 3) " (further rejections in this partition " +
                    "unlogged; totals in the rejectedRows accumulator)" else ""))
              }
              null
          }
        if (g == null) None
        else {
          // OUTSIDE the containment: a wrong-sized raster is a codec
          // CONTRACT violation (programming error), not a corrupt payload —
          // it must fail the task, never degrade to an empty result.
          require(g.length == 72,
            s"rasterize contract violation: returned ${g.length} cells, expected 72")
          var h = 0L
          var bit = 0
          var y = 0
          while (y < 8) {
            var x = 0
            while (x < 8) {
              if (g(y * 9 + x) > g(y * 9 + x + 1)) h |= (1L << bit)
              bit += 1; x += 1
            }
            y += 1
          }
          Some((r.media_id, h))
        }
      }
    }.toDF("media_id", "phash")
  }

  /** Serializable logger holder for executor-side rejection warnings. */
  private object RejectLog extends Serializable {
    @transient lazy val log = org.slf4j.LoggerFactory.getLogger("graft.Multimodal")
  }

  /** Accumulator behind the most recent [[perceptualHash]] call in this JVM;
    * read side for tests and pipeline harnesses (the same numbers appear in
    * the Spark UI under "graft.perceptualHash.rejectedRows"). */
  @volatile private var rejectedAcc: Option[org.apache.spark.util.LongAccumulator] = None
  def lastPerceptualRejected: Long =
    rejectedAcc.map(_.value.longValue).getOrElse(0L)

  /**
   * Near-duplicate media pairs within Hamming distance `maxHamming` of
   * their perceptual hashes: (media_a, media_b, hamming), media_a <
   * media_b. Candidates come from [[Dedup.hammingBandedPairs]] — the
   * SimHash chunk machinery verbatim: `maxHamming + 1` hash chunks,
   * pigeonhole-complete equi-join on (band, chunk), hot buckets capped by
   * `maxBucketSize` with counted drops (tag `"perceptualHash"`), exact
   * popcount verify. Never all-pairs: at 100 TB the only quadratic term
   * is the OUTPUT (true near-dup clusters), the standard banded-dedup
   * contract.
   */
  def perceptualDedupPairs(media: Dataset[MediaRow],
      codec: MediaCodec = StubCodec, maxHamming: Int = 4,
      maxBucketSize: Int = 1000): DataFrame =
    Dedup.hammingBandedPairs(
        perceptualHash(media, codec)
          .select(col("media_id").as("doc_id"), col("phash").as("simhash")),
        maxHamming, maxBucketSize, "perceptualHash")
      .select(col("doc_a").as("media_a"), col("doc_b").as("media_b"),
        col("hamming"))

  /** Keep-one perceptual dedup: connected components over the
    * [[perceptualDedupPairs]] edge set, smallest media_id survives each
    * component — [[Dedup.dedupByNearDup]]'s exact policy (transitive: a
    * chain of re-encodes collapses to ONE kept copy, not one per edge). */
  def dedupByPerceptual(media: Dataset[MediaRow],
      codec: MediaCodec = StubCodec, maxHamming: Int = 4,
      maxBucketSize: Int = 1000): Dataset[MediaRow] = {
    val cl = Dedup.clusters(
      perceptualDedupPairs(media, codec, maxHamming, maxBucketSize),
      "media_a", "media_b")
    import media.sparkSession.implicits._
    media.join(cl, media("media_id") === cl("doc_id"), "left")
      .withColumn("__cluster", coalesce(cl("cluster"), media("media_id")))
      .filter(media("media_id") === col("__cluster"))
      .drop(cl("doc_id")).drop(cl("cluster")).drop(col("__cluster"))
      .as[MediaRow]
  }

  // -------------------------------------------------------------------
  // Persisted perceptual-hash index — INCREMENTAL media dedup, the
  // multimodal member of the cross-batch family ([[Dedup.saveHashIndex]]
  // exact text / [[Dedup.saveMinHashIndex]] near-dup text): a daily
  // ingestion must drop media that are RE-ENCODED copies of anything
  // admitted in past runs, without holding the past corpus in the job.
  // The stored index is (media_id, phash) — 16 bytes a row, no content;
  // banding is computed AT PROBE TIME from the stored hash (cheap bit
  // ops on the scan), so the on-disk layout stays minimal. Same storage
  // conventions: stored through [[EpochIndex]] (one `hashes` table, the
  // manifest records `max_hamming`), writer lease, manifest-flip
  // compaction.
  // -------------------------------------------------------------------

  /** The perceptual-hash index family: one `hashes` table of
    * (media_id, phash), params `max_hamming`. */
  private[graft] val PhashIndex = EpochIndex.Family("graft-phash-index-v1",
    "perceptual-hash", "savePhashIndex", Seq("hashes"))

  private[graft] def phashFrames(media: Dataset[MediaRow], codec: MediaCodec)(
      m: EpochIndex.Manifest): EpochIndex.Frames =
    Seq("hashes" -> perceptualHash(media, codec))

  /** Persist the corpus's perceptual hashes for incremental dedup
    * ([[dedupAgainstPhashIndex]]). The manifest records `maxHamming` — the
    * distance the index promises to answer; probes always band at the
    * stored distance so candidate generation stays pigeonhole-complete. */
  def savePhashIndex(media: Dataset[MediaRow], path: String,
      maxHamming: Int = 4, codec: MediaCodec = StubCodec): Unit = {
    require(maxHamming >= 0 && maxHamming < 32,
      s"maxHamming $maxHamming out of range")
    EpochIndex.save(media.sparkSession, path, PhashIndex,
      Map("max_hamming" -> maxHamming.toString))(phashFrames(media, codec))
  }

  /** Admit a media delta: its hashes become a new committed generation.
    * Double-appended ids are collapsed by [[compactPhashIndex]] and are
    * harmless to probes (duplicate index rows only duplicate a candidate,
    * which the verify dedups per batch doc). */
  def appendToPhashIndex(media: Dataset[MediaRow], path: String,
      codec: MediaCodec = StubCodec): Unit =
    EpochIndex.append(media.sparkSession, path, PhashIndex, "appendToPhashIndex")(
      phashFrames(media, codec))

  /** [[dedupStreamAgainstPhashIndex]]'s admission of ONE epoch outside a
    * stream: stage this slice's hashes as epoch `epochId`, commit. */
  private[graft] def admitPhashEpoch(media: Dataset[MediaRow], path: String,
      epochId: Long, codec: MediaCodec = StubCodec): Unit =
    EpochIndex.admitEpoch(media.sparkSession, path, PhashIndex, epochId)(
      phashFrames(media, codec))

  /** Per-batch-media matches against the persisted index:
    * (media_id, n_index_matched, min_hamming) for every batch row with at
    * least one indexed perceptual near-dup at the index's `maxHamming`.
    * Scale contract mirrors [[Dedup.minHashIndexMatches]]: the BATCH
    * bands broadcast against the index scan (the corpus-scale index never
    * shuffles; its banding is `maxHamming + 1` cheap bit-ops per scanned
    * row), the candidate verify is one popcount per candidate, and
    * `excludeEpoch` leaves a replaying epoch's own admission unread.
    * Batch-INTERNAL near-dups both survive (the index only knows past
    * batches); compose with [[perceptualDedupPairs]] for within-batch. */
  def phashIndexMatches(batch: Dataset[MediaRow], path: String,
      codec: MediaCodec = StubCodec,
      excludeEpoch: Option[Long] = None): DataFrame = {
    val spark = batch.sparkSession
    val m = EpochIndex.committed(spark, path, PhashIndex)
    val maxHamming = m.param("max_hamming").toInt
    val bHash = perceptualHash(batch, codec)
    val bBand = bHash.select(col("media_id"),
        posexplode(array(Dedup.hammingChunks(col("phash"), maxHamming): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "chunk")
    val idx = EpochIndex.scan(spark, path, PhashIndex, m, "hashes", excludeEpoch)
    val iBand = idx.select(col("media_id").as("idx_id"),
        col("phash").as("idx_phash"),
        posexplode(array(Dedup.hammingChunks(col("phash"), maxHamming): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "chunk")
    iBand.join(broadcast(bBand), Seq("band", "chunk"))
      .select(col("media_id"), col("idx_id"), col("idx_phash")).distinct()
      .join(broadcast(bHash.withColumnRenamed("phash", "__bp")), Seq("media_id"))
      .withColumn("hamming",
        bit_count(col("__bp").bitwiseXOR(col("idx_phash"))))
      .filter(col("hamming") <= maxHamming)
      .groupBy(col("media_id"))
      .agg(count(lit(1)).as("n_index_matched"),
        min(col("hamming")).as("min_hamming"))
  }

  /** Rows of `batch` with NO perceptual near-dup in the persisted index —
    * the incremental admission filter ([[Dedup.dedupAgainstHashIndex]]'s
    * re-encode-robust media sibling). */
  def dedupAgainstPhashIndex(batch: Dataset[MediaRow], path: String,
      codec: MediaCodec = StubCodec,
      excludeEpoch: Option[Long] = None): Dataset[MediaRow] = {
    val matches = phashIndexMatches(batch, path, codec, excludeEpoch)
      .select(col("media_id").as("__dup_id"))
    import batch.sparkSession.implicits._
    // matches <= batch rows by construction; without the hint the
    // anti-join would sort-merge-shuffle the batch
    batch.join(broadcast(matches),
        batch("media_id") === col("__dup_id"), "left_anti")
      .as[MediaRow]
  }

  /** Continuous-ingestion form, with [[Dedup.dedupStreamAgainstHashIndex]]'s
    * replay contract verbatim: every micro-batch probes the index
    * EXCLUDING its own epoch, survivors go to `writeBatch` (idempotent on
    * the epoch id) while their hashes are staged, and the epoch commits
    * only after both succeeded — an at-least-once retry recomputes the
    * identical survivor set. One live stream per index path. */
  def dedupStreamAgainstPhashIndex(stream: DataFrame, path: String,
      codec: MediaCodec = StubCodec, admit: Boolean = true)(
      writeBatch: (Dataset[MediaRow], Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    EpochIndex.foreachEpoch(stream, path, PhashIndex, admit)((batch, epochId) => {
      import batch.sparkSession.implicits._
      dedupAgainstPhashIndex(batch.as[MediaRow], path, codec, excludeEpoch = Some(epochId))
    })((fresh, m) => phashFrames(fresh, codec)(m))(writeBatch)

  /** Merge the committed epochs into one generation, dropping duplicate
    * (media_id, phash) rows; only run while no stream owns the index.
    * Returns epochs merged, 0 if already compact. */
  def compactPhashIndex(spark: SparkSession, path: String): Int =
    EpochIndex.compact(spark, path, PhashIndex, "compactPhashIndex")

  /** Build a MediaRow table from the documents corpus (text bytes standing in
    * for media payloads — deterministic, keeps the pipeline testable). */
  def mediaFromDocuments(spark: SparkSession, docsPath: String): Dataset[MediaRow] = {
    import spark.implicits._
    spark.read.parquet(docsPath)
      .select(col("doc_id").as("media_id"),
        col("text").cast("binary").as("content"),
        // deterministic pseudo-format assignment
        when(pmod(col("doc_id"), lit(3)) === 0, "image")
          .when(pmod(col("doc_id"), lit(3)) === 1, "audio")
          .otherwise("video").as("format"),
        col("source"))
      .as[MediaRow]
  }

  /** Metadata summary used by the oracle-checked query (byte length and md5
    * are engine-agnostic, so this one IS DuckDB-verifiable). */
  def metadataSummary(media: DataFrame): DataFrame =
    media.select(col("media_id"), col("format"),
      length(col("content")).as("byte_len"),
      md5(col("content")).as("content_md5"))
}
