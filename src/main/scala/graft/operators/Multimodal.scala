package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multimodal-column operators m01–m02: image/audio/video payloads as
  * opaque `binary` columns with typed metadata and feature extraction
  * via per-partition batch processing (`mapPartitions`) — the shape a
  * real decoder (PIL/ffmpeg/torchvision) plugs into. The decode step
  * itself is a DETERMINISTIC STUB (this container ships no media
  * libraries): it derives width/height/frames/features from the
  * payload bytes, so the Spark-side plumbing — binary schema, batch
  * iterator, typed output encoder, no driver collect — is fully real
  * and oracle-checkable while the codec is fake.
  *
  * The test corpus has no binary table, so the payload is
  * materialized from `documents.text` (`cast to binary` = UTF-8
  * bytes), standing in for an image/audio blob column.
  */
object Multimodal {

  /** Typed metadata record a real container probe would return. */
  final case class MediaMeta(doc_id: Long, n_bytes: Long, magic: String,
      width: Long, height: Long, n_frames: Long)

  /** Fixed-width feature record (16-bin nibble histogram stub). */
  final case class MediaFeatures(doc_id: Long, features: Seq[Double])

  private def payloads(documents: DataFrame) =
    documents
      .filter(col("text").isNotNull) // a null blob has no bytes to probe
      .select(col("doc_id"), col("text").cast("binary").as("payload"))

  /** Payloads for the DOC-KEYED operators (typed records address
    * media by doc_id): a keyless (NULL doc_id) payload cannot be
    * addressed and is excluded here — and by the same predicate in
    * those operators' oracles. The content-keyed ops (m05/m07/m08)
    * keep keyless rows: content addressing doesn't need the doc key.
    */
  private def keyedPayloads(documents: DataFrame) =
    payloads(documents).filter(col("doc_id").isNotNull)

  /** m01_multimodal_meta — per-payload typed metadata: byte size,
    * 4-byte magic (hex), and stub-decoded dimensions. Runs as a
    * partition-batch pass over the binary column: each executor core
    * receives an iterator of payloads and maps them through the
    * (stubbed) probe — exactly where a batched decoder goes. Pure
    * map-side, no shuffle.
    */
  def multimodalMeta(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    keyedPayloads(documents).as[(Long, Array[Byte])]
      .mapPartitions { batch =>
        batch.map { case (id, bytes) =>
          val n = bytes.length.toLong
          // STUB decode: a real probe parses the container header here.
          val magic = bytes.take(4).map(b => f"${b & 0xff}%02x").mkString
          MediaMeta(id, n, magic,
            width = 16L + n % 624L,
            height = 16L + (n * 7L) % 464L,
            n_frames = 1L + n % 9L)
        }
      }
      .toDF()
  }

  /** m02_image_features — payload → fixed-width feature vector (16
    * doubles). Stub featurizer: normalized high-nibble histogram of
    * the payload bytes — deterministic, byte-shape-sensitive, and the
    * same batch-iterator signature a real embedding model (batched
    * tensor in, vector out) requires. Map-side only.
    *
    * Bins round HALF_UP in decimal (not `math.rint`'s half-even) so
    * the values are reproducible by any engine's `round(x, 6)`.
    */
  def imageFeatures(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    keyedPayloads(documents).as[(Long, Array[Byte])]
      .mapPartitions { batch =>
        batch.map { case (id, bytes) =>
          val hist = new Array[Double](16)
          bytes.foreach(b => hist((b >> 4) & 0xf) += 1d)
          val n = math.max(bytes.length, 1).toDouble
          MediaFeatures(id, hist.toIndexedSeq.map(c =>
            BigDecimal(c / n)
              .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
        }
      }
      .toDF()
  }

  /** m02's oracle projection: the feature vector exploded to one
    * (doc_id, pos, feature) row per bin — scalar columns the driver's
    * hash compare can check exactly (array columns can't be
    * row-sorted by the comparator).
    */
  def imageFeatureRows(documents: DataFrame): DataFrame =
    imageFeatures(documents).select(
      col("doc_id"),
      posexplode(col("features")).as(Seq("pos", "feature")))
      .withColumn("pos", col("pos").cast("long"))

  /** Resized-payload record: original size, thumbnail size, and a
    * position-weighted checksum of the thumbnail bytes (verifies the
    * actual resampled CONTENT, not just its length).
    */
  final case class ResizedMedia(doc_id: Long, n_bytes: Long,
      stride: Long, n_resized: Long, checksum: Long)

  /** m03_resize — payload → fixed-max-width thumbnail. Stub resampler:
    * nearest-neighbor downsample to ≤ `target` bytes by taking every
    * stride-th byte (stride = ceil(n/target)) — the 1-D analog of
    * image nearest-neighbor resize, which is exactly the memory-shape
    * problem at scale: the operator must bound the per-row output
    * size before a 100 TB corpus of arbitrarily large blobs flows
    * into downstream stages. Same partition-batch iterator a real
    * resize kernel (libvips/PIL) plugs into; map-side only.
    *
    * checksum = Σ (i+1)·byte(i·stride) mod 1e9+7 over thumbnail
    * positions i — position-weighted so byte order matters.
    */
  def resize(documents: DataFrame, target: Int = 64): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    keyedPayloads(documents).as[(Long, Array[Byte])]
      .mapPartitions { batch =>
        batch.map { case (id, bytes) =>
          val n = bytes.length
          val stride = math.max(1L, (n + target - 1L) / target)
          var i = 0L
          var t = 0L
          var sum = 0L
          while (t < n) {
            sum = (sum + (i + 1L) * (bytes(t.toInt) & 0xff)) % 1000000007L
            i += 1L
            t += stride
          }
          ResizedMedia(id, n.toLong, stride, i, sum)
        }
      }
      .toDF()
  }

  /** Sampled-frame record: one row per kept frame. */
  final case class SampledFrame(doc_id: Long, frame_id: Long,
      n_frame_bytes: Long, frame_checksum: Long)

  /** m04_frame_sample — treat the payload as a sequence of
    * `frameBytes`-wide frames (a stub video container) and keep every
    * `every`-th frame — the canonical video→training-data reduction
    * (uniform temporal subsampling). One output ROW per kept frame:
    * the batch iterator flat-maps, so a single huge payload fans out
    * to many bounded rows instead of one unbounded one — the shape
    * that keeps downstream shuffles partition-sized at 100 TB.
    *
    * frame_checksum = Σ (j+1)·byte(j) mod 1e9+7 within the frame.
    */
  def frameSample(documents: DataFrame, frameBytes: Int = 32,
      every: Int = 4): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    keyedPayloads(documents).as[(Long, Array[Byte])]
      .mapPartitions { batch =>
        batch.flatMap { case (id, bytes) =>
          val n = bytes.length
          val nFrames = (n + frameBytes - 1) / frameBytes
          (0 until nFrames by every).iterator.map { f =>
            val lo = f * frameBytes
            val hi = math.min(lo + frameBytes, n)
            var sum = 0L
            var j = lo
            while (j < hi) {
              sum = (sum + (j - lo + 1L) * (bytes(j) & 0xff)) % 1000000007L
              j += 1
            }
            SampledFrame(id, f.toLong, (hi - lo).toLong, sum)
          }
        }
      }
      .toDF()
  }

  /** m05_media_dedup — exact content dedup over the BINARY payload
    * column: the image/audio analog of d01 (a crawl's media set is
    * full of byte-identical copies under different ids/URLs). Groups
    * by md5 of the payload — a REAL cryptographic digest both
    * engines implement bit-identically, so unlike the xxhash64
    * dedup family this oracle has no engine-vs-oracle hash gap —
    * keeping the min-id representative and the copy count. At scale
    * the shuffle carries (16-byte digest, id, length) per payload,
    * never the blob; the digest itself is computed map-side in one
    * pass over the bytes.
    */
  def mediaDedup(documents: DataFrame): DataFrame =
    payloads(documents)
      .select(col("doc_id"), md5(col("payload")).as("content_md5"),
        length(col("payload")).cast("long").as("n_bytes"))
      .groupBy(col("content_md5"))
      .agg(min(col("doc_id")).as("rep_id"),
        count(lit(1)).as("n_copies"),
        min(col("n_bytes")).as("n_bytes"))

  /** m07_cdc_dedup — CHUNK-level binary dedup via content-defined
    * chunking: m05 dedups only byte-identical payloads and m06 only
    * whole-payload perceptual neighbors; neither sees the "same
    * media, re-muxed with a new header" or "shard re-exported with
    * ten rows prepended" case, where most BYTES are shared but no
    * payload-level key matches. CDC boundaries (CdcChunks kernel:
    * rolling-hash test, rsync/LBFS) re-synchronize after an edit, so
    * shared runs land in identical chunks and dedup by chunk digest
    * — the storage-level dedup a 100 TB multimodal corpus runs, and
    * d09's substring-dedup idea carried to BINARY payloads.
    *
    * Chunk digest = md5 of the LOWERCASE-HEX rendering of the chunk
    * bytes — the portable form (DuckDB's md5 is VARCHAR-only; hex is
    * ASCII, so both engines hash identical bytes). Scale shape: one
    * payload scan, boundaries + digests map-side (the kernel is one
    * O(n) pass, chunk slices never leave the executor unhashed); the
    * only shuffle carries (16-byte digest, id, len) per CHUNK —
    * corpus bytes / 2^maskBits rows; the group-by is algebraic.
    * Emits per distinct chunk: representative, copy count, and the
    * bytes chunk-level dedup would reclaim.
    */
  def cdcDedup(documents: DataFrame): DataFrame =
    payloads(documents)
      .select(col("doc_id"), col("payload"),
        posexplode(graft.functions.CdcExprs.cdcChunks(col("payload"))))
      .select(col("doc_id"),
        md5(lower(hex(expr(
          "substring(payload, CAST(col.start AS INT) + 1, " +
            "CAST(col.len AS INT))")))).as("chunk_md5"),
        col("col.len").as("n_bytes"))
      .groupBy(col("chunk_md5"))
      .agg(min(col("doc_id")).as("rep_id"),
        count(lit(1)).as("n_copies"),
        min(col("n_bytes")).cast("long").as("n_bytes"))
      .withColumn("saved_bytes",
        ((col("n_copies") - 1) * col("n_bytes")).cast("long"))

  /** Per-payload perceptual hash record: the 64-bit aHash as eight
    * 8-bit chunk values (chunk k = bits [8k, 8k+8)) — stored split
    * so the band join keys on a chunk directly and no signed-64
    * edge case exists.
    */
  final case class PHash(doc_id: Long, n_bytes: Long, chunks: Seq[Long])

  /** Payload → blockwise average hash, the perceptual fingerprint a
    * real pipeline computes from decoded pixels (aHash: downsample,
    * threshold each cell at the global mean). STUB decode per the
    * module contract: the "image" is the raw byte sequence, cut into
    * 64 balanced blocks (block of byte i = i·64/n); bit j is set iff
    * block j's mean exceeds the payload mean — compared as the exact
    * integer cross-product blocksum·n > totalsum·blockcount, so both
    * engines agree bit-for-bit with no division. One batch-iterator
    * pass per payload, map-side only. Payloads under 64 bytes have no
    * 64-cell grid and are not fingerprintable (filtered, like a real
    * decoder rejecting a truncated image). Exact up to payloads of
    * ~1.9e8 bytes (blocksum·n < 2^63 at byte values ≤ 255).
    */
  def phashChunks(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    keyedPayloads(documents).as[(Long, Array[Byte])]
      .mapPartitions { batch =>
        batch.flatMap { case (id, bytes) =>
          val n = bytes.length
          if (n < 64) None
          else {
            val sums = new Array[Long](64)
            val cnts = new Array[Long](64)
            var total = 0L
            var i = 0
            while (i < n) {
              val j = ((i.toLong * 64L) / n).toInt
              val v = (bytes(i) & 0xff).toLong
              sums(j) += v; cnts(j) += 1L; total += v
              i += 1
            }
            val chunks = new Array[Long](8)
            var j = 0
            while (j < 64) {
              if (sums(j) * n > total * cnts(j))
                chunks(j >> 3) |= (1L << (j & 7))
              j += 1
            }
            Some(PHash(id, n.toLong, chunks.toIndexedSeq))
          }
        }
      }
      .toDF()
  }

  /** m06_phash_dedup — NEAR-dup detection over the binary payload
    * column (m05 catches byte-identical copies; this catches
    * re-encodes/minor edits whose perceptual hash stays close).
    * Candidates are pairs sharing any of the eight 8-bit hash chunks
    * — the pigeonhole band join (d03's shape): a pair within Hamming
    * distance 7 differs in at most 7 of 8 chunks, so it MUST agree on
    * one; for `maxHamming` ≤ 7 banding is lossless. The shuffle
    * carries (chunk_id, chunk_value, doc_id) — never payloads.
    * Buckets larger than `maxBucket` docs are dropped before the
    * self-join (a degenerate constant-ish corpus would otherwise go
    * quadratic); the ORACLE replicates the guard identically, so the
    * comparison stays exact — and byte-identical clique mass belongs
    * to m05's exact layer anyway, which runs first in any real
    * pipeline. Survivor pairs verify on the full 8 chunks:
    * hamming = Σ bit_count(chunk_a XOR chunk_b), integer-exact in
    * both engines.
    */
  def phashDedup(documents: DataFrame, maxHamming: Int = 6,
      maxBucket: Int = 256): DataFrame = {
    // Postings CARRY the 8-chunk array (64 bytes/row): the verify
    // step then reads both sides' hashes off the band join itself —
    // no join-back to the fingerprint table, so the batch decode runs
    // ONCE and the band self-join probes one exchange twice
    // (ReusedExchange; the alternative — slim postings + two
    // verify-side rejoins — re-decodes the corpus per branch, the
    // d02 lesson).
    val postings = phashChunks(documents)
      .select(col("doc_id"), col("chunks"),
        posexplode(col("chunks")).as(Seq("chunk_id", "cv")))
    val inBucket = Dedup.capHotKeys(postings, maxBucket, "chunk_id", "cv")
    // hamming verifies MAP-SIDE straight off the band join and the
    // ≤ maxHamming filter runs BEFORE the pair dedup — the dedup
    // exchange then carries only true near-dup pairs, not the
    // candidate blowup. The 8-term popcount sum is UNROLLED (fixed
    // chunk count): an HOF aggregate/zip_with here is interpreted
    // per element and runs once per CANDIDATE — the hot spot — while
    // the unrolled form stays inside whole-stage codegen.
    val hamming = (0 until 8)
      .map(i => bit_count(element_at(col("x.chunks"), i + 1)
        .bitwiseXOR(element_at(col("y.chunks"), i + 1))).cast("long"))
      .reduce(_ + _)
    inBucket.as("x")
      .join(inBucket.as("y"),
        col("x.chunk_id") === col("y.chunk_id") &&
          col("x.cv") === col("y.cv") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        hamming.as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("doc_a", "doc_b") // same pair, several chunks
  }
}
