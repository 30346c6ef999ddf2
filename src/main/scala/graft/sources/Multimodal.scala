package graft.sources

import graft.Tables
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing (SURVEY.md §2b): media as opaque
  * `binary` payloads + typed metadata, processed in per-partition
  * batches.
  *
  * Both media paths are REAL decodes through `javax.imageio` — the
  * codec the JDK ships. Images: each payload is rendered as an
  * uncompressed 24-bit BMP (deterministic bytes, synthesized
  * in-query) and decoded, with the decoded dimensions and pixel
  * statistics emitted as features. Frames: the payload is packed
  * into a minimal indexed container ([n][offset,len pairs] + BMP
  * frames) and the sampler does what a consumer does — parse the
  * index, seek each frame's extent, decode it, emit decoded pixel
  * sums via a bounded flatMap (one row per frame). The oracles
  * recompute both from the same bytes: BMP is uncompressed, so pixel
  * planes and index arithmetic are SQL-expressible.
  */
object Multimodal {

  /** A media record: opaque payload + metadata the pipeline trusts. */
  case class MediaRecord(doc_id: Long, payload: Array[Byte],
                         width: Int, height: Int, fmt: String)

  /** Features the decoder emits per record: raw-byte stats, the
    * nearest-neighbor thumbnail of the decoded image (thumb_w/thumb_h/
    * thumb_checksum), and the ImageIO-decoded dimensions + pixel sum
    * (img_w/img_h/pixel_sum/thumb_* all come from the DECODED
    * BufferedImage, not the metadata — a decode or resize that
    * silently produced the wrong plane would hash-mismatch). */
  case class MediaFeatures(doc_id: Long, n_bytes: Int, checksum: Long,
                           width: Int, height: Int, n_pixels: Long,
                           thumb_w: Int, thumb_h: Int, thumb_checksum: Long,
                           img_w: Int, img_h: Int, pixel_sum: Long,
                           fmt: String)

  /** Manufacture a binary "media" column from the documents table —
    * payload = UTF-8 bytes of the text (stands in for image bytes),
    * dimensions derived deterministically from doc_id. */
  def mediaTable(s: SparkSession, d: String): Dataset[MediaRecord] = {
    import s.implicits._
    // every consumer of this table decodes per-row (ImageIO / WAV /
    // phash planes) — spread a narrow scan across cores first
    graft.Util.fanOut(Tables.documents(s, d)
      .select(col("doc_id"),
        col("text").cast("binary").as("payload"),
        ((col("doc_id") % 64 + 16) * 8).cast("int").as("width"),
        ((col("doc_id") % 48 + 12) * 8).cast("int").as("height"),
        lit("fake/raw").as("fmt"))
      .as[MediaRecord])
  }

  /** Deterministic 24-bit bottom-up BMP whose decoded pixel (x, y)
    * (top-left origin) is the grayscale value payload[(y*w + x) mod
    * len] — a synthetic but REAL image file, byte-derived so the
    * oracle can recompute the pixel plane in SQL. */
  private[graft] def bmpBytes(payload: Array[Byte], w: Int, h: Int): Array[Byte] = {
    val rowBytes = (w * 3 + 3) / 4 * 4
    val imageSize = rowBytes * h
    val buf = java.nio.ByteBuffer.allocate(54 + imageSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put('B'.toByte).put('M'.toByte).putInt(54 + imageSize)
      .putInt(0).putInt(54)
    buf.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
      .putInt(0).putInt(imageSize).putInt(2835).putInt(2835)
      .putInt(0).putInt(0)
    val len = payload.length
    var fileRow = 0
    while (fileRow < h) {
      val y = h - 1 - fileRow // bottom-up storage
      var x = 0
      while (x < w) {
        val v = payload((y * w + x) % len)
        buf.put(v).put(v).put(v)
        x += 1
      }
      var p = w * 3
      while (p < rowBytes) { buf.put(0.toByte); p += 1 }
      fileRow += 1
    }
    buf.array()
  }

  /** Decoded image dimensions — small (≤19×15) so 100k-record
    * partitions stay cheap; derived from doc_id like the claimed
    * metadata dims. */
  private def imgDims(docId: Long): (Int, Int) =
    ((docId % 16 + 4).toInt, (docId % 12 + 4).toInt)

  /** Per-partition BMP decoder: the ImageIO reader is looked up once
    * per task and re-used for every record — the codec-init
    * amortization shape partition-batched decode exists for (the
    * `ImageIO.read` convenience API re-scans the plugin registry and
    * allocates a reader per call). For this tiny-frame workload the
    * decode work itself dominates (measured ≈unchanged), but for a
    * real codec with expensive init this structure is the difference
    * that matters — which is why the helper exists. */
  private class BmpDecoder {
    private val reader =
      javax.imageio.ImageIO.getImageReadersByFormatName("bmp").next()
    def decode(bytes: Array[Byte], off: Int, len: Int): java.awt.image.BufferedImage = {
      // MemoryCacheImageInputStream explicitly: the createImageInputStream
      // convenience defaults to a FILE-backed cache (a temp-file
      // create/delete per record) even for in-memory byte arrays
      val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(bytes, off, len))
      try {
        reader.setInput(iis)
        reader.read(0)
      } finally iis.close()
    }
    def pixelSum(img: java.awt.image.BufferedImage): Long = {
      var sum = 0L
      var y = 0
      while (y < img.getHeight) {
        var x = 0
        while (x < img.getWidth) { sum += img.getRGB(x, y) & 0xff; x += 1 }
        y += 1
      }
      sum
    }
  }

  /** REAL resize: nearest-neighbor downscale of a DECODED image by
    * `factor` — thumb pixel (tx, ty) samples source pixel
    * (tx*w/tw, ty*h/th), the standard NN mapping. Returns
    * (thumb_w, thumb_h, gray-plane sum). The arithmetic is pure
    * integer division over the decoded plane, so the oracle recomputes
    * the exact thumbnail in SQL (same modular plane as pixel_sum).
    * Dims floor at 1 so degenerate sources still thumbnail. */
  private[graft] def nearestNeighborThumb(img: java.awt.image.BufferedImage,
                                          factor: Int): (Int, Int, Long) = {
    val w = img.getWidth; val h = img.getHeight
    val tw = math.max(1, w / factor)
    val th = math.max(1, h / factor)
    var sum = 0L
    var ty = 0
    while (ty < th) {
      val sy = ty * h / th
      var tx = 0
      while (tx < tw) {
        sum += img.getRGB(tx * w / tw, sy) & 0xff
        tx += 1
      }
      ty += 1
    }
    (tw, th, sum)
  }

  /** REAL decode: synthesize the BMP from the payload, decode it with
    * the JDK's ImageIO BMP codec (one reader per partition — see
    * [[BmpDecoder]]), and read features off the decoded
    * BufferedImage. */
  private def decode(r: MediaRecord, dec: BmpDecoder): MediaFeatures = {
    // empty payloads are rejected LOUDLY: the pixel plane (and the
    // oracle's modular arithmetic over it) is undefined on zero bytes,
    // and a silent zeroed row would diverge from the oracle anyway —
    // invalid media must fail the pipeline, not pass as features
    require(r.payload.nonEmpty, s"doc ${r.doc_id}: empty media payload")
    var sum = 0L
    var i = 0
    while (i < r.payload.length) { sum += (r.payload(i) & 0xff); i += 1 }
    val (w, h) = imgDims(r.doc_id)
    val bytes = bmpBytes(r.payload, w, h)
    val img = dec.decode(bytes, 0, bytes.length)
    // real resize of the real decode: thumb_* comes from a
    // nearest-neighbor downscale of the DECODED BufferedImage (2× —
    // decoded dims are 4..19, so the thumb keeps ≥2 px per axis)
    val (tw, th, tsum) = nearestNeighborThumb(img, factor = 2)
    MediaFeatures(r.doc_id, r.payload.length, sum % 100000,
      r.width, r.height, r.width.toLong * r.height,
      tw, th, tsum % 100000,
      img.getWidth, img.getHeight, dec.pixelSum(img) % 100000, r.fmt)
  }

  /** multimodal_meta query: batch-decode features over partitions. */
  def features(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    mediaTable(s, d)
      .mapPartitions { it =>
        val dec = new BmpDecoder
        it.map(r => decode(r, dec))
      }
      .toDF()
      .orderBy(col("doc_id"))
  }

  /** A sampled frame of a media container: its byte extent in the
    * container plus the decoded pixel-plane sum. */
  case class Frame(doc_id: Long, frame_idx: Int, offset: Int,
                   frame_len: Int, frame_checksum: Long)

  /** Frame geometry of the synthetic container: every frame is a
    * FrameW×FrameH 24-bit BMP; frame i's pixel plane is the payload
    * window starting at byte i*FrameStride (mod len) — a moving
    * window, so successive frames sample successive payload regions
    * like keyframes sample a stream. */
  private val FrameW = 8
  private val FrameH = 6
  private val FrameStride = 32
  /** 54-byte BMP header + rows padded to 4 bytes. */
  private[graft] val FrameBytes = 54 + ((FrameW * 3 + 3) / 4 * 4) * FrameH

  /** Deterministic multi-frame container: `[n:int32][offset,len:int32
    * pairs]` index followed by `n` concatenated BMP frames — the
    * minimal honest shape of a video container (an index to seek by +
    * per-frame codec payloads). */
  private[graft] def containerBytes(payload: Array[Byte], nFrames: Int): Array[Byte] = {
    val headerLen = 4 + 8 * nFrames
    val buf = java.nio.ByteBuffer.allocate(headerLen + nFrames * FrameBytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.putInt(nFrames)
    (0 until nFrames).foreach { i =>
      buf.putInt(headerLen + i * FrameBytes).putInt(FrameBytes)
    }
    val len = payload.length
    (0 until nFrames).foreach { i =>
      // frame plane j = payload[(i*stride + j) mod len]: materialize
      // the window, reuse the single-image BMP encoder
      val plane = Array.tabulate(FrameW * FrameH)(j =>
        payload((i * FrameStride + j) % len))
      buf.put(bmpBytes(plane, FrameW, FrameH))
    }
    buf.array()
  }

  /** REAL frame sampling: build the container from the payload, then
    * decode it the way a consumer would — parse the index, seek each
    * frame's extent, ImageIO-decode the frame bytes, and emit the
    * decoded pixel sum. Up to `maxFrames` frames per record — the
    * bounded flatMap fan-out that survives at scale. */
  def frameSample(s: SparkSession, d: String,
                  maxFrames: Int = 4): DataFrame = {
    import s.implicits._
    mediaTable(s, d)
      .mapPartitions { records =>
        val dec = new BmpDecoder
        records.flatMap { r =>
          require(r.payload.nonEmpty, s"doc ${r.doc_id}: empty media payload")
          val n = math.min(maxFrames, math.max(1, r.payload.length / FrameStride))
          val container = containerBytes(r.payload, n)
          val idx = java.nio.ByteBuffer.wrap(container)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          val nStored = idx.getInt()
          require(nStored == n, s"doc ${r.doc_id}: corrupt container index")
          (0 until nStored).iterator.map { i =>
            val off = idx.getInt(4 + 8 * i)
            val len = idx.getInt(4 + 8 * i + 4)
            val img = dec.decode(container, off, len)
            Frame(r.doc_id, i, off, len, dec.pixelSum(img) % 100000)
          }
        }
      }
      .toDF()
      .orderBy(col("doc_id"), col("frame_idx"))
  }

  /** Adjacent-frame difference row: L1 plane distance between frame
    * `frame_idx` and its predecessor, flagged as a cut when it
    * exceeds the threshold. */
  case class SceneCut(doc_id: Long, frame_idx: Int, diff_energy: Long,
                      is_cut: Boolean)

  /** multimodal_scenecut: scene-change detection over the frame
    * stream — the keyframe-selection primitive of video curation
    * (sample ONE frame per scene instead of a fixed stride; dedup
    * near-static spans). Each container's frames are REALLY decoded
    * (same index-parse → seek → ImageIO path as [[frameSample]]) and
    * adjacent frames compared by L1 plane distance
    * Σ|p_i − p_{i−1}|; a cut fires above `threshold`. Per-record
    * work is a bounded flatMap (≤ maxFrames decodes, two planes
    * compared pixelwise — position mapping identical across frames,
    * so the sum is layout-independent); pure integer arithmetic, so
    * the oracle recomputes every diff from the payload bytes. */
  def sceneCuts(s: SparkSession, d: String, maxFrames: Int = 8,
                threshold: Long = 1000): DataFrame =
    sceneCutsOn(Tables.documents(s, d).select(col("doc_id"), col("text")),
      maxFrames, threshold)

  def sceneCutsOn(docs: DataFrame, maxFrames: Int = 8,
                  threshold: Long = 1000): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    graft.Util.fanOut(docs.select(col("doc_id"), col("text"))
      .as[(Long, String)])
      .mapPartitions { records =>
        val dec = new BmpDecoder
        records.flatMap { case (docId, text) =>
          val payload = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val n = math.min(maxFrames,
            math.max(1, payload.length / FrameStride))
          if (n < 2) Iterator.empty
          else {
            val container = containerBytes(payload, n)
            val idx = java.nio.ByteBuffer.wrap(container)
              .order(java.nio.ByteOrder.LITTLE_ENDIAN)
            val nStored = idx.getInt()
            val imgs = (0 until nStored).map { i =>
              val off = idx.getInt(4 + 8 * i)
              val len = idx.getInt(4 + 8 * i + 4)
              dec.decode(container, off, len)
            }
            (1 until nStored).iterator.map { i =>
              val (a, b) = (imgs(i - 1), imgs(i))
              var diff = 0L
              var y = 0
              while (y < b.getHeight) {
                var x = 0
                while (x < b.getWidth) {
                  diff += math.abs((b.getRGB(x, y) & 0xff) -
                    (a.getRGB(x, y) & 0xff))
                  x += 1
                }
                y += 1
              }
              SceneCut(docId, i, diff, diff > threshold)
            }
          }
        }
      }
      .toDF()
      .orderBy(col("doc_id"), col("frame_idx"))
  }

  val sceneCutsOracle: String = """
    WITH d AS (SELECT doc_id, text, length(text) AS L FROM documents),
    f AS (
      SELECT doc_id, CAST(fi AS INT) AS frame_idx, text, L
      FROM d CROSS JOIN range(1, 8) r(fi)
      WHERE fi < least(8, greatest(1, L // 32))),
    e AS (
      SELECT doc_id, frame_idx,
        CAST(list_sum(list_transform(range(0, 48),
          j -> abs(
            unicode(text[CAST((frame_idx * 32 + j) % L AS INT) + 1
                         : CAST((frame_idx * 32 + j) % L AS INT) + 1]) -
            unicode(text[CAST(((frame_idx - 1) * 32 + j) % L AS INT) + 1
                         : CAST(((frame_idx - 1) * 32 + j) % L AS INT) + 1]))))
          AS BIGINT) AS diff_energy
      FROM f)
    SELECT doc_id, frame_idx, diff_energy, diff_energy > 1000 AS is_cut
    FROM e ORDER BY doc_id, frame_idx"""

  // ---- image perceptual-hash near-dup (dedup_phash) ----------------------

  /** Image plants for [[phashDups]] (the [[graft.operators.Dedup
    * .withPlants]] construction moved to image space): ids shift by
    * 96000 — divisible by BOTH 16 and 12, so the planted copy decodes
    * at the SAME dimensions as its original (any other offset changes
    * the plane geometry and the hashes diverge entirely). Docs 0-24
    * replant their payload verbatim (identical image ⇒ hamming 0);
    * docs 25-49 replant with the LAST CHAR swapped — the decoded
    * plane changes only at indices ≡ L−1 (mod L), a handful of
    * pixels, so the dHash lands within a few bits of the original
    * (the image near-dup case). */
  def withPhashPlants(docs: DataFrame): DataFrame = {
    val exact = docs.filter(col("doc_id") < 25)
      .withColumn("doc_id", col("doc_id") + 96000)
    val near = docs.filter(col("doc_id") >= 25 && col("doc_id") < 50)
      .withColumn("doc_id", col("doc_id") + 96000)
      .withColumn("text",
        concat(col("text").substr(lit(1), length(col("text")) - 1), lit("q")))
    docs.unionByName(exact).unionByName(near)
  }

  /** 60-bit dHash of a decoded image: nearest-neighbor downscale to
    * an 11×6 grid (the [[nearestNeighborThumb]] index mapping), one
    * horizontal-gradient bit per adjacent pair — 10 bits × 6 rows.
    * 60 bits (not the classic 64) so the signature drops into the
    * existing Manku banding machinery and the oracle's exact 2^j
    * BIGINT arithmetic (bit 63 would overflow DuckDB's power). */
  private[graft] def dHash60(img: java.awt.image.BufferedImage): Long = {
    val w = img.getWidth; val h = img.getHeight
    var sig = 0L
    var y = 0
    while (y < 6) {
      val sy = y * h / 6
      var x = 0
      while (x < 10) {
        val p1 = img.getRGB(x * w / 11, sy) & 0xff
        val p2 = img.getRGB((x + 1) * w / 11, sy) & 0xff
        if (p2 > p1) sig |= (1L << (y * 10 + x))
        x += 1
      }
      y += 1
    }
    sig
  }

  /** (doc_id, phash) signatures: REAL decode (payload → BMP → ImageIO,
    * one reader per partition) then [[dHash60]] — one typed
    * shuffle-free pass, embarrassingly parallel. */
  def phashSignatures(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val dec = new BmpDecoder
        it.map { case (id, text) =>
          val payload = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          require(payload.nonEmpty, s"doc $id: empty media payload")
          val (w, h) = imgDims(id)
          val bytes = bmpBytes(payload, w, h)
          (id, dHash60(dec.decode(bytes, 0, bytes.length)))
        }
      }
      .toDF("doc_id", "phash")
  }

  /** dedup_phash: image NEAR-duplicate pairs — the multimodal analog
    * of text simhash (and the pipeline step image corpora run instead
    * of shingle dedup): decoded planes hash to [[dHash60]], and pairs
    * within hamming ≤ `maxHamming` surface through the exact Manku
    * banding ([[graft.operators.Dedup.bandedHammingCandidates]] — an
    * equi-join on compound chunk keys, never all-pairs). A recompressed
    * or slightly-retouched image moves a few gradient bits; a
    * different image moves ~half of them. The oracle recomputes
    * plane → downscale → gradient → banding in pure integer SQL. */
  def phashDups(s: SparkSession, d: String): DataFrame =
    phashDups(withPhashPlants(
      Tables.documents(s, d).select(col("doc_id"), col("text"))))

  def phashDups(docs: DataFrame, maxHamming: Int = 3,
                numChunks: Int = 6): DataFrame =
    graft.operators.Dedup
      .bandedHammingCandidates(phashSignatures(docs), "phash",
        maxHamming, numChunks)
      .filter(col("hamming") <= maxHamming)
      .orderBy(col("d1"), col("d2"))

  /** dedup_phash_incremental: NEW-BATCH vs STANDING-CORPUS image
    * near-dup — the production shape for the image modality, completing
    * the per-modality incremental triple (text has
    * [[graft.operators.Dedup.dedupIncremental]], embeddings have
    * [[graft.operators.Dedup.dedupEmbIncremental]]): arriving images
    * hash to [[dHash60]] and meet the corpus through the cross-set
    * Manku banding join ([[graft.operators.Dedup
    * .bandedHammingCandidatesAcross]]) — no corpus self-join, batch as
    * the small build side, corpus keys a write-once artifact at scale.
    * The query splits the planted set at the 96000 id boundary (plants
    * are the arriving batch, originals the corpus), so the oracle is
    * the cross-set slice of the one-shot ph_pairs CTE. */
  def phashIncremental(s: SparkSession, d: String): DataFrame = {
    val all = withPhashPlants(
      Tables.documents(s, d).select(col("doc_id"), col("text")))
    phashIncremental(all.filter(col("doc_id") < 96000),
      all.filter(col("doc_id") >= 96000))
  }

  def phashIncremental(corpus: DataFrame, batch: DataFrame,
                       maxHamming: Int = 3, numChunks: Int = 6): DataFrame =
    graft.operators.Dedup
      .bandedHammingCandidatesAcross(phashSignatures(corpus),
        phashSignatures(batch), "phash", maxHamming, numChunks)
      .filter(col("hamming") <= maxHamming)
      .orderBy(col("corpus_id"), col("batch_id"))

  /** phash_topk over the planted corpus: queries = the original docs
    * that own a planted twin (doc_id < 50), so every query has a
    * known hamming-0 (exact replant) or near-0 (retouched) neighbor
    * to retrieve. */
  def phashTopK(s: SparkSession, d: String): DataFrame =
    phashTopK(withPhashPlants(
      Tables.documents(s, d).select(col("doc_id"), col("text"))))

  /** phash_topk: Hamming-space top-k retrieval over IMAGE dHash
    * codes — the multimodal SERVING tier ([[graft.operators.Dedup
    * .hammingTopK]]'s contract on the image modality, completing the
    * per-modality arc pairs → incremental → clusters → index →
    * forget → TOP-K): for each query image, the corpus images within
    * `maxHamming` gradient bits, ranked by (hamming, doc_id), cut at
    * k — reverse-image lookup / provenance search over a standing
    * image corpus. EXACT within the ball (the Manku banding
    * guarantee), pair generation an equi-join on compound chunk keys
    * (never a brute-force scan), radius misses simply return fewer
    * than k rows. At 100 TB the corpus side is the write-once
    * [[writePhashIndex]] artifact — serving re-derives banding keys
    * from 8 stored bytes per image, never re-decoding. */
  def phashTopK(docs: DataFrame, k: Int = 5, maxHamming: Int = 3,
                numChunks: Int = 6): DataFrame =
    // the query-side DECODE runs over the filtered docs only (50
    // images, not the corpus — the image decode dominates every
    // phash operator and the filter cannot cross the opaque
    // mapPartitions signature pass on its own); the top-k contract
    // is the shared banded core (one code path with the text tier)
    graft.operators.Dedup.bandedTopK(phashSignatures(docs),
      phashSignatures(docs.filter(col("doc_id") < 50)), "phash",
      k, maxHamming, numChunks)

  /** Persist the corpus's image signatures — (doc_id, phash), the
    * write-once artifact [[phashIncremental]]'s corpus side assumes
    * (the image analog of [[graft.operators.Dedup.writeBandIndex]]).
    * What the index saves daily is the DECODE: 8 bytes per image vs
    * re-running ImageIO over the standing corpus — the banding keys
    * re-derive from the stored signature in pure column arithmetic. */
  def writePhashIndex(docs: DataFrame, dir: String): Unit =
    phashSignatures(docs).write.mode("overwrite").parquet(dir)

  /** Serve reverse-image top-k off the maintained signature index —
    * the production form the [[phashTopK]] Scaladoc promises: the
    * query batch is decoded+hashed once, the corpus side reads 8
    * bytes per image from the artifact (never re-decoding), and both
    * meet in the shared banded core. Self-exclusion is opt-in
    * (independent id spaces — the annIvfServeBatch rule); parity
    * with the in-query form on a shared id space is spec'd with
    * excludeSelf = true. */
  def phashTopKServeBatch(s: SparkSession, indexDir: String,
                          batch: DataFrame, k: Int = 5,
                          maxHamming: Int = 3, numChunks: Int = 6,
                          excludeSelf: Boolean = false): DataFrame =
    graft.operators.Dedup.bandedTopK(s.read.parquet(indexDir),
      phashSignatures(batch), "phash", k, maxHamming, numChunks,
      excludeSelf)

  /** One day of the image-dedup production loop: decode + hash the
    * arriving batch ONCE, detect its near-dups against the maintained
    * signature index (cross-set banding join — corpus images never
    * re-decoded), then append the batch's signatures so tomorrow's
    * batch sees today's images ([[graft.operators.Dedup
    * .detectThenAppend]]). The index is maintained as
    * [[graft.operators.Dedup.PhashIndex]]. Loop invariant spec'd in
    * TextSpec: day-N detection ≡ [[phashIncremental]] of (corpus ∪
    * earlier batches, day-N batch). */
  def dedupPhashIncrementalStep(s: SparkSession, indexDir: String,
                                batch: DataFrame, maxHamming: Int = 3,
                                numChunks: Int = 6): DataFrame = {
    val bSigs = phashSignatures(batch).localCheckpoint()
    graft.operators.Dedup.detectThenAppend(indexDir,
      graft.operators.Dedup
        .bandedHammingCandidatesAcross(s.read.parquet(indexDir), bSigs,
          "phash", maxHamming, numChunks)
        .filter(col("hamming") <= maxHamming),
      bSigs)
      .orderBy(col("corpus_id"), col("batch_id"))
  }

  /** dedup_phash_clusters: the image-dedup CAPSTONE — [[phashDups]]
    * pairs → connected components → (doc_id, cluster_id) keeper map,
    * exactly parallel to the text capstones (dedup_clusters over
    * minhash, dedup_emb_clusters over embedding LSH): an image can be
    * transitively near-duplicate of one it shares no chunk key with.
    * Same scale shape — banded pair generation + the safe CC. */
  def phashClusters(s: SparkSession, d: String): DataFrame =
    graft.operators.Dedup.connectedComponentsSafe(
      phashDups(s, d).select(col("d1"), col("d2")))
      .select(col("node").as("doc_id"), col("cluster_id"))
      .orderBy(col("doc_id"))

  // ---- audio ------------------------------------------------------------

  /** One analysis window of a decoded audio record: sample_rate and
    * n_samples come from the DECODED stream (javax.sound's WAV
    * parser — the JDK's audio codec, the ImageIO analog), not the
    * claimed metadata; energy/zero-crossings/peak are integer
    * features of the decoded 16-bit samples (nothing to round). */
  case class AudioWindow(doc_id: Long, sample_rate: Int, n_samples: Int,
                         win: Int, win_n: Int, energy: Long,
                         zero_crossings: Int, peak: Int)

  /** Deterministic sample synthesis shared with the oracle:
    * s(i) = (unicode(text[(i mod L)+1]) − 96) · 256, wrapped to 16
    * bits — letters land positive, spaces negative, so zero crossings
    * actually occur. The `.toShort` wraparound is mirrored EXACTLY by
    * the oracle's ((v + 32768) % 65536) − 32768 (codepoints ≥ 224
    * overflow a short; on such text an unwrapped oracle would silently
    * diverge). Empty text is the CALLER's guard ([[audioFeaturesOn]]
    * filters it) — there is no sample stream to synthesize from zero
    * bytes. */
  private def sampleAt(text: String, i: Int): Short =
    ((text.charAt(i % text.length).toInt - 96) * 256).toShort

  /** Minimal canonical RIFF/WAVE: 16-bit little-endian mono PCM. */
  private[graft] def wavBytes(samples: Array[Short], rate: Int): Array[Byte] = {
    val dataSize = samples.length * 2
    val buf = java.nio.ByteBuffer.allocate(44 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes).putInt(36 + dataSize).put("WAVE".getBytes)
    buf.put("fmt ".getBytes).putInt(16).putShort(1).putShort(1)
      .putInt(rate).putInt(rate * 2).putShort(2).putShort(16)
    buf.put("data".getBytes).putInt(dataSize)
    samples.foreach(buf.putShort)
    buf.array()
  }

  /** multimodal_audio: binary audio columns decoded for REAL — each
    * doc synthesizes a WAV payload (samples byte-derived from its
    * text, n and rate from doc_id), and the feature pass parses it
    * through `javax.sound.sampled.AudioSystem` (format and frame
    * count read from the DECODER) before windowed integer features:
    * energy Σs², sign-change count, peak |s|. A wrong WAV writer,
    * a wrong parser, or a wrong window split all hash-mismatch the
    * oracle, which recomputes every sample from the text in SQL.
    * Bounded fan-out: one row per 64-sample window (≤ 12/doc). */
  def audioFeatures(s: SparkSession, d: String, winLen: Int = 64): DataFrame =
    audioFeaturesOn(Tables.documents(s, d).select(col("doc_id"), col("text")),
      winLen)

  def audioFeaturesOn(docs: DataFrame, winLen: Int = 64): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    // empty text has no byte stream to synthesize samples from — skip
    // those docs on BOTH sides (the oracle filters length(text) > 0)
    // instead of crashing the task on i % 0
    docs.filter(length(col("text")) > 0).as[(Long, String)]
      .flatMap { case (id, text) =>
        val n = (id % 512 + 256).toInt
        val rate = (8000 + (id % 4) * 4000).toInt
        val wav = wavBytes(Array.tabulate(n)(i => sampleAt(text, i)), rate)
        val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(wav))
        val fmt = ais.getFormat
        require(fmt.getChannels == 1 && fmt.getSampleSizeInBits == 16 &&
          !fmt.isBigEndian, s"doc $id: unexpected decoded format $fmt")
        val decRate = fmt.getSampleRate.toInt
        val decN = ais.getFrameLength.toInt
        val raw = ais.readAllBytes()
        val bb = java.nio.ByteBuffer.wrap(raw)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        val dec = Array.fill(decN)(bb.getShort)
        (0 until (decN + winLen - 1) / winLen).iterator.map { w =>
          val lo = w * winLen
          val hi = math.min(lo + winLen, decN)
          var energy = 0L; var zc = 0; var peak = 0
          var i = lo
          while (i < hi) {
            val v = dec(i).toInt
            energy += v.toLong * v
            if (i > lo && (v < 0) != (dec(i - 1) < 0)) zc += 1
            if (math.abs(v) > peak) peak = math.abs(v)
            i += 1
          }
          AudioWindow(id, decRate, decN, w, hi - lo, energy, zc, peak)
        }
      }
      .toDF()
      .orderBy(col("doc_id"), col("win"))
  }

  val audioOracleSql: String = """
      WITH d AS (
        SELECT doc_id, text, length(text) AS L,
          CAST(doc_id % 512 + 256 AS INT) AS n,
          CAST(8000 + (doc_id % 4) * 4000 AS INT) AS rate
        FROM documents WHERE length(text) > 0),
      w AS (
        SELECT doc_id, text, L, n, rate,
          unnest(range(0, (n + 63) // 64)) AS win
        FROM d),
      f AS (
        SELECT doc_id, rate, n, win,
          CAST(least((win + 1) * 64, n) - win * 64 AS INT) AS win_n,
          list_transform(range(win * 64, least((win + 1) * 64, n)),
            -- ((v + 32768) % 65536) - 32768 == Scala's .toShort wrap
            -- (v >= (0-96)*256 = -24576, so v + 32768 is never negative)
            i -> (((unicode(text[CAST(i % L AS INT) + 1 : CAST(i % L AS INT) + 1]) - 96)
                   * 256 + 32768) % 65536) - 32768) AS s
        FROM w)
      SELECT doc_id,
        rate AS sample_rate, n AS n_samples, CAST(win AS INT) AS win, win_n,
        CAST(list_sum(list_transform(s, x -> CAST(x AS BIGINT) * x)) AS BIGINT) AS energy,
        CAST(len(list_filter(range(1, len(s)),
          j -> (s[CAST(j AS INT) + 1] < 0) <> (s[CAST(j AS INT)] < 0))) AS INT) AS zero_crossings,
        CAST(list_max(list_transform(s, x -> abs(x))) AS INT) AS peak
      FROM f ORDER BY doc_id, win"""
}
