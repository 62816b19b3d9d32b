package graft.ml

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column handling: image/audio/video as opaque `binary`
  * payloads with typed metadata.
  *
  * The Spark-side plumbing — schema, typed Encoders, partition-batched
  * processing, frame-offset explosion — is real and tested. Image
  * payloads whose magic bytes identify a PNG/JPEG/BMP/GIF are decoded
  * for real via `javax.imageio` (JDK-built-in, headless-safe):
  * `width`/`height` are the true pixel dimensions and `decoded=true`.
  * Anything else — audio, video, or synthetic fixture bytes — falls
  * back to the deterministic stub (dims derived from byte length,
  * `decoded=false`), which keeps the fixtures oracle-checkable while
  * real image bytes get real answers. Audio/video decoding would slot
  * into the same [[MediaFeatures.of]] body; every plan shape stays
  * identical.
  *
  * Scale: payloads stay in columnar parquet; `mapPartitions` processes
  * one partition's batch per task with no shuffle; feature extraction
  * is map-only. Frame sampling explodes to (media, offset) rows which
  * downstream group back by media_id — the standard video-pipeline
  * layout.
  */
object Multimodal {

  /** One media row: the opaque payload plus typed metadata. */
  case class MediaRow(media_id: Long, media_type: String,
      payload: Array[Byte], source: String, length_hint: Long)

  /** Decoded features: real pixel dims when the payload is a decodable
    * image (`decoded=true`), deterministic byte-derived stand-ins
    * otherwise (`decoded=false`).
    */
  case class MediaFeatures(media_id: Long, media_type: String,
      n_bytes: Long, sig: String, width: Int, height: Int,
      decoded: Boolean)

  object MediaFeatures {
    // ImageIO's default cache spills decode buffers to temp FILES —
    // per-row disk IO inside an executor task; decode in memory
    javax.imageio.ImageIO.setUseCache(false)

    /** Magic-byte sniff — only payloads that can possibly be an image
      * reach ImageIO (whose SPI scan is not free per row): PNG, JPEG,
      * BMP, GIF.
      */
    private[Multimodal] def looksLikeImage(b: Array[Byte]): Boolean =
      b.length >= 8 && (
        (b(0) == 0x89.toByte && b(1) == 'P' && b(2) == 'N' && b(3) == 'G') ||
        (b(0) == 0xFF.toByte && b(1) == 0xD8.toByte) ||
        (b(0) == 'B' && b(1) == 'M') ||
        (b(0) == 'G' && b(1) == 'I' && b(2) == 'F'))

    def of(r: MediaRow): MediaFeatures = {
      // a null payload (null source text cast to binary) decodes as
      // empty media — one bad row must not NPE the whole partition
      val bytes =
        if (r.payload == null) Array.emptyByteArray else r.payload
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(bytes).map("%02x".format(_)).mkString
      // real decode path: a corrupt-but-magic-matching payload must
      // yield the fallback features, not kill the partition
      val img =
        if (looksLikeImage(bytes))
          try Option(javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(bytes)))
          catch { case _: Exception => None }
        else None
      img match {
        case Some(i) =>
          MediaFeatures(r.media_id, r.media_type, bytes.length.toLong,
            hex.substring(0, 8), width = i.getWidth,
            height = i.getHeight, decoded = true)
        case None =>
          MediaFeatures(r.media_id, r.media_type, bytes.length.toLong,
            hex.substring(0, 8),
            width = (bytes.length % 640).toInt,
            height = (bytes.length % 480).toInt, decoded = false)
      }
    }
  }

  /** Build a media table from `documents` (text bytes stand in for the
    * opaque payload; media_type assigned round-robin for plumbing
    * tests).
    */
  def mediaTable(docs: DataFrame): DataFrame =
    docs.select(col("doc_id").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("media_type"),
      col("text").cast("binary").as("payload"),
      col("source"), col("n_chars").as("length_hint"))

  /** Decode / feature-extract over partition batches — the
    * `mapPartitions` seam where a real decoder (and its per-partition
    * init cost: model load, codec context) would live.
    */
  def decodeFeatures(media: DataFrame): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      // per-partition init would go here (codec/model handles)
      rows.map(MediaFeatures.of)
    }
  }

  /** Perceptual-hash row: 60-bit aHash (block mean vs global mean)
    * and 60-bit dHash (adjacent-block gradient) of the media payload.
    */
  case class MediaHash(media_id: Long, media_type: String,
      n_bytes: Long, ahash: Long, dhash: Long, decoded: Boolean)

  /** Per-cell (sum, count) of `vals` split into `cells` contiguous
    * slices with exact integer boundaries lo = ⌊c·n/cells⌋ — the 1-D
    * block grid. Cells may be EMPTY when n < cells (sum 0, count 0);
    * every consumer compares cross-multiplied sums, so no division
    * (and no float) ever happens and empty cells deterministically
    * compare false.
    */
  private def cellSums(vals: Array[Long], cells: Int)
      : (Array[Long], Array[Long]) = {
    val sums = new Array[Long](cells)
    val cnts = new Array[Long](cells)
    var c = 0
    while (c < cells) {
      val lo = (c.toLong * vals.length / cells).toInt
      val hi = ((c + 1).toLong * vals.length / cells).toInt
      var s = 0L
      var i = lo
      while (i < hi) { s += vals(i); i += 1 }
      sums(c) = s
      cnts(c) = (hi - lo).toLong
      c += 1
    }
    (sums, cnts)
  }

  /** aHash over per-cell (sum, count): bit c set iff cell c's mean
    * exceeds the global mean, compared exactly as
    * sum_c · N > total · n_c (all longs — cross-multiplication in
    * place of two divisions, so both engines and the SQL oracle
    * compare identical integers). 60 bits, matching the corpus
    * simhash width so the whole banding tier applies verbatim.
    */
  private def aHashBits(sums: Array[Long], cnts: Array[Long]): Long = {
    val tot = BigInt(sums.sum)
    val n = BigInt(cnts.sum)
    var h = 0L
    var c = 0
    while (c < sums.length) {
      // BigInt compare: tot·cnt reaches ~4250·(W·H)² on the scaled-
      // luma path and would wrap a Long around ~50 MP, silently
      // corrupting hash bits — ~120 BigInt ops per media is nothing
      // next to the decode
      if (BigInt(sums(c)) * n > tot * BigInt(cnts(c))) h |= (1L << c)
      c += 1
    }
    h
  }

  /** dHash over 61 cells: bit c set iff mean(cell c) < mean(cell c+1)
    * — the gradient form, same cross-multiplied exact compare.
    */
  private def dHashBits(sums: Array[Long], cnts: Array[Long]): Long = {
    var h = 0L
    var c = 0
    while (c < sums.length - 1) {
      if (BigInt(sums(c)) * BigInt(cnts(c + 1)) <
          BigInt(sums(c + 1)) * BigInt(cnts(c))) h |= (1L << c)
      c += 1
    }
    h
  }

  /** Perceptual hashes for near-duplicate detection over media — the
    * multimodal member of the dedup family (text has exact/Jaccard/
    * MinHash/SimHash; images get aHash/dHash): two 60-bit signatures
    * per payload whose Hamming distance is small for perceptually
    * similar media, banded downstream with the EXISTING simhash
    * machinery ([[Dedup.simhashPairsCapped]] — 60 bits on purpose).
    *
    * Decodable images (the [[MediaFeatures]] magic-byte + ImageIO
    * path) hash REAL pixels: integer luma (299r+587g+114b, never
    * divided — the comparisons are ratio-based so the scale cancels)
    * block-averaged over a 6×10 grid (aHash) / 6×11 horizontal
    * gradient (dHash), exact integer boundaries, row-major bit
    * order b = r·cols + c. Everything else hashes the byte stream
    * through the same kernel in 1-D (60/61 cells of unsigned byte
    * values) — deterministic, and exactly restatable in SQL, which is
    * what lets ns66/ns66b hash-gate the fixture corpus while the
    * image path is byte-exact spec-gated (the ns13/ns21 stub
    * discipline: the KERNEL is real and shared; only the pixel
    * source degrades). Empty payloads hash to 0.
    */
  def perceptualHash(media: DataFrame): Dataset[MediaHash] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      rows.map { r =>
        val bytes =
          if (r.payload == null) Array.emptyByteArray else r.payload
        val img =
          if (MediaFeatures.looksLikeImage(bytes))
            try Option(javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(bytes)))
            catch { case _: Exception => None }
          else None
        img match {
          case Some(i) =>
            val (w, h) = (i.getWidth, i.getHeight)
            // row-major scaled-luma grids, both filled in ONE bulk
            // pass: the old per-grid form called getRGB per PIXEL and
            // read every pixel twice (aHash 6×10 + dHash 6×11) — a
            // color-model conversion per call on the decode hot path
            // (the resize finding, session review). Block sums are
            // integer additions, so accumulation order cannot change
            // a single bit of either hash. Boundaries stay the exact
            // ⌊k·n/cells⌋ arithmetic; per-pixel block indices come
            // from precomputed column maps and a row pointer.
            def colMap(cols: Int): Array[Int] = {
              val m = new Array[Int](w)
              var cc = 0
              var x = 0
              while (cc < cols) {
                val cHi = ((cc + 1).toLong * w / cols).toInt
                while (x < cHi) { m(x) = cc; x += 1 }
                cc += 1
              }
              m
            }
            def cnts(rows0: Int, cols: Int): Array[Long] = {
              val c = new Array[Long](rows0 * cols)
              var rr = 0
              while (rr < rows0) {
                val rSpan = ((rr + 1).toLong * h / rows0) -
                  (rr.toLong * h / rows0)
                var cc = 0
                while (cc < cols) {
                  c(rr * cols + cc) = rSpan *
                    (((cc + 1).toLong * w / cols) -
                      (cc.toLong * w / cols))
                  cc += 1
                }
                rr += 1
              }
              c
            }
            val colA = colMap(10)
            val colD = colMap(11)
            val as = new Array[Long](6 * 10)
            val ds = new Array[Long](6 * 11)
            val rowBuf = new Array[Int](w)
            var ry = 0
            var rBlk = 0
            var rHi = (h / 6).toInt
            while (ry < h) {
              while (ry >= rHi) {
                rBlk += 1
                rHi = ((rBlk + 1) * h.toLong / 6).toInt
              }
              i.getRGB(0, ry, w, 1, rowBuf, 0, w)
              var x = 0
              while (x < w) {
                val rgb = rowBuf(x)
                val luma = 299L * ((rgb >> 16) & 0xFF) +
                  587L * ((rgb >> 8) & 0xFF) +
                  114L * (rgb & 0xFF)
                as(rBlk * 10 + colA(x)) += luma
                ds(rBlk * 11 + colD(x)) += luma
                x += 1
              }
              ry += 1
            }
            val ac = cnts(6, 10)
            // dHash: 6×11 grid, bit (r,c) = block(r,c) < block(r,c+1)
            val dc = cnts(6, 11)
            var dh = 0L
            var rr = 0
            while (rr < 6) {
              var cc = 0
              while (cc < 10) {
                val a0 = rr * 11 + cc
                if (BigInt(ds(a0)) * BigInt(dc(a0 + 1)) <
                    BigInt(ds(a0 + 1)) * BigInt(dc(a0)))
                  dh |= (1L << (rr * 10 + cc))
                cc += 1
              }
              rr += 1
            }
            MediaHash(r.media_id, r.media_type, bytes.length.toLong,
              aHashBits(as, ac), dh, decoded = true)
          case None =>
            val vals = new Array[Long](bytes.length)
            var i = 0
            while (i < bytes.length) {
              vals(i) = (bytes(i) & 0xFF).toLong
              i += 1
            }
            val (as, ac) = cellSums(vals, 60)
            val (ds, dc) = cellSums(vals, 61)
            MediaHash(r.media_id, r.media_type, bytes.length.toLong,
              aHashBits(as, ac), dHashBits(ds, dc), decoded = false)
        }
      }
    }
  }

  /** Resized media row: payload downsampled; `width_out`/`height_out`
    * are TRUE resampled pixel dims when the payload decoded
    * (`decoded=true`), 0 on the byte-stride fallback.
    */
  case class ResizedMedia(media_id: Long, media_type: String,
      n_bytes_in: Long, n_bytes_out: Long, width_out: Int,
      height_out: Int, decoded: Boolean, sig_out: String)

  /** Resize / downsample over partition batches. Decodable images
    * (PNG/JPEG/BMP/GIF by magic sniff — [[MediaFeatures.of]]'s exact
    * split) are resampled FOR REAL: every `stride`-th pixel survives
    * (nearest-neighbor decimation, out dims ⌈w/stride⌉ × ⌈h/stride⌉ —
    * the pixel-space twin of the byte rule below, deterministic, no
    * interpolation rounding to drift across JVMs) and the result
    * re-encodes as PNG. Non-image payloads (the honest limit: no
    * audio/video codecs in scope) keep the documented byte-stride
    * stand-in — every `stride`-th byte — so the plumbing stays
    * map-only either way: payload in, smaller payload out,
    * per-partition codec init amortized across the batch. The
    * decoded-dimension rule is cross-engine gated (ns21c) over
    * synthesized PNGs; the resampled bytes are byte-exact spec-gated
    * (MlSpec), the ns13 discipline.
    */
  def resize(media: DataFrame, stride: Int): Dataset[ResizedMedia] = {
    require(stride > 0, "stride must be positive")
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      // per-partition init: one digest + one scratch stream reused
      // across the batch (ImageIO caching is disabled object-wide)
      val md = java.security.MessageDigest.getInstance("MD5")
      val bos = new java.io.ByteArrayOutputStream(8192)
      def emit(r: MediaRow, in: Array[Byte], out: Array[Byte],
          w: Int, h: Int, dec: Boolean): ResizedMedia = {
        md.reset()
        val hex = md.digest(out).map("%02x".format(_)).mkString
        ResizedMedia(r.media_id, r.media_type, in.length.toLong,
          out.length.toLong, w, h, dec, hex.substring(0, 8))
      }
      rows.map { r =>
        val in = if (r.payload == null) Array.emptyByteArray else r.payload
        val img =
          if (MediaFeatures.looksLikeImage(in))
            try Option(javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(in)))
            catch { case _: Exception => None }
          else None
        img match {
          case Some(i) =>
            val (w, h) = (i.getWidth, i.getHeight)
            val wo = (w + stride - 1) / stride
            val ho = (h + stride - 1) / stride
            val scaled = new java.awt.image.BufferedImage(wo, ho,
              java.awt.image.BufferedImage.TYPE_INT_RGB)
            // row-bulk pixel access: per-pixel getRGB/setRGB pays a
            // color-model conversion per CALL (the session review's
            // hot-path finding) — one bulk read per source row and
            // one bulk write per output row produce the identical
            // ints through the same sRGB conversion, with memory
            // bounded by one row buffer
            val srcRow = new Array[Int](w)
            val outRow = new Array[Int](wo)
            var y = 0
            while (y < ho) {
              i.getRGB(0, y * stride, w, 1, srcRow, 0, w)
              var x = 0
              while (x < wo) { outRow(x) = srcRow(x * stride); x += 1 }
              scaled.setRGB(0, y, wo, 1, outRow, 0, wo)
              y += 1
            }
            bos.reset()
            javax.imageio.ImageIO.write(scaled, "png", bos)
            emit(r, in, bos.toByteArray, wo, ho, dec = true)
          case None =>
            // pre-sized stepped copy: the per-byte hot path, no
            // boxing or per-index guard evaluation
            val out = new Array[Byte]((in.length + stride - 1) / stride)
            var i = 0
            var o = 0
            while (i < in.length) { out(o) = in(i); o += 1; i += stride }
            emit(r, in, out, 0, 0, dec = false)
        }
      }
    }
  }

  /** Frame sampling for "video" rows: one row per sampled frame offset
    * (every `step` units of the length hint) — pure explode, no UDF.
    */
  def sampleFrames(media: DataFrame, step: Int): DataFrame = {
    require(step > 0, "step must be positive")
    media.filter(col("media_type") === "video" && col("length_hint") > 0)
      .select(col("media_id"),
        explode(sequence(lit(0L), col("length_hint") - 1,
          lit(step.toLong))).as("frame_offset"))
  }

  /** Persist the perceptual-hash table — the media tier's STANDING
    * signature index (the r12 verdict's item 5 precondition): at
    * 100 TB the expensive pass is decoding media once, and every
    * later near-dup question (batch increment ns66c, streamed
    * [[graft.streaming.MediaIngest]]) reads stored 60-bit hashes,
    * never the payloads. Flat (media_id, …, ahash, dhash) rows — a
    * 10⁹-item store is ~30 GB. A rebuild supersedes the previous
    * generation's stream sibling: refuse on un-folded data, clear
    * stale fold stubs (the writeBinaryIndex contract).
    */
  def writePhashIndex(media: DataFrame, path: String): Unit = {
    Similarity.clearSupersededSibling(
      new org.apache.hadoop.fs.Path(path).getFileSystem(
        media.sparkSession.sparkContext.hadoopConfiguration),
      path, "writePhashIndex")
    perceptualHash(media).toDF()
      .write.mode("overwrite").parquet(path)
  }

  private[graft] val PhashDeletedDir = "_graft_phash_deleted"
  private[graft] val PhashCompactStageDir = "_graft_phash_compact_stage"
  private[graft] val PhashCols =
    Seq("media_id", "media_type", "n_bytes", "ahash", "dhash", "decoded")

  /** Soft-delete media from the persisted phash index — the takedown
    * story the tier lacked (the r12 verdict's optional item 7; every
    * other standing index had one): an id-sized tombstone append,
    * zero data files touched, serving masks, idempotent on
    * unknown/repeated ids, loud on NULL — [[Similarity
    * .deleteFromBinaryIndex]]'s exact contract over media_id.
    */
  def deleteFromPhashIndex(spark: SparkSession, mediaIds: DataFrame,
      path: String): Unit =
    ServedStore.Phash.delete(spark, mediaIds, path)

  /** Reclaim the phash index's tombstone debt — [[Similarity
    * .compactFlatIndex]]'s staged uuid-file-swap verbatim (crash
    * protocol, replay convergence, concurrent-reader safety all
    * inherited); refuses while the stream sibling holds un-folded
    * data, like every compactor.
    */
  def compactPhashIndex(spark: SparkSession, path: String): Long =
    Similarity.compactFlatIndex(spark, path, ServedStore.Phash,
      PhashStage, "compactPhashIndex", "foldStreamIntoPhashIndex")

  /** The phash tier's swap stage, shared by its compaction and fold. */
  private[ml] val PhashStage =
    graft.sources.StagedRewrite.SwapStage.compaction(PhashCompactStageDir)

  /** Drain committed streamed-signature batches into the phash base —
    * [[Similarity.foldStreamIntoFlatIndex]]'s move-first staged
    * rewrite over the full hash row.
    */
  def foldStreamIntoPhashIndex(spark: SparkSession, path: String): Long =
    Similarity.foldStreamIntoFlatIndex(spark, path, "media_id",
      PhashCols, PhashStage)

  /** The served READ of the phash tier: signature rows from every
    * root (base + committed streamed partitions), tombstones always
    * from the base, and a media_id dedup exactly when duplicates are
    * POSSIBLE — multi-root serving, a stage directory present, or a
    * mixed-generation file listing (the binary serve's race-free
    * probe, [[Similarity.binaryTopKServedFrom]]; quiescent states
    * are prefix-homogeneous). Duplicates are always literal (hash
    * rows are a pure per-row payload function), so max() per column
    * is the value.
    */
  def servedPhashRows(spark: SparkSession, basePath: String,
      paths: Seq[String]): DataFrame = {
    require(paths.nonEmpty, "need at least one index root")
    val raw = paths.map(p => spark.read.parquet(p)
        .select(col("media_id"), col("ahash"), col("dhash")))
      .reduce(_.unionByName(_))
    val base = new org.apache.hadoop.fs.Path(basePath)
    val deduped =
      if (paths.size == 1 && !PhashStage.mayServeDuplicates(
          base.getFileSystem(spark.sparkContext.hadoopConfiguration), base,
          raw.inputFiles.toSeq)) raw
      else raw.groupBy(col("media_id"))
        .agg(max(col("ahash")).as("ahash"), max(col("dhash")).as("dhash"))
    ServedStore.Phash.mask(spark, Seq(basePath), deduped)
  }
}
