package graft.ops

import graft.img.Codec
import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._

/** Multimodal-column operators: the image payload (`bytes: binary`) is
  * opaque to Catalyst; decode / feature-extract / resize run partition-wise
  * over typed Datasets (the JVM analog of mapInPandas batches — one
  * executor-side pass per partition, no driver round-trips, Encoders keep
  * the exchange format Tungsten-binary).
  *
  * Decode here is REAL (JDK ImageIO — in-container, deterministic), not a
  * stub: the invariant tests (PSNR, phash recomputation) lean on it.
  * The Spark-side contract that matters at 100 TB is visible in the plan:
  * `bytes` is read ONLY by these operators (column pruning elsewhere), and
  * each output row carries compact derived features, never the raw payload.
  */
object ImageOps {

  case class DecodeStats(image_id: String, w: Int, h: Int, fmt: String,
                         mean_lum: Double, phash: Long, ok: Boolean)

  /** Decode + per-image statistics (the feature-extract step). */
  def decodeStats(images: DataFrame): Dataset[DecodeStats] = {
    import images.sparkSession.implicits._
    images.select("image_id", "bytes", "fmt")
      .as[(String, Array[Byte], String)]
      .mapPartitions(_.map { case (id, bytes, fmt) =>
        try {
          val img = Codec.decode(bytes)
          var sum = 0.0
          var y = 0
          while (y < img.getHeight) {
            var x = 0
            while (x < img.getWidth) {
              val p = img.getRGB(x, y)
              sum += 0.299 * ((p >>> 16) & 0xFF) + 0.587 * ((p >>> 8) & 0xFF) +
                0.114 * (p & 0xFF)
              x += 1
            }
            y += 1
          }
          DecodeStats(id, img.getWidth, img.getHeight, fmt,
            // long pixel count: 2^31+ pixel images overflow Int multiply
            sum / (img.getWidth.toLong * img.getHeight), Codec.pHash64(img),
            ok = true)
        } catch {
          case _: Throwable => DecodeStats(id, -1, -1, fmt, 0.0, 0L, ok = false)
        }
      })
  }

  case class Embedded(image_id: String, embedding: Array[Float])

  /** 64-dim visual embedding: the 8×8 grayscale box-downsample, zero-mean
    * normalized — deterministic, ties the multimodal column into the ANN
    * operators (AnnOps takes exactly this shape). */
  def embed(images: DataFrame): Dataset[Embedded] = {
    import images.sparkSession.implicits._
    images.select("image_id", "bytes").as[(String, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val img = Codec.decode(bytes)
        val cells = new Array[Double](64)
        val counts = new Array[Int](64)
        var y = 0
        while (y < img.getHeight) {
          var x = 0
          while (x < img.getWidth) {
            val p = img.getRGB(x, y)
            val c = math.min(7, y * 8 / img.getHeight) * 8 +
              math.min(7, x * 8 / img.getWidth)
            cells(c) += 0.299 * ((p >>> 16) & 0xFF) + 0.587 * ((p >>> 8) & 0xFF) +
              0.114 * (p & 0xFF)
            counts(c) += 1
            x += 1
          }
          y += 1
        }
        var mean = 0.0
        var i = 0
        while (i < 64) { cells(i) /= math.max(1, counts(i)); mean += cells(i); i += 1 }
        mean /= 64
        Embedded(id, cells.map(v => (v - mean).toFloat))
      })
  }

  /** Visual near-duplicate pairs over the image table — the image-payload
    * twin of [[Dedup.simhashPairs]]: block the stored 64-bit perceptual
    * hash on its four 16-bit quarters (Hamming ≤ 3 ⇒ at least one quarter
    * is bit-equal), equi-join blocks, refine with bit_count(xor). At 10¹²
    * images pass blocks=8 (56 combination keys of 40 bits — see
    * [[Dedup.hammingBlockPairs]] for the bucket math): the blocked
    * equi-join is the only feasible all-pairs path, and because phash is
    * table METADATA the bytes column never leaves the scan (plan-verified
    * column pruning). */
  def phashNearDup(images: DataFrame, maxHamming: Int = 3, blocks: Int = 4,
                   stagePath: Option[String] = None): DataFrame = stagePath match {
    case Some(p) =>
      // checkpoint the (image_id, phash) metadata slice so the blocking
      // join + refine dataflow is DuckDB-oracle-checked (q43); bytes never
      // touch the staging either
      Dedup.hammingBlockPairs(OpUtil.stage(images.select("image_id", "phash"), p),
        "image_id", "phash", maxHamming, blocks)
    case None =>
      Dedup.hammingBlockPairs(images, "image_id", "phash", maxHamming, blocks)
  }

  /** End-to-end training-data curation over the image+caption table — the
    * composite a 10¹²-image corpus runs before training:
    *
    *  1. '''quality''': keep rows whose caption has ≥ `minTokens`
    *     whitespace tokens;
    *  2. '''visual dedup''': quarter-blocked phash near-dup pairs over the
    *     survivors; the HIGHER image_id of every pair is dropped
    *     (deterministic keep-first — an id linked only to an already-
    *     dropped id still drops: the rule is "appears as b in any pair",
    *     chosen because it is order-free and engine-independent);
    *  3. '''tile-balanced sample''': derive (lat, lon) from phash, assign
    *     the resolution-r cell, keep the `perTile` lowest image_ids per
    *     cell — caps any one spatial bucket's contribution (hotspot
    *     control for the skewed corpus).
    *
    * Every stage runs on metadata columns only — bytes never leave the
    * scan. Output: (image_id, cell) of survivors. With `stagePath` the
    * metadata slice is checkpointed to parquet and the WHOLE composite is
    * DuckDB-oracle-checked (q46). */
  def curate(images: DataFrame, minTokens: Int, maxHamming: Int,
             perTile: Int, r: Int,
             stagePath: Option[String] = None, blocks: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val meta0 = images.select(col("image_id"), col("caption"), col("phash"))
    // the metadata slice is consumed by the blocking self-join, the
    // anti-join, AND the window — without a barrier the (possibly decode-
    // heavy) upstream recomputes ~3x (the documented CollapseProject
    // pitfall); the staged path's parquet write is the same barrier
    val meta = OpUtil.stageOrPersist(meta0, stagePath)
    val q = meta.filter(size(split(col("caption"), " ")) >= minTokens)
    val dups = Dedup.hammingBlockPairs(q, "image_id", "phash", maxHamming, blocks)
      .select(col("b_id").as("image_id")).distinct()
    // near-dups are a sliver of the corpus by construction: the anti-join
    // shuffles both sides on image_id, no broadcast assumption needed
    val kept = q.join(dups, Seq("image_id"), "left_anti")
    val pts = kept
      .withColumn("lat", graft.geo.GeoCols.geoFromPhashLat(col("phash")))
      .withColumn("lon", graft.geo.GeoCols.geoFromPhashLon(col("phash")))
      .withColumn("cell", graft.geo.GeoCols.cellCol(col("lat"), col("lon"), r))
    val w = Window.partitionBy(col("cell")).orderBy(col("image_id"))
    val out = pts.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= perTile)
      .select(col("image_id"), col("cell"))
    if (stagePath.isDefined) out else OpUtil.finish(out, meta)
  }

  /** Deterministic near-duplicate plant: every `everyN`-th image decoded,
    * re-encoded as high-quality JPEG (same pixels module lossy error),
    * appended with a `<id>_p` image_id — the fixture generator for
    * [[phashNearDup]] recall checks and the q43 driver query. */
  def withPlantedNearDups(images: DataFrame, everyN: Int): DataFrame = {
    import images.sparkSession.implicits._
    val planted = images
      .select("image_id", "bytes", "w", "h", "fmt", "caption", "phash")
      .as[(String, Array[Byte], Int, Int, String, String, Long)]
      .mapPartitions(_.flatMap { case (id, bytes, w, h, _, cap, _) =>
        val n = id.stripPrefix("img").toLong // Synth ids: img%012d
        if (n % everyN != 0) Iterator.empty
        else {
          val img = Codec.decode(bytes)
          val re = Codec.encodeJpeg(img, 0.97f)
          Iterator.single((s"${id}_p", re, w, h, "jpeg", cap,
            Codec.pHash64(Codec.decode(re))))
        }
      })
      .toDF("image_id", "bytes", "w", "h", "fmt", "caption", "phash")
    images.select("image_id", "bytes", "w", "h", "fmt", "caption", "phash")
      .unionAll(planted)
  }

  case class Integrity(image_id: String, decode_ok: Boolean, dims_ok: Boolean,
                       phash_dist: Int, caption_ok: Boolean, ok: Boolean)

  /** Per-row image+caption pair integrity — the north rule's per-row
    * invariant (decoded pixels consistent + caption linkage) as a
    * first-class curation operator, not just a test. Each row is validated
    * against its OWN stored metadata, so the check needs no second table:
    *
    *  - `decode_ok`   — the payload decodes at all;
    *  - `dims_ok`     — decoded dimensions equal the stored (w, h);
    *  - `phash_dist`  — Hamming distance between the stored phash and one
    *                    recomputed from the decoded pixels. The store
    *                    contract (phash computed over DECODED bytes,
    *                    [[graft.data.Synth.row]]) makes 0 the healthy
    *                    value even for lossy formats;
    *  - `caption_ok`  — the caption references this row's image_id (the
    *                    pair-linkage check that catches caption swaps).
    *
    * One partition-wise pass, bytes never leave the executor, output is a
    * compact flag row — the shape that filters a 10¹²-row table with one
    * narrow scan. Rows-only driver check (hashing is not SQL-expressible);
    * planted-corruption detection is spec-pinned. */
  def pairIntegrity(images: DataFrame): Dataset[Integrity] = {
    import images.sparkSession.implicits._
    images.select("image_id", "bytes", "w", "h", "caption", "phash")
      .as[(String, Array[Byte], Int, Int, String, Long)]
      .mapPartitions(_.map { case (id, bytes, w, h, cap, ph) =>
        val capOk = cap != null && cap.contains(id)
        try {
          val img = Codec.decode(bytes)
          val dimsOk = img.getWidth == w && img.getHeight == h
          val dist = java.lang.Long.bitCount(Codec.pHash64(img) ^ ph)
          Integrity(id, decode_ok = true, dimsOk, dist, capOk,
            dimsOk && dist == 0 && capOk)
        } catch {
          case _: Throwable =>
            Integrity(id, decode_ok = false, dims_ok = false, 64, capOk, ok = false)
        }
      })
  }

  case class TranscodeQa(image_id: String, psnr_q: Long, ok: Boolean)

  /** Transcode QA: exact PSNR between two encodings of the same image —
    * the "PSNR ≥ 40 dB for lossy formats" leg of the north rule's per-row
    * invariant, applied after any re-encode (format migration, augment,
    * thumbnail round-trip). Equi-join on image_id (both payload sides ship
    * through one co-partitioned exchange — unavoidable for a pixel
    * comparison; at scale both tables are image_id-bucketed so the join is
    * zero-shuffle) then a partition-wise decode+PSNR pass. psnr_q =
    * floor(psnr × 100); bit-identical payloads report Long.MaxValue. */
  def transcodeQa(a: DataFrame, b: DataFrame, minDb: Double = 40.0): Dataset[TranscodeQa] = {
    import a.sparkSession.implicits._
    a.select(col("image_id"), col("bytes").as("bytes_a"))
      .join(b.select(col("image_id"), col("bytes").as("bytes_b")), Seq("image_id"))
      .as[(String, Array[Byte], Array[Byte])]
      .mapPartitions(_.map { case (id, ba, bb) =>
        try {
          val p = Codec.psnr(Codec.decode(ba), Codec.decode(bb))
          val pq = if (p.isInfinite) Long.MaxValue else math.floor(p * 100).toLong
          TranscodeQa(id, pq, p >= minDb)
        } catch { case _: Throwable => TranscodeQa(id, -1L, ok = false) }
      })
  }

  /** Deterministic corruption plant for [[pairIntegrity]] fixtures: every
    * 3·everyN-th row cycles through the three failure modes — truncated
    * payload, caption pointing at a different image, wrong stored width. */
  def withPlantedCorruption(images: DataFrame, everyN: Int = 25): DataFrame = {
    import images.sparkSession.implicits._
    images.select("image_id", "bytes", "w", "h", "fmt", "caption", "phash")
      .as[(String, Array[Byte], Int, Int, String, String, Long)]
      .mapPartitions(_.map { case r @ (id, bytes, w, h, fmt, cap, ph) =>
        val n = id.stripPrefix("img").toLong // Synth ids: img%012d
        if (n % (3L * everyN) == 0) (id, bytes.take(8), w, h, fmt, cap, ph)
        else if (n % (3L * everyN) == everyN)
          (id, bytes, w, h, fmt, cap.replace(id, "img_other"), ph)
        else if (n % (3L * everyN) == 2L * everyN) (id, bytes, w + 1, h, fmt, cap, ph)
        else r
      })
      .toDF("image_id", "bytes", "w", "h", "fmt", "caption", "phash")
  }

  case class Reencoded(image_id: String, bytes: Array[Byte])

  /** Deterministic JPEG re-encode of the decoded payload — the transcode
    * half of the [[transcodeQa]] pair (format-migration simulation). */
  def reencodeJpeg(images: DataFrame, quality: Float): Dataset[Reencoded] = {
    import images.sparkSession.implicits._
    images.select("image_id", "bytes").as[(String, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        Reencoded(id, Codec.encodeJpeg(Codec.decode(bytes), quality))
      })
  }

  case class Cropped(image_id: String, bytes: Array[Byte], w: Int, h: Int)

  /** Rectangular crop: the requested window intersected with the image
    * bounds (rows whose window misses the image entirely are dropped —
    * a filter, not an error, matching how a curation pipeline treats
    * undersized images). Lossless PNG re-encode, so cropped pixels are
    * bit-identical to the source region (spec-pinned). Partition-wise
    * typed kernel; bytes stay executor-side. */
  def crop(images: DataFrame, cx: Int, cy: Int, cw: Int, ch: Int): Dataset[Cropped] = {
    import images.sparkSession.implicits._
    require(cw > 0 && ch > 0, "crop window must have positive extent")
    images.select("image_id", "bytes").as[(String, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        val img = Codec.decode(bytes)
        val x0 = math.max(0, cx); val y0 = math.max(0, cy)
        val x1 = math.min(img.getWidth, cx + cw)
        val y1 = math.min(img.getHeight, cy + ch)
        if (x1 <= x0 || y1 <= y0) Iterator.empty
        else {
          val out = new java.awt.image.BufferedImage(x1 - x0, y1 - y0,
            java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
          var y = y0
          while (y < y1) {
            var x = x0
            while (x < x1) { out.setRGB(x - x0, y - y0, img.getRGB(x, y)); x += 1 }
            y += 1
          }
          Iterator.single(Cropped(id, Codec.encodePng(out), x1 - x0, y1 - y0))
        }
      })
  }

  case class Augmented(image_id: String, op: String, bytes: Array[Byte],
                       w: Int, h: Int)

  /** Deterministic augmentation fan-out — one output row per (image, op),
    * `image_id` suffixed `~<op>` so augmented corpora re-enter every
    * pipeline stage with unique ids. Exact pixel transforms (flips /
    * quarter rotations are permutations; brightness is a clamped add),
    * PNG-encoded, so the algebra (flip∘flip = id, rot90⁴ = id) holds
    * bit-for-bit and is spec-pinned. */
  val AugOps: Set[String] =
    Set("flip_h", "flip_v", "rot90", "rot180", "rot270", "brighten16", "darken16")

  def augment(images: DataFrame, ops: Seq[String]): Dataset[Augmented] = {
    import images.sparkSession.implicits._
    val bad = ops.filterNot(AugOps)
    require(bad.isEmpty, s"unknown augment ops: ${bad.mkString(", ")}")
    val opsB = ops.toArray
    images.select("image_id", "bytes").as[(String, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        val img = Codec.decode(bytes)
        opsB.iterator.map { op =>
          val out = applyAug(img, op)
          Augmented(s"$id~$op", op, Codec.encodePng(out),
            out.getWidth, out.getHeight)
        }
      })
  }

  private def applyAug(img: java.awt.image.BufferedImage,
                       op: String): java.awt.image.BufferedImage = {
    val w = img.getWidth; val h = img.getHeight
    val (ow, oh) = op match {
      case "rot90" | "rot270" => (h, w)
      case _ => (w, h)
    }
    val out = new java.awt.image.BufferedImage(ow, oh,
      java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val p = img.getRGB(x, y)
        op match {
          case "flip_h" => out.setRGB(w - 1 - x, y, p)
          case "flip_v" => out.setRGB(x, h - 1 - y, p)
          case "rot90" => out.setRGB(h - 1 - y, x, p) // clockwise
          case "rot180" => out.setRGB(w - 1 - x, h - 1 - y, p)
          case "rot270" => out.setRGB(y, w - 1 - x, p)
          case "brighten16" | "darken16" =>
            val d = if (op == "brighten16") 16 else -16
            def ch(v: Int) = math.max(0, math.min(255, v + d))
            out.setRGB(x, y, (ch((p >>> 16) & 0xFF) << 16) |
              (ch((p >>> 8) & 0xFF) << 8) | ch(p & 0xFF))
        }
        x += 1
      }
      y += 1
    }
    out
  }

  case class Resized(image_id: String, bytes: Array[Byte], w: Int, h: Int)

  /** Resize to a bounding square, re-encode PNG (lossless so downstream
    * invariants survive). Area-averaging via AWT scaled instance drawn
    * onto a fresh raster — headless-safe. */
  def resize(images: DataFrame, maxSide: Int): Dataset[Resized] = {
    import images.sparkSession.implicits._
    images.select("image_id", "bytes").as[(String, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val img = Codec.decode(bytes)
        val scale = maxSide.toDouble / math.max(img.getWidth, img.getHeight)
        val nw = math.max(1, math.round(img.getWidth * scale).toInt)
        val nh = math.max(1, math.round(img.getHeight * scale).toInt)
        val out = new java.awt.image.BufferedImage(nw, nh,
          java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
        val g = out.createGraphics()
        g.drawImage(img.getScaledInstance(nw, nh, java.awt.Image.SCALE_AREA_AVERAGING),
          0, 0, null)
        g.dispose()
        Resized(id, Codec.encodePng(out), nw, nh)
      })
  }
}
