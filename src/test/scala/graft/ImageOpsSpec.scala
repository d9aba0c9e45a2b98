package graft

import graft.data.Synth
import graft.img.Codec
import graft.ops.{AnnOps, ImageOps}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Multimodal-column operators: real decode, features, resize, plus the
  * binaryFile source path and an image stream — the Spark-side plumbing
  * the 100 TB pipeline needs around opaque binary columns. */
class ImageOpsSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  lazy val images = Synth.table(spark, 48, seed = 5L).toDF().cache()

  test("curate: quality filter -> near-dup drop -> per-tile cap == in-memory oracle") {
    val planted = ImageOps.withPlantedNearDups(images, everyN = 4)
    val (minTokens, maxHamming, perTile, r) = (7, 3, 3, 4)
    val got = ImageOps.curate(planted, minTokens, maxHamming, perTile, r)
      .collect().map(x => (x.getString(0), x.getLong(1))).sorted.toSeq
    // in-memory oracle over the collected metadata
    val meta = planted.select("image_id", "caption", "phash").collect()
      .map(x => (x.getString(0), x.getString(1), x.getLong(2)))
    val q = meta.filter(_._2.split(" ", -1).length >= minTokens)
    assert(q.length < meta.length && q.nonEmpty, "quality filter must cut something")
    val dropped = (for {
      (a, _, ha) <- q; (b, _, hb) <- q
      if a < b && java.lang.Long.bitCount(ha ^ hb) <= maxHamming
    } yield b).toSet
    assert(dropped.nonEmpty, "planted dups must be dropped")
    val kept = q.filterNot(x => dropped.contains(x._1))
    val cells = kept.map { case (id, _, ph) =>
      val lat = ((ph >>> 32) % 180000L) / 1000.0 - 90.0
      val lon = ((ph & 0xFFFFFFFFL) % 360000L) / 1000.0 - 180.0
      (id, graft.geo.CellId.grid(lat, lon, r))
    }
    val exp = cells.groupBy(_._2).toSeq.flatMap { case (_, xs) =>
      xs.sortBy(_._1).take(perTile)
    }.sorted.toSeq
    assert(got == exp)
    // a planted re-encode (higher "_p" id) never survives curation
    assert(got.forall(!_._1.endsWith("_p")))
  }

  test("phashNearDup: planted JPEG re-encodes recalled via quarter blocking") {
    val planted = ImageOps.withPlantedNearDups(images, everyN = 4).cache()
    assert(planted.count() == 48 + 12)
    val pairs = ImageOps.phashNearDup(planted).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2)))
    // every planted (original, reencode) pair must surface with small hamming
    val plantedIds = planted.select("image_id").collect().map(_.getString(0))
      .filter(_.endsWith("_p")).map(_.stripSuffix("_p"))
    assert(plantedIds.nonEmpty)
    for (orig <- plantedIds) {
      val hit = pairs.find(p => p._1 == orig && p._2 == s"${orig}_p")
      assert(hit.isDefined, s"planted pair for $orig not recalled")
      assert(hit.get._3 <= 3)
    }
    // blocking is sound: emitted pairs genuinely sit within the bound
    val ph = planted.select("image_id", "phash").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    pairs.foreach { case (a, b, h) =>
      assert(java.lang.Long.bitCount(ph(a) ^ ph(b)) == h && h <= 3)
    }
    planted.unpersist()
  }

  test("decodeStats: real decode, stats match direct computation") {
    val got = ImageOps.decodeStats(images).collect().map(s => s.image_id -> s).toMap
    assert(got.size == 48 && got.values.forall(_.ok))
    for (r <- images.collect()) {
      val id = r.getString(0)
      val img = Codec.decode(r.getAs[Array[Byte]](1))
      val s = got(id)
      assert(s.w == img.getWidth && s.h == img.getHeight)
      assert(s.phash == Codec.pHash64(img))
      assert(s.mean_lum > 0 && s.mean_lum < 255)
    }
  }

  test("decodeStats flags corrupt payloads instead of failing the job") {
    import spark.implicits._
    val corrupt = Seq(("bad1", Array[Byte](1, 2, 3), "png")).toDF("image_id", "bytes", "fmt")
    val s = ImageOps.decodeStats(images.select("image_id", "bytes", "fmt").unionAll(corrupt))
      .collect()
    assert(s.count(!_.ok) == 1 && s.count(_.ok) == 48)
  }

  test("embed: 64-dim, deterministic, zero-mean; feeds the ANN operator") {
    val e1 = ImageOps.embed(images).collect().sortBy(_.image_id)
    val e2 = ImageOps.embed(images.repartition(7)).collect().sortBy(_.image_id)
    assert(e1.length == 48)
    for ((a, b) <- e1.zip(e2)) {
      assert(a.image_id == b.image_id && a.embedding.sameElements(b.embedding))
      assert(a.embedding.length == 64)
      assert(math.abs(a.embedding.map(_.toDouble).sum) < 1e-2)
    }
    // end-to-end: image embeddings → the ANN operator (shape contract):
    // each image's own embedding must be its rank-1 neighbor (sim = 1)
    val embDf = ImageOps.embed(images).toDF()
      .select((xxhash64(col("image_id")) % 100000).as("vec_id"), col("embedding"),
        lit(0).as("label"))
    val qids = embDf.select("vec_id").limit(3).collect().map(_.getLong(0).toInt)
    val topk = AnnOps.cosineTopK(embDf, qids.toSeq, 3).collect()
    for (qid <- qids) {
      val self = topk.find(r => r.getLong(0) == qid && r.getLong(1) == 1L).get
      assert(self.getLong(2) == qid, "rank-1 neighbor must be the query itself")
      assert(self.getLong(3) >= 999999L, "self-similarity must quantize to ~1e6")
    }
  }

  test("resize: bounded dimensions, lossless re-encode, content preserved") {
    val rs = ImageOps.resize(images, 16).collect()
    assert(rs.length == 48)
    for (r <- rs) {
      assert(math.max(r.w, r.h) == 16)
      val img = Codec.decode(r.bytes)
      assert(img.getWidth == r.w && img.getHeight == r.h)
    }
  }

  test("crop: pixels bit-identical to the source region; window clamped") {
    val out = ImageOps.crop(images, 4, 6, 10, 12).collect()
    assert(out.length == images.count())
    val src = images.select("image_id", "bytes").collect()
      .map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
    out.foreach { c =>
      val orig = Codec.decode(src(c.image_id))
      val got = Codec.decode(c.bytes)
      val (x1, y1) = (math.min(orig.getWidth, 14), math.min(orig.getHeight, 18))
      assert(got.getWidth == x1 - 4 && got.getHeight == y1 - 6)
      for (y <- 6 until y1; x <- 4 until x1)
        assert((got.getRGB(x - 4, y - 6) & 0xFFFFFF) == (orig.getRGB(x, y) & 0xFFFFFF))
    }
    // window fully outside every image -> rows filtered, not an error
    assert(ImageOps.crop(images, 10000, 10000, 5, 5).count() == 0)
    // full-frame crop is the identity on pixels
    val full = ImageOps.crop(images.limit(4), 0, 0, 100000, 100000).collect()
    full.foreach { c =>
      val orig = Codec.decode(src(c.image_id))
      assert(Codec.psnr(Codec.decode(c.bytes), orig).isPosInfinity)
    }
  }

  test("augment: exact transform algebra (flip^2 = id, rot90^4 = id, brightness shifts)") {
    val four = images.limit(4)
    def pix(df: org.apache.spark.sql.DataFrame) = df.collect().map { r =>
      r.getAs[String]("image_id") -> Codec.decode(r.getAs[Array[Byte]]("bytes"))
    }.toMap
    val src = pix(four)
    val a1 = ImageOps.augment(four, Seq("flip_h", "rot90", "brighten16")).toDF()
    // flip_h twice = identity
    val flipped = a1.filter(col("op") === "flip_h")
      .withColumnRenamed("image_id", "iid").withColumn("image_id", col("iid"))
    val back = ImageOps.augment(flipped, Seq("flip_h")).collect()
    back.foreach { r =>
      val origId = r.image_id.split("~").head
      assert(Codec.psnr(Codec.decode(r.bytes), src(origId)).isPosInfinity,
        s"flip_h^2 != id for $origId")
    }
    // rot90 four times = identity
    var cur: org.apache.spark.sql.DataFrame = four.toDF()
    (1 to 4).foreach(_ => cur = ImageOps.augment(cur, Seq("rot90")).toDF())
    cur.collect().foreach { r =>
      val origId = r.getAs[String]("image_id").split("~").head
      assert(Codec.psnr(Codec.decode(r.getAs[Array[Byte]]("bytes")),
        src(origId)).isPosInfinity, s"rot90^4 != id for $origId")
    }
    // brighten16 raises each unclamped channel by exactly 16
    a1.filter(col("op") === "brighten16").collect().foreach { r =>
      val origId = r.getAs[String]("image_id").split("~").head
      val o = src(origId); val g = Codec.decode(r.getAs[Array[Byte]]("bytes"))
      for (y <- 0 until o.getHeight; x <- 0 until o.getWidth) {
        val pa = o.getRGB(x, y); val pb = g.getRGB(x, y)
        Seq(16, 8, 0).foreach { sh =>
          val va = (pa >>> sh) & 0xFF; val vb = (pb >>> sh) & 0xFF
          assert(vb == math.min(255, va + 16), s"channel at ($x,$y)")
        }
      }
    }
    // augmented ids are unique and re-enter the pipeline
    val ids = a1.select("image_id").collect().map(_.getString(0))
    assert(ids.distinct.length == ids.length && ids.forall(_.contains("~")))
    intercept[IllegalArgumentException](ImageOps.augment(four, Seq("zoom")))
  }

  test("pairIntegrity: clean table fully ok; each planted corruption caught exactly") {
    // clean table: every row passes every check
    val clean = ImageOps.pairIntegrity(images).collect()
    assert(clean.length == 48 && clean.forall(_.ok))
    // planted corruptions: everyN=4 -> n%12==0 truncated, n%12==4 caption
    // swap, n%12==8 wrong width (48 rows -> 4 of each)
    val planted = ImageOps.withPlantedCorruption(images, everyN = 4)
    val got = ImageOps.pairIntegrity(planted).collect()
      .map(r => r.image_id.stripPrefix("img").toLong -> r).toMap
    for ((n, r) <- got) {
      val m = n % 12
      if (m == 0) assert(!r.decode_ok && !r.ok, s"n=$n truncated payload")
      else if (m == 4) assert(r.decode_ok && !r.caption_ok && !r.ok, s"n=$n caption swap")
      else if (m == 8) assert(r.decode_ok && !r.dims_ok && !r.ok, s"n=$n wrong dims")
      else assert(r.ok && r.phash_dist == 0, s"n=$n should be clean")
    }
  }

  test("transcodeQa: identity is MaxValue; q98 jpeg >= 40 dB; corrupt pair flagged") {
    val idq = ImageOps.transcodeQa(images, images).collect()
    assert(idq.length == 48 && idq.forall(r => r.ok && r.psnr_q == Long.MaxValue))
    // high-quality re-encode keeps the lossy invariant
    val re = ImageOps.reencodeJpeg(images, 0.98f).toDF()
    val qa = ImageOps.transcodeQa(images, re).collect()
    assert(qa.length == 48 && qa.forall(_.ok), // PSNR >= 40 dB per row
      s"violations: ${qa.filterNot(_.ok).map(r => (r.image_id, r.psnr_q)).mkString(",")}")
    assert(qa.forall(r => r.psnr_q >= 4000L))
    // a truncated right side is flagged, not thrown
    import spark.implicits._
    val bad = Seq(("img000000000001", Array[Byte](1, 2, 3))).toDF("image_id", "bytes")
    val flagged = ImageOps.transcodeQa(images, bad).collect()
    assert(flagged.length == 1 && !flagged.head.ok && flagged.head.psnr_q == -1L)
  }

  test("binaryFile source: read a directory of real image files into the pipeline") {
    val dir = tempDir("graft_imgs")
    for (i <- 0 until 12) {
      val row = Synth.row(seed = 3L, i)
      Files.write(dir.resolve(f"${row.image_id}.${row.fmt}"), row.bytes)
    }
    val df = spark.read.format("binaryFile").load(dir.toString)
      .select(regexp_extract(col("path"), "([^/]+)\\.(png|jpeg)$", 1).as("image_id"),
        col("content").as("bytes"), lit("png").as("fmt"))
    val stats = ImageOps.decodeStats(df).collect()
    assert(stats.length == 12 && stats.forall(_.ok))
    val expected = (0 until 12).map(i => Synth.row(3L, i)).map(r => r.image_id -> r.phash).toMap
    for (s <- stats) assert(s.phash == expected(s.image_id))
  }

  test("streaming image pipeline: readStream over the image table -> tile counts") {
    val dir = tempDir("graft_imgstream").toString
    Synth.table(spark, 40, seed = 8L).toDF().write.parquet(s"$dir/t")
    val schema = spark.read.parquet(s"$dir/t").schema
    val src = spark.readStream.schema(schema).parquet(s"$dir/t")
    val tiles = Synth.imagePoints(src.select("image_id", "phash"))
      .groupBy(graft.geo.GeoCols.cellCol(col("lat"), col("lon"), 3).as("cell"))
      .count()
    val q = tiles.writeStream.format("memory").queryName("img_tiles")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("img_tiles").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = Synth.imagePoints(spark.read.parquet(s"$dir/t").select("image_id", "phash"))
      .groupBy(graft.geo.GeoCols.cellCol(col("lat"), col("lon"), 3).as("cell"))
      .count().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch && batch.toSeq.map(_._2).sum == 40)
  }
}
