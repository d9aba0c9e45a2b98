package graft

import graft.data.Fixtures
import graft.ops.{AnnOps, Dedup, EventOps, TextOps}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Training-data pipeline operators: dedup family, text analysis, ANN,
  * streaming — checked against independent in-memory oracles on sf0.001. */
class PipelineOpsSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  val dir = "/root/testdata/sf0.001"
  lazy val docs = spark.read.parquet(s"$dir/documents.parquet").cache()
  lazy val emb = spark.read.parquet(s"$dir/embeddings.parquet").cache()

  /** In-memory exact word-k-gram Jaccard over all pairs. */
  def exactJaccardPairs(k: Int): Map[(Long, Long), Double] = {
    val texts = docs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val sh = texts.map { case (id, t) =>
      val toks = t.split(" ")
      id -> toks.sliding(k).filter(_.length == k).map(_.mkString(" ")).toSet
    }.filter(_._2.nonEmpty).toMap
    (for {
      (a, sa) <- sh.toSeq; (b, sb) <- sh.toSeq if a < b
      inter = (sa & sb).size if inter > 0
    } yield (a, b) -> inter.toDouble / (sa.size + sb.size - inter)).toMap
  }

  test("ngramJaccard matches in-memory all-pairs oracle") {
    val exp = exactJaccardPairs(5).filter(_._2 >= Fixtures.jaccardThreshold)
    val got = Dedup.ngramJaccard(docs, 5, Fixtures.jaccardThreshold)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(5)).toMap
    assert(got.keySet == exp.keySet)
    for ((p, j) <- got) assert(math.abs(j - exp(p)) < 1e-12, p)
  }

  test("minhashLsh: verified pairs are exact-correct; recall 1.0 at jacc>=0.9") {
    val all = exactJaccardPairs(5)
    val got = Dedup.minhashLsh(docs, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // no false positives: every emitted pair really has jacc >= 0.5
    for ((p, j) <- got) {
      assert(all.contains(p) && all(p) >= 0.5, s"false positive $p")
      assert(math.abs(j - all(p)) < 1e-12)
    }
    // high-similarity recall: 8 bands x 4 rows misses jacc>=0.9 w.p. ~2e-4
    val high = all.filter(_._2 >= 0.9).keySet
    assert(high.nonEmpty, "fixture should contain planted near-dups")
    assert(high.subsetOf(got.keySet), s"missed ${high -- got.keySet}")
  }

  test("ngramJaccard df cap: planted stop-phrase never reaches the self-join") {
    import spark.implicits._
    // one 5-gram boilerplate header shared by EVERY doc: without the cap
    // it alone contributes n^2 join rows
    val header = "lorem ipsum dolor sit amet"
    val corpus = (0 until 40).map(i =>
      (i.toLong, s"$header unique$i token$i word$i end$i"))
    val df = corpus.toDF("doc_id", "text")
    // cap below the header's df: only header-derived shingles are shared,
    // so NO pair survives — bounded fan-out under planted skew
    assert(Dedup.ngramJaccard(df, 5, 0.01, maxShingleDf = 10).count() == 0)
    // a genuine duplicate is still recalled: its unique-token shingles sit
    // below the cap (union counts still include dropped shingles)
    val withDup = df.union(Seq((100L, corpus(7)._2)).toDF("doc_id", "text"))
    val got = Dedup.ngramJaccard(withDup, 5, 0.5, maxShingleDf = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((7L, 100L, 4L)), s"got $got") // 5 shingles, header one dropped
    // and the oracle corpus is untouched by the default cap
    def norm(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(5))).sorted.toSeq
    assert(norm(Dedup.ngramJaccard(docs, 5, Fixtures.jaccardThreshold)) ==
           norm(Dedup.ngramJaccard(docs, 5, Fixtures.jaccardThreshold,
             maxShingleDf = Long.MaxValue)))
  }

  test("simhash: deterministic, parallelism-invariant; near-identical docs have small hamming") {
    val a = Dedup.simhash(docs).collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val b = Dedup.simhash(docs.repartition(7)).collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(a == b)
    val byId = a.toMap
    val nearDups = exactJaccardPairs(5).filter(_._2 >= 0.9).keySet
    for ((x, y) <- nearDups) {
      val ham = java.lang.Long.bitCount(byId(x) ^ byId(y))
      assert(ham <= 8, s"near-dup ($x,$y) hamming $ham")
    }
  }

  test("simhashPairs: every emitted pair has the claimed hamming; blocking finds all <=3") {
    val sh = Dedup.simhash(docs).collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val got = Dedup.simhashPairs(docs, maxHamming = 3).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    for (((a, b), h) <- got)
      assert(java.lang.Long.bitCount(sh(a) ^ sh(b)) == h && h <= 3)
    val exp = (for {
      (a, ha) <- sh.toSeq; (b, hb) <- sh.toSeq if a < b
      h = java.lang.Long.bitCount(ha ^ hb) if h <= 3
    } yield (a, b)).toSet
    assert(got.keySet == exp) // quarter-blocking is exhaustive for hamming<=3
  }

  test("generalized Hamming blocking: blocks=8 (corpus-scale keys) == blocks=4; planted d=3 recalled") {
    // same pairs whichever block layout generates candidates — the refine
    // is exact, blocking only has to be pigeonhole-sound
    def pairs(blocks: Int) = Dedup.simhashPairs(docs, maxHamming = 3, blocks = blocks)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(pairs(8) == pairs(4))
    // planted exact-Hamming-3 partners at adversarial bit positions:
    // 3 flips inside ONE 16-bit quarter (defeats nothing), and 3 flips
    // spread across three different bytes (defeats 8-block single-block
    // keys if the combination logic were wrong)
    import spark.implicits._
    val base = 0x5A5A_F0F0_3C3C_9999L
    val rows = Seq(
      (1L, base), (2L, base ^ 0x7L),                       // 3 flips, quarter 0
      (3L, base ^ ((1L << 1) | (1L << 17) | (1L << 63))))  // spread flips
    val df = rows.toDF("doc_id", "simhash")
    for (blocks <- Seq(4, 8)) {
      val got = Dedup.hammingBlockPairs(df, "doc_id", "simhash", 3, blocks)
        .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got.contains((1L, 2L)) && got.contains((1L, 3L)),
        s"blocks=$blocks lost a planted Hamming-3 pair: $got")
    }
    // refusal when pigeonhole cannot hold
    intercept[IllegalArgumentException] {
      Dedup.hammingBlockPairs(df, "doc_id", "simhash", 4, 4)
    }
  }

  test("repetition: matches in-memory window arithmetic; planted loop detected") {
    import spark.implicits._
    val k = Fixtures.repetitionK
    // brute oracle over the fixture corpus
    val exp = docs.select("doc_id", "text").collect().flatMap { r =>
      val toks = r.getString(1).split(" ", -1)
      if (toks.length < k) None
      else {
        val wins = toks.sliding(k).map(_.mkString(" ")).toSeq
        Some(r.getLong(0) -> ((wins.size.toLong, wins.distinct.size.toLong)))
      }
    }.toMap
    val got = TextOps.repetition(docs, k).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == exp)
    // planted degenerate loop: "spam ham " * 50 → 2 distinct trigrams
    val planted = Seq((9001L, Array.fill(50)("spam ham").mkString(" ")))
      .toDF("doc_id", "text")
    val row = TextOps.repetition(planted, k).collect().head
    assert(row.getLong(1) == 98L && row.getLong(2) == 2L)
    assert(row.getDouble(3) > 0.97)
  }

  test("contamination: planted benchmark quote is flagged; clean docs are 0") {
    import spark.implicits._
    val bm = Fixtures.benchMod
    val benchText = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val corpus = Seq(
      (0L * bm, benchText),                           // the benchmark doc
      (1L, s"noise one two three four $benchText"),    // quotes the benchmark
      (2L, "clean words only here nothing shared at all today friend"),
      (3L, "alpha beta gamma delta epsilon stops here then diverges fully"))
      .toDF("doc_id", "text")
    val got = TextOps.contamination(corpus, bm, Fixtures.contamK).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // doc 1: 15 tokens -> 11 5-gram windows; the 6 benchmark windows all hit
    assert(got(1L) == ((11L, 6L)), s"got ${got(1L)}")
    assert(got(2L)._2 == 0L)
    // doc 3 shares exactly one 5-gram prefix with the benchmark
    assert(got(3L)._2 == 1L)
    // the benchmark doc itself is excluded from evaluation rows
    assert(!got.contains(0L))
  }

  test("quality/langId/tokenCount consistent with raw text") {
    val q = TextOps.quality(docs).collect()
    val texts = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    for (r <- q.take(100)) {
      val toks = texts(r.getLong(0)).split(" ", -1)
      assert(r.getLong(1) == toks.length)
      assert(r.getLong(2) == toks.count(Fixtures.stopwords.contains))
    }
  }

  test("fingerprint: matches hand-computed shingle-hash min; parallelism-invariant") {
    val exp = docs.collect().map(r => (r.getLong(0), r.getString(1)))
      .flatMap { case (id, text) =>
        val toks = text.split(" ", -1)
        if (toks.length < 5) None
        else Some(id -> toks.sliding(5).map(w => Dedup.hash64(w.mkString(" "))).min)
      }.toMap
    val got = TextOps.fingerprint(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == exp)
    val reparted = TextOps.fingerprint(docs.repartition(13)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reparted == exp)
  }

  test("fingerprintPairs == in-memory equal-fingerprint pairs; planted exact dups recalled") {
    val fp = docs.collect().map(r => (r.getLong(0), r.getString(1)))
      .flatMap { case (id, text) =>
        val toks = text.split(" ", -1)
        if (toks.length < 5) None
        else Some(id -> toks.sliding(5).map(w => Dedup.hash64(w.mkString(" "))).min)
      }
    val exp = (for {
      (a, ha) <- fp; (b, hb) <- fp if a < b && ha == hb
    } yield (a, b)).sorted.toSeq
    val got = TextOps.fingerprintPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got == exp)
    // identical text ⇒ identical min-shingle fingerprint: a planted exact
    // dup must be recalled (sf0.001 plants near-dups only, so plant our own)
    import spark.implicits._
    val src = docs.select("doc_id", "text").as[(Long, String)].collect()
    val donor = src.find(_._2.split(" ", -1).length >= 5).get
    val dupId = src.map(_._1).max + 1
    val withDup = (src :+ ((dupId, donor._2))).toSeq.toDF("doc_id", "text")
    val planted = TextOps.fingerprintPairs(withDup).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(planted.contains((donor._1, dupId)),
      s"planted exact dup (${donor._1},$dupId) not recalled")
  }

  test("cosineTopK matches in-memory brute force (quantized)") {
    val vecs = emb.collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def sim(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val got = AnnOps.cosineTopK(emb, Fixtures.annQueryIds, Fixtures.annK)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val exp = (for {
      qid <- Fixtures.annQueryIds
      ranked = vecs.toSeq.map { case (vid, v) =>
          (vid, math.floor(sim(vecs(qid.toLong), v) * 1e6).toLong)
        }.sortBy { case (vid, sq) => (-sq, vid) }.take(Fixtures.annK)
      ((vid, _), i) <- ranked.zipWithIndex
    } yield (qid.toLong, (i + 1).toLong, vid)).toSet
    assert(got == exp)
  }

  test("annLsh: self always found at rank 1; planted near-dups recalled") {
    import spark.implicits._
    // plant near-duplicates: copy vectors 0..3 with tiny deterministic noise
    val base = emb.collect().map(r =>
      (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
    val planted = (0 until 4).map { i =>
      val (id, v, lb) = base(i)
      (id + 100000L, v.zipWithIndex.map { case (x, d) =>
        x + (graft.img.Codec.mix(id ^ d) % 1000L).toFloat * 1e-7f }, lb)
    }
    val all = (base ++ planted).toSeq.toDF("vec_id", "embedding", "label")
    val qids = Seq(0, 1, 2, 3)
    val got = graft.ops.AnnOps.annLsh(all, qids, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    for (q <- qids) {
      val mine = got.filter(_._1 == q).sortBy(_._2).map(_._3).toSeq
      assert(mine.head == q.toLong, s"q=$q rank-1 must be self, got $mine")
      assert(mine.contains(q + 100000L), s"q=$q planted near-dup missed: $mine")
    }
  }

  test("annIvf: exact within routed lists; decent recall vs brute") {
    val brute = AnnOps.cosineTopK(emb, Fixtures.annQueryIds, Fixtures.annK)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = AnnOps.annIvf(emb, Fixtures.annQueryIds, Fixtures.annK, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall >= 0.3, s"recall $recall") // random embeddings: routing is weak by nature
  }

  test("kmeans: total deterministic assignment; annIvfKmeans recall vs brute") {
    val n = emb.count()
    val (a1, c1) = AnnOps.kmeans(emb, k = 8, iters = 3)
    val rows1 = a1.collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    assert(rows1.length == n, "every vector assigned exactly once")
    assert(rows1.map(_._2).forall(c => c >= 0 && c < 8))
    assert(rows1.map(_._2).distinct.size > 1, "degenerate single cluster")
    assert(c1.count() == 8)
    // deterministic across runs (quantized centroids kill sum-order noise)
    val (a2, _) = AnnOps.kmeans(emb, k = 8, iters = 3)
    assert(a2.collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq == rows1)
    val brute = AnnOps.cosineTopK(emb, Fixtures.annQueryIds, Fixtures.annK)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = AnnOps.annIvfKmeans(emb, Fixtures.annQueryIds, Fixtures.annK, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall >= 0.3, s"recall $recall") // random embeddings: routing is weak by nature
  }

  test("streaming dedup (GroupState) == batch exact dedup, across micro-batches") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val rows = docs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    val name = "graft_stream_dedup_spec"
    val q = Dedup.streamDedupAssign(ms.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      // three ascending micro-batches: first-wins == min doc_id
      for (chunk <- rows.grouped(math.max(1, rows.length / 3 + 1))) {
        ms.addData(chunk.toSeq); q.processAllAvailable()
      }
    } finally q.stop()
    val assigns = spark.table(name).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(assigns.length == rows.length, "one assignment per ingested doc")
    val gotGroups = assigns.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val expGroups = Dedup.exact(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotGroups == expGroups)
    // is_first marks exactly the keepers; duplicates spanning batches
    // keep the first batch's keeper
    assert(assigns.filter(_._3).map(_._1).toSet == expGroups.keySet)
    assigns.foreach { case (_, keeper, _) => assert(expGroups.contains(keeper)) }
  }

  test("streaming dedup TTL: exact within the window, eviction opens a fresh one") {
    // round-3 verdict ask #6: the 10¹²-doc state bound made real. An
    // armed processing-time timeout makes the engine self-trigger batches
    // (that is HOW expiries fire with no arriving data), so the harness
    // cannot drain with processAllAvailable — it polls the sink with a
    // real clock instead, against one continuously-running query.
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val ttlMs = 8000L
    val ms = MemoryStream[(Long, String)]
    val name = "graft_ttl_spec"
    val q = Dedup.streamDedupAssign(ms.toDF().toDF("doc_id", "text"),
        ttlMs = Some(ttlMs)).writeStream
      .format("memory").queryName(name).outputMode("append").start()
    def rowsNow(): Seq[(Long, Long, Boolean)] = spark.table(name).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).sortBy(_._1).toSeq
    def awaitRows(n: Int): Seq[(Long, Long, Boolean)] = {
      val deadline = System.currentTimeMillis() + 120000
      while (rowsNow().size < n) {
        assert(System.currentTimeMillis() < deadline, s"timed out awaiting $n rows")
        Thread.sleep(100)
      }
      rowsNow()
    }
    try {
      // within the window: exact dedup, intra-batch min-id keeper
      ms.addData((5L, "X"), (3L, "X"), (7L, "Y"))
      assert(awaitRows(3) == Seq((3L, 3L, true), (5L, 3L, false), (7L, 7L, true)))
      // a later micro-batch inside the window still routes to the keeper
      // (and re-arms the key's timeout)
      ms.addData((9L, "X"))
      assert(awaitRows(4).contains((9L, 3L, false)))
      // REAL-CLOCK planted expiry, POLLED (round-4 ADVICE): on a loaded
      // host the timeout sweep can fire late, so a single post-sleep
      // assert is nondeterministic. Probe until a fresh keeper appears —
      // a probe that lands BEFORE eviction joins the old window (and
      // re-arms the key), so wait a full TTL between probes. Without the
      // TTL every probe would read (id, 3, false) and the deadline fails
      // the test.
      val evictDeadline = System.currentTimeMillis() + 110000
      var probeId = 13L
      var fresh = false
      while (!fresh) {
        Thread.sleep(ttlMs + 1500)
        val n0 = rowsNow().size
        ms.addData((probeId, "X"))
        val row = awaitRows(n0 + 1).find(_._1 == probeId).get
        if (row == ((probeId, probeId, true))) fresh = true
        else {
          // old keeper still alive: the probe itself re-armed the key
          assert(row == ((probeId, 3L, false)), s"unexpected probe row $row")
          assert(System.currentTimeMillis() < evictDeadline,
            "TTL eviction never observed")
          probeId += 2
        }
      }
    } finally q.stop()
  }

  test("streaming boxJoin (stateless stream-static join) == batch boxJoin") {
    val got = EventOps.streamBoxJoin(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1))).sorted.toSeq
    val exp = graft.ops.SpatialOps.boxJoin(
        graft.data.Points(spark, dir), Fixtures.boxes).collect()
      .map(r => (r.getInt(0), r.getLong(1))).sorted.toSeq
    assert(got == exp && got.nonEmpty)
  }

  test("streaming tile histogram == batch tile histogram") {
    val batch = graft.ops.SpatialOps.tileHistogram(
        graft.data.Points(spark, dir), Fixtures.TileRes)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(t => t).toSeq
    val stream = EventOps.streamTileHistogram(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(t => t).toSeq
    assert(stream == batch)
  }

  test("streaming windowed agg == batch windowed agg") {
    val batch = EventOps.windowAgg(spark.read.parquet(s"$dir/events.parquet"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).sortBy(t => (t._1, t._2))
    val stream = EventOps.streamWindowAgg(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).sortBy(t => (t._1, t._2))
    assert(stream.toSeq == batch.toSeq)
  }

  test("watermark drops late rows across micro-batches") {
    import spark.implicits._
    import java.sql.Timestamp
    val dir = tempDir("graft_late").toString
    def write(name: String, rows: Seq[(Long, String, Long)]): Unit =
      rows.map { case (id, et, epochSec) =>
        (id, new Timestamp(epochSec * 1000L), 1L, et, 1.0, "{}")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(dir)

    val base = 1700000000L // fixed epoch, hour-aligned windows below
    write("b1", Seq((1, "a", base), (2, "a", base + 10 * 3600))) // max ts = base+10h

    val name = "graft_late_sink"
    val src = spark.readStream.schema(graft.ops.EventOps.eventsSchema).parquet(dir)
    val agg = src.withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(unix_timestamp(col("window.start")).as("hr"), col("event_type"), col("cnt"))
    val q = agg.writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      q.processAllAvailable() // watermark advances to base+8h; window(base) emitted
      // batch 2: one in-time row and one LATE row (3h before the watermark)
      write("b2", Seq((3, "a", base + 9 * 3600), (4, "LATE", base + 5 * 3600)))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table(name).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val hour0 = base - base % 3600 // tumbling windows are hour-aligned
    assert(out.contains((hour0, "a", 1L)), s"on-time window missing: ${out.toSeq}")
    assert(!out.exists(_._2 == "LATE"), s"late row must be dropped: ${out.toSeq}")
  }

  test("watermarked streaming window: emits exactly the watermark-finalized windows") {
    val got = EventOps.streamWindowAggWatermarked(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val batch = EventOps.windowAgg(spark.read.parquet(s"$dir/events.parquet"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    // append mode finalizes a window only once the watermark (max event time
    // - 2h) passes its end; later windows stay in state after one micro-batch
    val maxTs = spark.read.parquet(s"$dir/events.parquet")
      .agg(max(unix_timestamp(col("ts")))).collect()(0).getLong(0)
    val wm = maxTs - 2 * 3600
    val expected = batch.filter { case (hr, _, _) => hr + 3600 <= wm }
    assert(got == expected)
    assert(got.subsetOf(batch))
  }
}
