package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor + embedding similarity over the
  * `embeddings` table (vec_id, embedding: array<float>, label).
  *
  * All dot products are computed in double (each float cast before
  * multiply, left-fold sum) — the exact shape the DuckDB oracle mirrors —
  * and similarities are quantized to `simq = floor(sim * 1e6)` before any
  * ordering/threshold so float-sum associativity differences between
  * engines can never flip a comparison.
  */
object AnnOps {

  // native Cast (codegen'd, per-element) — NOT transform(_, _.cast(...)),
  // whose lambda would run interpreted per element
  private def toDouble(v: Column): Column = v.cast("array<double>")

  /** Codegen'd dot product ([[graft.functions.VecDot]], constructed
    * directly — the `graft_dot` SQL registration resolves against the
    * DataFrame's session and would make this API fail on sessions without
    * GraftExtensions installed): ascending-index left-fold sum,
    * bit-identical to the interpreted HOF formulation and to the DuckDB
    * oracle, ~100× cheaper per row on 64-dim vectors. */
  private def dot(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(graft.functions.VecDot(
      GraftColumnBridge.expression(toDouble(a)),
      GraftColumnBridge.expression(toDouble(b))))
  }

  private def norm(v: Column): Column = sqrt(dot(v, v))

  def simq(sim: Column): Column = floor(sim * lit(1000000)).cast("long")

  private def withNorm(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), toDouble(col("embedding")).as("v"), col("label"))
      .withColumn("nrm", norm(col("v")))

  /** Brute-force cosine top-k (the correctness baseline): broadcast the
    * query vectors, one map-side pass over all embeddings, per-query top-k.
    * This is the exact plan kNN-join uses at any scale when Q is small —
    * zero shuffles on the corpus side, one narrow window on Q·N candidate
    * rows pre-pruned by nothing (baseline). */
  def cosineTopK(emb: DataFrame, queryIds: Seq[Int], k: Int): DataFrame = {
    val e = withNorm(emb)
    val q = e.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qnrm"))
    val sim = dot(col("qv"), col("v")) / (col("qnrm") * col("nrm"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sq").desc, col("vec_id"))
    e.crossJoin(broadcast(q))
      .withColumn("sq", simq(sim))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("vec_id").as("vid"), col("sq"))
  }

  /** Embedding-cosine near-dup pairs: deterministic probe subset × corpus,
    * keep pairs above the quantized similarity threshold. The probe-subset
    * form is the oracle-checkable slice of the full all-pairs problem (the
    * full version is `annIvf`/LSH territory at scale). */
  def nearDupPairs(emb: DataFrame, probeMod: Int, simqThreshold: Long): DataFrame = {
    val e = withNorm(emb)
    val probes = e.filter(col("vec_id") % probeMod === 0)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qnrm"))
    val sim = dot(col("qv"), col("v")) / (col("qnrm") * col("nrm"))
    e.crossJoin(broadcast(probes))
      .filter(col("qid") =!= col("vec_id"))
      .withColumn("sq", simq(sim))
      .filter(col("sq") >= simqThreshold)
      .select(col("qid"), col("vec_id").as("vid"), col("sq"))
  }

  /** Random-hyperplane LSH ANN (the second scale path, beside IVF):
    * L hash tables × b sign-bits of dot products against deterministic
    * hyperplanes (components derived from [[graft.ops.Dedup.hash64]]-style
    * mixing, so signatures are reproducible anywhere). Candidates = bucket
    * matches in ANY table (explode + equi-join on (table, bucket) — one
    * shuffle on a compact key), then exact cosine re-rank of candidates
    * only. Approximate; the spec pins perfect recall on planted near-dups
    * (cos ≈ 1 ⇒ identical sign patterns w.h.p.). */
  def annLsh(emb: DataFrame, queryIds: Seq[Int], k: Int,
             tables: Int = 8, bits: Int = 8, dim: Int = 64,
             stagePath: Option[String] = None): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    // deterministic hyperplane components in [-0.5, 0.5)
    def hp(t: Int, b: Int, d: Int): Double =
      ((graft.img.Codec.mix((t.toLong << 40) ^ (b.toLong << 20) ^ d) & 0xFFFFFL)
        .toDouble / 0x100000L.toDouble) - 0.5
    // Signatures as a typed per-partition kernel over a precomputed
    // hyperplane matrix: the equivalent Column expression tree is
    // tables × bits × dim (≈4,096) element_at multiplies PER ROW —
    // interpreter-hostile and the measured round-1 bench bottleneck
    // (same finding as Dedup.withSignatures: kernels beat HOF/oversized
    // expressions by orders of magnitude on per-row loops).
    val planes: Array[Array[Double]] = Array.tabulate(tables * bits) { tb =>
      Array.tabulate(dim)(d => hp(tb / bits, tb % bits, d))
    }
    val hashedRaw = withNorm(emb)
      .select(col("vec_id"), col("v"), col("nrm"))
      .as[(Long, Seq[Double], Double)]
      .mapPartitions(_.map { case (id, vSeq, nrm) =>
        val v = vSeq.toArray
        val n = math.min(dim, v.length)
        val bkts = new Array[Long](tables)
        var t = 0
        while (t < tables) {
          var bkt = 0L
          var b = 0
          while (b < bits) {
            val p = planes(t * bits + b)
            var s = 0.0
            var d = 0
            while (d < n) { s += v(d) * p(d); d += 1 }
            if (s > 0) bkt |= (1L << b)
            b += 1
          }
          bkts(t) = bkt
          t += 1
        }
        (id, vSeq, nrm, bkts)
      })
      .toDF("vec_id", "v", "nrm", "bkts")
    // stagePath: checkpoint the signature table to parquet so the bucket
    // join + exact re-rank downstream runs over externally readable bits —
    // the q28c driver check oracle-verifies that dataflow in DuckDB (the
    // hyperplane kernel itself is rows-only by nature)
    val hashed = OpUtil.stageOrPersist(hashedRaw, stagePath)
    // candidate generation on NARROW keys only (vec_id, t, bkt): the
    // 64-dim payload must not ride the ×tables posexplode, the broadcast
    // bucket join, or the dedup shuffle — it joins back onto the (much
    // smaller) candidate-pair set, the same shape minhashLsh uses. The
    // query side is small by contract, so both its key set and its
    // payload broadcast.
    val keys = hashed.select(col("vec_id"),
      posexplode(col("bkts")).as(Seq("t", "bkt")))
    val qk = keys.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("qid"), col("t").as("qt"), col("bkt").as("qbkt"))
    val candIds = keys.join(broadcast(qk),
        col("t") === col("qt") && col("bkt") === col("qbkt"))
      .select(col("qid"), col("vec_id")).dropDuplicates("qid", "vec_id")
    val qPayload = hashed.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("pqid"), col("v").as("qv"), col("nrm").as("qnrm"))
    val cand = candIds
      .join(hashed.select(col("vec_id"), col("v"), col("nrm")), "vec_id")
      .join(broadcast(qPayload), col("qid") === col("pqid"))
      .select(col("qid"), col("qv"), col("qnrm"), col("vec_id"), col("v"), col("nrm"))
    val sim = dot(col("qv"), col("v")) / (col("qnrm") * col("nrm"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sq").desc, col("vec_id"))
    val out = cand.withColumn("sq", simq(sim))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("vec_id").as("vid"), col("sq"))
    if (stagePath.isDefined) out else OpUtil.finish(out, hashed)
  }

  /** IVF-style ANN (the scale path): build centroids per coarse partition
    * (here: the label column as the pre-assigned IVF list — at scale,
    * k-means iterations of exactly this groupBy shape), route each query to
    * its `nprobe` nearest centroids, search only those lists. One broadcast
    * of (tiny) centroids; corpus side shuffles once on list id at build
    * time, never at query time. Approximate → verified by a recall spec,
    * rows-only driver check. */
  def annIvf(emb: DataFrame, queryIds: Seq[Int], k: Int, nprobe: Int = 2,
             stagePaths: Option[(String, String)] = None): DataFrame =
    annIvfLists(withNorm(emb).withColumn("list", col("label").cast("int")),
      queryIds, k, nprobe, stagePaths)

  /** Element-wise mean vector per list via the typed partial-sum kernel:
    * each partition emits ≤ |lists| (sum[dim], count) rows, folded on the
    * driver in stable order, quantized to 1e-6 (sum-order noise can never
    * flip a routing decision). The corpus never shuffles — this replaces
    * a posexplode of rows·dim exploded rows + two aggregations. */
  private def listCentroids(e: DataFrame): Seq[(Int, Seq[Double])] = {
    import e.sparkSession.implicits._
    val partials = e.select(col("list").cast("int"), col("v"))
      .as[(Int, Seq[Double])]
      .mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val sums = scala.collection.mutable.HashMap.empty[Int, Array[Double]]
        val cnts = scala.collection.mutable.HashMap.empty[Int, Long]
        it.foreach { case (c, v) =>
          val s = sums.getOrElseUpdate(c, new Array[Double](v.length))
          var i = 0
          while (i < v.length) { s(i) += v(i); i += 1 }
          cnts(c) = cnts.getOrElse(c, 0L) + 1
        }
        sums.keysIterator.map(c => (pid, c, sums(c).toSeq, cnts(c))).toArray.iterator
      }
      .collect().sortBy(p => (p._2, p._1))
    partials.groupBy(_._2).toSeq.sortBy(_._1).map { case (c, ps) =>
      val dim = ps.head._3.length
      val tot = new Array[Double](dim)
      var n = 0L
      ps.foreach { p =>
        var i = 0
        while (i < dim) { tot(i) += p._3(i); i += 1 }
        n += p._4
      }
      c -> tot.map(x => math.floor(x / n * 1e6) / 1e6).toSeq
    }
  }

  /** IVF search over an arbitrary list assignment: centroid per list
    * (element-wise mean), route each query to its nprobe nearest
    * centroids, exact search within routed lists only.
    *
    * `stagePaths = Some((vecPath, centPath))` checkpoints the listed
    * vectors and the centroids to parquet and searches FROM the staged
    * bits, so the routing + list-search + rank dataflow is DuckDB-oracle-
    * checked (q28b/q28d) — the centroid mean kernel stays spec-checked. */
  private def annIvfLists(e0: DataFrame, queryIds: Seq[Int], k: Int,
                          nprobe: Int,
                          stagePaths: Option[(String, String)] = None): DataFrame = {
    val spark = e0.sparkSession
    import spark.implicits._
    val cent0 = listCentroids(e0).toDF("list", "cv")
      .withColumn("cnrm", norm(col("cv")))
    val (e, cent) = stagePaths match {
      case Some((pv, pc)) =>
        (OpUtil.stage(e0.select(col("vec_id"), col("v"), col("nrm"), col("list")), pv),
          OpUtil.stage(cent0, pc))
      case None => (e0, cent0)
    }
    val q = e.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qnrm"))
    // route: top-nprobe centroid lists per query
    val wRoute = Window.partitionBy(col("qid"))
      .orderBy(simq(dot(col("qv"), col("cv")) / (col("qnrm") * col("cnrm"))).desc, col("list"))
    val routes = q.crossJoin(broadcast(cent))
      .withColumn("rr", row_number().over(wRoute))
      .filter(col("rr") <= nprobe)
      .select(col("qid"), col("qv"), col("qnrm"), col("list").as("rlist"))
    // search only the routed lists
    val sim = dot(col("qv"), col("v")) / (col("qnrm") * col("nrm"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sq").desc, col("vec_id"))
    e.join(broadcast(routes), col("list") === col("rlist"))
      .withColumn("sq", simq(sim))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("vec_id").as("vid"), col("sq"))
  }

  /** Lloyd's k-means over the embedding corpus — the real IVF list
    * builder ([[annIvf]]'s doc promises "k-means iterations of exactly
    * this groupBy shape"; this is that op). Deterministic: init = the k
    * lowest-vec_id vectors; assignment argmin breaks ties on cluster id;
    * centroid means are quantized to 1e-6 after each update so
    * double-sum partition-order noise can never flip an assignment.
    * Each iteration is ONE shuffle-free pass: assignment is map-only
    * (centroids as plan literals: k codegen'd [[graft.functions.VecDot]]
    * distances |c|² − 2·v·c, argmin via array_min/array_position), and
    * the mean update is a typed partial-sum kernel — each partition emits
    * at most k (sum[dim], count) rows, folded on the driver in a stable
    * (cluster, partition) order. The corpus never moves; per-iteration
    * driver traffic is k·dim·partitions doubles.
    * Returns (assignments (vec_id, cluster), centroids (cluster, cv)). */
  def kmeans(emb: DataFrame, k: Int = 8, iters: Int = 4): (DataFrame, DataFrame) = {
    val spark = emb.sparkSession
    import spark.implicits._
    val e = withNorm(emb).select(col("vec_id"), col("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var cents: Array[(Int, Seq[Double])] = e.orderBy("vec_id").limit(k).collect()
      .zipWithIndex.map { case (r, i) => (i, r.getSeq[Double](1)) }
    // MAP-ONLY assignment: centroids are plan literals, so the argmin is
    // k codegen'd graft_dot calls + array_min/array_position per row —
    // no crossJoin, no N·k-row window shuffle, the corpus never moves.
    // |c|² is folded driver-side; ties pick the lowest cluster id
    // (array_position returns the FIRST index of the min).
    def assignTo(cs: Array[(Int, Seq[Double])]): DataFrame = {
      val dists = cs.sortBy(_._1).map { case (_, cv) =>
        val c2 = cv.foldLeft(0.0)((acc, x) => acc + x * x)
        lit(c2) - lit(2.0) * dot(col("v"), typedlit(cv))
      }
      val dArr = array(dists.toIndexedSeq: _*)
      e.withColumn("cluster",
        (array_position(dArr, array_min(dArr)) - 1).cast("int"))
    }
    for (_ <- 1 to iters) {
      val updated = listCentroids(
        assignTo(cents).withColumnRenamed("cluster", "list")).toMap
      // a cluster that lost all members keeps its previous centroid
      cents = cents.map { case (c, old) => (c, updated.getOrElse(c, old)) }
    }
    val cdf = cents.toSeq.toDF("cluster", "cv")
    val assignments = assignTo(cents).select(col("vec_id"), col("cluster"))
    (OpUtil.finish(assignments, e), cdf)
  }

  /** IVF ANN over k-means lists (the end-to-end scale path: build lists
    * once at write time with [[kmeans]], search with [[annIvfLists]]). */
  def annIvfKmeans(emb: DataFrame, queryIds: Seq[Int], k: Int,
                   kClusters: Int = 8, iters: Int = 4, nprobe: Int = 2,
                   stagePaths: Option[(String, String)] = None): DataFrame = {
    val (assign, _) = kmeans(emb, kClusters, iters)
    val e = withNorm(emb)
      .join(assign.withColumnRenamed("cluster", "list"), "vec_id")
    annIvfLists(e, queryIds, k, nprobe, stagePaths)
  }
}
