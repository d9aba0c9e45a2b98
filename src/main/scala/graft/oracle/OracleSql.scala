package graft.oracle

import graft.data.Fixtures
import graft.geo.{CellId, MBR, Poly}

/** ANSI-SQL (DuckDB-dialect-safe) twins of every oracle-checked engine
  * query. Each SQL string is generated from the same [[Fixtures]] constants
  * and the same arithmetic shapes as the Spark Columns in
  * [[graft.geo.GeoCols]] — identical IEEE double expressions, so value
  * hashes match bit-for-bit.
  *
  * Table names are bare (`lineitem`, `documents`, …): the driver registers
  * the sf-dir parquet files as DuckDB views under those names.
  */
object OracleSql {

  /** Render a double so DuckDB parses back the identical IEEE value
    * (Double.toString is the shortest round-trip representation). */
  def d(v: Double): String = {
    val s = v.toString
    if (s.endsWith(".0")) s else s // keep as-is; DuckDB accepts E-notation
  }

  /** Deterministic point cloud derived from lineitem — integer arithmetic
    * then one exact double division, identical in Spark and DuckDB.
    * lat ∈ [−90, 90), lon ∈ [−180, 180). */
  val pointsCte: String =
    """WITH pts AS (
      |  SELECT l_orderkey * 8 + l_linenumber AS id,
      |         ((l_orderkey * 7919 + l_linenumber * 104729) % 180000) / 1000.0 - 90.0 AS lat,
      |         ((l_partkey * 7919 + l_suppkey * 337 + l_orderkey) % 360000) / 1000.0 - 180.0 AS lon
      |  FROM lineitem
      |)""".stripMargin

  /** Row-major grid cell id — SQL twin of [[graft.geo.GeoCols.cellCol]],
    * including the [0, 2^r − 1] clamp (lat=90 / lon=180 edge parity). */
  def cellSql(latE: String, lonE: String, r: Int): String = {
    def idx(e: String, off: String, step: Double): String =
      s"LEAST(GREATEST(CAST(FLOOR(($e + $off) / ${d(step)}) AS BIGINT), 0), ${CellId.n(r) - 1})"
    s"${idx(latE, "90.0", CellId.latStep(r))} * ${CellId.n(r)}" +
      s" + ${idx(lonE, "180.0", CellId.lonStep(r))}"
  }

  def inBoxSql(b: MBR, latE: String = "lat", lonE: String = "lon"): String =
    s"$latE >= ${d(b.minLat)} AND $latE <= ${d(b.maxLat)} AND " +
      s"$lonE >= ${d(b.minLon)} AND $lonE <= ${d(b.maxLon)}"

  def d2Sql(qLat: Double, qLon: Double): String =
    s"(lat - ${d(qLat)}) * (lat - ${d(qLat)}) + (lon - ${d(qLon)}) * (lon - ${d(qLon)})"

  /** Even–odd ray-crossing PIP — SQL twin of [[Poly.contains]]: same
    * per-edge double expression. */
  def polyContainsSql(p: Poly, latE: String = "lat", lonE: String = "lon"): String = {
    val terms = p.ring.indices.map { i =>
      val j = if (i == 0) p.ring.length - 1 else i - 1
      val (yi, xi) = p.ring(i)
      val (yj, xj) = p.ring(j)
      s"(CASE WHEN ((${d(yi)} > $latE) != (${d(yj)} > $latE)) AND " +
        s"($lonE < (${d(xj)} - ${d(xi)}) * ($latE - ${d(yi)}) / (${d(yj)} - ${d(yi)}) + ${d(xi)}) " +
        s"THEN 1 ELSE 0 END)"
    }
    s"((${terms.mkString(" + ")}) % 2) = 1"
  }

  // ---------- per-query oracle SQL ----------

  /** Full derived cloud — the oracle for snapshot-store round trips
    * (append/compact must be content-preserving). */
  def allPoints: String =
    s"""$pointsCte
       |SELECT id, lat, lon FROM pts""".stripMargin

  /** Slice of the cloud by an id-modulus predicate — the oracle for
    * incremental reads (appendedSince over modulus-partitioned units) and
    * time travel (readAt a snapshot holding one modulus class). */
  def pointsModIn(mod: Int, classes: Seq[Int]): String =
    s"""$pointsCte
       |SELECT id, lat, lon FROM pts WHERE id % $mod IN (${classes.mkString(", ")})""".stripMargin

  /** Cloud minus a box — the oracle for row-level (equality) deletes:
    * deleting the box's rows must leave exactly the complement. */
  def allPointsExcept(b: MBR): String =
    s"""$pointsCte
       |SELECT id, lat, lon FROM pts WHERE NOT (${inBoxSql(b)})""".stripMargin

  def rangeBox(b: MBR): String =
    s"""$pointsCte
       |SELECT id, lat, lon FROM pts WHERE ${inBoxSql(b)}""".stripMargin

  def pointLookup(lo: Long, hi: Long): String =
    s"""$pointsCte
       |SELECT id, lat, lon FROM pts WHERE id >= $lo AND id <= $hi""".stripMargin

  /** Exact-key lookup — the oracle for the Bloom-pruned store lookup
    * (pruning may only change which FILES are opened, never the rows). */
  def pointLookupIn(ids: Seq[Long]): String =
    s"""$pointsCte
       |SELECT id, lat, lon FROM pts WHERE id IN (${ids.mkString(", ")})""".stripMargin

  def tileAssign(r: Int): String =
    s"""$pointsCte
       |SELECT id, ${cellSql("lat", "lon", r)} AS cell FROM pts""".stripMargin

  def tileHistogram(r: Int): String =
    s"""$pointsCte
       |SELECT ${cellSql("lat", "lon", r)} AS cell, count(*) AS cnt
       |FROM pts GROUP BY 1""".stripMargin

  /** Tile pyramid oracle: per-level histograms straight from lat/lon —
    * independent of the engine's rollup-on-aggregates evaluation order. */
  def tilePyramid(rMax: Int): String = {
    val arms = (0 to rMax).map(r =>
      s"SELECT $r AS r, ${cellSql("lat", "lon", r)} AS cell, count(*) AS cnt FROM pts GROUP BY 1, 2")
    s"""$pointsCte
       |${arms.mkString("\nUNION ALL\n")}""".stripMargin
  }

  def knn(qLat: Double, qLon: Double, k: Int): String =
    s"""$pointsCte
       |SELECT CAST(ROW_NUMBER() OVER (ORDER BY ${d2Sql(qLat, qLon)}, id) AS BIGINT) AS rank,
       |       id, lat, lon, ${d2Sql(qLat, qLon)} AS d2
       |FROM pts
       |ORDER BY d2, id LIMIT $k""".stripMargin

  def skyline: String =
    s"""$pointsCte, dpts AS (SELECT DISTINCT lat, lon FROM pts)
       |SELECT lat, lon FROM dpts p
       |WHERE NOT EXISTS (
       |  SELECT 1 FROM dpts q
       |  WHERE q.lat <= p.lat AND q.lon <= p.lon
       |    AND (q.lat < p.lat OR q.lon < p.lon))""".stripMargin

  def boxJoin(boxes: Seq[(Int, MBR)]): String = {
    val values = boxes.map { case (bid, b) =>
      s"($bid, ${d(b.minLat)}, ${d(b.minLon)}, ${d(b.maxLat)}, ${d(b.maxLon)})"
    }.mkString(", ")
    s"""$pointsCte
       |SELECT b.box_id, p.id
       |FROM (VALUES $values) AS b(box_id, minlat, minlon, maxlat, maxlon)
       |JOIN pts p ON p.lat >= b.minlat AND p.lat <= b.maxlat
       |          AND p.lon >= b.minlon AND p.lon <= b.maxlon""".stripMargin
  }

  /** MBR-intersection join oracle: re-derive both rectangle sets from pts
    * (twin of [[graft.data.Rects.derive]] — same integer mods, same single
    * double division, same IEEE add/subtract) and join on the closed-box
    * overlap inequality. DuckDB plans the conjunction of range predicates
    * as an IEJoin, so the oracle stays tractable without any grid. */
  def mbrJoin(mod: Int, clsA: Int, clsB: Int): String = {
    def rectCte(alias: String, cls: Int): String =
      s"""$alias AS (
         |  SELECT id,
         |         lat - ((id % ${Fixtures.RectHalfLatMod}) / 100.0 + 0.5) AS minlat,
         |         lon - ((id % ${Fixtures.RectHalfLonMod}) / 100.0 + 0.5) AS minlon,
         |         lat + ((id % ${Fixtures.RectHalfLatMod}) / 100.0 + 0.5) AS maxlat,
         |         lon + ((id % ${Fixtures.RectHalfLonMod}) / 100.0 + 0.5) AS maxlon
         |  FROM pts WHERE id % $mod = $cls
         |)""".stripMargin
    s"""$pointsCte, ${rectCte("ra", clsA)}, ${rectCte("rb", clsB)}
       |SELECT ra.id AS a_id, rb.id AS b_id
       |FROM ra JOIN rb
       |  ON ra.minlat <= rb.maxlat AND rb.minlat <= ra.maxlat
       | AND ra.minlon <= rb.maxlon AND rb.minlon <= ra.maxlon""".stripMargin
  }

  def pipJoin(polys: Seq[(Int, Poly)]): String = {
    val arms = polys.map { case (pid, p) =>
      s"SELECT $pid AS poly_id, id FROM pts WHERE ${polyContainsSql(p)}"
    }
    s"""$pointsCte
       |${arms.mkString("\nUNION ALL\n")}""".stripMargin
  }

  /** Polygon rasterization oracle — twin of [[graft.ops.SpatialOps
    * .rasterize]]: enumerate the bbox cell box via generate_series and
    * keep cells whose center passes the same ray-crossing test (identical
    * IEEE center arithmetic: (idx + 0.5) * step - offset). */
  def rasterize(polys: Seq[(Int, Poly)], r: Int): String = {
    val n = CellId.n(r)
    val arms = polys.map { case (pid, p) =>
      val b = p.bbox
      val y0 = CellId.cellY(b.minLat, r); val y1 = CellId.cellY(b.maxLat, r)
      val x0 = CellId.cellX(b.minLon, r); val x1 = CellId.cellX(b.maxLon, r)
      val cLat = s"((CAST(y AS DOUBLE) + 0.5) * ${d(CellId.latStep(r))} - 90.0)"
      val cLon = s"((CAST(x AS DOUBLE) + 0.5) * ${d(CellId.lonStep(r))} - 180.0)"
      s"""SELECT $pid AS poly_id, y * $n + x AS cell
         |FROM generate_series($y0, $y1) ys(y), generate_series($x0, $x1) xs(x)
         |WHERE ${polyContainsSql(p, cLat, cLon)}""".stripMargin
    }
    arms.mkString("\nUNION ALL\n")
  }

  /** Zonal-statistics oracle — twin of [[graft.ops.SpatialOps.zonalStats]]:
    * one aggregate row per polygon over the ray-crossing membership test.
    * sum(id) is cast back to BIGINT (DuckDB widens integer sums to
    * HUGEINT; the values fit a long by construction). */
  def zonalStats(polys: Seq[(Int, Poly)]): String = {
    val arms = polys.map { case (pid, p) =>
      s"""SELECT $pid AS poly_id, count(*) AS cnt,
         |       CAST(sum(id) AS BIGINT) AS sum_id,
         |       min(lat) AS min_lat, max(lat) AS max_lat,
         |       min(lon) AS min_lon, max(lon) AS max_lon
         |FROM pts WHERE ${polyContainsSql(p)}""".stripMargin
    }
    s"""$pointsCte
       |${arms.mkString("\nUNION ALL\n")}""".stripMargin
  }

  /** [[zonalStats]] restricted to non-empty zones — the oracle of
    * [[graft.ops.SpatialOps.zonalStats]] filtered to `cnt > 0`. The HAVING
    * drops an empty zone's row on ANY dataset, not just ones where every
    * fixture zone happens to be non-empty. */
  def zonalStatsNonEmpty(polys: Seq[(Int, Poly)]): String = {
    val arms = polys.map { case (pid, p) =>
      s"""SELECT $pid AS poly_id, count(*) AS cnt,
         |       CAST(sum(id) AS BIGINT) AS sum_id,
         |       min(lat) AS min_lat, max(lat) AS max_lat,
         |       min(lon) AS min_lon, max(lon) AS max_lon
         |FROM pts WHERE ${polyContainsSql(p)}
         |HAVING count(*) > 0""".stripMargin
    }
    s"""$pointsCte
       |${arms.mkString("\nUNION ALL\n")}""".stripMargin
  }

  /** ε-distance join oracle: brute self-join on the probe slice — twin of
    * [[graft.ops.SpatialOps.distanceJoin]] (d² = (b−a)² ordering). */
  def distanceJoin(eps: Double, probeMod: Int): String = {
    val d2 = "(b.lat - a.lat) * (b.lat - a.lat) + (b.lon - a.lon) * (b.lon - a.lon)"
    s"""$pointsCte
       |SELECT a.id AS a_id, b.id AS b_id, $d2 AS d2
       |FROM pts a JOIN pts b
       |  ON a.id % $probeMod = 0 AND a.id != b.id
       | AND $d2 <= ${d(eps * eps)}""".stripMargin
  }

  def radiusSweep(cLat: Double, cLon: Double, radii: Seq[Double]): String = {
    val aggs = radii.zipWithIndex.map { case (rr, i) =>
      val b = graft.geo.MBR(cLat - rr, cLon - rr, cLat + rr, cLon + rr)
      s"CAST(sum(CASE WHEN ${inBoxSql(b)} THEN 1 ELSE 0 END) AS BIGINT) AS cnt_$i"
    }
    s"""$pointsCte
       |SELECT ${aggs.mkString(",\n       ")} FROM pts""".stripMargin
  }

  def knnJoin(queries: Seq[(Int, Double, Double)], k: Int): String = {
    val values = queries.map { case (qid, la, lo) => s"($qid, ${d(la)}, ${d(lo)})" }.mkString(", ")
    s"""$pointsCte
       |SELECT q_id, rank, id FROM (
       |  SELECT q.q_id,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY q.q_id
       |           ORDER BY (p.lat - q.qlat) * (p.lat - q.qlat) + (p.lon - q.qlon) * (p.lon - q.qlon), p.id) AS BIGINT) AS rank,
       |         p.id
       |  FROM (VALUES $values) AS q(q_id, qlat, qlon)
       |  CROSS JOIN pts p
       |) WHERE rank <= $k""".stripMargin
  }

  /** Reference bulk-load packing oracle: sort by first coordinate only
    * (RStarTree.java:177), slabs of exactly M=50 (RStarTree.java:189-200);
    * per-leaf MBR + count. */
  def bulkloadLeaves(fanout: Int): String =
    s"""$pointsCte, ranked AS (
       |  SELECT lat, lon, CAST(FLOOR((ROW_NUMBER() OVER (ORDER BY lat, id) - 1) / $fanout) AS BIGINT) AS leaf
       |  FROM pts)
       |SELECT leaf, count(*) AS cnt, min(lat) AS minlat, max(lat) AS maxlat,
       |       min(lon) AS minlon, max(lon) AS maxlon
       |FROM ranked
       |GROUP BY 1""".stripMargin

  /** Per-coarse-cell index summary (root MBR + cardinality of each local
    * index group — what [[graft.index.LocalRTree]] computes distributedly). */
  def indexSummary(r: Int): String =
    s"""$pointsCte
       |SELECT ${cellSql("lat", "lon", r)} AS grp, count(*) AS cnt,
       |       min(lat) AS minlat, max(lat) AS maxlat,
       |       min(lon) AS minlon, max(lon) AS maxlon
       |FROM pts GROUP BY 1""".stripMargin

  // ---------- text / dedup / ANN / events ----------

  private def inList(xs: Seq[String]): String = xs.map(s => s"'$s'").mkString(", ")

  def tokenCount: String =
    "SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents"

  /** Twin of [[graft.ops.TextOps.tokenCountBpe]] — same character-class
    * pattern, identical under Java regex and RE2. */
  def tokenCountBpe(pattern: String): String =
    s"SELECT doc_id, CAST(len(regexp_extract_all(text, '$pattern')) AS BIGINT)" +
      " AS n_bpe_tokens FROM documents"

  def quality(stopwords: Seq[String]): String =
    s"""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents)
       |SELECT doc_id,
       |       CAST(len(toks) AS BIGINT) AS n_tokens,
       |       CAST(len(list_filter(toks, x -> x IN (${inList(stopwords)}))) AS BIGINT) AS n_stop,
       |       CAST(len(list_filter(toks, x -> x IN (${inList(stopwords)}))) AS BIGINT)
       |         / CAST(len(toks) AS BIGINT) AS stop_ratio,
       |       (length(text) - CAST(len(toks) AS BIGINT) + 1)
       |         / CAST(len(toks) AS BIGINT) AS avg_token_len
       |FROM t""".stripMargin

  def langId(stopwords: Seq[String]): String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |r AS (SELECT doc_id,
       |  CAST(len(list_filter(toks, x -> x IN (${inList(stopwords)}))) AS BIGINT)
       |    / CAST(len(toks) AS BIGINT) AS ratio FROM t)
       |SELECT doc_id,
       |  CASE WHEN ratio >= 0.08 THEN 'en' WHEN ratio >= 0.03 THEN 'en-ish'
       |       ELSE 'unk' END AS lang_pred
       |FROM r""".stripMargin

  def dedupExact: String =
    """SELECT min(doc_id) AS keeper_id, count(*) AS n_copies
      |FROM documents GROUP BY text""".stripMargin

  /** Word k-gram shingles, 1-based; twin of the kernel shingling in
    * [[graft.ops.Dedup.ngramJaccard]] (k-token windows joined by single
    * spaces, first-occurrence-distinct). */
  private def shingleExpr(k: Int): String = {
    val concat = (0 until k).map {
      case 0 => "t[i]"
      case o => s"t[i+$o]"
    }.mkString(" || ' ' || ")
    s"list_distinct(list_transform(range(1, len(t) - ${k - 2}), i -> $concat))"
  }

  /** Repetition-ratio oracle — twin of [[graft.ops.TextOps.repetition]]:
    * total windows vs distinct windows, BIGINT arithmetic + one double
    * division (DuckDB `/` on integers is float division, same as Spark). */
  def repetition(k: Int): String =
    s"""WITH d AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
       |  WHERE len(string_split(text, ' ')) >= $k),
       |g AS (SELECT doc_id,
       |  CAST(len(t) - ${k - 1} AS BIGINT) AS n_grams,
       |  CAST(len(${shingleExpr(k)}) AS BIGINT) AS n_distinct
       |  FROM d)
       |SELECT doc_id, n_grams, n_distinct,
       |       (n_grams - n_distinct) / n_grams AS rep_ratio
       |FROM g""".stripMargin

  /** Contamination oracle — twin of [[graft.ops.TextOps.contamination]]:
    * benchmark = docs with doc_id % benchMod = 0; per evaluation doc, the
    * fraction of its distinct k-gram shingles found in the benchmark's
    * distinct shingle set. */
  def contamination(benchMod: Long, k: Int): String =
    s"""WITH d AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
       |  WHERE len(string_split(text, ' ')) >= $k),
       |sh AS (SELECT doc_id, unnest(${shingleExpr(k)}) AS s FROM d),
       |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % $benchMod = 0),
       |ev AS (SELECT doc_id, s FROM sh WHERE doc_id % $benchMod != 0),
       |agg AS (
       |  SELECT e.doc_id, count(*) AS n_grams,
       |         sum(CASE WHEN b.s IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
       |  FROM ev e LEFT JOIN bench b ON e.s = b.s
       |  GROUP BY 1)
       |SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
       |       CAST(n_hit AS BIGINT) AS n_hit,
       |       CAST(n_hit AS BIGINT) / CAST(n_grams AS BIGINT) AS contam_ratio
       |FROM agg""".stripMargin

  def ngramJaccard(k: Int, threshold: Double): String =
    s"""WITH d AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
       |  WHERE len(string_split(text, ' ')) >= $k),
       |sh AS (SELECT doc_id, unnest(${shingleExpr(k)}) AS s FROM d),
       |cnts AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
       |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT i.a_id, i.b_id, i.inter, ca.n AS na, cb.n AS nb,
       |       i.inter / (ca.n + cb.n - i.inter) AS jacc
       |FROM inter i
       |JOIN cnts ca ON ca.doc_id = i.a_id
       |JOIN cnts cb ON cb.doc_id = i.b_id
       |WHERE i.inter / (ca.n + cb.n - i.inter) >= ${d(threshold)}""".stripMargin

  /** LSH banding + bucket join + exact-Jaccard refine over the STAGED
    * signature table ([[graft.ops.Dedup.minhashLsh]] with stagePath) — the
    * signature kernel is not SQL-expressible, but everything after it is:
    * band equality is list_slice equality (equal slices ⇔ equal Spark band
    * hashes, modulo 64-bit collisions the exact refine absorbs), the
    * refine is list_intersect arithmetic over the staged shingle arrays.
    * This oracle-checks the riskiest part of the LSH op — the dataflow —
    * against an independent engine. */
  def minhashLshStaged(stagePath: String, numHashes: Int, bands: Int,
                       threshold: Double): String = {
    val rows = numHashes / bands
    val bandEq = (0 until bands).map { b =>
      val lo = b * rows + 1; val hi = b * rows + rows
      s"list_slice(a.sig, $lo, $hi) = list_slice(b.sig, $lo, $hi)"
    }.mkString("(", " OR ", ")")
    s"""WITH sig AS (SELECT doc_id, sh, sig FROM read_parquet('$stagePath/*.parquet')),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND $bandEq),
       |ref AS (
       |  SELECT c.a_id, c.b_id,
       |         len(list_intersect(sa.sh, sb.sh)) AS inter,
       |         len(sa.sh) AS na, len(sb.sh) AS nb
       |  FROM cand c
       |  JOIN sig sa ON sa.doc_id = c.a_id
       |  JOIN sig sb ON sb.doc_id = c.b_id)
       |SELECT a_id, b_id, inter / (na + nb - inter) AS jacc
       |FROM ref WHERE inter / (na + nb - inter) >= ${d(threshold)}""".stripMargin
  }

  /** LSH-ANN bucket-join + exact cosine re-rank over the STAGED signature
    * table ([[graft.ops.AnnOps.annLsh]] with stagePath): candidates are
    * rows sharing any (table, bucket) with a query, scored with the same
    * staged double vectors/norms and quantized similarity, ranked desc
    * with vec_id tie-break. Oracle-checks the dataflow after the (rows-
    * only) hyperplane kernel. */
  def annLshStaged(stagePath: String, queryIds: Seq[Int], k: Int,
                   tables: Int): String = {
    val ts = (1 to tables).map(i => s"($i)").mkString(",")
    val ids = queryIds.mkString(", ")
    s"""WITH h AS (SELECT vec_id, v, nrm, bkts FROM read_parquet('$stagePath/*.parquet')),
       |b AS (SELECT vec_id, i AS t, bkts[i] AS bkt
       |      FROM h CROSS JOIN (VALUES $ts) tt(i)),
       |qb AS (SELECT vec_id AS qid, t, bkt FROM b WHERE vec_id IN ($ids)),
       |cand AS (
       |  SELECT DISTINCT qb.qid, b.vec_id AS vid
       |  FROM b JOIN qb ON b.t = qb.t AND b.bkt = qb.bkt),
       |scored AS (
       |  SELECT c.qid, c.vid,
       |         CAST(floor(${dotSql("q.v", "x.v")} / (q.nrm * x.nrm) * 1000000) AS BIGINT) AS sq
       |  FROM cand c
       |  JOIN h q ON q.vec_id = c.qid
       |  JOIN h x ON x.vec_id = c.vid),
       |ranked AS (
       |  SELECT qid, vid, sq,
       |         row_number() OVER (PARTITION BY qid ORDER BY sq DESC, vid) AS rank
       |  FROM scored)
       |SELECT qid, rank, vid, sq FROM ranked WHERE rank <= $k""".stripMargin
  }

  /** Quarter-blocked Hamming near-dup pairs over a STAGED (id, hash64)
    * table ([[graft.ops.Dedup.hammingBlockPairs]] dataflow): candidates
    * share a bit-equal 16-bit quarter (arithmetic shift + mask — the mask
    * discards sign-extension bits, so it equals the logical shift), refine
    * with bit_count(xor) ≤ maxHamming. Any pair within maxHamming ≤ 3
    * shares a quarter (pigeonhole), so candidate-set differences between
    * the engines cannot survive the refine. Used by q26b (simhash) and
    * q43 (image phash). */
  def hammingPairsStaged(stagePath: String, idCol: String, hashCol: String,
                         maxHamming: Int): String = {
    val qs = (0 until 4).map(q =>
      s"((a.hh >> ${q * 16}) & 65535) = ((b.hh >> ${q * 16}) & 65535)")
      .mkString("(", " OR ", ")")
    s"""WITH h AS (SELECT $idCol AS id, $hashCol AS hh FROM read_parquet('$stagePath/*.parquet')),
       |cand AS (
       |  SELECT a.id AS a_id, b.id AS b_id,
       |         CAST(bit_count(xor(a.hh, b.hh)) AS INTEGER) AS hamming
       |  FROM h a JOIN h b ON a.id < b.id AND $qs)
       |SELECT DISTINCT a_id, b_id, hamming FROM cand WHERE hamming <= $maxHamming""".stripMargin
  }

  /** Equal-key pairs over a STAGED (id, key) table — q27b: the
    * fingerprint near-dup candidate dataflow re-derived by DuckDB from
    * the staged bits ([[graft.ops.TextOps.fingerprintPairs]]). */
  def equalKeyPairsStaged(stagePath: String, idCol: String,
                          keyCol: String): String =
    s"""WITH f AS (SELECT $idCol AS id, $keyCol AS kk FROM read_parquet('$stagePath/*.parquet'))
       |SELECT a.id AS a_id, b.id AS b_id
       |FROM f a JOIN f b ON a.kk = b.kk AND a.id < b.id""".stripMargin

  /** IVF routing + list search + rank over STAGED tables
    * ([[graft.ops.AnnOps.annIvf]]/annIvfKmeans with stagePaths): vectors
    * with their list assignment and the Spark-computed centroids are both
    * parquet; the oracle re-routes each query to its nprobe best centroids
    * and re-ranks within the routed lists — checking the dataflow while
    * the centroid mean kernel stays spec-checked. */
  def annIvfStaged(vecPath: String, centPath: String, queryIds: Seq[Int],
                   k: Int, nprobe: Int): String = {
    val ids = queryIds.mkString(", ")
    def sq(a: String, an: String, b: String, bn: String) =
      s"CAST(floor(${dotSql(a, b)} / ($an * $bn) * 1000000) AS BIGINT)"
    s"""WITH e AS (SELECT vec_id, v, nrm, list FROM read_parquet('$vecPath/*.parquet')),
       |c AS (SELECT list, cv, cnrm FROM read_parquet('$centPath/*.parquet')),
       |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qnrm FROM e WHERE vec_id IN ($ids)),
       |routed AS (
       |  SELECT qid, qv, qnrm, list,
       |         row_number() OVER (PARTITION BY qid
       |           ORDER BY ${sq("qv", "qnrm", "cv", "cnrm")} DESC, list) AS rr
       |  FROM q CROSS JOIN c),
       |scored AS (
       |  SELECT r.qid, e.vec_id AS vid,
       |         ${sq("r.qv", "r.qnrm", "e.v", "e.nrm")} AS sq
       |  FROM routed r JOIN e ON e.list = r.list
       |  WHERE r.rr <= $nprobe),
       |ranked AS (
       |  SELECT qid, vid, sq,
       |         row_number() OVER (PARTITION BY qid ORDER BY sq DESC, vid) AS rank
       |  FROM scored)
       |SELECT qid, rank, vid, sq FROM ranked WHERE rank <= $k""".stripMargin
  }

  /** Full curation composite over the STAGED image metadata slice
    * ([[graft.ops.ImageOps.curate]]): caption-token quality filter →
    * quarter-blocked phash near-dup drop (higher id of every pair) →
    * phash-derived points → resolution-r cell → per-cell keep-lowest
    * sample. The arithmetic mirrors GeoCols.geoFromPhash* exactly:
    * (phash >> k) & mask equals the unsigned shift once masked, the
    * modulo operands are non-negative, and the one double division is
    * by 1000.0 in both engines. */
  def curateStaged(stagePath: String, minTokens: Int, maxHamming: Int,
                   perTile: Int, r: Int): String = {
    val qs = (0 until 4).map(q =>
      s"((a.phash >> ${q * 16}) & 65535) = ((b.phash >> ${q * 16}) & 65535)")
      .mkString("(", " OR ", ")")
    val lat = "((phash >> 32) & 4294967295) % 180000 / 1000.0 - 90.0"
    val lon = "(phash & 4294967295) % 360000 / 1000.0 - 180.0"
    s"""WITH m AS (SELECT image_id, caption, phash FROM read_parquet('$stagePath/*.parquet')),
       |q AS (SELECT * FROM m WHERE len(string_split(caption, ' ')) >= $minTokens),
       |dup AS (
       |  SELECT DISTINCT b.image_id
       |  FROM q a JOIN q b ON a.image_id < b.image_id AND $qs
       |  WHERE bit_count(xor(a.phash, b.phash)) <= $maxHamming),
       |kept AS (SELECT q.* FROM q ANTI JOIN dup USING (image_id)),
       |pts AS (SELECT image_id, $lat AS lat, $lon AS lon FROM kept),
       |cells AS (SELECT image_id, ${cellSql("lat", "lon", r)} AS cell FROM pts),
       |ranked AS (
       |  SELECT image_id, cell,
       |         row_number() OVER (PARTITION BY cell ORDER BY image_id) AS rn
       |  FROM cells)
       |SELECT image_id, cell FROM ranked WHERE rn <= $perTile""".stripMargin
  }

  /** Double-cast dot product — twin of AnnOps.dot (each float cast to
    * double before multiply; quantized before any comparison). */
  private val normCte: String =
    """e AS (
      |  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |en AS (
      |  SELECT vec_id, label, v,
      |         sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
      |  FROM e)""".stripMargin

  private def dotSql(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a, $b), x -> x[1] * x[2]))"

  def annTopK(queryIds: Seq[Int], k: Int): String =
    s"""WITH $normCte,
       |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qnrm FROM en
       |      WHERE vec_id IN (${queryIds.mkString(", ")})),
       |pairs AS (
       |  SELECT q.qid, en.vec_id AS vid,
       |         CAST(FLOOR(${dotSql("q.qv", "en.v")} / (q.qnrm * en.nrm) * 1000000) AS BIGINT) AS sq
       |  FROM q CROSS JOIN en),
       |ranked AS (
       |  SELECT qid, vid, sq,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sq DESC, vid) AS BIGINT) AS rank
       |  FROM pairs)
       |SELECT qid, rank, vid, sq FROM ranked WHERE rank <= $k""".stripMargin

  def nearDupPairs(probeMod: Int, simqThreshold: Long): String =
    s"""WITH $normCte,
       |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qnrm FROM en WHERE vec_id % $probeMod = 0)
       |SELECT q.qid, en.vec_id AS vid,
       |       CAST(FLOOR(${dotSql("q.qv", "en.v")} / (q.qnrm * en.nrm) * 1000000) AS BIGINT) AS sq
       |FROM q CROSS JOIN en
       |WHERE q.qid != en.vec_id
       |  AND CAST(FLOOR(${dotSql("q.qv", "en.v")} / (q.qnrm * en.nrm) * 1000000) AS BIGINT) >= $simqThreshold""".stripMargin

  def windowAgg: String =
    """SELECT CAST(extract(epoch FROM date_trunc('hour', ts)) AS BIGINT) AS hr,
      |       event_type, count(*) AS cnt,
      |       CAST(sum(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
      |FROM events GROUP BY 1, 2""".stripMargin
}
