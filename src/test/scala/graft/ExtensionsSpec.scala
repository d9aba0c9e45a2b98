package graft

import graft.data.Fixtures
import graft.geo.CellId
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** SQL surface via SparkSessionExtensions: graft_* functions usable from
  * plain SQL, matching the Scala Column API and the pure codec exactly. */
class ExtensionsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    // getOrCreate may return another suite's session (builder extensions
    // only apply to a session this builder creates) — install() covers
    // both paths and is itself the API a live REPL/session would use
    val s = SparkSession.builder()
      .master("local[2]")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    graft.plans.GraftExtensions.install(s)
    s
  }

  test("graft_cell / graft_d2 / graft_lat / graft_lon from plain SQL") {
    spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .createOrReplaceTempView("li")
    val rows = spark.sql(s"""
      SELECT CAST((l_orderkey * 7919 + l_linenumber * 104729) % 180000 AS DOUBLE) / 1000.0 - 90.0 AS lat,
             CAST((l_partkey * 7919 + l_suppkey * 337 + l_orderkey) % 360000 AS DOUBLE) / 1000.0 - 180.0 AS lon,
             graft_cell(CAST((l_orderkey * 7919 + l_linenumber * 104729) % 180000 AS DOUBLE) / 1000.0 - 90.0,
                        CAST((l_partkey * 7919 + l_suppkey * 337 + l_orderkey) % 360000 AS DOUBLE) / 1000.0 - 180.0,
                        ${Fixtures.TileRes}) AS cell,
             graft_d2(0.0, 0.0, 1.0, 2.0) AS d,
             graft_lat(1234567890123456789) AS gla,
             graft_lon(1234567890123456789) AS glo
      FROM li LIMIT 200""").collect()
    for (r <- rows) {
      assert(r.getLong(2) == CellId.grid(r.getDouble(0), r.getDouble(1), Fixtures.TileRes))
      assert(r.getDouble(3) == 5.0)
      val ph = 1234567890123456789L
      assert(r.getDouble(4) == ((ph >>> 32) % 180000L) / 1000.0 - 90.0)
      assert(r.getDouble(5) == ((ph & 0xFFFFFFFFL) % 360000L) / 1000.0 - 180.0)
    }
    // the grid edges clamp into the edge cells, as CellId.grid and
    // GeoCols.cellCol do (lat = 90, lon = 180 are legal inputs)
    val edges = for (la <- Seq(-90.0, 0.0, 90.0); lo <- Seq(-180.0, 0.0, 180.0)) yield (la, lo)
    for (r <- Seq(1, Fixtures.TileRes)) {
      val got = spark.sql(s"""
        SELECT lat, lon, graft_cell(lat, lon, $r) FROM VALUES
        ${edges.map { case (la, lo) => s"(${la}D, ${lo}D)" }.mkString(", ")} AS t(lat, lon)""")
        .collect().map(e => (e.getDouble(0), e.getDouble(1)) -> e.getLong(2)).toMap
      assert(got == edges.map(e => e -> CellId.grid(e._1, e._2, r)).toMap, s"r=$r")
    }
    // every geo function checks its arity, like graft_cell and graft_d2
    for (f <- Seq("graft_lat(1, 2)", "graft_lon()"))
      assert(intercept[Exception](spark.sql(s"SELECT $f").collect()).getMessage.contains("phash"), f)
    // built-in-expression trees: the whole SQL projection stays codegen'd
    val plan = spark.sql(s"SELECT graft_cell(1.0, 2.0, 4) AS c").queryExecution
      .executedPlan.toString
    assert(!plan.toLowerCase.contains("udf"))
  }

  test("graft_dot: codegen'd VecDot == interpreted HOF formulation, from SQL and Column") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val vecs = (0 until 50).map { i =>
      (i.toLong, Array.tabulate(64)(d => ((i * 131 + d * 17) % 97 - 48) / 7.0f))
    }.toDF("vid", "v")
    vecs.createOrReplaceTempView("vecs")
    // reference: the interpreted HOF left-fold this expression replaces
    val hof = vecs.select(col("vid"),
      aggregate(zip_with(col("v").cast("array<double>"), col("v").cast("array<double>"),
        (x, y) => x * y), lit(0.0), (acc, x) => acc + x).as("d"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val viaSql = spark.sql(
      "SELECT vid, graft_dot(CAST(v AS ARRAY<DOUBLE>), CAST(v AS ARRAY<DOUBLE>)) AS d FROM vecs")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val viaCol = vecs.select(col("vid"),
      call_function("graft_dot", col("v").cast("array<double>"),
        col("v").cast("array<double>")).as("d"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(viaSql == hof, "SQL graft_dot must be bit-identical to the HOF left-fold")
    assert(viaCol == hof)
    // implicit float->double array cast path
    val viaImplicit = spark.sql("SELECT vid, graft_dot(v, v) AS d FROM vecs")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(viaImplicit == hof)
    // mismatched lengths bound the loop; stays inside whole-stage codegen
    val short = spark.sql(
      "SELECT graft_dot(array(1.0d, 2.0d, 3.0d), array(10.0d, 20.0d)) AS d").collect()(0).getDouble(0)
    assert(short == 50.0)
    // plan check needs a non-local relation (ConvertToLocalRelation folds
    // projections over a LocalTableScan at optimize time)
    val q = vecs.repartition(2)
      .select(call_function("graft_dot", col("v").cast("array<double>"),
        col("v").cast("array<double>")))
    q.collect() // finalize the adaptive plan
    val plan = q.queryExecution.executedPlan.toString
    // "*(n)" prefixes mark WholeStageCodegen stages in plan toString
    assert(plan.contains("*(1) Project [graft_dot"), plan)
  }

  test("graft_z_in_ranges: binary search == the BETWEEN-disjunction covering, codegen'd") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // deterministic adversarial ranges: mixed widths, touching-but-not-
    // adjacent neighbors, singletons, extremes of the key domain
    val rng = new scala.util.Random(42)
    val raw = (0 until 400).map { _ =>
      val lo = rng.nextLong(1L << 40); lo -> (lo + rng.nextLong(1L << 20))
    } ++ Seq(0L -> 0L, (1L << 40) -> (1L << 40)) // singletons at the edges
    val merged = CellId.mergeRanges(raw, maxRanges = 10000)
    // probe keys: every boundary, its neighbors, and uniform misses
    val probes = (merged.flatMap(r => Seq(r._1 - 1, r._1, r._1 + 1,
      r._2 - 1, r._2, r._2 + 1)) ++
      (0 until 2000).map(_ => rng.nextLong(1L << 41))).distinct
    // pure-function ground truth: linear scan over the merged ranges
    val expect = probes.map(z => z -> merged.exists(r => z >= r._1 && z <= r._2)).toMap
    // interpreted twin
    probes.foreach { z =>
      val bounds = merged.iterator.flatMap(r => Iterator(r._1, r._2)).toArray
      assert(graft.functions.ZRangeContains.contains(bounds, z) == expect(z),
        s"interpreted mismatch at z=$z")
    }
    // codegen path through a real (non-local) scan, via the covering
    // predicate the stored reads use, at many ranges and at a few
    val df = probes.toDF("z").repartition(2)
    for (rs <- Seq(merged, merged.take(8))) {
      val got = df.filter(graft.geo.GeoCols.zCoveringPredicate(col("z"), rs))
        .collect().map(_.getLong(0)).toSet
      assert(got == probes.filter(z => rs.exists(r => z >= r._1 && z <= r._2)).toSet)
    }
    // empty bounds: contains() is total and false
    assert(!graft.functions.ZRangeContains.contains(Array.empty[Long], 7L))
    // SQL surface: an int-array literal must cast, not throw a raw CCE
    // (the registered signature advertises array<bigint>)
    val sqlRow = spark.sql(
      "SELECT graft_z_in_ranges(5L, array(1, 9)), graft_z_in_ranges(10L, array(1, 9))")
      .collect().head
    assert(sqlRow.getBoolean(0) && !sqlRow.getBoolean(1))
    // unsorted/overlapping bounds must be a loud error, not a silent
    // false negative (the binary search assumes sorted disjoint pairs)
    val bad = intercept[Exception] {
      spark.sql("SELECT graft_z_in_ranges(5L, array(10L, 20L, 1L, 6L))").collect()
    }
    assert(bad.getMessage.contains("ascending disjoint"), bad.getMessage)
    // equality is value-based over the bounds (identity-equals arrays
    // would defeat canonicalization reuse — two probes over the same
    // covering must compare equal)
    val b1 = Array(1L, 5L, 9L, 12L)
    val e1 = graft.functions.ZRangeContains(
      org.apache.spark.sql.catalyst.expressions.Literal(3L), b1)
    val e2 = graft.functions.ZRangeContains(
      org.apache.spark.sql.catalyst.expressions.Literal(3L), b1.clone())
    assert(e1 == e2 && e1.hashCode == e2.hashCode)
    assert(e1.canonicalized semanticEquals e2.canonicalized)
  }

  test("Param: codegen == interpreted at edge values; equal by value") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.catalyst.expressions.{GreaterThanOrEqual, Literal}
    import org.apache.spark.sql.types.{DoubleType, LongType}
    import graft.functions.Param
    import spark.implicits._
    val ds = Seq(Double.NaN, 0.0, -0.0, Double.PositiveInfinity,
      Double.NegativeInfinity, 1234.5)
    val ls = Seq(Long.MinValue, Long.MaxValue, 0L, -1L)
    def bits(d: Double) = java.lang.Double.doubleToRawLongBits(d)
    // the values themselves, through one whole-stage projection over a
    // non-local relation: bit-equal to eval(), and absent from the source
    val q = spark.range(0, 2, 1, 2).select(
      ds.map(Param.of) ++ ls.map(Param.of): _*)
    val row = q.collect().head
    ds.indices.foreach(i => assert(bits(row.getDouble(i)) ==
      bits(Param(ds(i), DoubleType).eval().asInstanceOf[Double]), ds(i)))
    ls.indices.foreach(i => assert(row.getLong(ds.size + i) == ls(i)))
    val code = q.queryExecution.debug.codegenToSeq().map(_._2).mkString
    assert(code.contains("references[") && !code.contains("1234.5") &&
      !code.contains("9223372036854775807"), code.take(2000))
    // comparisons against every edge value: whole-stage codegen == the
    // interpreted evaluator, over data holding the same edge values
    val xs = ds.toDF("x").repartition(2)
    val ys = ls.toDF("y").repartition(2)
    def rows(): Seq[Seq[Any]] =
      ds.flatMap(v => Seq(xs.filter(col("x") >= Param.of(v)), xs.filter(col("x") <= Param.of(v)))
          .map(_.collect().map(r => bits(r.getDouble(0))).sorted.toSeq)) ++
      ls.flatMap(v => Seq(ys.filter(col("y") >= Param.of(v)), ys.filter(col("y") <= Param.of(v)))
          .map(_.collect().map(_.getLong(0)).sorted.toSeq))
    val codegen = rows()
    val interpreted =
      try {
        spark.conf.set("spark.sql.codegen.wholeStage", "false")
        spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
        rows()
      } finally {
        spark.conf.unset("spark.sql.codegen.wholeStage")
        spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    assert(codegen == interpreted)
    // equality and hashing by value, so canonicalization/CSE/exchange
    // reuse see two equal Params as one expression
    for (v <- ds) {
      val (a, b) = (Param(v, DoubleType), Param(v, DoubleType))
      assert(a == b && a.hashCode == b.hashCode)
      assert(a.canonicalized semanticEquals b.canonicalized)
      val ea = GreaterThanOrEqual(Literal(1.0), a)
      assert(ea.canonicalized semanticEquals GreaterThanOrEqual(Literal(1.0), b).canonicalized)
    }
    for (v <- ls) assert(Param(v, LongType) == Param(v, LongType) &&
      Param(v, LongType).hashCode == Param(v, LongType).hashCode)
    assert(Param(0.0, DoubleType) != Param(-0.0, DoubleType))
    assert(Param(1L, LongType) != Param(1.0, DoubleType))
    assert(!Param(1.0, DoubleType).foldable)
  }

  test("stored box read drops files off the covering's Z span, probes the rest") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.geo.{GeoCols, MBR}
    val root = java.nio.file.Files.createTempDirectory("graft_zr_span").toString
    try {
      val st = new graft.table.SnapshotStore(spark, root)
      // one file with a point in the SE and one in the NW Z quadrant: its
      // lat/lon bbox [-45, 45] x [-90, 90] overlaps the SW query box, but
      // its Z span (quadrants 1..2) meets none of the box's ranges
      // (quadrant 0)
      st.append(Seq((1L, -45.0, 90.0), (2L, 45.0, -90.0)).toDF("id", "lat", "lon"),
        "far", numPartitions = 1)
      st.append(Seq((3L, -40.0, -80.0), (4L, -50.0, -100.0), (5L, 10.0, 10.0))
        .toDF("id", "lat", "lon"), "near", numPartitions = 1)
      val box = MBR(-60.0, -120.0, -30.0, -60.0)
      for ((df, kept, total) <- Seq(st.read(Some(box)), st.readBoxes(Seq(box)))) {
        assert((kept, total) == (1, 2))
        df.collect() // finalize adaptive plan
        val plan = df.queryExecution.executedPlan.toString
        assert(plan.contains("graft_z_in_ranges"), plan.take(800))
        assert(df.filter(GeoCols.inBox(col("lat"), col("lon"), box))
          .select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(3L, 4L))
      }
    } finally graft.ops.OpUtil.deleteTree(java.nio.file.Paths.get(root))
    // exact superset over real data: many scattered boxes, refine == truth
    val root2 = java.nio.file.Files.createTempDirectory("graft_zr_push").toString
    try {
      val st = new graft.table.SnapshotStore(spark, root2)
      val pts = graft.data.Points(spark, "/root/testdata/sf0.001")
      st.append(pts, "u0", numPartitions = 4)
      val boxes = (0 until 24).map { i =>
        val la = -80.0 + i * 6.5; val lo = -170.0 + i * 13.7
        MBR(la, lo, la + 4.0, lo + 9.0)
      }
      val (df, _, _) = st.readBoxes(boxes)
      def inAny = boxes.map(b => GeoCols.inBox(col("lat"), col("lon"), b)).reduce(_ || _)
      val got = df.filter(inAny).select("id").collect().map(_.getLong(0)).sorted.toSeq
      val exp = pts.filter(inAny).select("id").collect().map(_.getLong(0)).sorted.toSeq
      assert(got == exp && got.nonEmpty)
    } finally graft.ops.OpUtil.deleteTree(java.nio.file.Paths.get(root2))
  }

  test("install registers only what the session lacks: a reinstall or a new store keeps every builder") {
    // every SnapshotStore installs on its session; replacing the six
    // functions each time logged six warnings per store opened
    val registry = spark.sessionState.functionRegistry
    val ids = new graft.plans.GraftExtensions().registrations.map(_._1)
    assert(ids.size == 6 && ids.forall(_.funcName.startsWith("graft_")))
    val first = ids.map(id => registry.lookupFunctionBuilder(id).get)
    graft.plans.GraftExtensions.install(spark)
    val root = java.nio.file.Files.createTempDirectory("graft_install")
    try new graft.table.SnapshotStore(spark, root.toString)
    finally graft.ops.OpUtil.deleteTree(root)
    ids.zip(first).foreach { case (id, b) =>
      assert(registry.lookupFunctionBuilder(id).get eq b, s"$id was registered again")
    }
  }
}
