package graft

import graft.table.{FileEntry, MetaJson}
import org.scalatest.funsuite.AnyFunSuite

/** The driver-side JSON codec behind manifests and sidecars must
  * round-trip EVERY value bit-exactly — a lossy double or a mangled path
  * string would corrupt pruning bounds or orphan data files silently.
  * (NaN/Infinity never reach these files by contract: footer stats fail
  * open to ±Double.MaxValue instead.) */
class MetaJsonSpec extends AnyFunSuite {

  private val rng = new scala.util.Random(42)

  /** Hostile strings: quotes, backslashes, control chars, unicode, JSON
    * metacharacters — everything a path or lineage id could ever carry. */
  private def randStr(): String = {
    val specials = Seq("\"", "\\", "\n", "\t", "\r", "{", "}", "[", "]", ",",
      ":", "日本語", "\u0000", "\u001f", "snap-", "€", "a b/c.d-e_f")
    (0 until rng.nextInt(8)).map(_ =>
      if (rng.nextBoolean()) specials(rng.nextInt(specials.size))
      else rng.alphanumeric.take(rng.nextInt(12)).mkString).mkString
  }

  private def randDouble(): Double = rng.nextInt(6) match {
    case 0 => -Double.MaxValue
    case 1 => Double.MaxValue
    case 2 => Double.MinPositiveValue
    case 3 => -0.0
    case 4 => rng.nextDouble() * 360 - 180
    case _ => java.lang.Double.longBitsToDouble(rng.nextLong()) match {
      case d if d.isNaN || d.isInfinite => 1.5 // excluded by contract
      case d => d
    }
  }

  private def randLong(): Long = rng.nextInt(4) match {
    case 0 => Long.MinValue
    case 1 => Long.MaxValue
    case _ => rng.nextLong()
  }

  test("manifest JSON round-trips 500 hostile FileEntry values exactly") {
    val entries = (0 until 500).map { _ =>
      FileEntry(randStr(), randLong(), randLong(), randLong(),
        randDouble(), randDouble(), randDouble(), randDouble(),
        randStr(), randLong(), randLong())
    }
    val back = MetaJson.parseManifest(MetaJson.manifestJson(entries))
    assert(back.size == entries.size)
    back.zip(entries).foreach { case (b, e) =>
      // compare via raw bits so -0.0 vs 0.0 or any repr drift is caught
      def bits(d: Double) = java.lang.Double.doubleToRawLongBits(d)
      assert(b.path == e.path && b.lineageId == e.lineageId &&
        b.rows == e.rows && b.minZ == e.minZ && b.maxZ == e.maxZ &&
        b.wallMs == e.wallMs && b.seq == e.seq)
      assert(bits(b.minLat) == bits(e.minLat) && bits(b.maxLat) == bits(e.maxLat) &&
        bits(b.minLon) == bits(e.minLon) && bits(b.maxLon) == bits(e.maxLon),
        s"double drift: $e -> $b")
    }
  }

  test("bloom / index / table-meta sidecar JSON round-trips exactly") {
    val blooms = (0 until 5).map(_ =>
      (randStr(), Array.fill(rng.nextInt(64) + 1)(rng.nextLong())))
    val (kc, k, back) = MetaJson.parseBloom(MetaJson.bloomJson("id", 7, blooms))
    assert(kc == "id" && k == 7)
    assert(back.map(_._1) == blooms.map(_._1))
    back.zip(blooms).foreach { case ((_, a), (_, b)) => assert(a.sameElements(b)) }
    // deletion vectors share the per-file bitset layout, with no header
    val dvBack = MetaJson.parseDv(MetaJson.dvJson(blooms))
    assert(dvBack.map(_._1) == blooms.map(_._1))
    dvBack.zip(blooms).foreach { case ((_, a), (_, b)) => assert(a.sameElements(b)) }

    val files = (0 until 4).map(_ => (randStr(), (0 until rng.nextInt(20)).map(_ =>
      (randLong(), randLong(), randDouble(), randDouble(), randDouble(), randDouble()))))
    val (res, iBack) = MetaJson.parseIndex(MetaJson.indexJson(8, files))
    assert(res == 8 && iBack == files)

    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("lat", DoubleType), StructField("bytes", BinaryType),
      StructField("tags", ArrayType(StringType, containsNull = false)),
      StructField("__z", LongType)))
    assert(MetaJson.parseTableMeta(MetaJson.tableMetaJson("hilbert", 12, 8, schema)) ==
      (("hilbert", 12, 8, schema)))
    // a table meta without a schema is refused, not read as "any schema"
    val noSchema = intercept[IllegalStateException](MetaJson.parseTableMeta(
      """{"curve":"z","zRes":12,"histRes":6}"""))
    assert(noSchema.getMessage.contains("no schema"))
  }

  test("manifest JSON is additively evolvable: old manifests missing new fields parse with safe defaults") {
    // round-4 ADVICE: a manifest written BEFORE a FileEntry field existed
    // must still parse after the field is added. Geometric stats default
    // to the fail-open full range (a pruner may only skip a file it can PROVE
    // disjoint; unknown stats must never skip).
    val minimal =
      """{"entries":[{"path":"data/u-0/part-0.parquet","rows":42}]}"""
    val Seq(e) = MetaJson.parseManifest(minimal)
    assert(e.path == "data/u-0/part-0.parquet" && e.rows == 42L)
    assert(e.minZ == Long.MinValue && e.maxZ == Long.MaxValue)
    assert(e.minLat == -Double.MaxValue && e.maxLat == Double.MaxValue)
    assert(e.minLon == -Double.MaxValue && e.maxLon == Double.MaxValue)
    assert(e.seq == 0L && e.lineageId == "" && e.wallMs == 0L)
    // unknown EXTRA fields from a future writer are ignored, not fatal
    val future =
      """{"entries":[{"path":"p","rows":1,"seq":9,"futureField":{"x":1}}]}"""
    val Seq(f) = MetaJson.parseManifest(future)
    assert(f.path == "p" && f.seq == 9L)
  }

  test("manifest-list shard rows round-trip lineage summaries; a row without one fails to parse") {
    import graft.table.{ManifestRoot, ShardMeta}
    val withLin = ShardMeta("snap-3-shard-0-ab.json", 7, -5L, 9L,
      -10.0, 20.0, -30.0, 40.0, lineages = Seq("u-0", "del-0"),
      index = "snap-3-shard-0-ab.index.json", bloom = Some("snap-3-shard-0-ab.bloom.json"))
    // a shard whose files carry no Bloom bitsets names no bloom file
    val noBloom = ShardMeta("snap-4-shard-0-cd.json", 2, 0L, 1L,
      0.0, 1.0, 0.0, 1.0, lineages = Seq("u-1"),
      index = "snap-4-shard-0-cd.index.json", bloom = None)
    // a shard a delete hit names its deletion vectors and their count
    val withDv = noBloom.copy(path = "snap-4-shard-1-cd.json",
      dv = Some("snap-5-dv-ef-0.json"), deleted = 12L)
    val root = ManifestRoot(Seq(withLin, noBloom, withDv), Seq("u-old", "del-0", "compact-2"))
    assert(MetaJson.parseManifestRoot(MetaJson.manifestListJson(root)) == root)
    assert(withLin.files == Seq(withLin.path, withLin.index, withLin.bloom.get))
    assert(noBloom.files == Seq(noBloom.path, noBloom.index))
    assert(withDv.files == Seq(withDv.path, withDv.index, withDv.dv.get))
    assert(!MetaJson.manifestListJson(ManifestRoot(Seq(noBloom), Nil)).contains("dv"))
    // committedLineage reads the root alone, so the summary is required: a
    // default-to-empty would silently claim "no lineages here" and
    // re-append committed streaming units as duplicates
    val noLin = """{"shards":[{"path":"s.json","entries":1,"minZ":0,"maxZ":1,""" +
      """"minLat":0.0,"maxLat":1.0,"minLon":0.0,"maxLon":1.0}],"entries":[],"folded":[]}"""
    val e = intercept[IllegalStateException](MetaJson.parseManifestRoot(noLin))
    assert(e.getMessage.contains("lineages"))
  }

  test("a shard row without an index stats file fails to parse") {
    // the index file carries the shard's leaves: a default-to-none would
    // drop its files from fromStore and hotCells without a word
    val noIndex = """{"shards":[{"path":"s.json","entries":1,"minZ":0,"maxZ":1,""" +
      """"minLat":0.0,"maxLat":1.0,"minLon":0.0,"maxLon":1.0,"lineages":["u-0"]}],""" +
      """"entries":[],"folded":[]}"""
    val e = intercept[IllegalStateException](MetaJson.parseManifestRoot(noIndex))
    assert(e.getMessage.contains("s.json") && e.getMessage.contains("index"))
  }

  test("a root with inline entries fails to parse, naming it") {
    // the equality-delete tombstones of an older layout rode inline in the
    // root: read as a root without them, their deleted rows would come back
    val tomb = """{"shards":[],"entries":[{"path":"data/del-0-ab/part-0.parquet",""" +
      """"rows":3,"kind":"delete","seq":3}],"folded":[]}"""
    assert(intercept[IllegalStateException](MetaJson.parseManifestRoot(tomb))
      .getMessage.contains("data/del-0-ab/part-0.parquet"))
    // an empty `entries` node holds nothing to lose
    assert(MetaJson.parseManifestRoot("""{"shards":[],"entries":[],"folded":["u-0"]}""") ==
      graft.table.ManifestRoot(Seq.empty, Seq("u-0")))
  }

  test("a root without shards or folded, or with a data entry inline, fails to parse") {
    // readers look for data only in shards and for compacted lineage only
    // in `folded`: a lenient parse would read such a root as an empty
    // (or lineage-less) table and silently drop rows
    val noShards = """{"entries":[],"folded":[]}"""
    assert(intercept[IllegalStateException](MetaJson.parseManifestRoot(noShards))
      .getMessage.contains("no `shards`"))
    val flat = """{"entries":[{"path":"data/u-0/part-0.parquet","rows":42}]}"""
    intercept[IllegalStateException](MetaJson.parseManifestRoot(flat))
    val noFolded = """{"shards":[],"entries":[]}"""
    assert(intercept[IllegalStateException](MetaJson.parseManifestRoot(noFolded))
      .getMessage.contains("folded"))
    val inlineData = """{"shards":[],"entries":[{"path":"data/u-0/part-0.parquet",""" +
      """"rows":42,"kind":"data"}],"folded":[]}"""
    assert(intercept[IllegalStateException](MetaJson.parseManifestRoot(inlineData))
      .getMessage.contains("data/u-0/part-0.parquet"))
    // a zero-file lineage marker is a data entry too
    val marker = """{"shards":[],"entries":[{"path":"","rows":0,"lineageId":"u-0"}],"folded":[]}"""
    intercept[IllegalStateException](MetaJson.parseManifestRoot(marker))
    assert(MetaJson.parseManifestRoot("""{"shards":[],"folded":[]}""") ==
      graft.table.ManifestRoot(Seq.empty, Seq.empty))
  }
}
