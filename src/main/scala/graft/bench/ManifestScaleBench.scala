package graft.bench

import graft.geo.MBR
import graft.table.{FileEntry, MetaJson, ShardMeta}
import java.nio.file.{Files, Paths}

/** Driver-side manifest cost at the 10¹²-row design point (round-4
  * verdict ask #4): synthesize 10⁵ and 10⁶ FileEntry manifests, then
  * measure (a) the FLAT form — write, full parse — and (b) the TWO-LEVEL
  * list — root parse + only the shards overlapping a box query. No Spark
  * session: this is exactly the driver-only work a planner does. Output
  * feeds the numbers table in BASELINE.md. */
object ManifestScaleBench {

  private def synth(n: Int): IndexedSeq[FileEntry] = {
    // deterministic Z-clustered layout: file i owns one slice of the
    // curve, bounds derived from the slice (what a real append writes)
    val span = Long.MaxValue / n
    (0 until n).map { i =>
      val lat0 = -90.0 + 180.0 * i / n
      FileEntry(s"data/u-${i / 1000}/part-$i.parquet", 1000000L,
        span * i, span * i + span - 1,
        lat0, lat0 + 180.0 / n, -180.0, 180.0,
        s"u-${i / 1000}", 1234L, "data", (i / 1000).toLong)
    }
  }

  private def timeMs(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
  }

  def main(args: Array[String]): Unit = {
    val dir = Files.createTempDirectory("graft_manifest_bench")
    val shardRows = 10000
    for (n <- Seq(100000, 1000000)) {
      val entries = synth(n)
      // flat form
      val flatPath = dir.resolve(s"flat-$n.json")
      val tFlatWrite = timeMs(
        Files.writeString(flatPath, MetaJson.manifestJson(entries)))
      val flatBytes = Files.size(flatPath)
      var parsed: Seq[FileEntry] = null
      val tFlatParse = timeMs { parsed = MetaJson.parseManifest(Files.readString(flatPath)) }
      require(parsed.size == n)
      // two-level form
      val groups = entries.grouped(shardRows).toIndexedSeq
      val tShardWrite = timeMs {
        groups.zipWithIndex.foreach { case (g, k) =>
          Files.writeString(dir.resolve(s"shard-$n-$k.json"),
            MetaJson.manifestJson(g))
        }
        val metas = groups.zipWithIndex.map { case (g, k) =>
          ShardMeta(s"shard-$n-$k.json", g.size,
            g.map(_.minZ).min, g.map(_.maxZ).max,
            g.map(_.minLat).min, g.map(_.maxLat).max,
            g.map(_.minLon).min, g.map(_.maxLon).max,
            lineages = g.map(_.lineageId).distinct)
        }
        Files.writeString(dir.resolve(s"root-$n.json"),
          MetaJson.manifestListJson(metas, Seq.empty))
      }
      val rootBytes = Files.size(dir.resolve(s"root-$n.json"))
      // box query: 1%-of-latitude slab — the planner's actual work
      val box = MBR(10.0, -20.0, 11.8, 20.0)
      var loaded = 0
      val tPlanSharded = timeMs {
        val (shards, _) = MetaJson.parseManifestRoot(
          Files.readString(dir.resolve(s"root-$n.json")))
        val wanted = shards.filter(sm =>
          MBR(sm.minLat, sm.minLon, sm.maxLat, sm.maxLon).overlaps(box))
        loaded = wanted.map(sm => MetaJson.parseManifest(
          Files.readString(dir.resolve(sm.path))).size).sum
      }
      val tPlanFlat = timeMs {
        val es = MetaJson.parseManifest(Files.readString(flatPath))
        require(es.count(e =>
          MBR(e.minLat, e.minLon, e.maxLat, e.maxLon).overlaps(box)) > 0)
      }
      // commit cost of ONE 100-file append onto the n-entry table, the
      // shard-REUSE path (round-5): parse the parent ROOT, write one new
      // shard + the new root carrying the parent's shard rows by
      // reference. Compare against tShardWrite — the full rewrite a
      // reuse-less commit pays (and tFlatWrite for the flat form).
      val appendEntries = synth(100).map(e => e.copy(path = "data/app/" + e.path))
      val tCommitReuse = timeMs {
        val (pShards, _) = MetaJson.parseManifestRoot(
          Files.readString(dir.resolve(s"root-$n.json")))
        Files.writeString(dir.resolve(s"shard-$n-new.json"),
          MetaJson.manifestJson(appendEntries))
        val sm = ShardMeta(s"shard-$n-new.json", appendEntries.size,
          appendEntries.map(_.minZ).min, appendEntries.map(_.maxZ).max,
          appendEntries.map(_.minLat).min, appendEntries.map(_.maxLat).max,
          appendEntries.map(_.minLon).min, appendEntries.map(_.maxLon).max,
          lineages = appendEntries.map(_.lineageId).distinct)
        Files.writeString(dir.resolve(s"root-$n-next.json"),
          MetaJson.manifestListJson(pShards :+ sm, Seq.empty))
      }
      // streaming idempotence check (committedLineage): the lineage set
      // from the ROOT's per-shard summaries alone — the per-micro-batch
      // cost, vs the full parse (≈ flatParseMs) it avoids
      var lineageCount = 0
      val tLineageRoot = timeMs {
        val (shards, inline) = MetaJson.parseManifestRoot(
          Files.readString(dir.resolve(s"root-$n.json")))
        lineageCount = (inline.map(_.lineageId) ++
          shards.flatMap(_.lineages)).distinct.size
      }
      require(lineageCount == n / 1000, s"lineage summary lost units: $lineageCount")
      println(f"entries=$n%8d flatMB=${flatBytes / 1e6}%8.1f " +
        f"flatWriteMs=$tFlatWrite%8.0f flatParseMs=$tFlatParse%8.0f " +
        f"planFlatMs=$tPlanFlat%8.0f | rootKB=${rootBytes / 1e3}%6.1f " +
        f"shardWriteMs=$tShardWrite%8.0f planShardedMs=$tPlanSharded%7.0f " +
        f"entriesLoaded=$loaded%8d commitReuseMs=$tCommitReuse%7.0f " +
        f"lineageRootMs=$tLineageRoot%7.0f")
    }
    // cleanup (deleteTree closes its directory stream; a bare Files.list
    // leaks the fd until GC)
    graft.ops.OpUtil.deleteTree(dir)
  }
}
