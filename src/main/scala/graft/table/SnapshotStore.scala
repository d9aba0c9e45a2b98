package graft.table

import graft.functions.{RowDeleted, ZRangeContains}
import graft.geo.{CellId, GeoCols, MBR}
import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Cast, InSet, Literal}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption}
import scala.collection.immutable.HashSet
import scala.util.control.NonFatal

/** One file tracked by a snapshot, with its pruning stats and the
  * lineage unit that produced it — the manifest-entry analog of an Iceberg
  * DataFile (per-file cell-range stats replace the reference's per-node
  * MBRs, IndexFile.java:37-95, at file granularity).
  *
  * Every entry is a data file: deleted rows are positions in their file's
  * deletion vector ([[ShardMeta.dv]]), not entries. `rows` counts the rows
  * written, deleted ones included.
  *
  * `seq` is the Iceberg-style sequence number: the snapshot id of the
  * commit that introduced the entry, PERSISTED so incremental reads
  * ([[SnapshotStore.appendedSince]]) never depend on the physical row
  * order of the manifest. */
final case class FileEntry(path: String, rows: Long, minZ: Long, maxZ: Long,
                           minLat: Double, maxLat: Double,
                           minLon: Double, maxLon: Double,
                           lineageId: String, wallMs: Long, seq: Long = 0L) {
  /** Always "data": kept for readers that still filter entries on it. */
  def kind: String = "data"
}

/** Minimal Iceberg-shaped table format (SURVEY.md §7.4). Real Iceberg jars
  * aren't in this environment, so the same semantics are implemented
  * in-repo with a seam to swap the real thing:
  *
  * {{{
  * <root>/data/<lineage>-<uuid>/part-*.parquet        immutable data files
  * <root>/meta/snap-<n>                               snapshot root (manifest list)
  * <root>/meta/snap-<n>-shard-<k>-<uid>.json          data entries (JSON of FileEntry)
  * <root>/meta/snap-<n>-shard-<k>-<uid>.index.json    the shard's files' index leaves
  * <root>/meta/snap-<n>-shard-<k>-<uid>.bloom.json    their Bloom bitsets (bloomKey)
  * <root>/meta/snap-<n>-dv-<uid>-<k>.json              a shard's deletion vectors,
  *                                                    written by delete n
  * <root>/meta/current                                hint: a committed id "n"
  * <root>/meta/table.json                             pinned layout (curve, zRes,
  *                                                    histRes, data schema)
  * }}}
  *
  * The root names every other file under meta/: readers open only what
  * it names, and a shard's stats and deletion-vector files are carried,
  * expired and vacuumed together with the shard.
  *
  * The first commit pins the table schema (the keyed unit's columns,
  * `__z` included); every later unit must match it, and every read plans
  * its parquet scans from it — never from a file footer.
  *
  * A commit writes a new root = parent's shards + new entries under a
  * commit-unique name, then publishes it as `snap-N` with one hard link,
  * which fails if `snap-N` exists: the link is the commit. The current
  * snapshot is the greatest root id ([[currentSnapshotId]]). Readers plan
  * from a snapshot: file pruning by Z-range against a query box's covering
  * cells — the distributed analog of the reference's subtree prune
  * (RStarTree.java:426) at file granularity. Per-append lineage ids +
  * wall-clock metrics make multi-unit jobs resumable: a rerun skips units
  * already present in the current snapshot ([[resumableRun]]).
  *
  * Manifest layout — one at every size, Iceberg's TWO-LEVEL shape: the
  * root `snap-N` is a manifest LIST whose rows carry per-shard Z/lat-lon
  * union bounds, with the data entries chunked (`manifestShardRows` per
  * shard) into shard files; compacted and deleting lineage ids ride in its
  * `folded` list. Box reads download only the
  * shards overlapping the query ([[manifestPartial]]) — at the 10¹²-row
  * design point (~10⁶ files of ~100 MB) a whole manifest would be a few
  * hundred MB of driver-side JSON per read. Commits carry the parent's
  * shard files by reference and write only their own entries as new
  * shards, so the commit path is O(commit size), not O(table)
  * ([[writeManifestFile]]); [[compact]] re-chunks globally (Iceberg's
  * rewrite-manifests analog). Key lookups ([[lookupByKey]])
  * prune shards through their Bloom files: only shards with a file that
  * might hold a probed key (or with no usable Bloom file — fail open) are
  * parsed. The remaining O(table) term on the lookup path is the Bloom
  * read itself — the index being consulted. Compaction bounds entry and
  * shard counts between appends.
  */
final class SnapshotStore(private[table] val spark: SparkSession, root: String, zRes: Int = 12,
                          histRes: Int = SnapshotStore.DefaultHistRes,
                          bloomKey: Option[String] = None,
                          curve: String = "z",
                          manifestShardRows: Int = SnapshotStore.DefaultManifestShardRows) {

  require(manifestShardRows >= 1, "manifestShardRows must be positive")

  require(SnapshotStore.ValidCurves(curve),
    s"unknown clustering curve '$curve' " +
      s"(want ${GeoCols.CurveNames.mkString(" | ")})")

  private val metaDir = Paths.get(root, "meta")
  private val currentPtr = metaDir.resolve("current")
  private val tableMetaPath = metaDir.resolve("table.json")

  /** Test seam, production no-op: sees the name of every file under
    * meta/ a read opens, so specs count metadata reads. */
  private[graft] var onMetaRead: String => Unit = _ => ()

  Files.createDirectories(metaDir)
  Files.createDirectories(Paths.get(root, "data"))
  // stored reads refine through graft_z_in_ranges (the binary-search
  // covering probe) — register the graft_* functions on whatever session
  // owns this store (idempotent; same pattern as AnnOps)
  graft.plans.GraftExtensions.install(spark)

  // The curve and key resolution are WRITE-TIME table properties: opening
  // a hilbert-written table as z (or vice versa) makes the covering ranges
  // non-covering over the stored __z values and read(box) would silently
  // drop in-box rows. They are persisted in meta/table.json on first
  // commit and validated here — fail fast, never a docstring hazard
  // (Iceberg persists its partition spec and schema in table metadata for
  // the same reason).
  private def tableMetaIfExists(): Option[(String, Int, Int, StructType)] =
    if (Files.isRegularFile(tableMetaPath))
      Some(MetaJson.parseTableMeta(readMeta(tableMetaPath.getFileName.toString)))
    else None

  /** Layout check, plus — given a unit's keyed schema — the schema check:
    * a unit with an extra column would silently lose it on read, and one
    * with a changed type would fail every later read of the table. */
  private def validateTableMeta(unitSchema: Option[StructType] = None): Unit =
    tableMetaIfExists().foreach { case (storedCurve, storedZRes, storedHistRes, pinned) =>
      require(storedCurve == curve && storedZRes == zRes && storedHistRes == histRes,
        s"table at $root was written with curve=$storedCurve zRes=$storedZRes " +
          s"histRes=$storedHistRes but opened with curve=$curve zRes=$zRes " +
          s"histRes=$histRes — the clustering key, its pruning ranges, and " +
          "the stats grid must agree; open with the written values")
      unitSchema.foreach(s => require(SnapshotStore.sameColumns(pinned, s),
        s"table at $root pins schema ${pinned.simpleString} but the unit has " +
          s"${s.simpleString} — column names and types must match"))
    }

  /** The pinned data schema (`__z` included). */
  private[table] def pinnedSchema(): StructType =
    tableMetaIfExists().map(_._4).getOrElse(throw new IllegalArgumentException(
      "empty table: nothing committed yet"))

  validateTableMeta()

  // A table with committed snapshots but no meta/table.json (written
  // before layouts were pinned, or damaged): auto-pinning at the next
  // commit would enshrine the OPENER's possibly-wrong curve as
  // authoritative — after which the CORRECT spelling fails validation
  // forever, and reads meanwhile silently drop rows. Refuse to open it.
  if (currentSnapshotId > 0 && tableMetaIfExists().isEmpty)
    throw new IllegalStateException(
      s"table at $root has committed snapshots but no meta/table.json, so " +
        "nothing on disk records the layout its data was written with. " +
        s"Opening it would pin THIS session's layout (curve=$curve " +
        s"zRes=$zRes histRes=$histRes) as authoritative; refusing to open.")

  /** Pin-or-validate, called from EVERY commit (not just the constructor):
    * two stores constructed on the same empty root both pass the ctor
    * check (no meta yet); whichever commits second must fail against the
    * winner's pinned layout and schema instead of landing mixed-curve or
    * mixed-schema files. CREATE_NEW + re-validate closes the write-write
    * race either way. */
  private def writeTableMeta(schema: StructType): Unit = {
    if (!Files.exists(tableMetaPath)) {
      try Files.writeString(tableMetaPath,
        MetaJson.tableMetaJson(curve, zRes, histRes, schema),
        StandardOpenOption.CREATE_NEW)
      catch { case _: java.nio.file.FileAlreadyExistsException => () }
    }
    validateTableMeta(Some(schema))
  }

  private def rootPath(id: Long) = metaDir.resolve(s"snap-$id")

  /** The greatest committed snapshot id. Roots are linked only as
    * parent + 1 and expiry deletes the oldest, so the roots above any
    * committed id form an unbroken run: start from the `current` hint and
    * step forward while the next root exists. A hint that names no root
    * (absent, or expired) falls back to the greatest root id listed. The
    * steps are stats; the hint is the only file opened. */
  def currentSnapshotId: Long = {
    val hint = if (Files.exists(currentPtr)) readMeta(currentPtr.getFileName.toString).trim.toLong
      else 0L
    var id = if (hint > 0 && Files.exists(rootPath(hint))) hint
      else listDir(metaDir).flatMap(p => snapRootId(p.getFileName.toString)).maxOption.getOrElse(0L)
    while (Files.exists(rootPath(id + 1))) id += 1
    id
  }

  /** Point the `current` hint at `id` (temp + ATOMIC_MOVE). Best effort:
    * the linked root is the commit, and a stale or missing hint only
    * costs readers a few more stats. A leftover temp is reclaimed by
    * [[vacuum]]. */
  private def writeHint(id: Long): Unit =
    try {
      val tmp = metaDir.resolve(s"snap-$id-hint-${java.util.UUID.randomUUID().toString.take(8)}")
      Files.writeString(tmp, id.toString, StandardOpenOption.CREATE_NEW)
      Files.move(tmp, currentPtr, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    } catch { case NonFatal(_) => () }

  /** The view of the last snapshot this store read or committed
    * ([[SnapshotView]]): one per store instance. */
  private val cachedView = new java.util.concurrent.atomic.AtomicReference[SnapshotView]()

  private def cache(snapshotId: Long): SnapshotView = {
    val v = new SnapshotView(this, snapshotId)
    cachedView.set(v)
    v
  }

  /** The view of the current snapshot: reads `current`, then reuses the
    * cached view or replaces it — a commit by another store instance is
    * seen here. */
  private[graft] def view(): SnapshotView = viewAt(currentSnapshotId)

  /** The view of snapshot `snapshotId`: the cached one, a new cached one
    * when `snapshotId` is current, or — for an older snapshot — an
    * uncached view that leaves the cached one in place. */
  private def viewAt(snapshotId: Long): SnapshotView = {
    val v = cachedView.get
    if (v != null && v.snapshotId == snapshotId) v
    else if (snapshotId == currentSnapshotId) cache(snapshotId)
    else new SnapshotView(this, snapshotId)
  }

  /** Manifest read: a driver-written JSON FILE — KBs of metadata, zero
    * Spark jobs (a parquet manifest cost one job to write and one per
    * read, and commits run once per micro-batch under streaming
    * ingestion; real Iceberg's manifests are likewise driver-readable,
    * never a cluster job). A `snap-N` that is not a regular file fails
    * the read ([[readRoot]]). */
  def manifest(snapshotId: Long = currentSnapshotId): Seq[FileEntry] =
    viewAt(snapshotId).manifest

  /** Manifest read with optional SHARD pruning: when `boxes` is given,
    * only shards whose union bounds overlap some box are downloaded and
    * parsed — at the
    * 10⁶-file design point a box read touches a handful of shard files
    * instead of a few hundred MB of driver-side JSON; with
    * `shardHint` (a key lookup's Bloom verdict per shard), only the shards
    * it passes load. Returns the loaded shard rows with their
    * entries, plus the TOTAL data-file count of the snapshot (known from
    * the shard rows without reading them) so pruning stays observable. */
  private[graft] def manifestPartial(snapshotId: Long,
                                     boxes: Option[Seq[MBR]],
                                     shardHint: Option[ShardMeta => Boolean] = None,
                                     rangesHint: Option[Seq[(Long, Long)]] = None)
      : (Seq[(ShardMeta, Seq[FileEntry])], Int) =
    manifestPartial(viewAt(snapshotId), boxes, shardHint, rangesHint)

  private def manifestPartial(v: SnapshotView, boxes: Option[Seq[MBR]],
                              shardHint: Option[ShardMeta => Boolean],
                              rangesHint: Option[Seq[(Long, Long)]])
      : (Seq[(ShardMeta, Seq[FileEntry])], Int) = {
    if (v.snapshotId == 0) (Seq.empty, 0)
    else {
      val root = v.root
      val zBounds = rangesHint.map(ZRangeContains.bounds)
      // the bound prunes are fail-open: a shard with unknown bounds
      // always loads — a pruner may only skip what it can PROVE
      // irrelevant. The curve-range test rides the query's own merged
      // covering (rangesHint — shards are chunked by minZ, so their
      // [minZ, maxZ] intervals partition the key axis after
      // compaction): a shard whose interval meets no
      // covering range holds no row of any query box, even when its
      // lat/lon union still overlaps one (per-append shards span wide
      // boxes).
      val wanted = root.shards.filter { sm =>
        boxes.forall(bs => bs.exists(b =>
          MBR(sm.minLat, sm.minLon, sm.maxLat, sm.maxLon).overlaps(b))) &&
        zBounds.forall(ZRangeContains.meets(_, sm.minZ, sm.maxZ)) &&
        shardHint.forall(_(sm))
      }
      (wanted.map(sm => sm -> v.entries(sm)), root.shards.map(_.entries).sum)
    }
  }

  /** Parse the root of snapshot `snapshotId`. The root is a JSON FILE;
    * anything else under the `snap-N` name (a directory, say), or a
    * document that is not a manifest list, fails naming the path, so no
    * reader guesses at its contents and no reference scan treats it as
    * "references nothing". */
  private[table] def readRoot(snapshotId: Long): ManifestRoot = {
    val p = rootPath(snapshotId)
    if (!Files.exists(p))
      throw new IllegalStateException(
        s"snapshot $snapshotId is expired or was never committed")
    if (!Files.isRegularFile(p))
      throw new IllegalStateException(
        s"snapshot root $p is not a regular file; it cannot be read as a manifest")
    try MetaJson.parseManifestRoot(readMeta(p.getFileName.toString))
    catch { case e: IllegalStateException =>
      throw new IllegalStateException(s"snapshot root $p: ${e.getMessage}", e) }
  }

  /** The one way the store opens a file under meta/: `current`,
    * `table.json`, a root, or a file a root names (a shard, stats or
    * deletion-vector file). A missing one fails the read, naming its
    * path. */
  private[table] def readMeta(name: String): String = {
    onMetaRead(name)
    Files.readString(metaDir.resolve(name))
  }

  /** Lineage ids present in the current snapshot — the idempotence check
    * streaming ingestion runs per MICRO-BATCH ([[resumableRun]] /
    * StreamIngest). */
  def committedLineage: Set[String] = lineageSet(currentSnapshotId)

  /** Lineage ids of snapshot `snapshotId`, from its ROOT alone (KBs at the
    * 10⁶-file design point): the shard rows' `lineages` summaries and the
    * ids folded into compactions and deletes. */
  private def lineageSet(snapshotId: Long): Set[String] = {
    val root = viewAt(snapshotId).root
    root.shards.flatMap(_.lineages).toSet ++ root.folded
  }

  /** Exact live-row count from metadata alone — the plan-time input to
    * [[graft.geo.CellId.pickResolution]] (adaptive covering resolution
    * with ZERO data scans): the rows written minus the positions the
    * shard rows' deletion vectors mark. */
  def totalRows: Long = view().totalRows

  /** Append a (lat, lon, …) DataFrame as one lineage unit: Z-cluster it
    * (repartitionByRange + sortWithinPartitions — the bulk-load pack),
    * write immutable parquet, and commit parent-manifest + new entries
    * atomically. ONE Spark query, whatever the key or coordinate types:
    * the clustered write, whose tasks also compute every file's manifest
    * stats, index leaves, histogram cells and Bloom bitset
    * ([[writeUnitFiles]]); the commit, stats files included, is driver IO
    * (AQE may split the query into a few stage-jobs — the budget is
    * pinned in spec). */
  def append(df: DataFrame, lineageId: String, numPartitions: Int = 0): Long = {
    val t0 = System.nanoTime()
    val parts = if (numPartitions > 0) numPartitions
      else spark.sparkContext.defaultParallelism
    val unitDir = s"$root/data/$lineageId-${java.util.UUID.randomUUID().toString.take(8)}"
    val keyed = GeoCols.withCurveKey(df, curve, zRes)
    // refuse a unit that would poison the table before writing any file
    validateTableMeta(Some(keyed.schema))
    // NOTE (r6 optimization round, measured): repartitionByRange executes
    // the child plan twice (range-sampling pass + shuffle map). Persisting
    // `keyed` to cut the second derive was tried and REGRESSED every
    // storage query ~1.5 s/append (the columnar cache encode/decode costs
    // far more than the cheap scan+derive it saves) — the double scan is
    // the right trade at every scale, exactly as Spark's own sort pays it.
    // Committer-free direct write (same ParquetWriteSupport bits): the
    // manifest commit below is the atomicity point, so the Hadoop commit
    // protocol's ~0.2 s/invocation driver floor buys nothing here.
    val files = writeUnitFiles(
      keyed
        .repartitionByRange(parts, col("__z"))
        .sortWithinPartitions(col("__z")),
      unitDir, lineageId, t0)
    commitAppend(files, keyed.schema)
  }

  /** One clustered-unit write: the direct parquet job with a
    * [[UnitTaskStats]] observer threaded through each task, yielding every
    * non-empty file's manifest entry (exact `__z`/lat/lon bounds,
    * fail-open on NaN or all-null) with its leaves and Bloom bitset — zero
    * further passes over the unit. Entries name only the files of
    * SUCCESSFUL tasks, so a failed attempt's orphan never reaches the
    * manifest. */
  private def writeUnitFiles(clustered: DataFrame, unitDir: String,
                             lineageId: String, t0: Long)
      : Seq[(FileEntry, UnitFileStats)] = {
    val res = org.apache.spark.sql.GraftParquetDirect.writeStats(clustered, unitDir,
      UnitTaskStats.observer(clustered.schema,
        bloomKey.filter(clustered.columns.contains), histRes))
    val wallMs = (System.nanoTime() - t0) / 1000000
    val dirPath = new org.apache.hadoop.fs.Path(unitDir)
    val fs = dirPath.getFileSystem(spark.sessionState.newHadoopConf())
    res.filter(_._2 > 0).map { case (name, rows, s) =>
      (FileEntry(
        fs.makeQualified(new org.apache.hadoop.fs.Path(dirPath, name)).toString,
        rows, s.minZ, s.maxZ, s.minLat, s.maxLat, s.minLon, s.maxLon,
        lineageId, wallMs), s)
    }
  }

  /** Appends COMMUTE: the unit's data files are already on disk under
    * unique names and the manifest merge is purely additive, so
    * a commit that loses the optimistic-concurrency race rebases onto the
    * winner's manifest and retries with nothing rewritten — Iceberg's
    * fast-append retry, bounded. Replacing and delete commits never come
    * through here: both PLAN against a pinned parent — rebasing a
    * compaction would silently drop the racer's unit from the replacing
    * manifest, and a delete's shard rows replace the parent's by name —
    * so both still fail loudly for the caller to re-plan. */
  private def commitAppend(files: Seq[(FileEntry, UnitFileStats)], schema: StructType,
                           retries: Int = 5): Long =
    try commit(files, schema)
    catch {
      // the winner's root is current the instant it is linked: rebase at once
      case _: java.util.ConcurrentModificationException if retries > 0 =>
        commitAppend(files, schema, retries - 1)
    }

  private def normPath(p: String): String = SnapshotStore.normalizePath(p)

  /** Key point lookup planned through the shards' Bloom files: only
    * files whose filter says a probed key MIGHT be present are opened
    * (plus any file with no filter — fail open, e.g. units appended by a
    * store without a bloom key). The result drops deleted rows as
    * [[read]] does, then refines exactly
    * with a pushed `IN` predicate ([[keyIn]]), so `lookupByKey(vs)` ==
    * `read()._1.filter(key IN vs)` always — the Bloom only changes how
    * many files the plan opens. Returns (rows, files read, total files).
    * Bloom files are driver-read JSON (KBs) — planning costs no Spark job.
    *
    * The same verdict prunes SHARDS ([[bloomVerdicts]]): a shard none of
    * whose files might hold a probed key is never parsed, so a point
    * lookup reads the root + one Bloom file per shard + the hit shards,
    * not the full manifest — once per snapshot: the view keeps them. */
  def lookupByKey(values: Seq[Any], keyCol: String = ""): (DataFrame, Int, Int) = {
    val key = if (keyCol.nonEmpty) keyCol
      else bloomKey.getOrElse(throw new IllegalArgumentException(
        "store has no bloomKey: pass keyCol explicitly"))
    val v = view()
    val (fileMight, shardMight) = bloomVerdicts(v, values, key)
    planAt(v, keep = fileMight,
      refine = df => df.filter(keyIn(df, key, values)),
      shardHint = Some(shardMight))
  }

  /** `key IN values` as an `InSet` that generated code holds by reference
    * (`isin` spells each key into it): a HashSet, whatever its size, since
    * the code spells the set's class, of the values cast to the key type. */
  private def keyIn(df: DataFrame, key: String, values: Seq[Any]): Column = {
    val (t, tz) = (df.schema(key).dataType, Some(SQLConf.get.sessionLocalTimeZone))
    GraftColumnBridge.column(InSet(GraftColumnBridge.expression(col(key)),
      HashSet.from(values.map(v => Cast(Literal(v), t, tz).eval()))))
  }

  /** The Bloom verdicts a key lookup on `snapshotId` plans with: per data
    * file, whether its filter MIGHT hold a probed key, and per shard,
    * whether any of its files might. The filters come from the Bloom files
    * the root names — a shard's Bloom file covers every file of the shard
    * or is not written. A shard without one, or whose filters were built
    * over another key column or probe count, passes, as does any file no
    * filter covers: unknown coverage fails open, since skipping it could
    * drop live rows. */
  private[graft] def bloomVerdicts(snapshotId: Long, values: Seq[Any], key: String)
      : (FileEntry => Boolean, ShardMeta => Boolean) =
    bloomVerdicts(viewAt(snapshotId), values, key)

  private def bloomVerdicts(v: SnapshotView, values: Seq[Any], key: String)
      : (FileEntry => Boolean, ShardMeta => Boolean) = {
    val hashes = values.map(Bloom.hashLiteral)
    def might(bits: Array[Long]) = hashes.exists(Bloom.mightContain(bits, _))
    val perShard: Map[String, Seq[(String, Array[Long])]] = v.root.shards.flatMap(sm =>
      v.bloom(sm).collect {
        case (kc, k, perFile) if kc == key && k == Bloom.K => sm.path -> perFile
      }).toMap
    val perFile = perShard.valuesIterator.flatten.toMap
    (e => perFile.get(normPath(e.path)).forall(might),
      sm => perShard.get(sm.path).forall(_.exists { case (_, bits) => might(bits) }))
  }

  /** Resolution the write-time index leaves are keyed at. */
  def statsRes: Int = histRes

  /** Persisted per-file index summaries of the current snapshot (leaf
    * slabs keyed by normalized file path), read from the index files its
    * root names — written by [[writeManifestFile]], consumed by
    * [[graft.index.GlobalIndex.fromStore]] with zero Spark jobs. */
  def indexLeaves(): Map[String, Seq[(Long, Long, Double, Double, Double, Double)]] =
    view().indexLeaves

  /** Write-time hot-cell set at resolution `r` — a skew hint for the
    * salted joins that takes no query-time scan (a hint keyed at r also
    * pins [[graft.ops.SpatialOps.boxJoinSalted]]'s resolution). Counts are the
    * persisted index leaves' counts (kept at `histRes`) summed per cell
    * over the current snapshot's files: rolled up through parent cells
    * for coarser r, expanded to descendants for finer r. Both directions yield a
    * SUPERSET of the truly-hot set (deletes are not subtracted either) —
    * exactly the safe side for a salting hint. */
  def hotCells(r: Int, hotThreshold: Double = 0.05): Set[Long] = {
    val merged = scala.collection.mutable.HashMap.empty[Long, Long]
    indexLeaves().valuesIterator.flatten.foreach { l =>
      merged.update(l._1, merged.getOrElse(l._1, 0L) + l._2) }
    if (merged.isEmpty) return Set.empty
    val cells = merged.toArray
    val total = cells.map(_._2).sum
    val hotAtHist = cells.filter(_._2 > total * hotThreshold).map(_._1)
    if (r == histRes) hotAtHist.toSet
    else if (r < histRes)
      // roll counts up to r first — children of one hot parent may each
      // sit below the threshold individually
      cells.map { case (c, n) =>
        (Iterator.iterate((c, histRes)) { case (cc, rr) =>
          (CellId.parent(cc, rr), rr - 1) }.drop(histRes - r).next()._1, n)
      }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq
        .filter(_._2 > total * hotThreshold).map(_._1).toSet
    else
      // finer r: a hot cell's descendants (superset hint)
      hotAtHist.flatMap(c =>
        (histRes until r).foldLeft(Seq(c)) { case (cs, rr) =>
          cs.flatMap(CellId.children(_, rr)) }).toSet
  }

  /** Test seam, production no-op: runs in EVERY commit right after the
    * parent snapshot is captured — the exact window a racing committer
    * can win in. The fast-append race spec plants a racer here to prove
    * [[commitAppend]]'s rebase-retry deterministically (a thread-timing
    * race only exercises it probabilistically). */
  private[graft] var afterParentCapture: () => Unit = () => ()

  /** Test seam, production no-op: runs in EVERY commit after its files
    * are written, just before the parent check and the link — where the
    * stall spec parks a writer while another instance commits, expires
    * and vacuums. */
  private[graft] var beforeLink: () => Unit = () => ()

  /** Manifest-append commit: parent shards + new entries (with their
    * write-task stats) → snap-(n+1); `vectors`
    * replaces parent shard rows with their new deletion vectors; `folded`
    * joins the root's folded-lineage list; `schema` (the written files'
    * columns) is pinned or validated against the table's pin first.
    *
    * Linking the complete root as `snap-(n+1)` is the one commit point
    * ([[writeManifestFile]]): the link fails when the name exists, so no
    * writer replaces another's root, and a reader never sees a partial
    * one. A commit whose parent is no longer current fails before it
    * links, so an expired id is never linked again. Both failures are a
    * ConcurrentModificationException, and the failed commit deletes every
    * file it wrote. A crash leaves only unreferenced files named for an
    * id, which [[vacuum]] reclaims once that id is decided.
    *
    * `expectedParent`: the snapshot the caller PLANNED against (compaction
    * reads the table, rewrites it, then commits — possibly seconds later).
    * If the table advanced past it, this commit would silently drop the
    * interleaved units from a replacing manifest while their lineage ids
    * stay marked committed (permanent, re-delivery-proof data loss under
    * streaming ingestion) — so it fails loudly instead. */
  private def commit(files: Seq[(FileEntry, UnitFileStats)], schema: StructType,
                     replaceParent: Boolean = false,
                     expectedParent: Long = -1L,
                     folded: Seq[String] = Seq.empty,
                     vectors: Seq[(ShardMeta, Seq[(String, Array[Long])])] = Seq.empty): Long = {
    val parent = if (expectedParent >= 0) expectedParent else currentSnapshotId
    afterParentCapture()
    val next = parent + 1
    // sequence number = the committing snapshot id (Iceberg semantics);
    // parent entries keep the seq of the commit that introduced them
    val stamped = files.map { case (e, st) => (e.copy(seq = next), st) }
    writeTableMeta(schema)
    writeManifestFile(next, parent, stamped, folded, replaceParent, vectors)
    writeHint(next)
    cache(next)
    next
  }

  /** Write the snap-`next` root — the manifest LIST, whatever the table
    * size. The parent's shard files are carried BY REFERENCE (the Iceberg
    * manifest-list contract: manifests are immutable and carried forward,
    * not rewritten; a first or replacing commit has no parent shards) and
    * only THIS commit's data entries are chunked, `manifestShardRows` per
    * shard, into new shard file(s) — commits are O(commit size) driver
    * JSON, not O(table file count). Per-append shards overlap in Z (each
    * append spans its own key range), so their union bounds are looser
    * than a global re-sort; [[compact]]'s replacing commit re-chunks
    * globally by minZ, exactly like Iceberg's rewrite-manifests
    * maintenance. `folded` extends the parent's folded-lineage list.
    *
    * Each new shard `snap-N-shard-K-<uid>.json` gets its stats files
    * beside it, named by its root row, from the in-task stats of its files:
    *
    *  - `….index.json` — per-file leaf slabs (cell, cnt, MBR) at `histRes`:
    *    the PERSISTED index summaries [[graft.index.GlobalIndex.fromStore]]
    *    rebuilds the broadcastable index from with zero scans (the
    *    reference persists its tree the same way, IndexFile.java:37-95),
    *    and whose counts summed per cell are [[hotCells]]'s skew hint;
    *  - `….bloom.json` — per-file Bloom bitsets over `bloomKey`, when the
    *    shard's files carry them (not when the store has no key or the
    *    table lacks the column) — [[lookupByKey]]'s file and shard skip.
    *
    * A delete's `vectors` give, per parent shard it hit, that shard's
    * whole new set of deletion vectors: each is written as
    * `snap-N-dv-<uid>-<k>.json` and the shard row is carried with `dv`
    * naming it and `deleted` counting its marked positions — the shard
    * file and its stats files stay the same files.
    *
    * Shards, stats and the root are written FIRST under commit-unique
    * names (the root as `snap-N-root-<uid>.json`); then, if `parent` is
    * still current, the root is published with `Files.createLink(snap-N)`
    * (link(2): atomic, and it fails when `snap-N` exists). Until the link
    * succeeds any failure deletes every file the commit wrote; after it,
    * the temporary root name is unlinked. */
  private def writeManifestFile(next: Long, parent: Long,
                                stamped: Seq[(FileEntry, UnitFileStats)],
                                folded: Seq[String],
                                replaceParent: Boolean,
                                vectors: Seq[(ShardMeta, Seq[(String, Array[Long])])]): Unit = {
    val prev =
      if (replaceParent || parent == 0) ManifestRoot(Seq.empty, Seq.empty)
      else try readRoot(parent) catch {
        // another instance committed past the parent and expired it: the
        // same lost race as the parent check below
        case e @ (_: IllegalStateException | _: java.nio.file.NoSuchFileException)
            if !Files.exists(rootPath(parent)) && currentSnapshotId != parent =>
          throw new java.util.ConcurrentModificationException(
            s"snapshot $parent was expired during commit — retry from the new manifest", e)
      }
    val uid = java.util.UUID.randomUUID().toString.take(8)
    val written = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
    def put(name: String, json: String): String = {
      val path = metaDir.resolve(name)
      Files.writeString(path, json, StandardOpenOption.CREATE_NEW)
      written += path
      name
    }
    val tmpRoot = try {
      val marked = vectors.zipWithIndex.map { case ((sm, vs), k) =>
        sm.path -> sm.copy(dv = Some(put(s"snap-$next-dv-$uid-$k.json", MetaJson.dvJson(vs))),
          deleted = vs.map(_._2.map(java.lang.Long.bitCount).sum.toLong).sum)
      }.toMap
      val fresh = stamped.sortBy(_._1.minZ).grouped(manifestShardRows)
        .zipWithIndex.map { case (chunk, k) =>
          val name = s"snap-$next-shard-$k-$uid"
          val g = chunk.map(_._1)
          val byFile = chunk.map { case (e, st) => (normPath(e.path), st) }
          val index = put(s"$name.index.json", MetaJson.indexJson(histRes,
            byFile.map { case (f, st) => (f, st.leaves.toSeq) }))
          val bloom = bloomKey.filter(_ => byFile.forall(_._2.bits.nonEmpty)).map(kc =>
            put(s"$name.bloom.json", MetaJson.bloomJson(kc, Bloom.K,
              byFile.map { case (f, st) => (f, st.bits) })))
          ShardMeta(put(s"$name.json", MetaJson.manifestJson(g)), g.size,
            g.map(_.minZ).min, g.map(_.maxZ).max,
            g.map(_.minLat).min, g.map(_.maxLat).max,
            g.map(_.minLon).min, g.map(_.maxLon).max,
            lineages = g.map(_.lineageId).distinct, index, bloom)
        }.toSeq
      val tmp = metaDir.resolve(put(s"snap-$next-root-$uid.json", MetaJson.manifestListJson(
        ManifestRoot(prev.shards.map(sm => marked.getOrElse(sm.path, sm)) ++ fresh,
          prev.folded ++ folded))))
      beforeLink()
      if (currentSnapshotId != parent)
        throw new java.util.ConcurrentModificationException(
          s"snapshot advanced past $parent during commit — retry from the new manifest")
      try Files.createLink(rootPath(next), tmp)
      catch {
        case e: java.nio.file.FileAlreadyExistsException =>
          throw new java.util.ConcurrentModificationException(
            s"snap-$next already exists — another writer won the race ($e)")
      }
      tmp
    } catch {
      case e: Throwable =>
        // a lost race or a crash before the link must not leave this
        // commit's shards, stats or root as permanent debris
        written.foreach(p => try Files.deleteIfExists(p)
          catch { case _: Throwable => () })
        throw e
    }
    try Files.deleteIfExists(tmpRoot) catch { case NonFatal(_) => () }
  }

  /** snap-<digits> root-name classifier shared by every path that looks
    * for roots (the current-id fallback, the reference-set scanner,
    * vacuum): the rules for "what is a root" and "what is a shard" must
    * have exactly one spelling, or a future widening applied to one copy
    * would make vacuum and the reference scanner disagree — the
    * live-shard-deletion hazard these functions guard against. Guarded
    * parse: debris like "snap-" or an overlong id yields None, never an
    * exception. */
  private def snapRootId(name: String): Option[Long] = {
    val digits = name.drop(5)
    if (name.startsWith("snap-") && digits.nonEmpty && digits.length <= 18 &&
        digits.forall(_.isDigit)) Some(digits.toLong) else None
  }

  /** Every other file a commit of snapshot id N writes under meta/ is
    * named `snap-N-…`: shard, stats and deletion-vector files, the
    * temporary root and the hint temp. One compiled copy. */
  private val idFileRe = "^snap-([0-9]{1,18})-.+$".r

  /** Shard and stats file names referenced by every existing snapshot
    * root except `excludeIds`. Under shard reuse a shard written at snap-k is
    * referenced by k and every descendant until a replacing commit —
    * deletion must check the whole root set, not just the snapshot being
    * dropped. Roots are KBs (shard list + folded lineage ids), so this
    * scan is cheap even at the 10⁶-file design
    * point. Returns None if ANY root is unreadable — an IO error, or a
    * `snap-N` that is not a regular file: an unknown reference set must
    * FAIL CLOSED — callers delete nothing rather than treat "couldn't
    * read the root" as "references nothing" and destroy live shards. */
  private def referencedShardPaths(excludeIds: Set[Long]): Option[Set[String]] = {
    val acc = Set.newBuilder[String]
    val allReadable = listDir(metaDir).forall { p =>
      snapRootId(p.getFileName.toString) match {
        case Some(id) if !excludeIds.contains(id) =>
          try {
            acc ++= readRoot(id).shards.flatMap(_.files)
            true
          } catch { case _: Throwable => false }
        case _ => true
      }
    }
    if (allReadable) Some(acc.result()) else None
  }

  /** Delete a snapshot's manifest root AND the shard and stats files only
    * IT references — shards carried forward into retained snapshots must
    * survive, and the shard names are only recorded in roots, so the root
    * must be read before it is removed. `keep` is the reference set of
    * the roots that SURVIVE — None means it could not be established, in
    * which case no shard file is deleted (fail closed; [[vacuum]] will
    * reclaim the debris once the roots read cleanly again). */
  private def deleteSnapshotArtifacts(k: Long,
                                      keep: Option[Set[String]]): Unit = {
    try {
      val shards = readRoot(k).shards
      keep match {
        case Some(ks) if shards.nonEmpty =>
          shards.flatMap(_.files).filterNot(ks.contains)
            .foreach(f => try Files.deleteIfExists(metaDir.resolve(f))
              catch { case _: Throwable => () })
        case _ => () // unknown reference set: leave every shard in place
      }
    } catch { case _: Throwable => () }
    deleteRecursive(rootPath(k))
  }

  /** Directory listing with the stream CLOSED (Files.list leaks a
    * directory fd until GC otherwise — and commits run per micro-batch
    * under streaming ingestion). */
  private def listDir(p: java.nio.file.Path): Seq[java.nio.file.Path] = {
    val s = Files.list(p)
    try { import scala.jdk.CollectionConverters._; s.iterator().asScala.toSeq }
    finally s.close()
  }

  private def deleteRecursive(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      val all =
        try { import scala.jdk.CollectionConverters._; s.iterator().asScala.toSeq }
        finally s.close()
      all.reverse.foreach(f => try Files.delete(f) catch { case _: Throwable => () })
    }

  /** Plan a read from the current snapshot; `box` prunes manifest entries
    * whose lat/lon range misses it or whose `[minZ, maxZ]` span meets no
    * range of its fine curve covering (the reference's subtree prune,
    * from manifest metadata alone; a file is one parquet row group below
    * 128 MB, so nothing is pushed to parquet), then probes the kept rows'
    * `__z` against that covering ([[GeoCols.zCoveringPredicate]]). The
    * returned frame is a SUPERSET of the box's rows — callers refine exactly.
    * Returns (files read, total files) alongside the DataFrame so
    * callers/tests can observe pruning. */
  def read(box: Option[MBR] = None): (DataFrame, Int, Int) =
    readAt(currentSnapshotId, box)

  /** Multi-geometry planned read — the JOIN-side analog of [[read]]
    * (round-4 verdict ask #3: the metric-bearing join operators need the
    * same file skip the single-box path has). A file disjoint from EVERY
    * box, or whose Z span meets no range of the boxes' merged covering
    * ([[CellId.mergeRanges]]), never opens, and the surviving rows are
    * probed against that covering. Superset contract as [[read]] — the
    * join operator's exact predicate refines. */
  def readBoxes(boxes: Seq[MBR]): (DataFrame, Int, Int) =
    readBoxesAt(currentSnapshotId, boxes)

  /** [[readBoxes]] against snapshot `snapshotId`. */
  private[graft] def readBoxesAt(snapshotId: Long, boxes: Seq[MBR]): (DataFrame, Int, Int) = {
    require(boxes.nonEmpty, "readBoxes needs at least one box")
    planBoxes(viewAt(snapshotId), Some(boxes))
  }

  /** Time travel: the same planned read against ANY committed snapshot —
    * vacuum() keeps every snapshot's files, so pre-compaction history
    * stays queryable until snapshots are expired out-of-band. */
  def readAt(snapshotId: Long, box: Option[MBR] = None): (DataFrame, Int, Int) =
    planBoxes(viewAt(snapshotId), box.map(Seq(_)))

  /** The one box-read planner behind [[read]], [[readAt]] and
    * [[readBoxes]]: no boxes reads everything; otherwise files disjoint
    * from every box, or whose Z span meets no range of the boxes' merged
    * covering, are skipped and the kept rows are probed against that
    * covering. A single box's covering is already sorted, disjoint and
    * within 1024 ranges, so the merge leaves it as it is.
    *
    * Fine covering caps 1024 per box and 4096 merged: the row-level
    * membership test is an O(log n) binary search
    * ([[GeoCols.zCoveringPredicate]]) and the
    * decomposition cost is cap-independent (full quadtree descent, then
    * coalesce), so a finer covering only SHRINKS the superset — and the
    * set of files whose Z span meets it. */
  private def planBoxes(v: SnapshotView, boxes: Option[Seq[MBR]]): (DataFrame, Int, Int) = {
    val ranges = boxes.map(bs => CellId.mergeRanges(
      bs.flatMap(GeoCols.curveRanges(curve, _, zRes, maxRanges = 1024)), maxRanges = 4096))
    planAt(v,
      keep = e => boxes.forall(_.exists(b =>
        MBR(e.minLat, e.minLon, e.maxLat, e.maxLon).overlaps(b))),
      refine = df => ranges.fold(df)(rs =>
        df.filter(GeoCols.zCoveringPredicate(col("__z"), rs))),
      boxesHint = boxes,
      rangesHint = ranges)
  }

  /** Shared snapshot planner: `keep` prunes manifest data entries (file
    * skipping — MBR overlap for box reads, Bloom probes for key lookups),
    * as does `rangesHint`, a box read's covering: a shard or file whose Z
    * span meets none of its ranges holds no row the probe would keep.
    * `refine` narrows the surviving files' rows (covering probe / pushed
    * key predicate). Deleted rows are dropped in the scan itself: the
    * deletion vectors of the kept files, read from the DV files of the
    * shards that hold them, feed ONE [[RowDeleted]] filter over the scan's
    * file path and row index — no join, no broadcast, no Spark job; with
    * no vector, there is no filter. The view's own DV names are used,
    * so time travel is exact. Every part comes from the snapshot's view
    * (parsed once per view) and every scan is built over the view's file
    * statuses ([[SnapshotView.scan]]), so planning is driver IO only, and
    * none once the view holds the parts: zero Spark jobs before the
    * caller's action, at any file count. A snapshot with no surviving
    * file — everything pruned, or a table compacted down to zero rows —
    * plans zero rows of the pinned schema. */
  private def planAt(v: SnapshotView, keep: FileEntry => Boolean,
                     refine: DataFrame => DataFrame,
                     boxesHint: Option[Seq[MBR]] = None,
                     shardHint: Option[ShardMeta => Boolean] = None,
                     rangesHint: Option[Seq[(Long, Long)]] = None)
      : (DataFrame, Int, Int) = {
    // boxesHint / shardHint prune manifest SHARDS before any entry is
    // even parsed ([[manifestPartial]]) — entries in a
    // skipped shard are provably disjoint from every box / bloom-clear
    // for every probed key, so `keep` would reject them anyway;
    // totalData stays the snapshot's true file count.
    val (loaded, totalData) = manifestPartial(v, boxesHint, shardHint, rangesHint)
    val zBounds = rangesHint.map(ZRangeContains.bounds)
    val perShard = loaded.map { case (sm, es) => sm -> es.filter(e => keep(e) &&
      zBounds.forall(ZRangeContains.meets(_, e.minZ, e.maxZ))) }
    val kept = perShard.flatMap(_._2)
    val deleted = perShard.filter(_._2.nonEmpty).flatMap { case (sm, es) =>
      val paths = es.map(e => normPath(e.path)).toSet
      v.vectors(sm).filter(dv => paths(dv._1))
    }.toMap
    val scanned = v.scan(kept.map(_.path))
    val live = if (deleted.isEmpty) scanned else scanned.filter(RowDeleted.live(deleted))
    (refine(live).drop("__z"), kept.size, totalData)
  }

  /** Row-level delete by position (Iceberg v3 / Delta Lake deletion
    * vectors): ONE Spark job over the current snapshot's live rows
    * matching `cond` folds, per task, the `_metadata.row_index` positions
    * of each `_metadata.file_path` it matched into a bitset no longer than
    * that file's rows; the driver ORs them. The commit writes, for each
    * shard holding a hit file, one DV file with the shard's old vectors OR
    * the new ones, and replaces those shard rows in the root — no `data/`
    * dir, no entry. Readers drop the marked rows in-plan ([[planAt]]);
    * [[compact]] rewrites the live rows and drops the vectors.
    *
    * A position names one row of one file, so a row with nulls deletes
    * like any other, rows differing only in a binary column delete
    * independently, and a row re-inserted after its delete lands in a new
    * file and stays live. The delete plans against the snapshot it read:
    * a commit racing it fails the delete loudly. Its lineage id joins the
    * root's `folded` list, so [[committedLineage]] holds it. */
  def deleteWhere(cond: org.apache.spark.sql.Column, lineageId: String): Long = {
    // the scan's view maps the hit files to their shards: a delete parses
    // each shard and DV file at most once
    val v = view()
    val (live, kept, _) = planBoxes(v, None)
    import spark.implicits._
    // a snapshot without files has no `_metadata` to select
    val hits = if (kept == 0) Map.empty[String, Array[Long]] else live.filter(cond)
      .select(col("_metadata.file_path"), col("_metadata.row_index"))
      .as[(String, Long)].mapPartitions(SnapshotStore.positions).collect()
      .groupMapReduce(v => RowDeleted.fileKey(v._1))(_._2)(SnapshotStore.or)
    val vectors = manifestPartial(v, None, None, None)._1.collect {
      case (sm, es) if es.exists(e => hits.contains(normPath(e.path))) =>
        val old = v.vectors(sm)
        sm -> es.map(e => normPath(e.path)).flatMap(f =>
          (old.get(f) ++ hits.get(f)).reduceOption(SnapshotStore.or).map(f -> _))
    }
    commit(Seq.empty, v.schema, expectedParent = v.snapshotId, folded = Seq(lineageId),
      vectors = vectors)
  }

  /** Compaction — the distributed analog of the reference's forced-
    * reinsert "layout repair" (RStarTree.java:126-172, SURVEY §4.1): read
    * the full current snapshot, re-cluster by Z order into `numPartitions`
    * files, commit a snapshot whose manifest REPLACES the old entries
    * (not appends). Query results are unaffected (proven in spec); file
    * counts drop and Z-ranges tighten, which is what makes manifest and
    * row-group pruning effective after many small appends. */
  def compact(numPartitions: Int = 0): Long =
    compactHooked(numPartitions, () => ())

  /** Test seam: `beforeCommit` runs between the rewrite and the commit —
    * the window a concurrent append can land in. Production uses the
    * no-op; the race spec injects an append here to prove the replacing
    * commit fails loudly instead of silently dropping the racer's unit. */
  private[graft] def compactHooked(numPartitions: Int,
                                   beforeCommit: () => Unit): Long = {
    val t0 = System.nanoTime()
    val parts = if (numPartitions > 0) numPartitions
      else spark.sparkContext.defaultParallelism
    // pin the snapshot this compaction PLANS against: the replacing commit
    // below passes it as expectedParent, so a unit committed while the
    // rewrite runs (streaming ingestion!) fails the compaction loudly
    // instead of being silently dropped from the replacing manifest while
    // its lineage id stays marked committed
    val v = view()
    val base = v.snapshotId
    val (df, _, _) = planBoxes(v, None)
    // UUID-suffixed like append's units: a compaction that crashes before
    // its commit must not wedge every retry on ErrorIfExists
    val unitDir = s"$root/data/compact-${base + 1}-" +
      java.util.UUID.randomUUID().toString.take(8)
    val keyed = GeoCols.withCurveKey(df, curve, zRes)
    val lineage = s"compact-${base + 1}"
    val files = writeUnitFiles(
      keyed
        .repartitionByRange(parts, col("__z"))
        .sortWithinPartitions(col("__z")),
      unitDir, lineage, t0)
    // replacing commit: new root = compacted entries, with the BASE
    // snapshot's lineage ids in `folded` so resumableRun still skips them
    // (read from `base`, not the live current id — a racer's lineage must
    // fail the commit, not get absorbed into `folded`)
    val baseLineage = lineageSet(base)
    beforeCommit()
    commit(files, keyed.schema,
      replaceParent = true, expectedParent = base, folded = baseLineage.toSeq.sorted)
  }

  /** Incremental consumption (the CDC primitive a downstream pipeline
    * uses to process ONLY data that arrived since its last checkpointed
    * snapshot): rows of data units with sequence number in
    * (`sinceSnapshot`, `toSnapshot`], deleted rows included: deletion
    * vectors are never applied — a delete cannot affect rows appended
    * after it, and deletes inside the window mark rows by position in
    * their files (consumers reconciling deletions read the shard rows'
    * `dv` files).
    * Refuses windows that cross a compaction: rewritten files carry the
    * compaction's sequence number, so the increment would replay the
    * whole table as if new — the caller must re-baseline instead
    * (Iceberg's incremental scan rejects replace snapshots identically).
    * Planned from the pinned schema like every read: an empty window is
    * zero rows of it, with no Spark job. */
  def appendedSince(sinceSnapshot: Long, toSnapshot: Long = -1L): DataFrame = {
    val v = viewAt(if (toSnapshot >= 0) toSnapshot else currentSnapshotId)
    val (to, m) = (v.snapshotId, v.manifest)
    require(!m.exists(e => e.seq > sinceSnapshot && e.lineageId.startsWith("compact-")),
      s"window ($sinceSnapshot, $to] crosses a compaction — increments are " +
        "append-only; re-baseline from the compacted snapshot")
    val ents = m.filter(e => e.seq > sinceSnapshot && e.seq <= to)
    v.scan(ents.map(_.path)).drop("__z")
  }

  /** Remove data directories no snapshot references — debris from appends
    * that crashed after writing their unit but before committing it (the
    * UUID-suffixed dir is unreachable: reads only ever plan from manifest
    * paths). Iceberg's remove-orphan-files analog. The reference set spans
    * ALL snapshots, not just the current one, so time-travel reads of
    * pre-compaction manifests stay valid; age-gating keeps an in-flight
    * append's freshly written unit safe.
    *
    * Also reclaims every `snap-N-…` file under meta/ that no root names,
    * when N ≤ the current id, whatever its age: shard, stats and
    * deletion-vector files of a commit that lost or crashed, temporary
    * roots and hint temps. Snapshot N is decided and its root can never
    * change, so no commit will name them; files of an id above current
    * may belong to a commit in flight and stay.
    *
    * Returns the dirs and meta files removed. A retained root that is
    * not a regular file makes the reference set unknown: vacuum then
    * throws ([[readRoot]]) before deleting anything. */
  def vacuum(olderThanMs: Long = 3600000L): Seq[String] = {
    // manifest paths are Hadoop URIs (file:/tmp/...); the filesystem walk
    // yields plain (possibly relative/symlinked) paths — canonicalize BOTH
    // sides before comparing or everything looks unreferenced and vacuum
    // destroys live data
    def canon(p: java.nio.file.Path): String =
      try p.toRealPath().toString
      catch { case _: Throwable => p.toAbsolutePath.normalize.toString }
    def dirOf(e: FileEntry): String =
      canon(Paths.get(e.path.stripPrefix("file:")).getParent)
    // shards are immutable and shared across roots (shard reuse): parse
    // each unique shard file ONCE for the whole loop — going through
    // manifest(k) would re-download and re-parse the same carried shards
    // per snapshot, O(snapshots × table) driver JSON on a long streaming
    // history
    val shardDirs = scala.collection.mutable.HashMap.empty[String, Seq[String]]
    val cur = currentSnapshotId
    val referenced = (1L to cur)
      // expired snapshots no longer pin their files — that is the point
      // of expireSnapshots; their dirs become reclaimable here
      .filter(k => Files.exists(rootPath(k)))
      .flatMap { k =>
        readRoot(k).shards.flatMap(sm => shardDirs.getOrElseUpdate(sm.path,
          MetaJson.parseManifest(readMeta(sm.path)).map(dirOf)))
      }
      .toSet
    val dirs = listDir(Paths.get(root, "data"))
    // backstop: a committed table's live dirs MUST appear in the listing;
    // zero overlap means the path spelling diverged some other way — refuse
    // to delete anything rather than guess
    if (referenced.nonEmpty && !dirs.exists(d => referenced.contains(canon(d))))
      return Seq.empty
    val cutoff = System.currentTimeMillis() - olderThanMs
    val removedDirs = dirs
      .filter { d =>
        !referenced.contains(canon(d)) &&
          (try Files.getLastModifiedTime(d).toMillis < cutoff
           catch { case _: Throwable => false })
      }
      .map { d => deleteRecursive(d); d.toString }
    // meta/ debris: a known reference set is required — an unreadable
    // root returns None and nothing is touched (fail closed)
    val removedMeta = referencedShardPaths(Set.empty) match {
      case Some(refs) =>
        listDir(metaDir).filter { p =>
          p.getFileName.toString match {
            case idFileRe(d) => d.toLong <= cur && !refs.contains(p.getFileName.toString)
            case _           => false
          }
        }.map { p => deleteRecursive(p); p.toString }
      case None => Seq.empty
    }
    removedDirs ++ removedMeta
  }

  /** Retire history: delete manifests of snapshots older than the newest
    * `keepLast` (Iceberg's expire-snapshots analog, completing the storage
    * lifecycle with [[vacuum]]: expiry makes pre-compaction data dirs
    * unreferenced, vacuum then reclaims them — without expiry every
    * snapshot pins its files forever). The CURRENT snapshot is always
    * kept; [[readAt]]/[[appendedSince]] against an expired snapshot fail
    * loudly (missing manifest), never silently re-resolve. Returns the
    * expired snapshot ids. */
  def expireSnapshots(keepLast: Int = 1): Seq[Long] = {
    require(keepLast >= 1, "must keep at least the current snapshot")
    val cur = currentSnapshotId
    // readers resolve the current id from the hint: point it at a root
    // this expiry keeps
    writeHint(cur)
    val expired = (1L to cur - keepLast).filter(k => Files.exists(rootPath(k)))
    // ONE reference-set computation for the whole batch, excluding every
    // to-be-expired id (they are all being dropped, so their references
    // must not pin shards) — per-snapshot recomputation made expiry
    // O(expired × remaining roots) on a long streaming history
    val keep = referencedShardPaths(expired.toSet)
    expired.foreach(k => deleteSnapshotArtifacts(k, keep))
    expired
  }

  /** Resumable multi-unit job: process only units not yet committed.
    * Returns the unit ids actually processed this run. A crash between
    * units loses nothing — completed units are durable in the snapshot
    * chain, and the rerun converges to the identical final table
    * (unit outputs are deterministic). */
  def resumableRun(units: Seq[String])(produce: String => DataFrame): Seq[String] = {
    val done = committedLineage
    val todo = units.filterNot(done.contains)
    todo.foreach(u => append(produce(u), u))
    todo
  }
}

object SnapshotStore {

  /** One task's deletion vectors: its matched (file, row position) pairs
    * folded into one bitset per file, as long words (bit i of word i/64 =
    * position i). */
  private def positions(hits: Iterator[(String, Long)]): Iterator[(String, Array[Long])] = {
    val acc = scala.collection.mutable.HashMap.empty[String, java.util.BitSet]
    hits.foreach { case (f, i) =>
      acc.getOrElseUpdate(f, new java.util.BitSet).set(Math.toIntExact(i)) }
    acc.iterator.map { case (f, b) => (f, b.toLongArray) }
  }

  /** Bitwise OR of two deletion vectors. */
  private def or(a: Array[Long], b: Array[Long]): Array[Long] =
    Array.tabulate(math.max(a.length, b.length))(i =>
      (if (i < a.length) a(i) else 0L) | (if (i < b.length) b(i) else 0L))

  /** Same column names and types, order and nullability aside: parquet
    * resolves columns by name and reads every column as nullable (a
    * type's `catalogString` spells no nullability, nested ones included). */
  private def sameColumns(a: StructType, b: StructType): Boolean = {
    def cols(s: StructType) = s.fields.map(f => (f.name, f.dataType.catalogString)).sortBy(_._1).toSeq
    cols(a) == cols(b)
  }

  /** The clustering curves this store can write and read. */
  val ValidCurves: Set[String] = GeoCols.CurveNames.toSet

  /** Data entries per manifest shard (the chunk size of a commit's own
    * entries): at the ~10⁶-file design point a compacted table has ~100
    * shard files of ~2 MB JSON each behind a ~20 KB root list — a box
    * read parses the root plus the few overlapping shards instead of the
    * full manifest. */
  val DefaultManifestShardRows: Int = 10000

  /** Default index-leaf stats grid (4^6 = 4096 cells). Was 8 (65,536 cells)
    * through round 5; the r6 optimization round measured the per-append
    * stats cost at histRes=8 on a globe-spanning unit — ~65k leaf slabs
    * of ~9 rows each, 0.42 s of stats aggregation + 0.32 s of stats
    * JSON per append, and a matching parse tax on every fromStore — and
    * dropped the default one quadtree level per 16× unit-cell blowup.
    * Correctness is res-invariant (every consumer treats the slabs as
    * fail-open bounds: hotCells rolls up/expands, kNN seed radii only
    * widen); tables that cluster tightly (files spanning few cells) can
    * pin a finer grid per store — the ctor parameter is the knob and the
    * value is validated against meta/table.json like every layout field. */
  val DefaultHistRes: Int = 6

  /** `file:`-URI and plain-path spellings of the same file must compare
    * equal: manifest paths are Hadoop URIs (`file:/x`), `input_file_name`
    * yields `file:///x`. Stats files persist the normalized form. */
  def normalizePath(p: String): String =
    if (p.startsWith("file:")) "/" + p.stripPrefix("file:").dropWhile(_ == '/')
    else p
}
