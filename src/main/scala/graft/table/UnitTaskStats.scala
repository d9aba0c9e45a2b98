package graft.table

import graft.geo.CellId
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, Expression,
  Literal, UnsafeProjection, XxHash64}
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StructType}

/** Per-file write-time statistics, computed INSIDE the direct-write task
  * ([[org.apache.spark.sql.GraftParquetDirect.writeStats]]): the writer
  * already sees every row, so the manifest entry and the stats files cost no
  * second pass over the unit. This is the only source of them — appends
  * and compactions both take their entries from here.
  *
  *  - file min/max for `__z`/lat/lon — exact over non-null values; a
  *    column with no usable values (absent, all null, or any NaN for
  *    coordinates) FAILS OPEN to the full range, so a narrowed range can
  *    never drop rows from read(box) — the parquet footer-stats
  *    contract (its reader drops double statistics holding NaN and
  *    widens zero bounds to -0.0 / +0.0; so do these).
  *  - `leaves` — per-grid-cell (at the store's `histRes`) slab stats
  *    `(cell, cnt, minLat, maxLat, minLon, maxLon)`, sorted by cell, rows
  *    with null/NaN coordinates excluded (a NaN row belongs to no cell and
  *    can never satisfy a distance bound — counting it would let a kNN
  *    seed radius claim coverage it doesn't have). The cell id is
  *    [[CellId.grid]], the scalar twin of `GeoCols.cellCol`. Summed across
  *    files the leaves are the unit's hot-cell histogram; per file they
  *    are the PERSISTED index summary [[graft.index.GlobalIndex.fromStore]]
  *    rebuilds the broadcastable index from with zero scans (the
  *    reference persists its tree pages the same way, IndexFile.java:37-95).
  *  - `bits` — the file's Bloom bitset over the store's key column, sized
  *    `Bloom.bitsFor(rows of this file)` ([[Bloom.Builder]]); empty when
  *    there is no Bloom key. EVERY row's key is added (a null key hashes
  *    to the seed, exactly Spark's `xxhash64`): dropping one would be a
  *    false negative, breaking the lookup contract.
  */
final case class UnitFileStats(
    minZ: Long, maxZ: Long,
    minLat: Double, maxLat: Double,
    minLon: Double, maxLon: Double,
    leaves: Array[(Long, Long, Double, Double, Double, Double)],
    bits: Array[Long])

object UnitTaskStats {

  /** Observer factory for `writeStats` over rows of `schema`. Every schema
    * goes through one in-task projection: `lat`/`lon` cast to double,
    * `__z` cast to long (a missing column reads as null — fail open), and
    * `xxhash64(key)` — the same expression [[Bloom.hashLiteral]] evaluates
    * on the driver, so the key may be of any type. `key = None` builds no
    * Bloom. */
  def observer(schema: StructType, key: Option[String], histRes: Int)
      : () => (InternalRow => Unit, () => UnitFileStats) = {
    def ref(name: String): Option[Expression] =
      Some(schema.fieldNames.indexOf(name)).filter(_ >= 0)
        .map(i => BoundReference(i, schema(i).dataType, true))
    def as(name: String, to: DataType): Expression =
      ref(name).map(Cast(_, to)).getOrElse(Literal(null, to))
    val exprs = Seq(as("lat", DoubleType), as("lon", DoubleType), as("__z", LongType)) ++
      key.map(k => XxHash64(Seq(ref(k).getOrElse(
        throw new IllegalArgumentException(s"no key column '$k' in $schema"))), 42L))
    val withBloom = key.isDefined
    () => {
      val proj = UnsafeProjection.create(exprs)
      var zSeen = false
      var minZ = 0L; var maxZ = 0L
      var latSeen = false; var latNaN = false
      var minLat = 0.0; var maxLat = 0.0
      var lonSeen = false; var lonNaN = false
      var minLon = 0.0; var maxLon = 0.0
      // cell → [cnt, minLat, maxLat, minLon, maxLon]
      val cells = scala.collection.mutable.HashMap.empty[Long, Array[Double]]
      val bloom = if (withBloom) new Bloom.Builder else null

      val row: InternalRow => Unit = { in =>
        val r = proj(in)
        if (withBloom) bloom.add(r.getLong(3))
        if (!r.isNullAt(2)) {
          val z = r.getLong(2)
          if (!zSeen) { zSeen = true; minZ = z; maxZ = z }
          else { if (z < minZ) minZ = z; if (z > maxZ) maxZ = z }
        }
        val latNull = r.isNullAt(0)
        val lonNull = r.isNullAt(1)
        val lat = if (latNull) 0.0 else r.getDouble(0)
        val lon = if (lonNull) 0.0 else r.getDouble(1)
        if (!latNull) {
          if (lat.isNaN) latNaN = true
          else if (!latSeen) { latSeen = true; minLat = lat; maxLat = lat }
          else { if (lat < minLat) minLat = lat; if (lat > maxLat) maxLat = lat }
        }
        if (!lonNull) {
          if (lon.isNaN) lonNaN = true
          else if (!lonSeen) { lonSeen = true; minLon = lon; maxLon = lon }
          else { if (lon < minLon) minLon = lon; if (lon > maxLon) maxLon = lon }
        }
        if (!latNull && !lonNull && !lat.isNaN && !lon.isNaN) {
          val cell = CellId.grid(lat, lon, histRes)
          val acc = cells.getOrElseUpdate(cell, Array(0.0, lat, lat, lon, lon))
          acc(0) += 1.0
          if (lat < acc(1)) acc(1) = lat
          if (lat > acc(2)) acc(2) = lat
          if (lon < acc(3)) acc(3) = lon
          if (lon > acc(4)) acc(4) = lon
        }
      }

      val finish: () => UnitFileStats = () => {
        val leaves = cells.toArray
          .map { case (c, a) => (c, a(0).toLong, a(1), a(2), a(3), a(4)) }
          .sortBy(_._1)
        // a zero bound is widened to -0.0 / +0.0, as parquet's footer
        // reader does: `<` cannot tell the two zeros apart
        def lo(v: Double) = if (v == 0.0) -0.0 else v
        def hi(v: Double) = if (v == 0.0) 0.0 else v
        UnitFileStats(
          if (zSeen) minZ else Long.MinValue,
          if (zSeen) maxZ else Long.MaxValue,
          if (latSeen && !latNaN) lo(minLat) else -Double.MaxValue,
          if (latSeen && !latNaN) hi(maxLat) else Double.MaxValue,
          if (lonSeen && !lonNaN) lo(minLon) else -Double.MaxValue,
          if (lonSeen && !lonNaN) hi(maxLon) else Double.MaxValue,
          leaves,
          if (withBloom) bloom.result() else Array.emptyLongArray)
      }
      (row, finish)
    }
  }
}
