package graft.table

import graft.geo.CellId
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.XXH64

/** Per-file write-time statistics, computed INSIDE the direct-write task
  * ([[org.apache.spark.sql.GraftParquetDirect.writeStats]]) — the ONE
  * producer of every manifest entry and sidecar the store records. The
  * writer already sees every row, so nothing re-reads a unit for its
  * stats:
  *
  *  - `leaves` — per-cell `(cell, cnt, minLat, maxLat, minLon, maxLon)`
  *    at the store's `histRes`, rows with null/NaN coordinates excluded,
  *    sorted by cell; the cell id is [[CellId.grid]], the scalar twin of
  *    `GeoCols.cellCol` (identical clamped floor arithmetic). Summed
  *    across files they are the unit's hot-cell histogram; per file they
  *    are the PERSISTED index summary
  *    [[graft.index.GlobalIndex.fromStore]] rebuilds the index from with
  *    zero scans (the reference persists its tree pages the same way,
  *    IndexFile.java:37-95). A NaN row belongs to no cell and can never
  *    satisfy a distance bound, so skipping it only ever widens a kNN
  *    seed radius.
  *  - `bits` — the file's Bloom bitset over the key column, sized by
  *    [[Bloom.bitsFor]] of THIS file's row count and folded when the file
  *    closes (empty without a key). Every row's `xxhash64(key)` goes in —
  *    a null key hashes to the seed, exactly Spark's `xxhash64` — because
  *    dropping a row would be a false negative. The task buffers at most
  *    one file's hashes: [[org.apache.spark.sql.GraftParquetDirect]]
  *    rolls files at `MaxBits / BitsPerKey` rows, where a bitset is
  *    capped anyway.
  *  - file min/max for `__z`/lat/lon — exact over non-null values; a
  *    column with no usable values (all null, or any NaN for doubles)
  *    FAILS OPEN to the full range, so a file is never pruned on stats it
  *    does not have. A MISSING ordinal (< 0) records the same fail-open
  *    range for lat/lon and `minZ = maxZ = 0` for `__z` — the shape of a
  *    tombstone entry, which carries no clustering key.
  */
final case class UnitFileStats(
    minZ: Long, maxZ: Long,
    minLat: Double, maxLat: Double,
    minLon: Double, maxLon: Double,
    leaves: Array[(Long, Long, Double, Double, Double, Double)],
    bits: Array[Long])

object UnitTaskStats {

  /** Observer factory for `writeStats`: invoked once per written file.
    * Ordinals index the written plan's output schema (lat/lon `Double`,
    * `__z` and the key `Long`); a negative ordinal marks the column
    * missing — `keyOrd < 0` builds no Bloom filter. */
  def observer(latOrd: Int, lonOrd: Int, zOrd: Int, keyOrd: Int, histRes: Int)
      : () => (InternalRow => Unit, () => UnitFileStats) = () => {
    var zSeen = false
    var minZ = 0L; var maxZ = 0L
    var latSeen = false; var latNaN = false
    var minLat = 0.0; var maxLat = 0.0
    var lonSeen = false; var lonNaN = false
    var minLon = 0.0; var maxLon = 0.0
    // cell → [cnt, minLat, maxLat, minLon, maxLon]
    val cells = scala.collection.mutable.HashMap.empty[Long, Array[Double]]
    val hashes = new scala.collection.mutable.ArrayBuilder.ofLong

    val row: InternalRow => Unit = { r =>
      if (keyOrd >= 0)
        hashes += (if (r.isNullAt(keyOrd)) 42L
                   else XXH64.hashLong(r.getLong(keyOrd), 42L))
      if (zOrd >= 0 && !r.isNullAt(zOrd)) {
        val z = r.getLong(zOrd)
        if (!zSeen) { zSeen = true; minZ = z; maxZ = z }
        else { if (z < minZ) minZ = z; if (z > maxZ) maxZ = z }
      }
      val latNull = latOrd < 0 || r.isNullAt(latOrd)
      val lonNull = lonOrd < 0 || r.isNullAt(lonOrd)
      val lat = if (latNull) 0.0 else r.getDouble(latOrd)
      val lon = if (lonNull) 0.0 else r.getDouble(lonOrd)
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
      val bits =
        if (keyOrd < 0) Array.emptyLongArray
        else {
          val hs = hashes.result()
          val b = new Array[Long](Bloom.bitsFor(hs.length) / 64)
          hs.foreach(Bloom.add(b, _))
          b
        }
      UnitFileStats(
        if (zOrd < 0) 0L else if (zSeen) minZ else Long.MinValue,
        if (zOrd < 0) 0L else if (zSeen) maxZ else Long.MaxValue,
        if (latSeen && !latNaN) minLat else -Double.MaxValue,
        if (latSeen && !latNaN) maxLat else Double.MaxValue,
        if (lonSeen && !lonNaN) minLon else -Double.MaxValue,
        if (lonSeen && !lonNaN) maxLon else Double.MaxValue,
        leaves, bits)
    }
    (row, finish)
  }
}
