package perfbench

import graft.geo.MBR
import java.util.SplittableRandom
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded workload inputs. Every row is a pure function of (seed, id), so
  * the frames the engine receives and the driver-side arrays the
  * brute-force checks read hold the same rows, whatever the partitioning.
  */
object Gen {

  final case class Cluster(lat: Double, lon: Double, sigma: Double)

  /** Driver-side copy of generated points, indexed by id. */
  final class Points(val lat: Array[Double], val lon: Array[Double]) {
    def size: Int = lat.length
  }

  val RowSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("lat", DoubleType, nullable = false),
    StructField("lon", DoubleType, nullable = false),
    StructField("payload", BinaryType, nullable = false)))

  /** splitmix64 over (seed, id, salt): one independent stream per row and
    * purpose. */
  def rng(seed: Long, id: Long, salt: Long): SplittableRandom = {
    var z = seed * 0x9E3779B97F4A7C15L + id * 0xBF58476D1CE4E5B9L + salt * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    new SplittableRandom(z ^ (z >>> 31))
  }

  private def gauss(r: SplittableRandom): Double =
    math.sqrt(-2.0 * math.log(1.0 - r.nextDouble())) * math.cos(2.0 * math.Pi * r.nextDouble())

  private def clampLat(v: Double) = math.max(-89.999, math.min(89.999, v))
  private def clampLon(v: Double) = math.max(-179.999, math.min(179.999, v))

  /** Cluster centres over the inhabited latitudes, spreads of 0.1°–0.8°. */
  def clusters(seed: Long, n: Int): Array[Cluster] = {
    val r = rng(seed, -1L, 1L)
    Array.fill(n)(Cluster(r.nextDouble(-55.0, 65.0), r.nextDouble(-170.0, 170.0),
      0.1 + 0.7 * r.nextDouble()))
  }

  /** Clustered point: cluster popularity falls off as u², so a few places
    * hold most rows (and, since queries are centred on rows, most queries). */
  def clusteredPoint(seed: Long, cs: Array[Cluster], id: Long): (Double, Double) = {
    val r = rng(seed, id, 2L)
    val u = r.nextDouble()
    val c = cs(math.min(cs.length - 1, (u * u * cs.length).toInt))
    (clampLat(c.lat + c.sigma * gauss(r)), clampLon(c.lon + c.sigma * gauss(r)))
  }

  /** Incompressible payload bytes of row `id`. */
  def payload(seed: Long, id: Long, bytes: Int): Array[Byte] = {
    val r = rng(seed, id, 3L)
    val out = new Array[Byte](bytes)
    var i = 0
    while (i < bytes) {
      var v = r.nextLong()
      var j = 0
      while (j < 8 && i < bytes) { out(i) = v.toByte; v >>>= 8; i += 1; j += 1 }
    }
    out
  }

  def crc(bytes: Array[Byte]): Long = {
    val c = new java.util.zip.CRC32()
    c.update(bytes)
    c.getValue
  }

  /** Rows [lo, hi) of the clustered table: (id, lat, lon, payload). */
  def clusteredRows(spark: SparkSession, seed: Long, cs: Array[Cluster],
                    lo: Long, hi: Long, payloadBytes: Int): DataFrame = {
    val rdd = spark.sparkContext
      .range(lo, hi, 1, spark.sparkContext.defaultParallelism)
      .map { id =>
        val (la, lo) = clusteredPoint(seed, cs, id)
        Row(id, la, lo, payload(seed, id, payloadBytes))
      }
    spark.createDataFrame(rdd, RowSchema)
  }

  def clusteredPoints(seed: Long, cs: Array[Cluster], n: Int): Points = {
    val lat = new Array[Double](n)
    val lon = new Array[Double](n)
    var i = 0
    while (i < n) {
      val (la, lo) = clusteredPoint(seed, cs, i.toLong)
      lat(i) = la; lon(i) = lo; i += 1
    }
    new Points(lat, lon)
  }

  /** A box of half-extent `half`° centred on (lat, lon). */
  def boxAround(lat: Double, lon: Double, half: Double): MBR =
    MBR(lat - half, lon - half, lat + half, lon + half)
}
