package perfbench

import graft.geo.MBR

/** Brute-force answers over the driver-side copy of the generated input.
  * `live(i)` says whether row i is in the table (deletes clear it). */
object Oracle {

  def inBox(p: Gen.Points, live: Int => Boolean, b: MBR): Array[Long] = {
    val out = Array.newBuilder[Long]
    var i = 0
    while (i < p.size) {
      if (live(i) && b.contains(p.lat(i), p.lon(i))) out += i.toLong
      i += 1
    }
    out.result()
  }

  /** Exact kNN in (d², id) order: one pass keeping the k best in sorted
    * primitive arrays. */
  def knn(p: Gen.Points, live: Int => Boolean, qLat: Double, qLon: Double,
          k: Int): Array[Long] = {
    val d2s = Array.fill(k)(Double.PositiveInfinity)
    val ids = Array.fill(k)(Long.MaxValue)
    var n = 0
    var i = 0
    while (i < p.size) {
      if (live(i)) {
        val dla = p.lat(i) - qLat
        val dlo = p.lon(i) - qLon
        val d2 = dla * dla + dlo * dlo
        // ids arrive in increasing order, so an equal d2 never displaces
        if (d2 < d2s(k - 1)) {
          var j = k - 1
          while (j > 0 && d2s(j - 1) > d2) { d2s(j) = d2s(j - 1); ids(j) = ids(j - 1); j -= 1 }
          d2s(j) = d2; ids(j) = i.toLong
          n += 1
        }
      }
      i += 1
    }
    ids.take(math.min(n, k))
  }
}
