package graft.ops

import graft.geo.{CellId, GeoCols, MBR}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The one kNN planner behind every kNN entry point ([[SpatialOps]]'s
  * `knnRing`/`knnJoinAgg`/`knnJoinPruned`, [[graft.index.GlobalIndex]]'s
  * `knnIndexed`/`knnStored`/`knnJoinStored`) — the distributed form of the
  * reference's best-first descent that stops once the kth candidate beats
  * every unvisited bound (RStarTree.java:450-481). Each round takes a
  * radius g per active query from the entry point's [[Bound]] (the only
  * thing the entry points differ in), reads ONE candidate set covering
  * every query's closed box of radius g, and runs the primitive top-k
  * [[kernel]] over it — one Spark job, no exchange, window or persist; the
  * partials are merged on the driver in (d2, id) order. One audit,
  * `n ≥ k && dₖ ≤ g²`, is exact for every source: each read contains the
  * closed box, and every point outside it has d² ≥ g² ≥ dₖ. Failed
  * queries take their next radius; past the end of their schedule the
  * read is the whole input and that round is final, never audited.
  *
  * Limit: the kernel keeps |Q|·k slots per task and the driver merges
  * |Q|·k·partitions rows per round, so this plan is for small query sets
  * (every caller passes at most a dozen); a large-|Q| kNN join would need
  * a cell-keyed candidate exchange, which no workload exercises. */
private[graft] object Knn {

  /** One query: caller's id and the query point. */
  type Query = (Int, Double, Double)

  /** A query's finite radii in increasing order; after the last one its
    * read is unbounded. */
  type Bound = (Double, Double) => Seq[Double]

  /** Candidate reads: `boxes` returns a superset of the rows inside the
    * union of the closed boxes, `all` every row; each with the (files kept,
    * files total) of the read — (0, 0) for an in-memory frame. */
  final case class Read(spark: SparkSession, boxes: Seq[MBR] => (DataFrame, Int, Int),
                        all: () => (DataFrame, Int, Int))

  /** An in-memory box read keeps rows whose grid cell covers a box: one
    * set-membership test per row. (A per-box lat/lon predicate inlines a
    * derived coordinate 4·|boxes| times: 4.6-5.3 s for 12 boxes over
    * sf0.1's 600k derived points, vs 0.6 s for the unbounded round.) */
  def inMemory(points: DataFrame): Read = Read(points.sparkSession, bs => {
    val r = SpatialOps.resolveRes(points, bs, SpatialOps.AutoRes)
    (points.filter(GeoCols.cellCol(col("lat"), col("lon"), r)
      .isin(bs.flatMap(CellId.cover(_, r)).distinct: _*)), 0, 0)
  }, () => (points, 0, 0))

  def stored(store: graft.table.SnapshotStore): Read =
    Read(store.spark, store.readBoxes, () => store.read())

  /** No bound: one unbounded round (the dense kNN join). */
  val unbounded: Bound = (_, _) => Nil

  /** The expanding cell ring at grid resolution r: radii w·step for
    * w = 1, 2, 4, … while the ring stays inside the grid. */
  def doubling(r: Int): Bound = (_, _) =>
    Iterator.iterate(1L)(_ * 2).takeWhile(_ < CellId.n(r) - 1).map(_ * step(r)).toSeq

  /** `n` cell steps at grid resolution r, then unbounded. */
  def rings(r: Int, n: Int): Bound = (_, _) => Seq(n * step(r))

  private def step(r: Int): Double = math.min(CellId.latStep(r), CellId.lonStep(r))

  /** The index's per-query seed radius ([[graft.index.GlobalIndex
    * .knnSeedRadius]]), then unbounded; fewer than k summarized points
    * means unbounded from the start. */
  def seeded(gi: graft.index.GlobalIndex, k: Int): Bound = (la, lo) => {
    val g = gi.knnSeedRadius(la, lo, k)
    if (g == Double.MaxValue) Nil else Seq(g)
  }

  /** One candidate of the query at index `q`. */
  final case class Hit(q: Int, id: Long, lat: Double, lon: Double, d2: Double)

  /** One round: the ids of the queries that failed its audit, and the
    * (files kept, files total) of its read. */
  final case class Round(failed: Seq[Int], kept: Int, total: Int)

  /** Per-query answers (in query order, (d2, id)-ranked) and the rounds
    * that produced them. The last round's read produced the last answers:
    * its counts are the executed plan's. */
  final case class Result(spark: SparkSession, queries: Seq[Query],
                          hits: Seq[Seq[Hit]], rounds: Seq[Round]) {
    def kept: Int = rounds.lastOption.fold(0)(_.kept)
    def total: Int = rounds.lastOption.fold(0)(_.total)

    /** kNN-join output: (q_id, rank, id). */
    def joined: DataFrame = {
      import spark.implicits._
      queries.zip(hits).flatMap { case ((qid, _, _), hs) =>
        hs.zipWithIndex.map { case (h, i) => (qid, (i + 1).toLong, h.id) }
      }.toDF("q_id", "rank", "id")
    }

    /** Single-query output: (rank, id, lat, lon, d2). */
    def ranked: DataFrame = {
      import spark.implicits._
      hits.flatten.zipWithIndex.map { case (h, i) => ((i + 1).toLong, h.id, h.lat, h.lon, h.d2) }
        .toDF("rank", "id", "lat", "lon", "d2")
    }
  }

  /** Run the planner (see the object doc). */
  def run(read: Read, queries: Seq[Query], k: Int, bound: Bound): Result = {
    require(k >= 1, s"kNN needs k >= 1, got k = $k")
    val radii = queries.map(q => bound(q._2, q._3))
    val hits = new Array[Seq[Hit]](queries.size)
    val rounds = Seq.newBuilder[Round]
    var active: Seq[Int] = queries.indices
    var round = 0
    while (active.nonEmpty) {
      val gs = active.map(radii(_).lift(round))
      val (partials, kept, total) = roundFrame(read, active.map(queries), gs, k)
      val byQ = partials.collect().groupBy(_.q)
      val top = active.indices.map(a => byQ.getOrElse(a, Array.empty[Hit])
        .sortWith((x, y) => x.d2 < y.d2 || (x.d2 == y.d2 && x.id < y.id)).take(k).toSeq)
      val failed =
        if (gs.contains(None)) Seq.empty
        else active.indices.filter(a => top(a).size < k || top(a).last.d2 > gs(a).get * gs(a).get)
      for (a <- active.indices if !failed.contains(a)) hits(active(a)) = top(a)
      rounds += Round(failed.map(a => queries(active(a))._1), kept, total)
      active = failed.map(active)
      round += 1
    }
    Result(read.spark, queries, hits.toSeq, rounds.result())
  }

  /** One round's kernel frame over its candidate read — the whole input
    * when any radius is None (unbounded), else the union of the closed
    * boxes, each padded one ulp outward so its rounded bounds still
    * contain it — with the read's (files kept, files total). */
  private def roundFrame(read: Read, qs: Seq[Query], gs: Seq[Option[Double]],
                         k: Int): (Dataset[Hit], Int, Int) = {
    val (cand, kept, total) =
      if (gs.contains(None)) read.all()
      else read.boxes(qs.zip(gs.flatten).map { case ((_, la, lo), g) =>
        MBR(math.nextDown(la - g), math.nextDown(lo - g), math.nextUp(la + g), math.nextUp(lo + g))
      })
    (kernel(cand, qs, k), kept, total)
  }

  /** The first round's kernel frame, as [[run]] executes it — plan
    * evidence for [[graft.bench.PlanDump]] and PlanSpec. */
  def firstRound(read: Read, queries: Seq[Query], k: Int,
                 bound: Bound): (Dataset[Hit], Int, Int) =
    roundFrame(read, queries, queries.map(q => bound(q._2, q._3).headOption), k)

  /** The per-partition primitive top-k: flat per-query bounded slots
    * (primitive d2/id arrays, plus the accepted row) reduce each partition
    * to at most k (id, lat, lon, d2) candidates per query. A candidate replaces the cached worst only when strictly
    * better by (d2, id) — O(1) reject, O(k) worst-rescan only on accept. */
  private def kernel(cand: DataFrame, qs: Seq[Query], k: Int): Dataset[Hit] = {
    val spark = cand.sparkSession
    import spark.implicits._
    val qLat = qs.map(_._2).toArray
    val qLon = qs.map(_._3).toArray
    cand.select(col("id"), col("lat"), col("lon")).as[(Long, Double, Double)].mapPartitions { it =>
      val nq = qLat.length
      val d2s = Array.fill(nq * k)(Double.MaxValue)
      val ids = Array.fill(nq * k)(Long.MaxValue)
      val hits = new Array[Hit](nq * k) // allocated on accept only
      val size = new Array[Int](nq)
      val worst = new Array[Int](nq) // slot of a full query's worst candidate
      def better(d2: Double, id: Long, s: Int) = d2 < d2s(s) || (d2 == d2s(s) && id < ids(s))
      it.foreach { case (id, la, lo) =>
        var q = 0
        while (q < nq) {
          val dla = la - qLat(q)
          val dlo = lo - qLon(q)
          val d2 = dla * dla + dlo * dlo
          val full = size(q) == k
          if (!full || better(d2, id, worst(q))) {
            val s = if (full) worst(q) else q * k + size(q)
            d2s(s) = d2; ids(s) = id; hits(s) = Hit(q, id, la, lo, d2)
            if (!full) size(q) += 1
            if (size(q) == k) {
              var w = q * k
              for (i <- q * k + 1 until q * k + k) if (!better(d2s(i), ids(i), w)) w = i
              worst(q) = w
            }
          }
          q += 1
        }
      }
      hits.iterator.filter(_ != null)
    }
  }
}
