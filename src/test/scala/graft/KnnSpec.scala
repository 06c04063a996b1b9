package graft

import graft.data.Fixtures
import graft.geo.CellId
import graft.index.GlobalIndex
import graft.ops.{Knn, SpatialOps}
import graft.table.SnapshotStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The kNN planner ([[graft.ops.Knn]]): every entry point against the
  * in-memory brute force on the inputs its audit is most likely to get
  * wrong, and the per-round fallback record. */
class KnnSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  def tmp(): String = java.nio.file.Files.createTempDirectory("graft_knn").toString

  /** 1,600 points in a southern band, far from the northern queries. */
  val background: Seq[(Long, Double, Double)] = (0 until 1600).map { i =>
    ((i + 1).toLong, -85.0 + (i % 40) * 1.5, -175.0 + (i / 40) * 8.75)
  }

  /** Replace the first background rows with `special`: the row count (and
    * so the adaptive resolution) stays that of the background alone. */
  def withSpecial(special: Seq[(Long, Double, Double)]): Seq[(Long, Double, Double)] =
    special ++ background.drop(special.size)

  /** The adaptive resolution knnRing resolves for a background-sized frame. */
  lazy val ringRes: Int =
    SpatialOps.resolveRes(background.toDF("id", "lat", "lon"), Seq.empty, SpatialOps.AutoRes)
  lazy val ringStep: Double = math.min(CellId.latStep(ringRes), CellId.lonStep(ringRes))

  val k = 3

  /** Every wrapper's answer as (q_id, rank, id), for each query. */
  def everyWrapper(rows: Seq[(Long, Double, Double)],
                   queries: Seq[(Int, Double, Double)]): Map[String, Seq[(Int, Long, Long)]] = {
    val pts = rows.toDF("id", "lat", "lon").repartition(4).cache()
    val (clustered, gi) = GlobalIndex.build(pts, r = 6, numPartitions = 4)
    val st = new SnapshotStore(spark, tmp())
    st.append(pts, "unit-all", numPartitions = 4)
    def joined(df: DataFrame) = df.select("q_id", "rank", "id").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    def single(f: (Double, Double) => DataFrame) = queries.flatMap { case (qid, la, lo) =>
      f(la, lo).select("rank", "id").collect().map(r => (qid, r.getLong(0), r.getLong(1)))
    }.sorted
    try Map(
      "knnRing" -> single(SpatialOps.knnRing(pts, _, _, k)),
      "knnIndexed" -> single(GlobalIndex.knnIndexed(clustered, gi, _, _, k)),
      "knnStored" -> single(GlobalIndex.knnStored(st, _, _, k)),
      "knnJoinAgg" -> joined(SpatialOps.knnJoinAgg(pts, queries, k)),
      "knnJoinPruned" -> joined(SpatialOps.knnJoinPruned(pts, queries, k)),
      "knnJoinPruned(r, rings = 1)" ->
        joined(SpatialOps.knnJoinPruned(pts, queries, k, rOverride = ringRes, rings = 1)),
      "knnJoinStored" -> joined(GlobalIndex.knnJoinStored(st, queries, k)))
    finally { clustered.unpersist(false); pts.unpersist(false) }
  }

  def bruteForce(rows: Seq[(Long, Double, Double)],
                 queries: Seq[(Int, Double, Double)]): Seq[(Int, Long, Long)] =
    queries.flatMap { case (qid, la, lo) =>
      KnnOracle.topK(rows, la, lo, k).zipWithIndex.map { case ((id, _), i) =>
        (qid, (i + 1).toLong, id)
      }
    }.sorted

  test("every kNN wrapper == brute force: duplicate coordinates straddling rank k") {
    // five ids share the coordinate at ranks 2..6 of query 0 and ranks
    // 1..5 of query 1: rank k falls inside the tie, so only the id order
    // decides which of them are answered
    val rows = withSpecial(Seq((5001L, 30.1, 20.0)) ++
      Seq(5006L, 5003L, 5005L, 5002L, 5004L).map(id => (id, 30.0, 20.2)))
    val queries = Seq((0, 30.0, 20.0), (1, 30.0, 20.2), (2, -50.0, 0.0))
    val exp = bruteForce(rows, queries)
    assert(exp.filter(_._1 <= 1).map(_._3) == Seq(5001L, 5002L, 5003L, 5002L, 5003L, 5004L))
    for ((name, got) <- everyWrapper(rows, queries)) assert(got == exp, name)
  }

  test("every kNN wrapper == brute force: the kth point exactly on a bound box's edge") {
    // knnRing's first radius and knnJoinPruned(r, rings = 1)'s radius are
    // both one cell step g: the third nearest point sits at exactly d² = g²
    val g = ringStep
    val rows = withSpecial(Seq((7001L, 30.5, 20.0), (7002L, 30.0, 21.0),
      (7003L, 30.0, 20.0 + g), (7004L, 30.0 - g - 1.0, 20.0)))
    val queries = Seq((0, 30.0, 20.0), (1, -50.0, 0.0))
    val exp = bruteForce(rows, queries)
    assert(exp.filter(_._1 == 0).map(_._3) == Seq(7001L, 7002L, 7003L))
    for ((name, got) <- everyWrapper(rows, queries)) assert(got == exp, name)
    // the non-strict audit (dₖ ≤ g²) accepts the edge answer in round one
    val pts = rows.toDF("id", "lat", "lon")
    for (bound <- Seq(Knn.doubling(ringRes), Knn.rings(ringRes, 1))) {
      val res = Knn.run(Knn.inMemory(pts), queries.take(1), k, bound)
      assert(res.hits.head.last.d2 == g * g)
      assert(res.rounds.map(_.failed) == Seq(Seq.empty))
    }
  }

  test("fallback record: only the zero-ring outlier falls back; an untombstoned store falls back on none") {
    // knnJoinPruned's zero-ring fixture (SpatialOpsSpec): the outlier query
    // 1 has no point within one cell step. Query 0 sits on the corner cloud
    // (its two nearest at d² = 0.0125 < one step² at r = 10).
    val corner = (1 to 50).map(i => (i.toLong, 0.1 * i, 0.05 * i)).toDF("id", "lat", "lon")
    val queries = Seq((0, 1.0, 0.5), (1, 80.0, 170.0))
    val res = Knn.run(Knn.inMemory(corner), queries, 3, Knn.rings(10, 1))
    assert(res.rounds.map(_.failed) == Seq(Seq(1), Seq.empty))
    assert(res.joined.collect().count(_.getInt(0) == 1) == 3)

    // a 2°×4° grid over the globe, written as 32 files
    val globe = (0 until 8100).map(i => (i.toLong, -89.0 + (i % 90) * 2.0, -178.0 + (i / 90) * 4.0))
    val st = new SnapshotStore(spark, tmp())
    st.append(globe.toDF("id", "lat", "lon").repartition(4), "unit-all", numPartitions = 32)
    val stored = GlobalIndex.knnStoredPlan(st, Fixtures.knnQueries, Fixtures.knnJoinK)
    assert(stored.rounds.map(_.failed) == Seq(Seq.empty))
    assert(stored.kept < stored.total, s"opened all ${stored.total} files")
  }
}
