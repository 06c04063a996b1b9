package graft

import graft.geo.GeoCols
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Test oracles for the kNN planner ([[graft.ops.Knn]]). */
object KnnOracle {

  /** Window kNN join: the query set broadcast against every point, ranked
    * per query by (d2, id) — (q_id, rank, id), the output of
    * `SpatialOps.knnJoinAgg`. It shuffles |Q|·N candidate rows, so it is a
    * reference, not an operator. */
  def knnJoin(points: DataFrame, queries: Seq[(Int, Double, Double)],
              k: Int): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    val q = queries.toDF("q_id", "qlat", "qlon")
    val w = Window.partitionBy(col("q_id"))
      .orderBy(GeoCols.d2Cols(col("lat"), col("lon"), col("qlat"), col("qlon")), col("id"))
    points.crossJoin(broadcast(q))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("id"))
  }

  /** In-memory brute force: each query's k nearest (id, d2) by (d2, id). */
  def topK(rows: Seq[(Long, Double, Double)], qLat: Double, qLon: Double,
           k: Int): Seq[(Long, Double)] =
    rows.map { case (id, la, lo) =>
      (id, (la - qLat) * (la - qLat) + (lo - qLon) * (lo - qLon))
    }.sortWith((a, b) => a._2 < b._2 || (a._2 == b._2 && a._1 < b._1)).take(k)
}
