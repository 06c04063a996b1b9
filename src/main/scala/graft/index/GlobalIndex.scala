package graft.index

import graft.geo.{CellId, GeoCols, MBR}
import graft.ops.Knn
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The two-level distributed index (SURVEY.md §1.5): the *global* level is
  * this driver-side/broadcast structure — per-partition packed MBR
  * hierarchies ([[PartitionIndex]]) over a Z-order-clustered Dataset; the
  * *local* level is the clustering itself (parquet row-group min/max on a
  * stored table). Together they replace the reference's single-machine
  * IndexFile page tree.
  */
final case class GlobalIndex(resolution: Int, parts: Array[PartitionIndex]) {

  def totalRows: Long = parts.map(_.count).sum

  /** Partitions whose root MBR overlaps the box — the distributed subtree
    * prune (RStarTree.java:426). */
  def prunePartitions(box: MBR): Array[Int] =
    parts.filter(p => p.count > 0 && p.root.mbr.overlaps(box)).map(_.partitionId)

  /** Branch-and-bound kNN seed: walk leaf slabs in ascending max-distance
    * order, accumulate counts until >= k. Every point in a visited slab is
    * within that slab's maxDist, so the returned radius provably contains
    * >= k points — one driver-side pass over the broadcastable summary,
    * no Spark job (the distributed analog of the reference's PQ descent,
    * RStarTree.java:450-481). */
  // live leaf slabs, extracted ONCE: kNN JOINs call knnSeedRadius once
  // per query, and rebuilding this array per call is O(|Q| * slabs) driver
  // work at the 10^6-file design point (only the per-query distance keying
  // and sort genuinely depend on the query point)
  private lazy val liveSlabs: Array[(MBR, Long)] =
    parts.iterator.flatMap(_.leaves).filter(_.count > 0)
      .map(l => (l.mbr, l.count)).toArray

  def knnSeedRadius(qLat: Double, qLon: Double, k: Int): Double = {
    val slabs = liveSlabs.map { case (m, c) => (m.maxDistSq(qLat, qLon), c) }
      .sortBy(_._1)
    var acc = 0L
    var i = 0
    while (i < slabs.length) {
      acc += slabs(i)._2
      // nextUp: sqrt rounds to NEAREST, so an unpadded radius can sit half
      // an ulp BELOW the true bound — a point exactly at the slab's
      // maxDistSq then falls outside the ball box (missed candidate) and
      // rad*rad undershoots its d2 (measured: dk 39.21061000000006 vs rad²
      // 39.21060992…, a spurious audit fallback that read every file). One
      // ulp up guarantees rad ≥ √bound; the bound only widens, never wrong.
      if (acc >= k) return math.nextUp(math.sqrt(slabs(i)._1))
      i += 1
    }
    Double.MaxValue // fewer than k points exist: caller scans everything
  }
}

object GlobalIndex {

  /** Cluster the point DataFrame by Z-order cell (ONE shuffle — the same
    * single exchange the reference's bulkLoad sort is, RStarTree.java:177,
    * but 2-D-locality-preserving instead of lat-strips) and build the
    * per-partition index summaries in a single mapPartitions pass.
    * Returns (clustered-and-cached df, index). At 10^12 rows the clustered
    * df is the stored table ([[graft.table.SnapshotStore]] persists it and
    * the summaries ride in the snapshot manifest). */
  def build(points: DataFrame, r: Int = 10, numPartitions: Int = 0,
            fanout: Int = LocalRTree.DefaultFanout,
            curve: String = "z"): (DataFrame, GlobalIndex) = {
    val spark = points.sparkSession
    import spark.implicits._
    val parts = if (numPartitions > 0) numPartitions
      else spark.sparkContext.defaultParallelism
    // packing key — all three modes the north star names ("STR/Hilbert-
    // curve bulk-load packing"): Morton (default), Hilbert (consecutive
    // curve positions always grid-adjacent → tightest root MBRs), and STR
    // (lat strips at ~sqrt granularity, lon-ordered within — the classic
    // packed-R-tree layout; 2^(r/2) strips plays the role of its
    // √(n/fanout) strip count). The index works identically under any of
    // them — summaries are built from the clustered rows, not the key.
    val keyed = curve match {
      case "hilbert" => GeoCols.withHilbert(points, col("lat"), col("lon"), r, "__z")
      case "str" => points.withColumn("__z",
        GeoCols.strCol(col("lat"), col("lon"), math.max(1, r / 2), CellId.MaxRes))
      case "z" => points.withColumn("__z", GeoCols.zCol(col("lat"), col("lon"), r))
      case other => throw new IllegalArgumentException(
        s"unknown packing curve '$other' (want z | hilbert | str)")
    }
    val clustered = keyed
      .repartitionByRange(parts, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .cache()
    val summaries = clustered.select(col("lat"), col("lon"))
      .as[(Double, Double)]
      .mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        Iterator.single(LocalRTree.pack(pid, it, fanout))
      }(org.apache.spark.sql.Encoders.kryo[PartitionIndex])
      .collect()
      .sortBy(_.partitionId)
    (clustered, GlobalIndex(r, summaries))
  }

  /** Rebuild the global index from a stored table's PERSISTED per-file
    * summaries — zero Spark jobs, no re-clustering: the leaf slabs were
    * computed by the write tasks themselves and ride next to the manifest
    * (SURVEY §1.5's "summaries ride in the snapshot manifest", the
    * distributed analog of the reference persisting its tree pages in
    * IndexFile.java:37-95 instead of rebuilding per process). Each live
    * data FILE becomes one PartitionIndex whose leaves are its per-cell
    * slabs at the store's stats resolution; a file written before the
    * sidecar existed falls back to its manifest MBR as a single leaf —
    * a coarser bound, never a wrong one.
    *
    * Caveat for count-based bounds ([[GlobalIndex.knnSeedRadius]]):
    * pending equality-delete tombstones make slab counts an OVERcount of
    * live rows, so [[knnStored]] re-audits its radius against the live
    * data before trusting it. */
  def fromStore(store: graft.table.SnapshotStore,
                fanout: Int = LocalRTree.DefaultFanout): GlobalIndex = {
    val live = store.manifest().filter(e => e.path.nonEmpty && e.kind == "data")
    val leavesByFile = store.indexLeaves()
    val parts = live.sortBy(_.path).zipWithIndex.map { case (e, i) =>
      val leaves = leavesByFile.get(
          graft.table.SnapshotStore.normalizePath(e.path)) match {
        case Some(ls) if ls.nonEmpty =>
          ls.sortBy(_._1).map { case (_, n, la0, la1, lo0, lo1) =>
            IndexNode(0, la0, lo0, la1, lo1, n)
          }.toArray
        case _ =>
          Array(IndexNode(0, e.minLat, e.minLon, e.maxLat, e.maxLon, e.rows))
      }
      LocalRTree.fromLeaves(i, leaves, fanout)
    }.toArray
    GlobalIndex(store.statsRes, parts)
  }

  /** Exact kNN over a STORED table, planned from the persisted index
    * summaries: the [[Knn]] planner with [[GlobalIndex
    * .knnSeedRadius]] over [[fromStore]]'s zero-scan index as the bound and
    * `store.readBoxes` as the candidate read (files wholly outside the
    * radius never open — the file-level subtree prune, RStarTree.java:426).
    * The index build cost is amortized to WRITE time; the query pays only
    * the pruned scan. Sidecar counts overcount live rows under pending
    * tombstones, so the planner's audit re-verifies the bound and a failed
    * query is answered by the unbounded read — never a wrong answer. */
  def knnStored(store: graft.table.SnapshotStore,
                qLat: Double, qLon: Double, k: Int): DataFrame =
    knnStoredPruned(store, qLat, qLon, k)._1

  /** [[knnStored]] + the (files read, total files) of the read that
    * produced the result (a fallback reports the unbounded read's). */
  private[graft] def knnStoredPruned(store: graft.table.SnapshotStore,
                                     qLat: Double, qLon: Double,
                                     k: Int): (DataFrame, Int, Int) = {
    val res = knnStoredPlan(store, Seq((0, qLat, qLon)), k)
    (res.ranked, res.kept, res.total)
  }

  /** Exact kNN JOIN over a STORED table: [[knnStored]]'s plan for a query
    * SET — one seed radius per query, ONE multi-box pruned read per round.
    * Same output as [[graft.ops.SpatialOps.knnJoinAgg]] (q_id, rank, id). */
  def knnJoinStored(store: graft.table.SnapshotStore,
                    queries: Seq[(Int, Double, Double)], k: Int): DataFrame =
    knnJoinStoredPruned(store, queries, k)._1

  /** [[knnJoinStored]] + the (files read, total files) of the read that
    * produced the last answers. */
  private[graft] def knnJoinStoredPruned(store: graft.table.SnapshotStore,
                                         queries: Seq[(Int, Double, Double)],
                                         k: Int): (DataFrame, Int, Int) = {
    val res = knnStoredPlan(store, queries, k)
    (res.joined, res.kept, res.total)
  }

  /** The planner run behind [[knnStored]] and [[knnJoinStored]]. */
  private[graft] def knnStoredPlan(store: graft.table.SnapshotStore,
                                   queries: Seq[(Int, Double, Double)],
                                   k: Int): Knn.Result =
    Knn.run(Knn.stored(store), queries, k, Knn.seeded(fromStore(store), k))

  /** Index-seeded exact kNN over [[build]]'s clustered frame: the
    * [[Knn]] planner with [[GlobalIndex.knnSeedRadius]] as the
    * bound — one driver-side radius from the summary, one Spark job over
    * the query's box (vs the doubling rounds of SpatialOps.knnRing). */
  def knnIndexed(clustered: DataFrame, gi: GlobalIndex,
                 qLat: Double, qLon: Double, k: Int): DataFrame =
    Knn.run(Knn.inMemory(clustered), Seq((0, qLat, qLon)), k, Knn.seeded(gi, k)).ranked
}
