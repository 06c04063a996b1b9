package perfbench

import graft.geo.{CellId, MBR}
import graft.index.GlobalIndex
import graft.ops.SpatialOps
import graft.table.SnapshotStore
import org.apache.spark.sql.functions._

/** Calls into the stored-table layers shared by `serve` and `ingest`: each
  * one returns the engine's answer and leaves spans and counters for the
  * traced run. */
final class StoredOps(c: Client, store: SnapshotStore, root: String) {
  private val t = c.tracer

  /** Box read: plan, then one action that ships (id, lat, lon, crc32 of
    * the payload) of the superset the store returns; the exact in-box
    * refine runs on the client. Returns the in-box rows. */
  def boxRead(box: MBR): Array[(Long, Double, Double, Long)] = {
    if (t.on) {
      // the covering the store computes inside read(): zRes 12, z curve
      val ranges = t.span("geo.cover")(CellId.zRangesForMbr(box, 12, maxRanges = 1024))
      t.count("ranges", ranges.size)
    }
    val (df, kept, total) = t.span("table.read.plan")(store.read(Some(box)))
    t.count("files", kept)
    t.count("total_files", total)
    val rows = t.span("table.read.exec")(
      df.select(col("id"), col("lat"), col("lon"), crc32(col("payload")))
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getLong(3))))
    val exact = rows.filter(r => box.contains(r._2, r._3))
    t.count("superset_rows", rows.length)
    t.count("exact_rows", exact.length)
    exact
  }

  def lookup(ids: Seq[Long]): Array[(Long, Double, Double, Long)] = {
    val (df, kept, total) = t.span("table.lookup.plan")(store.lookupByKey(ids))
    t.count("files", kept)
    t.count("total_files", total)
    t.span("table.lookup.exec")(
      df.select(col("id"), col("lat"), col("lon"), crc32(col("payload")))
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getLong(3))))
  }

  /** Stored kNN. The traced run also calls the two steps knnStored plans
    * with, so their share shows as layer time. */
  def knn(lat: Double, lon: Double, k: Int): Array[Long] = {
    if (t.on) {
      val gi = t.span("index.from_store")(GlobalIndex.fromStore(store))
      t.span("index.seed_radius")(gi.knnSeedRadius(lat, lon, k))
    }
    t.span("index.knn_stored")(
      GlobalIndex.knnStored(store, lat, lon, k).orderBy("rank").select("id")
        .collect().map(_.getLong(0)))
  }

  def knnJoin(queries: Seq[(Int, Double, Double)], k: Int): Map[Int, Seq[Long]] = {
    val rows = t.span("index.knn_join_stored") {
      val out = GlobalIndex.knnJoinStored(store, queries, k)
      try out.select("q_id", "rank", "id").collect() finally out.unpersist()
    }
    rows.groupBy(_.getInt(0)).map { case (q, rs) =>
      q -> rs.sortBy(_.getLong(1)).map(_.getLong(2)).toSeq }
  }

  /** Stored box join: one multi-box read, then the in-memory join. */
  def boxJoin(boxes: Seq[(Int, MBR)]): Set[(Int, Long)] = {
    val (df, kept, total) = t.span("table.read.plan")(store.readBoxes(boxes.map(_._2)))
    t.count("files", kept)
    t.count("total_files", total)
    val out = t.span("ops.box_join")(
      SpatialOps.boxJoin(df, boxes).collect().map(r => (r.getInt(0), r.getLong(1))))
    t.count("out_rows", out.length)
    out.toSet
  }

  def append(df: org.apache.spark.sql.DataFrame, lineage: String): Unit = {
    val before = if (t.on) store.manifest().map(_.path).toSet else Set.empty[String]
    t.span("table.append")(store.append(df, lineage))
    if (t.on) {
      val fresh = store.manifest().filter(e => e.kind == "data" && e.path.nonEmpty &&
        !before(e.path))
      t.count("files_written", fresh.size)
      t.count("bytes_written", fresh.map(e => fileBytes(e.path)).sum)
    }
  }

  def delete(box: MBR, lineage: String): Unit =
    t.span("table.delete")(store.deleteWhere(
      graft.geo.GeoCols.inBox(col("lat"), col("lon"), box), lineage))

  def compact(): Unit = {
    t.span("table.compact")(store.compact())
    if (t.on) t.count("bytes_rewritten", liveFiles().map(fileBytes).sum)
  }

  /** Manifest counters, sampled outside any timed region. */
  def sampleManifest(): Unit = {
    val m = t.span("table.manifest")(store.manifest())
    t.count("entries", m.size)
    t.count("tombstones", m.count(_.kind == "delete"))
    t.count("bytes", fileBytes(s"$root/meta/snap-${store.currentSnapshotId}"))
  }

  def liveFiles(): Seq[String] = store.manifest().filter(_.path.nonEmpty).map(_.path)

  /** Bytes of the files the current snapshot references. */
  def storedBytes(): Double = liveFiles().map(fileBytes).sum

  private def fileBytes(p: String): Double =
    java.nio.file.Files.size(java.nio.file.Paths.get(SnapshotStore.normalizePath(p))).toDouble
}

/** Checks stored-table answers against the brute-force model. */
final class StoredModel(c: Client, seed: Long, payloadBytes: Int,
                        pts: Gen.Points, live: Int => Boolean) {

  private def rowsOk(got: Array[(Long, Double, Double, Long)], want: Array[Long]): Boolean = {
    val g = got.sortBy(_._1)
    val ids = c.plant(g.map(_._1))
    ids.sameElements(want) && g.forall { case (id, la, lo, crc) =>
      la == pts.lat(id.toInt) && lo == pts.lon(id.toInt) &&
        crc == Gen.crc(Gen.payload(seed, id, payloadBytes))
    }
  }

  def box(b: MBR, got: Array[(Long, Double, Double, Long)]): Unit =
    c.check(s"box read $b", rowsOk(got, Oracle.inBox(pts, live, b)))

  def lookup(ids: Seq[Long], got: Array[(Long, Double, Double, Long)]): Unit =
    c.check(s"lookup ${ids.mkString(",")}", rowsOk(got,
      ids.filter(i => i >= 0 && i < pts.size && live(i.toInt)).sorted.toArray))

  def knn(lat: Double, lon: Double, k: Int, got: Array[Long]): Unit =
    c.check(s"knn ($lat, $lon) k=$k",
      got.sameElements(Oracle.knn(pts, live, lat, lon, k)))

  def knnJoin(qs: Seq[(Int, Double, Double)], k: Int, got: Map[Int, Seq[Long]]): Unit =
    c.check(s"knn join of ${qs.size} queries", qs.forall { case (q, la, lo) =>
      got.getOrElse(q, Seq.empty) == Oracle.knn(pts, live, la, lo, k).toSeq })

  def boxJoin(boxes: Seq[(Int, MBR)], got: Set[(Int, Long)]): Unit =
    c.check(s"box join of ${boxes.size} boxes", got == boxes.flatMap { case (b, m) =>
      Oracle.inBox(pts, live, m).map(id => (b, id)) }.toSet)
}

/** `serve`: a read-only closed loop over a clustered table loaded once. */
object Serve {
  val Rows = 200000
  val Units = 8
  val PayloadBytes = 512
  val Clusters = 256

  /** One cycle of the mix: 40% box reads (half city-scale, reported as
    * `box_read`, half region-scale, `region_read`), 20% kNN, 20% key
    * lookups, 10% stored box joins, 10% stored kNN joins. Each cycle runs
    * the ten in a seeded order. */
  val Mix: Vector[String] = Vector("city", "city", "region", "region",
    "knn", "knn", "lookup", "lookup", "box_join", "knn_join")

  /** Nominal length of one cycle on a 4-core host: a run of `--seconds`
    * times `Client.units(seconds, CycleS, 2)` cycles. */
  val CycleS = 4.0

  def run(c: Client, seed: Long, work: String): Unit = {
    val spark = c.spark
    val cs = Gen.clusters(seed, Clusters)
    var pts: Gen.Points = null
    var ops: StoredOps = null
    var model: StoredModel = null

    def center(r: java.util.SplittableRandom): (Double, Double) = {
      val i = r.nextInt(Rows)
      (pts.lat(i), pts.lon(i))
    }
    def cycle(n: Int): Unit = {
      val order = new scala.util.Random(Gen.rng(seed, n, 90L).nextLong()).shuffle(Mix)
      order.zipWithIndex.foreach { case (kind, slot) =>
        val r = Gen.rng(seed, n, 100L + slot)
        kind match {
          case "city" | "region" =>
            val (la, lo) = center(r)
            val half = if (kind == "city") 0.05 + 0.2 * r.nextDouble() else 1.0 + 2.0 * r.nextDouble()
            val b = Gen.boxAround(la, lo, half)
            model.box(b, c.timed(if (kind == "city") "box_read" else "region_read")(ops.boxRead(b)))
          case "knn" =>
            val (la, lo) = center(r)
            model.knn(la, lo, 25, c.timed("knn")(ops.knn(la, lo, 25)))
          case "lookup" =>
            val ids = Seq.fill(5)(r.nextInt(Rows).toLong) ++
              Seq.fill(5)(Rows + r.nextInt(Rows).toLong)
            model.lookup(ids, c.timed("lookup")(ops.lookup(ids)))
          case "box_join" =>
            val boxes = (0 until 8).map { i =>
              val (la, lo) = center(r)
              i -> Gen.boxAround(la, lo, 0.05 + 0.2 * r.nextDouble())
            }
            model.boxJoin(boxes, c.timed("box_join")(ops.boxJoin(boxes)))
          case "knn_join" =>
            val qs = (0 until 12).map { i => val (la, lo) = center(r); (i, la, lo) }
            model.knnJoin(qs, 5, c.timed("knn_join")(ops.knnJoin(qs, 5)))
        }
      }
    }

    // set-up: generate, load the table in `Units` appends, then warm up
    // with one untimed cycle of the query mix; the measured loop runs on
    // the last set-up's table
    for (rep <- 1 to Client.Setups) {
      val root = s"$work/serve-$rep"
      c.setup {
        pts = Gen.clusteredPoints(seed, cs, Rows)
        val store = new SnapshotStore(spark, root, bloomKey = Some("id"))
        ops = new StoredOps(c, store, root)
        model = new StoredModel(c, seed, PayloadBytes, pts, _ => true)
        for (u <- 0 until Units)
          ops.append(Gen.clusteredRows(spark, seed, cs, u.toLong * Rows / Units,
            (u + 1).toLong * Rows / Units, PayloadBytes), s"unit-$u")
        c.warm(cycle(-rep))
      }
      if (rep > 1) Work.deleteTree(s"$work/serve-${rep - 1}")
    }
    ops.sampleManifest()
    c.add("stored_bytes", ops.storedBytes())
    c.add("user_bytes", Rows.toDouble * (24 + PayloadBytes))
    val cycles = Client.units(c.seconds, CycleS, 2)
    c.phase(s"warm; timing $cycles cycles")
    (0 until cycles).foreach(cycle)
    c.phase(f"timed ${c.samples.size} operations, ${c.measured}%.1f s")
    c.add("cycles", cycles)
  }
}
