package perfbench

import graft.table.SnapshotStore

/** `ingest`: reads beside writes on a table that starts empty. An episode
  * runs `Cycles` cycles on a fresh table. A cycle appends a batch, deletes
  * a small box of live rows, reads what it wrote (a box read, a key lookup
  * of its ids, half of them absent, and a kNN near one of its rows) and
  * compacts. Every read thus meets exactly one pending tombstone, over the
  * last compaction's files plus the new batch, and the kNN audit may fall
  * back to a full scan. A run times a number of whole episodes fixed by
  * `--seconds`, so it does the same work whatever the speed. */
object Ingest {
  val Batch = 25000
  val Cycles = 3
  val PayloadBytes = 512
  val Clusters = 256
  /** Ids at or above this are never written: the absent half of a lookup. */
  val Absent = 1L << 40
  /** Nominal length of one episode on a 4-core host: a run of `--seconds`
    * times `Client.units(seconds, EpisodeS, 1)` episodes. */
  val EpisodeS = 7.0

  /** One table that starts empty, and the model of its live rows. */
  private final class Episode(c: Client, seed: Long, val root: String) {
    val cs = Gen.clusters(seed, Clusters)
    val pts = Gen.clusteredPoints(seed, cs, Batch * Cycles)
    val live = new java.util.BitSet(pts.size)
    val ops = new StoredOps(c, new SnapshotStore(c.spark, root, bloomKey = Some("id")), root)
    val model = new StoredModel(c, seed, PayloadBytes, pts, live.get)

    def cycle(cy: Int): Unit = {
      val lo = cy * Batch
      val r = Gen.rng(seed, cy, 200L)
      c.timed("append")(ops.append(Gen.clusteredRows(c.spark, seed, cs, lo, lo + Batch,
        PayloadBytes), s"batch-$cy"))
      live.set(lo, lo + Batch)
      c.add("rows", Batch)
      val d = Option(live.nextSetBit(r.nextInt(pts.size))).filter(_ >= 0)
        .getOrElse(live.nextSetBit(0))
      val dbox = Gen.boxAround(pts.lat(d), pts.lon(d), 0.1 + 0.2 * r.nextDouble())
      c.timed("delete")(ops.delete(dbox, s"delete-$cy"))
      Oracle.inBox(pts, live.get, dbox).foreach(id => live.clear(id.toInt))
      val i = lo + r.nextInt(Batch)
      val box = Gen.boxAround(pts.lat(i), pts.lon(i), 0.05 + 0.2 * r.nextDouble())
      model.box(box, c.timed("box_read")(ops.boxRead(box)))
      val ids = Seq.fill(5)(lo + r.nextInt(Batch).toLong) ++ Seq.fill(5)(Absent + r.nextInt(Batch))
      model.lookup(ids, c.timed("lookup")(ops.lookup(ids)))
      val j = lo + r.nextInt(Batch)
      model.knn(pts.lat(j), pts.lon(j), 25, c.timed("knn")(ops.knn(pts.lat(j), pts.lon(j), 25)))
      c.timed("compact")(ops.compact())
      ops.sampleManifest()
    }
  }

  def run(c: Client, seed: Long, work: String): Unit = {
    def episode(name: String): Unit = {
      val e = new Episode(c, seed, s"$work/$name")
      (0 until Cycles).foreach(e.cycle)
      c.add("stored_bytes", e.ops.storedBytes())
      c.add("user_bytes", e.live.cardinality().toDouble * (24 + PayloadBytes))
      Work.deleteTree(e.root)
    }
    // set-up: the input is generated inside each append, so a set-up is
    // one cycle of every operation on a throwaway table; the first is
    // cold, the median warm. Latencies keep falling for about two more
    // episodes (JIT), so one untimed episode follows before timing starts.
    for (rep <- 1 to Client.Setups) {
      val e = new Episode(c, seed, s"$work/ingest-setup-$rep")
      c.setup(c.warm(e.cycle(0)))
      Work.deleteTree(e.root)
    }
    c.warm(episode("ingest-warm"))
    c.totals.clear()
    val episodes = Client.units(c.seconds, EpisodeS, 1)
    c.phase(s"warm; timing $episodes episodes")
    (1 to episodes).foreach(e => episode(s"ingest-$e"))
    c.phase(f"timed ${c.samples.size} operations, ${c.measured}%.1f s")
    c.add("episodes", episodes)
  }
}
