package graft

import graft.table.{Bloom, MetaJson, SnapshotStore}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The in-task unit stats (UnitTaskStats, computed inside the direct
  * write's tasks) are the store's only stats producer, so they must
  * equal what a relational recomputation over the committed files gives:
  * the per-(file, cell) aggregate, per-file Bloom bitsets sized by each
  * file's own row count, and exact min/max bounds. The spec recomputes
  * each with SQL expressions — over planted null coordinates, a NaN
  * latitude and a null Bloom key — and compares documents bit-for-bit. */
class UnitTaskStatsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  test("in-task stats equal the relational sidecar pass and exact bounds") {
    val base = java.nio.file.Files.createTempDirectory("graft_utstats_")
    val clean = (1L to 4000L).map(i => (java.lang.Long.valueOf(i),
      java.lang.Double.valueOf((i % 173).toDouble / 2 - 43),
      java.lang.Double.valueOf((i % 361).toDouble - 180)))
    val planted = Seq(
      (java.lang.Long.valueOf(9001L), null.asInstanceOf[java.lang.Double],
        java.lang.Double.valueOf(10.0)),                         // null lat
      (java.lang.Long.valueOf(9002L), java.lang.Double.valueOf(Double.NaN),
        java.lang.Double.valueOf(11.0)),                         // NaN lat
      (null.asInstanceOf[java.lang.Long], java.lang.Double.valueOf(12.0),
        java.lang.Double.valueOf(12.0)))                         // null key
    val df = (clean ++ planted).toDF("id", "lat", "lon")
    val store = new SnapshotStore(spark, s"$base/store", bloomKey = Some("id"))
    store.append(df, "unit-all", numPartitions = 4)

    val entries = store.manifest().filter(e => e.kind == "data" && e.path.nonEmpty)
    assert(entries.map(_.rows).sum == 4003L)
    val raw = spark.read.parquet(entries.map(_.path): _*)
    val res = store.statsRes

    // 1. leaves: the ORIGINAL relational expressions over the committed files
    val expLeaves = raw.select(
        input_file_name().as("f"),
        coalesce(graft.geo.GeoCols.cellCol(col("lat"), col("lon"), res), lit(0L)).as("cell"),
        col("lat"), col("lon"))
      .filter(col("lat").isNotNull && col("lon").isNotNull &&
        !isnan(col("lat")) && !isnan(col("lon")))
      .groupBy(col("f"), col("cell"))
      .agg(count(lit(1)).as("cnt"),
        min("lat"), max("lat"), min("lon"), max("lon"))
      .collect()
      .groupBy(r => SnapshotStore.normalizePath(r.getString(0)))
      .view.mapValues(_.map(r => (r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6))).sortBy(_._1).toSeq)
      .toMap
    val idxFile = java.nio.file.Files.list(
      java.nio.file.Path.of(s"$base/store/meta/index")).iterator().next()
    val (idxRes, gotLeaves) = MetaJson.parseIndex(java.nio.file.Files.readString(idxFile))
    assert(idxRes == res)
    assert(gotLeaves.toMap.view.mapValues(_.toList).toMap ==
      expLeaves.view.mapValues(_.toList).toMap)

    // 2. hist: sum of leaves across files
    val histFile = java.nio.file.Files.list(
      java.nio.file.Path.of(s"$base/store/meta/hist")).iterator().next()
    val gotHist = MetaJson.parseHist(java.nio.file.Files.readString(histFile))
    val expHist = expLeaves.values.flatten
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq.sortBy(_._1)
    assert(gotHist == expHist)

    // 3. bloom: xxhash64 of EVERY row (null key → seed), folded per file
    //    into a bitset sized by THAT file's row count
    val expHashes = raw.select(input_file_name().as("f"), xxhash64(col("id")).as("h"))
      .collect().groupBy(r => SnapshotStore.normalizePath(r.getString(0)))
      .view.mapValues(_.map(_.getLong(1)).toSeq).toMap
    val bloomFile = java.nio.file.Files.list(
      java.nio.file.Path.of(s"$base/store/meta/bloom")).iterator().next()
    val (kc, k, gotBits) = MetaJson.parseBloom(java.nio.file.Files.readString(bloomFile))
    assert(kc == "id" && k == Bloom.K)
    val rowsOf = entries.map(e => SnapshotStore.normalizePath(e.path) -> e.rows).toMap
    assert(expHashes.keySet == rowsOf.keySet && gotBits.map(_._1).toSet == rowsOf.keySet)
    for ((f, hs) <- expHashes) {
      val exp = new Array[Long](Bloom.bitsFor(rowsOf(f)) / 64)
      hs.foreach(Bloom.add(exp, _))
      assert(gotBits.toMap.apply(f).toSeq == exp.toSeq, s"bloom bits differ for $f")
    }
    // no false negative: every planted id comes back through the Bloom-
    // planned lookup, and the file holding the null-key row passes the
    // null probe (SQL `IN` never matches a null, so the row itself is
    // checked at the filter, not through the refined rows)
    val ids = (1L to 4000L) ++ Seq(9001L, 9002L)
    val (hit, _, _) = store.lookupByKey(ids)
    assert(hit.select("id").as[Long].collect().sorted.toSeq == ids)
    val nullFile = raw.filter(col("id").isNull)
      .select(input_file_name()).as[String].collect()
      .map(SnapshotStore.normalizePath).toSeq
    assert(nullFile.size == 1)
    val (filters, probes, _) = store.lookupShardFilter(Seq(null), "id")
    assert(probes.forall(Bloom.mightContain(filters(nullFile.head), _)))
    val (_, keptForNull, _) = store.lookupByKey(Seq(null))
    assert(keptForNull >= 1)

    // 4. manifest bounds: exact over non-null values; the NaN-lat file
    //    fails open on lat, everything else matches the SQL min/max
    val bounds = raw.select(input_file_name().as("f"), col("lat"), col("lon"), col("__z"))
      .groupBy("f")
      .agg(min("__z"), max("__z"),
        min(when(!isnan(col("lat")), col("lat"))), max(when(!isnan(col("lat")), col("lat"))),
        min(when(!isnan(col("lon")), col("lon"))), max(when(!isnan(col("lon")), col("lon"))),
        max(isnan(col("lat"))).as("anyNaNLat"))
      .collect().map(r => SnapshotStore.normalizePath(r.getString(0)) -> r).toMap
    for (e <- entries) {
      val r = bounds(SnapshotStore.normalizePath(e.path))
      assert(e.minZ == r.getLong(1) && e.maxZ == r.getLong(2))
      if (r.getBoolean(7)) {
        assert(e.minLat == -Double.MaxValue && e.maxLat == Double.MaxValue)
      } else {
        assert(e.minLat == r.getDouble(3) && e.maxLat == r.getDouble(4))
      }
      assert(e.minLon == r.getDouble(5) && e.maxLon == r.getDouble(6))
    }
    graft.ops.OpUtil.deleteTree(base)
  }
}
