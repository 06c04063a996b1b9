package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

object Work {
  def deleteTree(dir: String): Unit = {
    val p = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.delete(f))
  }
}

/** The benchmark's JVM side: runs one workload and writes the raw record
  * (set-up times, per-operation latencies, answer checks, spans and job
  * counters) as JSON; `perfbench/run.py` turns it into metrics.
  *
  * {{{
  * Main --workload serve|ingest --seed N --seconds S --trace 0|1
  *      --cores C --work DIR --out FILE [--plant-fault]
  * Main --checksum 1 --seed N --cores C --work DIR --out FILE
  * }}}
  */
object Main {

  def main(argv: Array[String]): Unit = {
    val flags = argv.sliding(2).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    def arg(k: String): String = flags.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    val seed = arg("--seed").toLong
    val cores = arg("--cores").toInt
    val work = arg("--work")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val json =
      try flags.get("--checksum") match {
        case Some(_) => checksum(spark, seed)
        case None => runWorkload(spark, arg("--workload"), seed, arg("--seconds").toDouble,
          arg("--trace") == "1", argv.contains("--plant-fault"), work)
      } finally spark.stop()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(arg("--out")), json)
  }

  def runWorkload(spark: SparkSession, workload: String, seed: Long, seconds: Double,
                  trace: Boolean, fault: Boolean, work: String): String = {
    val tracer = new Tracer(spark, trace)
    val c = new Client(spark, tracer, seconds, fault)
    workload match {
      case "serve" => Serve.run(c, seed, work)
      case "ingest" => Ingest.run(c, seed, work)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    tracer.drain()
    val j = new Json
    j.obj {
      j.field("workload", workload); j.field("seed", seed); j.field("trace", trace)
      j.field("attempted", c.attempted); j.field("failed", c.failed)
      j.field("setup_s", c.setupS)
      j.key("samples"); j.arr(c.samples) { case (k, v) => j.arr(Seq[Any](k, v))(j.value) }
      j.key("totals"); j.obj(c.totals.foreach { case (k, v) => j.field(k, v) })
      j.key("spans"); j.arr(tracer.spans) { s => j.obj {
        j.field("id", s.id); j.field("parent", s.parent); j.field("name", s.name)
        j.field("t0", s.t0); j.field("t1", s.t1)
        j.key("attrs"); j.obj(s.attrs.foreach { case (k, v) => j.field(k, v) })
      }}
      j.key("jobs"); j.arr(tracer.listener.toSeq.flatMap(_.jobs.values)) { r =>
        j.arr(Seq[Any](r.group, r.t0, r.t1, r.tasks, r.busyMs, r.gcMs, r.inputBytes,
          r.shuffleWrite, r.shuffleRead, r.spill))(j.value)
      }
    }
    j.toString
  }

  /** Fingerprint of the first 20k generated rows, for the generator's
    * determinism test. Taken twice, the second time over a repartitioned
    * frame, so it must not depend on the partitioning either. */
  def checksum(spark: SparkSession, seed: Long): String = {
    val df = Gen.clusteredRows(spark, seed, Gen.clusters(seed, Serve.Clusters), 0L, 20000L,
      Serve.PayloadBytes).withColumn("crc", crc32(col("payload")))
    def fp(d: org.apache.spark.sql.DataFrame): String = {
      val h = xxhash64(col("id"), col("lat"), col("lon"), col("crc"))
      val r = d.agg(count(lit(1)), sum(shiftrightunsigned(h, 33)), bit_xor(h)).head()
      s"${r.getLong(0)}:${r.getLong(1)}:${r.getLong(2)}"
    }
    val a = fp(df)
    val b = fp(df.repartition(3))
    s"""{"checksum": "$a", "repartitioned": "$b"}"""
  }
}

/** Just enough of a JSON writer for the raw record. */
final class Json {
  private val sb = new StringBuilder
  private var first = true
  def sep(): Unit = { if (!first) sb.append(','); first = false }
  def close(ch: Char): Unit = { sb.append(ch); first = false }
  def key(k: String): Unit = { sep(); str(k); sb.append(':'); first = true }
  def field(k: String, v: Any): Unit = { key(k); value(v) }
  def obj(body: => Unit): Unit = { sep(); sb.append('{'); first = true; body; close('}') }
  def arr[A](xs: Iterable[A])(each: A => Unit): Unit = {
    sep(); sb.append('['); first = true; xs.foreach(each); close(']')
  }
  def value(v: Any): Unit = v match {
    case s: String => sep(); str(s)
    case b: Boolean => sep(); sb.append(b)
    case d: Double => sep(); sb.append(if (d.isNaN || d.isInfinite) "null" else d.toString)
    case n: Int => sep(); sb.append(n)
    case n: Long => sep(); sb.append(n)
    case xs: Iterable[_] => arr(xs)(value)
    case other => throw new IllegalArgumentException(s"no JSON for $other")
  }
  private def str(s: String): Unit = {
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case ch if ch < ' ' => sb.append(f"\\u${ch.toInt}%04x")
      case ch => sb.append(ch)
    }
    sb.append('"')
  }
  override def toString: String = sb.toString
}
