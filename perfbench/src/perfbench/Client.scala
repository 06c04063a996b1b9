package perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

object Client {
  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 3

  /** How many units of timed work (`serve` cycles, `ingest` episodes) a run
    * of `seconds` does, given a unit's nominal length on a 4-core host. The
    * count depends only on `seconds`, never on measured speed, so a run
    * always takes the same samples and reports the same tail percentile. */
  def units(seconds: Double, nominalS: Double, min: Int): Int =
    math.max(min, math.round(seconds / nominalS).toInt)
}

/** The single closed-loop client: it issues an operation only after the
  * previous one returned, times it, and checks its answer outside the
  * timed interval. */
final class Client(val spark: SparkSession, val tracer: Tracer,
                   val seconds: Double, plantFault: Boolean) {

  /** (operation kind, latency in seconds) of every timed operation. */
  val samples = mutable.ArrayBuffer.empty[(String, Double)]
  val setupS = mutable.ArrayBuffer.empty[Double]
  /** Work totals the metrics are derived from (rows appended, bytes stored). */
  val totals = mutable.LinkedHashMap.empty[String, Double]
  var attempted = 0
  var failed = 0
  private var warming = false
  private var planted = false

  def measured: Double = samples.iterator.map(_._2).sum

  def add(k: String, v: Double): Unit = totals(k) = totals.getOrElse(k, 0.0) + v

  /** Runs `body` untimed and untraced: warm-up until JIT and codegen have
    * settled. Its answers are still checked. */
  def warm[T](body: => T): T = {
    warming = true
    tracer.on = false
    try body finally { warming = false; tracer.on = tracer.enabled }
  }

  def timed[T](kind: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val out = tracer.span("op." + kind)(body)
    if (!warming) samples += kind -> (System.nanoTime() - t0) / 1e9
    out
  }

  def setup[T](body: => T): T = {
    val t0 = System.nanoTime()
    val out = tracer.span("setup")(body)
    setupS += (System.nanoTime() - t0) / 1e9
    phase(f"set-up ${setupS.size} took ${setupS.last}%.2f s")
    out
  }

  private val born = System.nanoTime()
  /** Progress line on stderr, stamped with the seconds since start. */
  def phase(msg: String): Unit =
    System.err.println(f"perfbench [${(System.nanoTime() - born) / 1e9}%6.1f s] $msg")

  /** Counts one checked answer; a mismatch is a failed operation. */
  def check(what: => String, ok: Boolean): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      System.err.println(s"perfbench: WRONG ANSWER: $what")
    }
  }

  /** With a planted fault, the first answer checked gets a row it must
    * not have, so the check has to catch it. */
  def plant(ids: Array[Long]): Array[Long] =
    if (plantFault && !planted) { planted = true; ids :+ -1L } else ids
}
