package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession

import graft.sources.Gazetteer

/** What one workload run shares with its measurement code. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
                val tracer: Tracer, val work: Path,
                val bIdx: Broadcast[Gazetteer.Index]) {
  var attempted = 0
  var failed = 0
  /** End-to-end metrics under the names the issue tracker uses. */
  val named: mutable.LinkedHashMap[String, (Double, String)] = mutable.LinkedHashMap()
  /** Per-layer values, one sequence of per-round samples per metric. */
  val layers: mutable.Map[String, mutable.ArrayBuffer[Double]] = mutable.Map()
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer()

  def traced: Boolean = tracer.enabled

  /** One operation (a linkage run, a detector call or a micro-batch). A
    * throw counts as a failed operation; the run goes on. */
  def op[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = body
      System.err.println(f"[perfbench] $what: ${Stats.seconds(t0)}%.3f s")
      Some(r)
    } catch {
      case e: Exception =>
        failed += 1
        failures += s"$what: $e"
        System.err.println(s"[perfbench] operation failed: $what")
        e.printStackTrace()
        None
    }
  }

  /** A correctness check on an operation already counted; a failed check
    * turns that operation into a failed one. */
  def check(what: String, ok: Boolean, detail: => String): Unit =
    if (!ok) {
      failed += 1
      failures += s"check $what: $detail"
      System.err.println(s"[perfbench] check failed: $what: $detail")
    }

  def layer(name: String, v: Double): Unit =
    layers.getOrElseUpdate(name, mutable.ArrayBuffer()) += v

  /** Engine counters of `layer` in `round`, as per-layer samples. */
  def engine(round: Int, layer: String): Unit = {
    val cs = tracer.counters(round, layer).values.toSeq
    def total(f: Counters => Long) = cs.map(f).sum.toDouble
    this.layer(s"$layer.jobs", total(_.jobs))
    this.layer(s"$layer.stages", total(_.stages))
    this.layer(s"$layer.tasks", total(_.tasks))
    this.layer(s"$layer.shuffle_read_bytes", total(_.shuffleRead))
    this.layer(s"$layer.shuffle_write_bytes", total(_.shuffleWrite))
    this.layer(s"$layer.spill_bytes", total(_.spill))
    val merged = new Counters
    cs.foreach(c => merged.taskMs ++= c.taskMs)
    this.layer(s"$layer.task_skew", merged.skew)
  }

  /** Jobs launched under `layer.plan`: while a DataFrame was only built. */
  def planJobs(round: Int, layer: String): Double =
    tracer.counters(round, layer).collect { case (k, c) if k.endsWith(".plan") => c.jobs }
      .sum.toDouble

  def deadlineReached(startNs: Long): Boolean =
    (System.nanoTime() - startNs) / 1e9 >= seconds
}

/** The contract metrics every workload reports (see BENCHMARK.json). */
final case class EndToEnd(itemsPerS: Double, opP50S: Double, opSlowS: Double,
                          quality: Double)

trait Workload {
  def name: String
  /** The repeatable part of set-up: generate the inputs and write them. */
  def setup(ctx: Ctx): Unit
  /** Set-up too costly to repeat, run once after [[setup]]. */
  def setupOnce(ctx: Ctx): Unit = ()
  /** Measure for `ctx.seconds`, check every output, fill `ctx.named`. */
  def measure(ctx: Ctx): EndToEnd
}

object Stats {
  def median(xs: Iterable[Double]): Double = {
    val s = xs.toIndexedSeq.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}
