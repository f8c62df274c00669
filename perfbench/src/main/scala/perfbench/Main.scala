package perfbench

import java.nio.file.Paths

import org.apache.spark.sql.SparkSession

import graft.operators.StaticParser

/** Benchmark entry point (see perfbench/README.md).
  *
  * {{{
  * Main --workload <link-batch|dedup-boilerplate|stream-link|all>
  *      --seed <n> --seconds <s> --trace <0|1> --work <dir>
  * }}}
  *
  * Runs at `local[<cores>]` in this one process. Human-readable `metric`
  * lines go to stdout; the last stdout line is the JSON result. */
object Main {

  val Workloads: Seq[Workload] = Seq(LinkBatch, DedupBoilerplate, StreamLink)

  /** Set-up repetitions per run; `setup_s` is the session start plus their
    * median plus the once-only set-up. */
  val SetupReps = 3

  /** Contract metrics, in BENCHMARK.json order, with their units. */
  val EndToEndUnits: Seq[(String, String)] = Seq(
    "items_per_s" -> "1/s", "op_p50_s" -> "s", "op_slow_s" -> "s",
    "quality" -> "ratio", "setup_s" -> "s")

  private def arg(args: Array[String], key: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`key`, v) => v }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "--workload").getOrElse(sys.error("--workload is required"))
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(args, "--seconds").map(_.toDouble).getOrElse(5.0)
    val trace = arg(args, "--trace").contains("1")
    val work = Paths.get(arg(args, "--work").getOrElse(".bench_build/work")).toAbsolutePath
      .resolve(s"$workload-$seed-${if (trace) 1 else 0}")
    val chosen = if (workload == "all") Workloads
      else Workloads.filter(_.name == workload) match {
        case Seq() => sys.error(s"unknown workload $workload")
        case ws => ws
      }
    val cores = Runtime.getRuntime.availableProcessors()

    Files.delete(work)
    sys.props("spark.local.dir") = work.resolve("spark-local").toString
    sys.props("spark.sql.warehouse.dir") = work.resolve("warehouse").toString
    val t0 = System.nanoTime()
    val spark = graft.Sessions.local("perfbench", cores.toString)
    val bIdx = StaticParser.broadcastIndex(spark)
    val sessionS = Stats.seconds(t0)
    System.err.println(f"[perfbench] session: $sessionS%.3f s")
    probe(spark, cores) // JIT-warms the probe, so before and after compare alike

    val results = chosen.map { w =>
      val ctx = new Ctx(spark, seed, seconds,
        new Tracer(spark, s"${w.name}-$seed-${ProcessHandle.current().pid()}", trace),
        work.resolve(w.name), bIdx)
      val setups = (1 to SetupReps).map { _ =>
        val t = System.nanoTime()
        w.setup(ctx)
        val s = Stats.seconds(t)
        System.err.println(f"[perfbench] ${w.name} setup: $s%.3f s")
        s
      }
      val once = System.nanoTime()
      w.setupOnce(ctx)
      val setupS = sessionS + Stats.median(setups) + Stats.seconds(once)
      val probeBefore = probe(spark, cores)
      val tm = System.nanoTime()
      val e2e = w.measure(ctx)
      System.err.println(f"[perfbench] ${w.name} measure: ${Stats.seconds(tm)}%.3f s")
      val probeAfter = probe(spark, cores)
      System.gc()
      val heapMb = java.lang.management.ManagementFactory.getMemoryMXBean
        .getHeapMemoryUsage.getUsed / 1048576.0
      ctx.layer("host.probe_before_s", probeBefore)
      ctx.layer("host.probe_after_s", probeAfter)
      ctx.layer("jvm.heap_after_gc_mb", heapMb)
      if (trace) ctx.tracer.write(work.getParent.getParent.resolve(s"trace/${w.name}-$seed.jsonl"))

      val metrics = Seq(e2e.itemsPerS, e2e.opP50S, e2e.opSlowS, e2e.quality, setupS)
      ctx.named("setup_s") = (setupS, "s")
      ctx.named("error_rate") = (ctx.failed.toDouble / math.max(1, ctx.attempted), "ratio")
      println(s"workload ${w.name} seed $seed cores $cores trace ${if (trace) 1 else 0}")
      ctx.named.foreach { case (k, (v, u)) => println(f"metric ${w.name} $k $v%.6f $u") }
      println(f"host ${w.name} probe_before_s $probeBefore%.4f probe_after_s $probeAfter%.4f " +
        f"heap_after_gc_mb $heapMb%.1f")
      ctx.failures.foreach(f => println(s"failure ${w.name} $f"))
      (w, ctx, EndToEndUnits.map(_._1).zip(metrics).toMap)
    }
    spark.stop()
    Files.delete(work)

    val attempted = results.map(_._2.attempted).sum
    val failed = results.map(_._2.failed).sum
    val metrics: Seq[(String, Double, String)] =
      if (workload == "all")
        results.flatMap { case (w, ctx, _) =>
          ctx.named.toSeq.map { case (k, (v, u)) => (s"${w.name}.$k", v, u) }
        }
      else {
        val (_, ctx, e2e) = results.head
        if (trace) PerLayer.Metrics.map { case (k, u) =>
          (k, ctx.layers.get(k).map(vs => Stats.median(vs)).getOrElse(0.0), u)
        }
        else EndToEndUnits.map { case (k, u) => (k, e2e(k), u) }
      }
    val finite = metrics.forall(m => !m._2.isNaN && !m._2.isInfinite)
    val body = metrics.map { case (k, v, u) =>
      s""""$k": {"value": ${if (finite) v else 0.0}, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": ${failed == 0 && finite}, "attempted": $attempted, """ +
      s""""failed": $failed, "metrics": {$body}}""")
  }

  /** Fixed-work CPU probe sized to the core count (20M xxhash64 per core),
    * recorded before and after the measured section as a host-contention
    * diagnostic: on a quiet host the two agree. */
  def probe(spark: SparkSession, cores: Int): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 20000000L * cores, 1, cores)
      .selectExpr("bit_xor(xxhash64(id)) AS s").collect()
    Stats.seconds(t0)
  }
}
