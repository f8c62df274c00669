package perfbench

import java.nio.file.{Files => JFiles, Path}

import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.operators.{ConnectedComponents, Linkage, Scoring}
import graft.streaming.{IncrementalCC, IncrementalLinkage}

/** `stream-link`: `IncrementalLinkage.run` with the `IncrementalCC` entity
  * fold over on-disk state. A closed loop with one caller: one micro-batch
  * file is dropped into the input directory, the stream is run to
  * completion, and only then does the next batch arrive. Every round
  * restores the state committed by the base batch and replays the same
  * batches, so each round does the same work: batch 1 compacts, batch 2
  * collects the superseded deltas and writes a plain delta. */
object StreamLink extends Workload {
  val name = "stream-link"
  /** Below `IncrementalLinkage.run`'s default of 8: a micro-batch costs
    * about 70 Spark jobs (6–9 s on four cores) whatever its size, so a
    * default cycle of eight batches per run would not fit the benchmark's
    * time budget. The compaction and GC code paths are the same at any
    * cadence. */
  val CompactEvery = 2
  private val shape = Inputs.Stream

  private def dir(ctx: Ctx, p: String): Path = ctx.work.resolve(s"stream/$p")
  private def live(ctx: Ctx, p: String): String = dir(ctx, s"live/$p").toString

  private def runStream(ctx: Ctx): Unit =
    IncrementalLinkage.run(ctx.spark, live(ctx, "in"), live(ctx, "state"),
      live(ctx, "ckpt"), compactEvery = CompactEvery,
      entityStateDir = Some(live(ctx, "cc"))).awaitTermination()

  private def drop(ctx: Ctx, b: String): Long = {
    val dst = dir(ctx, s"live/in/$b.parquet")
    JFiles.copy(Files.partFile(dir(ctx, s"stage/batch=$b")), dst)
    JFiles.size(dst)
  }

  /** Generates every batch and stages each as one parquet file. */
  def setup(ctx: Ctx): Unit =
    Inputs.pages(ctx.spark, ctx.seed,
        Inputs.baseIds(shape).map(_ -> "base") ++
          (1 to shape.batches).flatMap(b => Inputs.batchIds(shape, b).map(_ -> s"b$b")),
        shape.pool)
      .repartition(col("batch")).write.partitionBy("batch").mode("overwrite")
      .parquet(dir(ctx, "stage").toString)

  /** Commits the base batch (once: it costs several times a micro-batch),
    * then keeps the committed state as the snapshot each round starts from. */
  override def setupOnce(ctx: Ctx): Unit = {
    Files.delete(dir(ctx, "live"))
    Seq("in", "state", "cc", "ckpt").foreach(p => JFiles.createDirectories(dir(ctx, s"live/$p")))
    drop(ctx, "base")
    runStream(ctx)
    Files.delete(dir(ctx, "snapshot"))
    Files.copyTree(dir(ctx, "live"), dir(ctx, "snapshot"))
  }

  private def stateFiles(ctx: Ctx): Map[String, Long] =
    Files.sizes(dir(ctx, "live/state")) ++ Files.sizes(dir(ctx, "live/cc"))

  def measure(ctx: Ctx): EndToEnd = {
    val spark = ctx.spark
    val plain = mutable.ArrayBuffer[Double]()
    val compact = mutable.ArrayBuffer[Double]()
    var pages = 0L
    var wall = 0.0
    val start = System.nanoTime()
    var round = 0
    while (round == 0 || !ctx.deadlineReached(start)) {
      round += 1
      ctx.tracer.round = round
      Files.delete(dir(ctx, "live"))
      Files.copyTree(dir(ctx, "snapshot"), dir(ctx, "live"))
      var written = 0L
      var inBytes = 0L
      val changed = mutable.ArrayBuffer[Double]()
      val rescored = mutable.ArrayBuffer[Double]()
      (1 to shape.batches).foreach { b =>
        inBytes += drop(ctx, s"b$b")
        val before = stateFiles(ctx)
        val t = ctx.op(s"stream-link batch $b round $round") {
          val t0 = System.nanoTime()
          ctx.tracer.span("stream.batch")(runStream(ctx))
          Stats.seconds(t0)
        }
        val after = stateFiles(ctx)
        written += after.collect { case (f, n) if !before.get(f).contains(n) => n }.sum
        val state = live(ctx, "state")
        val compacted = IncrementalLinkage.compactions(state).contains(b.toLong)
        t.foreach { s =>
          (if (compacted) compact else plain) += s
          pages += Inputs.batchIds(shape, b).size
          wall += s
        }
        if (ctx.traced && !compacted) {
          changed += spark.read.parquet(s"$state/changed_$b").count().toDouble
          rescored += spark.read.parquet(s"$state/scored_delta_$b").count().toDouble
        }
      }
      if (ctx.traced) {
        ctx.tracer.drain()
        ctx.engine(round, "stream.batch")
        ctx.layer("state.changed_blocks", Stats.median(changed))
        ctx.layer("state.rescored_pairs", Stats.median(rescored))
        val end = stateFiles(ctx)
        ctx.layer("state.bytes_written", written.toDouble)
        ctx.layer("state.write_amplification", written.toDouble / inBytes)
        ctx.layer("state.bytes_live", end.values.sum.toDouble)
        ctx.layer("state.files", end.size.toDouble)
        ctx.layer("stream.compactions", compact.size.toDouble / round)
      }
    }

    val f1 = checkAgainstBatch(ctx)
    val p50 = Stats.median(plain)
    val spike = Stats.median(compact)
    ctx.named("stream_batch_p50_s") = (p50, "s")
    ctx.named("stream_compact_batch_s") = (spike, "s")
    ctx.named("stream_pages_per_s") = (pages / wall, "1/s")
    ctx.named("stream_pair_f1") = (f1, "ratio")
    ctx.named("stream_batches") = ((plain.size + compact.size).toDouble, "count")
    EndToEnd(itemsPerS = pages / wall, opP50S = p50, opSlowS = spike, quality = f1)
  }

  /** The last round's scored state and entity assignment must equal a full
    * batch recompute over the same pages. Returns the pair F1 of the
    * maintained entities against the gold. */
  private def checkAgainstBatch(ctx: Ctx): Double = {
    val spark = ctx.spark
    val allPages = spark.read.parquet(dir(ctx, "stage").toString).drop("batch")
    val prepared = Linkage.prepare(allPages).persist()
    val cands = Linkage.candidates(prepared).persist()
    val scored = Scoring.scoreDF(cands).persist()
    val comps = ConnectedComponents.runGrouped(scored.filter(col("is_match"))
      .select(col("block_key"), col("url_a").as("src"), col("url_b").as("dst")), "block_key")

    val state = IncrementalLinkage.loadScoredState(spark, live(ctx, "state"))
      .select(scored.columns.map(col): _*)
    val assign = IncrementalCC.loadAssign(spark, live(ctx, "cc"), Long.MaxValue, stringIds = true)
    // compared in this process as multisets: a few thousand rows
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
    ctx.check("stream-link scored state == batch recompute", rows(state) == rows(scored),
      "scored pairs differ")
    ctx.check("stream-link entity assignment == batch recompute",
      rows(assign) == rows(comps), "entity assignments differ")

    val entities = prepared.select("url")
      .join(assign.withColumnRenamed("id", "url"), Seq("url"), "left")
      .withColumn("entity_id", coalesce(col("component"), col("url")))
    val f1 = Quality.pairF1(entities, "url", "entity_id")
    if (ctx.traced) {
      Quality.blocking(IncrementalLinkage.loadPreparedState(spark, live(ctx, "state")),
        state, Linkage.Config().maxBlock).record(ctx)
      Quality.recordComponents(ctx, assign)
    }
    spark.catalog.clearCache()
    f1
  }
}
