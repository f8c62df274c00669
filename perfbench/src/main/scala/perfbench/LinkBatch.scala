package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{ConnectedComponents, Linkage, Scoring, StaticParser}
import graft.sources.Pages

/** `link-batch`: full batch linkage over seeded pages read back from
  * parquet. Blocks are uniform and no key exceeds `maxBlock`, so prepare,
  * scoring, clustering and parse do the work and the hot-key path none. At
  * this size the candidate self-join's measured input is under the 10 MB
  * broadcast threshold, so it runs as a broadcast join.
  */
object LinkBatch extends Workload {
  val name = "link-batch"
  val PageCount = 50000L
  /** Pages of the untimed run that warms the JIT and the code generator. */
  val WarmupPages = 5000L
  val F1Gate = 0.99
  private val cfg = Linkage.Config()

  private def input(ctx: Ctx) = ctx.work.resolve("link/input")
  private def warmInput(ctx: Ctx) = ctx.work.resolve("link/warmup")

  def setup(ctx: Ctx): Unit = {
    Pages.synthesize(ctx.spark, PageCount, ctx.seed).write.mode("overwrite")
      .parquet(input(ctx).toString)
    Pages.synthesize(ctx.spark, WarmupPages, ctx.seed + 1).write.mode("overwrite")
      .parquet(warmInput(ctx).toString)
  }

  /** The product call: parquet read → `Linkage.entities` → entity table on
    * disk. Each run reads a fresh copy of the input, as a new crawl would
    * arrive, so no plan-keyed memo carries over between runs. */
  private def linkOnce(ctx: Ctx, src: java.nio.file.Path, out: String): Double = {
    val t0 = System.nanoTime()
    Linkage.entities(ctx.spark.read.parquet(src.toString), ctx.bIdx, cfg)
      .write.mode("overwrite").parquet(out)
    Stats.seconds(t0)
  }

  /** The same pipeline with every layer materialised before the next one
    * starts, each inside its own span. `entitiesFrom`'s join and parse are
    * spelled out so clustering and parse get separate spans. */
  private def linkTraced(ctx: Ctx, src: java.nio.file.Path,
                         out: String): (DataFrame, DataFrame) = {
    val tr = ctx.tracer
    val pages = ctx.spark.read.parquet(src.toString)
    val prepared = tr.span("prepare") {
      val p = Linkage.prepare(pages, cfg).persist()
      val r = p.agg(count(lit(1)), sum(when(col("extracted") === "", 1).otherwise(0))).head
      ctx.layer("prepare.rows_out", r.getLong(0).toDouble)
      ctx.layer("prepare.empty_extract", r.getLong(1).toDouble)
      p
    }
    val cands = tr.span("block") {
      tr.label("block.plan")
      val c = Linkage.candidates(prepared, cfg)
      tr.label("block")
      val p = c.persist()
      p.count()
      p
    }
    val scored = tr.span("score") {
      val s = Scoring.scoreDF(cands, cfg.threshold).persist()
      val r = s.agg(count(lit(1)), sum(when(col("is_match"), 1).otherwise(0))).head
      ctx.layer("score.pairs_in", r.getLong(0).toDouble)
      ctx.layer("score.matches", r.getLong(1).toDouble)
      s
    }
    val comps = tr.span("cluster") {
      val matched = scored.filter(col("is_match"))
      val c = ConnectedComponents.runGrouped(
        matched.select(col("block_key"), col("url_a").as("src"), col("url_b").as("dst")),
        "block_key").persist()
      Quality.recordComponents(ctx, c)
      c
    }
    tr.span("parse") {
      val withEntity = prepared
        .join(comps.withColumnRenamed("id", "url"), Seq("url"), "left")
        .withColumn("entity_id", coalesce(col("component"), col("url")))
        .select("url", "extracted", "entity_id")
      StaticParser.parse(withEntity, "extracted", ctx.bIdx)
        .select("url", "entity_id", "province", "district", "neighbourhood")
        .write.mode("overwrite").parquet(out)
    }
    (prepared, cands)
  }

  def measure(ctx: Ctx): EndToEnd = {
    val spark = ctx.spark
    val runs = mutable.ArrayBuffer[Double]()
    val f1s = mutable.ArrayBuffer[Double]()
    def checkF1(out: String): Unit = {
      val f1 = Quality.pairF1(spark.read.parquet(out), "url", "entity_id")
      f1s += f1
      ctx.check("link-batch F1 gate", f1 >= F1Gate, f"pair F1 $f1%.5f < $F1Gate")
    }
    def fresh(round: Int): java.nio.file.Path = {
      val dst = ctx.work.resolve(s"link/run-$round")
      Files.delete(dst)
      Files.copyTree(input(ctx), dst)
      dst
    }
    def cleanup(round: Int): Unit = {
      spark.catalog.clearCache()
      Files.delete(ctx.work.resolve(s"link/run-$round"))
      Files.delete(ctx.work.resolve(s"link/out-$round"))
      Files.delete(ctx.work.resolve("link/out-warmup"))
    }

    // an untimed run on a small input first: the timed runs then measure a
    // warm engine, which is far steadier than a JIT-cold one
    ctx.op("link-batch warm-up") {
      linkOnce(ctx, warmInput(ctx), ctx.work.resolve("link/out-warmup").toString)
    }
    cleanup(0)

    // A traced run puts its one traced round between two untraced ones,
    // which give the time the traced layers are compared against.
    val traced = mutable.ArrayBuffer[Double]()
    val start = System.nanoTime()
    var round = 0
    while (round == 0 || !ctx.deadlineReached(start) || (ctx.traced && round < 3)) {
      round += 1
      val src = fresh(round)
      val out = ctx.work.resolve(s"link/out-$round").toString
      if (ctx.traced && round == 2) {
        ctx.tracer.round = round
        ctx.op(s"link-batch traced run $round") {
          val (prepared, cands) = ctx.tracer.span("link.run")(linkTraced(ctx, src, out))
          checkF1(out)
          ctx.tracer.drain()
          val spans = ctx.tracer.all.filter(_.round == round)
          val layerNames = Seq("prepare", "block", "score", "cluster", "parse")
          val self = layerNames.map(l => spans.filter(_.name == l).map(ctx.tracer.selfSeconds).sum)
          layerNames.zip(self).foreach { case (l, s) =>
            ctx.layer(s"$l.s", s)
            ctx.engine(round, l)
          }
          traced += self.sum
          ctx.layer("block.plan_jobs", ctx.planJobs(round, "block"))
          Quality.blocking(prepared, cands, cfg.maxBlock).record(ctx)
          val parsed = spark.read.parquet(out)
            .agg(avg(when(col("province").isNotNull, 1.0).otherwise(0.0))).head.getDouble(0)
          ctx.layer("parse.province_hit_ratio", parsed)
        }
      } else {
        ctx.op(s"link-batch run $round") {
          runs += linkOnce(ctx, src, out)
          checkF1(out)
        }
      }
      cleanup(round)
    }

    val p50 = Stats.median(runs)
    if (ctx.traced) {
      val (t, u) = (Stats.median(traced), p50)
      ctx.layer("trace.layer_sum_s", t)
      ctx.layer("trace.untraced_s", u)
      ctx.layer("trace.gap_ratio", t / u - 1.0)
    }
    val f1 = Stats.median(f1s)
    ctx.named("link_pages_per_s") = (PageCount / p50, "1/s")
    ctx.named("link_pair_f1") = (f1, "ratio")
    ctx.named("link_run_p50_s") = (p50, "s")
    EndToEnd(itemsPerS = PageCount / p50, opP50S = p50, opSlowS = p50, quality = f1)
  }
}
