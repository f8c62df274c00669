package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation

import graft.functions.SimHashUtil
import graft.operators.Dedup

/** `dedup-boilerplate`: the three near-duplicate detectors back to back over
  * a seeded corpus with planted families. The boilerplate families hold
  * more near-identical pages than `maxBucket`, so each detector's salted
  * self-join finds hot keys and fans them out over its triangle; the small
  * families are what recall is measured on. Linkage code does no work here.
  */
object DedupBoilerplate extends Workload {
  val name = "dedup-boilerplate"

  /** Each detector with its default parameters and the check its reported
    * pairs must pass. */
  private final case class Detector(name: String, run: DataFrame => DataFrame)
  private val MinhashJ = 0.7
  private val NgramJ = 0.5
  private val MaxHamming = 3
  /** Below the operators' default (1000). Every pair of a boilerplate family
    * is reported, so its cost grows with the square of its size: at the
    * default, families of 1,400 and 1,600 pages took 113 s per round on four
    * cores. At 100 the identical part of each family here (157 and 180 pages)
    * is above it, so every key of both templates is hot at any seed. */
  val MaxBucket = 100

  /** Spark's default broadcast threshold and the corpus size the detectors'
    * joins are run as. At the default 10 MB every banded or prefix relation
    * of a 6k-doc corpus is broadcast, and `Blocking.saltedSelfJoin` then
    * neither probes for hot keys nor fans them out. The detectors run with
    * `spark.sql.autoBroadcastJoinThreshold` scaled by docs / ModelledDocs, so
    * every join takes the regime it takes on a corpus of ModelledDocs at the
    * default: the self-joins shuffle, probe and salt the hot keys. */
  private val DefaultThreshold = 10L * 1024 * 1024
  val ModelledDocs = 192000

  private def scaledThreshold[T](spark: SparkSession, docs: Int)(body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, DefaultThreshold * docs / ModelledDocs)
    try body
    finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private val detectors = Seq(
    Detector("minhash", Dedup.minhashPairs(_, "doc_id", "text", threshold = MinhashJ,
      maxBucket = MaxBucket)),
    Detector("simhash", Dedup.simhashPairs(_, "doc_id", "text", maxHamming = MaxHamming,
      maxBucket = MaxBucket)),
    Detector("ngram", Dedup.ngramJaccardPairs(_, "doc_id", "text", threshold = NgramJ,
      maxBucket = MaxBucket)))

  private def input(ctx: Ctx) = ctx.work.resolve("dedup/input")
  private def warmInput(ctx: Ctx) = ctx.work.resolve("dedup/warmup")
  private def truth(ctx: Ctx) = ctx.work.resolve("dedup/truth")

  def setup(ctx: Ctx): Unit = {
    import ctx.spark.implicits._
    val parts = ctx.spark.sparkContext.defaultParallelism
    val docs = Inputs.corpus(ctx.seed, Inputs.Corpus).toDS().repartition(parts)
    docs.select("doc_id", "text").write.mode("overwrite").parquet(input(ctx).toString)
    docs.select("doc_id", "text", "family", "kind").write.mode("overwrite")
      .parquet(truth(ctx).toString)
    Inputs.corpus(ctx.seed + 1, Inputs.WarmCorpus).toDS().repartition(parts)
      .select("doc_id", "text").write.mode("overwrite").parquet(warmInput(ctx).toString)
  }

  /** Hot keys the salted self-join found. It bakes the collected hot set into
    * the plan as a local relation with a `__hot_n` column, one row per key,
    * so the analysed plan tells which path the join took without running
    * anything. A detector's plan may reference its one self-join (and so its
    * hot set) more than once. */
  private def hotKeys(pairs: DataFrame): Int =
    pairs.queryExecution.analyzed.collect {
      case l: LocalRelation if l.output.exists(_.name == "__hot_n") => l.data.size
    }.maxOption.getOrElse(0)

  /** One detector call: seconds, output directory and hot keys. */
  private final case class Call(seconds: Double, out: String, hotKeys: Int)

  /** The three detectors over a fresh copy of `src` (so no plan-keyed memo
    * carries over), each under the threshold scaled to `docs`; `None` marks a
    * failed call. */
  private def detectAll(ctx: Ctx, src: Path, docs: Int,
                        tag: String): Seq[(String, Option[Call])] = {
    val spark = ctx.spark
    val in = ctx.work.resolve(s"dedup/run-$tag")
    Files.delete(in)
    Files.copyTree(src, in)
    val calls = scaledThreshold(spark, docs) {
      detectors.map { d =>
        val out = ctx.work.resolve(s"dedup/out-$tag-${d.name}").toString
        d.name -> ctx.op(s"dedup ${d.name} $tag") {
          ctx.tracer.span(s"dedup.${d.name}") {
            val t0 = System.nanoTime()
            ctx.tracer.label(s"dedup.${d.name}.plan")
            val pairs = d.run(spark.read.parquet(in.toString))
            ctx.tracer.label(s"dedup.${d.name}")
            pairs.write.mode("overwrite").parquet(out)
            val s = Stats.seconds(t0)
            Dedup.releaseCaches(spark)
            Call(s, out, hotKeys(pairs))
          }
        }
      }
    }
    Files.delete(in)
    calls
  }

  private def cleanup(ctx: Ctx, tag: String): Unit =
    detectors.foreach(d => Files.delete(ctx.work.resolve(s"dedup/out-$tag-${d.name}")))

  /** Re-verifies every reported pair against the detector's threshold with
    * measures computed here, in this process, from the generated texts, and
    * returns the share of planted small-family pairs that were reported. */
  private def verify(ctx: Ctx, d: String, pairs: DataFrame, text: Map[Long, String],
                     planted: Set[(Long, Long)]): Double = {
    val rows = pairs.collect()
    val ids = rows.map(r => (r.getLong(r.fieldIndex("id_a")), r.getLong(r.fieldIndex("id_b"))))
    val shingles = mutable.Map[Long, Set[String]]()
    val sims = mutable.Map[Long, Long]()
    val bad = rows.zip(ids).count { case (r, (a, b)) =>
      d match {
        case "simhash" =>
          def sim(id: Long) = sims.getOrElseUpdate(id, SimHashUtil.simhash(text(id)))
          val h = java.lang.Long.bitCount(sim(a) ^ sim(b))
          h > MaxHamming || h != r.getAs[Number]("hamming").intValue
        case _ =>
          def sh(id: Long) = shingles.getOrElseUpdate(id, Quality.shingles(text(id), 3))
          val j = Quality.jaccard(sh(a), sh(b))
          j < (if (d == "minhash") MinhashJ else NgramJ) ||
            math.abs(j - r.getAs[Double]("jaccard")) > 1e-6
      }
    }
    ctx.check(s"dedup $d pairs verified", bad == 0, s"$bad pairs fail the $d threshold")
    ctx.check(s"dedup $d pairs ordered and distinct",
      ids.forall { case (a, b) => a < b } && ids.distinct.length == ids.length,
      "unordered or repeated pairs")
    val reported = ids.toSet
    planted.count(reported).toDouble / math.max(1, planted.size)
  }

  def measure(ctx: Ctx): EndToEnd = {
    val spark = ctx.spark
    val truthRows = spark.read.parquet(truth(ctx).toString)
      .select("doc_id", "text", "family", "kind").collect()
    val text = truthRows.map(r => r.getLong(0) -> r.getString(1)).toMap
    val planted = truthRows.filter(_.getString(3) == "family")
      .groupBy(_.getLong(2)).values
      .flatMap(fam => fam.map(_.getLong(0)).sorted.combinations(2).map(p => (p(0), p(1))))
      .toSet
    val docCount = truthRows.length

    val times = detectors.map(d => d.name -> mutable.ArrayBuffer[Double]()).toMap
    val hot = detectors.map(d => d.name -> mutable.ArrayBuffer[Double]()).toMap
    val rounds = mutable.ArrayBuffer[Double]()
    val recalls = mutable.ArrayBuffer[Double]()

    def oneRound(round: Int): Unit = {
      ctx.tracer.round = round
      val calls = detectAll(ctx, input(ctx), docCount, round.toString)
      if (calls.forall(_._2.isDefined)) rounds += calls.map(_._2.get.seconds).sum
      val rs = calls.collect { case (d, Some(c)) =>
        times(d) += c.seconds
        hot(d) += c.hotKeys
        ctx.check(s"dedup $d hot-key path", c.hotKeys > 0,
          s"no key above maxBucket = $MaxBucket: the self-join took its plain path")
        val pairs = spark.read.parquet(c.out)
        if (ctx.traced) {
          ctx.layer(s"dedup.$d.pairs", pairs.count().toDouble)
          ctx.layer(s"dedup.$d.hot_keys", c.hotKeys.toDouble)
        }
        verify(ctx, d, pairs, text, planted)
      }
      if (rs.size == detectors.size) recalls += rs.sum / rs.size
      if (ctx.traced) {
        ctx.tracer.drain()
        detectors.foreach { d =>
          val l = s"dedup.${d.name}"
          ctx.layer(s"$l.s", ctx.tracer.all.filter(s => s.round == round && s.name == l)
            .map(ctx.tracer.selfSeconds).sum)
          ctx.layer(s"$l.plan_jobs", ctx.planJobs(round, l))
          ctx.engine(round, l)
        }
      }
      cleanup(ctx, round.toString)
    }

    // an untimed round on a small corpus first: the timed rounds then
    // measure a warm engine, which is far steadier than a JIT-cold one
    detectAll(ctx, warmInput(ctx), Inputs.WarmCorpus.docs, "warmup")
    cleanup(ctx, "warmup")

    val start = System.nanoTime()
    var round = 0
    while (round == 0 || !ctx.deadlineReached(start)) {
      round += 1
      oneRound(round)
    }
    val p50 = Stats.median(rounds)
    val slow = detectors.map(d => Stats.median(times(d.name))).max
    val recall = Stats.median(recalls)
    ctx.named("dedup_docs_per_s") = (docCount / p50, "1/s")
    ctx.named("dedup_planted_recall") = (recall, "ratio")
    detectors.foreach { d =>
      ctx.named(s"dedup_${d.name}_p50_s") = (Stats.median(times(d.name)), "s")
      ctx.named(s"dedup_${d.name}_hot_keys") = (Stats.median(hot(d.name)), "count")
    }
    EndToEnd(itemsPerS = docCount / p50, opP50S = p50, opSlowS = slow, quality = recall)
  }
}
