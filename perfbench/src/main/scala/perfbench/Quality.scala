package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.sources.Pages

/** Quality measures computed by the benchmark from the url-derived gold
  * ([[Pages.goldEntityId]]); the engine never sees the gold. */
object Quality {

  private def pairsOf(n: Column): Column = (n * (n - 1) / 2).cast("long")

  /** Pairwise F1 of an (url, entity) assignment that covers every page once. */
  def pairF1(assigned: DataFrame, urlCol: String, entityCol: String): Double = {
    val df = assigned.select(col(entityCol).as("e"), Pages.goldEntityId(col(urlCol)).as("g"))
    def sumPairs(keys: String*): Double =
      df.groupBy(keys.map(col): _*).count()
        .agg(coalesce(sum(pairsOf(col("count"))), lit(0L))).head.getLong(0).toDouble
    val tp = sumPairs("e", "g")
    val predicted = sumPairs("e")
    val gold = sumPairs("g")
    val p = if (predicted == 0) 1.0 else tp / predicted
    val r = if (gold == 0) 1.0 else tp / gold
    if (p + r == 0) 0.0 else 2 * p * r / (p + r)
  }

  /** Blocking quality as SparkER (EDBT'19) defines it, plus the block-size
    * profile. `prepared` holds one row per record with its `block_key`;
    * `candidates` one row per candidate pair (`url_a`, `url_b`). */
  final case class Blocking(pairCompleteness: Double, pairQuality: Double,
                            reductionRatio: Double, candidates: Long,
                            blocks: Long, largestBlock: Long, hotKeys: Long) {
    def record(ctx: Ctx): Unit = {
      ctx.layer("block.candidate_pairs", candidates.toDouble)
      ctx.layer("block.blocks", blocks.toDouble)
      ctx.layer("block.largest_block", largestBlock.toDouble)
      ctx.layer("block.hot_keys", hotKeys.toDouble)
      ctx.layer("block.pair_completeness", pairCompleteness)
      ctx.layer("block.pair_quality", pairQuality)
      ctx.layer("block.reduction_ratio", reductionRatio)
    }
  }

  def blocking(prepared: DataFrame, candidates: DataFrame, maxBlock: Int): Blocking = {
    val records = prepared.count().toDouble
    val goldPairs = prepared.groupBy(Pages.goldEntityId(col("url"))).count()
      .agg(coalesce(sum(pairsOf(col("count"))), lit(0L))).head.getLong(0).toDouble
    val c = candidates.agg(count(lit(1)),
      coalesce(sum(when(Pages.goldEntityId(col("url_a")) === Pages.goldEntityId(col("url_b")), 1)
        .otherwise(0)), lit(0L))).head
    val (cand, hits) = (c.getLong(0).toDouble, c.getLong(1).toDouble)
    val b = prepared.filter(col("block_key") =!= "").groupBy("block_key").count()
      .agg(count(lit(1)), coalesce(max("count"), lit(0L)),
        coalesce(sum(when(col("count") > maxBlock, 1).otherwise(0)), lit(0L))).head
    Blocking(
      pairCompleteness = if (goldPairs == 0) 1.0 else hits / goldPairs,
      pairQuality = if (cand == 0) 0.0 else hits / cand,
      reductionRatio = 1.0 - cand / math.max(1.0, records * (records - 1) / 2),
      candidates = cand.toLong, blocks = b.getLong(0), largestBlock = b.getLong(1),
      hotKeys = b.getLong(2))
  }

  /** Component count and largest component of an (id, component) table. */
  def recordComponents(ctx: Ctx, comps: DataFrame): Unit = {
    val r = comps.groupBy("component").count()
      .agg(count(lit(1)), coalesce(max("count"), lit(0L))).head
    ctx.layer("cluster.components", r.getLong(0).toDouble)
    ctx.layer("cluster.largest_component", r.getLong(1).toDouble)
  }

  // ------------------------------ dedup checks -------------------------------

  /** Word n-gram shingles, written independently of the engine: tokens are
    * maximal runs of non-whitespace (Java regex `\s`, as the engine's
    * tokenizer defines them). */
  def shingles(text: String, n: Int): Set[String] = {
    val t = text.split("\\s+").filter(_.nonEmpty)
    if (t.length < n) Set.empty else t.sliding(n).map(_.mkString(" ")).toSet
  }

  def jaccard(x: Set[String], y: Set[String]): Double =
    if (x.isEmpty && y.isEmpty) 1.0
    else {
      val inter = x.count(y)
      inter.toDouble / (x.size + y.size - inter)
    }
}
