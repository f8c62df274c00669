package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.Pages

/** Seeded inputs. Every value is a pure function of (seed, index), so the
  * same seed always yields the same input, however it is partitioned. */
object Inputs {

  // ------------------------------ dedup corpus ------------------------------

  /** Corpus shape of `dedup-boilerplate`. */
  final case class CorpusShape(docs: Int, families: Int, boilerplate: Seq[Int])

  val Corpus: CorpusShape = CorpusShape(docs = 6000, families = 600,
    boilerplate = Seq(210, 240))
  /** The untimed warm-up corpus: every code path of [[Corpus]], at a
    * fifteenth of the size. */
  val WarmCorpus: CorpusShape = CorpusShape(docs = 400, families = 40,
    boilerplate = Seq(150))

  final case class Doc(doc_id: Long, text: String, family: Long, kind: String)

  private def r(seed: Long, id: Long, tag: Long): Long = Pages.rng(seed, id, tag) >>> 1

  /** A pronounceable pseudo-word; 8000 of them form the vocabulary. */
  def word(i: Int): String = {
    val cons = "bcdfghklmnprstvz"
    val vows = "aeiou"
    val sb = new StringBuilder
    var x = i
    do {
      sb.append(cons(x % cons.length)).append(vows((x / cons.length) % vows.length))
      x /= cons.length * vows.length
    } while (x > 0)
    sb.toString
  }
  private val Vocab = 8000

  private def words(seed: Long, id: Long, n: Int): Array[String] =
    Array.tabulate(n)(k => word((r(seed, id, 1000 + k) % Vocab).toInt))

  /** The corpus: boilerplate families first (a shared template; every
    * fourth member carries a page-specific suffix token), then the small
    * families of 2–5 variants (variant 0 is the base text, every other
    * variant replaces one word of it), then singletons. `family` is -1 for
    * singletons. */
  def corpus(seed: Long, shape: CorpusShape): Seq[Doc] = {
    val out = Seq.newBuilder[Doc]
    var id = 0L
    shape.boilerplate.zipWithIndex.foreach { case (size, f) =>
      val template = words(seed, -1L - f, 24).mkString(" ")
      (0 until size).foreach { j =>
        val text = if (j % 4 == 1) s"$template ref${j}x$f" else template
        out += Doc(id, text, -1L - f, "boilerplate")
        id += 1
      }
    }
    (0 until shape.families).foreach { f =>
      val size = 2 + (r(seed, f, 1) % 4).toInt
      val len = 50 + (r(seed, f, 2) % 21).toInt
      val base = words(seed, 1000000L + f, len)
      (0 until size).foreach { v =>
        val w = base.clone()
        if (v > 0) {
          val pos = (r(seed, f * 8L + v, 3) % len).toInt
          w(pos) = word(Vocab + (r(seed, f * 8L + v, 4) % Vocab).toInt)
        }
        out += Doc(id, w.mkString(" "), f.toLong, "family")
        id += 1
      }
    }
    while (id < shape.docs) {
      val len = 50 + (r(seed, id, 5) % 21).toInt
      out += Doc(id, words(seed, 2000000L + id, len).mkString(" "), -1L, "single")
      id += 1
    }
    out.result()
  }

  // ------------------------------ stream batches -----------------------------

  /** `stream-link` shape: the base batch holds variants 0 and 1 of
    * `baseEntities`; each timed micro-batch brings all three variants of
    * `newPerBatch` new entities plus the late variant 2 of `latePerBatch`
    * entities already in state, so matches cross the batch/state boundary. */
  final case class StreamShape(baseEntities: Int, newPerBatch: Int,
                               latePerBatch: Int, batches: Int) {
    def entities: Long = baseEntities.toLong + newPerBatch.toLong * batches
    def pool: Int = Pages.streetPoolSize(entities)
  }

  val Stream: StreamShape = StreamShape(baseEntities = 1000, newPerBatch = 40,
    latePerBatch = 80, batches = 2)

  private def pageIds(es: Iterator[Long], variants: Seq[Int]): Seq[Long] =
    es.flatMap(e => variants.map(v => e * Pages.VariantsPerEntity + v)).toSeq

  def baseIds(s: StreamShape): Seq[Long] =
    pageIds((0L until s.baseEntities).iterator, Seq(0, 1))

  /** Page ids of timed batch `b` (1-based). */
  def batchIds(s: StreamShape, b: Int): Seq[Long] = {
    val fresh = s.baseEntities.toLong + (b - 1).toLong * s.newPerBatch
    pageIds((fresh until fresh + s.newPerBatch).iterator, Seq(0, 1, 2)) ++
      pageIds(((b - 1).toLong * s.latePerBatch until b.toLong * s.latePerBatch).iterator, Seq(2))
  }

  /** Pages of the given ids, each tagged with its batch name. */
  def pages(spark: SparkSession, seed: Long, ids: Seq[(Long, String)], pool: Int): DataFrame = {
    import spark.implicits._
    spark.createDataset(ids).repartition(spark.sparkContext.defaultParallelism)
      .mapPartitions(_.map { case (id, b) => (Pages.pageOf(seed, id, pool), b) })
      .toDF("page", "batch").select("page.*", "batch")
  }
}
