package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One traced interval around a call into the engine. Spans of one benchmark
  * run share `run`; `parent` is the enclosing span's id (-1 at the root). */
final case class Span(id: Int, parent: Int, run: String, name: String,
                      round: Int, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Engine work attributed to one (round, layer) label. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  val taskMs: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer[Long]()

  /** Longest task over the median task; 0 when the layer ran no task. */
  def skew: Double =
    if (taskMs.isEmpty) 0.0
    else {
      val s = taskMs.sorted
      s.last.toDouble / math.max(1L, s(s.length / 2))
    }
}

/** Attributes every Spark job, stage and task to the label the submitting
  * thread carried as a local property. A streaming query's execution thread
  * inherits the properties of the thread that started it. Listener events
  * arrive asynchronously: call [[Tracer.drain]] before reading. */
final class LayerListener extends SparkListener {
  private val stageLabel = mutable.Map[Int, String]()
  private val counters = mutable.Map[String, Counters]()
  private val ended = mutable.Set[Int]()
  private val jobLabel = mutable.Map[Int, String]()

  private def of(label: String): Counters = counters.getOrElseUpdate(label, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.LabelKey))).foreach { label =>
      jobLabel(e.jobId) = label
      of(label).jobs += 1
      e.stageIds.foreach(id => stageLabel.getOrElseUpdate(id, label))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (jobLabel.get(e.jobId).contains(Tracer.Sentinel)) ended += e.jobId
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageLabel.get(e.stageInfo.stageId).foreach(of(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageLabel.get(e.stageId).foreach { label =>
      val c = of(label)
      c.tasks += 1
      c.taskMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  def sentinelsEnded: Int = synchronized(ended.size)

  def snapshot: Map[String, Counters] = synchronized(counters.toMap)
}

/** Span recorder. Disabled, it runs every body untouched and attaches no
  * listener, so untraced runs pay nothing. Enabled, each span sets the job
  * label to `round|name` for the work submitted inside it; [[label]] can
  * re-label work within a span (for example the jobs an operator launches
  * while its DataFrame is only being built). Spans stay in memory until
  * [[write]]. */
final class Tracer(spark: SparkSession, val run: String, val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[(Int, String)] = Nil
  private var nextId = 0
  private var sentinels = 0
  var round = 0
  private val listener = new LayerListener
  if (enabled) spark.sparkContext.addSparkListener(listener)

  private def setLabel(name: String): Unit = {
    spark.sparkContext.setLocalProperty(Tracer.LabelKey,
      if (name == null) null else s"$round|$name")
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      stack = (id, name) :: stack
      setLabel(name)
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, run, name, round, t0, System.nanoTime())
        stack = stack.tail
        setLabel(stack.headOption.map(_._2).orNull)
      }
    }

  def label(name: String): Unit = if (enabled) setLabel(name)

  /** Wait until the listener has seen every event posted so far: a sentinel
    * job is submitted last, and the listener bus delivers in order. */
  def drain(): Unit = if (enabled) {
    val saved = spark.sparkContext.getLocalProperty(Tracer.LabelKey)
    spark.sparkContext.setLocalProperty(Tracer.LabelKey, Tracer.Sentinel)
    spark.sparkContext.parallelize(Seq(1), 1).count()
    spark.sparkContext.setLocalProperty(Tracer.LabelKey, saved)
    sentinels += 1
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (listener.sentinelsEnded < sentinels && System.nanoTime() < deadline)
      Thread.sleep(5)
    require(listener.sentinelsEnded >= sentinels, "listener bus did not drain")
  }

  def all: Seq[Span] = spans.toSeq

  /** Self time of a span: its duration minus the time its children cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum

  /** Counters of `layer` in `round`, including any re-labelled sub-work
    * (`layer.plan`). */
  def counters(round: Int, layer: String): Map[String, Counters] =
    listener.snapshot.collect {
      case (k, c) if k == s"$round|$layer" || k.startsWith(s"$round|$layer.") => k -> c
    }

  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.sortBy(_.id).map { s =>
      f"""{"id": ${s.id}, "parent": ${s.parent}, "run": "${s.run}", "name": "${s.name}", "round": ${s.round}, "start_ns": ${s.startNs}, "end_ns": ${s.endNs}, "self_s": ${selfSeconds(s)}%.6f}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  val LabelKey = "perfbench.layer"
  val Sentinel = "__sentinel"
}
