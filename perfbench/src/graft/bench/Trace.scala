package graft.bench

import graft.io.{AudioFetcher, Publisher}
import graft.pipeline.AudioClassifier
import graft.schema.LabelScore
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.util.LongAccumulator

import scala.collection.mutable

/** One timed call into a layer: `parent` is the span that caused it,
  * `run` the measured iteration (or "setup"/"layers") it belongs to.
  */
final case class Span(id: Int, name: String, parent: Int, run: String,
    startNs: Long, var endNs: Long = 0L)

/** Spans of one benchmark process, kept in memory and written out at
  * the end. When tracing is off, `span` only runs its body.
  */
final class Tracer(var on: Boolean, sc: => SparkContext) {
  val spans = mutable.ArrayBuffer[Span]()
  /** streaming progress by query runId, from the attached listener */
  val progress = mutable.Map[String, mutable.ArrayBuffer[org.apache.spark.sql.streaming.StreamingQueryProgress]]()
  /** job group -> span id; groups are "pb-<span>" or a streaming runId */
  val groupSpan = mutable.Map[String, Int]()
  private var stack: List[Span] = Nil
  var run = "setup"

  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val s = Span(spans.size, name, stack.headOption.fold(-1)(_.id), run, System.nanoTime())
      spans += s
      stack = s :: stack
      groupSpan(s"pb-${s.id}") = s.id
      sc.setJobGroup(s"pb-${s.id}", name)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(s"pb-${p.id}", p.name)
          case None    => sc.clearJobGroup()
        }
      }
    }

  /** Attach jobs of group `g` (a streaming query's runId) to the open span. */
  def adopt(g: String): Unit = if (on) stack.headOption.foreach(s => groupSpan(g) = s.id)

  def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq
  def subtree(id: Int): Set[Int] =
    children(id).flatMap(c => subtree(c.id)).toSet + id
  def secs(s: Span): Double = (s.endNs - s.startNs) / 1e9

  /** Span duration minus the part of it its child spans cover. */
  def selfSecs(s: Span): Double = {
    val iv = children(s.id).map(c => (c.startNs, c.endNs)).sortBy(_._1)
    var covered = 0L
    var curS = 0L
    var curE = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    ((s.endNs - s.startNs) - covered) / 1e9
  }

  def named(prefix: String, run: String): Seq[Span] =
    spans.filter(s => s.run == run && s.name.startsWith(prefix)).toSeq
}

/** Task, stage and job counters from Spark's own listener bus,
  * collected per job group so they attach to the span that ran them.
  */
final class SparkStats extends SparkListener {
  final class Agg {
    var jobs, stages, tasks = 0L
    var runMs, cpuNs, gcMs, schedMs, shufW, shufR, spill, peakMem = 0L
    val taskRun = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
    /** stages that updated a named accumulator, e.g. the fetch counter */
    val accStages = mutable.Map[String, mutable.Set[Int]]()
  }
  val byGroup = mutable.Map[String, Agg]()
  private val stageGroup = mutable.Map[Int, String]()

  private def agg(g: String) = byGroup.getOrElseUpdate(g, new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    agg(g).jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val a = agg(stageGroup.getOrElse(e.stageInfo.stageId, ""))
    a.stages += 1
    e.stageInfo.accumulables.values.flatMap(_.name).foreach { n =>
      a.accStages.getOrElseUpdate(n, mutable.Set()) += e.stageInfo.stageId
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = agg(stageGroup.getOrElse(e.stageId, ""))
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.schedMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime)
      a.shufW += m.shuffleWriteMetrics.bytesWritten
      a.shufR += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
      a.taskRun.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += m.executorRunTime
    }
  }

  /** Sum of the groups in `groups`, as the spark.* layer metrics over a
    * span of `wallS` seconds on `cores` cores. task_skew is taken over
    * the heaviest of the `skewStages` stages, or of all stages when the
    * groups ran none of them.
    */
  def metrics(groups: Set[String], wallS: Double, cores: Int,
      skewStages: Agg => Iterable[Int]): Map[String, Double] = synchronized {
    val as = groups.toSeq.flatMap(byGroup.get)
    def sum(f: Agg => Long) = as.map(f).sum.toDouble
    val runs = as.flatMap(_.taskRun).toMap
    val picked = as.flatMap(skewStages).filter(runs.contains)
    val stage =
      if (picked.nonEmpty) picked.maxBy(s => runs(s).sum)
      else if (runs.isEmpty) -1
      else runs.maxBy(_._2.sum)._1
    val skew = if (stage < 0) 0.0 else {
      val t = runs(stage).sorted
      val med = Stats.median(t.map(_.toDouble).toSeq)
      if (med > 0) t.last / med else 1.0
    }
    val cpuS = sum(_.cpuNs) / 1e9
    Map(
      "spark.jobs" -> sum(_.jobs),
      "spark.stages" -> sum(_.stages),
      "spark.tasks" -> sum(_.tasks),
      "spark.run_s" -> sum(_.runMs) / 1e3,
      "spark.cpu_s" -> cpuS,
      "spark.gc_s" -> sum(_.gcMs) / 1e3,
      "spark.sched_delay_s" -> sum(_.schedMs) / 1e3,
      "spark.shuffle_write_mb" -> sum(_.shufW) / 1e6,
      "spark.shuffle_read_mb" -> sum(_.shufR) / 1e6,
      "spark.spill_mb" -> sum(_.spill) / 1e6,
      "spark.peak_exec_mem_mb" -> as.map(_.peakMem).foldLeft(0L)(math.max) / 1e6,
      "spark.task_skew" -> skew,
      "spark.cpu_util" -> (if (wallS > 0) cpuS / (wallS * cores) else 0.0))
  }
}

/** Call count, busy time and payload size of an injected trait,
  * summed across executor threads through accumulators.
  */
final class Meter(sc: SparkContext, name: String) extends Serializable {
  val calls: LongAccumulator = sc.longAccumulator(s"perfbench.$name.calls")
  val busyNs: LongAccumulator = sc.longAccumulator(s"perfbench.$name.busy_ns")
  val units: LongAccumulator = sc.longAccumulator(s"perfbench.$name.units")
  def timed[A](units: A => Long)(f: => A): A = {
    val t0 = System.nanoTime()
    val r = f
    busyNs.add(System.nanoTime() - t0)
    calls.add(1)
    this.units.add(units(r))
    r
  }
}

/** Counts fetches and fetched bytes always (they define the audio
  * throughput); times them only when `timed`.
  */
final class MeteredFetcher(inner: AudioFetcher, m: Meter, timed: Boolean)
    extends AudioFetcher {
  def listVideoIds(channelUrl: String): Seq[String] = inner.listVideoIds(channelUrl)
  def fetchAudio(videoId: String): (String, Array[Byte]) =
    if (timed) m.timed[(String, Array[Byte])](_._2.length.toLong)(inner.fetchAudio(videoId))
    else {
      val r = inner.fetchAudio(videoId)
      m.calls.add(1); m.units.add(r._2.length.toLong)
      r
    }
}

final class TimedClassifier(inner: AudioClassifier, m: Meter) extends AudioClassifier {
  def classifyBatch(batch: Seq[Array[Double]]): Seq[Seq[LabelScore]] =
    m.timed[Seq[Seq[LabelScore]]](_ => batch.size.toLong)(inner.classifyBatch(batch))
}

/** Publisher decorator: calls, failed attempts and time spent publishing. */
final class TimedPublisher(inner: Publisher) extends Publisher {
  var calls, failures = 0L
  var busyNs = 0L
  def publish(batchId: Long, branch: String, files: DataFrame): Either[String, Long] = {
    val t0 = System.nanoTime()
    val r = inner.publish(batchId, branch, files)
    busyNs += System.nanoTime() - t0
    calls += 1
    if (r.isLeft) failures += 1
    r
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest rank with at least ten samples beyond it:
    * (value, percentile, samples); the median when there are fewer.
    */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    if (s.length < 11) (median(s), 50.0, s.length)
    else {
      val i = s.length - 11
      (s(i), 100.0 * (i + 1) / s.length, s.length)
    }
  }
}
