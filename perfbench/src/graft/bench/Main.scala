package graft.bench

import java.io.File
import java.lang.management.ManagementFactory

import graft.core.Graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

import scala.collection.mutable

/** Benchmark process for one workload (see perfbench/README.md):
  *
  *  1. set-up: JVM start, session build, one pass of the workload on
  *     the small warm-up input;
  *  2. closed loop of measured iterations until `--seconds` of them have
  *     run (at least one); with `--trace 1` every second iteration is
  *     traced and the others, at least two, give the untraced baseline
  *     for the overhead;
  *  3. output checks and digests, then the layer calls (traced only);
  *  4. result.json and trace.jsonl under `--out`.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val wl = Workload(a("workload"))
    val (in, warm, out) = (new File(a("input")), new File(a("warm")), new File(a("out")))
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cores = Graft.cpus.toInt
    val ops = new Ops
    var spark: SparkSession = null
    val tr = new Tracer(false, spark.sparkContext)
    val stats = new SparkStats
    def ctx = new Ctx(spark, ops, tr)

    // ---- 1. set-up: JVM start -> session ready -> warm-up pass done
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val t0 = System.nanoTime() - (System.currentTimeMillis() - jvmStartMs) * 1000000L
    spark = Graft.session("perfbench")
    spark.sparkContext.setLogLevel("WARN")
    val t1 = System.nanoTime()
    val warmDir = new File(out, "warm")
    ops("warmup")(wl.run(ctx, warm, warmDir))
    wl.cleanup(ctx, warmDir)
    val setup = ((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9)
    System.err.println(f"[perfbench] setup: session ${setup._1}%.2f s, warm-up ${setup._2}%.2f s")
    if (traced) {
      spark.sparkContext.addSparkListener(stats)
      spark.streams.addListener(new StreamingQueryListener {
        override def onQueryStarted(e: QueryStartedEvent): Unit = ()
        override def onQueryProgress(e: QueryProgressEvent): Unit = tr.progress.synchronized {
          tr.progress.getOrElseUpdate(e.progress.runId.toString, mutable.ArrayBuffer()) += e.progress
        }
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      })
    }

    // ---- 2. measured iterations
    val iters = mutable.ArrayBuffer[(Boolean, Iter, String)]()
    val digests = mutable.LinkedHashSet[String]()
    var measured = 0.0
    var i = 0
    // traced runs interleave untraced, traced, untraced at least, so the
    // overhead compares iterations that are equally warm
    def need = iters.count(!_._1) < (if (traced) 2 else 1) || (traced && !iters.exists(_._1))
    while ((measured < seconds || need) && ops.failed == 0) {
      tr.on = traced && i % 2 == 1
      tr.run = s"iter$i"
      val dir = new File(out, s"iter$i")
      wl.run(ctx, in, dir).foreach { it =>
        measured += it.wallS
        System.err.println(f"[perfbench] iter$i${if (tr.on) " traced" else ""}: ${it.wallS}%.3f s")
        val d = wl.digest(ctx, dir)
        digests += d
        iters += ((tr.on, it, dir.getName))
      }
      tr.on = false
      if (i > 0) { // keep the last iteration's outputs for the checks
        val prev = new File(out, s"iter${i - 1}")
        wl.cleanup(ctx, prev)
        deleteTree(prev)
      }
      i += 1
    }

    // ---- 3. checks, layer calls
    val last = new File(out, s"iter${i - 1}")
    val failedChecks = mutable.ArrayBuffer[String]()
    if (iters.isEmpty || iters.last._3 != last.getName) failedChecks += "last iteration produced no output"
    else ops("checks")(wl.check(ctx, in, last)).foreach(failedChecks ++= _)
    if (digests.size > 1) failedChecks += s"outputs differ between iterations (${digests.size} digests)"
    val plain = iters.filterNot(_._1).map(_._2).toSeq
    val tracedIters = iters.filter(_._1).map(_._2).toSeq
    val layers = mutable.Map[String, Double]()
    if (traced && ops.failed == 0 && failedChecks.isEmpty) {
      tr.on = true
      tr.run = "layers"
      ops("layers")(tr.span("layers")(wl.layers(ctx, in, last)))
        .foreach(layers ++= _)
      tr.on = false
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      layers ++= layerMetrics(tr, stats, iters.toSeq, cores, setup)
    }
    wl.cleanup(ctx, last)

    // ---- 4. results
    val commits = plain.flatMap(_.commits)
    val (tailV, tailP, tailN) = Stats.tail(commits)
    val wall = Stats.median(plain.map(_.wallS))
    val e2e = Seq(
      "setup_s" -> (setup._1 + setup._2),
      "wall_s" -> wall,
      "docs_per_s" -> Stats.median(plain.map(it => it.items / it.wallS)),
      "commit_p50_s" -> Stats.median(commits),
      "out_bytes_per_in_byte" -> Stats.median(plain.map(it => it.outBytes / it.inBytes)),
      "peak_rss_mb" -> peakRssMb)
    val extra = Seq(
      "audio_s_per_s" -> Stats.median(plain.map(it => it.audioS / it.wallS)),
      "commit_tail_s" -> tailV,
      "commit_tail_pct" -> tailP,
      "commit_samples" -> tailN.toDouble,
      "error_rate" -> ops.failed.toDouble / math.max(1L, ops.attempted),
      "iterations" -> plain.size.toDouble,
      "traced_iterations" -> tracedIters.size.toDouble)
    if (traced) layers("trace.overhead_s") =
      if (tracedIters.isEmpty) 0.0 else Stats.median(tracedIters.map(_.wallS)) - wall
    if (traced) writeTrace(new File(out, "trace.jsonl"), tr, stats)
    spark.stop()
    def obj(kv: Iterable[(String, Double)]) =
      kv.map { case (k, v) => s""""$k":${if (v.isNaN || v.isInfinite) "null" else v.toString}""" }
        .mkString("{", ",", "}")
    def str(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", " ") + "\""
    val json =
      s"""{"attempted":${ops.attempted},"failed":${ops.failed},""" +
        s""""errors":${ops.errors.map(str).mkString("[", ",", "]")},""" +
        s""""failed_checks":${failedChecks.map(str).mkString("[", ",", "]")},""" +
        s""""digest":${str(digests.headOption.getOrElse(""))},""" +
        s""""end_to_end":${obj(e2e)},"extra":${obj(extra)},"per_layer":${obj(layers)}}"""
    java.nio.file.Files.write(new File(out, "result.json").toPath, json.getBytes("UTF-8"))
  }

  /** Per-layer values of the traced iterations (median per key), the
    * Spark listener totals over each traced iteration's spans, and the
    * set-up split.
    */
  private def layerMetrics(tr: Tracer, stats: SparkStats, iters: Seq[(Boolean, Iter, String)],
      cores: Int, setup: (Double, Double)): Map[String, Double] = {
    val per = iters.filter(_._1).map { case (_, it, run) =>
      val root = tr.spans.find(s => s.run == run && s.parent < 0).get
      val ids = tr.subtree(root.id)
      val groups = tr.groupSpan.collect { case (g, s) if ids(s) => g }.toSet
      val fetchStages = (a: SparkStats#Agg) =>
        a.accStages.collect { case (n, st) if n == "perfbench.fetch.calls" => st }.flatten
      val sp = stats.metrics(groups, tr.secs(root), cores, fetchStages)
      val loop = stats.synchronized {
        groups.toSeq.flatMap(stats.byGroup.get).map { a =>
          fetchStages(a).toSeq.flatMap(a.taskRun.get).flatten.sum
        }.sum / 1e3
      }
      Map("pipeline.loop_s" -> loop,
        "io.write_s" -> tr.named("io.write", run).map(tr.secs).sum) ++ sp ++ it.layer
    }
    val keys = per.flatMap(_.keys).distinct
    keys.map(k => k -> Stats.median(per.flatMap(_.get(k)))).toMap ++ Map(
      "core.session_s" -> setup._1,
      "core.warmup_s" -> setup._2,
      "trace.spans" -> tr.spans.size.toDouble)
  }

  private def writeTrace(f: File, tr: Tracer, stats: SparkStats): Unit = {
    val sb = new StringBuilder
    tr.spans.foreach { s =>
      val groups = tr.groupSpan.collect { case (g, id) if id == s.id => g }
      val a = stats.synchronized(groups.flatMap(stats.byGroup.get).toSeq)
      sb.append(s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"run":"${s.run}",""")
        .append(s""""start_ns":${s.startNs},"end_ns":${s.endNs},"dur_s":${tr.secs(s)},"self_s":${tr.selfSecs(s)},""")
        .append(s""""jobs":${a.map(_.jobs).sum},"tasks":${a.map(_.tasks).sum},"task_run_s":${a.map(_.runMs).sum / 1e3}}""")
        .append('\n')
    }
    java.nio.file.Files.write(f.toPath, sb.toString.getBytes("UTF-8"))
  }

  private def peakRssMb: Double = {
    val s = scala.io.Source.fromFile("/proc/self/status")
    try s.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(0.0)
    finally s.close()
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
