package graft.bench

import java.io.File

import graft.dedup.Dedup
import graft.io.{FakeAudioFetcher, LocalPublisher, Retry, Sinks}
import graft.layout.Layout
import graft.meta.ChannelMeta
import graft.pipeline.{FileWeightsClassifier, Pipeline}
import graft.schema.Schemas
import graft.signal.Signal
import graft.streaming.Incremental
import graft.text.{CurationPipeline, TextAnalysis}
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Attempted and failed operations (runs, batch commits, publish
  * calls). A thrown operation is recorded as failed and yields None,
  * so its time is never used.
  */
final class Ops {
  var attempted, failed = 0L
  val errors = mutable.ArrayBuffer[String]()
  def apply[A](what: String)(f: => A): Option[A] = {
    attempted += 1
    try Some(f)
    catch {
      case e: Throwable =>
        failed += 1
        errors += s"$what: $e"
        e.printStackTrace()
        None
    }
  }
}

/** What one iteration produced. `commits` are per-commit latencies (one
  * per iteration for the batch workloads); `layer` holds the per-layer
  * values measured on the iteration's own path (traced iterations).
  */
final case class Iter(wallS: Double, items: Double, inBytes: Double,
    outBytes: Double, commits: Seq[Double], audioS: Double,
    layer: Map[String, Double])

final class Ctx(val spark: SparkSession, val ops: Ops, val tr: Tracer) {
  def sc = spark.sparkContext
}

trait Workload {
  /** One closed-loop iteration: inputs in `in`, outputs under `out`. */
  def run(c: Ctx, in: File, out: File): Option[Iter]
  /** Names of the failed output checks (empty when all pass). */
  def check(c: Ctx, in: File, out: File): Seq[String]
  /** Order-independent digest of everything the iteration left on disk. */
  def digest(c: Ctx, out: File): String
  /** Traced only: time each layer's public functions on this input. */
  def layers(c: Ctx, in: File, out: File): Map[String, Double]
  /** Release what an iteration left behind (tables, caches). */
  def cleanup(c: Ctx, out: File): Unit = c.spark.catalog.clearCache()
}

object Workload {
  def apply(name: String): Workload = name match {
    case "audio_ingest"   => AudioIngest
    case "text_curation"  => TextCuration
    case "corpus_refresh" => CorpusRefresh
    case other            => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def dirFiles(d: File): Seq[File] =
    if (!d.exists) Nil
    else if (d.isFile) Seq(d)
    else d.listFiles.toSeq.flatMap(dirFiles)
      .filterNot(f => f.getName.startsWith(".") || f.getName.startsWith("_"))

  def bytes(ds: File*): Double = ds.flatMap(dirFiles).map(_.length).sum.toDouble

  def secs[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Execute a plan completely (every row, every projection) and
    * discard the result: the timing face of a layer call.
    */
  def drain(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Drain `df` and count its rows in the same job. */
  def drainCount(df: DataFrame, name: String): Long = {
    val o = Observation(name)
    drain(df.observe(o, count(lit(1)).as("n")))
    o.get("n").asInstanceOf[Long]
  }

  /** Sorted per-row hashes of every frame, hashed again. */
  def digestOf(frames: DataFrame*): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    frames.foreach { df =>
      val hs = df.select(xxhash64(to_json(struct(df.columns.sorted.map(col): _*))))
        .collect().map(_.getLong(0)).sorted
      md.update(s"${hs.length};".getBytes)
      hs.foreach(h => md.update(java.lang.Long.toString(h).getBytes))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  def params(in: File): Map[String, Double] = {
    val s = scala.io.Source.fromFile(new File(in, "params.json"))
    try "\"([a-z_]+)\":\\s*([0-9.eE+-]+)".r.findAllMatchIn(s.mkString)
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
    finally s.close()
  }

  val docSchema = "doc_id LONG, text STRING"
  val curation = CurationPipeline.Config()

  /** The curation gate's row predicate (CurationPipeline's defaults). */
  def gatePred(cfg: CurationPipeline.Config = curation): Column =
    col("lang_pred").isin(cfg.allowedLangs: _*) && col("quality") >= cfg.minQuality &&
      col("n_tok") >= cfg.minTokens

  /** Layer calls shared by the two text workloads: gate, exact dedup,
    * redaction, near-dup and chunk/pack.
    */
  def textLayers(c: Ctx, docs: DataFrame): Map[String, Double] = {
    val tr = c.tr
    val nIn = docs.count()
    val gatedDf = TextAnalysis.withGateSignals(docs, "text").filter(gatePred())
    val (nGated, gateS) = secs(tr.span("text.gate")(drainCount(gatedDf, "gate")))
    val gated = gatedDf.select("doc_id", "text").cache()
    gated.count()
    val exact = Dedup.exact(gated, "doc_id", "text")
    val (nGroups, exactS) = secs(tr.span("dedup.exact")(drainCount(exact, "exact")))
    val kept = gated.join(exact.select("doc_id"), Seq("doc_id"), "left_semi").cache()
    kept.count()
    val (_, redactS) = secs(tr.span("text.redact")(
      drain(kept.select(col("doc_id"), TextAnalysis.redactPii(col("text")).as("t")))))
    val (pairs, lshS) = secs(tr.span("dedup.lsh")(
      Dedup.minHashLshPairs(kept, "doc_id", "text", 3, 8, 4, 0.8)))
    val verified = pairs.count()
    val (clusters, clusterS) = secs(tr.span("dedup.cluster") {
      val cl = Dedup.clusterize(pairs, "doc_id"); cl.count(); cl
    })
    // candidates of the same banding the LSH call uses: pairs sharing
    // at least one (band, bucket) before verification
    val buckets = kept
      .select(col("doc_id"), Dedup.shingleHashesUdf(3)(col("text")).as("xs"))
      .filter(size(col("xs")) > 0)
      .select(col("doc_id"), Dedup.minHashSigUdf(32)(col("xs")).as("sig"))
      .select(col("doc_id"), explode(array(Dedup.bandKeyStructs(8, 4): _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.h").as("h"))
      .cache()
    val cand = buckets.select(col("doc_id").as("a"), col("band"), col("h"))
      .join(buckets.select(col("doc_id").as("b"), col("band"), col("h")), Seq("band", "h"))
      .filter(col("a") < col("b")).select("a", "b").distinct().count()
    val maxBucket = buckets.groupBy("band", "h").count().agg(max("count")).first().getLong(0)
    val chunkDoc = kept.select(col("doc_id"), TextAnalysis.redactPii(col("text")).as("t"))
    val (_, chunkS) = secs(tr.span("text.chunk_pack") {
      drain(TextAnalysis.chunkByTokens(chunkDoc, "doc_id", "t", 256, 32))
      drain(TextAnalysis.packSequences(chunkDoc, "doc_id", "t", 2048L))
    })
    pairs.unpersist(); clusters.unpersist(); buckets.unpersist()
    gated.unpersist(); kept.unpersist()
    Map(
      "text.gate_s" -> gateS,
      "text.gate_pass_ratio" -> nGated.toDouble / math.max(1L, nIn),
      "text.redact_s" -> redactS,
      "dedup.exact_s" -> exactS,
      "dedup.exact_removed_ratio" -> (1.0 - nGroups.toDouble / math.max(1L, nGated)),
      "dedup.lsh_s" -> lshS,
      "dedup.verified_pairs" -> verified.toDouble,
      "dedup.candidate_pairs" -> cand.toDouble,
      "dedup.pair_precision" -> (if (cand > 0) verified.toDouble / cand else 0.0),
      "dedup.max_bucket_docs" -> maxBucket.toDouble,
      "dedup.cluster_s" -> clusterS,
      "text.chunk_pack_s" -> chunkS)
  }
}

import Workload._

/** The reference's own flow: channel catalog -> quota gate -> resume
  * anti-join -> per-channel fetch/VAD/score loop -> selection -> nested
  * meta -> publish, plus the skip log.
  */
object AudioIngest extends Workload {
  // q_pipeline_e2e's Config: the default one turns every synthetic
  // video into TOO_SHORT and times only the abort path
  val cfg = Pipeline.Config(minSnr = 12.0, minSpeechScore = 0.5,
    minVideoDurationS = 4, shortVideoS = 3)
  val sampleRate = 16000
  // The exported linear-probe head with the Speech bias raised from -2
  // to +2. The shipped head scores every synthetic burst as music, so
  // nothing would be selected; with this one clean bursts score as
  // speech and noisy ones (higher zero-crossing rate) do not.
  val labels = Array("Speech", "Music", "Sound effect", "Silence")
  val weights = Array(
    Array(2.0, 40.0, -30.0, 5.0, 8.0, 4.0, 2.0, 1.0),
    Array(-2.5, 35.0, 25.0, 4.0, 2.0, 4.0, 6.0, 8.0),
    Array(-0.5, -10.0, 10.0, 2.0, 0.0, 0.0, 0.0, 0.0),
    Array(1.5, -60.0, -5.0, -10.0, -4.0, -4.0, -4.0, -4.0))

  private def inputs(c: Ctx, in: File) = (
    c.spark.read.schema(Schemas.channels).json(new File(in, "channels.jsonl").getPath),
    c.spark.read.schema("video_id STRING").json(new File(in, "ingested.jsonl").getPath))

  def run(c: Ctx, in: File, out: File): Option[Iter] = {
    val tr = c.tr
    val burst = params(in)("burst_s").toInt
    out.mkdirs()
    val head = new File(out, "probe_head.tsv").getPath
    FileWeightsClassifier.write(head, labels, weights) // the model artifact
    val fm = new Meter(c.sc, "fetch")
    val cm = new Meter(c.sc, "classify")
    val fetcher = new MeteredFetcher(new FakeAudioFetcher(burst), fm, tr.on)
    val clf =
      if (tr.on) new TimedClassifier(FileWeightsClassifier(head), cm)
      else FileWeightsClassifier(head)
    val pub = new TimedPublisher(new LocalPublisher(new File(out, "publish").getPath))
    val (done, wall) = secs(c.ops("audio_ingest.run") {
      tr.span("iteration") {
        val (channels, ingested) = inputs(c, in)
        val o = tr.span("pipeline.run")(
          Pipeline.run(c.spark, channels, ingested, fetcher, clf, cfg))
        tr.span("io.write.segments")(
          o.segments.write.mode("overwrite").parquet(new File(out, "segments").getPath))
        tr.span("io.publish") {
          c.ops("publish")(Retry.withRetry(3, 0L)(pub.publish(0L, "main", o.metaSelected))
            .fold(e => throw new IllegalStateException(e), identity))
            .getOrElse(throw new IllegalStateException("publish failed"))
        }
        tr.span("io.write.skips")(Sinks.writeSkipLog(o.skips.toDF(), "channel_id", "reason",
          new File(out, "skips").getPath))
        o.unpersist()
      }
    })
    done.map { _ =>
      val outs = Seq("segments", "publish", "skips").map(new File(out, _))
      val fetchMb = fm.units.value / 1e6
      val layer = if (!tr.on) Map.empty[String, Double] else {
        val seg = c.spark.read.parquet(new File(out, "segments").getPath)
        val nSeg = seg.count()
        val skips = c.spark.read.text(new File(out, "skips").getPath)
        val aborts = skips.filter(!col("value").endsWith("|NOT_ENOUGH_VIDEOS")).count()
        val admitted = inputs(c, in)._1.filter(col("n_videos") >= cfg.channelMinVideos).count()
        Map(
          "io.fetch_calls" -> fm.calls.value.toDouble,
          "io.fetch_busy_s" -> fm.busyNs.value / 1e9,
          "io.fetch_mb" -> fetchMb,
          "io.publish_calls" -> pub.calls.toDouble,
          "io.publish_retries" -> pub.failures.toDouble,
          "io.publish_s" -> pub.busyNs / 1e9,
          "pipeline.classify_calls" -> cm.calls.value.toDouble,
          "pipeline.classify_busy_s" -> cm.busyNs.value / 1e9,
          "pipeline.segments_per_classify" -> cm.units.value.toDouble / math.max(1L, cm.calls.value),
          "pipeline.selected_ratio" -> seg.filter(col("selected")).count().toDouble / math.max(1L, nSeg),
          "pipeline.channel_abort_ratio" -> aborts.toDouble / math.max(1L, admitted),
          "io.files_written" -> outs.flatMap(dirFiles).size.toDouble,
          "io.mb_written" -> bytes(outs: _*) / 1e6)
      }
      // PCM16 mono: two bytes per sample
      Iter(wall, fm.calls.value.toDouble, fm.units.value.toDouble, bytes(outs: _*),
        Seq(wall), fm.units.value / 2.0 / sampleRate, layer)
    }
  }

  def check(c: Ctx, in: File, out: File): Seq[String] = {
    val seg = c.spark.read.parquet(new File(out, "segments").getPath)
    val selected = seg.filter(col("selected"))
      .select(col("channel_id"), col("video_id"), col("vad.start").as("start"), col("vad.end").as("end"))
    val published = c.spark.read.parquet(new File(out, "publish/main/batch_0").getPath)
      .select(col("channel_id"), explode(col("videos")).as(Seq("video_id", "segs")))
      .select(col("channel_id"), col("video_id"), explode(col("segs")).as("s"))
      .select(col("channel_id"), col("video_id"), col("s.start").as("start"), col("s.end").as("end"))
    val (channels, ingested) = inputs(c, in)
    val skips = c.spark.read.text(new File(out, "skips").getPath)
    val rule = col("snr") >= cfg.minSnr && col("speech_score") >= cfg.minSpeechScore
    Seq(
      "segments non-empty" -> (seg.count() > 0),
      "some segments selected" -> (selected.count() > 0),
      "selected iff snr and score pass" -> (seg.filter(col("selected") =!= rule).count() == 0),
      "published rows equal selected rows" ->
        (published.exceptAll(selected).count() == 0 && selected.exceptAll(published).count() == 0),
      "no resumed video re-ingested" -> (seg.join(ingested, Seq("video_id")).count() == 0),
      "every small channel in the skip log" ->
        (skips.filter(col("value").endsWith("|NOT_ENOUGH_VIDEOS")).count() ==
          channels.filter(col("n_videos") < cfg.channelMinVideos).count())
    ).collect { case (n, false) => n }
  }

  def digest(c: Ctx, out: File): String = digestOf(
    c.spark.read.parquet(new File(out, "segments").getPath),
    c.spark.read.parquet(new File(out, "publish/main/batch_0").getPath),
    c.spark.read.text(new File(out, "skips").getPath))

  def layers(c: Ctx, in: File, out: File): Map[String, Double] = {
    val tr = c.tr
    // the workload's own waveforms: the first videos of its channels
    val burst = params(in)("burst_s").toInt
    val fetcher = new FakeAudioFetcher(burst)
    val urls = inputs(c, in)._1.filter(col("n_videos") >= cfg.channelMinVideos)
      .select("url").collect().map(_.getString(0)).take(6)
    val audio = urls.toSeq.flatMap(u => fetcher.listVideoIds(u).take(4))
      .map(fetcher.fetchAudio).filter(_._1 == "OK").map(_._2)
    var decodeNs, vadNs, snrNs, nSeg = 0L
    var samples = 0L
    tr.span("signal") {
      audio.foreach { bytes =>
        val t0 = System.nanoTime()
        val (_, wav) = Signal.wavDecode(bytes)
        val t1 = System.nanoTime()
        val segs = Signal.energyVad(wav)
        val t2 = System.nanoTime()
        segs.foreach(s => Signal.wadaSnr(wav.slice(s.start.toInt, s.end.toInt)))
        snrNs += System.nanoTime() - t2
        decodeNs += t1 - t0; vadNs += t2 - t1
        nSeg += segs.size; samples += wav.length
      }
    }
    val minutes = samples / sampleRate / 60.0
    val seg = c.spark.read.parquet(new File(out, "segments").getPath)
    val (nMeta, metaS) = secs(tr.span("meta.build")(
      drainCount(ChannelMeta.buildSelected(seg), "meta")))
    Map(
      "signal.decode_s_per_audio_min" -> decodeNs / 1e9 / minutes,
      "signal.vad_s_per_audio_min" -> vadNs / 1e9 / minutes,
      "signal.snr_s_per_audio_min" -> snrNs / 1e9 / minutes,
      "signal.segments_per_audio_min" -> nSeg / minutes,
      "meta.build_s" -> metaS,
      "meta.channels" -> nMeta.toDouble)
  }
}

/** One large, join-heavy batch: the curation funnel with paragraph
  * dedup and LSH near-dup, then chunks and the training-shard sink.
  */
object TextCuration extends Workload {
  val cfg = CurationPipeline.Config(paragraphDedupWords = Some(32)) // q_text_curation_e2e's
  val tokensPerShard = 32768L

  private def docs(c: Ctx, in: File) =
    c.spark.read.schema(docSchema).json(new File(in, "docs.jsonl").getPath)

  def run(c: Ctx, in: File, out: File): Option[Iter] = {
    val tr = c.tr
    out.mkdirs()
    val shards = new File(out, "shards")
    val chunks = new File(out, "chunks")
    val (res, wall) = secs(c.ops("text_curation.run") {
      tr.span("iteration") {
        val o = tr.span("curation.run")(CurationPipeline.run(docs(c, in), "doc_id", "text", cfg))
        tr.span("io.write.chunks")(o.chunks.write.mode("overwrite").parquet(chunks.getPath))
        val summary = tr.span("io.write.shards")(Sinks.writeTrainingShards(
          o.docs.select("doc_id", "lang_pred", "clean_text"), "doc_id", "clean_text",
          shards.getPath, tokensPerShard).collect())
        val funnel = o.funnel.map { case (k, v) => s""""$k":$v""" }.mkString(",")
        val tokens = summary.map(_.getAs[Long]("n_tokens")).sum
        val maxEnd = summary.map(_.getAs[Long]("max_end")).max
        val packed = o.packing.agg(max("end_off")).first().getLong(0)
        java.nio.file.Files.write(new File(out, "funnel.json").toPath,
          s"""{"funnel":{$funnel},"shard_tokens":$tokens,"shard_max_end":$maxEnd,"packed_tokens":$packed}"""
            .getBytes("UTF-8"))
        o.unpersist()
        o.funnel
      }
    })
    res.map { funnel =>
      val inBytes = params(in)("in_text_bytes")
      val outs = Seq(shards, chunks)
      val layer = if (!tr.on) Map.empty[String, Double] else {
        Map(
          "io.files_written" -> outs.flatMap(dirFiles).size.toDouble,
          "io.mb_written" -> bytes(outs: _*) / 1e6,
          "layout.append_s" -> tr.named("io.write.shards", tr.run).map(tr.secs).sum,
          "layout.files_per_commit" -> dirFiles(shards).size.toDouble,
          "layout.mb_per_commit" -> bytes(shards) / 1e6)
      }
      Iter(wall, funnel.head._2.toDouble, inBytes, bytes(outs: _*), Seq(wall), 0.0, layer)
    }
  }

  private def funnelJson(out: File): Map[String, Long] = {
    val s = new String(java.nio.file.Files.readAllBytes(new File(out, "funnel.json").toPath), "UTF-8")
    "\"([a-z_]+)\":([0-9]+)".r.findAllMatchIn(s).map(m => m.group(1) -> m.group(2).toLong).toMap
  }

  def check(c: Ctx, in: File, out: File): Seq[String] = {
    val f = funnelJson(out)
    val stages = Seq("input", "lang_quality_gate", "exact_dedup", "near_paragraph_dedup").map(f)
    val shards = c.spark.read.parquet(new File(out, "shards").getPath)
    val gatedDistinct = TextAnalysis.withGateSignals(docs(c, in), "text").filter(gatePred(cfg))
      .select(md5(col("text"))).distinct().count()
    val nShard = shards.count()
    Seq(
      "funnel never increases" -> stages.sliding(2).forall { case Seq(a, b) => b <= a },
      "exact_dedup equals distinct gated md5s" -> (f("exact_dedup") == gatedDistinct),
      "no doc id twice" -> (shards.select("doc_id").distinct().count() == nShard),
      "shards hold every survivor" -> (nShard == stages.last && nShard > 0),
      "shard token sums equal the packed total" ->
        (f("shard_tokens") == f("packed_tokens") && f("shard_max_end") == f("packed_tokens")),
      "chunks non-empty" -> (c.spark.read.parquet(new File(out, "chunks").getPath).count() > 0)
    ).collect { case (n, false) => n }
  }

  def digest(c: Ctx, out: File): String = digestOf(
    c.spark.read.parquet(new File(out, "shards").getPath),
    c.spark.read.parquet(new File(out, "chunks").getPath))

  def layers(c: Ctx, in: File, out: File): Map[String, Double] = {
    val m = textLayers(c, docs(c, in))
    val (_, readS) = secs(c.tr.span("layout.readback")(
      c.spark.read.parquet(new File(out, "shards").getPath).agg(count(lit(1)), max("end_off")).collect()))
    m + ("layout.readback_s" -> readS)
  }
}

/** Resume-and-publish: each batch lands as a file and one AvailableNow
  * refresh run commits it into a bucketed table; a read-back rollup
  * ends the iteration.
  */
object CorpusRefresh extends Workload {
  val buckets = 8

  private def batchFiles(in: File) =
    new File(in, "batches").listFiles.filter(_.getName.endsWith(".jsonl")).sortBy(_.getName).toSeq
  private def history(c: Ctx, in: File) =
    c.spark.read.schema("doc_id LONG").csv(new File(in, "history.csv").getPath)
  private def batchDocs(c: Ctx, files: Seq[File]) =
    c.spark.read.schema(docSchema + ", event_s LONG").json(files.map(_.getPath): _*)
  def table(out: File) = "refresh_" + out.getName.replaceAll("[^A-Za-z0-9]", "_")

  def run(c: Ctx, in: File, out: File): Option[Iter] = {
    val tr = c.tr
    val spark = c.spark
    val landing = new File(out, "landing")
    landing.mkdirs()
    val ckpt = new File(out, "checkpoint").getPath
    val tbl = table(out)
    val hist = history(c, in)
    val stream = spark.readStream.schema(docSchema + ", event_s LONG").json(landing.getPath)
      .withColumn("event_time", timestamp_seconds(col("event_s")))
    val commits = mutable.ArrayBuffer[Double]()
    val perCommit = mutable.ArrayBuffer[Map[String, Double]]()
    def tableDir = new File(spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), tbl)
    val (ok, wall) = secs(c.ops("corpus_refresh.run") {
      tr.span("iteration") {
        batchFiles(in).zipWithIndex.foreach { case (f, b) =>
          val before = if (tr.on) (dirFiles(tableDir).size, bytes(tableDir)) else (0, 0.0)
          val tmp = new File(out, f.getName)
          java.nio.file.Files.copy(f.toPath, tmp.toPath)
          java.nio.file.Files.move(tmp.toPath, new File(landing, f.getName).toPath,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          val t0 = System.nanoTime() // the batch has landed
          c.ops("commit") {
            tr.span(s"commit.$b") {
              val q = Incremental.refreshStream(stream, hist, "doc_id", "text", "event_time",
                tbl, ckpt, buckets = buckets)
              tr.adopt(q.runId.toString)
              q.awaitTermination()
              q.exception.foreach(e => throw e)
              val lat = (System.nanoTime() - t0) / 1e9
              commits += lat
              System.err.println(f"[perfbench] commit $b: $lat%.3f s")
              if (tr.on) {
                org.apache.spark.PerfbenchBus.drain(c.sc)
                val ps = tr.progress.synchronized(tr.progress.getOrElse(q.runId.toString, Nil).toSeq)
                def d(k: String) = ps.map(p => Option(p.durationMs.get(k)).fold(0L)(_.longValue)).sum / 1e3
                val last = ps.lastOption.toSeq.flatMap(_.stateOperators)
                perCommit += Map(
                  "streaming.query_start_s" -> (lat - d("triggerExecution")),
                  "streaming.add_batch_s" -> d("addBatch"),
                  "streaming.planning_s" -> d("queryPlanning"),
                  "streaming.wal_commit_s" -> (d("walCommit") + d("commitOffsets")),
                  "streaming.state_rows" -> last.map(_.numRowsTotal).sum.toDouble,
                  "streaming.state_mb" -> last.map(_.memoryUsedBytes).sum / 1e6,
                  "layout.files_per_commit" -> (dirFiles(tableDir).size - before._1).toDouble,
                  "layout.mb_per_commit" -> (bytes(tableDir) - before._2) / 1e6)
              }
            }
          }.getOrElse(throw new IllegalStateException(s"commit $b failed"))
        }
        val rollup = tr.span("layout.readback")(Layout.readTable(spark, tbl)
          .agg(count(lit(1)).as("docs"), sum(length(col("clean_text"))).as("chars"),
            countDistinct(col("lang_pred")).as("langs")).first())
        java.nio.file.Files.write(new File(out, "rollup.json").toPath,
          s"""{"docs":${rollup.getLong(0)},"chars":${rollup.getLong(1)},"langs":${rollup.getLong(2)}}"""
            .getBytes("UTF-8"))
      }
    })
    ok.map { _ =>
      val p = params(in)
      val docsIn = p("batches") * p("batch_docs")
      val layer = if (!tr.on) Map.empty[String, Double] else {
        val agg = perCommit.flatMap(_.keys).distinct.map(k => k -> Stats.median(perCommit.map(_(k)).toSeq)).toMap
        agg ++ Map(
          "io.write_s" -> perCommit.map(_("streaming.add_batch_s")).sum,
          "io.files_written" -> dirFiles(tableDir).size.toDouble,
          "io.mb_written" -> bytes(tableDir) / 1e6,
          "layout.readback_s" -> tr.named("layout.readback", tr.run).map(tr.secs).sum)
      }
      Iter(wall, docsIn, p("in_text_bytes"), bytes(tableDir), commits.toSeq, 0.0, layer)
    }
  }

  /** Batch replay of the same batches: exact history anti-join, the
    * same gate, distinct content.
    */
  def check(c: Ctx, in: File, out: File): Seq[String] = {
    val t = Layout.readTable(c.spark, table(out))
    val n = t.count()
    val hist = history(c, in)
    val replay = TextAnalysis.withGateSignals(
      batchDocs(c, batchFiles(in)).join(hist, Seq("doc_id"), "left_anti"), "text")
      .filter(gatePred()).select(md5(col("text"))).distinct().count()
    Seq(
      "table non-empty" -> (n > 0),
      "no history id in the table" -> (t.join(hist, Seq("doc_id")).count() == 0),
      "row count equals the batch replay" -> (n == replay)
    ).collect { case (name, false) => name }
  }

  // which of two same-content rows of one micro-batch survives is not
  // fixed, so the digest covers content, not ids
  def digest(c: Ctx, out: File): String =
    digestOf(Layout.readTable(c.spark, table(out)).select("lang_pred", "clean_text"))

  override def cleanup(c: Ctx, out: File): Unit = {
    Layout.dropWithLocation(c.spark, table(out))
    super.cleanup(c, out)
  }

  def layers(c: Ctx, in: File, out: File): Map[String, Double] = {
    val tr = c.tr
    val spark = c.spark
    val files = batchFiles(in)
    val hist = history(c, in)
    val nHist = hist.count()
    val batch = batchDocs(c, files).select("doc_id", "text")
    val (_, bloomS) = secs(tr.span("dedup.bloom")(drain(
      Dedup.bloomAntiJoin(batch, hist, "doc_id", expectedItems = math.max(1000000L, nHist)))))
    // the same filter the front door builds, probed row by row
    val bf = hist.stat.bloomFilter("doc_id", math.max(1000000L, nHist), 0.01)
    val histIds = hist.collect().map(_.getLong(0)).toSet
    val ids = batch.select("doc_id").collect().map(_.getLong(0))
    val flagged = ids.filter(i => bf.mightContainLong(i))
    // near-dup and chunk/pack are off this workload's own path; they are
    // timed here so every text and dedup layer is measured on a gated
    // workload
    val novel = batch.join(hist, Seq("doc_id"), "left_anti")
    val m = textLayers(c, novel)
    // bucketed appends of the curated batches, one call per batch
    val tbl = "refresh_layer_probe"
    val curated = files.map { f =>
      val d = TextAnalysis.withGateSignals(batchDocs(c, Seq(f)).join(hist, Seq("doc_id"), "left_anti"), "text")
        .filter(gatePred())
        .select(col("doc_id"), col("lang_pred"), TextAnalysis.redactPii(col("text")).as("clean_text"))
        .cache()
      d.count(); d
    }
    Layout.writeBucketed(curated.head, tbl, "doc_id", buckets)
    val appends = curated.tail.map(d => secs(tr.span("layout.append")(Layout.appendBucketed(d, tbl)))._2)
    Layout.dropWithLocation(spark, tbl)
    curated.foreach(_.unpersist())
    m ++ Map(
      "dedup.bloom_s" -> bloomS,
      "dedup.bloom_pass_ratio" -> (ids.length - flagged.length).toDouble / math.max(1, ids.length),
      "dedup.bloom_false_pass_ratio" ->
        flagged.count(i => !histIds.contains(i)).toDouble / math.max(1, flagged.length),
      "layout.append_s" -> Stats.median(appends))
  }
}
