package perfbench

import java.net.URI
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.types._

import graft.sinks.{CowTable, Sinks}
import graft.streaming.StreamOps

/** `recon_pipeline`. A generator thread publishes the seeded event slices
  * into the file source's directory: a steady rung, open loop, each slice
  * at its due time in the inputs' manifest; then a burst rung of backlogs,
  * each a group of files published at once as soon as a trigger has taken
  * the one before. The engine runs
  * `Sinks.reconCdcPipeline(StreamOps.reconStream(signups, purchases), …)`,
  * so every outcome is CDC-merged into a CowTable.
  *
  * Latency of a matched outcome is the commit time of the first table
  * version that holds its row minus the time the slice that held its later
  * leg was due to be published; it is worked out after the run from the
  * table's manifests, untimed. The burst rung's drain rate is the events its
  * triggers read (from the file source's log in the checkpoint) per second
  * of their `triggerExecution` time (from `StreamingQueryProgress`): the
  * rate the engine sustains while it has a backlog.
  */
object Recon {
  val schema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  private final case class Slice(file: String, phase: String, dueMs: Long, events: Int, firstId: Long)

  private def readEvents(spark: SparkSession, dir: String, streaming: Boolean): DataFrame = {
    val opts = Map("timestampFormat" -> "yyyy-MM-dd HH:mm:ss.SSSSSS", "escape" -> "\"")
    if (streaming) spark.readStream.schema(schema).options(opts).csv(dir)
    else spark.read.schema(schema).options(opts).csv(dir)
  }

  private def legs(events: DataFrame): DataFrame = StreamOps.reconStream(
    events.filter(col("event_type") === "signup"),
    events.filter(col("event_type") === "purchase"))

  private def normalize(f: String): String =
    if (f.startsWith("file:")) Paths.get(new URI(f)).toString else Paths.get(f).toAbsolutePath.toString

  private def sleepUntil(ns: Long): Unit = {
    val wait = ns - System.nanoTime()
    if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
  }

  def run(spark: SparkSession, cfg: Config, probe: Probe): Result = {
    val dir = cfg.inputs
    val limitMs = cfg.param("latency_limit_ms").toDouble
    val manifest = new ObjectMapper().readTree(Paths.get(s"$dir/manifest.json").toFile)
    val slices = manifest.get("slices").elements().asScala.map(n =>
      Slice(n.get("file").asText, n.get("phase").asText, n.get("due_ms").asLong,
        n.get("events").asInt, n.get("first_id").asLong)).toVector
    val steadyIdx = slices.indices.filter(slices(_).phase == "steady")
    // The burst rung's backlogs, in order (phases burst0, burst1, ...).
    val backlogs = slices.indices.filter(slices(_).phase.startsWith("burst"))
      .groupBy(slices(_).phase).values.toSeq.sortBy(_.head)
    val burstStartMs = slices(backlogs.head.head).dueMs
    val src = s"${cfg.work}/source"
    val table = s"${cfg.work}/recon_table"
    val checkpoint = s"${cfg.work}/checkpoint"
    Files.createDirectories(Paths.get(src))

    val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = progress.add(e.progress)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
    def startMs(p: StreamingQueryProgress): Long = Instant.parse(p.timestamp).toEpochMilli
    def dur(p: StreamingQueryProgress, k: String): Double = p.durationMs.getOrDefault(k, 0L).doubleValue

    val publishedMs = new Array[Long](slices.size)
    def publish(i: Int): Unit = probe.span("gen.publish", s"slice$i") {
      Files.move(Paths.get(s"$dir/slices/${slices(i).file}"), Paths.get(s"$src/${slices(i).file}"),
        StandardCopyOption.ATOMIC_MOVE)
      publishedMs(i) = System.currentTimeMillis()
    }

    val query = Sinks.reconCdcPipeline(legs(readEvents(spark, src, streaming = true)), table, checkpoint)

    // The file source's log in the checkpoint gives the source offset at
    // which each slice was listed (one JSON entry per file after a version
    // line; every tenth offset folds the log into a `.compact` file; names
    // starting with a dot are being written). A trigger reads the offsets
    // after its progress's `startOffset` up to its `endOffset`, and its
    // progress event comes after its commit.
    val sliceIndex = slices.map(_.file).zipWithIndex.toMap
    val mapper = new ObjectMapper()
    def sourceLog(): Map[Int, Long] = Files.list(Paths.get(s"$checkpoint/sources/0")).iterator().asScala
      .filterNot(_.getFileName.toString.startsWith(".")).toSeq
      .flatMap(f => Files.readAllLines(f).asScala.drop(1).map(mapper.readTree))
      .flatMap(n => sliceIndex.get(Paths.get(new URI(n.get("path").asText)).getFileName.toString)
        .map(_ -> n.get("batchId").asLong)).toMap
    def logOffset(json: String): Long = Option(json).map(j => mapper.readTree(j).get("logOffset").asLong).getOrElse(-1L)
    /** Published slices no committed trigger has read; with `listed`,
      * those no trigger has listed yet.
      */
    def backlogNow(listed: Boolean = false): Int = {
      val log = sourceLog()
      val done = if (listed) Long.MaxValue
                 else progress.asScala.map(p => logOffset(p.sources.head.endOffset)).maxOption.getOrElse(-1L)
      slices.indices.count(i => publishedMs(i) > 0 && log.get(i).forall(_ > done))
    }

    // Warm-up: the first slices cover 24 h of event time plus the
    // watermark, so join state is full before the measured window opens.
    val w0 = System.nanoTime()
    slices.indices.filter(slices(_).phase == "warm").foreach(publish)
    query.processAllAvailable()
    val warmS = (System.nanoTime() - w0) / 1e9

    val lateMs = mutable.ArrayBuffer.empty[Double]
    var steadyBacklog, backlogsSent = 0
    val drainErrors = mutable.ArrayBuffer.empty[String]
    val windowStartMs = System.currentTimeMillis()
    var genStartMs = 0L
    val gen = new Thread(() => {
      val t0 = System.nanoTime()
      genStartMs = System.currentTimeMillis()
      // Steady rung: open loop, every slice at its due time.
      steadyIdx.foreach { i =>
        val due = t0 + slices(i).dueMs * 1000000L
        sleepUntil(due)
        lateMs += math.max(0.0, (System.nanoTime() - due) / 1e6)
        publish(i)
      }
      sleepUntil(t0 + burstStartMs * 1000000L)
      steadyBacklog = backlogNow()
      // Burst rung: each backlog is published at once, the first when the
      // rung opens and each next one as soon as a trigger has taken the one
      // before, so the engine works without pause on batches of one backlog
      // each. The rung's length follows from the engine's speed.
      backlogs.foreach { idx =>
        if (drainErrors.isEmpty) {
          idx.foreach(publish)
          backlogsSent += 1
          val giveUp = System.nanoTime() + 60000000000L
          while (backlogNow(listed = true) > 0 && System.nanoTime() < giveUp) Thread.sleep(10)
          if (backlogNow(listed = true) > 0) drainErrors += s"backlog $backlogsSent was not taken within 60 s"
        }
      }
    }, "perfbench-generator")
    gen.start()
    gen.join()

    // Flush: a far-future pair on a user no real event has moves the
    // watermark past every join window, so all unmatched rows are emitted.
    val flushMs = System.currentTimeMillis()
    val sentinel = "sentinel.csv"
    Files.writeString(Paths.get(s"$dir/$sentinel"),
      "-1,2030-01-01 00:00:00.000000,-999,signup,0.0,{}\n-2,2030-01-01 00:00:00.000000,-999,purchase,0.0,{}\n")
    Files.move(Paths.get(s"$dir/$sentinel"), Paths.get(s"$src/$sentinel"), StandardCopyOption.ATOMIC_MOVE)
    query.processAllAvailable()
    query.stop()
    val gateErrors = drainErrors
    query.exception.foreach(e => gateErrors += s"stream failed: ${e.getMessage.take(300)}")

    // Gate: the table, minus the sentinel's row, equals the batch twin over
    // every event published.
    val key = Seq("status", "a_id", "b_id")
    def outcomes(df: DataFrame) = df.select(key.map(col): _*).collect()
      .groupBy(r => (r.getString(0), r.get(1), r.get(2))).view.mapValues(_.length).toMap
    val streamed = outcomes(CowTable.read(spark, table)
      .filter(coalesce(col("a_id"), lit(0L)) =!= -1L && coalesce(col("b_id"), lit(0L)) =!= -2L))
    val batch = outcomes(legs(readEvents(spark, src, streaming = false).filter(col("event_id") >= 0)))
    if (streamed != batch || batch.isEmpty) {
      val extra = streamed.count { case (k, n) => batch.getOrElse(k, 0) != n }
      val missing = batch.count { case (k, _) => !streamed.contains(k) }
      gateErrors += s"recon table has ${streamed.values.sum} rows, batch twin ${batch.values.sum}; " +
        s"$extra outcomes differ, $missing missing"
    }
    val progs = progress.asScala.toSeq
    val dropped = progs.flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum
    if (dropped != 0) gateErrors += s"$dropped rows dropped by the watermark"

    // Latency per matched outcome, from the table's manifests.
    val versions = CowTable.history(spark, table).select("version", "commit_time_ms")
      .collect().map(r => r.getLong(0).toInt -> r.getLong(1)).sortBy(_._1)
    val firstVersion = mutable.HashMap.empty[String, Int]
    val filesOf = versions.map { case (v, _) => v -> CowTable.snapshotFiles(table, Some(v)).map(normalize) }
    filesOf.foreach { case (v, fs) => fs.foreach(f => if (!firstVersion.contains(f)) firstVersion(f) = v) }
    val commitMs = versions.toMap
    val firstIds = slices.map(_.firstId)
    def sliceOf(id: Long): Int = {
      val i = java.util.Arrays.binarySearch(firstIds.toArray, id)
      if (i >= 0) i else -i - 2
    }
    val rows = spark.read.parquet(firstVersion.keys.toSeq: _*)
      .filter(col("status") === "matched" && col("a_id") >= 0)
      .select(input_file_name(), col("a_id"), col("b_id")).collect()
    val firstCommit = mutable.HashMap.empty[(Long, Long), Int]
    rows.foreach { r =>
      val v = firstVersion(normalize(r.getString(0)))
      val k = (r.getLong(1), r.getLong(2))
      if (firstCommit.get(k).forall(_ > v)) firstCommit(k) = v
    }
    // A steady slice's latency counts from when it was due (open loop, so
    // a late generator cannot hide a stall); a backlog's from its publish.
    def dueAt(i: Int): Long = if (slices(i).phase == "steady") genStartMs + slices(i).dueMs else publishedMs(i)
    def rungOf(i: Int): String = slices(i).phase.takeWhile(!_.isDigit)
    val byRung = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    firstCommit.foreach { case ((a, b), v) =>
      val later = Seq(sliceOf(a), sliceOf(b)).maxBy(dueAt)
      if (slices(later).phase != "warm")
        byRung.getOrElseUpdate(rungOf(later), mutable.ArrayBuffer.empty) +=
          (commitMs(v) - dueAt(later)).toDouble
    }

    val listedAt = sourceLog()
    val readBy: Map[Long, Seq[Int]] = progs.map { p =>
      val (lo, hi) = (logOffset(p.sources.head.startOffset), logOffset(p.sources.head.endOffset))
      p.batchId -> listedAt.collect { case (i, o) if o > lo && o <= hi => i }.toSeq
    }.toMap
    val windowProgs = progs.filter(p => startMs(p) >= windowStartMs && startMs(p) < flushMs)
    // A rung's triggers are those that read any of its slices.
    val rungProgs = Seq(steadyIdx, backlogs.take(backlogsSent).flatten).map { idx =>
      progs.filter(p => readBy.getOrElse(p.batchId, Nil).exists(idx.contains))
    }
    /** Events the triggers read per second of their trigger time. */
    def drainEps(ps: Seq[StreamingQueryProgress]): Double =
      ps.flatMap(p => readBy(p.batchId)).map(slices(_).events).sum * 1000.0 /
        ps.map(dur(_, "triggerExecution")).sum
    val drain = drainEps(rungProgs(1))
    val steadyEps = steadyIdx.map(slices(_).events).sum * 1000.0 / burstStartMs
    val named = mutable.LinkedHashMap.empty[String, Double]
    // A rung's rate counts when its p90 latency meets the limit and its
    // backlog does not grow: the burst rung's rate is what the engine
    // drained, and the steady rate must not exceed it.
    var maxRate = 0.0
    Seq(("steady", steadyEps, rungProgs(0)), ("burst", drain, rungProgs(1))).foreach { case (r, rate, ps) =>
      val lat = byRung.getOrElse(r, mutable.ArrayBuffer.empty[Double]).toSeq
      val p90 = Stats.quantile(lat, 0.9)
      named(s"recon.$r.latency_p50_ms") = Stats.median(lat)
      named(s"recon.$r.latency_p90_ms") = p90
      named(s"recon.$r.outcomes") = lat.size.toDouble
      named(s"recon.$r.triggers") = ps.size.toDouble
      if (p90 <= limitMs && rate <= drain) maxRate = math.max(maxRate, rate)
    }
    val steady = byRung.getOrElse("steady", mutable.ArrayBuffer.empty[Double]).toSeq
    named("recon.steady.offered_eps") = steadyEps
    named("recon.steady.backlog_files") = steadyBacklog
    named("recon.burst.backlogs") = backlogsSent
    named("recon.drain_eps") = drain
    named("recon.max_rate_eps") = maxRate
    named("recon.latency_p50_ms") = Stats.median(steady)
    named("recon.latency_p90_ms") = Stats.quantile(steady, 0.9)

    def med(f: StreamingQueryProgress => Double) = Stats.median(windowProgs.map(f))
    val layer: Map[String, Double] = if (!probe.enabled) Map.empty else {
      val nanoOffset = System.nanoTime() - System.currentTimeMillis() * 1000000L
      windowProgs.foreach { p =>
        val start = Instant.parse(p.timestamp).toEpochMilli * 1000000L + nanoOffset
        val trace = s"trigger${p.batchId}"
        val root = probe.addSpan("streaming.trigger", trace, 0, start,
          start + (dur(p, "triggerExecution") * 1e6).toLong)
        var t = start
        Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commit").foreach { k =>
          val d = (dur(p, k) * 1e6).toLong
          probe.addSpan(s"streaming.$k", trace, root, t, t + d)
          t += d
        }
      }
      val mergeMs = windowProgs.map { p =>
        val jobs = probe.batchJobs.getOrElse(p.batchId, mutable.ArrayBuffer.empty).sortBy(_._1)
        dur(p, "addBatch") - jobs.headOption.map { case (s, e) => (e - s).toDouble }.getOrElse(0.0)
      }
      val work = windowProgs.map(p => probe.work.getOrElse(s"batch-${p.batchId}", new Work))
      // per commit: (files added, files the commit dropped from the snapshot)
      val added = filesOf.toSeq.map(_._2).sliding(2).collect {
        case Seq(a, b) => (b.filterNot(a.toSet), a.count(!b.contains(_)))
      }.toSeq
      val liveFiles = filesOf.last._2
      val liveBytes = liveFiles.map(f => Files.size(Paths.get(f))).sum.toDouble
      Map(
        "sources.backlog_files" -> steadyBacklog.toDouble,
        "sources.offset_ms" -> med(p => dur(p, "latestOffset") + dur(p, "getBatch")),
        "gen.late_ms_max" -> lateMs.max,
        "streaming.trigger_ms_p50" -> med(dur(_, "triggerExecution")),
        "streaming.trigger_ms_p90" -> Stats.quantile(windowProgs.map(dur(_, "triggerExecution")), 0.9),
        "streaming.plan_ms" -> med(dur(_, "queryPlanning")),
        "streaming.state_rows" -> med(_.stateOperators.map(_.numRowsTotal).sum.toDouble),
        "streaming.state_bytes" -> med(_.stateOperators.map(_.memoryUsedBytes).sum.toDouble),
        "streaming.state_update_ms" -> med(_.stateOperators.map(o => o.allUpdatesTimeMs + o.allRemovalsTimeMs).sum.toDouble),
        "streaming.state_commit_ms" -> med(_.stateOperators.map(_.commitTimeMs).sum.toDouble),
        "streaming.checkpoint_ms" -> med(p => dur(p, "walCommit") + dur(p, "commit")),
        "streaming.late_rows_dropped" -> dropped.toDouble,
        "sinks.merge_ms" -> Stats.median(mergeMs),
        "sinks.files_rewritten_per_commit" -> Stats.median(added.map(_._2.toDouble)),
        "sinks.data_files" -> liveFiles.size.toDouble,
        "sinks.write_amp" -> added.flatMap(_._1).map(f => Files.size(Paths.get(f))).sum / liveBytes,
        "ops.jobs" -> Stats.median(work.map(_.jobs.toDouble)),
        "ops.stages" -> Stats.median(work.map(_.stages.toDouble)),
        "ops.tasks" -> Stats.median(work.map(_.tasks.toDouble)),
        "ops.task_cpu_ms" -> Stats.median(work.map(_.cpuNs / 1e6)),
        "shuffle.write_bytes" -> Stats.median(work.map(_.shuffleWrite.toDouble)),
        "shuffle.read_bytes" -> Stats.median(work.map(_.shuffleRead.toDouble)),
        "shuffle.fetch_wait_ms" -> Stats.median(work.map(_.fetchWaitMs.toDouble)),
        "shuffle.spill_bytes" -> Stats.median(work.map(_.spill.toDouble)))
    }
    val published = slices.indices.count(i => publishedMs(i) > 0 && slices(i).phase != "warm")
    Result(
      setup = Map("warmup_s" -> warmS),
      e2e = Map(
        "throughput_per_s" -> drain,
        "latency_p50_ms" -> named("recon.latency_p50_ms"),
        "latency_p90_ms" -> named("recon.latency_p90_ms")),
      named = named.toMap + ("recon.triggers" -> windowProgs.size.toDouble),
      layer = layer,
      attempted = published, failed = 0, gateErrors = gateErrors.toSeq)
  }
}
