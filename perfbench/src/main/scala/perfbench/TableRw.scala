package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sinks.CowTable

/** `table_rw`: closed loop, one client, on one unpartitioned CowTable
  * seeded at set-up. The client replays the generated operation sequence —
  * appends, keyed merges on Zipf keys, point lookups through
  * `readPrunedEq`, full snapshot reads and periodic compactions — and keeps
  * an in-memory key -> row model that every lookup and the final snapshot
  * must equal.
  */
object TableRw {
  private final case class Row(amount: Double, note: String)
  private val seedings = 3
  /** Operations per cycle of the generated sequence (see gen.py's CYCLE). */
  private val cycle = 7
  private val warmOps = 2 * cycle

  def run(spark: SparkSession, cfg: Config, probe: Probe): Result = {
    import spark.implicits._
    val dir = cfg.inputs
    val seed = spark.read.parquet(s"$dir/seed.parquet")
    val seedMs = (0 until seedings).map { i =>
      val t0 = System.nanoTime()
      CowTable.create(seed, s"${cfg.work}/table$i")
      Stats.ms(t0)
    }
    val path = s"${cfg.work}/table${seedings - 1}"
    val model = mutable.HashMap.empty[Long, Row]
    seed.as[(Long, Double, String)].collect().foreach { case (k, a, n) => model(k) = Row(a, n) }

    val mapper = new ObjectMapper()
    val ops = Files.readAllLines(Paths.get(s"$dir/ops.jsonl")).asScala.map(mapper.readTree).toVector
    def rows(i: Int, op: JsonNode): DataFrame = {
      val ks = op.get("keys").elements().asScala.map(_.asLong).toSeq
      val as = op.get("amount").elements().asScala.map(_.asDouble).toSeq
      ks.zip(as).map { case (k, a) => (k, a, s"op-$i") }.toDF("k", "amount", "note")
    }
    def applyModel(i: Int, op: JsonNode): Unit = {
      val ks = op.get("keys").elements().asScala.map(_.asLong).toSeq
      val as = op.get("amount").elements().asScala.map(_.asDouble).toSeq
      ks.zip(as).foreach { case (k, a) => model(k) = Row(a, s"op-$i") }
    }

    val lat = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val gateErrors = mutable.ArrayBuffer.empty[String]
    val layer = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    def note(k: String, v: Double): Unit = layer.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
    var bytesWritten, rowsWritten = 0.0
    var attempted, failed = 0L

    def execute(i: Int, timed: Boolean): Unit = {
      val op = ops(i)
      val kind = op.get("op").asText
      val tag = s"op$i"
      val before = if (probe.enabled) CowTable.snapshotFiles(path) else Nil
      val input = if (kind == "append" || kind == "merge") Some(rows(i, op)) else None
      var looked: Seq[(Long, Double, String)] = Nil
      if (timed) attempted += 1
      val ms = try probe.tagged(tag) {
        val t0 = System.nanoTime()
        probe.span(s"sinks.$kind", tag) {
          kind match {
            case "append" => CowTable.append(spark, path, input.get)
            case "merge" => CowTable.merge(spark, path, input.get, "k")
            case "lookup" =>
              looked = CowTable.readPrunedEq(spark, path, "k", op.get("key").asLong)
                .as[(Long, Double, String)].collect().toSeq
            case "scan" => CowTable.read(spark, path).write.format("noop").mode("overwrite").save()
            case "compact" => CowTable.compact(spark, path, 1)
          }
        }
        Stats.ms(t0)
      } catch {
        case e: Exception =>
          if (timed) failed += 1
          gateErrors += s"op $i ($kind) failed: ${e.getMessage.take(300)}"
          Double.NaN
      }
      if (kind == "append" || kind == "merge") applyModel(i, op)
      if (kind == "lookup") {
        val k = op.get("key").asLong
        val want = model.get(k).map(r => (k, r.amount, r.note)).toSeq
        if (looked != want) gateErrors += s"lookup $k at op $i returned $looked, model has $want"
      }
      if (timed && !ms.isNaN) lat.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms
      if (probe.enabled && !ms.isNaN) {
        val after = CowTable.snapshotFiles(path)
        val w = probe.work(tag)
        note("ops.jobs", w.jobs); note("ops.stages", w.stages); note("ops.tasks", w.tasks)
        note("ops.task_cpu_ms", w.cpuNs / 1e6); note("plans.plan_ms", w.planMs)
        note("shuffle.write_bytes", w.shuffleWrite); note("shuffle.read_bytes", w.shuffleRead)
        kind match {
          case "append" | "merge" =>
            val added = after.filterNot(before.toSet)
            bytesWritten += added.map(f => Files.size(Paths.get(f))).sum
            rowsWritten += op.get("keys").size
            note("sinks.files_rewritten_per_commit", before.count(f => !after.contains(f)))
            if (kind == "merge") note("sinks.merge_ms", ms)
          case "lookup" =>
            note("sinks.lookup_files_read",
              CowTable.prunedFilesEq(spark, path, "k", op.get("key").asLong).size)
            note("sinks.snapshot_files", after.size)
          case "compact" => note("sinks.compact_ms", ms)
          case _ =>
        }
      }
    }

    val w0 = System.nanoTime()
    (0 until warmOps).foreach(execute(_, timed = false))
    val warmS = (System.nanoTime() - w0) / 1e9
    val deadline = System.nanoTime() + (cfg.seconds * 1e9).toLong
    var i = warmOps
    // Whole cycles only, so every run times the same mix of operations.
    while (i < ops.size && (System.nanoTime() < deadline || (i - warmOps) % cycle != 0)) {
      execute(i, timed = true)
      i += 1
    }
    if (i == ops.size) gateErrors += s"operation sequence exhausted after ${ops.size} ops"
    val spanS = (System.nanoTime() - deadline) / 1e9 + cfg.seconds

    // Gate: the final snapshot equals the model, row for row.
    val snapshot = CowTable.read(spark, path).as[(Long, Double, String)].collect()
    val got = snapshot.map { case (k, a, n) => k -> Row(a, n) }
    val gotMap = got.toMap
    if (got.length != model.size || gotMap != model.toMap) {
      val diff = (gotMap.keySet ++ model.keySet).find(k => gotMap.get(k) != model.get(k))
      gateErrors += s"final snapshot has ${got.length} rows, model has ${model.size}; " +
        s"first difference at key $diff"
    }

    def p(kind: String, q: Double) = Stats.quantile(lat.getOrElse(kind, Nil).toSeq, q)
    val perType = Seq("append", "merge", "lookup", "scan").map(p(_, 0.5))
    val layerOut: Map[String, Double] =
      if (!probe.enabled) Map.empty
      else {
        val live = CowTable.snapshotFiles(path)
        val liveBytes = live.map(f => Files.size(Paths.get(f))).sum.toDouble
        val onDisk = Files.walk(Paths.get(path)).iterator().asScala
          .filter(f => Files.isRegularFile(f) && f.toString.endsWith(".parquet"))
          .map(Files.size).sum.toDouble
        val bytesPerRow = liveBytes / math.max(1, got.length)
        layer.map { case (k, v) => k -> Stats.median(v.toSeq) }.toMap ++ Map(
          "sinks.data_files" -> live.size.toDouble,
          "sinks.space_amp" -> onDisk / liveBytes,
          "sinks.write_amp" -> bytesWritten / math.max(1.0, rowsWritten * bytesPerRow))
      }
    val opsDone = lat.values.map(_.size).sum
    Result(
      setup = Map("seed_s" -> Stats.median(seedMs) / 1e3, "warmup_s" -> warmS),
      e2e = Map(
        "throughput_per_s" -> opsDone / spanS,
        "latency_p50_ms" -> Stats.geomean(perType),
        "latency_p90_ms" -> Stats.quantile(lat.values.flatten.toSeq, 0.9)),
      named = Map("table.append_p50_ms" -> perType(0), "table.merge_p50_ms" -> perType(1),
        "table.merge_p90_ms" -> p("merge", 0.9), "table.lookup_p50_ms" -> perType(2),
        "table.scan_p50_ms" -> perType(3), "table.ops" -> opsDone.toDouble),
      layer = layerOut,
      attempted = attempted, failed = failed, gateErrors = gateErrors.toSeq)
  }
}
