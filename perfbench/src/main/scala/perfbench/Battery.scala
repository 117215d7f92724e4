package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.tables.Tables

/** `batch_battery`: closed loop, one query at a time, over a sample of the
  * core-58 queries plus the six other oracled `recon_*` queries. Each result is
  * materialised in full through the `noop` sink, so no column is pruned
  * away. An untimed first pass warms the JVM and writes every result as
  * parquet for the DuckDB oracle gate.
  */
object Battery {
  /** Ten of the core 58, chosen to span the operator families (scan and
    * filter, star joins, cube, windows, the streaming twins' batch side,
    * sketch dedup) and to include the queries where the production profile
    * trails the bench profile most (q3, q5, win_ntile, dedup_near_jaccard).
    * The whole core 58 does not fit one benchmark run's time on a 4-core
    * host: one production-profile pass takes about 28 s at sf0.1 there.
    */
  val coreSample = Seq("q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
    "q6_forecast_revenue", "join_broadcast_dim", "agg_cube", "win_ntile",
    "stream_stream_join_1h", "recon_leg_match", "dedup_near_jaccard")
  val reconQueries = Seq("recon_chain_followup", "recon_aging_buckets",
    "recon_value_tolerance", "recon_nation_netting", "recon_order_lifecycle",
    "recon_unit_price_vs_retail")
  val names: Seq[String] = coreSample ++ reconQueries
  val tableNames = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def run(spark: SparkSession, cfg: Config, probe: Probe): Result = {
    val dir = cfg.inputs
    val queries = SparkEntry.queries
    val oracle = SparkEntry.oracleSql
    val gateErrors = mutable.ArrayBuffer.empty[String]

    val warm0 = System.nanoTime()
    val out = s"${cfg.work}/results"
    names.foreach { n =>
      try queries(n)(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"$out/$n")
      catch { case e: Exception => gateErrors += s"$n: gate pass failed: ${e.getMessage.take(300)}" }
    }
    val sql = names.map(n => s"${Json.str(n)}:${Json.str(oracle.getOrElse(n, ""))}")
    Files.write(Paths.get(s"$out/oracle_sql.json"),
      sql.mkString("{", ",", "}").getBytes(StandardCharsets.UTF_8))
    val warmS = (System.nanoTime() - warm0) / 1e9

    val samples = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val layers = mutable.ArrayBuffer.empty[Map[String, Double]]
    var attempted, failed = 0L
    val onDisk = tableNames.map(t => Files.size(Paths.get(s"$dir/$t.parquet"))).sum
    val deadline = System.nanoTime() + (cfg.seconds * 1e9).toLong
    var pass = 0
    // Pass after pass until the deadline; the first pass always completes.
    // A query's time is the median of its runs and a pass's time the sum of
    // those medians, so the queries of a pass the deadline cuts short count
    // too.
    while (pass == 0 || System.nanoTime() < deadline) {
      var complete = true
      val layer = mutable.Map.empty[String, Double].withDefaultValue(0.0)
      for (n <- names if complete) {
        if (pass > 0 && System.nanoTime() >= deadline) complete = false
        else {
          val tag = s"pass$pass/$n"
          attempted += 1
          try {
            var buildMs, actionMs = 0.0
            val wallMs = probe.tagged(tag) {
              val t0 = System.nanoTime()
              probe.span("query", tag) {
                val b0 = System.nanoTime()
                val df = probe.span("ops.build", tag)(queries(n)(spark, dir))
                buildMs = Stats.ms(b0)
                val a0 = System.nanoTime()
                probe.span("ops.action", tag)(df.write.format("noop").mode("overwrite").save())
                actionMs = Stats.ms(a0)
              }
              Stats.ms(t0)
            }
            samples.getOrElseUpdate(n, mutable.ArrayBuffer.empty) += wallMs
            if (probe.enabled) {
              val w = probe.work(tag)
              layer("ops.build_ms") += buildMs
              layer("ops.run_ms") += math.max(0.0, actionMs - w.planMs)
              layer("ops.task_cpu_ms") += w.cpuNs / 1e6
              layer("ops.jobs") += w.jobs
              layer("ops.stages") += w.stages
              layer("ops.tasks") += w.tasks
              layer("plans.plan_ms") += w.planMs
              layer("plans.exchanges") += w.exchanges
              layer("shuffle.write_bytes") += w.shuffleWrite
              layer("shuffle.read_bytes") += w.shuffleRead
              layer("shuffle.fetch_wait_ms") += w.fetchWaitMs
              layer("shuffle.spill_bytes") += w.spill
              layer("driver.gap_ms") += math.max(0.0, wallMs - w.planMs - w.stageBusyMs)
            }
          } catch {
            case e: Exception =>
              failed += 1
              gateErrors += s"$n: timed run failed: ${e.getMessage.take(300)}"
          }
        }
      }
      if (complete && probe.enabled) {
        val scan = scanPass(spark, dir, probe, pass)
        if (scan("tables.input_bytes") < onDisk)
          gateErrors += f"tables.input_bytes reads ${scan("tables.input_bytes")}%.0f bytes, " +
            f"less than the $onDisk bytes of the tables on disk"
        layers += (layer.toMap ++ scan)
      }
      pass += 1
    }

    val perQuery = names.flatMap(n => samples.get(n).map(s => Stats.median(s.toSeq)))
    val passS = perQuery.sum / 1e3
    val geomean = Stats.geomean(perQuery)
    Result(
      setup = Map("warmup_s" -> warmS),
      e2e = Map(
        "throughput_per_s" -> names.size / passS,
        "latency_p50_ms" -> geomean,
        "latency_p90_ms" -> Stats.quantile(perQuery, 0.9)),
      named = Map("batch.pass_s" -> passS, "batch.geomean_ms" -> geomean,
        "batch.query_runs" -> samples.values.map(_.size).sum.toDouble) ++
        samples.map { case (n, s) => s"batch.query.$n.ms" -> Stats.median(s.toSeq) },
      layer = if (layers.isEmpty) Map.empty
              else layers.flatMap(_.keys).distinct.map(k => k -> Stats.median(layers.map(_(k)).toSeq)).toMap,
      attempted = attempted, failed = failed, gateErrors = gateErrors.toSeq)
  }

  /** The `tables` layer on its own: `Tables.t` plus a full `noop` read of
    * every table the battery reads, once per traced pass.
    */
  private def scanPass(spark: SparkSession, dir: String, probe: Probe, pass: Int): Map[String, Double] = {
    val tag = s"pass$pass/tables"
    val ms = probe.tagged(tag) {
      val t0 = System.nanoTime()
      probe.span("tables.scan", tag) {
        tableNames.foreach { t =>
          probe.span("tables.t", tag)(Tables.t(spark, dir, t).write.format("noop").mode("overwrite").save())
        }
      }
      Stats.ms(t0)
    }
    val w = probe.work(tag)
    Map("tables.scan_ms" -> ms, "tables.input_bytes" -> w.scanBytes.toDouble,
      "tables.input_rows" -> w.inRows.toDouble)
  }
}
