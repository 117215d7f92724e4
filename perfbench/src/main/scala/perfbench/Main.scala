package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.Sessions

/** Command-line settings of one benchmark run. `inputs` holds the files the
  * seeded generator made; `work` is scratch space the run may fill.
  */
final case class Config(workload: String, seconds: Double, trace: Boolean,
                        inputs: String, work: String, params: Map[String, String]) {
  def param(k: String): String = params.getOrElse(k, sys.error(s"missing --$k"))
}

/** What a workload reports: set-up phases (s), end-to-end metrics, the
  * per-layer metrics of a traced run, operation counts, and gate failures
  * (an empty list means every output check passed).
  */
final case class Result(setup: Map[String, Double], e2e: Map[String, Double],
                        named: Map[String, Double], layer: Map[String, Double],
                        attempted: Long, failed: Long, gateErrors: Seq[String])

/** Runs one workload under the production profile and writes its result as
  * JSON to `--out`. The session is `graft.Sessions.builder` with the
  * library's defaults (AQE on, no bench hints), sized to the machine's
  * cores, with the uncached table path (`spark.graft.tableCache=false`).
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val cfg = Config(opts("workload"), opts("seconds").toDouble, opts("trace") == "1",
      opts("inputs"), opts("work"), opts)
    val t0 = System.nanoTime()
    val cores = Runtime.getRuntime.availableProcessors
    val spark = Sessions.builder(s"local[$cores]", cores)
      .config("spark.graft.tableCache", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val probe = new Probe(spark, cfg.trace)
    val res = try cfg.workload match {
      case "batch_battery"  => Battery.run(spark, cfg, probe)
      case "recon_pipeline" => Recon.run(spark, cfg, probe)
      case "table_rw"       => TableRw.run(spark, cfg, probe)
      case w                => sys.error(s"unknown workload $w")
    } finally spark.stop()
    val errs = res.gateErrors ++ probe.nestingErrors.take(5)
    val json = Json.obj(
      "setup" -> Json.map(res.setup + ("session_s" -> sessionS)),
      "e2e" -> Json.map(res.e2e + ("peak_rss_mb" -> peakRssMb)),
      "named" -> Json.map(res.named),
      "layer" -> Json.map(res.layer),
      "self_ms" -> Json.map(probe.selfMs),
      "spans" -> probe.all.size.toString,
      "attempted" -> res.attempted.toString,
      "failed" -> res.failed.toString,
      "gate_errors" -> errs.map(Json.str).mkString("[", ",", "]"))
    Files.write(Paths.get(cfg.param("out")), json.getBytes(StandardCharsets.UTF_8))
  }

  /** High-water resident set of this process (`VmHWM`), in MB. */
  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def map(m: Map[String, Double]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}:${num(v)}" }.mkString("{", ",", "}")
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

object Stats {
  /** Linear-interpolated quantile, `q` in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.size)
  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6
}
