package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession
import graft.core.GraftSession

/** Benchmark harness, one JVM per run. Usage:
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --root <perfbench dir> --work <scratch dir>
  * Prints one line `PERFBENCH_RESULT {json}` with every metric it measured;
  * `run.py` checks it against BENCHMARK.json and prints the final result.
  */
object Main {
  val PhaseProperty = "perfbench.phase"
  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 9
  /** Spans of each traced pass, written to `trace.json` at exit. */
  val traces = mutable.ArrayBuffer.empty[String]

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val root = Paths.get(opt("root"))
    val spec = new ObjectMapper().readTree(root.resolve("spec.json").toFile)
    val name = opt("workload")
    val w = spec.get("workloads").get(name)
    require(w != null, s"unknown workload $name")
    val cores = math.min(spec.get("cores").asInt, Runtime.getRuntime.availableProcessors)
    val env = Env(name, w, opt("seed").toLong, opt("seconds").toDouble, opt("trace") == "1",
      cores, root.resolve(spec.get("fixtures").asText).toString, root,
      Paths.get(opt("work")))
    Files.createDirectories(env.work)
    val m = new Metrics
    val hostBefore = HostStat.read()
    w.get("kind").asText match {
      case "batch"  => new BatchWorkload(env, m).run()
      case "stream" => new StreamWorkload(env, m).run()
    }
    if (env.traced) {
      val h = HostStat.read().minus(hostBefore)
      m.layer("host.steal_share", "ratio", h.steal)
      m.layer("host.cpu_busy_share", "ratio", h.busy)
    }
    m.e2e("peak_rss_mb", "MB", HostStat.peakRssMb())
    if (env.traced)
      Files.write(env.work.resolve("trace.json"), traces.mkString("[", ",\n", "]").getBytes("UTF-8"))
    println("PERFBENCH_RESULT " + m.toJson)
    // Spark's non-daemon threads must not keep the JVM alive
    SparkSession.getActiveSession.foreach(_.stop())
    System.exit(0)
  }

  /** A session as a deployment builds it, with scratch files kept in the
    * run's work directory. Stopping the previous one first keeps one
    * SparkContext per JVM.
    */
  def session(env: Env, master: String, extra: Map[String, String] = Map.empty): SparkSession = {
    val b = GraftSession.builder(master, env.cores)
      .config("spark.local.dir", env.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", env.work.resolve("warehouse").toString)
    extra.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Which measured passes of a traced run are traced: untraced, traced,
    * traced, untraced, and again. Passes still speed up as the JIT warms,
    * so the two medians see early and late passes alike.
    */
  def tracedPass(p: Int): Boolean = p % 4 == 2 || p % 4 == 3

  /** Before each pass, outside its timing: a full collection, so that
    * every pass starts from the same heap state.
    */
  def settle(): Unit = System.gc()

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Linear-interpolated percentile, as numpy's default. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val r = p / 100.0 * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p).iterator().asScala.toSeq.reverse
    all.foreach(Files.deleteIfExists)
  }
}

final case class Env(name: String, spec: JsonNode, seed: Long, seconds: Double,
                     traced: Boolean, cores: Int, fixtures: String, root: Path, work: Path) {
  def strings(key: String): Seq[String] = spec.get(key).elements().asScala.map(_.asText).toSeq
  def int(key: String): Int = spec.get(key).asInt
  def double(key: String): Double = spec.get(key).asDouble
}

/** Metric sink: end-to-end metrics, per-layer metrics, and the operation
  * tally the result line carries.
  */
final class Metrics(failLabel: String = "FAILED") {
  private val e2eM = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val layerM = mutable.LinkedHashMap.empty[String, (Double, String)]
  var attempted = 0L
  var failed = 0L
  var negativeControlCaught = false
  def e2e(name: String, unit: String, v: Double): Unit = e2eM(name) = (v, unit)
  def layer(name: String, unit: String, v: Double): Unit = layerM(name) = (v, unit)
  def fail(what: String, n: Int = 1): Unit = {
    failed += n
    System.err.println(s"[perfbench] $failLabel $what")
  }
  def successRate: Double = 1.0 - failed.toDouble / attempted
  def tally: (Long, Long) = (attempted, failed)

  def toJson: String = {
    def obj(m: mutable.LinkedHashMap[String, (Double, String)]) = m.map { case (k, (v, u)) =>
      s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}"
    }.mkString("{", ",", "}")
    s"""{"correct":${failed == 0 && negativeControlCaught},"attempted":$attempted,""" +
      s""""failed":$failed,"negative_control_caught":$negativeControlCaught,""" +
      s""""end_to_end":${obj(e2eM)},"per_layer":${obj(layerM)}}"""
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
}

/** Host counters: CPU time split from /proc/stat, peak resident memory of
  * this JVM from /proc/self/status.
  */
final case class HostStat(total: Long, idle: Long, steal: Long) {
  def minus(o: HostStat): HostShare = {
    val t = math.max(1L, total - o.total).toDouble
    HostShare(busy = 1.0 - (idle - o.idle) / t - (steal - o.steal) / t, steal = (steal - o.steal) / t)
  }
}
final case class HostShare(busy: Double, steal: Double)
object HostStat {
  def read(): HostStat = {
    val cpu = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
    // user nice system idle iowait irq softirq steal [guest guest_nice]
    HostStat(cpu.take(8).sum, cpu(3) + cpu(4), cpu(7))
  }
  def peakRssMb(): Double = Files.readAllLines(Paths.get("/proc/self/status")).asScala
    .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
}
