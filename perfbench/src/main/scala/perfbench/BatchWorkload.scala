package perfbench

import java.nio.file.Files
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, xxhash64}
import graft.SparkEntry
import graft.core.Tables

/** Closed loop, one client: each pass runs every query of the workload
  * once, in an order drawn from the seed, and the next query starts when
  * the previous one has returned its result. Each result is reduced to the
  * order-independent fingerprint `graft.Bench.consume` computes and compared
  * with the expected one. The fingerprints seen are written to
  * `fingerprints.json` in the run's work directory.
  */
final class BatchWorkload(env: Env, m: Metrics) {
  private val names = env.strings("queries")
  private val fns = SparkEntry.queries
  private val expected: Map[String, String] = new ObjectMapper()
    .readTree(env.root.resolve(env.spec.get("expected").asText).toFile).fields().asScala
    .map(e => e.getKey -> e.getValue.asText).toMap
  private val seen = mutable.LinkedHashMap.empty[String, String]
  private val opener: Map[String, (SparkSession, String) => DataFrame] = Map(
    "region" -> Tables.region, "nation" -> Tables.nation, "customer" -> Tables.customer,
    "supplier" -> Tables.supplier, "part" -> Tables.part, "orders" -> Tables.orders,
    "lineitem" -> Tables.lineitem, "events" -> Tables.events,
    "documents" -> Tables.documents, "embeddings" -> Tables.embeddings)

  def run(): Unit = {
    names.foreach(n => require(fns.contains(n), s"no query $n in SparkEntry.queries"))
    // set-up: a session as a deployment builds it, with every table open
    val setups = (1 to Main.Setups).map { i =>
      val t0 = System.nanoTime()
      val spark = Main.session(env, s"local[${env.cores}]")
      Layers.tables.foreach(t => opener(t)(spark, env.fixtures).schema)
      val s = (System.nanoTime() - t0) / 1e9
      if (i < Main.Setups) spark.stop()
      s
    }
    val spark = SparkSession.active
    if (env.traced) tableProbe(spark)

    // warm-up: the first pass compiles every query's generated code and
    // fills the file cache; the JIT keeps improving for a few passes more
    (1 to env.int("warmup_passes")).foreach(w => pass(spark, -w, None))

    val tailP = env.double("tail_percentile")
    val minPasses = env.int("min_passes")
    val samples = mutable.ArrayBuffer.empty[Double]
    val walls = mutable.ArrayBuffer.empty[Double]
    val tracedWalls = mutable.ArrayBuffer.empty[Double]
    val perQuery = mutable.ArrayBuffer.empty[Seq[Double]]
    val layerPasses = mutable.ArrayBuffer.empty[Map[String, Double]]
    val t0 = System.nanoTime()
    var p = 1
    def enough = (System.nanoTime() - t0) / 1e9 >= env.seconds && (
      if (env.traced) walls.size >= 2 && layerPasses.size >= 2
      else p > minPasses && samples.size * (1 - tailP / 100) >= 10)
    while (!enough) {
      if (env.traced && Main.tracedPass(p)) {
        val tp = new TracedPass(spark, env.cores)
        val (_, _, build, plan) = pass(spark, p, Some(tp))
        val v = tp.finish("exec.driver")
        tracedWalls += v("wall_ms")
        layerPasses += v ++ Map("queries.build_ms" -> build, "plans.plan_ms" -> plan)
      } else {
        val (wall, lat, _, _) = pass(spark, p, None)
        walls += wall
        samples ++= lat
        perQuery += lat
      }
      p += 1
    }
    negativeControl()
    val json = seen.map { case (k, v) => s"  ${Json.str(k)}: ${Json.str(v)}" }
      .mkString("{\n", ",\n", "\n}\n")
    Files.write(env.work.resolve("fingerprints.json"), json.getBytes("UTF-8"))

    System.err.println(setups.map(x => f"$x%.3f").mkString("[perfbench] set-ups (s): ", " ", ""))
    m.e2e("setup_s", "s", Main.median(setups))
    // a pass assembled from each query's median latency: one slow pass of
    // one query (a GC or a steal burst) does not move it
    m.e2e("wall_s", "s", perQuery.transpose.map(q => Main.median(q.toSeq)).sum)
    m.e2e("latency_p50_ms", "ms", Main.median(samples.toSeq) * 1000)
    m.e2e("latency_tail_ms", "ms", Main.percentile(samples.toSeq, tailP) * 1000)
    m.e2e("success_rate", "ratio", m.successRate)
    System.err.println(f"[perfbench] ${env.name}: ${walls.size} passes, ${samples.size} samples, " +
      f"tail = p$tailP%.0f")
    if (env.traced) {
      val v = Layers.mean(layerPasses.toSeq) - "wall_ms"
      Layers.emit(m, v ++ Layers.streamOnly.map(_ -> 0.0) ++ Map(
        "trace.overhead_share" -> (Main.median(tracedWalls.toSeq) / 1000 / Main.median(walls.toSeq) - 1)))
    }
  }

  /** Runs every query once; returns the pass's wall time in seconds, each
    * query's latency in seconds (in `names` order), and the summed build
    * and plan phases in ms.
    */
  private def pass(spark: SparkSession, p: Int,
                   tp: Option[TracedPass]): (Double, Seq[Double], Double, Double) = {
    Main.settle()
    val order = new scala.util.Random(env.seed * 1000003L + p).shuffle(names)
    val t0 = System.nanoTime()
    tp.foreach(_.root.start = t0)
    val ops = order.map(name => query(spark, name, tp))
    val t1 = System.nanoTime()
    tp.foreach(_.root.end = t1)
    val wall = (t1 - t0) / 1e9
    System.err.println(f"[perfbench] pass $p${if (tp.isDefined) " (traced)" else ""}: $wall%.2f s " +
      order.zip(ops).map { case (n, o) => f"${n.takeWhile(_ != '_')}=${o._1}%.2f" }.mkString(" "))
    val byName = order.zip(ops.map(_._1)).toMap
    (wall, names.map(byName), ops.map(_._2).sum, ops.map(_._3).sum)
  }

  /** One query: build the DataFrame, plan its fingerprint, execute it. */
  private def query(spark: SparkSession, name: String, tp: Option[TracedPass]): (Double, Double, Double) = {
    val sc = spark.sparkContext
    val tracer = tp.map(_.tracer)
    def span[T](parent: Span, layer: String)(body: Span => T): T = tracer match {
      case Some(t) => t.span(parent, layer, name)(body)
      case None => body(null)
    }
    m.attempted += 1
    val t0 = System.nanoTime()
    var t1, t2 = t0
    val fp = try span(tp.map(_.root).orNull, "harness") { op =>
      sc.setLocalProperty(Main.PhaseProperty, "build")
      val df = span(op, "queries")(_ => fns(name)(spark, env.fixtures))
      // the row hashes of graft.Bench.consume, xor-folded on the client: the
      // result reaches the driver, as a user's would, without the extra
      // aggregation stage a server-side fold adds to every query
      val hashes = df.select(xxhash64(df.columns.toIndexedSeq.map(col): _*))
      t1 = System.nanoTime()
      sc.setLocalProperty(Main.PhaseProperty, "plan")
      span(op, "plans")(_ => hashes.queryExecution.executedPlan)
      t2 = System.nanoTime()
      sc.setLocalProperty(Main.PhaseProperty, "execute")
      val rows = span(op, "exec.driver")(_ => hashes.collect())
      Some(if (rows.isEmpty) "null" else rows.foldLeft(0L)(_ ^ _.getLong(0)).toString)
    } catch {
      case e: Throwable => m.fail(s"$name: $e"); None
    } finally sc.setLocalProperty(Main.PhaseProperty, null)
    val t3 = System.nanoTime()
    // operators persist intermediates; drop them between queries as
    // graft.Bench does, outside the timed region
    spark.catalog.clearCache()
    fp.foreach { f =>
      seen(name) = f
      check(m, expected, name, f)
    }
    ((t3 - t0) / 1e9, (t1 - t0) / 1e6, (t2 - t1) / 1e6)
  }

  private def check(into: Metrics, exp: Map[String, String], name: String, fp: String): Unit =
    if (!exp.get(name).contains(fp)) into.fail(s"$name: fingerprint $fp, expected ${exp.get(name)}")

  /** A wrong result must lower the success rate: an observed fingerprint,
    * checked by the same code against a perturbed expectation into a
    * separate tally, must fail there and leave the run's tally unchanged.
    */
  private def negativeControl(): Unit = {
    val before = m.tally
    val probe = new Metrics("negative control caught:")
    m.negativeControlCaught = seen.headOption.exists { case (name, f) =>
      val perturbed = expected.updatedWith(name)(_.map(e => if (e == "null") "0" else (e.toLong ^ 1L).toString))
      probe.attempted += 1
      check(probe, perturbed, name, f)
      probe.successRate < 1.0 && m.tally == before
    }
  }

  /** Times each `Tables` accessor on its own and counts the Spark jobs one
    * open launches.
    */
  private def tableProbe(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    Layers.tables.foreach { t =>
      val runs = (1 to 5).map { _ =>
        val l = new SparkLedger
        sc.addSparkListener(l)
        val t0 = System.nanoTime()
        opener(t)(spark, env.fixtures)
        val ms = (System.nanoTime() - t0) / 1e6
        PerfbenchBus.drain(sc)
        sc.removeSparkListener(l)
        (ms, l.jobs.size.toDouble)
      }
      m.layer(s"core.tables.probe.$t.open_ms", "ms", Main.median(runs.map(_._1)))
      m.layer(s"core.tables.probe.$t.jobs", "count", Main.median(runs.map(_._2)))
    }
  }
}
