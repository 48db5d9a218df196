package perfbench

import scala.collection.mutable
import org.apache.spark.PerfbenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** One traced pass: registers the job/stage/task listener, records spans,
  * and turns both into per-layer values for that pass.
  */
final class TracedPass(spark: SparkSession, cores: Int) {
  val tracer = new Tracer
  val ledger = new SparkLedger
  private val compileNs0 = CodeGenerator.compileTime
  private val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  spark.sparkContext.addSparkListener(ledger)
  /** The pass's root span. The workload sets its bounds to the interval it
    * times in an untraced pass as well, so the two walls cover the same work.
    */
  val root: Span = tracer.add(-1, "harness", "pass", 0L, 0L)

  /** Returns the pass's per-layer values. `opLayer` names the span layer
    * whose time not covered by jobs is the driver's gap, and whose end after
    * the last job is the result tail.
    */
  def finish(opLayer: String): Map[String, Double] = {
    require(root.end > root.start, "the workload did not time the traced pass")
    PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(ledger)
    val l = ledger
    val v = mutable.LinkedHashMap.empty[String, Double]
    val wallMs = (root.end - root.start) / 1e6
    val tableJobs = l.jobs.values.filter(j => j.tableOpen && j.endMs >= 0)
    v("core.tables.open_ms") = tableJobs.map(j => (j.endMs - j.startMs).toDouble).sum
    v("core.tables.open_jobs") = tableJobs.size
    v("queries.build_jobs") = l.jobs.values.count(_.phase == "build")
    v("plans.codegen_ms") = (CodeGenerator.compileTime - compileNs0) / 1e6
    v("plans.codegen_compiles") = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
    v("exec.jobs") = l.jobs.size
    v("exec.stages") = l.stages.size
    v("exec.tasks") = l.tasks
    v("exec.tasks_empty_share") = if (l.tasks == 0) 0.0 else l.emptyTasks.toDouble / l.tasks
    v("exec.task_run_ms") = l.taskRunMs
    v("exec.task_cpu_ms") = l.taskCpuNs / 1e6
    v("exec.gc_ms") = l.gcMs
    v("exec.slot_busy_share") = l.taskDurMs / (cores * wallMs)
    v("scan.input_bytes") = l.inputBytes
    v("scan.input_records") = l.inputRecords
    v("shuffle.write_bytes") = l.shWriteBytes
    v("shuffle.write_records") = l.shWriteRecords
    v("shuffle.read_bytes") = l.shReadBytes
    v("shuffle.spill_bytes") = l.spillBytes
    v("core.caching.blocks_stored") = l.blocksStored
    v("core.caching.bytes_stored") = l.bytesStored

    l.addSpans(tracer)
    tracer.attachOrphans(root)
    val jobSpans = tracer.spans.filter(s => s.layer == "exec.job" || s.layer == "core.tables")
      .filter(s => s.name.startsWith("job"))
    var gapNs, tailNs = 0.0
    tracer.spans.filter(_.layer == opLayer).foreach { op =>
      val inside = jobSpans.filter(j => j.start >= op.start && j.start < op.end)
        .map(j => (j.start, math.min(j.end, op.end))).sortBy(_._1)
      var covered, cursor = 0L
      cursor = op.start
      inside.foreach { case (a, b) =>
        val s = math.max(a, cursor)
        if (b > s) { covered += b - s; cursor = b }
      }
      gapNs += (op.end - op.start) - covered
      if (inside.nonEmpty) tailNs += math.max(0L, op.end - inside.map(_._2).max)
    }
    v("exec.driver_gap_ms") = gapNs / 1e6
    v("exec.result_tail_ms") = tailNs / 1e6

    val self = tracer.selfTimesNs(root)
    Layers.selfLayers.foreach(layer => v(s"self.${layer}_ms") = self.getOrElse(layer, 0.0) / 1e6)
    val claimed = self.filter(_._1 != "harness").values.sum / 1e6
    v("trace.reconcile_gap_share") = math.abs(wallMs - claimed) / wallMs
    v("wall_ms") = wallMs
    Main.traces += tracer.toJson
    v.toMap
  }
}

object Layers {
  /** Span layers whose self time is reported; "harness" is time spent in
    * the benchmark between the program's calls.
    */
  val selfLayers = Seq("harness", "queries", "core.tables", "plans", "exec.driver",
    "exec.job", "exec.stage", "streaming.lifecycle", "streaming.trigger",
    "streaming.source", "streaming.checkpoint", "streaming.planning",
    "streaming.add_batch", "streaming.sink")

  val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Per-layer metrics each kind of workload does not touch: reported as
    * 0 so every run prints the same set.
    */
  val batchOnly: Seq[String] = Seq("core.tables.open_ms", "core.tables.open_jobs",
    "queries.build_ms", "queries.build_jobs", "plans.plan_ms") ++
    tables.flatMap(t => Seq(s"core.tables.probe.$t.open_ms", s"core.tables.probe.$t.jobs"))
  val streamOnly: Seq[String] = Seq(
    "streaming.source.latest_offset_ms", "streaming.source.get_batch_ms",
    "streaming.query_planning_ms", "streaming.add_batch_ms",
    "streaming.checkpoint.wal_ms", "streaming.checkpoint.commit_ms",
    "streaming.state.rows_total", "streaming.state.memory_bytes",
    "streaming.state.rows_updated", "streaming.state.commit_ms",
    "streaming.state.rows_dropped_late", "streaming.sink.write_ms",
    "streaming.sink.commits", "streaming.sink.replays_skipped",
    "streaming.sink.retries", "streaming.sink.dlq_batches", "exec.parallel_speedup")

  /** Mean over the traced passes of each per-pass value. */
  def mean(passes: Seq[Map[String, Double]]): Map[String, Double] =
    passes.head.keys.map(k => k -> passes.map(_(k)).sum / passes.size).toMap

  /** Emits per-layer metrics with their units, derived from the name. */
  def emit(m: Metrics, values: Map[String, Double]): Unit =
    values.toSeq.sortBy(_._1).foreach { case (k, v) => m.layer(k, unitOf(k), v) }

  def unitOf(name: String): String =
    if (name.endsWith("_ms")) "ms"
    else if (name.endsWith("_bytes")) "bytes"
    else if (name.endsWith("_share")) "ratio"
    else if (name.endsWith("_speedup")) "x"
    else "count"
}
