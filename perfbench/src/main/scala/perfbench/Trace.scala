package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._

/** A timed interval at a layer boundary. `parent` is the span that caused
  * it (-1 for a pass's root); all spans of one pass share the root. Times
  * are monotonic nanoseconds.
  */
final class Span(val id: Int, var parent: Int, val layer: String,
                 val name: String, var start: Long, var end: Long)

object Tracer {
  val sparkLayers = Set("exec.job", "exec.stage", "core.tables")
}

/** In-memory spans of one traced pass, written out when the run ends. */
final class Tracer {
  val spans = mutable.ArrayBuffer.empty[Span]
  /** Spark's listener events carry wall-clock milliseconds. */
  private val wallMinusMonoNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def wallMsToNs(ms: Long): Long = ms * 1000000L - wallMinusMonoNs

  def add(parent: Int, layer: String, name: String, start: Long, end: Long): Span =
    synchronized {
      val s = new Span(spans.size, parent, layer, name, start, end)
      spans += s
      s
    }

  def span[T](parent: Span, layer: String, name: String)(body: Span => T): T = {
    val s = add(if (parent == null) -1 else parent.id, layer, name, System.nanoTime(), 0L)
    try body(s) finally s.end = System.nanoTime()
  }

  /** Gives spans recorded without a parent (Spark jobs, sink writes) the
    * deepest harness span that encloses their start. Jobs never nest in
    * one another, concurrent ones are siblings; stages stay under their job.
    */
  def attachOrphans(root: Span): Unit = {
    val depth = mutable.Map[Int, Int](root.id -> 0)
    def depthOf(s: Span): Int = depth.getOrElseUpdate(s.id,
      if (s.parent < 0) 0 else depthOf(spans(s.parent)) + 1)
    val orphans = spans.filter(s => s.parent < 0 && s.id != root.id)
    val byStart = orphans.sortBy(_.start)
    byStart.foreach { o =>
      val enclosing = spans.filter(s => s.parent >= 0 || s.id == root.id)
        .filter(s => s.id != o.id && s.start <= o.start && o.start < s.end &&
          !Tracer.sparkLayers(s.layer))
      o.parent = if (enclosing.isEmpty) root.id else enclosing.maxBy(depthOf).id
    }
  }

  /** Self time per layer: every instant of the root interval goes to the
    * deepest spans active at that instant, split evenly when several of
    * equal depth overlap (concurrent stages). The parts therefore add up
    * to the root's duration; the root's own share is time no layer
    * claimed.
    */
  def selfTimesNs(root: Span): Map[String, Double] = {
    val depth = new Array[Int](spans.size)
    def d(s: Span): Int = if (s.parent < 0) 0 else d(spans(s.parent)) + 1
    spans.foreach(s => depth(s.id) = d(s))
    val clipped = spans.filter(s => s.end > s.start).map { s =>
      (s, math.max(s.start, root.start), math.min(s.end, root.end))
    }.filter { case (_, a, b) => b > a }
    val bounds = clipped.flatMap { case (_, a, b) => Seq(a, b) }.distinct.sorted
    val out = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    bounds.zip(bounds.drop(1)).foreach { case (a, b) =>
      val active = clipped.filter { case (_, s, e) => s <= a && e >= b }
      if (active.nonEmpty) {
        val top = active.map { case (s, _, _) => depth(s.id) }.max
        val deepest = active.filter { case (s, _, _) => depth(s.id) == top }
        deepest.foreach { case (s, _, _) => out(s.layer) += (b - a).toDouble / deepest.size }
      }
    }
    out.toMap
  }

  def toJson: String = spans.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"layer":${Json.str(s.layer)},""" +
      s""""name":${Json.str(s.name)},"start_ns":${s.start},"end_ns":${s.end}}"""
  }.mkString("[", ",\n", "]")
}

/** Job, stage, task and block counters of one traced pass, from Spark's
  * listener bus. Jobs launched by a `Tables` accessor (parquet schema
  * inference) are recognised by the accessor's frame in the job's call
  * site.
  */
final class SparkLedger extends SparkListener {
  final class Job(val id: Int, val startMs: Long, val phase: String,
                  val tableOpen: Boolean) { var endMs: Long = -1 }
  final class Stage(val id: Int, val jobId: Int, val submitMs: Long, val doneMs: Long)
  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.ArrayBuffer.empty[Stage]
  private val stageToJob = mutable.Map.empty[Int, Int]
  var tasks, emptyTasks = 0L
  var taskRunMs, taskCpuNs, gcMs, taskDurMs = 0L
  var inputBytes, inputRecords, shWriteBytes, shWriteRecords, shReadBytes, spillBytes = 0L
  var blocksStored, bytesStored = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val phase = Option(e.properties).flatMap(p => Option(p.getProperty(Main.PhaseProperty)))
      .getOrElse("")
    val tableOpen = e.stageInfos.exists(_.details.contains("graft.core.Tables$"))
    jobs(e.jobId) = new Job(e.jobId, e.time, phase, tableOpen)
    e.stageIds.foreach(s => stageToJob(s) = e.jobId)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    for (sub <- i.submissionTime; done <- i.completionTime)
      stages += new Stage(i.stageId, stageToJob.getOrElse(i.stageId, -1), sub, done)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    taskDurMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      taskRunMs += m.executorRunTime
      taskCpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      inputBytes += m.inputMetrics.bytesRead
      inputRecords += m.inputMetrics.recordsRead
      shWriteBytes += m.shuffleWriteMetrics.bytesWritten
      shWriteRecords += m.shuffleWriteMetrics.recordsWritten
      shReadBytes += m.shuffleReadMetrics.totalBytesRead
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      if (m.inputMetrics.recordsRead == 0 && m.shuffleReadMetrics.recordsRead == 0)
        emptyTasks += 1
    }
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid) {
      blocksStored += 1
      bytesStored += b.memSize + b.diskSize
    }
  }

  /** Adds every finished job and stage to the tracer as a span. */
  def addSpans(t: Tracer): Unit = synchronized {
    val jobSpan = mutable.Map.empty[Int, Span]
    jobs.values.filter(_.endMs >= 0).foreach { j =>
      val layer = if (j.tableOpen) "core.tables" else "exec.job"
      jobSpan(j.id) = t.add(-1, layer, s"job ${j.id}", t.wallMsToNs(j.startMs), t.wallMsToNs(j.endMs))
    }
    stages.foreach { s =>
      val parent = jobSpan.get(s.jobId)
      val layer = if (parent.exists(_.layer == "core.tables")) "core.tables" else "exec.stage"
      t.add(parent.map(_.id).getOrElse(-1), layer, s"stage ${s.id}",
        t.wallMsToNs(s.submitMs), t.wallMsToNs(s.doneMs))
    }
  }
}
