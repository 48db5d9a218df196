package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, timestamp_millis}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException, StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.streaming.{ExactlyOnce, FileSource, TransformWithStateOps, WatermarkStrategy}
import graft.windowing.Time

final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long, value: Long)
final case class WindowOut(user_id: Long, window_start: Long, n: Long, total: Long)
/** A generated input: its directory, its file count and the expected
  * windows, (user, window start) → (events, sum of values).
  */
final case class Input(dir: java.nio.file.Path, files: Int,
                       expected: Map[(Long, Long), (Long, Long)])
final case class PassResult(wall: Double, triggerMs: Seq[Double], layers: Map[String, Double])
/** What a pass left behind for its correctness check. */
final case class PassOutput(p: Int, dir: Path, sink: WindowSink, progress: Seq[StreamingQueryProgress])

/** Keyed exactly-once pipeline in the shape of the reference's stress and
  * reliability tests: CSV files (one per trigger) → bounded watermark →
  * dedup within the watermark → keyed tumbling window over
  * transformWithState → idempotent foreachBatch sink that fails a seeded
  * share of first attempts. Closed loop: each trigger starts when the
  * previous one has committed. Every pass starts from an empty checkpoint
  * and must reproduce a batch recomputation of the windows exactly.
  */
final class StreamWorkload(env: Env, m: Metrics) {
  private val files = env.int("files")
  private val rowsPerFile = env.int("rows_per_file")
  private val windowMs = env.int("window_ms").toLong
  private val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  private val listener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }
  private val stateConf = Map("spark.sql.streaming.stateStore.providerClass" ->
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
  private var lastOutput: Option[PassOutput] = None

  def run(): Unit = {
    // the seeded inputs are the benchmark's, not the program's: made once,
    // outside the timed set-up
    val input = generate(env.work.resolve("stream-input"), files)
    val shortInput = generate(env.work.resolve("stream-short"), env.int("baseline_files"))
    // set-up: a session as a deployment builds it, and the pipeline's query
    // started on its (still empty) source until its first trigger has run
    val setups = (1 to Main.Setups).map { i =>
      val dir = env.work.resolve(s"stream-setup-$i")
      Main.deleteTree(dir)
      Files.createDirectories(dir.resolve("input"))
      val none: (DataFrame, Long) => Unit = (_, _) => ()
      val t0 = System.nanoTime()
      val spark = Main.session(env, s"local[${env.cores}]", stateConf)
      val q = pipeline(spark, dir.resolve("input")).writeStream
        .option("checkpointLocation", dir.resolve("checkpoint").toString)
        .foreachBatch(none).start()
      q.processAllAvailable()
      q.stop()
      val s = (System.nanoTime() - t0) / 1e9
      if (i < Main.Setups) spark.stop()
      s
    }
    var spark = SparkSession.active
    spark.streams.addListener(listener)
    // warm-up: one untimed pass; a shorter one leaves the next passes slower
    pass(spark, 0, None, input)

    val tailP = env.double("tail_percentile")
    val samples = mutable.ArrayBuffer.empty[Double]
    val walls = mutable.ArrayBuffer.empty[Double]
    val tracedWalls = mutable.ArrayBuffer.empty[Double]
    val layerPasses = mutable.ArrayBuffer.empty[Map[String, Double]]
    val t0 = System.nanoTime()
    var p = 1
    def enough = (System.nanoTime() - t0) / 1e9 >= env.seconds && (
      if (env.traced) walls.size >= 2 && layerPasses.size >= 2
      else p > env.int("min_passes") && samples.size * (1 - tailP / 100) >= 10)
    while (!enough) {
      if (env.traced && Main.tracedPass(p)) {
        val tp = new TracedPass(spark, env.cores)
        val r = pass(spark, p, Some(tp), input)
        val v = tp.finish("streaming.trigger")
        tracedWalls += v("wall_ms")
        layerPasses += v ++ r.layers
      } else {
        val r = pass(spark, p, None, input)
        walls += r.wall
        samples ++= r.triggerMs
      }
      p += 1
    }
    negativeControl(input)

    System.err.println(setups.map(x => f"$x%.3f").mkString("[perfbench] set-ups (s): ", " ", ""))
    m.e2e("setup_s", "s", Main.median(setups))
    m.e2e("wall_s", "s", Main.median(walls.toSeq))
    m.e2e("latency_p50_ms", "ms", Main.median(samples.toSeq))
    m.e2e("latency_tail_ms", "ms", Main.percentile(samples.toSeq, tailP))
    m.e2e("success_rate", "ratio", m.successRate)
    System.err.println(f"[perfbench] ${env.name}: ${walls.size} passes, ${samples.size} triggers, " +
      f"tail = p$tailP%.0f, ${rowsPerFile * walls.size * files / walls.sum}%.0f rows/s")
    if (env.traced) {
      val v = Layers.mean(layerPasses.toSeq) - "wall_ms"
      // single-threaded baseline of the same job on the short input,
      // informational only
      val multi = pass(spark, -1, None, shortInput).wall
      spark.stop()
      spark = Main.session(env, "local[1]", stateConf)
      spark.streams.addListener(listener)
      val single = pass(spark, -2, None, shortInput).wall
      Layers.emit(m, v ++ Layers.batchOnly.map(_ -> 0.0) ++ Map(
        "trace.overhead_share" -> (Main.median(tracedWalls.toSeq) / 1000 / Main.median(walls.toSeq) - 1),
        "exec.parallel_speedup" -> single / multi))
    }
  }

  /** Writes the seeded input, one CSV file per trigger, with the windows
    * a batch computation over its distinct events gives.
    */
  private def generate(input: Path, files: Int): Input = {
    val rnd = new java.util.Random(env.seed)
    val users = env.int("users")
    val cdf = {
      val w = (1 to users).map(r => 1.0 / math.pow(r, env.double("zipf_s")))
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    }
    def zipfUser(): Long = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      (if (i >= 0) i else -i - 1).min(users - 1).toLong
    }
    val stepMs = env.int("step_ms")
    val jitterMs = env.int("jitter_ms")
    val dupShare = env.double("duplicate_share")
    val dupLag = env.int("duplicate_lag")
    val base = 1700000000000L
    val recent = mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    val distinct = mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    var nextId = 0L
    Main.deleteTree(input)
    Files.createDirectories(input)
    val now = System.currentTimeMillis()
    (0 until files).foreach { f =>
      val lines = (0 until rowsPerFile).map { r =>
        val i = f.toLong * rowsPerFile + r
        val ev =
          if (recent.nonEmpty && rnd.nextDouble() < dupShare) recent(rnd.nextInt(recent.size))
          else {
            val e = (nextId, base + i * stepMs + rnd.nextInt(jitterMs), zipfUser(), rnd.nextInt(1000).toLong)
            nextId += 1
            distinct += e
            recent += e
            if (recent.size > dupLag) recent.remove(0)
            e
          }
        s"${ev._1},${ev._2},${ev._3},${ev._4}"
      }
      // the last file carries one far-future event of its own key: the
      // watermark then passes every other window, which all fire
      val sentinel =
        if (f == files - 1) Seq(s"-1,${base + files.toLong * rowsPerFile * stepMs + 3600000L},-1,0")
        else Nil
      val path = input.resolve(f"part-$f%05d.csv")
      Files.write(path, (lines ++ sentinel).mkString("", "\n", "\n").getBytes("UTF-8"))
      // the file source takes files oldest first
      path.toFile.setLastModified(now - (files - f) * 1000L)
    }
    Input(input, files, distinct.groupBy { case (_, ts, u, _) => (u, ts - ts % windowMs) }
      .map { case (k, evs) => k -> (evs.size.toLong, evs.map(_._4).sum) })
  }

  private def pipeline(spark: SparkSession, input: Path): DataFrame = {
    import spark.implicits._
    val schema = StructType(Seq("event_id", "ts_ms", "user_id", "value")
      .map(StructField(_, LongType)))
    val src = FileSource.stream(spark, "csv", input.toString, Some(schema), Some(1))
      .withColumn("ts", timestamp_millis(col("ts_ms")))
    val watermarked = WatermarkStrategy
      .forBoundedOutOfOrderness(Time.milliseconds(env.int("watermark_ms").toLong))
      .assign(src, "ts")
    val grouped = watermarked.dropDuplicatesWithinWatermark("event_id")
      .select("event_id", "ts", "user_id", "value").as[Event]
      .groupByKey(_.user_id)
    TransformWithStateOps.tumblingProcessWindow(grouped, windowMs)(StreamWorkload.eventMs)(
      StreamWorkload.pane).toDF()
  }

  private def pass(spark: SparkSession, p: Int, tp: Option[TracedPass], in: Input): PassResult = {
    val expected = in.expected
    // a fresh directory per pass: nothing of an earlier query's checkpoint
    // or ledger can be seen, even while its files are still being released
    val dir = env.work.resolve(s"stream-pass-$p")
    Main.deleteTree(dir)
    val rnd = new java.util.Random(env.seed * 7919L + p)
    val failShare = env.double("sink_fail_share")
    val failFirst = (0 until in.files + 4).map(_ => rnd.nextDouble() < failShare)
    val tracer = tp.map(_.tracer)
    val sink = new WindowSink(b => b < failFirst.size && failFirst(b.toInt), tracer)
    val ledger = new ExactlyOnce.BatchLedger(dir.resolve("ledger").toString)
    val dlq = dir.resolve("dlq")
    val eo = ExactlyOnce.foreachBatchIdempotent(sink, ledger,
      ExactlyOnce.RetryPolicy(maxAttempts = 3, backoffMs = 1), Some(dlq.toString))
    var replays = 0L
    val fn: (DataFrame, Long) => Unit = { (df, id) =>
      if (ledger.isCommitted(id)) replays += 1
      eo(df, id)
    }
    def lifecycle[T](name: String)(body: => T): T = tracer match {
      case Some(t) => t.span(tp.get.root, "streaming.lifecycle", name)(_ => body)
      case None => body
    }
    def start(): StreamingQuery = lifecycle("start") {
      pipeline(spark, in.dir).writeStream
        .option("checkpointLocation", dir.resolve("checkpoint").toString)
        .foreachBatch(fn).start()
    }
    Main.settle()
    progress.clear()
    val t0 = System.nanoTime()
    tp.foreach(_.root.start = t0)
    val q = start()
    // a failed query counts against the pass: its windows are then missing
    try q.processAllAvailable()
    catch { case e: StreamingQueryException => m.fail(s"pass $p: query failed: ${e.getMessage}") }
    // the last windows fire in the watermark-only batch after the data
    val deadline = System.nanoTime() + 60000000000L
    while (sink.windows.size + sink.duplicateWindows < expected.size && q.isActive &&
      System.nanoTime() < deadline) Thread.sleep(1)
    lifecycle("stop")(q.stop())
    val t1 = System.nanoTime()
    tp.foreach(_.root.end = t1)
    val wall = (t1 - t0) / 1e9
    System.err.println(f"[perfbench] pass $p${if (tp.isDefined) " (traced)" else ""}: $wall%.2f s")
    PerfbenchBus.drain(spark.sparkContext)
    val prog = progress.asScala.toSeq
    val out = PassOutput(p, dir, sink, prog)
    verify(m, expected, out)
    if (p > 0) lastOutput = Some(out)
    val late = prog.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum

    val data = prog.filter(_.numInputRows > 0)
    val triggerMs = data.map(_.durationMs.get("triggerExecution").toDouble)
    val layers = tracer.map { t =>
      prog.foreach(pr => addTriggerSpans(t, tp.get.root, pr))
      def phase(k: String) = prog.map(pr => Option(pr.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)).sum
      val states = prog.map(_.stateOperators.toSeq)
      Map(
        "streaming.source.latest_offset_ms" -> phase("latestOffset"),
        "streaming.source.get_batch_ms" -> phase("getBatch"),
        "streaming.query_planning_ms" -> phase("queryPlanning"),
        "streaming.add_batch_ms" -> phase("addBatch"),
        "streaming.checkpoint.wal_ms" -> phase("walCommit"),
        "streaming.checkpoint.commit_ms" -> phase("commitOffsets"),
        "streaming.state.rows_total" -> states.map(_.map(_.numRowsTotal).sum.toDouble).max,
        "streaming.state.memory_bytes" -> states.map(_.map(_.memoryUsedBytes).sum.toDouble).max,
        "streaming.state.rows_updated" -> states.map(_.map(_.numRowsUpdated).sum.toDouble).sum,
        "streaming.state.commit_ms" -> states.map(_.map(_.commitTimeMs).sum.toDouble).sum,
        "streaming.state.rows_dropped_late" -> late.toDouble,
        "streaming.sink.write_ms" -> sink.writeNs / 1e6,
        "streaming.sink.commits" -> sink.commits.values.sum.toDouble,
        "streaming.sink.replays_skipped" -> replays.toDouble,
        "streaming.sink.retries" -> (sink.attempts.values.sum - sink.attempts.size).toDouble,
        "streaming.sink.dlq_batches" ->
          Option(dlq.toFile.list()).map(_.length.toDouble).getOrElse(0.0))
    }.getOrElse(Map.empty)
    PassResult(wall, triggerMs, layers)
  }

  /** A trigger and its phases as spans. Progress gives each phase's
    * duration; they are laid out in the order the micro-batch runs them.
    */
  private def addTriggerSpans(t: Tracer, root: Span, pr: StreamingQueryProgress): Unit = {
    val start = t.wallMsToNs(java.time.Instant.parse(pr.timestamp).toEpochMilli)
    val d = pr.durationMs
    val trig = t.add(root.id, "streaming.trigger", s"batch ${pr.batchId}", start,
      start + d.getOrDefault("triggerExecution", 0L) * 1000000L)
    var cursor = start
    Seq("latestOffset" -> "streaming.source", "walCommit" -> "streaming.checkpoint",
      "getBatch" -> "streaming.source", "queryPlanning" -> "streaming.planning",
      "addBatch" -> "streaming.add_batch", "commitOffsets" -> "streaming.checkpoint")
      .foreach { case (k, layer) =>
        val ms = Option(d.get(k)).map(_.longValue).getOrElse(0L)
        if (ms > 0) t.add(trig.id, layer, k, cursor, cursor + ms * 1000000L)
        cursor += ms * 1000000L
      }
  }

  /** A pass is correct when its committed windows equal the expected ones
    * exactly, no row was dropped as late, and every batchId was committed
    * once in the sink and once in the ledger.
    */
  private def verify(into: Metrics, expected: Map[(Long, Long), (Long, Long)], out: PassOutput): Unit = {
    val PassOutput(p, dir, sink, prog) = out
    into.attempted += expected.size
    val wrong = mismatches(expected, sink)
    if (wrong > 0) into.fail(s"pass $p: $wrong windows missing, wrong or duplicated", wrong)
    val got = sink.windows.values.map(_._1).sum
    val distinctEvents = expected.values.map(_._1).sum
    if (got != distinctEvents) into.fail(s"pass $p: $got events in windows, $distinctEvents distinct generated")
    val late = prog.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
    if (late != 0) into.fail(s"pass $p: $late rows dropped as late")
    val markers = Option(dir.resolve("ledger").toFile.list()).map(_.length).getOrElse(0)
    if (!sink.commits.values.forall(_ == 1) || sink.commits.size != markers)
      into.fail(s"pass $p: ledger has $markers batches, sink commits ${sink.commits}")
  }

  /** Differences between the committed windows and the expected ones:
    * missing, wrong and extra windows plus windows committed twice.
    */
  private def mismatches(exp: Map[(Long, Long), (Long, Long)], sink: WindowSink): Int = {
    val got = sink.windows.filter(_._1._1 >= 0)
    exp.count { case (k, v) => !got.get(k).contains(v) } +
      got.keys.count(k => !exp.contains(k)) + sink.duplicateWindows
  }

  /** A wrong window must lower the success rate: the last measured pass,
    * checked by the same code against an expectation with one window
    * perturbed into a separate tally, must fail there and leave the run's
    * tally unchanged.
    */
  private def negativeControl(input: Input): Unit = {
    val before = m.tally
    val probe = new Metrics("negative control caught:")
    val (k, (n, s)) = input.expected.head
    m.negativeControlCaught = lastOutput.exists { out =>
      verify(probe, input.expected.updated(k, (n + 1, s)), out)
      probe.successRate < 1.0 && m.tally == before
    }
  }
}

object StreamWorkload {
  val eventMs: Event => Long = _.ts.getTime
  val pane: (Long, Long, Seq[Event]) => WindowOut =
    (k, ws, evs) => WindowOut(k, ws, evs.size.toLong, evs.map(_.value).sum)
}

/** Benchmark-owned transactional sink: collects each batch's fired
  * windows, failing the first attempt of the batches `failFirst` picks.
  */
final class WindowSink(failFirst: Long => Boolean, tracer: Option[Tracer])
    extends ExactlyOnce.TransactionalBatchSink {
  val windows = mutable.Map.empty[(Long, Long), (Long, Long)]
  var duplicateWindows = 0
  val commits = mutable.Map.empty[Long, Int].withDefaultValue(0)
  val attempts = mutable.Map.empty[Long, Int].withDefaultValue(0)
  var writeNs = 0L
  private val staged = mutable.Map.empty[Long, Seq[WindowOut]]

  override def begin(batchId: Long): Unit = staged.remove(batchId)
  def write(batch: DataFrame, batchId: Long): Unit = {
    attempts(batchId) += 1
    val t0 = System.nanoTime()
    val rows = batch.collect().map(r => WindowOut(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val t1 = System.nanoTime()
    writeNs += t1 - t0
    tracer.foreach(_.add(-1, "streaming.sink", s"write $batchId", t0, t1))
    if (attempts(batchId) == 1 && failFirst(batchId))
      throw new RuntimeException(s"injected sink failure, batch $batchId")
    staged(batchId) = rows.toSeq
  }
  override def commit(batchId: Long): Unit = {
    staged.remove(batchId).getOrElse(Nil).foreach { w =>
      val k = (w.user_id, w.window_start)
      if (windows.contains(k)) duplicateWindows += 1
      windows(k) = (w.n, w.total)
    }
    commits(batchId) += 1
  }
  override def abort(batchId: Long, cause: Throwable): Unit = staged.remove(batchId)
}
