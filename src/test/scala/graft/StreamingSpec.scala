package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming._

/** Streaming semantics (SURVEY §2.1, §2.7, §2.8): micro-batch = checkpoint
  * barrier; exactly-once = offsets + idempotent-by-batchId sinks — the
  * reference's 1M-message exact-count invariant
  * (stress_test_passed_output.txt:91-96) reproduced at test scale.
  */
class StreamingSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  // shared, survives executor closure serialization in local mode
  private val counter = new AtomicLong(0)

  test("exact-count invariant: N rows streamed -> counter == N, no loss, no dup") {
    counter.set(0)
    val input = MemoryStream[Long](spark)
    val ledger = new ExactlyOnce.BatchLedger(tmp("ledger"))
    val sink = new ExactlyOnce.TransactionalBatchSink {
      def write(batch: DataFrame, batchId: Long): Unit =
        counter.addAndGet(batch.count())
    }
    val fn = ExactlyOnce.foreachBatchIdempotent(sink, ledger)
    val q = input.toDS().toDF("v").writeStream
      .option("checkpointLocation", tmp("ckpt"))
      .foreachBatch(fn)
      .start()
    val n = 100000
    (0 until 10).foreach { b =>
      input.addData((b * 10000L) until ((b + 1) * 10000L))
      q.processAllAvailable()
    }
    q.stop()
    assert(counter.get() === n, "no loss, no duplication")
  }

  test("replayed batchId is skipped by the ledger (idempotent exactly-once)") {
    counter.set(0)
    val ledger = new ExactlyOnce.BatchLedger(tmp("ledger"))
    val sink = new ExactlyOnce.TransactionalBatchSink {
      def write(batch: DataFrame, batchId: Long): Unit =
        counter.addAndGet(batch.count())
    }
    val fn = ExactlyOnce.foreachBatchIdempotent(sink, ledger)
    val df = spark.range(100).toDF()
    fn(df, 7L)
    fn(df, 7L) // replay after "failure between commit and offset write"
    assert(counter.get() === 100)
  }

  test("replayed batch of a stateful query restarts: drained, not re-sunk") {
    // A crash after the ledger commit but before Spark's commit-log write
    // replays that batchId on restart. The ledger keeps it out of the
    // sink, but the batch must still execute: dropDuplicates commits its
    // state-store version only when the batch runs.
    import java.nio.file.{Files => F, Paths}
    val dir = tmp("eo-stateful")
    val in = Paths.get(dir, "in")
    F.createDirectories(in)
    def addFile(i: Int, ids: Long*): Unit = {
      val f = in.resolve(s"f$i.json")
      F.write(f, ids.map(id => s"""{"event_id":$id}""").mkString("\n").getBytes)
      f.toFile.setLastModified(1700000000000L + i * 1000L)
    }
    addFile(0, 1, 2, 3); addFile(1, 3, 4); addFile(2, 5, 1)
    val calls = new java.util.concurrent.ConcurrentHashMap[Long, AtomicLong]()
    val delivered = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val ledger = new ExactlyOnce.BatchLedger(s"$dir/ledger")
    val sink = new ExactlyOnce.TransactionalBatchSink {
      def write(batch: DataFrame, batchId: Long): Unit = {
        calls.computeIfAbsent(batchId, _ => new AtomicLong(0)).incrementAndGet()
        batch.collect().foreach(r => delivered.add(r.getLong(0)))
      }
    }
    // no watermark, so no extra no-data batches: one batch per file
    def run(): Unit = spark.readStream.schema("event_id BIGINT")
      .option("maxFilesPerTrigger", 1).json(in.toString)
      .dropDuplicates("event_id")
      .writeStream.option("checkpointLocation", s"$dir/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch(ExactlyOnce.foreachBatchIdempotent(sink, ledger))
      .start().awaitTermination()
    run()
    // the crash: batch 2 is in the ledger, but not in Spark's commit log
    val commits = new java.io.File(s"$dir/ckpt/commits")
    val last = commits.listFiles().map(_.getName).filter(_.forall(_.isDigit))
      .map(_.toLong).max
    assert(last === 2L)
    Seq(s"$last", s".$last.crc").foreach(n => new java.io.File(commits, n).delete())
    addFile(3, 2, 6)
    run() // replays batch 2 under its old id, then runs batch 3
    assert(new java.io.File(commits, "3").exists(), "restart ran to the end")
    import scala.jdk.CollectionConverters._
    assert(calls.asScala.map { case (b, n) => b -> n.get() }.toMap ===
      Map(0L -> 1L, 1L -> 1L, 2L -> 1L, 3L -> 1L),
      "each batch reached the sink exactly once")
    assert(delivered.asScala.toSeq.sorted === (1L to 6L),
      "each event id delivered once across the replay")
    val markers = F.list(Paths.get(dir, "ledger")).iterator().asScala
      .map(_.getFileName.toString).toSeq.sorted
    assert(markers === (0 to 3).map(b => s"batch-$b.committed"),
      "one ledger commit per batchId")
  }

  test("transient failures are retried; commit happens exactly once") {
    counter.set(0)
    val attempts = new AtomicLong(0)
    val ledger = new ExactlyOnce.BatchLedger(tmp("ledger"))
    val sink = new ExactlyOnce.TransactionalBatchSink {
      def write(batch: DataFrame, batchId: Long): Unit = {
        if (attempts.incrementAndGet() < 3) sys.error("transient")
        counter.addAndGet(batch.count())
      }
    }
    val fn = ExactlyOnce.foreachBatchIdempotent(
      sink, ledger, ExactlyOnce.RetryPolicy(maxAttempts = 3, backoffMs = 1))
    fn(spark.range(50).toDF(), 1L)
    assert(attempts.get() === 3)
    assert(counter.get() === 50)
  }

  test("exhausted retries divert the batch to the DLQ and keep the query alive") {
    val dlq = tmp("dlq")
    val ledger = new ExactlyOnce.BatchLedger(tmp("ledger"))
    val sink = new ExactlyOnce.TransactionalBatchSink {
      def write(batch: DataFrame, batchId: Long): Unit = sys.error("permanent")
    }
    val fn = ExactlyOnce.foreachBatchIdempotent(
      sink, ledger, ExactlyOnce.RetryPolicy(maxAttempts = 2, backoffMs = 1), Some(dlq))
    fn(spark.range(25).toDF(), 3L)
    assert(spark.read.parquet(s"$dlq/batch-3").count() === 25)
    assert(ledger.isCommitted(3L))
  }

  test("windowed aggregation with watermark drops late data past the delay") {
    val input = MemoryStream[(java.sql.Timestamp, Double)](spark)
    val wm = WatermarkStrategy.forBoundedOutOfOrderness(
      graft.windowing.Time.seconds(10))
    val agg = wm.assign(input.toDS().toDF("ts", "value"), "ts")
      .groupBy(window(col("ts"), "10 seconds"))
      .agg(sum(col("value")).as("s"), count(lit(1)).as("n"))
      .select(unix_millis(col("window.start")).as("ws"), col("s"), col("n"))
    val results = scala.collection.mutable.Map.empty[Long, (Double, Long)]
    val q = agg.writeStream.outputMode("append")
      .option("checkpointLocation", tmp("ckpt"))
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.collect().foreach(r => results(r.getLong(0)) = (r.getDouble(1), r.getLong(2)))
      }
      .start()
    def ts(s: Long) = new java.sql.Timestamp(s * 1000)
    input.addData((ts(1), 1.0), (ts(5), 2.0))
    q.processAllAvailable()
    // advance watermark past window [0,10): wm = 60 - 10 = 50 > 10
    input.addData((ts(60), 9.0))
    q.processAllAvailable()
    // late arrival for the closed window: dropped, not merged
    input.addData((ts(2), 100.0))
    q.processAllAvailable()
    input.addData((ts(120), 9.0))
    q.processAllAvailable()
    val dropped = q.recentProgress.toSeq
      .flatMap(_.stateOperators.toSeq).map(_.numRowsDroppedByWatermark).sum
    q.stop()
    assert(results(0L) === ((3.0, 2L)), "window [0,10) closed with on-time rows only")
    assert(!results.contains(100L) || results(0L)._1 == 3.0)
    // the dropped-late-rows metric surfaced it (SURVEY §2.7 late-data row)
    assert(dropped === 1L, s"expected exactly the one late row dropped, got $dropped")
  }

  test("count windows fire every N elements per key, remainder held in state") {
    val input = MemoryStream[(String, Int)](spark)
    val counted = StatefulOps.countWindow(
      input.toDS().groupByKey(_._1), size = 3) {
      (k: String, pane: Seq[(String, Int)]) => (k, pane.map(_._2).sum)
    }
    val fired = scala.collection.mutable.ArrayBuffer.empty[(String, Int)]
    val q = counted.writeStream.outputMode("append")
      .option("checkpointLocation", tmp("ckpt"))
      .foreachBatch { (b: org.apache.spark.sql.Dataset[(String, Int)], _: Long) =>
        fired ++= b.collect(); ()
      }
      .start()
    input.addData(("a", 1), ("a", 2), ("b", 10))
    q.processAllAvailable()
    assert(fired.isEmpty, "no pane reached 3 elements yet... except a has 2")
    input.addData(("a", 3), ("b", 20), ("b", 30))
    q.processAllAvailable()
    q.stop()
    assert(fired.toSet === Set(("a", 6), ("b", 60)))
  }

  test("count window + evictAfter carries the last M elements into the next pane") {
    val input = MemoryStream[(String, Int)](spark)
    // fire every 3, retain last 2 after firing: Flink's sliding-count shape
    val counted = StatefulOps.countWindow(
      input.toDS().groupByKey(_._1), size = 3,
      evictor = Some(graft.datastream.CountEvictor.of[(String, Int)](2))) {
      (k: String, pane: Seq[(String, Int)]) => (k, pane.map(_._2).sum)
    }
    val fired = scala.collection.mutable.ArrayBuffer.empty[(String, Int)]
    val q = counted.writeStream.outputMode("append")
      .option("checkpointLocation", tmp("ckpt-evict-after"))
      .foreachBatch { (b: org.apache.spark.sql.Dataset[(String, Int)], _: Long) =>
        fired ++= b.collect(); ()
      }
      .start()
    input.addData(("a", 1), ("a", 2), ("a", 4))
    q.processAllAvailable()
    assert(fired.toSeq === Seq(("a", 7)), "first pane fires at 3 elements")
    input.addData(("a", 8)) // retained (2,4) + 8 → fires again immediately
    q.processAllAvailable()
    q.stop()
    assert(fired.toSeq === Seq(("a", 7), ("a", 14)),
      "second pane overlaps the first by the 2 retained elements")
  }

  test("mapWithState maintains running per-key state across batches") {
    val input = MemoryStream[(String, Double)](spark)
    val running = StatefulOps.mapWithState(
      input.toDS().groupByKey(_._1))(0.0)((s, v) => s + v._2)((k, s) => (k, s))
    val latest = scala.collection.mutable.Map.empty[String, Double]
    val q = running.writeStream.outputMode("update")
      .option("checkpointLocation", tmp("ckpt"))
      .foreachBatch { (b: org.apache.spark.sql.Dataset[(String, Double)], _: Long) =>
        b.collect().foreach { case (k, s) => latest(k) = s }
      }
      .start()
    input.addData(("x", 1.0), ("x", 2.0))
    q.processAllAvailable()
    input.addData(("x", 3.0), ("y", 5.0))
    q.processAllAvailable()
    q.stop()
    assert(latest("x") === 6.0)
    assert(latest("y") === 5.0)
  }

  test("checkpoint restart resumes from committed offsets (no loss, no dup)") {
    val dir = tmp("restart")
    // the file source lists FILES, not nested dirs: stage parquet output
    // and move the part files flat into the watched directory
    def addFile(tag: String, from: Long, until: Long): Unit = {
      spark.range(from, until).toDF("id").coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/stage")
      val part = new java.io.File(s"$dir/stage").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/in"))
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$dir/in/$tag.parquet"))
    }
    addFile("a", 0, 500)
    val schema = spark.read.parquet(s"$dir/in").schema
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    def run(): Unit = {
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$dir/in")
        .writeStream
        .option("checkpointLocation", s"$dir/ckpt")
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.collect().foreach(r => seen.add(r.getLong(0))); ()
        }
        .start()
      q.processAllAvailable(); q.stop()
    }
    run()
    assert(seen.size() === 500)
    // new data lands while the query is DOWN; restart picks up only it
    addFile("b", 500, 800)
    run()
    assert(seen.size() === 800, "restart consumed exactly the new file")
  }

  test("RocksDB state store provider drives stateful aggregation (SURVEY §2.8)") {
    val input = MemoryStream[(String, Int)](spark)
    val agg = input.toDS().toDF("k", "v")
      .groupBy(col("k")).agg(sum(col("v")).as("s"))
    val latest = scala.collection.mutable.Map.empty[String, Long]
    val q = agg.writeStream.outputMode("update")
      .option("checkpointLocation", tmp("ckpt"))
      .option("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.collect().foreach(r => latest(r.getString(0)) = r.getLong(1)); ()
      }
      .start()
    input.addData(("a", 1), ("b", 2))
    q.processAllAvailable()
    input.addData(("a", 3))
    q.processAllAvailable()
    q.stop()
    assert(latest("a") === 4L && latest("b") === 2L)
  }

  test("streaming windowed aggregation equals the batch result on the same data") {
    import graft.core.Tables
    // batch answer (q26 tumbling daily agg shape, keyed smaller for speed)
    val batch = Tables.events(spark, TestSession.sfDir)
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("s"))
      .select(unix_millis(col("window.start")).as("ws"), col("event_type"), col("n"), col("s"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    // same aggregation through the streaming engine over the same file
    // (file sources watch directories, so stage the fixture into one)
    val inDir = tmp("events-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${TestSession.sfDir}/events.parquet"),
      java.nio.file.Paths.get(s"$inDir/events.parquet"))
    val schema = spark.read.parquet(s"${TestSession.sfDir}/events.parquet").schema
    val streamed = scala.collection.mutable.Map.empty[(Long, String), (Long, Double)]
    val raw = spark.readStream.schema(schema).parquet(inDir)
    val normalized = raw.withColumn("ts",
      if (schema("ts").dataType == org.apache.spark.sql.types.LongType)
        timestamp_micros(expr("ts div 1000"))
      else col("ts").cast("timestamp")) // NTZ fixture → session-UTC instant, as Tables.events
    val q = normalized
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("s"))
      .select(unix_millis(col("window.start")).as("ws"), col("event_type"), col("n"), col("s"))
      .writeStream.outputMode("complete")
      .option("checkpointLocation", tmp("ckpt"))
      .foreachBatch { (b: DataFrame, _: Long) =>
        streamed.clear()
        b.collect().foreach(r =>
          streamed((r.getLong(0), r.getString(1))) = (r.getLong(2), r.getDouble(3)))
        ()
      }
      .start()
    q.processAllAvailable(); q.stop()
    assert(streamed.toMap === batch, "unified batch/stream semantics")
  }

  test("streaming dropDuplicates dedups replayed event ids across batches") {
    val input = MemoryStream[(Long, java.sql.Timestamp, Double)](spark)
    def ts(s: Long) = new java.sql.Timestamp(s * 1000)
    val deduped = input.toDS().toDF("event_id", "ts", "v")
      .withWatermark("ts", "1 minute")
      .dropDuplicates("event_id")
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = deduped.writeStream.outputMode("append")
      .option("checkpointLocation", tmp("ckpt"))
      .foreachBatch { (b: DataFrame, _: Long) =>
        seen ++= b.collect().map(_.getLong(0)); ()
      }
      .start()
    input.addData((1L, ts(10), 1.0), (2L, ts(11), 2.0), (1L, ts(10), 1.0))
    q.processAllAvailable()
    // replay of event 1 and 2 in a LATER batch: state suppresses them
    input.addData((2L, ts(12), 2.0), (3L, ts(13), 3.0), (1L, ts(10), 1.0))
    q.processAllAvailable()
    q.stop()
    assert(seen.sorted.toSeq === Seq(1L, 2L, 3L),
      "each event id delivered exactly once despite replays")
  }

  test("dropDuplicatesWithinWatermark dedups with BOUNDED state (the 100 TB form)") {
    // plain dropDuplicates keeps every key forever — unusable on an
    // unbounded ingest stream. The within-watermark form stores
    // key -> expiry and evicts as the watermark passes: state is bounded
    // by the delay window, the scalable streaming-dedup contract.
    val input = MemoryStream[(Long, java.sql.Timestamp, Double)](spark)
    def ts(s: Long) = new java.sql.Timestamp(s * 1000)
    val deduped = input.toDS().toDF("event_id", "ts", "v")
      .withWatermark("ts", "1 minute")
      .dropDuplicatesWithinWatermark("event_id")
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = deduped.writeStream.outputMode("append")
      .option("checkpointLocation", tmp("ckpt-ddww"))
      .foreachBatch { (b: DataFrame, _: Long) =>
        seen ++= b.collect().map(_.getLong(0)); ()
      }
      .start()
    input.addData((1L, ts(10), 1.0), (2L, ts(11), 2.0), (1L, ts(10), 1.0))
    q.processAllAvailable()
    input.addData((1L, ts(12), 1.0), (2L, ts(13), 2.0), (3L, ts(14), 3.0))
    q.processAllAvailable()
    val plan = q.lastProgress.sources.nonEmpty // progress sanity
    q.stop()
    assert(plan)
    assert(seen.sorted.toSeq === Seq(1L, 2L, 3L),
      "each id delivered once; replays within the watermark suppressed")
    assert(deduped.queryExecution.analyzed.toString
      .contains("DeduplicateWithinWatermark"),
      "must use the state-evicting dedup operator, not unbounded dropDuplicates")
  }

  test("file sink is exactly-once by manifest across stop/restart") {
    import spark.implicits._
    val dir = tmp("filesink")
    val input = MemoryStream[Long](spark)
    def run(): Unit = {
      val q = input.toDS().toDF("v").writeStream
        .format("parquet")
        .option("path", s"$dir/out")
        .option("checkpointLocation", s"$dir/ckpt")
        .start()
      q.processAllAvailable(); q.stop()
    }
    input.addData(0L until 100L: _*)
    run()
    input.addData(100L until 150L: _*)
    run() // restart: must append only the new batch, no replay duplicates
    val got = spark.read.parquet(s"$dir/out").collect().map(_.getLong(0)).sorted
    assert(got.toSeq === (0L until 150L), "no loss, no duplication via sink manifest")
  }

  test("stream-static join enriches a stream against a broadcast dimension") {
    import spark.implicits._
    val input = MemoryStream[(Long, Double)](spark)
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("uid", "tier")
    val enriched = input.toDS().toDF("uid", "v")
      .join(broadcast(dim), Seq("uid"), "left_outer")
      .select(col("uid"), col("v"), coalesce(col("tier"), lit("none")).as("tier"))
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, String)]
    val q = enriched.writeStream.outputMode("append")
      .option("checkpointLocation", tmp("ckpt"))
      .foreachBatch { (b: DataFrame, _: Long) =>
        rows ++= b.collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))); ()
      }
      .start()
    input.addData((1L, 10.0), (3L, 5.0))
    q.processAllAvailable(); q.stop()
    assert(rows.toSet === Set((1L, 10.0, "gold"), (3L, 5.0, "none")))
  }

  test("ingress validation splits valid rows from dead-lettered rows") {
    import spark.implicits._
    val dlq = tmp("ingress-dlq")
    val df = Seq((1L, 10.0), (2L, -5.0), (3L, 7.0)).toDF("id", "v")
    val valid = Ingress.validated(df, col("v") >= 0, Some(s"$dlq/bad"))
    assert(valid.collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 3L))
    assert(spark.read.parquet(s"$dlq/bad").collect().map(_.getLong(0)).toSeq === Seq(2L))
  }

  test("transformWithState tumbling window fires panes when the watermark passes") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[(Long, java.sql.Timestamp, Double)](spark)
      def ts(s: Long) = new java.sql.Timestamp(s * 1000)
      val grouped = input.toDS().toDF("k", "ts", "v")
        .withWatermark("ts", "2 seconds")
        .as[(Long, java.sql.Timestamp, Double)]
        .groupByKey(_._1)
      val windowed = TransformWithStateOps.tumblingProcessWindow(
        grouped, sizeMs = 10000L)(_._2.getTime) {
        (k, ws, pane) => (k, ws, pane.map(_._3).sum, pane.size.toLong)
      }
      val fired = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double, Long)]
      val q = windowed.writeStream.outputMode("append")
        .option("checkpointLocation", tmp("ckpt"))
        .foreachBatch { (b: org.apache.spark.sql.Dataset[(Long, Long, Double, Long)], _: Long) =>
          fired ++= b.collect(); ()
        }
        .start()
      input.addData((1L, ts(1), 1.0), (1L, ts(5), 2.0), (2L, ts(3), 5.0))
      q.processAllAvailable()
      assert(fired.isEmpty, "watermark has not crossed window end yet")
      input.addData((1L, ts(30), 9.0)) // watermark -> 28s > 10s: fire [0,10)
      q.processAllAvailable()
      // an element for the already-fired window [0,10): dropped at ingress
      // (no timer will ever come for it) — state cannot leak
      input.addData((1L, ts(2), 100.0))
      q.processAllAvailable()
      input.addData((1L, ts(60), 1.0))
      q.processAllAvailable()
      q.stop()
      assert(fired.toSet === Set((1L, 0L, 3.0, 2L), (2L, 0L, 5.0, 1L),
        (1L, 30000L, 9.0, 1L)),
        "panes fired exactly once with on-time contents; late element dropped")
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("MapState tracks per-key distinct-event-type counts across batches") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      import spark.implicits._
      val input = MemoryStream[(Long, String)](spark)
      val grouped = input.toDS().groupByKey(_._1)
      // per-key dictionary event_type -> count; emits (key, #distinct types,
      // total events) after every slice — the IMapState use case a value
      // fold can't express without rebuilding the whole map each batch
      val counted = KeyedStateOps.processWithMapState[Long, (Long, String), String, Long, (Long, Long, Long)](grouped) {
        (key, rows, state) =>
          rows.foreach { case (_, et) => state.put(et, state.get(et).getOrElse(0L) + 1L) }
          val entries = state.entries().toIndexedSeq
          Iterator.single((key, entries.size.toLong, entries.map(_._2).sum))
      }
      val latest = scala.collection.mutable.Map.empty[Long, (Long, Long)]
      val q = counted.writeStream.outputMode("append")
        .option("checkpointLocation", tmp("ckpt-mapstate"))
        .foreachBatch { (b: org.apache.spark.sql.Dataset[(Long, Long, Long)], _: Long) =>
          b.collect().foreach { case (k, d, n) => latest(k) = (d, n) }; ()
        }
        .start()
      input.addData((1L, "view"), (1L, "click"), (2L, "view"))
      q.processAllAvailable()
      assert(latest(1L) === ((2L, 2L)) && latest(2L) === ((1L, 1L)))
      input.addData((1L, "view"), (1L, "buy"), (2L, "view")) // state persists across batches
      q.processAllAvailable()
      q.stop()
      assert(latest(1L) === ((3L, 4L)), "distinct {view,click,buy}, 4 events")
      assert(latest(2L) === ((1L, 2L)), "distinct {view}, 2 events")
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("ListState buffers per-key values across batches and supports update/clear") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      import spark.implicits._
      val input = MemoryStream[(String, Double)](spark)
      val grouped = input.toDS().groupByKey(_._1)
      // buffer values per key; when the buffer reaches 3, emit its sum and
      // reset — IListState's buffer-then-drain pattern
      val drained = KeyedStateOps.processWithListState[String, (String, Double), Double, (String, Double)](grouped) {
        (key, rows, buf) =>
          buf.addAll(rows.map(_._2).toSeq)
          val all = buf.getValues().toIndexedSeq
          if (all.size >= 3) { buf.clear(); Iterator.single((key, all.sum)) }
          else Iterator.empty
      }
      val fired = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
      val q = drained.writeStream.outputMode("append")
        .option("checkpointLocation", tmp("ckpt-liststate"))
        .foreachBatch { (b: org.apache.spark.sql.Dataset[(String, Double)], _: Long) =>
          fired ++= b.collect(); ()
        }
        .start()
      input.addData(("a", 1.0), ("a", 2.0), ("b", 5.0))
      q.processAllAvailable()
      assert(fired.isEmpty, "no key reached 3 buffered values yet")
      input.addData(("a", 3.0), ("b", 6.0)) // a reaches 3 → drains
      q.processAllAvailable()
      q.stop()
      assert(fired.toSeq === Seq(("a", 6.0)))
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("user trigger: count fires a window early, event time closes the rest") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[(Long, java.sql.Timestamp, Double)](spark)
      def ts(s: Long) = new java.sql.Timestamp(s * 1000)
      val grouped = input.toDS().toDF("k", "ts", "v")
        .withWatermark("ts", "2 seconds")
        .as[(Long, java.sql.Timestamp, Double)]
        .groupByKey(_._1)
      val windowed = TransformWithStateOps.triggeredTumblingProcessWindow(
        grouped, sizeMs = 10000L,
        trigger = WindowTrigger.count[(Long, java.sql.Timestamp, Double)](3, purgeOnFire = true))(
        _._2.getTime) {
        (k, ws, pane) => (k, ws, pane.map(_._3).sum, pane.size.toLong)
      }
      val fired = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double, Long)]
      val q = windowed.writeStream.outputMode("append")
        .option("checkpointLocation", tmp("ckpt-trigger"))
        .foreachBatch { (b: org.apache.spark.sql.Dataset[(Long, Long, Double, Long)], _: Long) =>
          fired ++= b.collect(); ()
        }
        .start()
      // window [0,10): exactly 3 elements → count trigger fires+purges early,
      // long before any watermark movement
      input.addData((1L, ts(1), 1.0), (1L, ts(3), 2.0), (1L, ts(5), 4.0))
      q.processAllAvailable()
      assert(fired.toSet === Set((1L, 0L, 7.0, 3L)), "early count fire, no watermark needed")
      // window [10,20): only 2 elements → count never fires; the event-time
      // close (default Fire+Purge) emits them when the watermark passes 20s
      input.addData((1L, ts(11), 8.0), (1L, ts(13), 16.0))
      q.processAllAvailable()
      input.addData((1L, ts(40), 0.5)) // wm → 38s: closes [10,20)
      q.processAllAvailable()
      q.stop()
      assert(fired.toSet === Set((1L, 0L, 7.0, 3L), (1L, 10000L, 24.0, 2L)),
        "purged early-fired window did NOT re-fire at the watermark; the partial one did")
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("punctuated watermark: only marker records advance the watermark") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      import org.apache.spark.sql.functions.col
      val input = MemoryStream[(Long, java.sql.Timestamp, Boolean, Double)](spark)
      def ts(s: Long) = new java.sql.Timestamp(s * 1000)
      val withWm = WatermarkStrategy
        .forPunctuated(col("marker") === true, graft.windowing.Time.milliseconds(1))
        .assign(input.toDS().toDF("k", "ts", "marker", "v"), "ts")
      val grouped = withWm.select("k", "ts", "v")
        .as[(Long, java.sql.Timestamp, Double)]
        .groupByKey(_._1)
      val windowed = TransformWithStateOps.tumblingProcessWindow(
        grouped, sizeMs = 10000L)(_._2.getTime) {
        (k, ws, pane) => (k, ws, pane.map(_._3).sum)
      }
      val fired = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
      val q = windowed.writeStream.outputMode("append")
        .option("checkpointLocation", tmp("ckpt-punct"))
        .foreachBatch { (b: org.apache.spark.sql.Dataset[(Long, Long, Double)], _: Long) =>
          fired ++= b.collect(); ()
        }
        .start()
      input.addData((1L, ts(5), false, 1.0))
      q.processAllAvailable()
      input.addData((1L, ts(30), false, 2.0)) // far past window end, NOT a marker
      q.processAllAvailable()
      assert(fired.isEmpty, "ordinary records must not advance the watermark")
      input.addData((1L, ts(35), true, 0.0)) // marker punctuates → wm = 35s
      q.processAllAvailable()
      q.stop()
      assert(fired.toSet === Set((1L, 0L, 1.0)),
        "window closed only when the marker record advanced the watermark")
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("transformWithState sliding windows fire every covering pane via timers") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[(Long, java.sql.Timestamp, Double)](spark)
      def ts(s: Long) = new java.sql.Timestamp(s * 1000)
      val grouped = input.toDS().toDF("k", "ts", "v")
        .withWatermark("ts", "2 seconds")
        .as[(Long, java.sql.Timestamp, Double)]
        .groupByKey(_._1)
      val windowed = TransformWithStateOps.slidingProcessWindow(
        grouped, sizeMs = 10000L, slideMs = 5000L)(_._2.getTime) {
        (k, ws, pane) => (k, ws, pane.map(_._3).sum, pane.size.toLong)
      }
      val fired = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double, Long)]
      val q = windowed.writeStream.outputMode("append")
        .option("checkpointLocation", tmp("ckpt-sliding"))
        .foreachBatch { (b: org.apache.spark.sql.Dataset[(Long, Long, Double, Long)], _: Long) =>
          fired ++= b.collect(); ()
        }
        .start()
      input.addData((1L, ts(1), 1.0), (1L, ts(7), 2.0))
      q.processAllAvailable()
      // wm advanced to 5s after the batch → end-5s pane [-5,5) fires alone
      assert(fired.toSet === Set((1L, -5000L, 1.0, 1L)))
      input.addData((1L, ts(30), 9.0)) // wm → 28s: ends 10s, 15s fire
      q.processAllAvailable()
      q.stop()
      // t=1s covers [-5,5) and [0,10); t=7s covers [0,10) and [5,15)
      assert(fired.toSet === Set(
        (1L, -5000L, 1.0, 1L), (1L, 0L, 3.0, 2L), (1L, 5000L, 2.0, 1L)),
        "every covering sliding pane fired exactly once")
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("transformWithState session windows gap-merge and close via timers") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[(Long, java.sql.Timestamp, Double)](spark)
      def ts(s: Long) = new java.sql.Timestamp(s * 1000)
      val grouped = input.toDS().toDF("k", "ts", "v")
        .withWatermark("ts", "2 seconds")
        .as[(Long, java.sql.Timestamp, Double)]
        .groupByKey(_._1)
      val sessions = TransformWithStateOps.sessionProcessWindow(
        grouped, gapMs = 10000L)(_._2.getTime) {
        (k, start, end, pane) => (k, start, end, pane.map(_._3).sum)
      }
      val fired = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Double)]
      val q = sessions.writeStream.outputMode("append")
        .option("checkpointLocation", tmp("ckpt-session-tws"))
        .foreachBatch { (b: org.apache.spark.sql.Dataset[(Long, Long, Long, Double)], _: Long) =>
          fired ++= b.collect(); ()
        }
        .start()
      input.addData((1L, ts(1), 1.0), (1L, ts(5), 2.0), (2L, ts(3), 5.0))
      q.processAllAvailable()
      assert(fired.isEmpty, "no session's gap has elapsed in event time yet")
      input.addData((1L, ts(30), 9.0)) // wm → 28s: closes both early sessions
      q.processAllAvailable()
      assert(fired.toSet === Set(
        (1L, 1000L, 15000L, 3.0),  // t=1,5 merged (gap 4s < 10s), end=5s+gap
        (2L, 3000L, 13000L, 5.0)),
        "gap-merged sessions closed once the watermark passed their ends")
      input.addData((1L, ts(60), 4.0)) // wm → 58s: closes the t=30 session
      q.processAllAvailable()
      q.stop()
      assert(fired.toSet.contains((1L, 30000L, 40000L, 9.0)),
        "later session closed independently")
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("transformWithState session/sliding windows match a reference computation on fixture data") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      import spark.implicits._
      // the REAL events fixture (1000 rows, 15 users), not toy rows
      val events = graft.core.Tables.events(spark, TestSession.sfDir)
        .select(col("user_id"), col("ts"), col("value"))
        .as[(Long, java.sql.Timestamp, Double)].collect().toSeq
      val maxTs = events.map(_._2.getTime).max
      val sentinel = (-1L, new java.sql.Timestamp(maxTs + 86400000L), 0.0)

      def runStreaming[OUT: org.apache.spark.sql.Encoder](
          name: String)(
          build: org.apache.spark.sql.KeyValueGroupedDataset[Long, (Long, java.sql.Timestamp, Double)] =>
            org.apache.spark.sql.Dataset[OUT]): Seq[OUT] = {
        val input = MemoryStream[(Long, java.sql.Timestamp, Double)](spark)
        val grouped = input.toDS().toDF("k", "ts", "v")
          .withWatermark("ts", "1 second")
          .as[(Long, java.sql.Timestamp, Double)]
          .groupByKey(_._1)
        val out = scala.collection.mutable.ArrayBuffer.empty[OUT]
        val q = build(grouped).writeStream.outputMode("append")
          .option("checkpointLocation", tmp(name))
          .foreachBatch { (b: org.apache.spark.sql.Dataset[OUT], _: Long) =>
            out ++= b.collect(); ()
          }.start()
        input.addData(events: _*)
        q.processAllAvailable()
        input.addData(sentinel) // watermark past every window end
        q.processAllAvailable()
        q.stop()
        out.toSeq
      }

      // --- session windows, 30 min gap ---
      val gap = 1800000L
      val gotSessions = runStreaming("ckpt-eq-sess") { grouped =>
        TransformWithStateOps.sessionProcessWindow(grouped, gap)(_._2.getTime) {
          (k, start, end, pane) => (k, start, end, pane.size.toLong)
        }
      }.filter(_._1 >= 0).toSet
      val expSessions = events.groupBy(_._1).flatMap { case (k, evs) =>
        val ts = evs.map(_._2.getTime).sorted
        val sessions = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
        var start = ts.head; var last = ts.head; var n = 1L
        ts.tail.foreach { t =>
          if (t - last >= gap) { sessions += ((start, last + gap, n)); start = t; n = 0L }
          last = t; n += 1
        }
        sessions += ((start, last + gap, n))
        sessions.map { case (s, e, c) => (k, s, e, c) }
      }.toSet
      assert(gotSessions === expSessions,
        s"session mismatch: extra=${gotSessions -- expSessions} missing=${expSessions -- gotSessions}")

      // --- sliding windows, 2 h size / 1 h slide ---
      val (size, slide) = (7200000L, 3600000L)
      val gotSliding = runStreaming("ckpt-eq-slide") { grouped =>
        TransformWithStateOps.slidingProcessWindow(grouped, size, slide)(_._2.getTime) {
          (k, ws, pane) => (k, ws, pane.size.toLong)
        }
      }.filter(_._1 >= 0).toSet
      val expSliding = events
        .flatMap { case (k, t, _) =>
          val last = graft.datastream.WindowedStream.startFor(t.getTime, slide, 0L)
          Iterator.iterate(last)(_ - slide).takeWhile(_ > t.getTime - size)
            .map(ws => (k, ws))
        }
        .groupBy(identity).map { case ((k, ws), rows) => (k, ws, rows.size.toLong) }
        .toSet
      assert(gotSliding === expSliding,
        s"sliding mismatch: extra=${gotSliding -- expSliding} missing=${expSliding -- gotSliding}")
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("stream-stream interval join matches clicks to impressions within bounds") {
    val impressions = MemoryStream[(Long, java.sql.Timestamp)](spark)
    val clicks = MemoryStream[(Long, java.sql.Timestamp)](spark)
    def ts(s: Long) = new java.sql.Timestamp(s * 1000)
    val wm = WatermarkStrategy.forBoundedOutOfOrderness(graft.windowing.Time.seconds(5))
    val l = wm.assign(impressions.toDS().toDF("ad_id", "imp_ts"), "imp_ts")
    val r = wm.assign(clicks.toDS().toDF("click_ad", "click_ts"), "click_ts")
      .withColumnRenamed("click_ad", "ad_id")
    val joined = StreamJoins.intervalJoin(l, r,
      keyCol = "ad_id", leftTs = "imp_ts", rightTs = "click_ts",
      lowerMs = 0, upperMs = 10000)
    val pairs = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val q = joined.selectExpr("ad_id", "unix_millis(imp_ts) AS i", "unix_millis(click_ts) AS c")
      .writeStream.outputMode("append")
      .option("checkpointLocation", tmp("ckpt"))
      .foreachBatch { (b: DataFrame, _: Long) =>
        pairs ++= b.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))); ()
      }
      .start()
    impressions.addData((1L, ts(10)), (2L, ts(20)))
    clicks.addData((1L, ts(15)), (1L, ts(25)), (2L, ts(19)))
    q.processAllAvailable()
    q.stop()
    // ad 1: click@15 within [10,20] matches; click@25 outside; ad 2: click@19 < imp@20
    assert(pairs.toSet === Set((1L, 10000L, 15000L)))
  }

  test("stream-stream LEFT OUTER interval join emits unmatched lefts after expiry") {
    val impressions = MemoryStream[(Long, java.sql.Timestamp)](spark)
    val clicks = MemoryStream[(Long, java.sql.Timestamp)](spark)
    def ts(s: Long) = new java.sql.Timestamp(s * 1000)
    val wm = WatermarkStrategy.forBoundedOutOfOrderness(graft.windowing.Time.seconds(5))
    val l = wm.assign(impressions.toDS().toDF("ad_id", "imp_ts"), "imp_ts")
    val r = wm.assign(clicks.toDS().toDF("click_ad", "click_ts"), "click_ts")
      .withColumnRenamed("click_ad", "ad_id")
    val joined = StreamJoins.intervalJoin(l, r,
      keyCol = "ad_id", leftTs = "imp_ts", rightTs = "click_ts",
      lowerMs = 0, upperMs = 10000, joinType = "leftOuter")
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Any)]
    val q = joined
      .selectExpr("ad_id", "unix_millis(imp_ts) AS i", "unix_millis(click_ts) AS c")
      .writeStream.outputMode("append")
      .option("checkpointLocation", tmp("ckpt-louter"))
      .foreachBatch { (b: DataFrame, _: Long) =>
        rows ++= b.collect().map(r => (r.getLong(0), r.getLong(1), r.get(2))); ()
      }
      .start()
    impressions.addData((1L, ts(10)), (2L, ts(20)))
    clicks.addData((1L, ts(15)))
    q.processAllAvailable()
    // the matched pair may emit now; imp 2 must NOT emit a null row yet —
    // a click at up to ts(30) could still match it
    assert(!rows.exists(t => t._1 == 2L),
      s"unmatched left emitted before its window provably closed: $rows")
    // watermark far past imp@20's upper bound (20+10s) + delay: state for
    // imp 2 expires with no partner -> null-padded row appears
    impressions.addData((9L, ts(100))); clicks.addData((9L, ts(200)))
    q.processAllAvailable()
    q.stop()
    assert(rows.toSet === Set[(Long, Long, Any)](
      (1L, 10000L, 15000L), (2L, 20000L, null)),
      "exactly one match and one expiry-emitted unmatched left")
  }

  test("salted join spreads hot keys and preserves join results") {
    import org.apache.spark.sql.functions.{col => c}
    val big = spark.range(0, 10000).selectExpr("CAST(id % 3 AS LONG) AS k", "id AS payload")
    val small = spark.createDataFrame(Seq((0L, "a"), (1L, "b"), (2L, "c"))).toDF("k", "name")
    val salted = Salting.saltedEquiJoin(big, small, "k", saltSourceCol = "payload", salts = 8)
    val plain = big.join(small, "k")
    assert(salted.count() === plain.count())
    assert(salted.agg(sum(c("payload"))).head().getLong(0) ===
      plain.agg(sum(c("payload"))).head().getLong(0))
  }

  test("kafka value decoders handle string, long and json payloads") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    // the kafka frame shape without a broker: key/value as binary
    val frame = Seq(("k1", """{"a": 7, "b": "x"}"""), ("k2", "42"))
      .toDF("keyS", "valueS")
      .select(col("keyS").cast("binary").as("key"),
        col("valueS").cast("binary").as("value"))
    assert(KafkaRecords.valueAsString(frame).select("value")
      .collect().map(_.getString(0)).toSet === Set("""{"a": 7, "b": "x"}""", "42"))
    val asLong = KafkaRecords.valueAsLong(frame)
      .select("value").collect().map(r => Option(r.get(0)))
    assert(asLong.flatten === Seq(42L), "non-numeric payloads null out")
    val schema = StructType(Seq(StructField("a", LongType), StructField("b", StringType)))
    val js = KafkaRecords.valueFromJson(frame, schema)
      .select("value.a", "value.b").collect()
      .collect { case r if !r.isNullAt(0) => (r.getLong(0), r.getString(1)) }
    assert(js.toSeq === Seq((7L, "x")))
  }

  test("maxFilesPerTrigger rate-controls ingestion into multiple batches") {
    val dir = tmp("rate")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/in"))
    def addFlat(tag: String, from: Long, until: Long): Unit = {
      spark.range(from, until).toDF("id").coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/stage")
      val part = new java.io.File(s"$dir/stage").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$dir/in/$tag.parquet"))
    }
    addFlat("a", 0, 10); addFlat("b", 10, 20); addFlat("c", 20, 30)
    val schema = spark.read.parquet(s"$dir/in").schema
    val batchSizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = FileSource.stream(spark, "parquet", s"$dir/in",
        schema = Some(schema), maxFilesPerTrigger = Some(1))
      .writeStream
      .option("checkpointLocation", tmp("ckpt"))
      .foreachBatch { (b: DataFrame, _: Long) => batchSizes += b.count(); () }
      .start()
    q.processAllAvailable(); q.stop()
    assert(batchSizes.toSeq === Seq(10L, 10L, 10L),
      "one file per micro-batch (GatewayStage-style ingress rate control)")
  }

  test("kafka builders assemble the reference's builder options") {
    val src = KafkaSourceBuilder()
      .bootstrapServers("broker:9092")
      .topic("events")
      .groupId("g1")
      .maxOffsetsPerTrigger(50000)
      .startingOffsets("earliest")
    assert(src.options("kafka.bootstrap.servers") === "broker:9092")
    assert(src.options("subscribe") === "events")
    assert(src.options("kafka.group.id") === "g1")
    assert(src.options("maxOffsetsPerTrigger") === "50000")
    val bounded = src.bounded()
    assert(bounded.options("endingOffsets") === "latest")
    val sink = KafkaSinkBuilder().bootstrapServers("b:9092").topic("out")
    assert(sink.options("topic") === "out")
  }

  test("file stream source reads with schema and rate control option") {
    val dir = tmp("files")
    spark.range(10).toDF("n").write.mode("overwrite").parquet(s"$dir/in")
    val df = FileSource.batch(spark, "parquet", s"$dir/in")
    assert(df.count() === 10)
    val stream = FileSource.stream(spark, "parquet", s"$dir/in",
      schema = Some(df.schema), maxFilesPerTrigger = Some(1))
    assert(stream.isStreaming)
  }

  test("streaming heavy hitters track per-key top tokens with bounded state") {
    import spark.implicits._
    // MapState (transformWithState) needs the RocksDB provider
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
    val input = MemoryStream[(String, String)](spark)
    val batches = scala.collection.mutable.ArrayBuffer
      .empty[Seq[(String, String, Long, Long)]]
    val hh = graft.streaming.StreamingHeavyHitters.topK(
      input.toDS().groupByKey(_._1), k = 2, capacity = 16)
    val q = hh.writeStream.outputMode("append")
      .option("checkpointLocation", tmp("ckpt-hh"))
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[(String, String, Long, Long)], _: Long) =>
          batches += b.collect().toSeq
          ()
      }
      .start()
    input.addData(("en", "the"), ("en", "the"), ("en", "fox"), ("de", "der"))
    q.processAllAvailable()
    // counts must carry across batches through state
    input.addData(("en", "fox"), ("en", "fox"), ("en", "dog"))
    q.processAllAvailable()
    q.stop()
    val last = batches.reverse.find(_.nonEmpty).get
      .groupBy(_._1).map { case (k, rows) => k -> rows.sortBy(_._4).map(t => (t._2, t._3)) }
    // en totals: fox=3, the=2, dog=1 -> top-2 (fox,3),(the,2)
    assert(last("en") === Seq(("fox", 3L), ("the", 2L)))
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming funnel state machine equals the batch funnel on fixture events") {
    import spark.implicits._
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // 48 h steps (q103 uses 12 h): the sf0.001 slice is too sparse for
      // 12 h funnels (0 completions) but yields 4 at 48 h
      val gap = 48L * 3600L * 1000000L
      // batch answer: the q103 join-chain at sf0.001
      val e = graft.core.Tables.events(spark, TestSession.sfDir)
        .filter(col("event_type").isin("signup", "click", "purchase"))
        .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("t"))
      val c1 = e.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min(col("t")).as("t1"))
      val c2 = e.filter(col("event_type") === "click").join(c1, "user_id")
        .filter(col("t") > col("t1") && col("t") - col("t1") <= gap)
        .groupBy("user_id").agg(min(col("t")).as("t2"))
      val c3 = e.filter(col("event_type") === "purchase").join(c2, "user_id")
        .filter(col("t") > col("t2") && col("t") - col("t2") <= gap)
        .groupBy("user_id").agg(min(col("t")).as("t3"))
      val batchConv = c3.join(c1, "user_id")
        .select(col("user_id"), col("t1"), col("t3")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(batchConv.nonEmpty, "fixture must contain completed funnels")

      // stream the same events in three TIME-ORDERED slices (per-user
      // order across batches is the kappa contract the machine assumes)
      val all = e.select(col("user_id"), col("t"), col("event_type")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sortBy(r => (r._2, r._3))
      val input = MemoryStream[(Long, Long, String)](spark)
      val conv = scala.collection.mutable.Set.empty[(Long, Long, Long)]
      val q = graft.streaming.StreamingFunnel
        .conversions(input.toDS().groupByKey(_._1), gap)
        .writeStream.outputMode("append")
        .option("checkpointLocation", tmp("ckpt-funnel"))
        .foreachBatch { (b: org.apache.spark.sql.Dataset[(Long, Long, Long)], _: Long) =>
          conv ++= b.collect(); ()
        }
        .start()
      all.grouped((all.length / 3).max(1)).foreach { slice =>
        input.addData(slice.toIndexedSeq)
        q.processAllAvailable()
      }
      q.stop()
      assert(conv.toSet === batchConv,
        "stream conversions must equal the batch join-chain funnel")
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming count-min accumulates across batches and equals the batch sketch") {
    import spark.implicits._
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[(String, String)](spark)
      val probes = Seq("the", "fox", "dog", "absent")
      val depth = 4; val width = 8
      val batches = scala.collection.mutable.ArrayBuffer
        .empty[Seq[(String, String, Long)]]
      val est = graft.streaming.StreamingCountMin.estimates(
        input.toDS().groupByKey(_._1), probes, depth, width)
      val q = est.writeStream.outputMode("append")
        .option("checkpointLocation", tmp("ckpt-cms"))
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[(String, String, Long)], _: Long) =>
            batches += b.collect().toSeq
            ()
        }
        .start()
      val b1 = Seq(("en", "the"), ("en", "the"), ("en", "fox"), ("de", "der"))
      val b2 = Seq(("en", "fox"), ("en", "fox"), ("en", "dog"))
      input.addData(b1: _*)
      q.processAllAvailable()
      input.addData(b2: _*)
      q.processAllAvailable()
      q.stop()
      // cell merge is addition, so the cross-batch streaming state must be
      // bit-identical to the batch aggregator over the union of both slices
      val last = batches.reverse.find(_.nonEmpty).get
        .filter(_._1 == "en").map(t => (t._2, t._3)).toMap
      val enItems = (b1 ++ b2).filter(_._1 == "en").map(_._2)
      val agg = new graft.operators.CountMinAggregator(depth, width)
      val cells = enItems.foldLeft(agg.zero)(agg.reduce)
      probes.foreach { p =>
        assert(last(p) ===
          graft.operators.CountMin.estimate(cells, p, depth, width),
          s"probe $p diverges from the batch sketch")
      }
      // never-undercount against the true counts
      assert(last("the") >= 2L && last("fox") >= 3L && last("dog") >= 1L)
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming near-dup pairs a new arrival against earlier batches, state stays capped") {
    import spark.implicits._
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[(Long, String)](spark)
      val dupText = "the quick brown fox jumps over the lazy dog tonight"
      val otherText = "completely unrelated words discussing maritime law"
      val batches = scala.collection.mutable.ArrayBuffer.empty[Seq[(Long, Long)]]
      val pairs = graft.streaming.StreamingNearDup.candidatePairs(
        input.toDF().toDF("doc_id", "text"), "doc_id", "text", maxBucket = 2)
      val q = pairs.writeStream.outputMode("append")
        .option("checkpointLocation", tmp("ckpt-snd"))
        .foreachBatch { (b: org.apache.spark.sql.Dataset[(Long, Long)], _: Long) =>
          batches += b.collect().toSeq
          ()
        }
        .start()
      input.addData((1L, dupText), (2L, otherText))
      q.processAllAvailable()
      assert(batches.flatten.isEmpty, "no shared buckets in batch 1")
      // doc 3 duplicates doc 1 from the PREVIOUS batch: identical shingle
      // set → identical signature → all four bands collide
      input.addData((3L, dupText))
      q.processAllAvailable()
      assert(batches.flatten.toSet === Set((1L, 3L)),
        "cross-batch duplicate surfaces, unrelated docs never pair")
      // docs 4..6 duplicate doc 1 too, but the bucket roster is capped at
      // 2 (= {1, 3}): newcomers pair with the min-id representative only
      // and are not added — state cannot grow past maxBucket
      batches.clear()
      input.addData((4L, dupText), (5L, dupText), (6L, dupText))
      q.processAllAvailable()
      assert(batches.flatten.toSet === Set((1L, 4L), (1L, 5L), (1L, 6L)),
        "star-cap: over-full bucket pairs via the representative only")
      q.stop()
      // batch agreement: the same corpus through the batch banding yields
      // the same uncapped pair set
      val batchCand = graft.llm.LshGuard.guardedCandidates(
        graft.llm.Dedup.bandMembership(
          Seq((1L, dupText), (2L, otherText), (3L, dupText)).toDF("doc_id", "text"),
          "doc_id", "text", 3, 8, 4),
        Seq("band", "bucket"), "doc_id", maxBucket = 10000, ordered = true)
        .as[(Long, Long)].collect().toSet
      assert(batchCand === Set((1L, 3L)))
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming embedding near-dup: same roster machinery over hyperplane bands") {
    import spark.implicits._
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[(Long, Seq[Double])](spark)
      val a = Seq(1.0, 0.2, -0.3, 0.7)
      val batches = scala.collection.mutable.ArrayBuffer.empty[Seq[(Long, Long)]]
      val pairs = graft.streaming.StreamingNearDup.embeddingCandidatePairs(
        input.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
        bands = 4, planesPerBand = 8, dims = 4)
      val q = pairs.writeStream.outputMode("append")
        .option("checkpointLocation", tmp("ckpt-send"))
        .foreachBatch { (b: org.apache.spark.sql.Dataset[(Long, Long)], _: Long) =>
          batches += b.collect().toSeq
          ()
        }
        .start()
      // batch 1: a and its antipode (every plane dot flips sign -> every
      // band bucket differs -> no pair)
      input.addData((1L, a), (2L, a.map(-_)))
      q.processAllAvailable()
      assert(batches.flatten.isEmpty, "antipodal vectors never share a bucket")
      // batch 2: an exact copy of `a` collides with doc 1 in all 4 bands
      input.addData((3L, a))
      q.processAllAvailable()
      q.stop()
      assert(batches.flatten.toSet === Set((1L, 3L)),
        "cross-batch embedding duplicate surfaces once per-batch-dedup'd")
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming chunk dedup: first-occurrence keep across batches, " +
      "replay-stable, agrees with the batch marking") {
    import spark.implicits._
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // 4-token chunks; A/B/C are distinct chunks, docs share them
      val A = "alpha beta gamma delta"
      val B = "epsilon zeta eta theta"
      val C = "iota kappa lambda mu"
      val docs = Seq(1L -> s"$A $B", 2L -> s"$B $C", 3L -> s"$A $C")
      val input = MemoryStream[(Long, String)](spark)
      val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Boolean)]
      val marked = graft.streaming.StreamingChunkDedup.markChunks(
        input.toDF().toDF("doc_id", "text"), "doc_id", "text", chunkTokens = 4)
      val q = marked.writeStream.outputMode("append")
        .option("checkpointLocation", tmp("ckpt-scd"))
        .foreachBatch { (b: org.apache.spark.sql.Dataset[(Long, Long, Long, Boolean)], _: Long) =>
          got ++= b.collect(); ()
        }
        .start()
      // ingest in doc_id order, one doc per micro-batch
      docs.foreach { d => input.addData(d); q.processAllAvailable() }
      q.stop()
      val streamed = got.map(r => (r._1, r._2) -> r._4).toMap
      // batch marking over the same corpus
      val batch = graft.llm.ChunkDedup.firstOccurrence(
          graft.llm.ChunkDedup.chunkMembership(
            docs.toDF("doc_id", "text"), "doc_id", "text", c = 4, seed = 7))
        .select(col("doc_id"), col("chunk_idx"), col("kept"))
        .as[(Long, Long, Boolean)].collect()
        .map(r => (r._1, r._2) -> r._3).toMap
      assert(streamed === batch,
        "streamed kept flags must equal the batch first-occurrence marking")
      // doc1's A and B kept; doc2 drops B, keeps C; doc3 keeps nothing
      assert(streamed((1L, 0L)) && streamed((1L, 1L)))
      assert(!streamed((2L, 0L)) && streamed((2L, 1L)))
      assert(!streamed((3L, 0L)) && !streamed((3L, 1L)))
      // replay stability: a restarted query re-fed the same docs reuses
      // the pinned keepers — flags identical, keeper rows stay kept
      val input2 = MemoryStream[(Long, String)](spark)
      val got2 = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Boolean)]
      val marked2 = graft.streaming.StreamingChunkDedup.markChunks(
        input2.toDF().toDF("doc_id", "text"), "doc_id", "text", chunkTokens = 4)
      val q2 = marked2.writeStream.outputMode("append")
        .option("checkpointLocation", tmp("ckpt-scd2"))
        .foreachBatch { (b: org.apache.spark.sql.Dataset[(Long, Long, Long, Boolean)], _: Long) =>
          got2 ++= b.collect(); ()
        }
        .start()
      input2.addData(docs: _*); q2.processAllAvailable()
      input2.addData(docs: _*); q2.processAllAvailable() // re-delivery
      q2.stop()
      val firstPass = got2.take(got.size).map(r => (r._1, r._2) -> r._4).toMap
      val replay = got2.drop(got.size).map(r => (r._1, r._2) -> r._4).toMap
      assert(firstPass === batch, "single-batch corpus matches batch min()")
      assert(replay === batch, "re-delivered batch re-emits the same flags")
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("LLM quality/dedup operators run unchanged on a stream (batch ≡ stream)") {
    // the same Column expressions drive batch curation and streaming
    // ingest — the reference's unified-runtime claim, checked by value
    import graft.llm.{TextFunctions => TF}
    val docs = Seq((1L, "the quick brown fox jumps over the lazy dog"),
                   (2L, "the quick brown fox jumps over the lazy dog"),
                   (3L, "completely different text with many unusual words here"),
                   (4L, "a b"), (5L, ""))
    val stops = Seq("the", "a", "of", "and")
    def score(df: DataFrame): DataFrame =
      df.select(col("doc_id"), TF.qualityScore(col("text"), stops).as("q"),
        TF.fingerprint(col("text")).as("fp"))
    val batch = {
      import spark.implicits._
      score(docs.toDF("doc_id", "text")).collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    }
    val input = MemoryStream[(Long, String)](spark)
    val got = scala.collection.mutable.Set.empty[(Long, Double, String)]
    val q = score(input.toDS().toDF("doc_id", "text"))
      .writeStream.outputMode("append")
      .option("checkpointLocation", tmp("ckpt-llmstream"))
      .foreachBatch { (b: DataFrame, _: Long) =>
        got ++= b.collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))); ()
      }
      .start()
    input.addData(docs.take(2): _*)
    q.processAllAvailable()
    input.addData(docs.drop(2): _*)
    q.processAllAvailable()
    q.stop()
    assert(got.toSet === batch, "stream scoring must equal batch scoring")
    // exact dup (1,2) detectable downstream by identical fingerprints
    val fps = got.toSeq.filter(t => t._1 <= 2).map(_._3)
    assert(fps.distinct.size === 1)
    // overlapping chunking is a pure generator — the same call runs on
    // the stream and chunks identically (RAG ingest on arrival)
    def chunk(df: DataFrame): DataFrame =
      graft.llm.Packing.chunkWithOverlap(df, "doc_id", "text", 4, 3)
    val chunkBatch = {
      import spark.implicits._
      chunk(docs.toDF("doc_id", "text")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(3))).toSet
    }
    val input2 = MemoryStream[(Long, String)](spark)
    val gotChunks = scala.collection.mutable.Set.empty[(Long, Long, String)]
    val q2 = chunk(input2.toDS().toDF("doc_id", "text"))
      .writeStream.outputMode("append")
      .option("checkpointLocation", tmp("ckpt-chunkstream"))
      .foreachBatch { (b: DataFrame, _: Long) =>
        gotChunks ++= b.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(3))); ()
      }
      .start()
    input2.addData(docs: _*)
    q2.processAllAvailable()
    q2.stop()
    assert(gotChunks.toSet === chunkBatch, "stream chunking must equal batch")
  }

  test("file source round-trips every bundled format (csv/json/orc/parquet/text)") {
    val dir = tmp("formats")
    val src = spark.range(5).selectExpr("id AS n", "concat('v', id) AS s")
    for (fmt <- Seq("csv", "json", "orc", "parquet")) {
      src.write.mode("overwrite").format(fmt).save(s"$dir/$fmt")
      val back = FileSource.batch(spark, fmt, s"$dir/$fmt",
        // self-describing formats carry their schema; csv/json get it
        // from the caller (the reference's ITypeSerializer role)
        schema = if (fmt == "csv" || fmt == "json") Some(src.schema) else None)
      assert(back.count() === 5, s"format $fmt")
      assert(back.selectExpr("sum(n)").head().getLong(0) === 10L, s"format $fmt")
    }
    src.selectExpr("s").write.mode("overwrite").text(s"$dir/text")
    assert(FileSource.batch(spark, "text", s"$dir/text").count() === 5)
  }

  test("streaming sessionize labels events across batches and matches batch semantics") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val gap = 1800000L // 30 min, the q107 gap

      // --- toy cross-batch case: the session must NOT emit until the
      // watermark passes its gap, then emit with a stable ordinal ---
      def t(sec: Long) = new java.sql.Timestamp(sec * 1000L)
      val input = MemoryStream[(Long, Long, java.sql.Timestamp)](spark)
      val grouped = input.toDS().toDF("k", "id", "ts")
        .withWatermark("ts", "1 second")
        .as[(Long, Long, java.sql.Timestamp)]
        .groupByKey(_._1).mapValues(r => (r._2, r._3.getTime))
      val fired = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
      val q = StreamingSessionize.labeled(grouped, gap)
        .writeStream.outputMode("append")
        .option("checkpointLocation", tmp("ckpt-sessionize"))
        .foreachBatch { (b: org.apache.spark.sql.Dataset[(Long, Long, Long)], _: Long) =>
          fired ++= b.collect(); ()
        }.start()
      input.addData((1L, 11L, t(0)), (1L, 12L, t(600)))
      q.processAllAvailable()
      assert(fired.isEmpty, "session still open: nothing may emit")
      input.addData((1L, 13L, t(3600))) // wm -> 3599s > 600s + gap
      q.processAllAvailable()
      assert(fired.toSet === Set((1L, 11L, 1L), (1L, 12L, 1L)),
        "first session closes with ordinal 1 once the watermark passes its gap")
      input.addData((1L, 14L, t(90000))) // far future: closes the 3600s session
      q.processAllAvailable()
      q.stop()
      assert(fired.toSet.contains((1L, 13L, 2L)),
        "second session gets the next ordinal")

      // --- fixture replay in two batches vs the batch q107 semantics ---
      val events = graft.core.Tables.events(spark, TestSession.sfDir)
        .select(col("user_id"), col("event_id"), col("ts"))
        .as[(Long, Long, java.sql.Timestamp)].collect().toSeq
        .sortBy(_._3.getTime)
      val (b1, b2) = events.splitAt(events.size / 2)
      val maxTs = events.map(_._3.getTime).max
      val sentinel = (-1L, -1L, new java.sql.Timestamp(maxTs + 86400000L))
      val input2 = MemoryStream[(Long, Long, java.sql.Timestamp)](spark)
      val grouped2 = input2.toDS().toDF("k", "id", "ts")
        .withWatermark("ts", "1 second")
        .as[(Long, Long, java.sql.Timestamp)]
        .groupByKey(_._1).mapValues(r => (r._2, r._3.getTime))
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
      val q2 = StreamingSessionize.labeled(grouped2, gap)
        .writeStream.outputMode("append")
        .option("checkpointLocation", tmp("ckpt-sessionize-fix"))
        .foreachBatch { (b: org.apache.spark.sql.Dataset[(Long, Long, Long)], _: Long) =>
          out ++= b.collect(); ()
        }.start()
      input2.addData(b1: _*)
      q2.processAllAvailable()
      input2.addData(b2: _*)
      q2.processAllAvailable()
      input2.addData(sentinel)
      q2.processAllAvailable()
      q2.stop()
      val got = out.filter(_._1 >= 0).map(r => (r._2, r._3)).toMap
      val exp = events.groupBy(_._1).flatMap { case (_, evs) =>
        val sorted = evs.map(e => (e._3.getTime, e._2)).sorted
        var idx = 1L; var last = sorted.head._1
        sorted.map { case (ts, id) =>
          if (ts - last > gap) idx += 1
          last = ts
          id -> idx
        }
      }
      assert(got.size === exp.size, s"label count ${got.size} != ${exp.size}")
      assert(got === exp, {
        val bad = exp.collect { case (id, i) if got.get(id) != Some(i) =>
          s"$id: got ${got.get(id)} exp $i" }.take(5)
        s"label mismatches: ${bad.mkString("; ")}"
      })
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming DAU equals the batch q134 dau column on replay") {
    val events = graft.core.Tables.events(spark, TestSession.sfDir)
      .select(col("user_id"), col("ts"))
      .as[(Long, java.sql.Timestamp)].collect().toSeq
      .sortBy(e => (e._2.getTime, e._1))
    val (b1, b2) = events.splitAt(events.size / 2)
    // sentinel far past the data closes every real day's window
    val sentinel = (-1L,
      new java.sql.Timestamp(events.map(_._2.getTime).max + 10L * 86400000L))
    val input = MemoryStream[(Long, java.sql.Timestamp)](spark)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = StreamingActives.dau(input.toDS().toDF("user_id", "ts"))
      .as[(Long, Long)]
      .writeStream.outputMode("append")
      .option("checkpointLocation", tmp("ckpt-dau"))
      .foreachBatch { (b: org.apache.spark.sql.Dataset[(Long, Long)], _: Long) =>
        out ++= b.collect(); ()
      }.start()
    input.addData(b1: _*)
    q.processAllAvailable()
    input.addData(b2: _*)
    q.processAllAvailable()
    input.addData(sentinel)
    q.processAllAvailable()
    q.stop()
    // batch reference: distinct (user, day) then count per day
    val exp = events.map { case (u, t) => (u, t.getTime / 86400000L) }
      .distinct.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val got = out.filter(_._1 >= 0)
      .map { case (dayMs, n) => (dayMs / 86400000L, n) }
      .filterNot { case (d, _) => d == sentinel._2.getTime / 86400000L }.toMap
    assert(got === exp,
      s"streaming dau diverges: missing=${exp.keySet -- got.keySet} " +
        s"extra=${got.keySet -- exp.keySet} " +
        s"diff=${exp.collect { case (d, n) if got.get(d).exists(_ != n) => d }}")
    // append mode must emit each day exactly once
    val days = out.map(_._1)
    assert(days.distinct.size == days.size, "a day emitted twice")
  }

  test("streaming CDC compaction converges to the batch q128 table") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // the q128 changelog: (cust, seq, op, (orderkey, price, day))
      val dayNum = datediff(col("o_orderdate").cast("date"),
        lit("1970-01-01").cast("date")).cast("long")
      val rows = graft.core.Tables.orders(spark, TestSession.sfDir)
        .select(col("o_custkey"),
          (dayNum * lit(10000000000L) + col("o_orderkey")).as("seq"),
          when(col("o_orderkey") % 13 === 0, lit("D")).otherwise(lit("U")).as("op"),
          col("o_orderkey"), col("o_totalprice"), dayNum.as("day"))
        .as[(Long, Long, String, Long, Double, Long)].collect().toSeq
      // replay in ARRIVAL order ≠ sequence order (shuffled deterministically):
      // last-writer-wins must depend on seq alone, not arrival
      val shuffled = rows.sortBy(r => java.lang.Long.reverse(r._2 * 0x9E3779B97F4A7C15L))
      val (b1, b2) = shuffled.splitAt(shuffled.size / 2)
      val input = MemoryStream[(Long, Long, String, Long, Double, Long)](spark)
      val grouped = input.toDS().toDF("cust", "seq", "op", "key", "price", "day")
        .as[(Long, Long, String, Long, Double, Long)]
        .groupByKey(_._1).mapValues(r => (r._2, r._3, (r._4, r._5, r._6)))
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, String, (Long, Double, Long))]
      val q = StreamingCompact.latest(grouped)
        .writeStream.outputMode("append")
        .option("checkpointLocation", tmp("ckpt-compact"))
        .foreachBatch { (b: org.apache.spark.sql.Dataset[(Long, Long, String, (Long, Double, Long))], _: Long) =>
          out ++= b.collect(); ()
        }.start()
      input.addData(b1: _*)
      q.processAllAvailable()
      input.addData(b2: _*)
      q.processAllAvailable()
      q.stop()
      // the LAST emission per key, tombstones filtered, is the live view —
      // must equal the batch q128 result exactly
      val lastEmit = out.zipWithIndex
        .groupBy(_._1._1).view.mapValues(_.maxBy(_._2)._1).toMap
      val live = lastEmit.collect { case (cust, (_, _, op, (k, p, d))) if op != "D" =>
        cust -> (k, p, d)
      }
      val batch = graft.queries.PipelineQueries.queries("q128_cdc_compact")(
        spark, TestSession.sfDir)
        .as[(Long, Long, Double, Long)].collect()
        .map(r => r._1 -> (r._2, r._3, r._4)).toMap
      assert(live === batch,
        s"live view diverges: extra=${live.keySet -- batch.keySet} missing=${batch.keySet -- live.keySet}")
      // winner updates are monotone in seq per key — stale arrivals absorbed
      out.groupBy(_._1).values.foreach { emits =>
        val seqs = emits.map(_._2)
        assert(seqs == seqs.sorted, "winner emissions must be seq-monotone")
      }
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming SCD2 closes exactly the batch q142 version history") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // the q142 changelog: (cust, seq, priority) with q128's monotone
      // (day, orderkey) sequence standing in for (o_orderdate, o_orderkey)
      val dayNum = datediff(col("o_orderdate").cast("date"),
        lit("1970-01-01").cast("date")).cast("long")
      val rows = graft.core.Tables.orders(spark, TestSession.sfDir)
        .select(col("o_custkey"),
          (dayNum * lit(10000000000L) + col("o_orderkey")).as("seq"),
          col("o_orderpriority"))
        .as[(Long, Long, String)].collect().toSeq
      // expected closed versions: per-key seq-ordered collapse fold
      val expected = rows.groupBy(_._1).flatMap { case (cust, rs) =>
        val collapsed = rs.sortBy(_._2).foldLeft(List.empty[(Long, String)]) {
          case (acc, (_, seq, attr)) =>
            if (acc.headOption.exists(_._2 == attr)) acc else (seq, attr) :: acc
        }.reverse
        collapsed.sliding(2).collect { case List((from, a), (to, _)) =>
          (cust, a, from, to)
        }.zipWithIndex.map { case ((c, a, f, t), i) => (c, i + 1L, a, f, t) }
      }.toSet
      // replay in seq-ordered batches (the watermark-ordered contract),
      // split mid-stream so versions close across batch boundaries
      val ordered = rows.sortBy(_._2)
      val (b1, b2) = ordered.splitAt(ordered.size / 2)
      val input = MemoryStream[(Long, Long, String)](spark)
      val grouped = input.toDS().groupByKey(_._1).mapValues(r => (r._2, r._3))
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, String, Long, Long)]
      val q = StreamingScd2.versions(grouped)
        .writeStream.outputMode("append")
        .option("checkpointLocation", tmp("ckpt-scd2"))
        .foreachBatch { (b: org.apache.spark.sql.Dataset[(Long, Long, String, Long, Long)], _: Long) =>
          out ++= b.collect(); ()
        }.start()
      input.addData(b1: _*)
      q.processAllAvailable()
      input.addData(b2: _*)
      q.processAllAvailable()
      q.stop()
      assert(out.toSet === expected,
        s"closed-version divergence: extra=${(out.toSet -- expected).take(3)} " +
          s"missing=${(expected -- out.toSet).take(3)}")
      assert(out.size === out.toSet.size, "exactly-once closure emission")
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming z-score prefix flags match a reference fold on fixture data") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
    val events = graft.core.Tables.events(spark, TestSession.sfDir)
      .select(col("user_id"), col("event_id"), col("ts"),
        round(col("value") * 100).cast("long").as("cents"))
      .as[(Long, Long, java.sql.Timestamp, Long)].collect().toSeq
      .sortBy(e => (e._3.getTime, e._2))
    val (b1, b2) = events.splitAt(events.size / 2)
    val input = MemoryStream[(Long, Long, java.sql.Timestamp, Long)](spark)
    val grouped = input.toDS().toDF("k", "id", "ts", "v")
      .as[(Long, Long, java.sql.Timestamp, Long)]
      .groupByKey(_._1).mapValues(r => (r._2, r._3.getTime, r._4))
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    val q = StreamingZScore.flags(grouped, threshold = 2.0)
      .writeStream.outputMode("append")
      .option("checkpointLocation", tmp("ckpt-zscore"))
      .foreachBatch { (b: org.apache.spark.sql.Dataset[(Long, Long, Double)], _: Long) =>
        out ++= b.collect(); ()
      }.start()
    input.addData(b1: _*)
    q.processAllAvailable()
    input.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    // reference fold: same (ts, id) order, same integer moments
    val exp = scala.collection.mutable.Map.empty[(Long, Long), Double]
    events.groupBy(_._1).foreach { case (k, evs) =>
      var n = 0L; var s = 0L; var ss = 0L
      evs.sortBy(e => (e._3.getTime, e._2)).foreach { case (_, id, _, v) =>
        if (n >= 2) {
          val nD = n.toDouble
          val variance = (nD * ss.toDouble - s.toDouble * s.toDouble) / (nD * (nD - 1.0))
          if (variance > 0) {
            val z = (v.toDouble - s.toDouble / nD) / math.sqrt(variance)
            if (math.abs(z) > 2.0) exp((k, id)) = z
          }
        }
        n += 1; s += v; ss += v * v
      }
    }
    val got = out.map(r => (r._1, r._2) -> r._3).toMap
    assert(got.keySet === exp.keySet,
      s"flag sets differ: extra=${got.keySet -- exp.keySet} missing=${exp.keySet -- got.keySet}")
    got.foreach { case (k, z) => assert(z === exp(k), s"z differs at $k") }
    assert(got.nonEmpty, "fixture should contain some prefix anomalies")
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("stream-stream as-of join matches each left to the latest right within lookback") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val lIn = MemoryStream[(Long, java.sql.Timestamp, String)](spark)
      val rIn = MemoryStream[(Long, java.sql.Timestamp, String)](spark)
      def side(s: MemoryStream[(Long, java.sql.Timestamp, String)], isLeft: Boolean) =
        s.toDS().toDF("k", "ts", "p")
          .withWatermark("ts", "2 seconds") // per side, BEFORE the union:
          .withColumn("isLeft", lit(isLeft)) // query wm = min of the two
      val grouped = side(lIn, isLeft = true).unionByName(side(rIn, isLeft = false))
        .select(col("k"), unix_millis(col("ts")).as("tsMs"), col("isLeft"), col("p"))
        .as[(Long, Long, Boolean, String)]
        .groupByKey(_._1)
        .mapValues(t => (t._2, t._3, t._4))
      val joined = StreamingAsOf.asOfJoin(grouped, lookbackMs = 5000L)
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, String, Long, String)]
      val q = joined.writeStream.outputMode("append")
        .option("checkpointLocation", tmp("ckpt-asof"))
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[(Long, Long, String, Long, String)],
           _: Long) => out ++= b.collect(); ()
        }
        .start()
      def ts(ms: Long) = new java.sql.Timestamp(ms)
      lIn.addData((1L, ts(1000), "t10"), (1L, ts(3500), "t35"))
      rIn.addData((1L, ts(1000), "q1"), (1L, ts(3000), "q3"))
      q.processAllAvailable()
      rIn.addData((1L, ts(9000), "q9")); lIn.addData((1L, ts(9500), "t95"))
      q.processAllAvailable()
      rIn.addData((1L, ts(25000), "q25"))
      lIn.addData((1L, ts(20000), "t200"), (1L, ts(25000), "t250"))
      q.processAllAvailable()
      // tlate arrives already behind the watermark (23s): resolves
      // immediately; its rts ≤ 8000 candidates are long evicted → no-match
      lIn.addData((1L, ts(8000), "tlate"), (1L, ts(50000), "t500"))
      rIn.addData((1L, ts(50000), "q50"))
      q.processAllAvailable()
      lIn.addData((1L, ts(60000), "tend")); rIn.addData((1L, ts(60000), "qend"))
      q.processAllAvailable()
      q.stop()
      assert(out.toSet === Set(
        (1L, 1000L, "t10", 1000L, "q1"),    // rts == lts matches (≤, not <)
        (1L, 3500L, "t35", 3000L, "q3"),    // latest of q1/q3, not all in range
        (1L, 9500L, "t95", 9000L, "q9"),
        (1L, 20000L, "t200", -1L, null),    // only stale rights: explicit no-match
        (1L, 8000L, "tlate", -1L, null),    // late left resolved, not dropped
        (1L, 25000L, "t250", 25000L, "q25"),
        (1L, 50000L, "t500", 50000L, "q50")),
        // tend (60s) stays pending: its timer needs wm > 60s, never reached
        s"as-of matches diverged: $out")
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("reliability e2e: 1M rows, injected faults + forced restart, exact count") {
    // Analog of the reference's standard reliability run
    // (FlinkDotnetStandardReliabilityTest.cs:745,748-756,999-1000: 10M
    // msgs, ~5% fault injection, no-loss/exactly-once/retry invariants) at
    // bench-appropriate local scale: 1M rows in 20 micro-batches, a
    // deterministic transient fault on every 3rd batch (absorbed by sink
    // retry), one batch that exhausts ALL attempts and kills the query
    // (at-least-once replay territory), then a restart from the same
    // checkpoint. Exactly-once must survive the whole ride: counter == N,
    // committed batches never re-enter the sink, retry count > 0.
    val dir = tmp("reliab")
    val n = 1000000L
    spark.range(n).repartition(20).write.parquet(s"$dir/in")
    val schema = spark.read.parquet(s"$dir/in").schema
    val counted = new AtomicLong(0)
    val transients = new AtomicLong(0)
    val hardFailed = new AtomicLong(0)
    val attempts = new java.util.concurrent.ConcurrentHashMap[Long, AtomicLong]()
    @volatile var killRun = true
    val ledger = new ExactlyOnce.BatchLedger(s"$dir/ledger")
    val sink = new ExactlyOnce.TransactionalBatchSink {
      def write(batch: DataFrame, batchId: Long): Unit = {
        val att = attempts
          .computeIfAbsent(batchId, _ => new AtomicLong(0)).incrementAndGet()
        if (batchId % 3 == 2 && att == 1) { // ~5% of attempts, deterministic
          transients.incrementAndGet()
          sys.error(s"injected transient fault, batch $batchId")
        }
        if (batchId == 7 && killRun) { // survives every retry → query dies
          hardFailed.incrementAndGet()
          sys.error(s"injected hard fault, batch $batchId attempt $att")
        }
        counted.addAndGet(batch.count())
      }
    }
    val fn = ExactlyOnce.foreachBatchIdempotent(sink, ledger,
      ExactlyOnce.RetryPolicy(maxAttempts = 3, backoffMs = 1))
    def run(): Unit = {
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$dir/in")
        .writeStream
        .option("checkpointLocation", s"$dir/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch(fn)
        .start()
      q.awaitTermination()
    }
    val died = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      run()
    }
    assert(died.getCause.getMessage.contains("injected hard fault"),
      s"query must die on the exhausted-retries batch, died on: $died")
    assert(hardFailed.get() === 3, "hard batch burned every retry attempt")
    val committedBeforeRestart = attempts.keySet().size - 1 // all but batch 7
    killRun = false
    run() // restart from the same checkpoint: batch 7 replays with its id
    assert(counted.get() === n,
      "exact-count invariant across faults and restart (no loss, no dup)")
    assert(transients.get() > 0, "fault injection exercised the retry path")
    assert((0 until 20).forall(b => ledger.isCommitted(b.toLong)),
      "every micro-batch committed exactly once in the ledger")
    // committed batches never re-entered the sink after restart: their
    // attempt counters are exactly (1 + the injected transient, if any)
    attempts.forEach { (batchId, att) =>
      val expected = (if (batchId % 3 == 2) 2 else 1) +
        (if (batchId == 7) 3 else 0)
      assert(att.get() === expected,
        s"batch $batchId entered the sink ${att.get()} times, expected $expected")
    }
    assert(committedBeforeRestart >= 7, "the kill happened mid-run, not at the end")
  }

  test("streaming EWMA final values are bit-exact vs the batch q158 fold") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val events = graft.core.Tables.events(spark, TestSession.sfDir)
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
          col("value"))
        .as[(Long, Long, Long, Double)].collect().toSeq
        .sortBy(e => (e._3, e._2)) // global event-time order, as a log replay
      val (b1, b2) = events.splitAt(events.size / 2)
      val input = MemoryStream[(Long, Long, Long, Double)](spark)
      val grouped = input.toDS().groupByKey(_._1).mapValues(r => (r._2, r._3, r._4))
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
      val q = StreamingEwma.smoothed(grouped, alpha = 0.2, beta = 0.8)
        .writeStream.outputMode("append")
        .option("checkpointLocation", tmp("ckpt-ewma"))
        .foreachBatch { (b: org.apache.spark.sql.Dataset[(Long, Long, Double)], _: Long) =>
          out ++= b.collect(); ()
        }.start()
      input.addData(b1: _*)
      q.processAllAvailable()
      // replay the tail of batch 1 inside batch 2: the frontier must drop it
      input.addData(b1.takeRight(10) ++ b2: _*)
      q.processAllAvailable()
      q.stop()
      // one emission per event, none for the replayed duplicates
      assert(out.size === events.size, "exactly one emission per in-order event")
      // the LAST emission per key equals the batch operator bit-for-bit
      val lastByKey = events.groupBy(_._1).map { case (k, evs) =>
        k -> evs.sortBy(e => (e._3, e._2)).last._2 }
      val finals = out.filter { case (k, id, _) => lastByKey(k) == id }
        .map(r => r._1 -> r._3).toMap
      val batch = graft.queries.OperationalQueries.queries("q158_ewma")(
        spark, TestSession.sfDir)
        .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
      assert(finals.keySet === batch.keySet)
      batch.foreach { case (k, v) =>
        assert(finals(k) === v, s"user $k: stream/batch EWMA diverged") }
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming CUSUM alarm set bit-agrees with the batch q159 fold") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val events = graft.core.Tables.events(spark, TestSession.sfDir)
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
          col("value"))
        .as[(Long, Long, Long, Double)].collect().toSeq
        .sortBy(e => (e._3, e._2))
      val (b1, b2) = events.splitAt(events.size / 2)
      val input = MemoryStream[(Long, Long, Long, Double)](spark)
      val grouped = input.toDS().groupByKey(_._1).mapValues(r => (r._2, r._3, r._4))
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, String, Double)]
      val q = StreamingCusum.alarms(grouped, kUp = 60.0, kDown = 40.0, h = 200.0)
        .writeStream.outputMode("append")
        .option("checkpointLocation", tmp("ckpt-cusum"))
        .foreachBatch { (b: org.apache.spark.sql.Dataset[(Long, Long, String, Double)], _: Long) =>
          out ++= b.collect(); ()
        }.start()
      input.addData(b1: _*)
      q.processAllAvailable()
      input.addData(b1.takeRight(5) ++ b2: _*) // replayed rows must not re-alarm
      q.processAllAvailable()
      q.stop()
      // reference: the q159 fold, alarm IDs and excursions recorded
      val exp = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, String, Double)]
      events.groupBy(_._1).foreach { case (k, evs) =>
        var pos = 0.0; var neg = 0.0
        evs.sortBy(e => (e._3, e._2)).foreach { case (_, id, _, v) =>
          val p2 = math.max(0.0, pos + v - 60.0)
          val n2 = math.min(0.0, neg + v - 40.0)
          if (p2 > 200.0) { exp += ((k, id, "up", p2)); pos = 0.0 } else pos = p2
          if (n2 < -200.0) { exp += ((k, id, "down", n2)); neg = 0.0 } else neg = n2
        }
      }
      assert(out.toSet === exp.toSet,
        s"alarm sets diverged: extra=${(out.toSet -- exp.toSet).take(3)} " +
          s"missing=${(exp.toSet -- out.toSet).take(3)}")
      assert(out.size === out.toSet.size, "replay must not duplicate alarms")
      assert(out.nonEmpty, "fixture should trip alarms")
      // alarm counts agree with the batch query per user
      val batch = graft.queries.OperationalQueries.queries("q159_cusum")(
        spark, TestSession.sfDir)
        .collect().map(r => r.getLong(0) -> (r.getLong(2) + r.getLong(3))).toMap
      val mine = out.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      batch.filter(_._2 > 0).foreach { case (k, n) =>
        assert(mine.getOrElse(k, 0L) === n, s"user $k alarm count") }
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming Holt final (level, trend) bit-agree with the batch q172 fold") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val events = graft.core.Tables.events(spark, TestSession.sfDir)
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
          col("value"))
        .as[(Long, Long, Long, Double)].collect().toSeq
        .sortBy(e => (e._3, e._2)) // global event-time order, as a log replay
      val (b1, b2) = events.splitAt(events.size / 2)
      val input = MemoryStream[(Long, Long, Long, Double)](spark)
      val grouped = input.toDS().groupByKey(_._1).mapValues(r => (r._2, r._3, r._4))
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double, Double)]
      val q = StreamingHolt.smoothed(grouped,
          alpha = 0.3, beta = 0.7, gamma = 0.1, delta = 0.9)
        .writeStream.outputMode("append")
        .option("checkpointLocation", tmp("ckpt-holt"))
        .foreachBatch { (b: org.apache.spark.sql.Dataset[(Long, Long, Double, Double)], _: Long) =>
          out ++= b.collect(); ()
        }.start()
      input.addData(b1: _*)
      q.processAllAvailable()
      // replay a slice of batch 1 inside batch 2: the frontier must drop it
      input.addData(b1.takeRight(10) ++ b2: _*)
      q.processAllAvailable()
      q.stop()
      // one emission per in-order event from each key's SECOND event on
      val perKey = events.groupBy(_._1)
      val expectEmissions = perKey.valuesIterator.map(v => math.max(0, v.size - 1)).sum
      assert(out.size === expectEmissions,
        "one emission per event past the two-point seed, none for replays")
      val lastByKey = perKey.map { case (k, evs) =>
        k -> evs.sortBy(e => (e._3, e._2)).last._2 }
      val finals = out.filter { case (k, id, _, _) => lastByKey(k) == id }
        .map(r => r._1 -> ((r._3, r._4, r._3 + r._4))).toMap
      val batch = graft.queries.QualityQueries.queries("q172_holt_trend")(
        spark, TestSession.sfDir)
        .collect()
        .map(r => r.getLong(0) -> ((r.getDouble(2), r.getDouble(3), r.getDouble(4))))
        .toMap
      assert(finals.keySet === batch.keySet)
      batch.foreach { case (k, v) =>
        assert(finals(k) === v, s"user $k: stream/batch Holt diverged") }
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming greedy debounce matches a driver-side last-kept fold") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val tol = 21600000000L // 6 h, the q184 tolerance
      val events = graft.core.Tables.events(spark, TestSession.sfDir)
        .select(col("user_id"), col("event_type"), col("event_id"),
          unix_micros(col("ts")).as("us"))
        .as[(Long, String, Long, Long)].collect().toSeq
        .sortBy(e => (e._4, e._3))
      val (b1, b2) = events.splitAt(events.size / 2)
      val input = MemoryStream[(Long, String, Long, Long)](spark)
      val grouped = input.toDS().groupByKey(r => (r._1, r._2))
        .mapValues(r => (r._3, r._4))
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long, Long)]
      val q = StreamingDebounce.kept(grouped, tol)
        .writeStream.outputMode("append")
        .option("checkpointLocation", tmp("ckpt-debounce"))
        .foreachBatch { (b: org.apache.spark.sql.Dataset[(Long, String, Long, Long)], _: Long) =>
          out ++= b.collect(); ()
        }.start()
      input.addData(b1: _*)
      q.processAllAvailable()
      input.addData(b1.takeRight(10) ++ b2: _*) // replay slice must be dropped
      q.processAllAvailable()
      q.stop()
      // greedy reference: keep iff > tol after the last KEPT of the key
      val expect = events.groupBy(e => (e._1, e._2)).flatMap { case (k, evs) =>
        var lastKept = Long.MinValue
        evs.sortBy(e => (e._4, e._3)).flatMap { e =>
          if (lastKept == Long.MinValue || e._4 - lastKept > tol) {
            lastKept = e._4; Some((k._1, k._2, e._3, e._4))
          } else None
        }
      }.toSet
      assert(out.toSet === expect)
      // greedy ≠ burst-head: greedy keeps AT LEAST the burst heads
      val burstHeads = graft.queries.QualityQueries.queries("q184_debounce")(
        spark, TestSession.sfDir)
        .agg(org.apache.spark.sql.functions.sum(col("n_kept"))).head().getLong(0)
      assert(out.size >= burstHeads,
        "greedy debounce keeps at least one event per adjacent-gap burst")
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming bottom-k quantile final estimates bit-agree with batch q191") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val events = graft.core.Tables.events(spark, TestSession.sfDir)
        .select(col("event_type"),
          graft.llm.TextFunctions.portableHash(col("event_id").cast("string"), 7)
            .as("prio"),
          col("event_id"), col("value"))
        .as[(String, Long, Long, Double)].collect().toSeq
      val (b1, b2) = events.splitAt(events.size / 2)
      val input = MemoryStream[(String, Long, Long, Double)](spark)
      val grouped = input.toDS().groupByKey(_._1)
        .mapValues(r => (r._2, r._3, r._4))
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Double)]
      val q = StreamingQuantile.p50(grouped, k = 256)
        .writeStream.outputMode("append")
        .option("checkpointLocation", tmp("ckpt-bkq"))
        .foreachBatch { (b: org.apache.spark.sql.Dataset[(String, Long, Double)], _: Long) =>
          out ++= b.collect(); ()
        }.start()
      input.addData(b1: _*)
      q.processAllAvailable()
      input.addData(b1.take(50) ++ b2: _*) // replays are set-idempotent
      q.processAllAvailable()
      q.stop()
      // last emission per key vs the batch sketch query
      val finals = out.zipWithIndex.groupBy(_._1._1)
        .map { case (k, es) => k -> es.maxBy(_._2)._1 }
      val batch = graft.queries.QualityQueries.queries("q191_bottomk_quantile")(
        spark, TestSession.sfDir)
        .collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      assert(finals.keySet === batch.keySet)
      batch.foreach { case (k, (n, est)) =>
        assert(finals(k)._2 === n, s"$k sample size")
        assert(finals(k)._3 === est, s"$k estimate diverged from batch sketch")
      }
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming linkage links arriving records against the static " +
      "reference exactly like the batch form and a naive oracle") {
    import graft.streaming.StreamingLinkage
    val cust = graft.core.Tables.customer(spark, TestSession.sfDir)
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
        col("c_mktsegment"),
        org.apache.spark.sql.functions.round(col("c_acctbal") * 100)
          .cast("long").as("cents"))
    val ref = cust.where(col("c_custkey") % 2 === 0)
    val arriving = cust.where(col("c_custkey") % 2 === 1)
    val blockCols = Seq("c_nationkey", "c_mktsegment")
    val index = StreamingLinkage.referenceIndex(ref, "c_custkey", "c_name",
      "cents", blockCols).persist()
    // independent oracle: nested-loop scoring on collected rows
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    case class C(id: Long, name: String, nat: Long, seg: String, cents: Long)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[C] =
      df.collect().map(r => C(r.getLong(0), r.getString(1),
        r.getAs[Number](2).longValue(), r.getString(3), r.getLong(4))).toSeq
    val refRows = rows(ref)
    val expected = (for {
      s <- rows(arriving); r <- refRows
      if s.nat == r.nat && s.seg == r.seg
      l = lev(s.name, r.name)
      score = (if (l <= 2) 2 else 0) +
        (if (math.abs(s.cents - r.cents) < 50000L) 1 else 0)
      if score >= 2
    } yield (s.id, r.id) -> ((l, score))).toMap
    // batch form equals the naive oracle
    val batchLinks = StreamingLinkage.link(arriving, index, "c_custkey",
        "c_name", "cents", blockCols).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getInt(2), r.getInt(3))))
      .toMap
    assert(batchLinks === expected, "batch link() diverged from the oracle")
    // streamed micro-batches (with a replayed tail) emit the same links
    val stream = rows(arriving)
    val (b1, b2) = stream.splitAt(stream.size / 2)
    val input = MemoryStream[(Long, String, Long, String, Long)](spark)
    val got = scala.collection.mutable.Map.empty[(Long, Long), (Int, Int)]
    val q = input.toDS()
      .toDF("c_custkey", "c_name", "c_nationkey", "c_mktsegment", "cents")
      .writeStream
      .option("checkpointLocation", tmp("ckpt-slink"))
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        StreamingLinkage.link(b, index, "c_custkey", "c_name", "cents",
          blockCols).collect().foreach { r =>
          got((r.getLong(0), r.getLong(1))) = (r.getInt(2), r.getInt(3))
        }
        ()
      }.start()
    def feed(rs: Seq[C]): Unit = {
      input.addData(rs.map(c => (c.id, c.name, c.nat, c.seg, c.cents)): _*)
      q.processAllAvailable()
    }
    feed(b1)
    feed(b1.takeRight(5) ++ b2) // replays re-emit identical links (idempotent upsert)
    q.stop()
    index.unpersist()
    assert(got.toMap === expected,
      "streamed per-batch links diverged from the batch/oracle link set")
  }

  test("streaming quota sampler roster equals the batch q194 sample " +
      "across batch splits and replays") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // the operator's input: (source, doc_id, priority) with q194's hash
      val rows = graft.core.Tables.documents(spark, TestSession.sfDir)
        .select(col("source"), col("doc_id"),
          graft.llm.TextFunctions.portableHash(col("doc_id").cast("string"), 11)
            .as("prio"))
        .as[(String, Long, Long)].collect().toSeq.sortBy(_._2)
      val (b1, b2) = rows.splitAt(rows.size / 2)
      val input = MemoryStream[(String, Long, Long)](spark)
      val grouped = input.toDS().groupByKey(_._1).mapValues(r => (r._2, r._3))
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long, String)]
      val q = StreamingQuotaSampler.keep(grouped, k = 50)
        .writeStream.outputMode("append")
        .option("checkpointLocation", tmp("ckpt-quota"))
        .foreachBatch { (b: org.apache.spark.sql.Dataset[(String, Long, String)], _: Long) =>
          out ++= b.collect(); ()
        }.start()
      input.addData(b1: _*)
      q.processAllAvailable()
      input.addData(b1.takeRight(20) ++ b2: _*) // replays are set-idempotent
      q.processAllAvailable()
      q.stop()
      // final roster per key == the batch q194 sample, in rank order
      val finals = out.zipWithIndex.groupBy(_._1._1)
        .map { case (k, es) => k -> es.maxBy(_._2)._1._3 }
      val batch = graft.queries.StatsQueries.queries("q194_quota_sample")(
        spark, TestSession.sfDir)
        .orderBy(col("source"), col("rnk")).collect()
        .groupBy(_.getString(0))
        .map { case (src, rs) => src -> rs.map(_.getLong(1)).mkString(",") }
      assert(finals.keySet === batch.keySet)
      batch.foreach { case (src, ids) =>
        assert(finals(src) === ids, s"$src: stream roster != batch sample") }
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming rolling median bit-agrees with batch q192 across batch " +
      "splits and replays") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // the operator's input contract: the per-(priority, day) exact-cent
      // daily aggregate stream, in day order (batch q192's first stage)
      val daily = graft.core.Tables.orders(spark, TestSession.sfDir)
        .groupBy(col("o_orderpriority"),
          expr("datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01')")
            .cast("long").as("day"))
        .agg(org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.round(col("o_totalprice") * 100)
            .cast("long")).as("cents"))
        .as[(String, Long, Long)].collect().toSeq.sortBy(r => (r._2, r._1))
      val batchRef = graft.queries.QualityQueries.queries("q192_rolling_median")(
        spark, TestSession.sfDir)
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(3)).toMap
      // two different batch splits must yield identical emissions
      val splits = Seq(Seq(daily), {
        val (a, b) = daily.splitAt(daily.size / 3)
        val (b1, b2) = b.splitAt(b.size / 2)
        Seq(a, b1, b1.takeRight(7) ++ b2) // tail replay opens batch 3
      })
      val results = splits.zipWithIndex.map { case (batches, i) =>
        val input = MemoryStream[(String, Long, Long)](spark)
        val grouped = input.toDS().groupByKey(_._1).mapValues(r => (r._2, r._3))
        val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Double)]
        val q = StreamingRollingMedian.med7(grouped, lookback = 7)
          .writeStream.outputMode("append")
          .option("checkpointLocation", tmp(s"ckpt-rmed$i"))
          .foreachBatch { (b: org.apache.spark.sql.Dataset[(String, Long, Double)], _: Long) =>
            out ++= b.collect(); ()
          }.start()
        batches.foreach { batch => input.addData(batch: _*); q.processAllAvailable() }
        q.stop()
        // the frontier drops replays: exactly ONE emission per (key, day)
        assert(out.size === batchRef.size,
          "replayed days must be dropped at the pane frontier")
        out.map { case (k, d, m) => (k, d) -> m }.toMap
      }
      // every emission equals the batch med7 (cents → currency, same op)
      results.foreach { byDay =>
        assert(byDay.keySet === batchRef.keySet, "one emission per (key, day)")
        byDay.foreach { case (kd, medCents) =>
          assert(medCents / 100.0 === batchRef(kd),
            s"$kd: stream med7 diverged from batch q192")
        }
      }
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming WAU deltas sum to batch q134's exact windowed distinct " +
      "across batch splits and replays") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
    // the operator's input contract: distinct (user, day), per-user
    // ascending (global day sort suffices) — batch q134's first stage
    val userDays = graft.core.Tables.events(spark, TestSession.sfDir)
      .select(col("user_id").cast("long").as("u"),
        expr("unix_micros(ts) div 86400000000").as("d"))
      .distinct()
      .as[(Long, Long)].collect().toSeq.sortBy(r => (r._2, r._1))
    val batchRef = graft.queries.AnalyticQueries.queries("q134_rolling_dau")(
      spark, TestSession.sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap // day -> wau
    val splits = Seq(Seq(userDays), {
      val (a, b) = userDays.splitAt(userDays.size / 3)
      val (b1, b2) = b.splitAt(b.size / 2)
      Seq(a, b1, b1.takeRight(50) ++ b2) // tail replay opens batch 3
    })
    val results = splits.zipWithIndex.map { case (batches, i) =>
      val input = MemoryStream[(Long, Long)](spark)
      val grouped = input.toDS().groupByKey(_._1).mapValues(_._2)
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      val q = graft.streaming.StreamingActives.wauDeltas(grouped)
        .writeStream.outputMode("append")
        .option("checkpointLocation", tmp(s"ckpt-wau$i"))
        .foreachBatch { (b: org.apache.spark.sql.Dataset[(Long, Long)], _: Long) =>
          out ++= b.collect(); ()
        }.start()
      batches.foreach { batch => input.addData(batch: _*); q.processAllAvailable() }
      q.stop()
      out.groupBy(_._1).map { case (w, ds) => w -> ds.map(_._2).sum }
    }
    results.foreach { streamWau =>
      // every batch-complete window day must match the exact distinct
      // count; the stream's extra trailing wdays (the +6 tail beyond the
      // last observed day) are the usual incomplete-window tail
      batchRef.foreach { case (day, wau) =>
        assert(streamWau.getOrElse(day, 0L) === wau,
          s"day $day: streamed WAU deltas diverged from batch q134")
      }
    }
    // replay idempotence: both splits produce identical per-window sums
    assert(results(0) === results(1),
      "replayed user-days must be dropped at the last-day frontier")
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }
}
