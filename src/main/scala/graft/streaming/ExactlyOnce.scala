package graft.streaming

import java.nio.file.{Files, Paths, StandardOpenOption}
import org.apache.spark.sql.{DataFrame, Row}

/** Ingress validation (SURVEY §2.9 IngressProcessingStage capability):
  * split a frame into valid rows and a dead-lettered remainder — as a
  * declarative filter pair, not a buffered pipeline stage.
  */
object Ingress {
  /** Returns the valid rows; invalid rows append to `dlqPath` (if given)
    * tagged by nothing but their content — the caller owns retention.
    *
    * ONE source pass: the frame is tagged with the predicate and persisted,
    * the DLQ writes from the materialized copy, and the returned valid
    * rows read the same copy — the input (a Kafka batch, an expensive
    * upstream join) is never scanned twice. The cache is dropped when the
    * returned frame is garbage-collected or explicitly unpersisted; inside
    * `foreachBatch` the batch lifetime bounds it naturally.
    */
  def validated(df: DataFrame, condition: org.apache.spark.sql.Column,
                dlqPath: Option[String] = None): DataFrame = dlqPath match {
    case None => df.filter(condition)
    case Some(p) =>
      import org.apache.spark.sql.functions.col
      val tagged = df.withColumn("__valid", condition)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      tagged.filter(!col("__valid")).drop("__valid").write.mode("append").parquet(p)
      tagged.filter(col("__valid")).drop("__valid")
  }
}

/** Exactly-once sink semantics (SURVEY §2.8).
  *
  * The reference implements exactly-once with barrier-aligned checkpoints +
  * 2-phase-commit sinks (`ITransactionalSinkFunction`:
  * BeginTransaction/PreCommit/Commit/Abort, ITransactionalSinkFunction.cs:8-29).
  * Spark's micro-batch boundary IS the barrier: source offsets are
  * checkpointed per batch, and a batch may replay after failure with the
  * SAME batchId — so a sink is exactly-once iff it is idempotent by batchId.
  * That is this adapter's contract, plus the §2.9 egress-stage robustness
  * capabilities (retry with backoff, dead-letter queue) as options.
  */
object ExactlyOnce {

  /** Transactional sink contract mapped from the reference's 2PC surface.
    * `begin` opens a transaction scoped to (batchId), `commit` publishes it
    * atomically, `abort` rolls back on failure — exactly the
    * BeginTransaction/PreCommit/Commit/Abort lifecycle, driven per
    * micro-batch instead of per checkpoint barrier.
    */
  trait TransactionalBatchSink extends Serializable {
    def begin(batchId: Long): Unit = ()
    def write(batch: DataFrame, batchId: Long): Unit
    def commit(batchId: Long): Unit = ()
    def abort(batchId: Long, cause: Throwable): Unit = ()
  }

  /** Durable ledger of committed batchIds (the file-sink-manifest idea):
    * one marker file per committed batch under `ledgerDir`. A replayed
    * batchId is skipped — turning at-least-once replay into exactly-once.
    */
  final class BatchLedger(ledgerDir: String) extends Serializable {
    private def marker(batchId: Long) = Paths.get(ledgerDir, s"batch-$batchId.committed")
    def isCommitted(batchId: Long): Boolean = Files.exists(marker(batchId))
    def recordCommit(batchId: Long): Unit = {
      Files.createDirectories(Paths.get(ledgerDir))
      Files.write(marker(batchId), Array.emptyByteArray,
        StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    }
  }

  final case class RetryPolicy(maxAttempts: Int = 3, backoffMs: Long = 100) {
    require(maxAttempts >= 1)
  }

  /** Build a foreachBatch function with exactly-once + retry + DLQ:
    *  - skip batchIds already in the ledger (idempotent replay): the
    *    sink is not called, but the batch still runs into a no-op sink,
    *    because a stateful upstream commits its state-store version only
    *    when the batch executes (Spark 4.1 fails the restart with
    *    STATE_STORE_COMMIT_VALIDATION_FAILED otherwise);
    *  - retry transient sink failures with linear backoff
    *    (AsyncEgressProcessingStage retry, IngressAndEgressStages.cs:269-630);
    *  - after exhausting retries, either divert the batch to a dead-letter
    *    parquet table (`dlqPath`) and keep the query alive, or rethrow.
    */
  def foreachBatchIdempotent(
      sink: TransactionalBatchSink,
      ledger: BatchLedger,
      retry: RetryPolicy = RetryPolicy(),
      dlqPath: Option[String] = None): (DataFrame, Long) => Unit = {
    (batch: DataFrame, batchId: Long) =>
      if (!ledger.isCommitted(batchId)) {
        // persist before the first attempt: retries (and the DLQ write)
        // must see the SAME rows, not a recompute of the upstream plan —
        // a nondeterministic upstream recomputed per attempt could push
        // different row sets under one batchId, breaking idempotence
        batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          var attempt = 0
          var done = false
          var lastErr: Throwable = null
          while (!done && attempt < retry.maxAttempts) {
            attempt += 1
            try {
              sink.begin(batchId)
              sink.write(batch, batchId)
              sink.commit(batchId)
              ledger.recordCommit(batchId)
              done = true
            } catch {
              case e: Throwable =>
                lastErr = e
                sink.abort(batchId, e)
                if (attempt < retry.maxAttempts) Thread.sleep(retry.backoffMs * attempt)
            }
          }
          if (!done) dlqPath match {
            case Some(p) =>
              batch.write.mode("append").parquet(s"$p/batch-$batchId")
              ledger.recordCommit(batchId)
            case None => throw lastErr
          }
        } finally batch.unpersist()
      } else batch.write.format("noop").mode("overwrite").save()
  }
}
