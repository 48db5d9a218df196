package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, KeyValueGroupedDataset}
import org.apache.spark.sql.streaming._

/** Online per-key quantile monitoring over the deterministic bottom-k
  * sketch (the streaming face of `operators.TopKAggregator` under
  * `PriorityAsc`): state per key is AT MOST k (priority, id, value)
  * rows — the mergeable-sketch property (bottom-k of a union folds from
  * per-part bottom-k's) is exactly what makes cross-batch accumulation
  * sound. Each batch emits the key's current sample-median estimate.
  *
  * Because priorities are content hashes, the retained sample — and so
  * the estimate — is independent of batch boundaries and replay order:
  * the final emission equals the batch q191 sketch bit-for-bit. Replayed
  * rows re-offer the same (priority, id) and are naturally idempotent
  * (set semantics by id).
  */
object StreamingQuantile {

  /** rows: (priority, id, value). Emits (key, n_sample, est_p50) per
    * batch per key seen in that batch.
    */
  def p50(grouped: KeyValueGroupedDataset[String, (Long, Long, Double)], k: Int)(
      implicit stEnc: Encoder[Seq[(Long, Long, Double)]],
      outEnc: Encoder[(String, Long, Double)]): Dataset[(String, Long, Double)] = {

    val processor = new StatefulProcessor[String, (Long, Long, Double), (String, Long, Double)] {
      @transient private var st: ValueState[Seq[(Long, Long, Double)]] = _

      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        st = getHandle.getValueState[Seq[(Long, Long, Double)]](
          "bottomk", stEnc, TTLConfig.NONE)

      /** Spark's exact `percentile` interpolation (lo·(1−d) + hi·d). */
      private def median(vs: Seq[Double]): Double = {
        val s = vs.sorted
        val rank = 0.5 * (s.length - 1)
        val lo = rank.toInt
        if (lo + 1 >= s.length) s.last
        else s(lo) * (1.0 - (rank - lo)) + s(lo + 1) * (rank - lo)
      }

      override def handleInputRows(key: String, rows: Iterator[(Long, Long, Double)],
                                   timers: TimerValues): Iterator[(String, Long, Double)] = {
        val prev = if (st.exists()) st.get() else Seq.empty
        // set semantics by (priority, id): replays collapse, then keep k
        val merged = (prev ++ rows).distinctBy(r => (r._1, r._2))
          .sortBy(r => (r._1, r._2)).take(k)
        st.update(merged)
        Iterator.single((key, merged.length.toLong, median(merged.map(_._3))))
      }
    }

    grouped.transformWithState(processor, TimeMode.None(), OutputMode.Append())
  }
}
