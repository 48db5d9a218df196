package graft.operators

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/** Bounded top-k: keeps the k SMALLEST rows under `ord` over any input
  * order or partitioning.
  *
  *  - mergeable: top-k(A ∪ B) = top-k(top-k(A) ++ top-k(B)), so partial
  *    aggregation bounds shuffle state at k rows per (partition, group)
  *    where a ranking window sorts and shuffles every row
  *    (ScalaCheck'd in ArithmeticProps; the partial-merge design of
  *    incremental top-k similarity search);
  *  - deterministic when `ord` is total on the kept key: ties resolve the
  *    same way at any partitioning.
  *
  * Every buffer it produces is sorted by `ord`, so `b.last` is the worst
  * kept row and a full buffer rejects a row with one `ord.gteq` — under
  * the same ordering the sort uses, so the short-cut decides exactly as
  * re-sorting k+1 rows would (a stable sort keeps the earlier row on a
  * tie).
  */
final class TopKAggregator[T](k: Int, ord: Ordering[T])(
    implicit seqEnc: Encoder[Seq[T]])
    extends Aggregator[T, Seq[T], Seq[T]] {
  require(k > 0, s"top-k needs k > 0, got $k")
  private def keep(s: Seq[T]): Seq[T] = s.sorted(ord).take(k)
  override def zero: Seq[T] = Seq.empty
  override def reduce(b: Seq[T], a: T): Seq[T] =
    if (b.length >= k && ord.gteq(a, b.last)) b else keep(b :+ a)
  override def merge(a: Seq[T], b: Seq[T]): Seq[T] = keep(a ++ b)
  override def finish(r: Seq[T]): Seq[T] = keep(r)
  override def bufferEncoder: Encoder[Seq[T]] = seqEnc
  override def outputEncoder: Encoder[Seq[T]] = seqEnc
}

object TopKAggregator {

  /** (id, score) by score descending, ties to the smaller id — the
    * ranking of every similarity / quota top-k. Scores compare as the
    * total order of their negation (`java.lang.Double.compare`), so
    * NaN ranks last and 0.0 ranks ahead of −0.0.
    */
  val ScoreDesc: Ordering[(Long, Double)] = new Ordering[(Long, Double)] {
    def compare(x: (Long, Double), y: (Long, Double)): Int = {
      val c = java.lang.Double.compare(-x._2, -y._2)
      if (c != 0) c else java.lang.Long.compare(x._1, y._1)
    }
  }

  /** (priority, id, value) by (priority, id) ascending — the bottom-k
    * sample sketch: priorities are content hashes, so an engine with the
    * same hash re-derives the identical sample.
    */
  val PriorityAsc: Ordering[(Long, Long, Double)] =
    new Ordering[(Long, Long, Double)] {
      def compare(x: (Long, Long, Double), y: (Long, Long, Double)): Int = {
        val c = java.lang.Long.compare(x._1, y._1)
        if (c != 0) c else java.lang.Long.compare(x._2, y._2)
      }
    }
}
