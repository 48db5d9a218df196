package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** In-bucket pair generation: the grouped form of a bucket self-join.
  *
  * A self-join on a bucket key (`a ⋈ b ON a.key = b.key AND a.id < b.id`)
  * shuffles its input twice and probes a hash relation per row. Grouping
  * the bucket's ids into one sorted list and enumerating positions i < j
  * ships the input once and yields the same pairs. Callers keep their own
  * groupBy (and their own bound on bucket size: a census cap, a basket,
  * a document-frequency filter) and call [[sortedPairs]] on the list.
  */
object BucketPairs {

  /** Pairs (`id_a`, `id_b`) for positions i < j of `ids`, which must be
    * sorted ascending, keeping only ids[i] < ids[j]: a repeated id never
    * pairs with itself, while a multiset keeps the join's multiplicity
    * (count(a)·count(b) rows for each pair of distinct values a < b).
    * `bothDirections` also emits (`id_b`, `id_a`) for every pair. Arrays
    * of size < 2 give an empty array, a null array gives null.
    *
    * `ids` is referenced once per element, so pass a column reference
    * (the aggregated list), not an expression to recompute.
    */
  def sortedPairs(ids: Column, bothDirections: Boolean): Column = {
    val n = size(ids)
    // a = ids[i] for 1-based i < n, taken from a slice that is empty for
    // n ≤ 1 (sequence(1, n − 1) would count down and index out of range)
    val once = filter(flatten(transform(slice(ids, lit(1), greatest(n - 1, lit(0))),
      (a, i0) => {
        val i = i0 + 1
        transform(sequence(i + 1, n), j =>
          struct(a.as("id_a"), element_at(ids, j).as("id_b")))
      })), p => p("id_a") < p("id_b"))
    if (!bothDirections) once
    else flatten(transform(once, p =>
      array(p, struct(p("id_b").as("id_a"), p("id_a").as("id_b")))))
  }
}
