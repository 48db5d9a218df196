package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Hot-bucket guard for bucketed candidate generation.
  *
  * Every LSH candidate generator in this package, and the deletion-band
  * record linkage (`operators.Linkage`), pairs the members of each bucket
  * of a banded table: cost Σ bucket². That sum is bounded only while the
  * LARGEST bucket is — one degenerate bucket (empty documents,
  * boilerplate headers, zero vectors, a corpus of identical names all
  * hashing alike) turns pairing quadratic at 100 TB no matter how good
  * the banding is. This guard is the only path those callers take; it
  * is always on.
  *
  * The guard splits buckets at `maxBucket` members:
  *
  *  - cold buckets (≤ maxBucket) pair exhaustively — the normal LSH path,
  *    bit-identical results for non-degenerate data;
  *  - hot buckets (> maxBucket) pair each member with the bucket's min-id
  *    REPRESENTATIVE only: m−1 star edges instead of m(m−1)/2. Downstream
  *    exact verification (Jaccard / cosine / Hamming) still runs on every
  *    emitted edge.
  *
  * Semantics of the star fallback: a bucket only goes hot when ~identical
  * keys collide en masse, which at corpus scale means an exact-duplicate
  * blob. Star edges keep every member CONNECTED to the blob (connected-
  * component dedup resolves the whole cluster, each member still surfaces
  * a candidate for ANN/nearest), while exhaustive enumeration of a
  * quadratic pair set nobody can materialize is intentionally dropped.
  * Members of a hot bucket that are merely band-colliding with the blob
  * can lose pairs not routed through the representative — the standard
  * recall trade every production dedup system makes (cap/salt/split).
  *
  * The hot-bucket list is derived with one narrow groupBy-count on the
  * banded table; AQE broadcasts it when (as expected) it is tiny. No
  * broadcast hint: if a pathological corpus produces millions of hot
  * buckets the join degrades to shuffle, not OOM.
  */
object LshGuard {

  /** Candidate pairs (`id_a`, `id_b`) from a banded table, hot buckets
    * star-capped.
    *
    * @param banded    one row per (id, bucket-key...) — band membership
    * @param keyCols   bucket key columns, e.g. ("band", "bucket")
    * @param idCol     member id column
    * @param maxBucket buckets above this size use the star fallback
    * @param ordered   true → emit id_a < id_b once (pair semantics);
    *                  false → emit both directions (per-query candidates)
    */
  def guardedCandidates(banded: DataFrame, keyCols: Seq[String], idCol: String,
                        maxBucket: Int, ordered: Boolean): DataFrame = {
    require(maxBucket >= 2, "maxBucket must allow at least one pair")
    val keys = keyCols.map(col)
    // Pairs come from one grouped aggregation per bucket
    // (`BucketPairs`), not a self-join: one shuffle of the banded table.
    // The per-bucket list is bounded because the census below runs first:
    // the fast path has verified no bucket is hot, and the cold branch
    // has filtered the hot ones out. The generator's strict id_a < id_b
    // keeps a repeated (id, key) row from pairing with itself.
    def bucketPairs(t: DataFrame): DataFrame =
      t.groupBy(keys: _*)
        .agg(sort_array(collect_list(col(idCol))).as("ids"))
        .where(size(col("ids")) >= 2)
        .select(explode(graft.operators.BucketPairs.sortedPairs(
          col("ids"), bothDirections = !ordered)).as("pr"))
        .select(col("pr.id_a"), col("pr.id_b"))
    // persisted: the isEmpty probe below materializes it, and in the hot
    // branch it feeds THREE downstream subtrees (flag join, hotRows, reps)
    // that would each re-run the count aggregation over `banded` otherwise.
    // In the hot branch the cache intentionally outlives this call (the
    // returned plan still references it lazily; there is no post-action
    // unpersist hook) — long-lived sessions reclaim it via clearCache(),
    // and it is bounded by the hot-bucket LIST (keys only), not the data
    val hot = banded.groupBy(keys: _*).agg(count(lit(1)).as("bucket_n"))
      .where(col("bucket_n") > maxBucket)
      .select(keyCols.map(col) :+ lit(true).as("is_hot"): _*)
      .transform(graft.core.Caching.persist)
    // Fast path — the common case. One linear count-aggregation (map-side
    // partials, tiny output) decides; with no hot bucket the pairs come
    // straight from the banded table, zero extra joins. The guard only
    // costs real work when it is actually saving quadratic work.
    if (hot.isEmpty) { hot.unpersist(); return bucketPairs(banded).distinct() }

    val flagged = banded.join(hot, keyCols, "left")
    val cold = flagged.where(col("is_hot").isNull).drop("is_hot")
    val hotRows = flagged.where(col("is_hot")).drop("is_hot")
    val coldPairs = bucketPairs(cold)
    // Star edges: every member ↔ the bucket's min-id representative.
    // min(id) < id for every non-rep member, so ordered pairs are (rep, x).
    val reps = hotRows.groupBy(keys: _*).agg(min(col(idCol)).as("rep"))
    val starBase = hotRows.join(reps, keyCols)
      .where(col(idCol) =!= col("rep"))
    val star = starBase.select(col("rep").as("id_a"), col(idCol).as("id_b"))
    val starPairs =
      if (ordered) star
      else star.union(star.select(col("id_b").as("id_a"), col("id_a").as("id_b")))

    coldPairs.union(starPairs).distinct()
  }
}
