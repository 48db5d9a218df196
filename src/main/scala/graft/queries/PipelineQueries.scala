package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Tables
import graft.core.Money.{dec, sumDec, sumDecFast}
import graft.operators.TopKAggregator
import graft.llm.{TextFunctions => TF}

/** Round-4 pipeline widening: event sessionization (row labeling, not
  * windowed aggregation), bloom-prefiltered joins, salted two-stage
  * aggregation, per-key z-score anomaly flagging, vocabulary/OOV
  * coverage, and stopword stripping. Every query carries a DuckDB oracle.
  *
  * Scale notes (100 TB posture):
  *  - sessionization is ONE shuffle on user_id + an in-partition sort —
  *    the canonical sessionize shape; no self-join, no global sort;
  *  - the bloom join builds a KB-sized filter from the selective dim side
  *    and prunes fact rows BEFORE the join shuffle — the semi-join
  *    pushdown pattern (runtime row-group skipping) with correctness
  *    independent of the false-positive rate because the exact join runs
  *    after the prune;
  *  - salted aggregation splits each hot group across 16 sub-groups for
  *    the wide partial, then combines 16 rows per group — the standard
  *    two-stage defense when ONE grouping key carries a skewed share of
  *    the input (partial aggregation alone doesn't help when a single
  *    reducer partition owns the hot key's final combine);
  *  - anomaly stats reduce to exact decimal sums (order-independent at
  *    any parallelism, the q95 discipline) and rejoin co-keyed on
  *    user_id — both sides shuffle once on the same key;
  *  - the vocabulary is a bounded top-N (partial top-N per partition
  *    feeding TakeOrdered — never a global sort) and is broadcast back,
  *    so the corpus-side token stream never shuffles for the probe.
  */
object PipelineQueries {

  private val sessionGapUs = 30L * 60 * 1000 * 1000 // 30 min in µs

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Sessionize: label every event with its per-user session ordinal
    // (new session when the gap to the previous event exceeds 30 min).
    // Unlike q28 (session-window AGGREGATES) this returns the labeled
    // rows themselves — the form a training-data pipeline joins back to.
    // Ordering is pinned by (ts, event_id) so ties are deterministic.
    "q107_sessionize" -> ((s, dir) => {
      val ord = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val prev = lag(col("ts"), 1).over(ord)
      Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("ts"))
        .withColumn("newb",
          when(prev.isNull
            .or(unix_micros(col("ts")) - unix_micros(prev) > sessionGapUs), lit(1L))
            .otherwise(lit(0L)))
        .withColumn("session_idx",
          sum(col("newb")).over(ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("user_id"), col("event_id"), col("session_idx"))
    }),

    // Bloom-prefiltered join: build an m-bit filter over the selective
    // dim side's keys (one row holding 256 longs), broadcast it, and
    // drop definitely-absent fact rows BEFORE the join. The trailing
    // exact join removes false positives, so the result is identical to
    // the plain join (the oracle) at ANY false-positive rate — the
    // filter only moves work, never changes answers. No driver-side
    // collect: the sketch rides a broadcast of its one-row DataFrame.
    "q108_bloom_join" -> ((s, dir) => {
      import s.implicits._
      val kH = 3; val mBits = 1 << 14
      val bld = Tables.customer(s, dir)
        .filter(col("c_mktsegment") === lit("BUILDING"))
        .select(col("c_custkey"))
      val sketch = bld.select(col("c_custkey").cast("string").as("v")).as[String]
        .select(new graft.operators.BloomAggregator(kH, mBits).toColumn.name("w"))
        .toDF("w")
      // Bloom.bitPos as Column arithmetic (same md5-derived portable hash)
      def bloomPos(i: Int) = pmod(
        conv(substring(md5(concat(lit(s"bloom$i|"), col("o_custkey").cast("string"))), 1, 8),
          16, 10).cast("long"), lit(mBits.toLong))
      val maybe = (0 until kH).map { i =>
        val p = bloomPos(i)
        call_function("shiftleft", lit(1L), (p % 64).cast("int"))
          .bitwiseAND(element_at(col("w"), (p / 64).cast("int") + 1)) =!= lit(0L)
      }.reduce(_ && _)
      Tables.orders(s, dir)
        .crossJoin(broadcast(sketch))
        .where(maybe)
        .join(broadcast(bld), col("o_custkey") === col("c_custkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sumDec(col("o_totalprice")).as("revenue"))
    }),

    // Salted two-stage aggregation: each group splits across 16 salts for
    // the wide partial (so a hot l_partkey spreads over 16 reducers),
    // then 16 partial rows per group combine in a cheap second agg.
    // Decimal sums are associative, so the result is bit-identical to
    // the direct groupBy the oracle runs.
    "q109_salted_agg" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .withColumn("salt", pmod(xxhash64(col("l_orderkey")), lit(16L)))
        .groupBy(col("l_partkey"), col("salt"))
        .agg(count(lit(1)).as("pn"), sum(dec(col("l_extendedprice"))).as("ps"))
        .groupBy(col("l_partkey"))
        .agg(sum(col("pn")).as("n"), sum(col("ps")).cast("decimal(38,2)").as("revenue"))
    }),

    // Per-user z-score anomaly flags: mean/sample-stddev from exact
    // decimal sums (order-independent partials — the q95 discipline),
    // float math once per user on exact operands, events rejoined
    // co-keyed on user_id. Guards (n ≥ 2, sd > 0) keep the division
    // total; |z| > 2.5 flags the outliers.
    "q110_anomaly_zscore" -> ((s, dir) => {
      val v = dec(col("value"))
      val stats = Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"), sum(v).as("sv"), sum(v * v).as("svv"))
      val nD = col("n").cast("double")
      val svD = col("sv").cast("double"); val svvD = col("svv").cast("double")
      val byUser = stats.select(
        col("user_id"), col("n"),
        (svD / nD).as("mean"),
        sqrt((nD * svvD - svD * svD) / (nD * (nD - lit(1.0)))).as("sd"))
      Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("value"))
        .join(byUser, Seq("user_id"))
        .withColumn("z", (col("value") - col("mean")) / col("sd"))
        .filter(col("n") >= 2 && col("sd") > 0 && abs(col("z")) > lit(2.5))
        .select(col("user_id"), col("event_id"), col("value"), col("z"))
    }),

    // Vocabulary coverage / OOV rate: top-30 corpus tokens by frequency
    // (ties broken by token — deterministic), broadcast back over the
    // exploded token stream, per-doc out-of-vocabulary fraction. The
    // tokenizer-coverage estimate run before committing to a vocab.
    "q111_vocab_oov" -> ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), explode(TF.tokens(col("text"))).as("tok"))
      val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("tok").asc)
        .limit(30)
        .select(col("tok"), lit(1).as("in_v"))
      toks.join(broadcast(vocab), Seq("tok"), "left_outer")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("in_v").isNull, lit(1L)).otherwise(lit(0L))).as("n_oov"))
        .withColumn("oov_rate",
          col("n_oov").cast("double") / col("n_tokens").cast("double"))
    }),

    // Stopword stripping: rebuild each document without stopword tokens
    // plus a removed-count — a pure narrow map over the pruned text
    // column (the cleaning transform upstream of tokenization).
    "q112_stopword_strip" -> ((s, dir) => {
      val t = TF.tokens(col("text"))
      val kept = filter(t, x => !x.isin(LlmQueries.stopwords: _*))
      Tables.documents(s, dir).select(
        col("doc_id"),
        array_join(kept, " ").as("cleaned"),
        (size(t) - size(kept)).cast("long").as("n_removed"))
    }),

    // Skew-salted JOIN (q109's companion for the join side): replicate
    // the dim side across 8 salts and spread each hot fact key over
    // matching salted partitions — the standard remedy when ONE join key
    // owns a skewed share of the fact table and a single SMJ partition
    // stalls the stage. Salting only re-routes rows; the join output —
    // and the aggregate over it — is identical to the plain join the
    // oracle runs.
    "q113_salted_join" -> ((s, dir) => {
      val salts = 8
      val fact = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_extendedprice"))
        .withColumn("salt", pmod(xxhash64(col("l_extendedprice")), lit(salts.toLong)))
      val dim = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderpriority"))
        .withColumn("salt", explode(array((0 until salts).map(i => lit(i.toLong)): _*)))
      fact.join(dim, col("l_orderkey") === col("o_orderkey") && fact("salt") === dim("salt"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sumDec(col("l_extendedprice")).as("revenue"))
    }),

    // Deterministic weighted priority sampling: priority
    // H(doc_id) mod p / weight — long docs (weight = n_chars) get small
    // priorities and are kept preferentially; the k lowest priorities
    // win. A pure function of the row (reproducible across runs,
    // engines, partitionings — the q64 discipline, weighted), selected
    // via bounded top-k (TakeOrdered), never a global sort.
    "q114_weighted_sample" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"), col("n_chars"),
          (pmod(TF.portableHash(col("doc_id").cast("string"), 9), lit(1000003L))
            .cast("double") / col("n_chars").cast("double")).as("priority"))
        .orderBy(col("priority"), col("doc_id"))
        .limit(100)
    }),

    // NULL semantics under grouping: SQL groups NULLs together, count(*)
    // counts them, count(col) skips them — the exact semantics a cleaning
    // pipeline relies on when a quality gate NULLs out bad values instead
    // of dropping rows.
    "q119_null_semantics" -> ((s, dir) => {
      Tables.orders(s, dir)
        .withColumn("st",
          when(col("o_orderstatus") === lit("F"), lit(null)).otherwise(col("o_orderstatus")))
        .groupBy(col("st"))
        .agg(count(lit(1)).as("n_rows"), count(col("st")).as("n_nonnull"),
          sumDec(col("o_totalprice")).as("revenue"))
    }),

    // Equi-depth (quantile) binning: exact interpolated quartile
    // boundaries (one aggregate row), broadcast back over the fact scan,
    // each order binned by comparison — the feature-bucketing transform.
    // The corpus never sorts globally; only the 3-number boundary row
    // crosses the broadcast.
    "q120_quantile_bins" -> ((s, dir) => {
      val bounds = Tables.orders(s, dir)
        .agg(expr("percentile(o_totalprice, array(0.25, 0.5, 0.75))").as("qs"))
      Tables.orders(s, dir)
        .crossJoin(broadcast(bounds))
        .select(col("o_totalprice"),
          when(col("o_totalprice") <= element_at(col("qs"), 1), lit(1L))
            .when(col("o_totalprice") <= element_at(col("qs"), 2), lit(2L))
            .when(col("o_totalprice") <= element_at(col("qs"), 3), lit(3L))
            .otherwise(lit(4L)).as("bin"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"),
          min(col("o_totalprice")).as("lo"), max(col("o_totalprice")).as("hi"))
    }),

    // Week-over-week growth per priority: weekly decimal rollup, lag
    // one week-row back, growth in double from exact operands. First
    // weeks (no predecessor) drop — growth is undefined, not zero.
    "q121_wow_growth" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_orderpriority")).orderBy(col("week_ms"))
      Tables.orders(s, dir)
        .groupBy(col("o_orderpriority"),
          unix_millis(date_trunc("week", col("o_orderdate"))).as("week_ms"))
        .agg(sumDecFast(col("o_totalprice")).as("rev"))
        .withColumn("prev", lag(col("rev"), 1).over(w))
        .filter(col("prev").isNotNull)
        .select(col("o_orderpriority"), col("week_ms"), col("rev"),
          ((col("rev").cast("double") - col("prev").cast("double"))
            / col("prev").cast("double")).as("growth"))
    }),

    // Event-type transition matrix (first-order Markov counts): each
    // user's event sequence contributes (type → next type) edges. ONE
    // shuffle on user_id for the lead window, then a small aggregate
    // over the type×type cells — sequence analytics without a self-join.
    "q122_transitions" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
        .withColumn("to_type", lead(col("event_type"), 1).over(w))
        .filter(col("to_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
    }),

    // Token-pair PMI over the top-30 vocabulary: restricting pairs to a
    // bounded vocab caps the per-doc pair fan-out at |V|² regardless of
    // document length — the discipline that keeps co-occurrence mining
    // feasible at corpus scale (unbounded token-pair explosion is the
    // n-gram analogue of the unguarded LSH bucket). Document frequencies
    // are integers; the single ln per surviving pair runs on identical
    // double operands in both engines (the q61 idf discipline).
    "q123_token_pmi" -> ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), explode(array_distinct(TF.tokens(col("text")))).as("tok"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("tok").asc).limit(30)
      val inVocab = toks.join(broadcast(vocab), Seq("tok"))
      val nDocs = Tables.documents(s, dir).count() // one scalar, scan-count only
      val pairs = inVocab.select(col("doc_id"), col("tok").as("tok_a"), col("df").as("df_a"))
        .join(inVocab.select(col("doc_id"), col("tok").as("tok_b"), col("df").as("df_b")),
          Seq("doc_id"))
        .filter(col("tok_a") < col("tok_b"))
        .groupBy(col("tok_a"), col("tok_b"), col("df_a"), col("df_b"))
        .agg(count(lit(1)).as("df_ab"))
        .filter(col("df_ab") >= 5)
      pairs.select(col("tok_a"), col("tok_b"), col("df_ab"),
        // round 6: ln differs between engines in the last ulp (libm vs
        // Math.log are not correctly-rounded); the q61 idf discipline
        round(log((col("df_ab") * lit(nDocs)).cast("double")
          / (col("df_a") * col("df_b")).cast("double")), 6).as("pmi"))
    }),

    // Column profiling: non-null count, exact distinct count, min, max
    // for every numeric measure in ONE scan. The multi-count-distinct
    // plans through Catalyst's expand (4x internal rows for 4 distinct
    // aggregates) — the standard single-pass profiling trade against
    // scanning the table once per column. Output: one row per column.
    "q124_profile" -> ((s, dir) => {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val aggs = cols.flatMap { c =>
        Seq(count(col(c)).as(s"${c}_n"),
          countDistinct(col(c)).as(s"${c}_d"),
          min(col(c)).as(s"${c}_min"),
          max(col(c)).as(s"${c}_max"))
      }
      val one = Tables.lineitem(s, dir).agg(aggs.head, aggs.tail: _*)
      one.select(explode(array(cols.map { c =>
          struct(lit(c).as("column_name"),
            col(s"${c}_n").as("n"),
            col(s"${c}_d").as("n_distinct"),
            col(s"${c}_min").as("min_v"),
            col(s"${c}_max").as("max_v"))
        }: _*)).as("p"))
        .select(col("p.column_name"), col("p.n"), col("p.n_distinct"),
          col("p.min_v"), col("p.max_v"))
    }),

    // Quota sampling: exactly k docs per language, chosen by the
    // portable hash (reproducible anywhere), selected through the
    // bounded TopKAggregator — at most k rows per (partition, group)
    // reach the shuffle, where the row_number formulation the oracle
    // uses would sort-shuffle every row of every group.
    "q125_quota_sample" -> ((s, dir) => {
      import s.implicits._
      val scored = Tables.documents(s, dir)
        .select(col("lang"), col("doc_id"),
          TF.portableHash(col("doc_id").cast("string"), 11).as("h"))
      val topk = scored.as[(String, Long, Long)]
        .groupByKey(_._1)
        // TopKAggregator keeps MAX score with ties to min id; negate the
        // hash to keep the SMALLEST hashes (< 2^32, exact in double)
        .mapValues(r => (r._2, -r._3.toDouble))
        .agg(new TopKAggregator(20, TopKAggregator.ScoreDesc).toColumn.name("top"))
        .toDF("lang", "top")
      topk.select(col("lang"), explode(col("top")).as("t"))
        .select(col("lang"), col("t._1").as("doc_id"))
    }),

    // Null-safe join (<=> / IS NOT DISTINCT FROM): NULL keys match each
    // other where a plain equi-join silently drops them — the semantics
    // that decide whether "unknown" buckets pair up or vanish in a
    // reconciliation join.
    "q126_nullsafe_join" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
        .select(nullif(col("c_nationkey"), lit(3)).as("ck"))
      val n = Tables.nation(s, dir)
        .select(nullif(col("n_nationkey"), lit(3)).as("nk"), col("n_name"))
      c.join(n, col("ck") <=> col("nk"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_matched"))
    }),

    // Snapshot reconciliation (data-diff): classify every key across two
    // table snapshots as added / removed / changed / same and count which
    // columns drifted — the validation op that gates every incremental
    // pipeline load. ONE full-outer shuffle join on the key (both sides
    // partition once on o_orderkey), classification is a narrow map over
    // the joined row; no collect, no second pass. The two snapshots are
    // deterministic arithmetic slices of the same fixture so the oracle
    // reconstructs them bit-for-bit.
    "q127_snapshot_diff" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val snapA = o.filter(col("o_orderkey") % 10 =!= 0)
        .select(col("o_orderkey").as("ka"),
          col("o_totalprice").as("price_a"), col("o_orderstatus").as("st_a"))
      val snapB = o.filter(col("o_orderkey") % 7 =!= 0)
        .select(col("o_orderkey").as("kb"),
          when(col("o_orderkey") % 5 === 0, col("o_totalprice") + lit(1.0d))
            .otherwise(col("o_totalprice")).as("price_b"),
          when(col("o_orderkey") % 11 === 0, lit("X"))
            .otherwise(col("o_orderstatus")).as("st_b"))
      snapA.join(snapB, col("ka") === col("kb"), "full_outer")
        .select(
          when(col("kb").isNull, lit("removed"))
            .when(col("ka").isNull, lit("added"))
            .when(col("price_a") =!= col("price_b")
              || col("st_a") =!= col("st_b"), lit("changed"))
            .otherwise(lit("same")).as("diff_class"),
          when(col("ka").isNotNull && col("kb").isNotNull
            && col("price_a") =!= col("price_b"), 1L).otherwise(0L).as("pc"),
          when(col("ka").isNotNull && col("kb").isNotNull
            && col("st_a") =!= col("st_b"), 1L).otherwise(0L).as("sc"))
        .groupBy(col("diff_class"))
        .agg(count(lit(1)).as("n"),
          sum(col("pc")).as("n_price_changed"),
          sum(col("sc")).as("n_status_changed"))
    }),

    // CDC last-writer-wins compaction: fold a changelog down to the
    // latest surviving row per key, honoring delete tombstones — the
    // merge/upsert shape every incremental table format (Delta/Hudi/
    // Iceberg-style) runs at scale. ONE hash aggregation on the key:
    // max_by carries the whole candidate row keyed by a monotone
    // (day, orderkey) sequence, so there is no ranking window and no
    // per-key sort — partial aggregation reduces each map partition to
    // one candidate per key before the shuffle. Tombstoned keys (latest
    // op = D) are dropped AFTER the fold, exactly the semantics of a
    // compacting merge.
    "q128_cdc_compact" -> ((s, dir) => {
      // o_orderdate is TIMESTAMP_NTZ (unix_millis rejects it); the date
      // cast + datediff day number equals DuckDB's epoch_ms // 86400000
      // for the fixture's post-1970 dates under the UTC session.
      val dayNum = datediff(col("o_orderdate").cast("date"),
        lit("1970-01-01").cast("date")).cast("long")
      val seq = (dayNum * lit(10000000000L) + col("o_orderkey")).as("seq")
      val ch = Tables.orders(s, dir).select(
        col("o_custkey").as("cust"),
        when(col("o_orderkey") % 13 === 0, lit("D")).otherwise(lit("U")).as("op"),
        col("o_orderkey"), col("o_totalprice"), dayNum.as("day"), seq)
      ch.groupBy(col("cust"))
        .agg(max_by(
          struct(col("op"), col("o_orderkey"), col("o_totalprice"), col("day")),
          col("seq")).as("last"))
        .filter(col("last.op") =!= "D")
        .select(col("cust"), col("last.o_orderkey").as("last_key"),
          col("last.o_totalprice").as("last_price"), col("last.day").as("last_day"))
    }),

    // PSI drift detector (population stability index): distribution shift
    // of a feature between a reference and a current corpus slice — the
    // train/serve-skew monitor a production pipeline runs per feature.
    // All binning is integer math on exact cents over broadcast global
    // extremes (both engines bin identically); each bin's PSI term
    // (p−q)·ln(p/q) with +1 Laplace smoothing is computed on identical
    // integer operands and floored to the 1e-9 grid (q133 discipline), so
    // the output is partition-order-independent bit-for-bit. Scale: two
    // tiny broadcast aggregates + one (slice, bin) hash agg over the scan.
    "q143_psi_drift" -> ((s, dir) => {
      val cut = lit("1995-01-01").cast("timestamp_ntz")
      val rows = Tables.lineitem(s, dir).select(
        round(col("l_extendedprice") * 100).cast("long").as("cents"),
        (col("l_shipdate") >= cut).as("cur"))
      val ext = rows.agg(min(col("cents")).as("lo"), max(col("cents")).as("hi"))
      val binned = rows.crossJoin(broadcast(ext))
        .select(col("cur"), least(lit(9L),
          expr("(cents - lo) * 10 div (hi - lo + 1)")).as("bin"))
      val counts = binned.groupBy(col("bin"))
        .agg(sum(when(!col("cur"), 1L).otherwise(0L)).as("n_ref"),
             sum(when(col("cur"), 1L).otherwise(0L)).as("n_cur"))
      val totals = counts.agg(sum(col("n_ref")).as("tr"), sum(col("n_cur")).as("tc"))
      counts.crossJoin(broadcast(totals))
        .select(col("bin"), col("n_ref"), col("n_cur"),
          (floor(
            ((col("n_ref") + 1).cast("double") / (col("tr") + 10).cast("double")
              - (col("n_cur") + 1).cast("double") / (col("tc") + 10).cast("double"))
            * log(((col("n_ref") + 1).cast("double") * (col("tc") + 10).cast("double"))
              / ((col("n_cur") + 1).cast("double") * (col("tr") + 10).cast("double")))
            * lit(1e9)).cast("long").cast("double") / lit(1e9)).as("term"))
    }),

    // MERGE INTO (conditional upsert-apply): one full-outer pass applies
    // a keyed delta (updates, inserts, delete tombstones) to a base
    // snapshot — the nightly-apply half of the incremental-table
    // lifecycle where q128's compaction is the intra-batch half. The
    // audit classes (kept/updated/inserted/deleted) come from the SAME
    // pass that produced the rows (operators/MergeInto.scala). Base and
    // delta derive deterministically from orders by key residue.
    "q141_merge_upsert" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val m = pmod(col("o_orderkey"), lit(7))
      val base = o.filter(m =!= 3)
      val delta = o.filter(m.isin(3, 5, 6))
        .withColumn("_op",
          when(m === 3, lit("I")).when(m === 5, lit("U")).otherwise(lit("D")))
        .withColumn("o_totalprice",
          when(col("_op") === "U", col("o_totalprice") + lit(100.0))
            .otherwise(col("o_totalprice")))
      graft.operators.MergeInto(base, delta, Seq("o_orderkey"), "_op")
        .groupBy(col("_class"))
        .agg(count(lit(1)).as("n"), sumDec(col("o_totalprice")).as("revenue"))
    }),

    // Per-group min-max normalization (feature scaling): exact integer
    // extremes per language, one narrow map for the scale — grouped
    // stats rejoined co-keyed, the q110 shape with a different formula.
    "q115_minmax_normalize" -> ((s, dir) => {
      val ext = Tables.documents(s, dir)
        .groupBy(col("lang"))
        .agg(min(col("n_chars")).as("lo"), max(col("n_chars")).as("hi"))
      Tables.documents(s, dir)
        .join(ext, Seq("lang"))
        .filter(col("hi") > col("lo"))
        .select(col("doc_id"), col("lang"),
          ((col("n_chars") - col("lo")).cast("double")
            / (col("hi") - col("lo")).cast("double")).as("scaled"))
    }))

  val oracles: Map[String, String] = Map(
    "q107_sessionize" ->
      """WITH e AS (
           SELECT user_id, event_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS newb
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         SELECT user_id, event_id,
           CAST(sum(newb) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
         FROM e""",
    "q108_bloom_join" ->
      """SELECT o_orderpriority, count(*) AS n,
         CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DECIMAL(38,2)) AS revenue
         FROM orders JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'
         GROUP BY 1""",
    "q109_salted_agg" ->
      """SELECT l_partkey, count(*) AS n,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))) AS DECIMAL(38,2)) AS revenue
         FROM lineitem GROUP BY 1""",
    "q110_anomaly_zscore" ->
      """WITH st AS (
           SELECT user_id, count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS sv,
             CAST(sum(CAST(value AS DECIMAL(14,2))
                    * CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS svv
           FROM events GROUP BY 1),
         byu AS (
           SELECT user_id, n, sv / n AS mean,
             sqrt((n * svv - sv * sv) / (n * (n - 1.0))) AS sd
           FROM st)
         SELECT e.user_id, e.event_id, e.value,
           (e.value - byu.mean) / byu.sd AS z
         FROM events e JOIN byu USING (user_id)
         WHERE byu.n >= 2 AND byu.sd > 0
           AND abs((e.value - byu.mean) / byu.sd) > 2.5""",
    "q111_vocab_oov" -> {
      val tokCte = LlmQueries.tkCte
      s"""WITH $tokCte,
         tok AS (SELECT doc_id, unnest(t) AS tok FROM tk),
         vc AS (SELECT tok FROM (
             SELECT tok, count(*) AS c FROM tok GROUP BY 1
             ORDER BY c DESC, tok LIMIT 30))
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN tok IN (SELECT tok FROM vc) THEN 0 ELSE 1 END)
             AS BIGINT) AS n_oov,
           CAST(sum(CASE WHEN tok IN (SELECT tok FROM vc) THEN 0 ELSE 1 END)
             AS DOUBLE) / CAST(count(*) AS DOUBLE) AS oov_rate
         FROM tok GROUP BY doc_id"""
    },
    "q112_stopword_strip" -> {
      val tokCte = LlmQueries.tkCte
      val keep = s"list_filter(t, x -> NOT list_contains(${LlmQueries.stopListSql}, x))"
      s"""WITH $tokCte
         SELECT doc_id, array_to_string($keep, ' ') AS cleaned,
           CAST(len(t) - len($keep) AS BIGINT) AS n_removed
         FROM tk"""
    },
    "q113_salted_join" ->
      """SELECT o_orderpriority, count(*) AS n,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))) AS DECIMAL(38,2)) AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY 1""",
    "q114_weighted_sample" ->
      """SELECT doc_id, n_chars,
         CAST(CAST(concat('0x', substr(md5(concat('9|', CAST(doc_id AS VARCHAR))), 1, 8))
           AS BIGINT) % 1000003 AS DOUBLE) / CAST(n_chars AS DOUBLE) AS priority
         FROM documents
         ORDER BY priority, doc_id LIMIT 100""",
    "q119_null_semantics" ->
      """WITH t AS (
           SELECT CASE WHEN o_orderstatus = 'F' THEN NULL
                       ELSE o_orderstatus END AS st, o_totalprice
           FROM orders)
         SELECT st, count(*) AS n_rows, count(st) AS n_nonnull,
           CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DECIMAL(38,2)) AS revenue
         FROM t GROUP BY st""",
    "q120_quantile_bins" ->
      """WITH b AS (
           SELECT quantile_cont(o_totalprice, [0.25, 0.5, 0.75]) AS qs
           FROM orders)
         SELECT CAST(CASE WHEN o_totalprice <= qs[1] THEN 1
                          WHEN o_totalprice <= qs[2] THEN 2
                          WHEN o_totalprice <= qs[3] THEN 3
                          ELSE 4 END AS BIGINT) AS bin,
           count(*) AS n, min(o_totalprice) AS lo, max(o_totalprice) AS hi
         FROM orders, b GROUP BY 1""",
    "q121_wow_growth" ->
      """WITH wk AS (
           SELECT o_orderpriority,
             epoch_ms(date_trunc('week', o_orderdate)) AS week_ms,
             CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DECIMAL(38,2)) AS rev
           FROM orders GROUP BY 1, 2),
         lg AS (
           SELECT o_orderpriority, week_ms, rev,
             lag(rev) OVER (PARTITION BY o_orderpriority ORDER BY week_ms) AS prev
           FROM wk)
         SELECT o_orderpriority, week_ms, rev,
           (CAST(rev AS DOUBLE) - CAST(prev AS DOUBLE)) / CAST(prev AS DOUBLE) AS growth
         FROM lg WHERE prev IS NOT NULL""",
    "q122_transitions" ->
      """WITH seq AS (
           SELECT event_type AS from_type,
             lead(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS to_type
           FROM events)
         SELECT from_type, to_type, count(*) AS n
         FROM seq WHERE to_type IS NOT NULL
         GROUP BY 1, 2""",
    "q123_token_pmi" -> {
      val tokCte = LlmQueries.tkCte
      s"""WITH $tokCte,
         tke AS (SELECT DISTINCT doc_id, unnest(t) AS tok FROM tk),
         vocab AS (SELECT tok, df FROM (
             SELECT tok, count(*) AS df FROM tke GROUP BY 1
             ORDER BY df DESC, tok LIMIT 30)),
         iv AS (SELECT doc_id, tok, df FROM tke JOIN vocab USING (tok)),
         pairs AS (
           SELECT a.tok AS tok_a, b.tok AS tok_b, a.df AS df_a, b.df AS df_b,
             count(*) AS df_ab
           FROM iv a JOIN iv b ON a.doc_id = b.doc_id AND a.tok < b.tok
           GROUP BY 1, 2, 3, 4
           HAVING count(*) >= 5),
         n AS (SELECT count(*) AS n_docs FROM documents)
         SELECT tok_a, tok_b, df_ab,
           round(ln(CAST(df_ab * n_docs AS DOUBLE) / CAST(df_a * df_b AS DOUBLE)), 6) AS pmi
         FROM pairs, n"""
    },
    "q124_profile" -> {
      def one(c: String) =
        s"""SELECT '$c' AS column_name, count($c) AS n,
           CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
           min($c) AS min_v, max($c) AS max_v FROM lineitem"""
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        .map(one).mkString(" UNION ALL ")
    },
    "q125_quota_sample" ->
      """WITH h AS (
           SELECT lang, doc_id,
             CAST(concat('0x', substr(md5(concat('11|', CAST(doc_id AS VARCHAR))), 1, 8))
               AS BIGINT) AS hv
           FROM documents),
         r AS (
           SELECT lang, doc_id,
             row_number() OVER (PARTITION BY lang ORDER BY hv, doc_id) AS rn
           FROM h)
         SELECT lang, doc_id FROM r WHERE rn <= 20""",
    "q126_nullsafe_join" ->
      """SELECT n_name, count(*) AS n_matched
         FROM (SELECT nullif(c_nationkey, 3) AS ck FROM customer) c
         JOIN (SELECT nullif(n_nationkey, 3) AS nk, n_name FROM nation) n
           ON c.ck IS NOT DISTINCT FROM n.nk
         GROUP BY 1""",
    "q127_snapshot_diff" ->
      """WITH a AS (
           SELECT o_orderkey AS ka, o_totalprice AS price_a,
             o_orderstatus AS st_a
           FROM orders WHERE o_orderkey % 10 <> 0),
         b AS (
           SELECT o_orderkey AS kb,
             CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1.0
                  ELSE o_totalprice END AS price_b,
             CASE WHEN o_orderkey % 11 = 0 THEN 'X'
                  ELSE o_orderstatus END AS st_b
           FROM orders WHERE o_orderkey % 7 <> 0),
         j AS (
           SELECT CASE WHEN kb IS NULL THEN 'removed'
                       WHEN ka IS NULL THEN 'added'
                       WHEN price_a <> price_b OR st_a <> st_b THEN 'changed'
                       ELSE 'same' END AS diff_class,
             CASE WHEN ka IS NOT NULL AND kb IS NOT NULL
                   AND price_a <> price_b THEN 1 ELSE 0 END AS pc,
             CASE WHEN ka IS NOT NULL AND kb IS NOT NULL
                   AND st_a <> st_b THEN 1 ELSE 0 END AS sc
           FROM a FULL OUTER JOIN b ON ka = kb)
         SELECT diff_class, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(pc) AS BIGINT) AS n_price_changed,
           CAST(sum(sc) AS BIGINT) AS n_status_changed
         FROM j GROUP BY 1""",
    "q128_cdc_compact" ->
      """WITH ch AS (
           SELECT o_custkey AS cust,
             CASE WHEN o_orderkey % 13 = 0 THEN 'D' ELSE 'U' END AS op,
             o_orderkey, o_totalprice,
             epoch_ms(o_orderdate) // 86400000 AS day,
             (epoch_ms(o_orderdate) // 86400000) * 10000000000
               + o_orderkey AS seq
           FROM orders),
         r AS (
           SELECT cust, op, o_orderkey, o_totalprice, day,
             row_number() OVER (PARTITION BY cust ORDER BY seq DESC) AS rn
           FROM ch)
         SELECT cust, o_orderkey AS last_key, o_totalprice AS last_price,
           CAST(day AS BIGINT) AS last_day
         FROM r WHERE rn = 1 AND op <> 'D'""",
    "q115_minmax_normalize" ->
      """WITH ext AS (
           SELECT lang, min(n_chars) AS lo, max(n_chars) AS hi
           FROM documents GROUP BY 1)
         SELECT doc_id, d.lang,
           CAST(n_chars - lo AS DOUBLE) / CAST(hi - lo AS DOUBLE) AS scaled
         FROM documents d JOIN ext USING (lang)
         WHERE hi > lo""",
    "q143_psi_drift" ->
      """WITH rows_ AS (SELECT
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
             l_shipdate >= TIMESTAMP '1995-01-01' AS cur
           FROM lineitem),
         ext AS (SELECT min(cents) AS lo, max(cents) AS hi FROM rows_),
         binned AS (SELECT cur,
             least(9, (cents - lo) * 10 // (hi - lo + 1)) AS bin
           FROM rows_, ext),
         counts AS (SELECT bin,
             CAST(sum(CASE WHEN NOT cur THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
             CAST(sum(CASE WHEN cur THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
           FROM binned GROUP BY 1),
         totals AS (SELECT sum(n_ref) AS tr, sum(n_cur) AS tc FROM counts)
         SELECT bin, n_ref, n_cur,
           CAST(CAST(floor(
             (CAST(n_ref + 1 AS DOUBLE) / CAST(tr + 10 AS DOUBLE)
               - CAST(n_cur + 1 AS DOUBLE) / CAST(tc + 10 AS DOUBLE))
             * ln((CAST(n_ref + 1 AS DOUBLE) * CAST(tc + 10 AS DOUBLE))
               / (CAST(n_cur + 1 AS DOUBLE) * CAST(tr + 10 AS DOUBLE)))
             * 1e9) AS BIGINT) AS DOUBLE) / 1e9 AS term
         FROM counts, totals""",
    "q141_merge_upsert" ->
      """WITH base AS (SELECT * FROM orders WHERE o_orderkey % 7 <> 3),
         delta AS (SELECT o_orderkey,
             CASE WHEN o_orderkey % 7 = 3 THEN 'I'
                  WHEN o_orderkey % 7 = 5 THEN 'U' ELSE 'D' END AS op,
             CASE WHEN o_orderkey % 7 = 5 THEN o_totalprice + 100.0
                  ELSE o_totalprice END AS price
           FROM orders WHERE o_orderkey % 7 IN (3, 5, 6)),
         j AS (SELECT b.o_orderkey AS bk, d.op,
               b.o_totalprice AS bp, d.price AS dp
           FROM base b FULL JOIN delta d ON b.o_orderkey = d.o_orderkey),
         c AS (SELECT
             CASE WHEN op = 'D' THEN
                    CASE WHEN bk IS NOT NULL THEN 'deleted' ELSE 'noop' END
                  WHEN op IS NOT NULL AND bk IS NOT NULL THEN 'updated'
                  WHEN op IS NOT NULL THEN 'inserted'
                  ELSE 'kept' END AS _class,
             CASE WHEN op IS NOT NULL AND op <> 'D' THEN dp ELSE bp END AS price
           FROM j)
         SELECT _class, CAST(count(*) AS BIGINT) AS n,
           sum(CAST(price AS DECIMAL(14,2))) AS revenue
         FROM c WHERE _class <> 'noop' GROUP BY 1""")
}
