package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.TopKAggregator
import graft.llm.TextFunctions

/** Round-7 widening: corpus-evaluation statistics a training-data team
  * runs before shipping a dataset — per-group quota sampling, vocabulary
  * coverage / OOV screening, inter-labeler agreement (Cohen's κ), and
  * the two classical nonparametric two-sample tests (Mann–Whitney U,
  * Kolmogorov–Smirnov). Every query carries a DuckDB oracle.
  *
  * Scale notes (100 TB posture):
  *  - q194 ranks inside the bounded TopKAggregator (k rows per partial
  *    aggregate, never a per-group sort window); priorities are content
  *    hashes, so the sample is deterministic and corpus-layout-free.
  *  - q195's vocabulary is a TakeOrdered k-cut (bounded), broadcast back
  *    over the token stream; the corpus tokenizes in one narrow pass.
  *  - q196/q197/q198 collapse the corpus with ONE hash aggregate onto a
  *    label-pair / value-domain table (9 cells; ≤50 quantity values),
  *    and every window/fold after that runs on the bounded aggregate —
  *    the q138 pattern. Test statistics are assembled from exact integer
  *    counts; floats appear once per output value with the identical op
  *    order on both engines.
  */
object StatsQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Per-source quota sampling (cap-k per group by deterministic
    // content-hash priority): the dedup-adjacent curation op that keeps
    // any one source from dominating a training mix. Priorities are
    // portableHash(doc_id), so the kept set is a pure function of the
    // data; ranking runs through the bounded TopKAggregator — k rows per
    // partial aggregate, never a per-group sort window. (The hash is
    // < 2^32, so its negation is exact in the aggregator's double score.)
    "q194_quota_sample" -> ((s, dir) => {
      import s.implicits._
      val k = 50
      val prio = TextFunctions.portableHash(col("doc_id").cast("string"), 11)
      val topk = new TopKAggregator(k, TopKAggregator.ScoreDesc).toColumn
      graft.core.Tables.documents(s, dir)
        .select(col("source"), col("doc_id"), prio.as("prio"))
        .as[(String, Long, Long)]
        .groupByKey(_._1)
        .mapValues { case (_, id, p) => (id, -p.toDouble) }
        .agg(topk.name("top"))
        .flatMap { case (source, top) =>
          top.iterator.zipWithIndex.map { case ((id, negP), i) =>
            (source, id, (-negP).toLong, (i + 1).toLong)
          }
        }
        .toDF("source", "doc_id", "prio", "rnk")
    }),

    // Vocabulary coverage / OOV-rate screen: the top-500 corpus
    // vocabulary (count desc, token asc — a deterministic TakeOrdered
    // k-cut, no ranking window), broadcast over the token stream, then
    // one per-document aggregate. The tokenizer-budget question every
    // corpus card answers: how much of each document a fixed vocabulary
    // covers.
    "q195_vocab_coverage" -> ((s, dir) => {
      val toks = graft.core.Tables.documents(s, dir)
        .select(col("doc_id"),
          explode(TextFunctions.tokens(col("text"))).as("tok"))
      val vocab = toks.groupBy(col("tok"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("tok").asc)
        .limit(500)
        .select(col("tok"), lit(1L).as("iv"))
      toks.join(broadcast(vocab), Seq("tok"), "left_outer")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          coalesce(sum(col("iv")), lit(0L)).as("n_iv"))
        .select(col("doc_id"), col("n_tokens"),
          (col("n_tokens") - col("n_iv")).as("n_oov"),
          ((col("n_tokens") - col("n_iv")).cast("double") / col("n_tokens"))
            .as("oov_rate"))
    }),

    // Cohen's kappa between two categorical labelings of orders (status
    // vs a price-derived pseudo-label over the same {F,O,P} space) — the
    // inter-annotator agreement statistic of labeling pipelines. ONE
    // corpus scan builds the 9-cell confusion matrix (persisted — tiny —
    // so margins/diagonal/total all read the cells, not the corpus;
    // released by the harness clearCache contract, see q153); po/pe/κ
    // are assembled from exact integer counts with float ops in the
    // identical order on both engines.
    "q196_cohen_kappa" -> ((s, dir) => {
      val cm = graft.core.Tables.orders(s, dir)
        .select(col("o_orderstatus").as("ra"),
          when(col("o_totalprice") < 75000.0, "F")
            .when(col("o_totalprice") < 150000.0, "O")
            .otherwise("P").as("rb"))
        .groupBy(col("ra"), col("rb"))
        .agg(count(lit(1)).as("c"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val tot = cm.agg(sum(col("c")).as("n"),
        sum(when(col("ra") === col("rb"), col("c")).otherwise(0L)).as("diag"))
      val pe = cm.groupBy(col("ra")).agg(sum(col("c")).as("rm"))
        .join(cm.groupBy(col("rb")).agg(sum(col("c")).as("cmr")),
          col("ra") === col("rb"))
        .agg(sum(col("rm") * col("cmr")).as("pe_num"))
      val po = col("diag").cast("double") / col("n")
      val peD = col("pe_num").cast("double") /
        (col("n").cast("double") * col("n").cast("double"))
      tot.crossJoin(pe)
        .select(col("n").cast("long").as("n"),
          po.as("po"), peD.as("pe"),
          ((po - peD) / (lit(1.0) - peD)).as("kappa"))
    }),

    // Mann–Whitney U (Wilcoxon rank-sum) between returned (R) and
    // accepted (A) lineitems over quantity — the heavy-ties stress case
    // (50 discrete values). The corpus collapses to per-value group
    // counts in one hash aggregate; tie-averaged rank sums come from a
    // window over that ≤50-row value-domain table (PlanSpec-whitelisted
    // with that bound) in DOUBLED integer units (2·avgrank = 2·prevcum +
    // t + 1), so W, U and the tie correction are exact integers; the
    // z-score's float ops run once, identically on both engines.
    "q197_mannwhitney" -> ((s, dir) => {
      val byV = graft.core.Tables.lineitem(s, dir)
        .filter(col("l_returnflag").isin("R", "A"))
        .groupBy(col("l_quantity").cast("long").as("v"))
        .agg(sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("nr"),
          sum(when(col("l_returnflag") === "A", 1L).otherwise(0L)).as("na"))
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("v"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val ranked = byV
        .withColumn("t", col("nr") + col("na"))
        .withColumn("prevcum", coalesce(sum(col("t")).over(w), lit(0L)))
        .withColumn("avg2", lit(2L) * col("prevcum") + col("t") + lit(1L))
      val agg = ranked.agg(
        sum(col("nr")).as("n_r"), sum(col("na")).as("n_a"),
        sum(col("nr") * col("avg2")).as("w2r"),
        sum(col("t") * col("t") * col("t") - col("t")).as("ties"))
      val nR = col("n_r").cast("double")
      val nA = col("n_a").cast("double")
      val nT = nR + nA
      val u2 = col("w2r") - col("n_r") * (col("n_r") + lit(1L)) // 2·U_R
      val varU = (nR * nA / lit(12.0)) *
        ((nT + lit(1.0)) - col("ties").cast("double") / (nT * (nT - lit(1.0))))
      agg.select(col("n_r"), col("n_a"), u2.as("u2_r"),
        (((u2.cast("double") - nR * nA) / lit(2.0)) / sqrt(varU)).as("z"))
    }),

    // Two-sample Kolmogorov–Smirnov over the same R-vs-A quantity
    // split: D = sup |F_R − F_A| evaluated at every present value of
    // either sample. Same one-aggregate collapse onto the ≤50-row value
    // domain; the two CDFs are inclusive cumulative counts from one
    // whitelisted window; each |ΔF| is two divisions and a subtraction
    // on exact counts (identical op order both engines) and D is their
    // order-independent max. The α=0.05 threshold uses the standard
    // c(α)=1.358 large-sample constant.
    "q198_ks_test" -> ((s, dir) => {
      val byV = graft.core.Tables.lineitem(s, dir)
        .filter(col("l_returnflag").isin("R", "A"))
        .groupBy(col("l_quantity").cast("long").as("v"))
        .agg(sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("nr"),
          sum(when(col("l_returnflag") === "A", 1L).otherwise(0L)).as("na"))
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("v"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val cum = byV
        .withColumn("cr", sum(col("nr")).over(w))
        .withColumn("ca", sum(col("na")).over(w))
      val tot = cum.agg(sum(col("nr")).as("n_r"), sum(col("na")).as("n_a"))
      val d = cum.crossJoin(broadcast(tot))
        .select(col("n_r"), col("n_a"),
          abs(col("cr").cast("double") / col("n_r") -
            col("ca").cast("double") / col("n_a")).as("delta"))
        .groupBy(col("n_r"), col("n_a"))
        .agg(max(col("delta")).as("d_stat"))
      val nR = col("n_r").cast("double")
      val nA = col("n_a").cast("double")
      val crit = lit(1.358) * sqrt((nR + nA) / (nR * nA))
      d.select(col("n_r"), col("n_a"), col("d_stat"), crit.as("crit_05"),
        (col("d_stat") > crit).cast("int").as("reject_05"))
    }),

    // Per-document n-gram novelty — the memorization/contamination
    // screen that asks how much of each document is text the corpus has
    // already seen: a 3-gram shingle is NOVEL iff this doc_id is its
    // corpus-wide first occurrence (min doc_id). One shingle explode
    // (the native ShinglesExpr scan), one hash aggregate for
    // first-occurrence attribution, one keyed join back — all bounded by
    // shingle volume, the same budget the MinHash family already pays.
    "q202_ngram_novelty" -> ((s, dir) => {
      val sh = graft.core.Tables.documents(s, dir)
        .select(col("doc_id"),
          explode(graft.llm.Dedup.shinglesText(col("text"), 3)).as("sh"))
      val first = sh.groupBy(col("sh")).agg(min(col("doc_id")).as("first_id"))
      sh.join(first, Seq("sh"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("first_id") === col("doc_id"), 1L).otherwise(0L))
            .as("n_novel"))
        .select(col("doc_id"), col("n_shingles"), col("n_novel"),
          (col("n_novel").cast("double") / col("n_shingles")).as("novelty"))
    }),

    // Exact-quota stratified split: per (lang, source) stratum, the
    // ceil(0.8·n) lowest content-hash priorities go to train — unlike
    // q85's hash-threshold split (proportions only in expectation), the
    // quota is EXACT per stratum, the property leakage-audited evals
    // need. Ranking windows partition by stratum (in-partition sorts
    // only); stratum sizes ride a partitioned count window.
    "q203_stratified_split" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val prio = TextFunctions.portableHash(col("doc_id").cast("string"), 17)
      val w = Window.partitionBy(col("lang"), col("source"))
        .orderBy(col("prio"), col("doc_id"))
      val sized = Window.partitionBy(col("lang"), col("source"))
      graft.core.Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("source"), prio.as("prio"))
        .withColumn("rn", row_number().over(w))
        .withColumn("nstr", count(lit(1)).over(sized))
        // quota in EXACT integer arithmetic: ceil(0.8·n) = (8n+9) div 10.
        // (A double 0.8·n sits a hair ABOVE the exact product for n
        // divisible by 5 — 0.8 is not a binary fraction — while DuckDB's
        // DECIMAL 0.8 is exact, so a float ceil would disagree right at
        // the quota boundary.)
        .withColumn("is_train",
          col("rn") <= expr("(nstr * 8 + 9) DIV 10"))
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n"),
          sum(col("is_train").cast("long")).as("n_train"))
        .select(col("lang"), col("source"), col("n"), col("n_train"),
          (col("n") - col("n_train")).as("n_val"),
          (col("n_train").cast("double") / col("n")).as("train_frac"))
    }),

    // Daily-revenue autocorrelation (lags 1 and 7) — the seasonality
    // screen behind q179's decomposition: is there actually weekly
    // structure to decompose? The corpus collapses to the bounded daily
    // exact-cent series; row-lag pairs come from ONE whitelisted window
    // over that table; all five moment sums accumulate in exact
    // decimal(38,0) (order-independent), and Pearson r over each lag's
    // pairs is assembled from those exact integers in one identical
    // float expression per output row.
    "q205_revenue_acf" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val daily = graft.core.Tables.orders(s, dir)
        .groupBy(expr("datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01')")
          .cast("long").as("day"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
      val w = Window.orderBy(col("day"))
      val pairs = daily
        .withColumn("x1", lag(col("cents"), 1).over(w))
        .withColumn("x7", lag(col("cents"), 7).over(w))
        .select(expr("stack(2, CAST(1 AS BIGINT), cents, x1, " +
          "CAST(7 AS BIGINT), cents, x7) AS (lag_k, y, x)"))
        .filter(col("x").isNotNull)
      def d19(c: org.apache.spark.sql.Column) = c.cast("decimal(19,0)")
      val ag = pairs.groupBy(col("lag_k"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(d19(col("x"))).cast("decimal(38,0)").as("sx"),
          sum(d19(col("y"))).cast("decimal(38,0)").as("sy"),
          sum(d19(col("x")) * d19(col("y"))).cast("decimal(38,0)").as("sxy"),
          sum(d19(col("x")) * d19(col("x"))).cast("decimal(38,0)").as("sxx"),
          sum(d19(col("y")) * d19(col("y"))).cast("decimal(38,0)").as("syy"))
      val nD = col("n_pairs").cast("double")
      def dd(n: String) = col(n).cast("double")
      ag.select(col("lag_k"), col("n_pairs"),
        ((nD * dd("sxy") - dd("sx") * dd("sy")) /
          sqrt((nD * dd("sxx") - dd("sx") * dd("sx")) *
            (nD * dd("syy") - dd("sy") * dd("sy")))).as("acf"))
    }),

    // Zipf-law fit over the top-100 token frequencies: OLS slope of
    // ln(freq) on ln(rank) — the corpus-naturalness screen (natural text
    // sits near −1; templated/synthetic corpora don't). The vocabulary
    // is a TakeOrdered k-cut; the rank window runs over that 100-row
    // table (whitelisted, bound stated); every log TERM is quantized to
    // the 1e-9 grid on identical integer operands before summation (the
    // q133 discipline), so the moment sums are exact longs and the
    // slope/intercept assembly is one identical float expression.
    "q201_zipf_slope" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val top = graft.core.Tables.documents(s, dir)
        .select(explode(TextFunctions.tokens(col("text"))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("tok").asc)
        .limit(100)
      val w = Window.orderBy(col("cnt").desc, col("tok").asc)
      val x = log(col("rank").cast("double"))
      val y = log(col("cnt").cast("double"))
      val g = (c: org.apache.spark.sql.Column) =>
        floor(c * lit(1e9)).cast("long")
      val ag = top.withColumn("rank", row_number().over(w))
        .select(g(x).as("xg"), g(y).as("yg"), g(x * y).as("xyg"),
          g(x * x).as("xxg"))
        .agg(count(lit(1)).as("n"), sum(col("xg")).as("sx"),
          sum(col("yg")).as("sy"), sum(col("xyg")).as("sxy"),
          sum(col("xxg")).as("sxx"))
      val nD = col("n").cast("double")
      def de(n: String) = col(n).cast("double") / lit(1e9)
      val slope = (nD * de("sxy") - de("sx") * de("sy")) /
        (nD * de("sxx") - de("sx") * de("sx"))
      ag.select(col("n"), slope.as("slope"),
        ((de("sy") - slope * de("sx")) / nD).as("intercept"))
    }),

    // Per-type burstiness (Fano factor of hourly event counts): var/mean
    // of the per-hour arrival counts — ≈1 for Poisson traffic, ≫1 for
    // bursty types. Two hash aggregates (corpus → hourly counts → type
    // moments); the dispersion assembles from exact integer count sums
    // (population variance via n·Σc² − (Σc)²) with float ops once per
    // output row.
    "q206_fano_burstiness" -> ((s, dir) => {
      val hourly = graft.core.Tables.events(s, dir)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("c"))
      val ag = hourly.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_hours"), sum(col("c")).as("sc"),
          sum(col("c") * col("c")).as("scc"))
      val nD = col("n_hours").cast("double")
      val scD = col("sc").cast("double")
      val sccD = col("scc").cast("double")
      ag.select(col("event_type"), col("n_hours"),
        (scD / nD).as("mean_per_hour"),
        ((nD * sccD - scD * scD) / (nD * scD)).as("fano"))
    }),

    // Wilson 95% confidence interval for per-type success proportions
    // (value > 100 as the success event) — the interval the SRM/Welch
    // experiment family (q190/q171) quotes per cell; unlike the normal
    // approximation it behaves at small n and extreme p. Exact integer
    // (n, s) from one aggregate; the interval is one fixed-order float
    // expression per row on both engines.
    "q207_wilson_ci" -> ((s, dir) => {
      val ag = graft.core.Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("value") > 100.0, 1L).otherwise(0L)).as("s"))
      val nD = col("n").cast("double")
      val p = col("s").cast("double") / nD
      val z2 = lit(1.96 * 1.96)
      val denom = lit(1.0) + z2 / nD
      val center = (p + z2 / (lit(2.0) * nD)) / denom
      val half = (lit(1.96) * sqrt(p * (lit(1.0) - p) / nD +
        z2 / (lit(4.0) * nD * nD))) / denom
      ag.select(col("event_type"), col("n"), col("s"), p.as("p"),
        (center - half).as("lo_95"), (center + half).as("hi_95"))
    }),

    // Time-decayed popularity (feature-store freshness score): each
    // order contributes 2^-(age/30d) to its parts. The decay bucket is
    // integral (k = age div 30), so the weight 2^-k is a DYADIC rational
    // and the whole score accumulates as exact integers — floor(1e9/2^k)
    // is plain integer division, no libm call anywhere, so there is no
    // pow/exp last-ulp surface between engines at all. One co-keyed
    // join + one hash aggregate + a TakeOrdered top-100.
    "q208_decayed_popularity" -> ((s, dir) => {
      val li = graft.core.Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_partkey"))
      val ord = graft.core.Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderdate"))
      val maxd = ord.agg(max(col("o_orderdate")).as("maxd"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .crossJoin(broadcast(maxd))
        .withColumn("k",
          expr("CAST(datediff(CAST(maxd AS DATE), CAST(o_orderdate AS DATE)) AS LONG) div 30"))
        .withColumn("wg", when(col("k") <= 30,
          expr("1000000000L div shiftleft(1L, CAST(k AS INT))"))
          .otherwise(lit(0L)))
        .groupBy(col("l_partkey"))
        .agg(count(lit(1)).as("n_lines"), sum(col("wg")).as("swg"))
        .select(col("l_partkey"), col("n_lines"),
          (col("swg").cast("double") / lit(1e9)).as("score"))
        .orderBy(col("score").desc, col("l_partkey").asc)
        .limit(100)
    }),

    // Effective sample size of the quantity-weighted lineitem mix per
    // return flag: ESS = (Σw)²/Σw² — how many EQUAL-weight examples the
    // weighted set is worth, the standard check before weighted training
    // or importance-sampled eval. Exact integer weight sums from one
    // aggregate; squares in double (identical order) since (Σw)²
    // overflows int64 at large SF.
    "q209_effective_sample_size" -> ((s, dir) => {
      val ag = graft.core.Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("long")).as("sw"),
          sum(col("l_quantity").cast("long") * col("l_quantity").cast("long"))
            .as("sww"))
      val swD = col("sw").cast("double")
      val ess = (swD * swD) / col("sww").cast("double")
      ag.select(col("l_returnflag"), col("n"), col("sw"),
        ess.as("ess"), (ess / col("n").cast("double")).as("ess_ratio"))
    }),

    // Tokenizer fertility per language — the budget number a tokenizer
    // swap changes: subword-proxy units (alpha runs + digit runs +
    // punctuation chars, all RE2-portable patterns) per whitespace word,
    // reported as the corpus-level ratio from EXACT integer totals (one
    // division per language; no per-doc float means to accumulate).
    "q212_tokenizer_fertility" -> ((s, dir) => {
      val low = lower(col("text"))
      val words = size(TextFunctions.tokens(col("text"))).cast("long")
      val alphaRuns = size(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).cast("long")
      val digitRuns = size(expr("regexp_extract_all(lower(text), '[0-9]+', 0)")).cast("long")
      val punct = (length(low) -
        length(regexp_replace(low, "[^a-z0-9\\s]", ""))).cast("long")
      graft.core.Tables.documents(s, dir)
        .select(col("lang"), words.as("w"),
          (alphaRuns + digitRuns + punct).as("sw"))
        .filter(col("w") > 0)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("total_words"),
          sum(col("sw")).as("total_subwords"))
        .select(col("lang"), col("n_docs"), col("total_words"),
          col("total_subwords"),
          (col("total_subwords").cast("double") / col("total_words"))
            .as("fertility"))
    }),

    // Per-user event inter-arrival profile: exact mean gap (the
    // telescoping identity (last−first)/(n−1) — no per-gap sum at all)
    // plus the exact interpolated median gap from the per-user lag
    // window (in-partition sorts only). The traffic-shape feature
    // behind bot/burst heuristics; micros stay integral until the two
    // output divisions.
    "q217_interarrival_stats" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
      val ev = graft.core.Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
      val gaps = ev
        .withColumn("gap", col("us") - lag(col("us"), 1).over(w))
        .filter(col("gap").isNotNull)
        .groupBy(col("user_id"))
        .agg(expr("percentile(gap, 0.5)").as("median_gap_us"))
      ev.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"), min(col("us")).as("lo"),
          max(col("us")).as("hi"))
        .filter(col("n_events") >= 2)
        .join(gaps, "user_id")
        .select(col("user_id"), col("n_events"),
          ((col("hi") - col("lo")).cast("double") /
            (col("n_events") - lit(1L)).cast("double")).as("mean_gap_us"),
          col("median_gap_us"))
    }),

    // Ship-latency SLA percentiles by order month (p50/p90 of
    // ship−order days): the operational latency report every warehouse
    // runs. Integer-day latencies keep the q53 exact-interpolation
    // pairing; months encode as yyyymm ints (a DATE output would hit
    // the driver's pandas dtype parity wall).
    "q218_ship_latency_by_month" -> ((s, dir) => {
      graft.core.Tables.lineitem(s, dir)
        .join(graft.core.Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .select(
          (year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
            .cast("long").as("yyyymm"),
          expr("datediff(CAST(l_shipdate AS DATE), CAST(o_orderdate AS DATE))")
            .cast("long").as("lat_days"))
        .groupBy(col("yyyymm"))
        .agg(count(lit(1)).as("n_lines"),
          expr("percentile(lat_days, 0.5)").as("p50_days"),
          expr("percentile(lat_days, 0.9)").as("p90_days"))
    }),

    // Weekday seasonality index of revenue: mean daily cents per
    // weekday over the overall daily mean — the sanity number behind
    // q179's weekly decomposition. Weekday from pure integer epoch-day
    // arithmetic ((day+4) mod 7, 0=Sunday) because the engines disagree
    // on dayofweek conventions; the index assembles from exact integer
    // sums in one fixed-order float expression.
    "q220_weekday_seasonality" -> ((s, dir) => {
      val daily = graft.core.Tables.orders(s, dir)
        .groupBy(expr("datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01')")
          .cast("long").as("day"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
      val byW = daily
        .select(((col("day") + lit(4L)) % lit(7L)).as("weekday"), col("cents"))
        .groupBy(col("weekday"))
        .agg(count(lit(1)).as("n_days"), sum(col("cents")).as("sw"))
      val tot = byW.agg(sum(col("n_days")).as("td"), sum(col("sw")).as("ts"))
      byW.crossJoin(broadcast(tot))
        .select(col("weekday"), col("n_days"),
          (col("sw").cast("double") / lit(100.0)).as("revenue"),
          ((col("sw").cast("double") * col("td").cast("double")) /
            (col("n_days").cast("double") * col("ts").cast("double")))
            .as("seasonality_index"))
    }),

    // Power-law tail fit of the supplier→customer reach graph: Hill
    // estimator α̂ = 1 + n / Σ ln(d/dmin) over suppliers with degree ≥
    // dmin=2 (degree = distinct customers reached through orders). The
    // heavy-tail question behind every skew mitigation: how bad is the
    // hub tail? Degrees are one distinct-aggregate; each ln term runs on
    // an exact small-integer operand and lands on the 1e-9 grid (q133
    // discipline) before the sum, so α̂ is bit-stable at any layout.
    "q213_power_law_tail" -> ((s, dir) => {
      val deg = graft.core.Tables.lineitem(s, dir)
        .join(graft.core.Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_suppkey"))
        .agg(countDistinct(col("o_custkey")).as("d"))
      deg.filter(col("d") >= 2)
        .select(floor(log(col("d").cast("double") / lit(2.0)) * lit(1e9))
          .cast("long").as("lng"))
        .agg(count(lit(1)).as("n_tail"), sum(col("lng")).as("slng"))
        .select(col("n_tail"),
          (lit(1.0) + col("n_tail").cast("double") /
            (col("slng").cast("double") / lit(1e9))).as("hill_alpha"))
    }),

    // Spearman rank correlation of quantity vs discount — the rank-based
    // monotone-association test closing the nonparametric family (q196
    // κ, q197 U, q198 KS). The corpus collapses into the ≤550-row
    // (quantity, discount-cents) contingency table in ONE hash agg;
    // tie-corrected average ranks come from cumulative counts over the
    // two bounded marginals (≤50 and ≤11 rows — the q197 whitelist
    // shape), DOUBLED so every rank is an exact integer; the five
    // moment sums accumulate in decimal(38,0) (Long Σc·r²q·r²d overflows
    // past ~sf0.3, and ANSI would abort the scan — the q190/q205
    // discipline), and the closed-form rho runs ONCE in double with an
    // identical operation sequence on both engines.
    "q226_spearman" -> ((s, dir) => {
      val ct = graft.core.Tables.lineitem(s, dir)
        .groupBy(col("l_quantity").cast("long").as("q"),
          round(col("l_discount") * 100).cast("long").as("d"))
        .agg(count(lit(1)).as("c"))
      import org.apache.spark.sql.expressions.Window
      def avg2Ranks(key: String, out: String) = {
        val w = Window.orderBy(col(key))
          .rowsBetween(Window.unboundedPreceding, -1)
        ct.groupBy(col(key)).agg(sum(col("c")).as("t"))
          .withColumn("prev", coalesce(sum(col("t")).over(w), lit(0L)))
          .select(col(key),
            (lit(2L) * col("prev") + col("t") + lit(1L)).as(out))
      }
      val j = ct
        .join(broadcast(avg2Ranks("q", "rq2")), "q")
        .join(broadcast(avg2Ranks("d", "rd2")), "d")
      val dec = "decimal(38,0)"
      val agg = j.agg(
        sum(col("c")).as("n"),
        // cast BEFORE every multiply: at 100 TB c·rq2 alone passes 2⁶³
        sum(expr(s"CAST(c AS $dec) * rq2")).as("sx"),
        sum(expr(s"CAST(c AS $dec) * rd2")).as("sy"),
        sum(expr(s"CAST(c AS $dec) * rq2 * rq2")).as("sxx"),
        sum(expr(s"CAST(c AS $dec) * rd2 * rd2")).as("syy"),
        sum(expr(s"CAST(c AS $dec) * rq2 * rd2")).as("sxy"))
      val nD = col("n").cast("double")
      def dd(c: org.apache.spark.sql.Column) = c.cast("double")
      val cov = nD * dd(col("sxy")) - dd(col("sx")) * dd(col("sy"))
      val vx = nD * dd(col("sxx")) - dd(col("sx")) * dd(col("sx"))
      val vy = nD * dd(col("syy")) - dd(col("sy")) * dd(col("sy"))
      agg.select(col("n"), (cov / sqrt(vx * vy)).as("rho"))
    })
  )

  def oracles: Map[String, String] = Map(
    "q226_spearman" ->
      """WITH ct AS (SELECT CAST(l_quantity AS BIGINT) AS q,
             CAST(round(l_discount * 100) AS BIGINT) AS d, count(*) AS c
           FROM lineitem GROUP BY 1, 2),
         mq AS (SELECT q, sum(c) AS t FROM ct GROUP BY 1),
         rq AS (SELECT q, 2 * COALESCE(sum(t) OVER (ORDER BY q
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + t + 1
             AS rq2 FROM mq),
         md AS (SELECT d, sum(c) AS t FROM ct GROUP BY 1),
         rd AS (SELECT d, 2 * COALESCE(sum(t) OVER (ORDER BY d
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + t + 1
             AS rd2 FROM md),
         j AS (SELECT c, rq2, rd2 FROM ct
           JOIN rq USING (q) JOIN rd USING (d)),
         a AS (SELECT CAST(sum(c) AS BIGINT) AS n,
             sum(CAST(c AS DECIMAL(38,0)) * rq2) AS sx,
             sum(CAST(c AS DECIMAL(38,0)) * rd2) AS sy,
             sum(CAST(c AS DECIMAL(38,0)) * rq2 * rq2) AS sxx,
             sum(CAST(c AS DECIMAL(38,0)) * rd2 * rd2) AS syy,
             sum(CAST(c AS DECIMAL(38,0)) * rq2 * rd2) AS sxy
           FROM j)
         SELECT n,
           (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
              * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS rho
         FROM a""",
    "q194_quota_sample" ->
      """WITH p AS (SELECT source, doc_id,
             CAST(concat('0x', substr(md5(concat('11', '|',
               CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) AS prio
           FROM documents),
         r AS (SELECT source, doc_id, prio,
             row_number() OVER (PARTITION BY source
               ORDER BY prio, doc_id) AS rnk FROM p)
         SELECT source, doc_id, prio, CAST(rnk AS BIGINT) AS rnk
         FROM r WHERE rnk <= 50""",
    "q195_vocab_coverage" ->
      """WITH tk AS (SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'),
               x -> x <> '') AS t
           FROM documents),
         tok AS (SELECT doc_id, unnest(t) AS tok FROM tk),
         vc AS (SELECT tok FROM (SELECT tok, count(*) AS cnt FROM tok
             GROUP BY 1 ORDER BY cnt DESC, tok LIMIT 500)),
         f AS (SELECT t.doc_id, count(*) AS n_tokens,
             sum(CASE WHEN v.tok IS NOT NULL THEN 1 ELSE 0 END) AS n_iv
           FROM tok t LEFT JOIN vc v ON v.tok = t.tok GROUP BY 1)
         SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_tokens - n_iv AS BIGINT) AS n_oov,
           CAST(n_tokens - n_iv AS DOUBLE) / n_tokens AS oov_rate
         FROM f""",
    "q196_cohen_kappa" ->
      """WITH lab AS (SELECT o_orderstatus AS ra,
             CASE WHEN o_totalprice < 75000.0 THEN 'F'
                  WHEN o_totalprice < 150000.0 THEN 'O'
                  ELSE 'P' END AS rb
           FROM orders),
         cm AS (SELECT ra, rb, count(*) AS c FROM lab GROUP BY 1, 2),
         rm AS (SELECT ra AS k, sum(c) AS rmv FROM cm GROUP BY 1),
         cl AS (SELECT rb AS k, sum(c) AS clv FROM cm GROUP BY 1),
         pe AS (SELECT sum(rmv * clv) AS pe_num FROM rm JOIN cl USING (k)),
         tt AS (SELECT sum(c) AS n,
             sum(CASE WHEN ra = rb THEN c ELSE 0 END) AS diag FROM cm)
         SELECT CAST(n AS BIGINT) AS n,
           CAST(diag AS DOUBLE) / n AS po,
           CAST(pe_num AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
             AS pe,
           (CAST(diag AS DOUBLE) / n
             - CAST(pe_num AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
           / (1.0
             - CAST(pe_num AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
             AS kappa
         FROM tt, pe""",
    "q197_mannwhitney" ->
      """WITH byv AS (SELECT CAST(l_quantity AS BIGINT) AS v,
             sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS nr,
             sum(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS na
           FROM lineitem WHERE l_returnflag IN ('R', 'A') GROUP BY 1),
         rk AS (SELECT v, nr, na, nr + na AS t,
             COALESCE(sum(nr + na) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS prevcum
           FROM byv),
         ag AS (SELECT sum(nr) AS n_r, sum(na) AS n_a,
             sum(nr * (2 * prevcum + t + 1)) AS w2r,
             sum(t * t * t - t) AS ties
           FROM rk)
         SELECT CAST(n_r AS BIGINT) AS n_r, CAST(n_a AS BIGINT) AS n_a,
           CAST(w2r - n_r * (n_r + 1) AS BIGINT) AS u2_r,
           ((CAST(w2r - n_r * (n_r + 1) AS DOUBLE)
             - CAST(n_r AS DOUBLE) * CAST(n_a AS DOUBLE)) / 2.0)
           / sqrt((CAST(n_r AS DOUBLE) * CAST(n_a AS DOUBLE) / 12.0)
             * ((CAST(n_r AS DOUBLE) + CAST(n_a AS DOUBLE) + 1.0)
               - CAST(ties AS DOUBLE)
                 / ((CAST(n_r AS DOUBLE) + CAST(n_a AS DOUBLE))
                   * (CAST(n_r AS DOUBLE) + CAST(n_a AS DOUBLE) - 1.0))))
             AS z
         FROM ag""",
    "q198_ks_test" ->
      """WITH byv AS (SELECT CAST(l_quantity AS BIGINT) AS v,
             sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS nr,
             sum(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS na
           FROM lineitem WHERE l_returnflag IN ('R', 'A') GROUP BY 1),
         cum AS (SELECT v, nr, na,
             sum(nr) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cr,
             sum(na) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca
           FROM byv),
         tot AS (SELECT sum(nr) AS n_r, sum(na) AS n_a FROM byv),
         d AS (SELECT t.n_r, t.n_a,
             max(abs(CAST(c.cr AS DOUBLE) / t.n_r
               - CAST(c.ca AS DOUBLE) / t.n_a)) AS d_stat
           FROM cum c, tot t GROUP BY 1, 2)
         SELECT CAST(n_r AS BIGINT) AS n_r, CAST(n_a AS BIGINT) AS n_a,
           d_stat,
           1.358 * sqrt((CAST(n_r AS DOUBLE) + CAST(n_a AS DOUBLE))
             / (CAST(n_r AS DOUBLE) * CAST(n_a AS DOUBLE))) AS crit_05,
           CAST(d_stat > 1.358 * sqrt((CAST(n_r AS DOUBLE)
             + CAST(n_a AS DOUBLE))
             / (CAST(n_r AS DOUBLE) * CAST(n_a AS DOUBLE))) AS INT)
             AS reject_05
         FROM d""",
    "q202_ngram_novelty" ->
      """WITH tk AS (SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'),
               x -> x <> '') AS t
           FROM documents),
         sh AS (SELECT doc_id, list_distinct(list_transform(
             generate_series(1, len(t) - 2),
             j -> concat(t[j], ' ', t[j + 1], ' ', t[j + 2]))) AS s
           FROM tk WHERE len(t) >= 3),
         ex AS (SELECT doc_id, unnest(s) AS sh FROM sh),
         fo AS (SELECT sh, min(doc_id) AS first_id FROM ex GROUP BY 1),
         ag AS (SELECT e.doc_id, count(*) AS n_shingles,
             sum(CASE WHEN f.first_id = e.doc_id THEN 1 ELSE 0 END)
               AS n_novel
           FROM ex e JOIN fo f ON f.sh = e.sh GROUP BY 1)
         SELECT doc_id, CAST(n_shingles AS BIGINT) AS n_shingles,
           CAST(n_novel AS BIGINT) AS n_novel,
           CAST(n_novel AS DOUBLE) / n_shingles AS novelty
         FROM ag""",
    "q203_stratified_split" ->
      """WITH p AS (SELECT doc_id, lang, source,
             CAST(concat('0x', substr(md5(concat('17', '|',
               CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) AS prio
           FROM documents),
         r AS (SELECT lang, source,
             row_number() OVER (PARTITION BY lang, source
               ORDER BY prio, doc_id) AS rn,
             count(*) OVER (PARTITION BY lang, source) AS nstr
           FROM p),
         ag AS (SELECT lang, source, count(*) AS n,
             sum(CASE WHEN rn <= (nstr * 8 + 9) // 10 THEN 1 ELSE 0 END)
               AS n_train
           FROM r GROUP BY 1, 2)
         SELECT lang, source, CAST(n AS BIGINT) AS n,
           CAST(n_train AS BIGINT) AS n_train,
           CAST(n - n_train AS BIGINT) AS n_val,
           CAST(n_train AS DOUBLE) / n AS train_frac
         FROM ag""",
    "q205_revenue_acf" ->
      """WITH daily AS (SELECT
             datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
               AS day,
             sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
           FROM orders GROUP BY 1),
         lg AS (SELECT cents,
             lag(cents, 1) OVER (ORDER BY day) AS x1,
             lag(cents, 7) OVER (ORDER BY day) AS x7
           FROM daily),
         pairs AS (SELECT CAST(1 AS BIGINT) AS lag_k, cents AS y, x1 AS x
             FROM lg WHERE x1 IS NOT NULL
           UNION ALL SELECT CAST(7 AS BIGINT), cents, x7
             FROM lg WHERE x7 IS NOT NULL),
         ag AS (SELECT lag_k, count(*) AS n_pairs,
             sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
             sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy,
             sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
             sum(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy
           FROM pairs GROUP BY 1)
         SELECT lag_k, CAST(n_pairs AS BIGINT) AS n_pairs,
           (CAST(n_pairs AS DOUBLE) * CAST(sxy AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / sqrt((CAST(n_pairs AS DOUBLE) * CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
             * (CAST(n_pairs AS DOUBLE) * CAST(syy AS DOUBLE)
               - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS acf
         FROM ag""",
    "q201_zipf_slope" ->
      """WITH tk AS (SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'),
               x -> x <> '') AS t
           FROM documents),
         tok AS (SELECT unnest(t) AS tok FROM tk),
         top AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY 1
           ORDER BY cnt DESC, tok LIMIT 100),
         rk AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, tok)
             AS rank FROM top),
         tm AS (SELECT
             CAST(floor(ln(CAST(rank AS DOUBLE)) * 1e9) AS BIGINT) AS xg,
             CAST(floor(ln(CAST(cnt AS DOUBLE)) * 1e9) AS BIGINT) AS yg,
             CAST(floor(ln(CAST(rank AS DOUBLE)) * ln(CAST(cnt AS DOUBLE))
               * 1e9) AS BIGINT) AS xyg,
             CAST(floor(ln(CAST(rank AS DOUBLE)) * ln(CAST(rank AS DOUBLE))
               * 1e9) AS BIGINT) AS xxg
           FROM rk),
         ag AS (SELECT count(*) AS n, sum(xg) AS sx, sum(yg) AS sy,
             sum(xyg) AS sxy, sum(xxg) AS sxx FROM tm)
         SELECT CAST(n AS BIGINT) AS n,
           (CAST(n AS DOUBLE) * (CAST(sxy AS DOUBLE) / 1e9)
             - (CAST(sx AS DOUBLE) / 1e9) * (CAST(sy AS DOUBLE) / 1e9))
           / (CAST(n AS DOUBLE) * (CAST(sxx AS DOUBLE) / 1e9)
             - (CAST(sx AS DOUBLE) / 1e9) * (CAST(sx AS DOUBLE) / 1e9))
             AS slope,
           ((CAST(sy AS DOUBLE) / 1e9)
             - ((CAST(n AS DOUBLE) * (CAST(sxy AS DOUBLE) / 1e9)
                 - (CAST(sx AS DOUBLE) / 1e9) * (CAST(sy AS DOUBLE) / 1e9))
               / (CAST(n AS DOUBLE) * (CAST(sxx AS DOUBLE) / 1e9)
                 - (CAST(sx AS DOUBLE) / 1e9) * (CAST(sx AS DOUBLE) / 1e9)))
               * (CAST(sx AS DOUBLE) / 1e9))
           / CAST(n AS DOUBLE) AS intercept
         FROM ag""",
    "q206_fano_burstiness" ->
      """WITH hourly AS (SELECT event_type, date_trunc('hour', ts) AS h,
             count(*) AS c
           FROM events GROUP BY 1, 2),
         ag AS (SELECT event_type, count(*) AS n_hours, sum(c) AS sc,
             sum(c * c) AS scc
           FROM hourly GROUP BY 1)
         SELECT event_type, CAST(n_hours AS BIGINT) AS n_hours,
           CAST(sc AS DOUBLE) / CAST(n_hours AS DOUBLE) AS mean_per_hour,
           (CAST(n_hours AS DOUBLE) * CAST(scc AS DOUBLE)
             - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE))
           / (CAST(n_hours AS DOUBLE) * CAST(sc AS DOUBLE)) AS fano
         FROM ag""",
    "q207_wilson_ci" ->
      """WITH ag AS (SELECT event_type, count(*) AS n,
             sum(CASE WHEN value > 100.0 THEN 1 ELSE 0 END) AS s
           FROM events GROUP BY 1)
         SELECT event_type, CAST(n AS BIGINT) AS n, CAST(s AS BIGINT) AS s,
           CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS p,
           ((CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
               + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)) / (2.0 * CAST(n AS DOUBLE)))
             / (1.0 + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)) / CAST(n AS DOUBLE)))
           - (1.96 * sqrt(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
                 * (1.0 - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                 / CAST(n AS DOUBLE)
               + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE))
                 / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))
             / (1.0 + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)) / CAST(n AS DOUBLE)) AS lo_95,
           ((CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
               + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)) / (2.0 * CAST(n AS DOUBLE)))
             / (1.0 + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)) / CAST(n AS DOUBLE)))
           + (1.96 * sqrt(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
                 * (1.0 - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                 / CAST(n AS DOUBLE)
               + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE))
                 / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))
             / (1.0 + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)) / CAST(n AS DOUBLE)) AS hi_95
         FROM ag""",
    "q208_decayed_popularity" ->
      """WITH mx AS (SELECT max(o_orderdate) AS maxd FROM orders),
         w AS (SELECT l.l_partkey,
             datediff('day', CAST(o.o_orderdate AS DATE),
               CAST(mx.maxd AS DATE)) // 30 AS k
           FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey, mx),
         ag AS (SELECT l_partkey, count(*) AS n_lines,
             sum(CASE WHEN k <= 30
                 THEN 1000000000 // (CAST(1 AS BIGINT) << CAST(k AS INTEGER))
                 ELSE 0 END) AS swg
           FROM w GROUP BY 1)
         SELECT l_partkey, CAST(n_lines AS BIGINT) AS n_lines,
           CAST(swg AS DOUBLE) / 1e9 AS score
         FROM ag ORDER BY score DESC, l_partkey LIMIT 100""",
    "q209_effective_sample_size" ->
      """WITH ag AS (SELECT l_returnflag, count(*) AS n,
             sum(CAST(l_quantity AS BIGINT)) AS sw,
             sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
               AS sww
           FROM lineitem GROUP BY 1)
         SELECT l_returnflag, CAST(n AS BIGINT) AS n, CAST(sw AS BIGINT)
             AS sw,
           (CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE)) / CAST(sww AS DOUBLE)
             AS ess,
           ((CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE)) / CAST(sww AS DOUBLE))
             / CAST(n AS DOUBLE) AS ess_ratio
         FROM ag""",
    "q212_tokenizer_fertility" ->
      """WITH f AS (SELECT lang,
             len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
               x -> x <> '')) AS w,
             len(regexp_extract_all(lower(text), '[a-z]+', 0))
               + len(regexp_extract_all(lower(text), '[0-9]+', 0))
               + (length(lower(text))
                  - length(regexp_replace(lower(text), '[^a-z0-9\s]', '',
                      'g'))) AS sw
           FROM documents),
         ag AS (SELECT lang, count(*) AS n_docs, sum(w) AS total_words,
             sum(sw) AS total_subwords
           FROM f WHERE w > 0 GROUP BY 1)
         SELECT lang, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(total_words AS BIGINT) AS total_words,
           CAST(total_subwords AS BIGINT) AS total_subwords,
           CAST(total_subwords AS DOUBLE) / total_words AS fertility
         FROM ag""",
    "q213_power_law_tail" ->
      """WITH deg AS (SELECT l_suppkey, count(DISTINCT o_custkey) AS d
           FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
           GROUP BY 1),
         t AS (SELECT CAST(floor(ln(CAST(d AS DOUBLE) / 2.0) * 1e9)
               AS BIGINT) AS lng
           FROM deg WHERE d >= 2),
         ag AS (SELECT count(*) AS n_tail, sum(lng) AS slng FROM t)
         SELECT CAST(n_tail AS BIGINT) AS n_tail,
           1.0 + CAST(n_tail AS DOUBLE) / (CAST(slng AS DOUBLE) / 1e9)
             AS hill_alpha
         FROM ag""",
    "q217_interarrival_stats" ->
      """WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS us
           FROM events),
         g AS (SELECT user_id,
             us - lag(us, 1) OVER (PARTITION BY user_id
               ORDER BY us, event_id) AS gap
           FROM ev),
         med AS (SELECT user_id, quantile_cont(CAST(gap AS DOUBLE), 0.5)
               AS median_gap_us
           FROM g WHERE gap IS NOT NULL GROUP BY 1),
         ag AS (SELECT user_id, count(*) AS n_events, min(us) AS lo,
             max(us) AS hi
           FROM ev GROUP BY 1)
         SELECT a.user_id, CAST(n_events AS BIGINT) AS n_events,
           CAST(hi - lo AS DOUBLE) / CAST(n_events - 1 AS DOUBLE)
             AS mean_gap_us,
           m.median_gap_us
         FROM ag a JOIN med m ON m.user_id = a.user_id
         WHERE n_events >= 2""",
    "q218_ship_latency_by_month" ->
      """WITH lat AS (SELECT
             CAST(year(o.o_orderdate) * 100 + month(o.o_orderdate)
               AS BIGINT) AS yyyymm,
             CAST(datediff('day', CAST(o.o_orderdate AS DATE),
               CAST(l.l_shipdate AS DATE)) AS BIGINT) AS lat_days
           FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
         SELECT yyyymm, CAST(count(*) AS BIGINT) AS n_lines,
           quantile_cont(CAST(lat_days AS DOUBLE), 0.5) AS p50_days,
           quantile_cont(CAST(lat_days AS DOUBLE), 0.9) AS p90_days
         FROM lat GROUP BY 1""",
    "q220_weekday_seasonality" ->
      """WITH daily AS (SELECT
             datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
               AS day,
             sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
           FROM orders GROUP BY 1),
         byw AS (SELECT (day + 4) % 7 AS weekday, count(*) AS n_days,
             sum(cents) AS sw
           FROM daily GROUP BY 1),
         tot AS (SELECT sum(n_days) AS td, sum(sw) AS ts FROM byw)
         SELECT CAST(weekday AS BIGINT) AS weekday,
           CAST(n_days AS BIGINT) AS n_days,
           CAST(sw AS DOUBLE) / 100.0 AS revenue,
           (CAST(sw AS DOUBLE) * CAST(td AS DOUBLE))
             / (CAST(n_days AS DOUBLE) * CAST(ts AS DOUBLE))
             AS seasonality_index
         FROM byw, tot"""
  )
}
