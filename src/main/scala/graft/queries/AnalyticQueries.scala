package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Tables
import graft.operators.{BucketPairs, TopKAggregator}
import graft.core.Money.{dec, sumDec, sumDecFast}

/** Round-4 analytic widening: pivot/unpivot reshaping, blocked fuzzy
  * matching, arg-extrema, the remaining analytic window functions,
  * cross join, histogram bucketing, exact-sum correlation/stddev, and
  * nested array aggregation. Every query carries a DuckDB oracle.
  *
  * Scale notes (100 TB posture):
  *  - pivot uses an EXPLICIT value list → one shuffle aggregate, no extra
  *    distinct-discovery pass over the fact table;
  *  - fuzzy matching is BLOCKED on (brand, size) — the classic entity-
  *    resolution bound that turns an O(n²) all-pairs scan into
  *    sum-of-block² with dim-bounded blocks;
  *  - the stats query reduces to six exact decimal sums (one pass,
  *    map-side partials); the float math happens once per group on the
  *    driver-visible aggregate, so results are order-independent and
  *    bit-stable at any parallelism.
  */
object AnalyticQueries {

  /** Frequent part co-occurrence edges (u < v, support ≥ 2 orders) — the
    * shared graph both q105 and q106 analyze. See the q105 comment for
    * why the support threshold is the thing that makes a co-occurrence
    * graph buildable at 100 TB.
    */
  private def frequentCoEdges(s: SparkSession, dir: String): DataFrame = {
    // pairs are generated INSIDE each order from ONE grouped
    // aggregation, not by self-joining the fact table on the basket key:
    // the self-join shuffled lineitem twice (and its two map stages
    // raced the scan) where one groupBy ships it once (§2.4). The
    // sorted per-order part list (a multiset) yields count(a)·count(b)
    // pairs per (a, b) with a < b — the join's multiplicity, same-part
    // line pairs dropped like the old u < v condition. Per-order state
    // is the basket (single-digit lines), the same Σ basket² bound.
    Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_list(col("l_partkey"))).as("ps"))
      .where(size(col("ps")) >= 2)
      .select(explode(BucketPairs.sortedPairs(col("ps"), bothDirections = false))
        .as("pr"))
      .groupBy(col("pr.id_a").as("u"), col("pr.id_b").as("v"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= 2)
      .select(col("u"), col("v"))
  }

  /** q142's SCD2 dimension build, shared with the q145 PIT join: type-2
    * version rows per customer from the order-priority changelog (change
    * detection via null-safe lag compare; both windows partition by the
    * dimension key, never global).
    */
  private def scd2Dim(s: SparkSession, dir: String): DataFrame = {
    val byKey = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val changes = Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"),
        col("o_orderpriority"))
      .withColumn("prev", lag(col("o_orderpriority"), 1).over(byKey))
      .filter(!(col("prev") <=> col("o_orderpriority"))) // IS DISTINCT FROM
    changes
      .withColumn("version", row_number().over(byKey).cast("long"))
      .withColumn("valid_to", lead(col("o_orderdate"), 1).over(byKey))
      .select(col("o_custkey"), col("version"),
        col("o_orderpriority").as("priority"),
        col("o_orderdate").as("valid_from"), col("valid_to"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // PIVOT with explicit values: long→wide reshaping in one hash agg.
    // Missing (source, lang) cells become 0 (na.fill) to match the
    // FILTER-count oracle.
    "q89_pivot" -> ((s, dir) => {
      val langs = Seq("de", "en", "es", "fr", "zh")
      Tables.documents(s, dir)
        .groupBy(col("source"))
        .pivot("lang", langs)
        .agg(count(lit(1)))
        .na.fill(0L, langs)
    }),

    // UNPIVOT (wide→long melt): each metric column becomes a row. The
    // generator is narrow — no shuffle at all; output is 3× the filtered
    // row count regardless of table width.
    "q97_unpivot" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .filter(col("l_quantity") > lit(49.0))
        .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
          col("l_quantity"), col("l_discount"), col("l_tax"))
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_discount"), col("l_tax")),
          "metric", "val")
    }),

    // Blocked fuzzy duplicate detection: edit-distance pairs inside
    // (brand, size) blocks. The equi-join on the block key bounds the
    // candidate set (max block ≈ handful of parts per brand×size at any
    // SF — sum-of-block², never corpus²); levenshtein runs only inside
    // blocks. This is the same blocking discipline the LSH dedup family
    // uses, on a string-similarity metric.
    "q90_fuzzy_dedup" -> ((s, dir) => {
      val p = Tables.part(s, dir).select(
        col("p_partkey"), col("p_name"), col("p_brand"), col("p_size"))
      val a = p.select(col("p_partkey").as("k_a"), col("p_name").as("name_a"),
        col("p_brand").as("brand"), col("p_size").as("size"))
      val b = p.select(col("p_partkey").as("k_b"), col("p_name").as("name_b"),
        col("p_brand").as("brand_b"), col("p_size").as("size_b"))
      a.join(b, col("brand") === col("brand_b") && col("size") === col("size_b") &&
          col("k_a") < col("k_b"))
        .filter(levenshtein(col("name_a"), col("name_b")) <= lit(6))
        .groupBy(col("brand"))
        .agg(count(lit(1)).as("n_pairs"),
             min(levenshtein(col("name_a"), col("name_b"))).cast("long").as("min_lev"))
    }),

    // Arg-extrema: the value carried by the max/min key, one hash agg —
    // no join-back, no sort window. Keyed by the UNIQUE o_orderkey so the
    // answer is deterministic.
    "q91_argmax" -> ((s, dir) => {
      Tables.orders(s, dir)
        .groupBy(col("o_orderpriority"))
        .agg(
          max_by(col("o_totalprice"), col("o_orderkey")).as("latest_price"),
          min_by(col("o_totalprice"), col("o_orderkey")).as("earliest_price"),
          max(col("o_orderkey")).as("latest_key"))
    }),

    // The remaining analytic window functions (percent_rank, cume_dist,
    // first/last/nth_value) over a deterministic unique ordering.
    // first/last/nth use the explicit full-partition frame — both engines
    // default nth_value/last_value to the RUNNING frame, which is almost
    // never what "last value of the partition" means.
    "q92_window_suite" -> ((s, dir) => {
      val base = Tables.orders(s, dir).filter(col("o_totalprice") > lit(400000.0))
      val run = Window.partitionBy(col("o_orderpriority")).orderBy(col("o_orderkey"))
      val full = run.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      base.select(
        col("o_orderpriority"), col("o_orderkey"),
        percent_rank().over(run).as("pct_rank"),
        cume_dist().over(run).as("cume"),
        first(col("o_orderkey")).over(full).as("first_key"),
        last(col("o_orderkey")).over(full).as("last_key"),
        nth_value(col("o_orderkey"), 2).over(full).as("second_key"),
        lag(col("o_orderkey"), 1, -1L).over(run).as("prev_key"))
    }),

    // CROSS JOIN (the one §2.5 shape with no key): dims only — at scale a
    // deliberate cartesian is only ever dim×dim (125 rows here), and Spark
    // picks BroadcastNestedLoopJoin with the small side broadcast.
    "q93_cross_join" -> ((s, dir) => {
      val r = Tables.region(s, dir)
      val n = Tables.nation(s, dir)
      r.crossJoin(n)
        .select(col("r_name"), col("n_name"),
          (col("r_regionkey") * lit(100L) + col("n_nationkey")).cast("long").as("pair_id"))
    }),

    // Equi-width histogram: bucket = clamped floor(x/w). Pure narrow map +
    // one agg on a ~20-key space — the profile pass a curation pipeline
    // runs before choosing filter thresholds. floor on the same IEEE
    // double is bit-identical on both engines.
    "q94_histogram" -> ((s, dir) => {
      Tables.orders(s, dir)
        .select(least(floor(col("o_totalprice") / lit(50000.0)), lit(19.0))
          .cast("long").as("bucket"), col("o_totalprice"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"), sumDecFast(col("o_totalprice")).as("total"))
    }),

    // Correlation + sample stddev from six EXACT decimal sums (one pass).
    // The float division/sqrt happens once per group on already-exact
    // operands → order-independent, unlike corr()/stddev() whose running
    // double accumulation differs by partition tree on every engine.
    "q95_stats_exact" -> ((s, dir) => {
      // Integer-cent units (correlation is scale-invariant, stddev
      // rescales by the exact constant at the end) so every moment sum
      // and every n·Σ − Σ·Σ term is an exact integer — decimal(38,0)
      // here, HUGEINT in the oracle. Doubles enter only through a
      // correctly-rounded cast of those exact integers and then see only
      // single mul/div/sqrt ops: no compiler-FMA shapes (the q131
      // lesson) and no >2^53 cast whose rounding the engines disagree on
      // (DuckDB's int128→double truncates where Java rounds to nearest;
      // the oracle routes casts through VARCHAR, which strtod rounds
      // correctly).
      val qc = round(col("l_quantity") * 100).cast("decimal(19,0)")
      val pc = round(col("l_extendedprice") * 100).cast("decimal(19,0)")
      val g = Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          sum(qc).as("sx"), sum(pc).as("sy"),
          sum(qc * qc).as("sxx"), sum(pc * pc).as("syy"),
          sum(qc * pc).as("sxy"))
      val nDec = col("n").cast("decimal(38,0)")
      val num = nDec * col("sxy") - col("sx") * col("sy")
      val d1 = nDec * col("sxx") - col("sx") * col("sx")
      val d2 = nDec * col("syy") - col("sy") * col("sy")
      val nD = col("n").cast("double")
      g.select(
        col("l_returnflag"), col("n"),
        (num.cast("double") /
          (sqrt(d1.cast("double")) * sqrt(d2.cast("double"))))
          .as("corr_qty_price"),
        (sqrt(d2.cast("double") / (nD * (nD - lit(1.0)))) / lit(100.0))
          .as("stddev_price"))
    }),

    // Pareto / ABC analysis: classify customers by cumulative share of
    // globally revenue-ranked revenue (A ≤ 80%, B ≤ 95%, C rest). The
    // SCD2 dimension build: fold a per-key attribute changelog into
    // type-2 version rows — change detection via a null-safe lag compare
    // (consecutive no-change events collapse), then valid_from/valid_to
    // ranges and version ordinals over the SURVIVING rows. Both windows
    // partition by the dimension key (never global), so the build is one
    // key shuffle + in-partition sorts at any scale; the output is the
    // dimension the as-of (q50) and range (q49) joins consume.
    // valid_to stays NTZ (both engines surface naive µs timestamps; the
    // open current version is NULL/NaT on both).
    "q142_scd2_build" -> ((s, dir) => scd2Dim(s, dir)),

    // Point-in-time (PIT) join: every order enriched with the dimension
    // version that was valid AT its date — the consumer side of q142's
    // SCD2 build, and the batch twin of a temporal-table lookup. Scale
    // shape: an equi-join on the dimension KEY plus a per-key interval
    // filter; fan-out per fact row is the key's version count (bounded by
    // its change history), never a time-bucket explosion — the version
    // intervals partition the timeline, so exactly one survives per fact.
    // Iterative frontier BFS (multi-hop reachability): min co-purchase
    // distance from the smallest part over the order–part bipartite
    // graph, 3 rounds. The missing iterative shape next to PageRank
    // (fixed-point scoring) and connected components (label collapse):
    // per round, the frontier expands through TWO co-keyed equi-joins
    // (part→order, order→part), dedups, and anti-joins the reached set —
    // every shuffle is keyed, the driver holds only the loop counter and
    // one seed scalar, and state per round is the reached table (≤ |V|).
    // The oracle is DuckDB's WITH RECURSIVE walk with min-hop fold.
    "q147_bfs_reach" -> ((s, dir) => {
      import s.implicits._
      val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      // RAW edge rows, no distinct: both hop expansions below are
      // semi-joins, so duplicate (o, p) rows cannot duplicate anything
      // — the old inner-join form needed the deduped edge table (and
      // paid its full shuffle) just to bound the join fan-out. The edge
      // table is persisted as scanned, not partitioned by a hop key: the
      // hop semi-joins avoid exchanging it because their build side, the
      // small frontier (or its order set), is what AQE broadcasts while
      // it stays small, so the cached edges stream through unshuffled.
      val edges = Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .persist(lvl)
      val seed = edges.agg(min(col("p"))).head().getLong(0)
      var reached = Seq((seed, 0L)).toDF("p", "hops").persist(lvl)
      var frontier = reached.select(col("p"))
      for (h <- 1 to 3) {
        // hop 1's frontier is the single collected seed — a filter on
        // the cached edges, not a join; later rounds expand through
        // SEMI-joins (the frontier/order set is a lookup, never a
        // fan-out multiplier), so the raw edge rows need no distinct
        // and nothing edge-sized is ever duplicated into the distincts
        val adjO =
          if (h == 1) edges.where(col("p") === lit(seed))
          else edges.join(frontier, Seq("p"), "left_semi")
        val next = edges
          .join(adjO.select(col("o")).distinct(), Seq("o"), "left_semi")
          .select(col("p")).distinct()
          .join(reached, Seq("p"), "left_anti")
          .withColumn("hops", lit(h.toLong))
          .persist(lvl)
        reached = reached.union(next).persist(lvl)
        frontier = next.select(col("p"))
      }
      reached.select(col("p").as("p_partkey"), col("hops"))
    }),

    // Skyline (Pareto frontier, minimize price AND size): the dominance
    // operator q138's 80/20 ranking is not. 2D lets the classic two-phase
    // skyline collapse further: one hash agg reduces the corpus to the
    // per-size min price (≤ |size domain| rows — any same-size pricier
    // point is dominated), then a single bounded task keeps the strictly
    // descending price frontier in size order. The corpus is touched by
    // exactly one keyed aggregate; nothing global ever sees raw rows.
    "q148_skyline" -> ((s, dir) => {
      import s.implicits._
      Tables.part(s, dir)
        .groupBy(col("p_size"))
        .agg(min(col("p_retailprice")).as("price"))
        .select(col("p_size").cast("long").as("size"), col("price"))
        .coalesce(1).sortWithinPartitions("size")
        .as[(Long, Double)]
        .mapPartitions { it =>
          var best = Double.MaxValue
          it.flatMap { case (sz, pr) =>
            if (pr < best) { best = pr; Iterator.single((sz, pr)) }
            else Iterator.empty
          }
        }.toDF("size", "price")
    }),

    // Exact distinct via chunked bitmaps — the dense-ID alternative to
    // HLL (q52 approximate) and plain count_distinct (q10 re-shuffles
    // raw ids): ids fold into 64-bit words keyed by (group, id div 64),
    // so the first aggregate is map-side combinable down to 8 bytes per
    // 64 ids and the second just sums popcounts. Mergeable like a
    // roaring bitmap index; both aggs are hash aggs, nothing sorts.
    "q149_bitmap_distinct" -> ((s, dir) => {
      Tables.events(s, dir)
        .select(col("event_type"),
          expr("user_id div 64").as("chunk"),
          expr("shiftleft(CAST(1 AS BIGINT), CAST(pmod(user_id, 64) AS INT))")
            .as("bit"))
        .groupBy(col("event_type"), col("chunk"))
        .agg(expr("bit_or(bit)").as("bitmap"))
        .groupBy(col("event_type"))
        .agg(sum(expr("bit_count(bitmap)")).cast("long").as("n_users"),
          count(lit(1)).as("n_chunks"))
    }),

    "q145_pit_join" -> ((s, dir) => {
      val dim = scd2Dim(s, dir)
      Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
        .join(dim, Seq("o_custkey"))
        .where(col("o_orderdate") >= col("valid_from") &&
          (col("valid_to").isNull || col("o_orderdate") < col("valid_to")))
        .select(col("o_orderkey"), col("o_custkey"), col("version"),
          col("priority").as("priority_at_order"))
    }),

    // naive form is a single-partition window over the whole ranked
    // table — the one shape that cannot scale. Here: equi-depth revenue
    // buckets from broadcast percentile boundaries (bucket = count of
    // boundaries above the value, so buckets partition descending-rev
    // ranges and ties never span buckets), per-bucket totals prefix-sum
    // on the TINY bucket table, then a per-BUCKET window cumsum plus the
    // broadcast bucket offset — the distributed prefix-sum pattern
    // (multimodal's byte-partitioner, applied to ranking). The decimal
    // cumulative is exact, so the decomposition is bit-equal to the
    // oracle's single global window.
    "q138_pareto" -> ((s, dir) => {
      val cust = Tables.orders(s, dir)
        .groupBy(col("o_custkey"))
        .agg(sumDec(col("o_totalprice")).as("rev"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val qs = (1 until 20).map(i => i / 20.0).mkString(", ")
      val bounds = cust.agg(
        expr(s"percentile(CAST(rev AS DOUBLE), array($qs))").as("qs"),
        sum(col("rev")).cast("decimal(38,2)").as("total"))
      val withB = cust.crossJoin(broadcast(bounds))
        .withColumn("bucket",
          expr("size(filter(qs, q -> q > CAST(rev AS DOUBLE)))").cast("long"))
      val bPrefix = withB.groupBy(col("bucket"))
        .agg(sum(col("rev")).cast("decimal(38,2)").as("btot"))
        .withColumn("offset", coalesce(
          sum(col("btot")).over(Window.orderBy(col("bucket"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0))
          .cast("decimal(38,2)"))
        .select(col("bucket"), col("offset"))
      val w = Window.partitionBy(col("bucket"))
        .orderBy(col("rev").desc, col("o_custkey"))
      withB.join(broadcast(bPrefix), Seq("bucket"))
        .withColumn("cum",
          (col("offset") + sum(col("rev")).over(w)).cast("decimal(38,2)"))
        .select(
          when(col("cum").cast("double") / col("total").cast("double") <= 0.8, "A")
            .when(col("cum").cast("double") / col("total").cast("double") <= 0.95, "B")
            .otherwise("C").as("pareto_class"),
          col("rev"))
        .groupBy(col("pareto_class"))
        .agg(count(lit(1)).as("n_customers"),
          sum(col("rev")).cast("decimal(38,2)").as("class_revenue"))
    }),

    // RFM segmentation (recency / frequency / monetary quartile codes per
    // customer): one customer rollup shuffle, then the three quartile
    // boundary rows broadcast back over it (q120's binning pattern three
    // times over) — the corpus never sorts globally. Recency is measured
    // in days against the corpus max date (deterministic, not wall-clock);
    // monetary sums in exact decimal; boundary comparisons are ≤ against
    // exact interpolated percentiles.
    "q137_rfm" -> ((s, dir) => {
      val day = expr("datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01')")
      val cust = Tables.orders(s, dir)
        .groupBy(col("o_custkey"))
        .agg(max(day).cast("long").as("last_day"),
          count(lit(1)).as("f"),
          sumDec(col("o_totalprice")).as("m"))
      val maxDay = cust.agg(max(col("last_day")).as("corpus_max"))
      val rfm = cust.crossJoin(broadcast(maxDay))
        .select(col("o_custkey"), col("f"), col("m"),
          (col("corpus_max") - col("last_day")).as("r"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val bounds = rfm.agg(
        expr("percentile(r, array(0.25, 0.5, 0.75))").as("rq"),
        expr("percentile(f, array(0.25, 0.5, 0.75))").as("fq"),
        expr("percentile(CAST(m AS DOUBLE), array(0.25, 0.5, 0.75))").as("mq"))
      def bin(v: org.apache.spark.sql.Column, qs: String) =
        when(v <= element_at(col(qs), 1), lit(1L))
          .when(v <= element_at(col(qs), 2), lit(2L))
          .when(v <= element_at(col(qs), 3), lit(3L))
          .otherwise(lit(4L))
      rfm.crossJoin(broadcast(bounds))
        .select(
          bin(col("r").cast("double"), "rq").as("r_bin"),
          bin(col("f").cast("double"), "fq").as("f_bin"),
          bin(col("m").cast("double"), "mq").as("m_bin"),
          col("m"))
        .groupBy(col("r_bin"), col("f_bin"), col("m_bin"))
        .agg(count(lit(1)).as("n_customers"),
          sum(col("m")).cast("decimal(38,2)").as("segment_revenue"))
    }),

    // Market-basket association rules (support / confidence / lift over
    // brand pairs co-occurring in an order): the frequent-itemset family,
    // k=2. The basket self-join co-partitions on the basket key, and the
    // pair fan-out is bounded by distinct-brands-per-basket² (≤ 55 pairs
    // here, Σ basket² generally — the same boundedness argument as the
    // LSH bucket joins; an unbounded-cardinality item column would need
    // a frequency pre-filter first). All inputs to the ratio math are
    // exact integer counts; each metric is ONE double division (or one
    // product each side) on identical operands — no rounding needed.
    "q136_assoc_rules" -> ((s, dir) => {
      // Baskets as ONE grouped row per order (sorted distinct brand
      // list) instead of a distinct (ok, brand) table self-joined on
      // ok: the self-join shuffled the basket table twice more and its
      // two map stages raced the cold persist (the r16 eager-fill
      // experiment measured the race but the fix cost more than it
      // saved — this removes the race by removing the second and third
      // shuffle outright, §2.4). Pair semantics are identical: the
      // per-order list is DISTINCT brands, so positions i < j of the
      // sorted list emit each unordered brand pair once — the join's
      // brand_a < brand_b rows.
      val baskets = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_partkey"))
        .join(broadcast(Tables.part(s, dir)
          .select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_orderkey").as("ok"))
        .agg(sort_array(array_distinct(collect_list(col("p_brand"))))
          .as("bs"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // basket total as a broadcast 1-row aggregate (the q143/q138
      // pattern), not a separate count() action — every order with a
      // lineitem row groups to exactly one basket row
      val nBaskets = broadcast(
        baskets.agg(count(lit(1)).as("n_baskets")))
      val cnt = baskets.select(explode(col("bs")).as("brand"))
        .groupBy(col("brand")).agg(count(lit(1)).as("n"))
      val pairs = baskets
        .where(size(col("bs")) >= 2)
        .select(explode(BucketPairs.sortedPairs(col("bs"), bothDirections = false))
          .as("pr"))
        .groupBy(col("pr.id_a").as("brand_a"), col("pr.id_b").as("brand_b"))
        .agg(count(lit(1)).as("n_ab"))
      pairs
        .join(broadcast(cnt.select(col("brand").as("brand_a"), col("n").as("n_a"))),
          Seq("brand_a"))
        .join(broadcast(cnt.select(col("brand").as("brand_b"), col("n").as("n_b"))),
          Seq("brand_b"))
        .filter(col("n_ab") >= 20)
        .crossJoin(nBaskets)
        .select(col("brand_a"), col("brand_b"), col("n_ab"),
          col("n_a"), col("n_b"),
          (col("n_ab").cast("double") / col("n_baskets").cast("double"))
            .as("support"),
          (col("n_ab").cast("double") / col("n_a").cast("double")).as("conf_a_b"),
          (col("n_ab").cast("double") / col("n_b").cast("double")).as("conf_b_a"),
          ((col("n_ab").cast("double") * col("n_baskets").cast("double"))
            / (col("n_a").cast("double") * col("n_b").cast("double"))).as("lift"))
    }),

    // Rolling distinct actives (DAU / 7-day WAU): daily distincts do NOT
    // sum into a window (the same user counts once per window), so the
    // scalable shape explodes each distinct (user, day) into the ≤7
    // window-END days it serves, then distinct-counts per window — a
    // bounded ×7 fan-out of the already-deduped user-day table, never a
    // per-window rescan and never a distinct-within-window sort. Joining
    // against the observed-day dau table clamps the trailing partial
    // windows away.
    "q134_rolling_dau" -> ((s, dir) => {
      val ud = Tables.events(s, dir)
        // integer `div`, not `/`: Column `/` is double division, which
        // can misplace a µs boundary at 1e18 operands (Tables.events
        // lesson)
        .select(col("user_id"),
          expr("unix_micros(ts) div 86400000000").as("day"))
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val dau = ud.groupBy(col("day")).agg(count(lit(1)).as("dau"))
      val wau = ud
        .select(col("user_id"),
          explode(sequence(col("day"), col("day") + lit(6L))).as("wday"))
        .groupBy(col("wday")).agg(countDistinct(col("user_id")).as("wau"))
      dau.join(wau, col("day") === col("wday"))
        .select(col("day"), col("dau"), col("wau"))
    }),

    // Rolling distinct via MERGEABLE sketches — the 100 TB face of q134:
    // at scale you keep one HLL sketch per day and UNION sketches across
    // the window (constant work per window) instead of re-deduping the
    // raw user-day stream per window. Sketch estimates are
    // engine-specific, so the oracle-checked output is the q52 contract:
    // the exact count plus a within-5% boolean computed in-query (HLL on
    // fixed input is deterministic, lgK=12 ⇒ ~1.6% standard error).
    "q135_rolling_hll" -> ((s, dir) => {
      val ud = Tables.events(s, dir)
        .select(col("user_id"),
          expr("unix_micros(ts) div 86400000000").as("day"))
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val daily = ud.groupBy(col("day"))
        .agg(hll_sketch_agg(col("user_id")).as("sk"))
      val est = daily
        .select(explode(sequence(col("day"), col("day") + lit(6L))).as("wday"),
          col("sk"))
        .groupBy(col("wday"))
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      val exact = ud
        .select(col("user_id"),
          explode(sequence(col("day"), col("day") + lit(6L))).as("wday"))
        .groupBy(col("wday")).agg(countDistinct(col("user_id")).as("wau_exact"))
      exact.join(est, Seq("wday"))
        .join(ud.select(col("day").as("wday")).distinct(), Seq("wday"), "left_semi")
        .select(col("wday").as("day"), col("wau_exact"),
          (abs(col("est") - col("wau_exact")).cast("double")
            / col("wau_exact").cast("double") <= lit(0.05)).as("within_5pct"))
    }),

    // Group-wise OLS regression (trend fitting): slope/intercept/R² of
    // order value (cents) against order day, per priority — the q95
    // exact-sums discipline extended to regression. Five sums in exact
    // decimal (integer operands; at 100 TB a Long Σx·y overflows and ANSI
    // aborts the scan — decimal cannot), then the closed-form estimates
    // in double with an IDENTICAL operation sequence on both engines, so
    // results are bit-equal and partition-layout-independent. One hash
    // aggregate; nothing sorts, nothing iterates.
    "q131_regression" -> ((s, dir) => {
      val x = datediff(col("o_orderdate").cast("date"),
        lit("1970-01-01").cast("date")).cast("decimal(9,0)")
      val y = round(col("o_totalprice") * lit(100)).cast("decimal(12,0)")
      val g = Tables.orders(s, dir)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(x).as("sx"), sum(y).as("sy"),
          sum(x * x).as("sxx"), sum(x * y).as("sxy"), sum(y * y).as("syy"))
      // Every a·b − c·d term is computed EXACTLY (decimal(38,0) here,
      // HUGEINT in the oracle) and only then cast to double: a double
      // `n·sxy − sx·sy` is fair game for compiler FMA contraction, which
      // made DuckDB's r2 differ from codegen'd Java by 3 ulps at sf0.1
      // (sf0.01 happened to round the same way). After the exact step the
      // float domain sees only single multiplies and divides — no fusable
      // multiply-add shape remains on either engine. Capacity: the
      // intercept uses the reduced form (sy·sxx − sx·sxy)/d1 — identical
      // as a rational to (sy·d1 − num·sx)/(n·d1), but its widest term
      // grows as SF² (~3e25 at sf0.1) instead of SF³ (~9e32, which would
      // cross decimal(38,0)'s ~1e38 ceiling near SF 5); every term now
      // clears both engines' 128-bit/38-digit integer ceilings by many
      // orders of magnitude at any plausible SF.
      val nDec = col("n").cast("decimal(38,0)")
      val num = nDec * col("sxy") - col("sx") * col("sy")
      val d1 = nDec * col("sxx") - col("sx") * col("sx")
      val d2 = nDec * col("syy") - col("sy") * col("sy")
      val iceptNum = col("sy") * col("sxx") - col("sx") * col("sxy")
      val iceptDen = d1
      val numD = num.cast("double")
      val d1D = d1.cast("double"); val d2D = d2.cast("double")
      g.select(col("o_orderpriority"), col("n"),
        (numD / d1D).as("slope_cents_per_day"),
        (iceptNum.cast("double") / iceptDen.cast("double")).as("intercept_cents"),
        ((numD * numD) / (d1D * d2D)).as("r2"))
    }),

    // Z-order layout profile: Morton-interleave two bucketed dimensions,
    // then show each z-range's bounding box — the min/max footer stats a
    // range-partitioned-by-zvalue parquet write would give every file,
    // i.e. the file-skipping story for predicates on EITHER column (see
    // operators.ZOrder; the spec quantifies bbox tightness vs row order).
    "q99_zorder" -> ((s, dir) => {
      import graft.operators.ZOrder
      val x = (col("o_custkey") % lit(1024L)).as("x")
      val y = ZOrder.bucket(col("o_totalprice"), lo = 0.0, width = 1000.0).as("y")
      Tables.orders(s, dir)
        .select(col("o_orderkey"), x, y)
        .withColumn("zval", ZOrder.zvalue(col("x"), col("y")))
        .groupBy(shiftright(col("zval"), 12).as("zbucket"))
        .agg(count(lit(1)).as("n"),
          min(col("x")).as("min_x"), max(col("x")).as("max_x"),
          min(col("y")).as("min_y"), max(col("y")).as("max_y"))
    }),

    // Contiguous global row ids WITHOUT a single-partition window — the
    // distributed zipWithIndex (range shuffle + per-partition prefix
    // sums; see operators.Ids). The id is a pure function of the unique
    // order key, so the oracle is a plain global row_number.
    "q100_row_ids" -> ((s, dir) =>
      graft.operators.Ids.contiguousRowIds(
        Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderpriority")),
        orderCol = "o_orderkey")),

    // Explicit GROUPING SETS (the general form rollup/cube specialize) +
    // grouping() flags to tell a NULL group key from a real NULL — one
    // expand + one hash agg, same single-shuffle shape as rollup.
    "q101_grouping_sets" -> ((s, dir) =>
      Tables.orders(s, dir)
        .groupingSets(
          Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")), Seq.empty),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sumDecFast(col("o_totalprice")).as("revenue"),
          grouping(col("o_orderstatus")).cast("long").as("g_status"),
          grouping(col("o_orderpriority")).cast("long").as("g_priority"))),

    // Time-series resample + forward fill (gap-fill): hourly grid per
    // user spanning their observed range, carrying the last observed
    // value across empty hours. Every stage is keyed by user (or
    // user×hour): the grid explosion is bounded by per-user span — at
    // 100 TB clamp spans (or bucket coarser) before the sequence — and
    // the fill is one ordered window per user, never a global sort.
    // In-hour representative = value at the max event_id (unique key ⇒
    // deterministic on both engines).
    "q102_gapfill" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .filter(col("user_id") % lit(25L) === lit(0L))
        .select(col("user_id"), col("event_id"), col("value"),
          date_trunc("hour", col("ts")).as("h"))
      val obs = e.groupBy(col("user_id"), col("h"))
        .agg(max_by(col("value"), col("event_id")).as("v"),
             count(lit(1)).as("n_obs"))
      val grid = obs.groupBy(col("user_id"))
        .agg(min(col("h")).as("lo"), max(col("h")).as("hi"))
        .select(col("user_id"),
          explode(sequence(col("lo"), col("hi"), expr("interval 1 hour"))).as("h"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("h"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(obs, Seq("user_id", "h"), "left_outer")
        .select(col("user_id"), unix_seconds(col("h")).as("hour_s"),
          last(col("v"), ignoreNulls = true).over(w).as("filled"),
          coalesce(col("n_obs"), lit(0L)).as("n_obs"))
    }),

    // Ordered-sequence funnel (signup → click → purchase, each step
    // within 12 h of the previous): ONE shuffle on user_id, then a
    // per-user sorted fold — no joins, no window sorts. The oracle is the
    // equivalent 3-stage CTE chain; the fold computes the same
    // "min qualifying timestamp per step" because events are folded in
    // (ts, type) order and each step slot is written once. At 100 TB the
    // pre-groupBy filter keeps only funnel event types in the shuffle,
    // and per-user event lists are the only state — bounded by user
    // activity, never corpus size.
    "q103_funnel" -> ((s, dir) => {
      val gapUs = lit(12L * 3600L * 1000000L)
      val nullT = lit(null).cast("long")
      val folded = Tables.events(s, dir)
        .filter(col("event_type").isin("signup", "click", "purchase"))
        .groupBy(col("user_id"))
        .agg(sort_array(collect_list(struct(
          unix_micros(col("ts")).as("t"), col("event_type").as("e")))).as("seq"))
        .select(aggregate(
          col("seq"),
          struct(nullT.as("t1"), nullT.as("t2"), nullT.as("t3")),
          (acc, x) => {
            val (t1, t2, t3) = (acc.getField("t1"), acc.getField("t2"), acc.getField("t3"))
            val (t, e) = (x.getField("t"), x.getField("e"))
            val setT1 = t1.isNull && e === lit("signup")
            val setT2 = t1.isNotNull && t2.isNull && e === lit("click") &&
              t > t1 && t - t1 <= gapUs
            val setT3 = t2.isNotNull && t3.isNull && e === lit("purchase") &&
              t > t2 && t - t2 <= gapUs
            struct(
              when(setT1, t).otherwise(t1).as("t1"),
              when(setT2, t).otherwise(t2).as("t2"),
              when(setT3, t).otherwise(t3).as("t3"))
          }).as("f"))
      folded.agg(
        count(col("f.t1")).as("step1_users"),
        count(col("f.t2")).as("step2_users"),
        count(col("f.t3")).as("step3_users"),
        coalesce(sum(col("f.t3") - col("f.t1")), lit(0L)).cast("long")
          .as("total_convert_us"))
    }),

    // Cohort retention triangle: cohort = ISO week of first activity;
    // one row per (cohort, week offset) counting distinct active users.
    // Both aggregations and the join share the user_id key — at scale the
    // first-event agg and the distinct-activity agg co-partition, and
    // only the final (cohort, week_k) rollup reshuffles (tiny: weeks²).
    "q104_retention" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .select(col("user_id"), date_trunc("week", col("ts")).as("w"))
      val firstEv = e.groupBy(col("user_id")).agg(min(col("w")).as("cohort"))
      val activity = e.distinct()
      activity.join(firstEv, Seq("user_id"))
        .groupBy(
          unix_seconds(col("cohort")).as("cohort_s"),
          ((unix_seconds(col("w")) - unix_seconds(col("cohort"))) / lit(604800L))
            .cast("long").as("week_k"))
        .agg(count(lit(1)).as("active_users"))
    }),

    // Triangle census of the FREQUENT part co-occurrence graph (pairs
    // sharing ≥ 2 orders — the market-basket support threshold). The
    // threshold is the load-bearing scale decision: over a fixed part
    // catalog, the raw co-occurrence graph densifies LINEARLY with the
    // fact table (measured: 116k edges at sf0.01 → 1.2M at sf0.1 on the
    // same 20k nodes), so at 100 TB nobody builds it raw — support
    // thresholding keeps the graph at the size of the stable signal
    // (~3.7k edges at BOTH SFs here). Edge build: self-join on the order
    // key (pairs-per-order is dim-bounded) + one count agg. Counting runs
    // through Triangles.summary — degree-ordered orientation bounds the
    // wedge join at Σ outdeg² ≤ O(m^1.5) under ANY degree skew; the naive
    // Σ deg² shape melts on the first celebrity node at 100 TB.
    "q105_triangles" -> ((s, dir) =>
      graft.operators.Triangles.summary(frequentCoEdges(s, dir))),

    // Integer-quantized PageRank (3 damped rounds) on the symmetrized
    // part co-occurrence graph. Micro-unit arithmetic makes the iterative
    // computation bit-exact at any parallelism (see operators/PageRank);
    // per round: one co-keyed hash join + one aggregation shuffle, rank
    // state is per-node, the edge⋈outdeg table is built once.
    "q106_pagerank" -> ((s, dir) => {
      // persist the support-filtered edge build: the symmetrizing union
      // consumes `pairs` twice, and without the persist each branch runs
      // the lineitem self-join + count from scratch (measured: 7.6 s →
      // ~3 s at sf0.1)
      val pairs = frequentCoEdges(s, dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val edges = pairs.select(col("u").as("src"), col("v").as("dst"))
        .unionAll(pairs.select(col("v").as("src"), col("u").as("dst")))
      graft.operators.PageRank.ranks(edges, iters = 3)
    }),

    // Generic top-k per group through the bounded TopKAggregator: partial
    // aggregation keeps AT MOST k rows per (partition, group) before the
    // shuffle — a ranking window would sort and shuffle EVERY row of
    // every group to rank it. The same operator the ANN family uses,
    // exposed as plain relational top-N-per-key.
    "q116_topk_per_group" -> ((s, dir) => {
      import s.implicits._
      val topk = Tables.orders(s, dir)
        .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
        .as[(String, Long, Double)]
        .groupByKey(_._1).mapValues(r => (r._2, r._3))
        .agg(new TopKAggregator(3, TopKAggregator.ScoreDesc).toColumn.name("top"))
        .toDF("o_orderpriority", "top")
      topk.select(col("o_orderpriority"),
          posexplode(col("top")).as(Seq("pos0", "t")))
        .select(col("o_orderpriority"),
          (col("pos0") + lit(1)).cast("long").as("pos"),
          col("t._1").as("o_orderkey"),
          col("t._2").as("o_totalprice"))
    }),

    // Ratio-to-report: each (month, priority)'s share of the month's
    // revenue. The denominator is an EXACT decimal window sum — summing
    // doubles over a window is partition-order-dependent and diverges
    // between engines; decimal totals are exact, and the single double
    // division per row happens on identical operands.
    "q117_ratio_to_report" -> ((s, dir) => {
      val w = Window.partitionBy(col("month"))
      Tables.orders(s, dir)
        .groupBy(unix_millis(date_trunc("month", col("o_orderdate"))).as("month"),
          col("o_orderpriority"))
        .agg(sumDecFast(col("o_totalprice")).as("rev"))
        .withColumn("share",
          col("rev").cast("double") / sum(col("rev")).over(w).cast("double"))
    }),

    // Trailing 7-day revenue per priority over a RANGE frame: the frame
    // is bounded by the ORDER value (event-time days), not row counts,
    // so gaps in the series shorten the window instead of reaching back
    // arbitrarily far. The rolling sum is decimal-exact — a double
    // running sum would drift differently per engine and partition order.
    // One shuffle (the daily rollup); the window re-sorts only within
    // each priority's day series.
    "q118_moving_window" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_orderpriority")).orderBy(col("day_ms"))
        .rangeBetween(-6L * 86400000L, 0L)
      Tables.orders(s, dir)
        .groupBy(col("o_orderpriority"),
          unix_millis(date_trunc("day", col("o_orderdate"))).as("day_ms"))
        .agg(sumDecFast(col("o_totalprice")).as("rev"))
        .withColumn("rev7", sum(col("rev")).over(w).cast("decimal(38,2)"))
    }),

    // Nested array aggregation: per-language sorted distinct source list +
    // scalar list probes. collect_set is unordered by construction —
    // array_sort makes the value deterministic (same discipline as every
    // list-valued oracle in this repo).
    "q96_array_funcs" -> ((s, dir) => {
      Tables.documents(s, dir)
        .groupBy(col("lang"))
        .agg(
          // Serialized to a CSV string at the oracle surface: the driver's
          // pandas compare sort_values-es every cell and a raw list column
          // is unhashable there (r04: q96 scored as an error). The sorted
          // in-group order keeps it deterministic at any parallelism.
          concat_ws(",", array_sort(collect_set(col("source"))))
            .as("sources"),
          countDistinct(col("source")).as("n_sources"),
          bool_or(col("source") === lit("src14")).as("has_src14"),
          min(col("source")).as("first_source"))
    }),

    // Ordered string aggregation (LISTAGG / string_agg / group_concat —
    // the one classic SQL aggregate with no single portable name): an
    // explicit in-group ORDER makes the result deterministic at any
    // parallelism — an unordered concat differs per partition layout on
    // BOTH engines. Collect→sort→join inside the hash aggregate; group
    // cardinality (nations per region) bounds the state, and the join
    // keys stay broadcast-sized.
    "q129_string_agg" -> ((s, dir) => {
      val joined = Tables.nation(s, dir)
        .join(Tables.region(s, dir),
          col("n_regionkey") === col("r_regionkey"))
      joined.groupBy(col("r_name"))
        .agg(
          array_join(array_sort(collect_list(col("n_name"))), ",").as("nations_csv"),
          concat_ws("|",
            transform(array_sort(collect_list(struct(col("n_nationkey").as("k")))),
              x => x.getField("k").cast("string"))).as("keys_piped"),
          count(lit(1)).as("n_nations"))
    })
  )

  val oracles: Map[String, String] = Map(
    "q89_pivot" ->
      """SELECT source,
         count(*) FILTER (WHERE lang = 'de') AS de,
         count(*) FILTER (WHERE lang = 'en') AS en,
         count(*) FILTER (WHERE lang = 'es') AS es,
         count(*) FILTER (WHERE lang = 'fr') AS fr,
         count(*) FILTER (WHERE lang = 'zh') AS zh
         FROM documents GROUP BY source""",
    "q97_unpivot" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
           'l_quantity' AS metric, l_quantity AS val
         FROM lineitem WHERE l_quantity > 49
         UNION ALL
         SELECT l_orderkey, CAST(l_linenumber AS BIGINT), 'l_discount', l_discount
         FROM lineitem WHERE l_quantity > 49
         UNION ALL
         SELECT l_orderkey, CAST(l_linenumber AS BIGINT), 'l_tax', l_tax
         FROM lineitem WHERE l_quantity > 49""",
    "q90_fuzzy_dedup" ->
      """SELECT a.p_brand AS brand, count(*) AS n_pairs,
         CAST(min(levenshtein(a.p_name, b.p_name)) AS BIGINT) AS min_lev
         FROM part a JOIN part b
           ON a.p_brand = b.p_brand AND a.p_size = b.p_size
          AND a.p_partkey < b.p_partkey
         WHERE levenshtein(a.p_name, b.p_name) <= 6
         GROUP BY a.p_brand""",
    "q91_argmax" ->
      """SELECT o_orderpriority,
         arg_max(o_totalprice, o_orderkey) AS latest_price,
         arg_min(o_totalprice, o_orderkey) AS earliest_price,
         max(o_orderkey) AS latest_key
         FROM orders GROUP BY o_orderpriority""",
    "q92_window_suite" ->
      """SELECT o_orderpriority, o_orderkey,
         percent_rank() OVER run AS pct_rank,
         cume_dist() OVER run AS cume,
         first_value(o_orderkey) OVER wfull AS first_key,
         last_value(o_orderkey) OVER wfull AS last_key,
         nth_value(o_orderkey, 2) OVER wfull AS second_key,
         lag(o_orderkey, 1, -1) OVER run AS prev_key
         FROM orders WHERE o_totalprice > 400000
         WINDOW run AS (PARTITION BY o_orderpriority ORDER BY o_orderkey),
                wfull AS (PARTITION BY o_orderpriority ORDER BY o_orderkey
                          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""",
    "q93_cross_join" ->
      """SELECT r_name, n_name,
         CAST(r_regionkey * 100 + n_nationkey AS BIGINT) AS pair_id
         FROM region CROSS JOIN nation""",
    "q116_topk_per_group" ->
      """SELECT o_orderpriority, CAST(rn AS BIGINT) AS pos, o_orderkey, o_totalprice
         FROM (
           SELECT o_orderpriority, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_orderpriority
               ORDER BY o_totalprice DESC, o_orderkey) AS rn
           FROM orders)
         WHERE rn <= 3""",
    "q117_ratio_to_report" ->
      """WITH m AS (
           SELECT epoch_ms(date_trunc('month', o_orderdate)) AS month,
             o_orderpriority,
             CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DECIMAL(38,2)) AS rev
           FROM orders GROUP BY 1, 2)
         SELECT month, o_orderpriority, rev,
           CAST(rev AS DOUBLE)
             / CAST(sum(rev) OVER (PARTITION BY month) AS DOUBLE) AS share
         FROM m""",
    "q118_moving_window" ->
      """WITH d AS (
           SELECT o_orderpriority,
             epoch_ms(date_trunc('day', o_orderdate)) AS day_ms,
             CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DECIMAL(38,2)) AS rev
           FROM orders GROUP BY 1, 2)
         SELECT o_orderpriority, day_ms, rev,
           CAST(sum(rev) OVER (PARTITION BY o_orderpriority ORDER BY day_ms
             RANGE BETWEEN 518400000 PRECEDING AND CURRENT ROW)
             AS DECIMAL(38,2)) AS rev7
         FROM d""",
    "q94_histogram" ->
      """SELECT CAST(least(floor(o_totalprice / 50000.0), 19) AS BIGINT) AS bucket,
         count(*) AS n,
         sum(CAST(o_totalprice AS DECIMAL(14,2))) AS total
         FROM orders GROUP BY 1""",
    "q95_stats_exact" ->
      """WITH b AS (
           SELECT l_returnflag,
             CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS qc,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS pc
           FROM lineitem),
         g AS (
           SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
             CAST(count(*) AS HUGEINT) AS nh,
             CAST(sum(qc) AS HUGEINT) AS sx, CAST(sum(pc) AS HUGEINT) AS sy,
             CAST(sum(qc * qc) AS HUGEINT) AS sxx,
             CAST(sum(pc * pc) AS HUGEINT) AS syy,
             CAST(sum(qc * pc) AS HUGEINT) AS sxy
           FROM b GROUP BY 1),
         t AS (
           SELECT l_returnflag, n,
             CAST(CAST(nh * sxy - sx * sy AS VARCHAR) AS DOUBLE) AS num,
             CAST(CAST(nh * sxx - sx * sx AS VARCHAR) AS DOUBLE) AS d1,
             CAST(CAST(nh * syy - sy * sy AS VARCHAR) AS DOUBLE) AS d2,
             CAST(n AS DOUBLE) AS n_d
           FROM g)
         SELECT l_returnflag, n,
           num / (sqrt(d1) * sqrt(d2)) AS corr_qty_price,
           sqrt(d2 / (n_d * (n_d - 1.0))) / 100.0 AS stddev_price
         FROM t""",
    "q99_zorder" -> {
      val xSql = "o_custkey % 1024"
      val ySql = "CAST(least(greatest(floor((o_totalprice - 0.0) / 1000.0), 0.0), 1023.0) AS BIGINT)"
      s"""SELECT ${graft.operators.ZOrder.zvalueSql(xSql, ySql)} >> 12 AS zbucket,
         count(*) AS n,
         min($xSql) AS min_x, max($xSql) AS max_x,
         min($ySql) AS min_y, max($ySql) AS max_y
         FROM orders GROUP BY 1"""
    },
    "q100_row_ids" ->
      """SELECT o_orderkey, o_orderpriority,
         row_number() OVER (ORDER BY o_orderkey) AS rid
         FROM orders""",
    "q101_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
         sum(CAST(o_totalprice AS DECIMAL(14,2))) AS revenue,
         CAST(grouping(o_orderstatus) AS BIGINT) AS g_status,
         CAST(grouping(o_orderpriority) AS BIGINT) AS g_priority
         FROM orders
         GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""",
    "q102_gapfill" ->
      """WITH e AS (SELECT user_id, event_id, value, date_trunc('hour', ts) AS h
           FROM events WHERE user_id % 25 = 0),
         obs AS (SELECT user_id, h, arg_max(value, event_id) AS v,
             CAST(count(*) AS BIGINT) AS n_obs FROM e GROUP BY 1, 2),
         span AS (SELECT user_id, min(h) AS lo, max(h) AS hi FROM obs GROUP BY 1),
         grid AS (SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
           FROM span)
         SELECT g.user_id, CAST(epoch(g.h) AS BIGINT) AS hour_s,
           last_value(o.v IGNORE NULLS) OVER (PARTITION BY g.user_id ORDER BY g.h
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled,
           coalesce(o.n_obs, 0) AS n_obs
         FROM grid g LEFT JOIN obs o ON g.user_id = o.user_id AND g.h = o.h""",
    "q103_funnel" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
           WHERE event_type = 'signup' GROUP BY 1),
         s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN s1 USING (user_id)
           WHERE e.event_type = 'click' AND e.ts > s1.t1
             AND epoch_us(e.ts) - epoch_us(s1.t1) <= 43200000000 GROUP BY 1),
         s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN s2 USING (user_id)
           WHERE e.event_type = 'purchase' AND e.ts > s2.t2
             AND epoch_us(e.ts) - epoch_us(s2.t2) <= 43200000000 GROUP BY 1)
         SELECT (SELECT CAST(count(*) AS BIGINT) FROM s1) AS step1_users,
           (SELECT CAST(count(*) AS BIGINT) FROM s2) AS step2_users,
           (SELECT CAST(count(*) AS BIGINT) FROM s3) AS step3_users,
           (SELECT CAST(coalesce(sum(epoch_us(s3.t3) - epoch_us(s1.t1)), 0) AS BIGINT)
              FROM s3 JOIN s1 USING (user_id)) AS total_convert_us""",
    "q104_retention" ->
      """WITH first_ev AS (SELECT user_id, date_trunc('week', min(ts)) AS cohort
           FROM events GROUP BY 1),
         activity AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS w FROM events)
         SELECT CAST(epoch(f.cohort) AS BIGINT) AS cohort_s,
           CAST((epoch(a.w) - epoch(f.cohort)) / 604800 AS BIGINT) AS week_k,
           CAST(count(*) AS BIGINT) AS active_users
         FROM activity a JOIN first_ev f USING (user_id)
         GROUP BY 1, 2""",
    "q105_triangles" ->
      """WITH pairs AS (
           SELECT a.l_partkey AS u, b.l_partkey AS v
           FROM lineitem a JOIN lineitem b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
           GROUP BY 1, 2 HAVING count(*) >= 2),
         deg AS (SELECT node, CAST(count(*) AS BIGINT) AS d FROM
           (SELECT u AS node FROM pairs UNION ALL SELECT v AS node FROM pairs)
           GROUP BY 1)
         SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
           (SELECT CAST(count(*) AS BIGINT) FROM pairs) AS n_edges,
           (SELECT CAST(sum(d * (d - 1) / 2) AS BIGINT) FROM deg) AS n_wedges,
           (SELECT CAST(count(*) AS BIGINT) FROM pairs p1
              JOIN pairs p2 ON p2.u = p1.v
              JOIN pairs p3 ON p3.u = p1.u AND p3.v = p2.v) AS n_triangles""",
    "q106_pagerank" ->
      """WITH pairs AS (
           SELECT a.l_partkey AS u, b.l_partkey AS v
           FROM lineitem a JOIN lineitem b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
           GROUP BY 1, 2 HAVING count(*) >= 2),
         edges AS (SELECT u AS src, v AS dst FROM pairs
                   UNION ALL SELECT v AS src, u AS dst FROM pairs),
         outdeg AS (SELECT src, CAST(count(*) AS BIGINT) AS od FROM edges GROUP BY 1),
         p0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS pr FROM outdeg),
         p1 AS (SELECT e.dst AS node,
                  CAST(150000 + sum((p.pr * 17) // (20 * o.od)) AS BIGINT) AS pr
                FROM edges e JOIN p0 p ON e.src = p.node
                JOIN outdeg o ON e.src = o.src GROUP BY 1),
         p2 AS (SELECT e.dst AS node,
                  CAST(150000 + sum((p.pr * 17) // (20 * o.od)) AS BIGINT) AS pr
                FROM edges e JOIN p1 p ON e.src = p.node
                JOIN outdeg o ON e.src = o.src GROUP BY 1),
         p3 AS (SELECT e.dst AS node,
                  CAST(150000 + sum((p.pr * 17) // (20 * o.od)) AS BIGINT) AS pr
                FROM edges e JOIN p2 p ON e.src = p.node
                JOIN outdeg o ON e.src = o.src GROUP BY 1)
         SELECT node, pr FROM p3""",
    "q96_array_funcs" ->
      """SELECT lang,
         array_to_string(list(DISTINCT source ORDER BY source), ',') AS sources,
         count(DISTINCT source) AS n_sources,
         bool_or(source = 'src14') AS has_src14,
         min(source) AS first_source
         FROM documents GROUP BY lang""",
    "q142_scd2_build" ->
      """WITH ch AS (
           SELECT o_custkey, o_orderdate, o_orderkey, o_orderpriority,
             lag(o_orderpriority) OVER (PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey) AS prev
           FROM orders),
         surv AS (SELECT * FROM ch
           WHERE prev IS DISTINCT FROM o_orderpriority)
         SELECT o_custkey,
           CAST(row_number() OVER w AS BIGINT) AS version,
           o_orderpriority AS priority,
           o_orderdate AS valid_from,
           lead(o_orderdate) OVER w AS valid_to
         FROM surv
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""",
    "q147_bfs_reach" ->
      """WITH RECURSIVE e AS (
           SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         walk(p, hops) AS (
           SELECT (SELECT min(p) FROM e) AS p, CAST(0 AS BIGINT) AS hops
           UNION
           SELECT e2.p, walk.hops + 1
           FROM walk
           JOIN e e1 ON e1.p = walk.p
           JOIN e e2 ON e2.o = e1.o
           WHERE walk.hops < 3)
         SELECT p AS p_partkey, CAST(min(hops) AS BIGINT) AS hops
         FROM walk GROUP BY p""",
    "q148_skyline" ->
      """WITH m AS (SELECT p_size AS size, min(p_retailprice) AS price
           FROM part GROUP BY 1)
         SELECT CAST(size AS BIGINT) AS size, price
         FROM m a
         WHERE NOT EXISTS (SELECT 1 FROM m b
           WHERE b.size < a.size AND b.price <= a.price)""",
    "q149_bitmap_distinct" ->
      """SELECT event_type,
         CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
         CAST(count(DISTINCT user_id // 64) AS BIGINT) AS n_chunks
         FROM events GROUP BY event_type""",
    "q145_pit_join" ->
      """WITH ch AS (
           SELECT o_custkey, o_orderdate, o_orderkey, o_orderpriority,
             lag(o_orderpriority) OVER (PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey) AS prev
           FROM orders),
         surv AS (SELECT * FROM ch
           WHERE prev IS DISTINCT FROM o_orderpriority),
         dim AS (SELECT o_custkey,
             CAST(row_number() OVER w AS BIGINT) AS version,
             o_orderpriority AS priority,
             o_orderdate AS valid_from,
             lead(o_orderdate) OVER w AS valid_to
           FROM surv
           WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey))
         SELECT f.o_orderkey, f.o_custkey, d.version,
           d.priority AS priority_at_order
         FROM orders f JOIN dim d ON f.o_custkey = d.o_custkey
           AND f.o_orderdate >= d.valid_from
           AND (d.valid_to IS NULL OR f.o_orderdate < d.valid_to)""",
    "q138_pareto" ->
      """WITH cust AS (
           SELECT o_custkey,
             CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DECIMAL(38,2)) AS rev
           FROM orders GROUP BY 1),
         tot AS (SELECT CAST(sum(rev) AS DECIMAL(38,2)) AS total FROM cust),
         r AS (SELECT rev,
             CAST(sum(rev) OVER (ORDER BY rev DESC, o_custkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS DECIMAL(38,2)) AS cum
           FROM cust),
         coded AS (SELECT
             CASE WHEN CAST(cum AS DOUBLE) / CAST(total AS DOUBLE) <= 0.8 THEN 'A'
                  WHEN CAST(cum AS DOUBLE) / CAST(total AS DOUBLE) <= 0.95 THEN 'B'
                  ELSE 'C' END AS pareto_class, rev
           FROM r, tot)
         SELECT pareto_class, CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(rev) AS DECIMAL(38,2)) AS class_revenue
         FROM coded GROUP BY 1""",
    "q137_rfm" ->
      """WITH cust AS (
           SELECT o_custkey,
             max(epoch_ms(o_orderdate) // 86400000) AS last_day,
             CAST(count(*) AS BIGINT) AS f,
             CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DECIMAL(38,2)) AS m
           FROM orders GROUP BY 1),
         mx AS (SELECT max(last_day) AS corpus_max FROM cust),
         rfm AS (SELECT o_custkey, f, m, corpus_max - last_day AS r
                 FROM cust, mx),
         b AS (SELECT
             quantile_cont(CAST(r AS DOUBLE), [0.25, 0.5, 0.75]) AS rq,
             quantile_cont(CAST(f AS DOUBLE), [0.25, 0.5, 0.75]) AS fq,
             quantile_cont(CAST(m AS DOUBLE), [0.25, 0.5, 0.75]) AS mq
           FROM rfm),
         coded AS (SELECT
             CAST(CASE WHEN CAST(r AS DOUBLE) <= rq[1] THEN 1
                       WHEN CAST(r AS DOUBLE) <= rq[2] THEN 2
                       WHEN CAST(r AS DOUBLE) <= rq[3] THEN 3
                       ELSE 4 END AS BIGINT) AS r_bin,
             CAST(CASE WHEN CAST(f AS DOUBLE) <= fq[1] THEN 1
                       WHEN CAST(f AS DOUBLE) <= fq[2] THEN 2
                       WHEN CAST(f AS DOUBLE) <= fq[3] THEN 3
                       ELSE 4 END AS BIGINT) AS f_bin,
             CAST(CASE WHEN CAST(m AS DOUBLE) <= mq[1] THEN 1
                       WHEN CAST(m AS DOUBLE) <= mq[2] THEN 2
                       WHEN CAST(m AS DOUBLE) <= mq[3] THEN 3
                       ELSE 4 END AS BIGINT) AS m_bin,
             m
           FROM rfm, b)
         SELECT r_bin, f_bin, m_bin,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(m) AS DECIMAL(38,2)) AS segment_revenue
         FROM coded GROUP BY 1, 2, 3""",
    "q136_assoc_rules" ->
      """WITH baskets AS (
           SELECT DISTINCT l_orderkey AS ok, p_brand AS brand
           FROM lineitem JOIN part ON l_partkey = p_partkey),
         nb AS (SELECT CAST(count(DISTINCT ok) AS DOUBLE) AS n_baskets FROM baskets),
         cnt AS (SELECT brand, CAST(count(*) AS BIGINT) AS n
                 FROM baskets GROUP BY 1),
         pairs AS (SELECT a.brand AS brand_a, b.brand AS brand_b,
             CAST(count(*) AS BIGINT) AS n_ab
           FROM baskets a JOIN baskets b
             ON a.ok = b.ok AND a.brand < b.brand
           GROUP BY 1, 2)
         SELECT brand_a, brand_b, n_ab, ca.n AS n_a, cb.n AS n_b,
           CAST(n_ab AS DOUBLE) / nb.n_baskets AS support,
           CAST(n_ab AS DOUBLE) / CAST(ca.n AS DOUBLE) AS conf_a_b,
           CAST(n_ab AS DOUBLE) / CAST(cb.n AS DOUBLE) AS conf_b_a,
           (CAST(n_ab AS DOUBLE) * nb.n_baskets)
             / (CAST(ca.n AS DOUBLE) * CAST(cb.n AS DOUBLE)) AS lift
         FROM pairs
         JOIN cnt ca ON pairs.brand_a = ca.brand
         JOIN cnt cb ON pairs.brand_b = cb.brand, nb
         WHERE n_ab >= 20""",
    "q135_rolling_hll" ->
      """WITH ud AS (
           SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
           FROM events),
         wau AS (SELECT w.wday, CAST(count(DISTINCT u.user_id) AS BIGINT) AS wau_exact
                 FROM ud u
                 JOIN LATERAL (SELECT u.day + x AS wday
                   FROM (SELECT unnest(generate_series(0, 6)) AS x)) w ON true
                 GROUP BY 1)
         SELECT wday AS day, wau_exact, TRUE AS within_5pct
         FROM wau WHERE wday IN (SELECT day FROM ud)""",
    "q134_rolling_dau" ->
      """WITH ud AS (
           SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
           FROM events),
         dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau
                 FROM ud GROUP BY 1),
         wau AS (SELECT w.wday, CAST(count(DISTINCT u.user_id) AS BIGINT) AS wau
                 FROM ud u
                 JOIN LATERAL (SELECT u.day + x AS wday
                   FROM (SELECT unnest(generate_series(0, 6)) AS x)) w ON true
                 GROUP BY 1)
         SELECT d.day, d.dau, w.wau
         FROM dau d JOIN wau w ON d.day = w.wday""",
    "q131_regression" ->
      """WITH b AS (
           SELECT o_orderpriority,
             CAST(epoch_ms(o_orderdate) // 86400000 AS DECIMAL(9,0)) AS x,
             CAST(round(o_totalprice * 100) AS DECIMAL(12,0)) AS y
           FROM orders),
         g AS (
           SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
             CAST(count(*) AS HUGEINT) AS nh,
             CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
             CAST(sum(x * x) AS HUGEINT) AS sxx,
             CAST(sum(x * y) AS HUGEINT) AS sxy,
             CAST(sum(y * y) AS HUGEINT) AS syy
           FROM b GROUP BY 1),
         t AS (
           SELECT o_orderpriority, n,
             nh * sxy - sx * sy AS num,
             nh * sxx - sx * sx AS d1,
             nh * syy - sy * sy AS d2
           FROM g),
         u AS (
           SELECT t.*, g.sy * g.sxx - g.sx * g.sxy AS icept_num,
             d1 AS icept_den
           FROM t JOIN g USING (o_orderpriority))
         SELECT o_orderpriority, n,
           CAST(CAST(num AS VARCHAR) AS DOUBLE)
             / CAST(CAST(d1 AS VARCHAR) AS DOUBLE) AS slope_cents_per_day,
           CAST(CAST(icept_num AS VARCHAR) AS DOUBLE)
             / CAST(CAST(icept_den AS VARCHAR) AS DOUBLE) AS intercept_cents,
           (CAST(CAST(num AS VARCHAR) AS DOUBLE) * CAST(CAST(num AS VARCHAR) AS DOUBLE))
             / (CAST(CAST(d1 AS VARCHAR) AS DOUBLE)
                * CAST(CAST(d2 AS VARCHAR) AS DOUBLE)) AS r2
         FROM u""",
    "q129_string_agg" ->
      """SELECT r_name,
         string_agg(n_name, ',' ORDER BY n_name) AS nations_csv,
         string_agg(CAST(n_nationkey AS VARCHAR), '|'
           ORDER BY n_nationkey) AS keys_piped,
         CAST(count(*) AS BIGINT) AS n_nations
         FROM nation JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name"""
  )
}
