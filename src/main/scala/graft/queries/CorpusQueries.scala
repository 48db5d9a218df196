package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.llm.TextFunctions

/** Round-8 widening: corpus-surgery operators a training-data pipeline
  * runs BETWEEN near-dup detection and mixing — sub-document (chunk)
  * dedup with document reassembly (the RefinedWeb/CCNet paragraph-dedup
  * analog, expressed over fixed token windows because the fixture text
  * has no newline structure), cross-document n-gram repetition mass
  * (the boilerplate screen), and pairwise corpus drift between sources
  * (Jensen–Shannon divergence over unigram distributions). Every query
  * carries a DuckDB oracle.
  *
  * Scale notes (100 TB posture):
  *  - q232/q233 chunk tables are corpus-sized but never wider than
  *    (ids, 64-bit chunk hash, token count): the chunk STRING collapses
  *    to `portableHash` before any shuffle, so the dedup groupBy and the
  *    join back are both keyed on a fixed-width long. First-occurrence
  *    keep is a single hash aggregate (min of an encoded (doc, idx)
  *    key) — no windows, no sorts.
  *  - q234 collapses the corpus in the first (source, token) hash
  *    aggregate; everything after runs on per-source vocabularies
  *    (a token-keyed self-join producing |vocab|·O(sources²) rows,
  *    nothing corpus-sized). Divergence terms follow the established
  *    float discipline: exact decimal products inside `ln`, one
  *    fixed-order float expression per row, 1e-9-grid quantization
  *    before the order-independent sum.
  */
object CorpusQueries {

  /** Shared by q235/q236: per-vector squared-L2 distance to every
    * label centroid, all in EXACT integer math on the KMeans 2^14 grid
    * (quantized vectors, round-half-up integer centroid coordinates) —
    * floats appear only downstream, once per output value. Shape:
    * one (label, dim) hash aggregate builds the ≤|labels|·64-row
    * centroid table; the distance pass is a broadcast nested-loop over
    * that tiny table (corpus never shuffles).
    */
  /** (vec_id, label, qv): the grid-quantized embedding table. */
  private def quantizedVectors(s: SparkSession, dir: String): DataFrame =
    graft.core.Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"),
        graft.operators.KMeans.quantize(col("embedding")).as("qv"))

  /** (label, pos, sv, n): per-label per-dim coordinate sums/counts —
    * the ONE corpus aggregate every centroid consumer derives from.
    */
  private def centroidParts(q: DataFrame): DataFrame =
    q.select(col("label"), posexplode(col("qv")))
      .groupBy(col("label"), col("pos"))
      .agg(sum(col("col")).as("sv"), count(lit(1)).as("n"))

  /** (label, pos, n, cv): round-half-up integer centroid coordinates
    * on the KMeans grid — THE rounding form (same as KMeans.oracleSql
    * and the centroidCtes oracle twin). q235/q236/q247 all band on it;
    * change it here or nowhere.
    */
  private def centroidCv(parts: DataFrame): DataFrame =
    parts.select(col("label"), col("pos"), col("n"),
      floor((lit(2) * col("sv") + col("n")) / (lit(2.0) * col("n")))
        .cast("long").as("cv"))

  /** (label, cvec): centroid coordinate arrays in dim order. */
  private def centroidVecs(cm: DataFrame): DataFrame =
    cm.groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("pos"), col("cv")))).as("pc"))
      .select(col("label"),
        transform(col("pc"), x => x.getField("cv")).as("cvec"))

  private def centroidDistances(s: SparkSession, dir: String): DataFrame = {
    val q = quantizedVectors(s, dir)
    val cents = centroidVecs(centroidCv(centroidParts(q)))
      .select(col("label").as("clabel"), col("cvec"))
    q.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("label"), col("clabel"),
        aggregate(zip_with(col("qv"), col("cvec"), (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, v) => acc + v).as("dist"))
  }

  // chunking/hashing lives in graft.llm.ChunkDedup (shared with the
  // StreamingChunkDedup twin so both faces band identically)
  private def chunks(t: org.apache.spark.sql.Column, c: Int, seed: Int) =
    graft.llm.ChunkDedup.chunkStructs(t, c, seed)

  /** Shared by q244/q245/q248 (and the same convention as StatsQueries'
    * q226 Spearman): lineitem collapsed onto the ≤550-cell exact-integer
    * (quantity, discount-percent) contingency, persisted. The whole
    * correlation family banks on ONE rounding convention — change it
    * here or nowhere.
    */
  private def quantityDiscountCells(s: SparkSession, dir: String): DataFrame =
    graft.core.Tables.lineitem(s, dir)
      .groupBy(col("l_quantity").cast("long").as("x"),
        round(col("l_discount") * 100).cast("long").as("y"))
      .agg(count(lit(1)).as("c"))
      .transform(graft.core.Caching.persist)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Chunk-sharing communities: connected components over the graph
    // whose edges join documents sharing ≥ 2 exact 20-token chunks —
    // dedup clustering at SUB-document granularity (template families,
    // quote chains, mirror fragments), where minhash clustering (q67)
    // sees whole-doc similarity and q232's first-occurrence sees single
    // chunks. Boilerplate-frequency chunks (df > 100 docs) are excluded
    // before the pair join — they carry no community signal (q271's
    // screen owns them) AND they are exactly what would make the
    // per-chash self-join quadratic; with the cap, pair work is
    // Σ df² ≤ 100·Σ df. Components run through the alternating-star
    // `connectedComponents` (O(log n) rounds, any graph shape).
    "q281_chunk_communities" -> ((s, dir) => {
      val docs = graft.core.Tables.documents(s, dir)
      val cd = graft.llm.ChunkDedup
        .chunkMembership(docs, "doc_id", "text", 20, 7)
        .select(col("chash"), col("doc_id")).distinct()
        // plain persist, NOT the eager materialize: the chunk-hash fill
        // is cheap, and the measured extra count pass cost more than
        // the concurrent-consumer race it prevents (r16: 1.95 → 2.78 s
        // eager, reverted)
        .transform(graft.core.Caching.persist)
      val shared = cd.groupBy(col("chash"))
        .agg(count(lit(1)).as("df"))
        .where(col("df") >= 2L && col("df") <= 100L)
        .select(col("chash"))
      // pairs generated INSIDE each chunk bucket from one grouped
      // aggregation instead of self-joining the eligible stream on
      // chash (r17 LshGuard/co-edge rewrite, §2.4): one shuffle of the
      // membership rows, no second join side. The df census above runs
      // FIRST (count only, safe at any skew) so every collected bucket
      // is ≤ 100 docs; cd rows are distinct (chash, doc_id), so each doc
      // pair comes out once per shared chunk with doc_a < doc_b —
      // identical to the join's a < b rows.
      val edges = cd.join(shared, Seq("chash"), "left_semi")
        .groupBy(col("chash"))
        .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
        .select(explode(graft.operators.BucketPairs.sortedPairs(
          col("ds"), bothDirections = false)).as("pr"))
        .groupBy(col("pr.id_a").as("doc_a"), col("pr.id_b").as("doc_b"))
        .agg(count(lit(1)).as("n_shared"))
        .where(col("n_shared") >= 2L)
        .select(col("doc_a"), col("doc_b"))
      val clusters = graft.llm.Dedup.connectedComponents(edges)
      val toks = docs.select(col("doc_id").cast("long").as("node"),
        TextFunctions.tokenCount(col("text")).as("tk"))
      clusters.join(toks, "node")
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("tk")).cast("long").as("total_tokens"))
        .select(col("cluster_id"), col("n_docs"), col("total_tokens"))
    }),

    // Gopher's top-n-gram rule, the one intra-doc repetition screen
    // q65's duplicate-fraction scores don't cover: the share of a
    // document's bigrams taken by its single MOST frequent bigram
    // (boilerplate loops and keyword stuffing spike it long before the
    // distinct-token ratio moves). Deterministic argmax: max count,
    // ties to the lexicographically smallest bigram, via one struct-min
    // aggregate — no window, the per-doc bigram table never sorts.
    "q275_top_bigram_share" -> ((s, dir) => {
      val toks = graft.core.Tables.documents(s, dir)
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("t"))
        .where(size(col("t")) >= 2)
      toks.select(col("doc_id"),
          explode(transform(sequence(lit(2), size(col("t"))), i =>
            concat(element_at(col("t"), i - lit(1)), lit(" "),
              element_at(col("t"), i)))).as("bg"))
        .groupBy(col("doc_id"), col("bg"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).cast("long").as("n_bigrams"),
          min(struct(negate(col("c")).as("nc"), col("bg").as("g")))
            .as("best"))
        .select(col("doc_id"), col("n_bigrams"),
          col("best.g").as("top_bigram"),
          negate(col("best.nc")).cast("long").as("top_n"),
          (negate(col("best.nc")).cast("double")
            / col("n_bigrams").cast("double")).as("top_share"))
    }),

    // Incremental-ingestion dedup audit: a deterministic 80/20 hash
    // split plays the roles of the EXISTING corpus and the NEW crawl
    // batch; every new doc's chunks classify as dup-vs-base (hash
    // already in the base chunk set), dup-intra (first seen by an
    // earlier new doc), or novel — the nightly-ingest report that says
    // how much of the crawl is actually new. Base chunk set and
    // first-occurrence-within-new are both hash-keyed aggregates; the
    // chunk string never shuffles.
    "q276_incremental_dedup" -> ((s, dir) => {
      val mem = graft.llm.ChunkDedup
        .chunkMembership(graft.core.Tables.documents(s, dir),
          "doc_id", "text", 20, 7)
        .withColumn("is_new",
          pmod(TextFunctions.portableHash(col("doc_id").cast("string"), 29),
            lit(10L)) >= lit(8L))
        .transform(graft.core.Caching.persist)
      val baseH = mem.where(!col("is_new"))
        .select(col("chash")).distinct().withColumn("in_base", lit(true))
      val enc = graft.llm.ChunkDedup.encodeIdx(col("doc_id"),
        col("chunk_idx"))
      val newm = mem.where(col("is_new"))
      val firstNew = newm.groupBy(col("chash")).agg(min(enc).as("keeper"))
      newm.join(baseH, Seq("chash"), "left")
        .join(firstNew, "chash")
        .select(col("doc_id"), col("ctoks"),
          when(col("in_base").isNotNull, "dup_base")
            .when(enc =!= col("keeper"), "dup_intra")
            .otherwise("novel").as("cls"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("cls") === "dup_base", 1L).otherwise(0L))
            .as("dup_base"),
          sum(when(col("cls") === "dup_intra", 1L).otherwise(0L))
            .as("dup_intra"),
          sum(when(col("cls") === "novel", 1L).otherwise(0L)).as("novel"),
          sum(when(col("cls") === "novel", col("ctoks")).otherwise(0L))
            .cast("long").as("novel_tokens"))
        .select(col("doc_id"), col("n_chunks"), col("dup_base"),
          col("dup_intra"), col("novel"), col("novel_tokens"),
          (col("novel").cast("double") / col("n_chunks").cast("double"))
            .as("novel_share"))
    }),

    // Sub-document dedup with reassembly: split every document into
    // non-overlapping 20-token chunks, keep only each chunk's FIRST
    // occurrence corpus-wide (min encoded (doc_id, chunk_idx) — a pure
    // function of the data), and report per-document retention — the
    // paragraph-dedup pass RefinedWeb-style pipelines run after exact
    // dedup and before mixing. One hash aggregate finds keepers; one
    // hash-keyed join marks them; one aggregate reassembles.
    "q232_chunk_dedup" -> ((s, dir) => {
      val ch = graft.core.Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          TextFunctions.tokens(col("text")).as("t"))
        .where(size(col("t")) > 0)
        .select(col("doc_id"), col("source"),
          posexplode(chunks(col("t"), 20, 7)))
        .select(col("doc_id"), col("source"),
          col("pos").cast("long").as("chunk_idx"),
          col("col.ctoks").as("ctoks"), col("col.chash").as("chash"))
      graft.llm.ChunkDedup.firstOccurrence(ch)
        .groupBy(col("doc_id"), col("source"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("kept"), lit(1L)).otherwise(lit(0L))).as("kept_chunks"),
          sum(col("ctoks")).as("n_tokens"),
          sum(when(col("kept"), col("ctoks")).otherwise(lit(0L)))
            .as("kept_tokens"))
        .select(col("doc_id"), col("source"), col("n_chunks"),
          col("kept_chunks"), col("n_tokens"), col("kept_tokens"),
          (col("kept_tokens").cast("double") / col("n_tokens").cast("double"))
            .as("retention"))
    }),

    // Cross-document n-gram repetition mass (the boilerplate screen):
    // non-overlapping 3-token windows, document frequency per window
    // type corpus-wide, then per-source share of chunk occurrences whose
    // type recurs in >= 2 distinct documents. A production pipeline
    // raises the threshold to "appears in > p% of a crawl's pages" and
    // strips those windows; the fixture has no injected boilerplate, so
    // the screen measures near-dup-driven repetition mass instead —
    // identical plumbing (two hash aggregates + one hash-keyed join).
    "q233_repeated_ngram_mass" -> ((s, dir) => {
      val ch = graft.core.Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          TextFunctions.tokens(col("text")).as("t"))
        .where(size(col("t")) > 0)
        .select(col("doc_id"), col("source"),
          explode(chunks(col("t"), 3, 13)).as("c"))
        .select(col("doc_id"), col("source"), col("c.chash").as("chash"))
      val df = ch.groupBy(col("chash"))
        .agg(countDistinct(col("doc_id")).as("dfreq"))
      ch.join(df, "chash")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("dfreq") >= 2, lit(1L)).otherwise(lit(0L)))
            .as("rep_chunks"))
        .select(col("source"), col("n_chunks"), col("rep_chunks"),
          (col("rep_chunks").cast("double") / col("n_chunks").cast("double"))
            .as("rep_rate"))
    }),

    // Pairwise corpus drift: Jensen–Shannon divergence between every
    // two sources' unigram distributions — the drift matrix a mixing
    // stage consults before re-weighting sources. Matched-token terms:
    // p·ln(2p/(p+q)) with the ln argument assembled from EXACT decimal
    // integer products (2·c_a·T_b over c_a·T_b + c_b·T_a — the count
    // form of 2p/(p+q)), one fixed-order float expression per (pair,
    // token) row, quantized to the 1e-9 grid before the sum; the
    // disjoint-support mass contributes the closed-form ½·ln2·(miss_a/
    // T_a + miss_b/T_b) from exact integer sums. JS is symmetric,
    // bounded by ln 2, and zero iff the distributions agree.
    "q234_js_divergence" -> ((s, dir) => {
      val cnt = graft.core.Tables.documents(s, dir)
        .select(col("source"), explode(TextFunctions.tokens(col("text")))
          .as("tok"))
        .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("c"))
      val tot = cnt.groupBy(col("source")).agg(sum(col("c")).as("tt"))
      val v = cnt.join(broadcast(tot), "source")
      val a = v.select(col("source").as("src_a"), col("tok"),
        col("c").as("ca"), col("tt").as("ta"))
      val b = v.select(col("source").as("src_b"), col("tok"),
        col("c").as("cb"), col("tt").as("tb"))
      val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      val x = dec(col("ca")) * dec(col("tb")) // overflow rule: decimal
      val y = dec(col("cb")) * dec(col("ta")) // BEFORE the product
      def term(c: org.apache.spark.sql.Column,
               t: org.apache.spark.sql.Column,
               num: org.apache.spark.sql.Column) =
        floor((c.cast("double") / t.cast("double"))
          * log((lit(2.0) * num.cast("double"))
            / (x + y).cast("double")) * lit(1e9)).cast("long")
      val g = a.join(b, Seq("tok")).where(col("src_a") < col("src_b"))
        .select(col("src_a"), col("src_b"), col("ca"), col("cb"),
          col("ta"), col("tb"),
          term(col("ca"), col("ta"), x).as("ga"),
          term(col("cb"), col("tb"), y).as("gb"))
        .groupBy(col("src_a"), col("src_b"))
        .agg(count(lit(1)).as("n_common"),
          min(col("ta")).as("ta"), min(col("tb")).as("tb"),
          sum(col("ca")).as("ma"), sum(col("cb")).as("mb"),
          sum(col("ga")).as("sa"), sum(col("gb")).as("sb"))
      g.select(col("src_a"), col("src_b"), col("n_common"),
        (lit(0.5) * log(lit(2.0))
          * ((col("ta") - col("ma")).cast("double") / col("ta").cast("double")
            + (col("tb") - col("mb")).cast("double")
              / col("tb").cast("double"))
          + lit(0.5) * (col("sa").cast("double") / lit(1e9)
            + col("sb").cast("double") / lit(1e9))).as("js"))
    }),

    // Centroid-based silhouette per label: for each embedding, a = L2
    // distance to its own label centroid, b = the nearest other label
    // centroid, s = (b−a)/max(a,b) — the embedding-space label-quality
    // screen run before accepting a labeled corpus (low silhouette ⇒
    // labels don't separate in embedding space). Distances are exact
    // integers on the KMeans 2^14 grid; each point's s is one
    // fixed-order float expression, quantized to the 1e-9 grid before
    // the per-label mean.
    "q235_silhouette" -> ((s, dir) => {
      val d = centroidDistances(s, dir)
      val ab = d.groupBy(col("vec_id"), col("label"))
        .agg(min(when(col("label") === col("clabel"), col("dist"))).as("a2"),
          min(when(col("label") =!= col("clabel"), col("dist"))).as("b2"))
      val sa = sqrt(col("a2").cast("double"))
      val sb = sqrt(col("b2").cast("double"))
      val sil = when(greatest(sa, sb) === lit(0.0), lit(0.0))
        .otherwise((sb - sa) / greatest(sa, sb))
      ab.select(col("label"), floor(sil * lit(1e9)).cast("long").as("g"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_vectors"), sum(col("g")).as("sg"))
        .select(col("label"), col("n_vectors"),
          ((col("sg").cast("double") / lit(1e9))
            / col("n_vectors").cast("double")).as("mean_silhouette"))
    }),

    // Davies–Bouldin components per label: within-label scatter S_k
    // (mean member→centroid distance) and the worst (S_i+S_j)/M_ij
    // ratio against any other label centroid — the companion clustering-
    // quality diagnostic to q235 (lower is better-separated). Scatter
    // means are 1e-9-grid quantized sums; centroid separations are
    // sqrt of exact integer squared-L2; the ratio table is bounded at
    // |labels|², assembled after the corpus has fully collapsed.
    "q236_davies_bouldin" -> ((s, dir) => {
      val d = centroidDistances(s, dir)
      val scat = d.where(col("label") === col("clabel"))
        .select(col("label"),
          floor(sqrt(col("dist").cast("double")) * lit(1e9)).cast("long")
            .as("g"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_vectors"), sum(col("g")).as("sg"))
        .select(col("label"), col("n_vectors"),
          ((col("sg").cast("double") / lit(1e9))
            / col("n_vectors").cast("double")).as("scatter"))
      val cents = centroidVecs(centroidCv(
        centroidParts(quantizedVectors(s, dir))))
      val ca = cents.select(col("label").as("la"), col("cvec").as("va"))
      val cb = cents.select(col("label").as("lb"), col("cvec").as("vb"))
      val m = ca.join(broadcast(cb), col("la") =!= col("lb"))
        .select(col("la"), col("lb"),
          sqrt(aggregate(zip_with(col("va"), col("vb"),
            (a, b) => (a - b) * (a - b)), lit(0L), (acc, v) => acc + v)
            .cast("double")).as("m"))
      val si = scat.select(col("label").as("la"), col("scatter").as("s_a"))
      val sj = scat.select(col("label").as("lb"), col("scatter").as("s_b"))
      val r = m.join(broadcast(si), "la").join(broadcast(sj), "lb")
        .select(col("la"), ((col("s_a") + col("s_b")) / col("m")).as("r"))
        .groupBy(col("la")).agg(max(col("r")).as("db_component"))
      scat.join(r, col("label") === col("la"))
        .select(col("label"), col("n_vectors"), col("scatter"),
          col("db_component"))
    }),

    // Revenue-concentration Gini over the per-customer order-revenue
    // distribution, collapsed to exact $1000 buckets (the q138/q226
    // value-domain pattern: the only unpartitioned window runs over the
    // ≤~600-row bucket table, never the corpus). The mean-difference
    // numerator Σᵢcᵢ(vᵢ·N₍<ᵢ₎ − S₍<ᵢ₎) is exact decimal via ordered
    // prefix sums; Gini = T/(n·S) is one fixed-order float expression.
    "q237_gini_revenue" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val rev = graft.core.Tables.orders(s, dir)
        .select(col("o_custkey"),
          round(col("o_totalprice") * lit(100)).cast("long").as("cents"))
        .groupBy(col("o_custkey")).agg(sum(col("cents")).as("rc"))
        .select(expr("rc div 100000").as("v")) // $1000 buckets, exact
      val buckets = rev.groupBy(col("v")).agg(count(lit(1)).as("c"))
      val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      val w = Window.orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val t = buckets
        // both prefix sums in ONE projection so they share a single
        // Window node (one pass over the bucket table)
        .select(col("v"), col("c"),
          coalesce(sum(col("c")).over(w), lit(0L)).as("ncum"),
          coalesce(sum(dec(col("c")) * col("v")).over(w), dec(lit(0)))
            .as("scum"))
        .select(col("c"), col("v"),
          (dec(col("c")) * (dec(col("v")) * col("ncum") - col("scum")))
            .as("term"),
          (dec(col("c")) * col("v")).as("cv"))
        .agg(sum(col("c")).as("n"), sum(col("cv")).as("s"),
          sum(col("term")).as("t"))
      t.select(col("n").cast("long").as("n_customers"),
        (col("s").cast("double") / col("n").cast("double"))
          .as("mean_rev_k"),
        (col("t").cast("double")
          / (col("n").cast("double") * col("s").cast("double"))).as("gini"))
    }),

    // Kaplan–Meier fulfillment survival: per-order ship SPAN (days
    // between an order's first and last line shipping — the fixture's
    // dates are independent draws, so order→ship latency is undefined,
    // but the within-order span is a real duration), right-censored at
    // 365 days (slower orders stay at risk through the horizon). The
    // corpus collapses into the ≤366-row span-day table in one hash
    // aggregate; at-risk counts and the survival product (a 1e-9-grid
    // cumulative log sum — the order-stable product form) run over
    // that bounded table.
    "q238_kaplan_meier" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val lat = graft.core.Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey"))
        .agg(datediff(max(col("l_shipdate")).cast("date"),
          min(col("l_shipdate")).cast("date")).as("lat"))
      val day = lat.select(least(col("lat"), lit(365)).as("t"),
          (col("lat") <= 365).as("ev"))
        .groupBy(col("t"))
        .agg(sum(when(col("ev"), lit(1L)).otherwise(lit(0L))).as("d"),
          sum(when(col("ev"), lit(0L)).otherwise(lit(1L))).as("cens"))
      val atRisk = Window.orderBy(col("t"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val cum = Window.orderBy(col("t"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // log-survival is the parity-exact output (exact grid sum); the
      // survival column re-exponentiates and rounds to the 1e-6 grid
      // (the repo's round(,6) practice for single libm calls).
      // Terminal-step guard: when every remaining at-risk order events
      // on the same day (d == n_at_risk, always the last uncensored
      // row), the factor is log(0) = -Inf; both engines pin it to the
      // -1e3 grid floor instead, so survival underflows to exactly 0
      // and log_survival stays a finite, engine-identical grid sum.
      day.withColumn("n_at_risk", sum(col("d") + col("cens")).over(atRisk))
        .withColumn("lng",
          when(col("d") === col("n_at_risk"), lit(-1000000000000L))
            .otherwise(floor(log(lit(1.0) - col("d").cast("double")
              / col("n_at_risk").cast("double")) * lit(1e9)).cast("long")))
        .withColumn("log_survival",
          sum(col("lng")).over(cum).cast("double") / lit(1e9))
        .select(col("t").cast("long").as("t"), col("d"), col("cens"),
          col("n_at_risk"), col("log_survival"),
          round(exp(col("log_survival")), 6).as("survival"))
    }),

    // Inverted-index posting statistics: document frequency and total
    // term frequency per token, rolled up into power-of-two df buckets
    // (exact integer log2 via binary-string length — no float edge at
    // exact powers) — the index-sizing profile a search/RAG pipeline
    // reads before choosing posting compression. Two hash aggregates;
    // the share denominators ride a broadcast single-row total.
    "q239_posting_stats" -> ((s, dir) => {
      val post = graft.core.Tables.documents(s, dir)
        .select(col("doc_id"),
          explode(TextFunctions.tokens(col("text"))).as("tok"))
        .groupBy(col("tok"))
        .agg(countDistinct(col("doc_id")).as("dfreq"),
          count(lit(1)).as("tf"))
      val bucketed = post
        .select((length(bin(col("dfreq"))) - 1).cast("long").as("df_bucket"),
          col("dfreq"), col("tf"))
        .groupBy(col("df_bucket"))
        .agg(count(lit(1)).as("n_terms"), sum(col("dfreq")).as("sum_df"),
          sum(col("tf")).as("sum_tf"))
      val tot = post.agg(sum(col("tf")).as("total_tf"))
      bucketed.crossJoin(broadcast(tot))
        .select(col("df_bucket"), col("n_terms"), col("sum_df"),
          col("sum_tf"),
          (col("sum_tf").cast("double") / col("total_tf").cast("double"))
            .as("tf_share"))
    }),

    // Incipit-duplicate gap profile: fingerprint each document by its
    // first 10 tokens (the leading-k fingerprint that catches template-
    // prefixed docs exact-hash dedup misses), then profile how far
    // apart (in doc_id order — ingestion order) repeated incipits
    // land, in power-of-two gap buckets. The novelty-decay diagnostic
    // for dedup window sizing: gaps beyond a streaming dedup's state
    // horizon are the dups it would miss. Exact integers end to end.
    "q240_dup_gap" -> ((s, dir) => {
      val fp = graft.core.Tables.documents(s, dir)
        .select(col("doc_id"),
          TextFunctions.portableHash(
            concat_ws(" ", slice(TextFunctions.tokens(col("text")), 1, 10)),
            17).as("h"))
      val first = fp.groupBy(col("h")).agg(min(col("doc_id")).as("first"))
      fp.join(first, "h")
        .where(col("doc_id") > col("first"))
        .select((length(bin(col("doc_id") - col("first"))) - 1).cast("long")
          .as("gap_bucket"),
          (col("doc_id") - col("first")).as("gap"))
        .groupBy(col("gap_bucket"))
        .agg(count(lit(1)).as("n_dups"), min(col("gap")).as("min_gap"),
          max(col("gap")).as("max_gap"))
    }),

    // Heaps'-law vocabulary growth: how many NEW types each ingestion
    // decile contributes — the curve that predicts tokenizer vocab
    // saturation as a corpus grows. Types are token BIGRAMS (the
    // fixture's unigram vocab saturates inside the first decile; a real
    // corpus runs the same query at n=1). Each type collapses to its
    // FIRST document (one hash aggregate — the corpus never sorts);
    // deciles are exact integer id arithmetic against the broadcast
    // max-id scalar; the cumulative curve runs over the 10-row decile
    // table.
    "q241_vocab_growth" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ft = graft.core.Tables.documents(s, dir)
        .select(col("doc_id"),
          explode(TextFunctions.bigrams(col("text"))).as("tok"))
        .groupBy(col("tok")).agg(min(col("doc_id")).as("fd"))
      val n = graft.core.Tables.documents(s, dir)
        .agg((max(col("doc_id")) + 1).as("n_ids"))
      val w = Window.orderBy(col("decile"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ft.crossJoin(broadcast(n))
        .select(least(expr("(fd * 10) div n_ids"), lit(9L)).as("decile"))
        .groupBy(col("decile")).agg(count(lit(1)).as("n_new_tokens"))
        .withColumn("cum_vocab", sum(col("n_new_tokens")).over(w))
    }),

    // LSH band load profile: per MinHash band, the bucket-population
    // histogram moments that BOUND the near-dup join — bucket count,
    // hottest bucket, and the exact Σ n(n−1)/2 candidate-pair total.
    // This is the q42/q67 self-join's cost model as an oracle-gated
    // query (the quantity LshCapHeadroomSpec asserts headroom on):
    // a dedup rollout reads this per-increment to size the star-cap
    // before paying the join.
    "q242_lsh_load_profile" -> ((s, dir) => {
      val bk = graft.llm.Dedup.bandMembership(
          graft.core.Tables.documents(s, dir), "doc_id", "text",
          shingleN = 3, k = 8, bands = 4)
        .groupBy(col("band"), col("bucket")).agg(count(lit(1)).as("n"))
      bk.groupBy(col("band").cast("long").as("band"))
        .agg(count(lit(1)).as("n_buckets"), sum(col("n")).as("n_docs"),
          max(col("n")).as("max_bucket"),
          sum(expr("(n * (n - 1)) div 2")).as("cand_pairs"))
    }),

    // Mutual information + Cramér's V between the lang and source
    // labelings — the categorical-association pair every corpus card
    // quotes next to q157's chi-square (MI in nats answers "how many
    // bits of source does knowing lang buy"; V normalizes association
    // to [0,1]). ONE corpus hash aggregate builds the contingency
    // cells; margins/totals live on that bounded table; each cell's MI
    // and φ² (χ²/n) terms assemble from EXACT decimal count products
    // (c·N over r·k — the count form of p/(p_r·p_k)), one fixed-order
    // float expression per cell, 1e-9-grid quantized before the sums.
    "q243_mutual_information" -> ((s, dir) => {
      val cells = graft.core.Tables.documents(s, dir)
        .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("c"))
        .transform(graft.core.Caching.persist)
      val rm = cells.groupBy(col("lang")).agg(sum(col("c")).as("r"))
      val km = cells.groupBy(col("source")).agg(sum(col("c")).as("k"))
      val tot = cells.agg(sum(col("c")).as("n"),
        countDistinct(col("lang")).as("r_levels"),
        countDistinct(col("source")).as("k_levels"))
      val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      val cn = dec(col("c")) * col("n")
      val rk = dec(col("r")) * col("k")
      val mig = floor((col("c").cast("double") / col("n").cast("double"))
        * log(cn.cast("double") / rk.cast("double")) * lit(1e9)).cast("long")
      // grid the φ² (= χ²/n) contribution, NOT the raw χ² term: each
      // cell's (p−p_r·p_k)²/(p_r·p_k) ≤ 1 (p ≤ min(p_r, p_k)), so the
      // per-cell grid long is ≤ ~1e9 and the sum ≤ min(r,k)·1e9 at ANY
      // corpus size — a raw-χ² grid would overflow Long near n ~ 1e10.
      // χ² re-scales by n afterwards (resolution n·1e-9, documented).
      val phg = floor(((cn - rk).cast("double") * (cn - rk).cast("double"))
        / (col("n").cast("double") * rk.cast("double")
          * col("n").cast("double")) * lit(1e9)).cast("long")
      cells.join(broadcast(rm), "lang").join(broadcast(km), "source")
        .crossJoin(broadcast(tot))
        .select(col("n"), col("r_levels"), col("k_levels"),
          mig.as("mig"), phg.as("phg"))
        .groupBy(col("n"), col("r_levels"), col("k_levels"))
        .agg(sum(col("mig")).as("smi"), sum(col("phg")).as("sph"))
        .select(col("n"), col("r_levels"), col("k_levels"),
          (col("smi").cast("double") / lit(1e9)).as("mi"),
          ((col("sph").cast("double") / lit(1e9))
            * col("n").cast("double")).as("chi2"),
          sqrt((col("sph").cast("double") / lit(1e9))
            / least(col("r_levels") - 1, col("k_levels") - 1)
              .cast("double")).as("cramers_v"))
    }),

    // Weighted Theil–Sen robust slope of discount (%) on quantity —
    // the outlier-immune counterpart of q131's OLS, made tractable by
    // the value-domain collapse: the corpus folds onto the ≤550-cell
    // (quantity, discount) contingency, pairwise slopes enumerate over
    // the bounded cell-pair cross (broadcast NLJ, ≤550² pairs, weight
    // c_i·c_j in exact decimal), collapse onto ≤~2000 distinct exact
    // rational slopes, and the weighted median is a cumulative-weight
    // prefix scan over that bounded slope table. The intercept is the
    // weighted median of y − m·x over the cells, same machinery.
    "q244_theil_sen" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      val cells = quantityDiscountCells(s, dir)
      val a = cells.select(col("x").as("xa"), col("y").as("ya"),
        col("c").as("ca"))
      val b = cells.select(col("x").as("xb"), col("y").as("yb"),
        col("c").as("cb"))
      val slopes = a.join(broadcast(b), col("xa") < col("xb"))
        .select(((col("yb") - col("ya")).cast("double")
          / (col("xb") - col("xa")).cast("double")).as("m"),
          (dec(col("ca")) * col("cb")).as("w"))
        .groupBy(col("m")).agg(sum(col("w")).as("w"))
        .transform(graft.core.Caching.persist)
      val wtot = slopes.agg(sum(col("w")).as("wt"))
      val cumw = Window.orderBy(col("m"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val med = slopes.withColumn("cw", sum(col("w")).over(cumw))
        .crossJoin(broadcast(wtot))
        .where(col("cw") * 2 >= col("wt"))
        .agg(min(col("m")).as("slope"))
      // intercept: weighted median of y − m·x over the cells
      val vals = cells.crossJoin(broadcast(med))
        .select((col("y").cast("double")
          - col("slope") * col("x").cast("double")).as("v"),
          col("c"), col("slope"))
        .groupBy(col("v"), col("slope")).agg(sum(col("c")).as("c"))
        .transform(graft.core.Caching.persist)
      val ctot = vals.agg(sum(col("c")).as("ct"))
      val cumc = Window.orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      vals.withColumn("cc", sum(col("c")).over(cumc))
        .crossJoin(broadcast(ctot))
        .where(col("cc") * 2 >= col("ct"))
        .agg(min(col("slope")).as("slope"), min(col("v")).as("intercept"))
    }),

    // Kendall τ-b of discount on quantity — the tie-corrected rank
    // correlation that complements q226's Spearman ρ (τ counts pairwise
    // concordance, ρ correlates ranks; analysts quote both). EXACT via
    // the same value-domain collapse as q244: the corpus folds onto the
    // ≤550-cell persisted contingency, concordant/discordant mass is a
    // Σ ca·cb over the bounded broadcast cell-pair cross (decimal
    // products, no float until the last expression), and the tie terms
    // come from the two marginals. n0−n1 = (n(n−1) − Σt(t−1))/2 stays
    // an exact integer; /2.0 and sqrt are the only float ops, one fixed
    // order on both engines.
    "q245_kendall_tau" -> ((s, dir) => {
      val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      val cells = quantityDiscountCells(s, dir)
      val a = cells.select(col("x").as("xa"), col("y").as("ya"),
        col("c").as("ca"))
      val b = cells.select(col("x").as("xb"), col("y").as("yb"),
        col("c").as("cb"))
      val cd = a.join(broadcast(b), col("xa") < col("xb"))
        .agg(sum(when(col("ya") < col("yb"), dec(col("ca")) * col("cb")))
          .as("cp"),
          sum(when(col("ya") > col("yb"), dec(col("ca")) * col("cb")))
            .as("dp"))
      val xm = cells.groupBy(col("x")).agg(sum(col("c")).as("t"))
        .agg(sum(dec(col("t")) * (col("t") - 1)).as("tx2"))
      val ym = cells.groupBy(col("y")).agg(sum(col("c")).as("t"))
        .agg(sum(dec(col("t")) * (col("t") - 1)).as("ty2"))
      val nn = cells.agg(sum(col("c")).as("n"))
      // pair counts report as double, not long: concordance mass is
      // O(n²) and passes Long.MaxValue near n ~ 4.3e9 rows — the
      // decimal sums stay exact, only the reporting cast widens
      cd.crossJoin(broadcast(xm)).crossJoin(broadcast(ym))
        .crossJoin(broadcast(nn))
        .select(col("n").cast("long").as("n"),
          col("cp").cast("double").as("c_pairs"),
          col("dp").cast("double").as("d_pairs"),
          ((col("cp") - col("dp")).cast("double")
            / (sqrt((dec(col("n")) * (col("n") - 1) - col("tx2"))
                .cast("double") / lit(2.0))
              * sqrt((dec(col("n")) * (col("n") - 1) - col("ty2"))
                .cast("double") / lit(2.0)))).as("tau_b"))
    }),

    // Bhattacharyya coefficient + Hellinger distance between each pair
    // of per-source unigram distributions — the bounded-metric drift
    // companion to q234's JS divergence (Hellinger is a true metric in
    // [0,1]; BC is the kernel the dedup literature thresholds). Same
    // corpus-collapse shape as q234: one (source, token) hash agg, a
    // token-keyed vocabulary self-join, per-token terms quantized to
    // the 1e-9 grid before the sum. √(pa·pb) assembles as
    // √(ca·cb)/(√ta·√tb) — the product ca·cb exact in decimal before
    // the cast, every operand an exactly-representable integer.
    "q246_hellinger" -> ((s, dir) => {
      val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      val cnt = graft.core.Tables.documents(s, dir)
        .select(col("source"),
          explode(TextFunctions.tokens(col("text"))).as("tok"))
        .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("c"))
      val tot = cnt.groupBy(col("source")).agg(sum(col("c")).as("tt"))
      val v = cnt.join(broadcast(tot), "source")
      val a = v.select(col("source").as("src_a"), col("tok"),
        col("c").as("ca"), col("tt").as("ta"))
      val b = v.select(col("source").as("src_b"), col("tok"),
        col("c").as("cb"), col("tt").as("tb"))
      val g = a.join(b, Seq("tok")).where(col("src_a") < col("src_b"))
        .select(col("src_a"), col("src_b"),
          floor(sqrt((dec(col("ca")) * col("cb")).cast("double"))
            / (sqrt(col("ta").cast("double"))
              * sqrt(col("tb").cast("double"))) * lit(1e9)).cast("long")
            .as("g"))
        .groupBy(col("src_a"), col("src_b"))
        .agg(count(lit(1)).as("n_common"), sum(col("g")).as("sg"))
      g.select(col("src_a"), col("src_b"), col("n_common"),
        (col("sg").cast("double") / lit(1e9)).as("bhattacharyya"),
        sqrt(greatest(lit(0.0),
          lit(1.0) - col("sg").cast("double") / lit(1e9))).as("hellinger"))
    }),

    // Calinski–Harabasz index over the labeled embeddings — the third
    // standard clustering-quality diagnostic next to q235's silhouette
    // and q236's Davies–Bouldin (between-scatter over within-scatter,
    // higher = better separated; the variance-ratio criterion). All
    // scatter is EXACT integer math on the KMeans 2^14 grid: label
    // centroids and the global centroid round on the same half-up form,
    // trace(W) sums own-label squared distances, trace(B) sums
    // n_label·‖c_label − c_global‖²; the one float expression is the
    // final ratio of exact integers. The corpus collapses in the one
    // (label, dim) hash agg; everything downstream is ≤|labels|·64 rows
    // except the single broadcast-centroid distance pass.
    "q247_calinski_harabasz" -> ((s, dir) => {
      val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      val q = quantizedVectors(s, dir)
      val parts = centroidParts(q).transform(graft.core.Caching.persist)
      val cm = centroidCv(parts)
      val gm = parts.groupBy(col("pos"))
        .agg(sum(col("sv")).as("gsv"), sum(col("n")).as("gn"))
        .select(col("pos"),
          floor((lit(2) * col("gsv") + col("gn"))
            / (lit(2.0) * col("gn"))).cast("long").as("gv"))
      val bsq = cm.join(broadcast(gm), "pos")
        .groupBy(col("label"), col("n"))
        .agg(sum((col("cv") - col("gv")) * (col("cv") - col("gv")))
          .as("bsq"))
      val btot = bsq.agg(sum(dec(col("n")) * col("bsq")).as("tb"),
        sum(col("n")).as("nv"), count(lit(1)).as("k"))
      val w = q.join(broadcast(centroidVecs(cm)), "label")
        .select(aggregate(zip_with(col("qv"), col("cvec"),
          (x, y) => (x - y) * (x - y)), lit(0L), (acc, v) => acc + v)
          .as("dist"))
        .agg(sum(dec(col("dist"))).as("tw"))
      btot.crossJoin(broadcast(w))
        .select(col("nv").cast("long").as("n_vectors"),
          col("k").cast("long").as("n_labels"),
          col("tw").cast("long").as("trace_w"),
          col("tb").cast("long").as("trace_b"),
          ((col("tb").cast("double") / (col("k") - 1).cast("double"))
            / (col("tw").cast("double")
              / (col("nv") - col("k")).cast("double"))).as("ch"))
    }),

    // Weighted isotonic (non-decreasing L2) regression of mean discount
    // on quantity — the monotone calibration fit every score-calibration
    // pass needs (PAVA's pooled means), computed NOT by the sequential
    // pool-adjacent algorithm but by its closed minimax characterization
    // fit(i) = max_{j<=i} min_{k>=i} avg(j..k), which is pure joins and
    // aggregates over the bounded domain: the corpus collapses onto the
    // <=50-row per-quantity (weight, sum) table, range averages
    // enumerate over the <=1275 (j,k) interval pairs by a bounded
    // broadcast join (no prefix-sum window needed), and the max-min
    // nesting is two hash aggregates over the <=64k (i,j,k) triples.
    // Averages are 1e-9-grid floats of exact integer ratios, so min/max
    // compare longs and the fit is bit-stable under any partitioning.
    "q248_isotonic_fit" -> ((s, dir) => {
      // per-quantity (Σcents-pct, weight) marginal of the shared
      // persisted contingency — Σ_y y·c == Σ_rows round(disc·100)
      val xs = quantityDiscountCells(s, dir)
        .groupBy(col("x"))
        .agg(sum(col("y") * col("c")).as("sx"), sum(col("c")).as("wx"))
      val jk = xs.select(col("x").as("j"))
        .join(broadcast(xs.select(col("x").as("k"))), col("j") <= col("k"))
      val rng = jk.join(broadcast(xs),
          col("x") >= col("j") && col("x") <= col("k"))
        .groupBy(col("j"), col("k"))
        .agg(sum(col("sx")).as("ss"), sum(col("wx")).as("ww"))
        .select(col("j"), col("k"),
          floor(col("ss").cast("double") / col("ww").cast("double")
            * lit(1e9)).cast("long").as("a"))
      val fit = rng.join(broadcast(xs.select(col("x").as("i"))),
          col("j") <= col("i") && col("k") >= col("i"))
        .groupBy(col("i"), col("j")).agg(min(col("a")).as("mn"))
        .groupBy(col("i")).agg(max(col("mn")).as("fg"))
      xs.join(broadcast(fit), col("x") === col("i"))
        .select(col("x"), col("wx").as("n"),
          (floor(col("sx").cast("double") / col("wx").cast("double")
            * lit(1e9)).cast("double") / lit(1e9)).as("mean_disc_pct"),
          (col("fg").cast("double") / lit(1e9)).as("isotonic_fit_pct"))
    }),

    // ROC AUC of document length (token count) as a classifier score
    // for lang = 'en' — the eval-harness statistic behind every "does
    // this cheap signal separate the classes" screen, EXACT including
    // tie handling: the corpus collapses onto the per-score
    // (n_pos, n_neg) table (score domain = distinct token counts, a few
    // hundred values), the Mann–Whitney numerator enumerates ordered
    // score pairs over the bounded broadcast self-join, ties contribute
    // the half-credit term, and doubling both sides keeps every count
    // integral in decimal until the single final division.
    "q249_auc_length" -> ((s, dir) => {
      val sc = graft.core.Tables.documents(s, dir)
        .select(size(TextFunctions.tokens(col("text"))).cast("long")
          .as("sv"),
          when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
        .groupBy(col("sv"))
        .agg(sum(col("pos")).as("np"),
          sum(lit(1L) - col("pos")).as("nn"))
        .transform(graft.core.Caching.persist)
      // assembly is SHARED with the streaming twin (one code path, so
      // batch/stream agreement — including the single-score corpus
      // where the u join is empty and coalesces to 0 — is structural)
      graft.streaming.StreamingAuc.aucOf(sc)
    }),

    // Delete-one-fold jackknife standard error of revenue-per-order —
    // the resampling-free uncertainty estimate a pipeline quotes next
    // to every ratio metric (deterministic: folds are o_custkey mod 32,
    // dense TPC-H custkeys make them balanced; no RNG surface). Fold
    // totals are exact cent sums; each leave-one-out ratio is one
    // fixed-order float of exact integers, 1e-9-grid quantized; the
    // variance assembles from Σg and Σg² in decimal — order-free — and
    // the only remaining floats are the final scalings.
    "q250_jackknife_se" -> ((s, dir) => {
      val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      val folds = graft.core.Tables.orders(s, dir)
        .groupBy(pmod(col("o_custkey"), lit(32)).cast("long").as("f"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("sc"),
          count(lit(1)).as("nc"))
      val tot = folds.agg(sum(col("sc")).as("st"), sum(col("nc")).as("nt"))
      val thetas = folds.crossJoin(broadcast(tot))
        .select(col("st"), col("nt"),
          floor((col("st") - col("sc")).cast("double")
            / (col("nt") - col("nc")).cast("double") * lit(1e9))
            .cast("long").as("gi"))
      thetas.groupBy(col("st"), col("nt"))
        .agg(sum(col("gi")).as("sa"), sum(dec(col("gi")) * col("gi"))
          .as("sb"), count(lit(1)).as("gg"))
        .select(col("nt").cast("long").as("n_orders"),
          col("st").cast("long").as("revenue_cents"),
          (col("st").cast("double") / col("nt").cast("double") / lit(100.0))
            .as("theta"),
          sqrt(((col("gg") * col("sb") - dec(col("sa")) * col("sa"))
            .cast("double") * (col("gg") - 1).cast("double")
            / (col("gg") * col("gg")).cast("double") / lit(1e18)))
            .as("jack_se_cents"))
    })
  )

  // DuckDB oracle twins. Shared shapes: `tk` tokenizes exactly like
  // TextFunctions.tokens; portableHash(x, seed) is the first 8 md5 hex
  // digits of "seed|x" as a BIGINT on both engines.
  private val tkCte =
    """tk AS (SELECT doc_id, source,
         list_filter(string_split_regex(lower(trim(text)), '\s+'),
           x -> x <> '') AS t
       FROM documents)"""

  // q235/q236 shared CTEs: KMeans-grid quantized vectors, integer
  // centroids (round-half-up on the same float-floor form the Spark
  // side and KMeans.oracleSql use), exact integer squared-L2.
  private val centroidCtes =
    """q AS (SELECT vec_id, label, list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 16384.0 + 0.5) AS BIGINT))
           AS qv
       FROM embeddings),
     dim AS (SELECT unnest(range(64)) AS i),
     parts AS (SELECT label, dim.i, sum(q.qv[dim.i + 1]) AS sv,
         count(*) AS n
       FROM q, dim GROUP BY 1, 2),
     cm AS (SELECT label AS clabel, i,
         CAST(floor((2 * sv + n) / (2.0 * n)) AS BIGINT) AS cv FROM parts),
     d AS (SELECT q.vec_id, q.label, cm.clabel,
         sum((q.qv[cm.i + 1] - cm.cv) * (q.qv[cm.i + 1] - cm.cv)) AS dist
       FROM q, cm GROUP BY 1, 2, 3)"""

  private[queries] def chunkCte(c: Int, seed: Int) =
    s"""ch AS (SELECT doc_id, source, i AS chunk_idx,
         len(t[i*$c+1 : i*$c+$c]) AS ctoks,
         CAST(concat('0x', substr(md5(concat('$seed', '|',
           array_to_string(t[i*$c+1 : i*$c+$c], ' '))), 1, 8)) AS BIGINT)
           AS chash
       FROM tk, unnest(range((len(t)+${c - 1})//$c)) AS u(i)
       WHERE len(t) > 0)"""

  def oracles: Map[String, String] = Map(
    "q281_chunk_communities" ->
      s"""WITH RECURSIVE ${LlmQueries.tkCte}, ${chunkCte(20, 7)},
         cd AS (SELECT DISTINCT chash, doc_id FROM ch),
         sh2 AS (SELECT chash FROM (SELECT chash, count(*) AS df
             FROM cd GROUP BY 1) WHERE df >= 2 AND df <= 100),
         el AS (SELECT cd.chash, cd.doc_id FROM cd JOIN sh2 USING (chash)),
         ed AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM el a JOIN el b
             ON a.chash = b.chash AND a.doc_id < b.doc_id
           GROUP BY 1, 2 HAVING count(*) >= 2),
         sym AS (SELECT doc_a AS src, doc_b AS dst FROM ed
                 UNION ALL SELECT doc_b, doc_a FROM ed),
         cnodes AS (SELECT DISTINCT src AS node FROM sym),
         reach(node, anc) AS (
           SELECT node, node FROM cnodes
           UNION
           SELECT sym.dst, reach.anc FROM reach
             JOIN sym ON reach.node = sym.src
         ),
         cl AS (SELECT node, min(anc) AS cluster_id FROM reach
           GROUP BY node),
         tkn AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS tk FROM tk)
         SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(tk) AS BIGINT) AS total_tokens
         FROM cl JOIN tkn ON tkn.doc_id = cl.node GROUP BY 1""",
    "q275_top_bigram_share" ->
      s"""WITH ${LlmQueries.tkCte},
         big AS (SELECT doc_id, concat(t[i-1], ' ', t[i]) AS bg
           FROM (SELECT doc_id, t FROM tk WHERE len(t) >= 2),
             unnest(generate_series(2, len(t))) AS g(i)),
         bc AS (SELECT doc_id, bg, CAST(count(*) AS BIGINT) AS c
           FROM big GROUP BY 1, 2),
         mx AS (SELECT doc_id, max(c) AS mc,
             CAST(sum(c) AS BIGINT) AS n_bigrams FROM bc GROUP BY 1)
         SELECT bc.doc_id, n_bigrams, min(bg) AS top_bigram,
           mc AS top_n,
           CAST(mc AS DOUBLE) / CAST(n_bigrams AS DOUBLE) AS top_share
         FROM bc JOIN mx ON mx.doc_id = bc.doc_id AND bc.c = mx.mc
         GROUP BY 1, 2, 4""",
    "q276_incremental_dedup" ->
      s"""WITH ${LlmQueries.tkCte}, ${chunkCte(20, 7)},
         cm AS (SELECT doc_id, chunk_idx, ctoks, chash,
             CAST(concat('0x', substr(md5(concat('29', '|',
               CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) % 10 >= 8
               AS is_new
           FROM ch),
         bh AS (SELECT DISTINCT chash, 1 AS in_base FROM cm
           WHERE NOT is_new),
         fn AS (SELECT chash, min(doc_id * 1000000 + chunk_idx) AS keeper
           FROM cm WHERE is_new GROUP BY 1),
         cls AS (SELECT cm.doc_id, cm.ctoks,
             CASE WHEN in_base IS NOT NULL THEN 'dup_base'
               WHEN cm.doc_id * 1000000 + cm.chunk_idx <> keeper
                 THEN 'dup_intra'
               ELSE 'novel' END AS cls
           FROM cm LEFT JOIN bh USING (chash) JOIN fn USING (chash)
           WHERE cm.is_new)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(CASE WHEN cls = 'dup_base' THEN 1 ELSE 0 END)
             AS BIGINT) AS dup_base,
           CAST(sum(CASE WHEN cls = 'dup_intra' THEN 1 ELSE 0 END)
             AS BIGINT) AS dup_intra,
           CAST(sum(CASE WHEN cls = 'novel' THEN 1 ELSE 0 END) AS BIGINT)
             AS novel,
           CAST(sum(CASE WHEN cls = 'novel' THEN ctoks ELSE 0 END)
             AS BIGINT) AS novel_tokens,
           CAST(sum(CASE WHEN cls = 'novel' THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(count(*) AS DOUBLE) AS novel_share
         FROM cls GROUP BY 1""",
    "q232_chunk_dedup" ->
      s"""WITH $tkCte, ${chunkCte(20, 7)},
         k AS (SELECT chash, min(doc_id*1000000+chunk_idx) AS keeper
           FROM ch GROUP BY 1),
         g AS (SELECT doc_id, source, count(*) AS n_chunks,
             sum(CASE WHEN doc_id*1000000+chunk_idx = keeper
               THEN 1 ELSE 0 END) AS kept_chunks,
             sum(ctoks) AS n_tokens,
             sum(CASE WHEN doc_id*1000000+chunk_idx = keeper
               THEN ctoks ELSE 0 END) AS kept_tokens
           FROM ch JOIN k USING (chash) GROUP BY 1, 2)
         SELECT doc_id, source, CAST(n_chunks AS BIGINT) AS n_chunks,
           CAST(kept_chunks AS BIGINT) AS kept_chunks,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(kept_tokens AS BIGINT) AS kept_tokens,
           CAST(kept_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE)
             AS retention
         FROM g""",
    "q233_repeated_ngram_mass" ->
      s"""WITH $tkCte, ${chunkCte(3, 13)},
         df AS (SELECT chash, count(DISTINCT doc_id) AS dfreq
           FROM ch GROUP BY 1),
         g AS (SELECT source, count(*) AS n_chunks,
             sum(CASE WHEN dfreq >= 2 THEN 1 ELSE 0 END) AS rep_chunks
           FROM ch JOIN df USING (chash) GROUP BY 1)
         SELECT source, CAST(n_chunks AS BIGINT) AS n_chunks,
           CAST(rep_chunks AS BIGINT) AS rep_chunks,
           CAST(rep_chunks AS DOUBLE) / CAST(n_chunks AS DOUBLE) AS rep_rate
         FROM g""",
    "q234_js_divergence" ->
      s"""WITH $tkCte,
         cnt AS (SELECT source, tok, count(*) AS c
           FROM (SELECT source, unnest(t) AS tok FROM tk) GROUP BY 1, 2),
         tot AS (SELECT source, sum(c) AS tt FROM cnt GROUP BY 1),
         v AS (SELECT cnt.source, tok, c, tt FROM cnt JOIN tot USING (source)),
         j AS (SELECT a.source AS src_a, b.source AS src_b, a.tok,
             a.c AS ca, b.c AS cb, a.tt AS ta, b.tt AS tb,
             CAST(a.c AS DECIMAL(38,0)) * b.tt AS x,
             CAST(b.c AS DECIMAL(38,0)) * a.tt AS y
           FROM v a JOIN v b ON a.tok = b.tok AND a.source < b.source),
         t AS (SELECT src_a, src_b, ca, cb, ta, tb,
             CAST(floor((CAST(ca AS DOUBLE) / CAST(ta AS DOUBLE))
               * ln((2.0 * CAST(x AS DOUBLE)) / CAST(x + y AS DOUBLE))
               * 1e9) AS BIGINT) AS ga,
             CAST(floor((CAST(cb AS DOUBLE) / CAST(tb AS DOUBLE))
               * ln((2.0 * CAST(y AS DOUBLE)) / CAST(x + y AS DOUBLE))
               * 1e9) AS BIGINT) AS gb
           FROM j),
         g AS (SELECT src_a, src_b, count(*) AS n_common,
             min(ta) AS ta, min(tb) AS tb, sum(ca) AS ma, sum(cb) AS mb,
             sum(ga) AS sa, sum(gb) AS sb
           FROM t GROUP BY 1, 2)
         SELECT src_a, src_b, CAST(n_common AS BIGINT) AS n_common,
           0.5 * ln(2.0)
             * (CAST(ta - ma AS DOUBLE) / CAST(ta AS DOUBLE)
               + CAST(tb - mb AS DOUBLE) / CAST(tb AS DOUBLE))
           + 0.5 * (CAST(sa AS DOUBLE) / 1e9 + CAST(sb AS DOUBLE) / 1e9)
             AS js
         FROM g""",
    "q235_silhouette" ->
      s"""WITH $centroidCtes,
         ab AS (SELECT vec_id, label,
             min(CASE WHEN label = clabel THEN dist END) AS a2,
             min(CASE WHEN label <> clabel THEN dist END) AS b2
           FROM d GROUP BY 1, 2),
         sg AS (SELECT label, CAST(floor(
             CASE WHEN greatest(sqrt(CAST(a2 AS DOUBLE)),
                 sqrt(CAST(b2 AS DOUBLE))) = 0.0 THEN 0.0
             ELSE (sqrt(CAST(b2 AS DOUBLE)) - sqrt(CAST(a2 AS DOUBLE)))
               / greatest(sqrt(CAST(a2 AS DOUBLE)),
                   sqrt(CAST(b2 AS DOUBLE))) END * 1e9) AS BIGINT) AS g
           FROM ab)
         SELECT label, CAST(count(*) AS BIGINT) AS n_vectors,
           (CAST(sum(g) AS DOUBLE) / 1e9) / CAST(count(*) AS DOUBLE)
             AS mean_silhouette
         FROM sg GROUP BY label""",
    "q236_davies_bouldin" ->
      s"""WITH $centroidCtes,
         scat AS (SELECT label, count(*) AS n_vectors,
             sum(CAST(floor(sqrt(CAST(dist AS DOUBLE)) * 1e9) AS BIGINT))
               AS sg
           FROM d WHERE label = clabel GROUP BY 1),
         sc AS (SELECT label, n_vectors,
             (CAST(sg AS DOUBLE) / 1e9) / CAST(n_vectors AS DOUBLE)
               AS scatter
           FROM scat),
         cv AS (SELECT clabel, list(cv ORDER BY i) AS cvec
           FROM cm GROUP BY 1),
         m AS (SELECT a.clabel AS la, b.clabel AS lb,
             sqrt(CAST(list_reduce(list_transform(range(64),
                 i -> (a.cvec[i + 1] - b.cvec[i + 1])
                   * (a.cvec[i + 1] - b.cvec[i + 1])),
               (x, y) -> x + y) AS DOUBLE)) AS m
           FROM cv a JOIN cv b ON a.clabel <> b.clabel),
         r AS (SELECT la, max((sa.scatter + sb.scatter) / m.m)
               AS db_component
           FROM m JOIN sc sa ON sa.label = m.la
                  JOIN sc sb ON sb.label = m.lb
           GROUP BY 1)
         SELECT sc.label, CAST(sc.n_vectors AS BIGINT) AS n_vectors,
           sc.scatter, r.db_component
         FROM sc JOIN r ON r.la = sc.label""",
    "q237_gini_revenue" ->
      """WITH rev AS (SELECT o_custkey,
             sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS rc
           FROM orders GROUP BY 1),
         b AS (SELECT rc // 100000 AS v, count(*) AS c FROM rev GROUP BY 1),
         p AS (SELECT v, c,
             COALESCE(sum(c) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS ncum,
             COALESCE(sum(CAST(c AS DECIMAL(38,0)) * v) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS scum
           FROM b),
         a AS (SELECT sum(c) AS n, sum(CAST(c AS DECIMAL(38,0)) * v) AS s,
             sum(CAST(c AS DECIMAL(38,0))
               * (CAST(v AS DECIMAL(38,0)) * ncum - scum)) AS t
           FROM p)
         SELECT CAST(n AS BIGINT) AS n_customers,
           CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean_rev_k,
           CAST(t AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(s AS DOUBLE))
             AS gini
         FROM a""",
    "q238_kaplan_meier" ->
      """WITH lat AS (SELECT date_diff('day', CAST(min(l_shipdate) AS DATE),
             CAST(max(l_shipdate) AS DATE)) AS lat
           FROM lineitem GROUP BY l_orderkey),
         dy AS (SELECT least(lat, 365) AS t,
             sum(CASE WHEN lat <= 365 THEN 1 ELSE 0 END) AS d,
             sum(CASE WHEN lat <= 365 THEN 0 ELSE 1 END) AS cens
           FROM lat GROUP BY 1),
         k AS (SELECT t, d, cens,
             sum(d + cens) OVER (ORDER BY t
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
               AS n_at_risk
           FROM dy),
         g AS (SELECT t, d, cens, n_at_risk,
             CASE WHEN d = n_at_risk THEN CAST(-1000000000000 AS BIGINT)
               ELSE CAST(floor(ln(1.0 - CAST(d AS DOUBLE)
                 / CAST(n_at_risk AS DOUBLE)) * 1e9) AS BIGINT) END AS lng
           FROM k),
         s AS (SELECT t, d, cens, n_at_risk,
             CAST(sum(lng) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS DOUBLE) / 1e9 AS log_survival
           FROM g)
         SELECT CAST(t AS BIGINT) AS t, CAST(d AS BIGINT) AS d,
           CAST(cens AS BIGINT) AS cens,
           CAST(n_at_risk AS BIGINT) AS n_at_risk, log_survival,
           round(exp(log_survival), 6) AS survival
         FROM s""",
    "q239_posting_stats" ->
      s"""WITH $tkCte,
         post AS (SELECT tok, count(DISTINCT doc_id) AS dfreq,
             count(*) AS tf
           FROM (SELECT doc_id, unnest(t) AS tok FROM tk) GROUP BY 1),
         bk AS (SELECT CAST(length(bin(dfreq)) - 1 AS BIGINT) AS df_bucket,
             count(*) AS n_terms, sum(dfreq) AS sum_df, sum(tf) AS sum_tf
           FROM post GROUP BY 1),
         tot AS (SELECT sum(tf) AS total_tf FROM post)
         SELECT df_bucket, CAST(n_terms AS BIGINT) AS n_terms,
           CAST(sum_df AS BIGINT) AS sum_df, CAST(sum_tf AS BIGINT) AS sum_tf,
           CAST(sum_tf AS DOUBLE) / CAST(total_tf AS DOUBLE) AS tf_share
         FROM bk, tot""",
    "q240_dup_gap" ->
      s"""WITH $tkCte,
         fp AS (SELECT doc_id, CAST(concat('0x', substr(md5(concat('17', '|',
             array_to_string(t[1:10], ' '))), 1, 8)) AS BIGINT) AS h
           FROM tk),
         f AS (SELECT h, min(doc_id) AS fst FROM fp GROUP BY 1),
         g AS (SELECT CAST(length(bin(doc_id - fst)) - 1 AS BIGINT)
               AS gap_bucket,
             doc_id - fst AS gap
           FROM fp JOIN f USING (h) WHERE doc_id > fst)
         SELECT gap_bucket, CAST(count(*) AS BIGINT) AS n_dups,
           CAST(min(gap) AS BIGINT) AS min_gap,
           CAST(max(gap) AS BIGINT) AS max_gap
         FROM g GROUP BY 1""",
    "q241_vocab_growth" ->
      s"""WITH $tkCte,
         bg AS (SELECT doc_id,
             unnest(list_transform(generate_series(1, len(t) - 1),
               i -> concat(t[i], ' ', t[i + 1]))) AS tok
           FROM tk WHERE len(t) >= 2),
         ft AS (SELECT tok, min(doc_id) AS fd FROM bg GROUP BY 1),
         n AS (SELECT max(doc_id) + 1 AS n_ids FROM documents),
         dk AS (SELECT least((fd * 10) // n_ids, 9) AS decile
           FROM ft, n),
         g AS (SELECT decile, count(*) AS n_new_tokens
           FROM dk GROUP BY 1)
         SELECT decile, CAST(n_new_tokens AS BIGINT) AS n_new_tokens,
           CAST(sum(n_new_tokens) OVER (ORDER BY decile
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_vocab
         FROM g""",
    "q242_lsh_load_profile" ->
      s"""WITH ${LlmQueries.tkCte}, ${LlmQueries.shingleCte(3)},
         ${LlmQueries.sigCte},
         band AS (SELECT doc_id, b,
             md5(array_to_string(list_transform(mh[b*2+1 : b*2+2],
               x -> CAST(x AS VARCHAR)), ',')) AS bucket
           FROM sig, (SELECT unnest(generate_series(0, 3)) AS b) bs),
         bk AS (SELECT b, bucket, count(*) AS n FROM band GROUP BY 1, 2)
         SELECT CAST(b AS BIGINT) AS band,
           CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(sum(n) AS BIGINT) AS n_docs,
           CAST(max(n) AS BIGINT) AS max_bucket,
           CAST(sum((n * (n - 1)) // 2) AS BIGINT) AS cand_pairs
         FROM bk GROUP BY 1""",
    "q243_mutual_information" ->
      """WITH cells AS (SELECT lang, source, count(*) AS c
           FROM documents GROUP BY 1, 2),
         rm AS (SELECT lang, sum(c) AS r FROM cells GROUP BY 1),
         km AS (SELECT source, sum(c) AS k FROM cells GROUP BY 1),
         tot AS (SELECT sum(c) AS n, count(DISTINCT lang) AS r_levels,
             count(DISTINCT source) AS k_levels
           FROM cells),
         t AS (SELECT n, r_levels, k_levels,
             CAST(floor((CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
               * ln(CAST(CAST(c AS DECIMAL(38,0)) * n AS DOUBLE)
                 / CAST(CAST(r AS DECIMAL(38,0)) * k AS DOUBLE))
               * 1e9) AS BIGINT) AS mig,
             CAST(floor(
               (CAST(CAST(c AS DECIMAL(38,0)) * n
                   - CAST(r AS DECIMAL(38,0)) * k AS DOUBLE)
                 * CAST(CAST(c AS DECIMAL(38,0)) * n
                   - CAST(r AS DECIMAL(38,0)) * k AS DOUBLE))
               / (CAST(n AS DOUBLE)
                 * CAST(CAST(r AS DECIMAL(38,0)) * k AS DOUBLE)
                 * CAST(n AS DOUBLE))
               * 1e9) AS BIGINT) AS phg
           FROM cells JOIN rm USING (lang) JOIN km USING (source), tot),
         g AS (SELECT n, r_levels, k_levels, sum(mig) AS smi,
             sum(phg) AS sph
           FROM t GROUP BY 1, 2, 3)
         SELECT CAST(n AS BIGINT) AS n,
           CAST(r_levels AS BIGINT) AS r_levels,
           CAST(k_levels AS BIGINT) AS k_levels,
           CAST(smi AS DOUBLE) / 1e9 AS mi,
           (CAST(sph AS DOUBLE) / 1e9) * CAST(n AS DOUBLE) AS chi2,
           sqrt((CAST(sph AS DOUBLE) / 1e9)
             / CAST(least(r_levels - 1, k_levels - 1) AS DOUBLE))
             AS cramers_v
         FROM g""",
    "q244_theil_sen" ->
      """WITH cells AS (SELECT CAST(l_quantity AS BIGINT) AS x,
             CAST(round(l_discount * 100) AS BIGINT) AS y, count(*) AS c
           FROM lineitem GROUP BY 1, 2),
         sp AS (SELECT CAST(b.y - a.y AS DOUBLE)
               / CAST(b.x - a.x AS DOUBLE) AS m,
             CAST(a.c AS DECIMAL(38,0)) * b.c AS w
           FROM cells a JOIN cells b ON a.x < b.x),
         sl AS (SELECT m, sum(w) AS w FROM sp GROUP BY 1),
         wt AS (SELECT sum(w) AS wt FROM sl),
         cw AS (SELECT m, sum(w) OVER (ORDER BY m
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw
           FROM sl),
         med AS (SELECT min(m) AS slope FROM cw, wt WHERE cw * 2 >= wt),
         vals AS (SELECT CAST(y AS DOUBLE) - slope * CAST(x AS DOUBLE)
               AS v, slope, sum(c) AS c
           FROM cells, med GROUP BY 1, 2),
         ct AS (SELECT sum(c) AS ct FROM vals),
         cc AS (SELECT v, slope, sum(c) OVER (ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc
           FROM vals)
         SELECT min(slope) AS slope, min(v) AS intercept
         FROM cc, ct WHERE cc * 2 >= ct""",
    "q245_kendall_tau" ->
      """WITH cells AS (SELECT CAST(l_quantity AS BIGINT) AS x,
             CAST(round(l_discount * 100) AS BIGINT) AS y, count(*) AS c
           FROM lineitem GROUP BY x, y),
         cd AS (SELECT
             sum(CASE WHEN a.y < b.y
               THEN CAST(a.c AS DECIMAL(38,0)) * b.c END) AS cp,
             sum(CASE WHEN a.y > b.y
               THEN CAST(a.c AS DECIMAL(38,0)) * b.c END) AS dp
           FROM cells a JOIN cells b ON a.x < b.x),
         xm AS (SELECT sum(CAST(t AS DECIMAL(38,0)) * (t - 1)) AS tx2
           FROM (SELECT sum(c) AS t FROM cells GROUP BY x)),
         ym AS (SELECT sum(CAST(t AS DECIMAL(38,0)) * (t - 1)) AS ty2
           FROM (SELECT sum(c) AS t FROM cells GROUP BY y)),
         nn AS (SELECT sum(c) AS n FROM cells)
         SELECT CAST(n AS BIGINT) AS n, CAST(cp AS DOUBLE) AS c_pairs,
           CAST(dp AS DOUBLE) AS d_pairs,
           CAST(cp - dp AS DOUBLE)
             / (sqrt(CAST(CAST(n AS DECIMAL(38,0)) * (n - 1) - tx2
                 AS DOUBLE) / CAST(2.0 AS DOUBLE))
               * sqrt(CAST(CAST(n AS DECIMAL(38,0)) * (n - 1) - ty2
                 AS DOUBLE) / CAST(2.0 AS DOUBLE))) AS tau_b
         FROM cd, xm, ym, nn""",
    "q246_hellinger" ->
      s"""WITH $tkCte,
         cnt AS (SELECT source, tok, count(*) AS c
           FROM (SELECT source, unnest(t) AS tok FROM tk) GROUP BY 1, 2),
         tot AS (SELECT source, sum(c) AS tt FROM cnt GROUP BY 1),
         v AS (SELECT cnt.source, tok, c, tt
           FROM cnt JOIN tot USING (source)),
         t AS (SELECT a.source AS src_a, b.source AS src_b,
             CAST(floor(
               sqrt(CAST(CAST(a.c AS DECIMAL(38,0)) * b.c AS DOUBLE))
               / (sqrt(CAST(a.tt AS DOUBLE)) * sqrt(CAST(b.tt AS DOUBLE)))
               * 1e9) AS BIGINT) AS g
           FROM v a JOIN v b ON a.tok = b.tok AND a.source < b.source),
         g AS (SELECT src_a, src_b, count(*) AS n_common, sum(g) AS sg
           FROM t GROUP BY 1, 2)
         SELECT src_a, src_b, CAST(n_common AS BIGINT) AS n_common,
           CAST(sg AS DOUBLE) / 1e9 AS bhattacharyya,
           sqrt(greatest(CAST(0.0 AS DOUBLE),
             CAST(1.0 AS DOUBLE) - CAST(sg AS DOUBLE) / 1e9)) AS hellinger
         FROM g""",
    "q247_calinski_harabasz" ->
      s"""WITH $centroidCtes,
         gm AS (SELECT i, CAST(floor((2 * sum(sv) + sum(n))
               / (2.0 * sum(n))) AS BIGINT) AS gv
           FROM parts GROUP BY i),
         nl AS (SELECT label, max(n) AS n FROM parts GROUP BY label),
         bs AS (SELECT cm.clabel AS label,
             sum((cm.cv - gm.gv) * (cm.cv - gm.gv)) AS bsq
           FROM cm JOIN gm ON cm.i = gm.i GROUP BY 1),
         b AS (SELECT sum(CAST(nl.n AS DECIMAL(38,0)) * bs.bsq) AS tb,
             sum(nl.n) AS nv, count(*) AS k
           FROM bs JOIN nl ON nl.label = bs.label),
         w AS (SELECT sum(dist) AS tw FROM d WHERE label = clabel)
         SELECT CAST(nv AS BIGINT) AS n_vectors,
           CAST(k AS BIGINT) AS n_labels,
           CAST(tw AS BIGINT) AS trace_w, CAST(tb AS BIGINT) AS trace_b,
           (CAST(tb AS DOUBLE) / CAST(k - 1 AS DOUBLE))
             / (CAST(tw AS DOUBLE) / CAST(nv - k AS DOUBLE)) AS ch
         FROM b, w""",
    "q248_isotonic_fit" ->
      """WITH xs AS (SELECT CAST(l_quantity AS BIGINT) AS x,
             sum(CAST(round(l_discount * 100) AS BIGINT)) AS sx,
             count(*) AS wx
           FROM lineitem GROUP BY x),
         jk AS (SELECT a.x AS j, b.x AS k FROM xs a JOIN xs b
           ON a.x <= b.x),
         rng AS (SELECT j, k, CAST(floor(
               CAST(sum(sx) AS DOUBLE) / CAST(sum(wx) AS DOUBLE) * 1e9)
             AS BIGINT) AS a
           FROM jk JOIN xs ON xs.x >= jk.j AND xs.x <= jk.k
           GROUP BY j, k),
         mn AS (SELECT i.x AS i, rng.j, min(rng.a) AS mn
           FROM rng JOIN xs i ON rng.j <= i.x AND rng.k >= i.x
           GROUP BY 1, 2),
         fit AS (SELECT i, max(mn) AS fg FROM mn GROUP BY i)
         SELECT xs.x, CAST(xs.wx AS BIGINT) AS n,
           CAST(floor(CAST(xs.sx AS DOUBLE) / CAST(xs.wx AS DOUBLE)
             * 1e9) AS DOUBLE) / 1e9 AS mean_disc_pct,
           CAST(fit.fg AS DOUBLE) / 1e9 AS isotonic_fit_pct
         FROM xs JOIN fit ON fit.i = xs.x""",
    "q249_auc_length" ->
      s"""WITH $tkCte,
         sc AS (SELECT CAST(len(t) AS BIGINT) AS sv,
             sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS np,
             sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS nn
           FROM tk JOIN documents USING (doc_id) GROUP BY sv),
         gt AS (SELECT sum(CAST(a.np AS DECIMAL(38,0)) * b.nn) AS u
           FROM sc a JOIN sc b ON a.sv > b.sv),
         eq AS (SELECT sum(CAST(np AS DECIMAL(38,0)) * nn) AS e FROM sc),
         tots AS (SELECT sum(np) AS tp, sum(nn) AS tn FROM sc)
         SELECT CAST(tp AS BIGINT) AS n_pos, CAST(tn AS BIGINT) AS n_neg,
           CAST(2 * COALESCE(u, 0) + e AS DOUBLE)
             / CAST(2 * CAST(tp AS DECIMAL(38,0)) * tn AS DOUBLE) AS auc
         FROM gt, eq, tots""",
    "q250_jackknife_se" ->
      """WITH folds AS (SELECT CAST(o_custkey % 32 AS BIGINT) AS f,
             sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS sc,
             count(*) AS nc
           FROM orders GROUP BY f),
         tot AS (SELECT sum(sc) AS st, sum(nc) AS nt FROM folds),
         th AS (SELECT st, nt, CAST(floor(
               CAST(st - sc AS DOUBLE) / CAST(nt - nc AS DOUBLE) * 1e9)
             AS BIGINT) AS gi
           FROM folds, tot),
         m AS (SELECT st, nt, sum(gi) AS sa,
             sum(CAST(gi AS DECIMAL(38,0)) * gi) AS sb, count(*) AS gg
           FROM th GROUP BY st, nt)
         SELECT CAST(nt AS BIGINT) AS n_orders,
           CAST(st AS BIGINT) AS revenue_cents,
           CAST(st AS DOUBLE) / CAST(nt AS DOUBLE) / CAST(100.0 AS DOUBLE)
             AS theta,
           sqrt(CAST(gg * sb - CAST(sa AS DECIMAL(38,0)) * sa AS DOUBLE)
             * CAST(gg - 1 AS DOUBLE) / CAST(gg * gg AS DOUBLE) / 1e18)
             AS jack_se_cents
         FROM m"""
  )
}
