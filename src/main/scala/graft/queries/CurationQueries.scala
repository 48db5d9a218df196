package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.operators.TopKAggregator

/** Round-10 widening: the curation-recipe pack — the passes a real
  * training-data pipeline runs between raw crawl and mixture, each as
  * an oracle-gated query. q261 bigram perplexity filter (CCNet-style,
  * one rung above q82's unigram surprisal), q262 chunk-level
  * cross-source contamination (q216's matrix at sub-document
  * granularity — eval sets leak as passages inside otherwise-novel
  * docs), q263 DSIR importance weights, q264 content-defined
  * chunking, q266 verbatim-memorization screen, q267 the 4-stage
  * curation funnel, q268 train→eval split leakage, q269 sliding
  * RAG-window dedup, q270 dedup-adjusted temperature mixture.
  * (q265 hard negatives lives in EmbeddingQueries with the other
  * vector probes.)
  *
  * Scale notes (100 TB posture):
  *  - LM-shaped queries (q261/q263): the model lives on a bounded key
  *    — the (lang, bigram) vocabulary or a FIXED 4096-bucket hash
  *    space — so the build is map-side-combined counting and scoring
  *    is a bounded-key join; per-key surprisal is one −log2 quantized
  *    to integer microbits, per-doc totals exact long sums, keep/cut
  *    verdicts compared ON THE GRID (total ≤ threshold·n) — bit-
  *    portable across engines and cluster layouts.
  *  - chunk-shaped queries (q262/q264/q266/q268/q269/q270): chunks and
  *    shingles collapse to 64-bit hashes before any shuffle
  *    (`ChunkDedup`/`portableHash`); pair joins are bounded per hash
  *    by |sources| (catalog constants), never corpus-quadratic; the
  *    only windows are per-document (partitioned).
  *  - report-shaped queries (q267/q270): output is O(stages) or
  *    O(sources) rows at any corpus size — one corpus pass each.
  */
object CurationQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Frequency-based boilerplate line removal (CCNet/RefinedWeb
    // pre-dedup): strip 10-token lines whose doc-frequency within
    // their source clears ≥2 docs AND ≥5% of the source — per-doc
    // retained text + removal accounting. See llm/Boilerplate.
    "q271_boilerplate" -> ((s, dir) =>
      graft.llm.Boilerplate.strip(Tables.documents(s, dir),
        "doc_id", "text", "source", c = 10, seed = 11)),

    // Per-source boilerplate mass: the O(sources)-row planning report
    // over the same strip (a source past ~30% repeated mass is a
    // scrape problem, not a corpus).
    "q273_boilerplate_mass" -> ((s, dir) =>
      graft.llm.Boilerplate.sourceMass(Tables.documents(s, dir),
        "doc_id", "text", "source", c = 10, seed = 11)),

    // Interpolated Kneser–Ney bigram perplexity filter — the KenLM
    // smoother (continuation counts, absolute discount D = 3/4), one
    // rung above q261's Jelinek–Mercer blend. Same microbit grid and
    // on-grid keep verdict; see LmScore.knBigramSurprisal.
    "q277_kn_perplexity" -> ((s, dir) =>
      graft.llm.LmScore.knBigramSurprisal(Tables.documents(s, dir),
        "doc_id", "text", "lang", keepBits = 12.0)),

    // Held-out perplexity: the JM bigram LM built on the TRAIN split
    // only, scoring val/test docs — the eval-loss proxy every data
    // ablation quotes, which the in-corpus filters (q261/q277) cannot
    // be: scoring held-out text forces OOV handling. Unseen (u, w)
    // pairs and contexts coalesce to the add-one unigram floor; unseen
    // unigrams to 1/(N+V); per-row microbits (identical double
    // expression per occurrence), exact long sums, split from q85's
    // pure hash. Docs of a lang absent from train drop (inner join on
    // the lang totals — none in this fixture).
    "q278_heldout_perplexity" -> ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          graft.llm.TextFunctions.tokens(col("text")).as("t"),
          graft.llm.TextFunctions.splitAssign(col("doc_id")).as("split"))
        .where(size(col("t")) >= 2)
      val big = toks
        .select(col("doc_id"), col("lang"), col("split"),
          explode(transform(sequence(lit(2), size(col("t"))), i =>
            struct(element_at(col("t"), i - lit(1)).as("u"),
              element_at(col("t"), i).as("w")))).as("bg"))
        .select(col("doc_id"), col("lang"), col("split"),
          col("bg.u"), col("bg.w"))
        .transform(graft.core.Caching.persist)
      val train = big.where(col("split") === "train")
      val uni = toks.where(col("split") === "train")
        .select(col("lang"), explode(col("t")).as("tok"))
        .groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("cu"))
        .transform(graft.core.Caching.persist)
      val utot = uni.groupBy(col("lang"))
        .agg(sum(col("cu")).cast("long").as("n_lang"),
          count(lit(1)).as("v_lang"))
      val bc = train.groupBy(col("lang"), col("u"), col("w"))
        .agg(count(lit(1)).as("cb"))
      val ctx = bc.groupBy(col("lang"), col("u"))
        .agg(sum(col("cb")).cast("long").as("cc"))
      big.where(col("split") =!= "train")
        .join(bc, Seq("lang", "u", "w"), "left")
        .join(ctx, Seq("lang", "u"), "left")
        .join(uni.select(col("lang"), col("tok").as("w"), col("cu")),
          Seq("lang", "w"), "left")
        .join(broadcast(utot), "lang")
        .select(col("doc_id"), col("split"),
          col("cb").isNull.as("oov"),
          round(negate(log2(
            lit(0.75) * coalesce(
              col("cb").cast("double") / col("cc").cast("double"),
              lit(0.0))
            + lit(0.25) * ((coalesce(col("cu"), lit(0L)) + lit(1L))
                .cast("double")
              / (col("n_lang") + col("v_lang")).cast("double"))))
            * lit(1e6)).cast("long").as("mb"))
        .groupBy(col("doc_id"))
        .agg(first(col("split")).as("split"),
          count(lit(1)).as("n_bigrams"),
          sum(when(col("oov"), 1L).otherwise(0L)).as("oov_bigrams"),
          sum(col("mb")).cast("long").as("total_microbits"))
        .select(col("doc_id"), col("split"), col("n_bigrams"),
          col("oov_bigrams"), col("total_microbits"),
          round(col("total_microbits").cast("double")
            / col("n_bigrams").cast("double") / lit(1e6), 6)
            .as("mean_bits"))
    }),

    // Token-budget water-filling: allocate a training budget (half the
    // corpus here) across sources proportionally to sqrt-temperature
    // targets, CAPPED at each source's available tokens — the planner
    // that answers "which sources saturate and how much does everyone
    // else get". Exact classic algorithm: sort by capacity/target
    // ratio, cap the maximal prefix whose members saturate under the
    // proportional share of the remaining budget, divide the rest.
    // Every comparison and the final division run in decimal(38,0)
    // products + integral division (the overflow rule: token counts ×
    // 1e6-grid targets exceed long at 100 TB), so allocation is a pure
    // integer function of the inputs on any engine. The only windows
    // run over the O(sources) row set (PlanSpec-whitelisted, bounded).
    "q279_budget_waterfill" -> ((s, dir) =>
      graft.llm.Mixture.waterfill(
        Tables.documents(s, dir)
          .select(col("source"),
            graft.llm.TextFunctions.tokenCount(col("text")).as("tk"))
          .groupBy(col("source")).agg(sum(col("tk")).cast("long").as("a"))
          .select(col("source"), col("a"),
            floor(sqrt(col("a").cast("double")) * lit(1e6)).cast("long")
              .as("t")),
        budgetDen = 2L)),

    // Dedup-aware EFFECTIVE-data audit (the data-constrained-scaling
    // composition): chunk-dedup gives each source's unique token mass
    // (q270), the water-fill allocates the budget against
    // sqrt(unique)-grid targets (q279's planner, dedup-adjusted so a
    // self-copying source cannot buy share), and the published
    // repeated-epoch decay (eff/U = 1 + R*·(1−e^{−(ep−1)/R*}),
    // R* = 5.3) converts each source's allocation into the effective
    // tokens it actually contributes. Integer math end-to-end except
    // the final two reported ratios (single libm exp/divisions,
    // rounded to the 6-decimal grid — the q82 discipline).
    "q280_effective_data" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val mem = graft.llm.ChunkDedup
        .chunkMembership(docs, "doc_id", "text", 20, 7)
        .join(docs.select(col("doc_id").cast("long").as("doc_id"),
          col("source")), "doc_id")
      val perSource = graft.llm.ChunkDedup.firstOccurrence(mem)
        .groupBy(col("source"))
        .agg(sum(col("ctoks")).cast("long").as("a"),
          sum(when(col("kept"), col("ctoks")).otherwise(lit(0L)))
            .cast("long").as("u"))
        .select(col("source"), col("a"), col("u"),
          floor(sqrt(col("u").cast("double")) * lit(1e6)).cast("long")
            .as("t"))
        .transform(graft.core.Caching.persist)
      val alloc = graft.llm.Mixture.waterfill(
        perSource.select(col("source"), col("a"), col("t")),
        budgetDen = 2L)
      alloc.join(perSource.select(col("source"), col("u")), "source")
        .select(col("source"), col("available"), col("u").as("unique_tokens"),
          col("capped"), col("allocated"),
          round(col("allocated").cast("double") / col("u").cast("double"), 6)
            .as("epochs"),
          graft.llm.Mixture.effectiveRatio(col("allocated"), col("u"))
            .as("eff_ratio"))
    }),

    // Multi-round BPE merge training: 8 rounds of the adjacent-pair
    // census with each round's winning merge re-entering the pair
    // table — q223 was round 1; the tokenizer-training loop IS the
    // dependency of round r on rounds 1..r-1. See llm/Bpe for the
    // per-round shape (vocab-collapsed census, one-row argmax collect,
    // per-row greedy fold rewrite).
    // r16: trained by the fast driver-side loop (one census collect,
    // rule-for-rule = the distributed reference — FastTrainerSpec)
    "q272_bpe_merge_rounds" -> ((s, dir) =>
      graft.llm.Bpe.trainFast(Tables.documents(s, dir), "text", 8)),

    // Tokenizer application: replay q272's 8 learned merges over the
    // distinct-word table and report per-source compression (chars per
    // symbol) and fertility (symbols per word) — the numbers a
    // tokenizer build quotes before anyone trains on it.
    "q274_bpe_encode" -> ((s, dir) =>
      graft.llm.Bpe.encodeStats(Tables.documents(s, dir), "text",
        "source", 8)),

    // Interpolated bigram LM perplexity filter: mean bits/bigram under
    // λ·bigram-MLE + (1−λ)·add-one-unigram (λ = 3/4), verdict at 12
    // bits/bigram on the exact microbit grid. See LmScore for the
    // determinism and scale contract.
    "q261_bigram_perplexity" -> ((s, dir) =>
      graft.llm.LmScore.bigramSurprisal(Tables.documents(s, dir),
        "doc_id", "text", "lang", keepBits = 12.0)),

    // Chunk-level cross-source contamination matrix: which source
    // pairs share verbatim 20-token chunks, and how much token mass —
    // q216's audit at sub-document granularity. One hash aggregate to
    // (chash, source), one bounded self-join, one matrix aggregate.
    "q262_chunk_contamination" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val mem = graft.llm.ChunkDedup
        .chunkMembership(docs, "doc_id", "text", 20, 7)
        .join(docs.select(col("doc_id").cast("long").as("doc_id"),
          col("source")), "doc_id")
      // max(ctoks) per (chash, source): chunks with equal hashes have
      // equal token counts unless a 32-bit collision merges two chunk
      // types — max picks ONE deterministic representative either way
      val ss = mem.groupBy(col("chash"), col("source"))
        .agg(max(col("ctoks")).as("ctoks"))
        .transform(graft.core.Caching.persist)
      val a = ss.select(col("chash"), col("source").as("source_a"),
        col("ctoks"))
      val b = ss.select(col("chash"), col("source").as("source_b"))
      a.join(b, "chash")
        .where(col("source_a") < col("source_b"))
        .groupBy(col("source_a"), col("source_b"))
        .agg(count(lit(1)).as("n_shared_chunks"),
          sum(col("ctoks")).cast("long").as("shared_tokens"))
    }),

    // DSIR-style hashed-bigram importance weights: per-doc mean log2
    // ratio between a target LM (lang = 'en' as the quality proxy) and
    // the raw-corpus LM, both estimated on a FIXED 4096-bucket hashed
    // feature space — the data-selection trick that keeps the model a
    // broadcastable constant at any corpus size. Per-bucket weight is
    // one floored microbit long (floor, not round: weights are signed
    // and floor has no halfway rule to disagree on); per-doc totals are
    // exact long sums; target_leaning compares on the grid.
    "q263_dsir_weights" -> ((s, dir) => {
      val B = 4096L
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          graft.llm.TextFunctions.tokens(col("text")).as("t"))
        .where(size(col("t")) >= 2)
      val big = toks
        .select(col("doc_id"), col("lang"),
          explode(transform(sequence(lit(2), size(col("t"))), i =>
            concat(element_at(col("t"), i - lit(1)), lit(" "),
              element_at(col("t"), i)))).as("bg"))
        .select(col("doc_id"), col("lang"),
          pmod(graft.llm.TextFunctions.portableHash(col("bg"), 37), lit(B))
            .as("bk"))
        .transform(graft.core.Caching.persist)
      val raw = big.groupBy(col("bk")).agg(count(lit(1)).as("cr"))
      val tgt = big.where(col("lang") === "en")
        .groupBy(col("bk")).agg(count(lit(1)).as("ct"))
      val tots = big.agg(count(lit(1)).as("nr"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("nt"))
      val w = raw.join(tgt, Seq("bk"), "left")
        .crossJoin(broadcast(tots))
        .select(col("bk"),
          floor((log2((coalesce(col("ct"), lit(0L)) + lit(1L)).cast("double")
              / (col("nt") + lit(B)).cast("double"))
            - log2((col("cr") + lit(1L)).cast("double")
              / (col("nr") + lit(B)).cast("double"))) * lit(1e6))
            .cast("long").as("mb"))
      big.join(broadcast(w), "bk")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          sum(col("mb")).cast("long").as("total_microbits"))
        // NO round(,6) here: the weight is signed, and decimal-rounding
        // a negative double at a half boundary differs between engines;
        // the raw double is two IEEE divisions of exact integers —
        // bit-identical everywhere
        .select(col("doc_id"), col("n_bigrams"), col("total_microbits"),
          (col("total_microbits").cast("double")
            / col("n_bigrams").cast("double") / lit(1e6)).as("mean_bits"),
          (col("total_microbits") > lit(0L)).as("target_leaning"))
    }),

    // Content-defined chunking (FastCDC's idea at token granularity):
    // chunk boundaries where a token's portable hash lands in the
    // 1/16 gate, so chunk edges are a pure function of CONTENT — an
    // insertion shifts every fixed-window chunk after it but leaves
    // all content-defined chunks except the edited one intact, which
    // is why incremental-dedup pipelines chunk this way. Reports the
    // dedup profile per power-of-two chunk-length bucket. The chunking
    // itself is PURE per-row column algebra (boundary positions →
    // chunk starts → slices, all higher-order functions) — nothing
    // corpus-sized shuffles until the fixed-width chunk-hash aggregate
    // (the oracle's window+string_agg form is the same segmentation).
    "q264_cdc_chunks" -> ((s, dir) => {
      val n = size(col("t"))
      val bpos = filter(sequence(lit(1), n), i =>
        pmod(graft.llm.TextFunctions.portableHash(
          element_at(col("t"), i), 41), lit(16L)) === lit(0L))
      // starts MATERIALIZES as a column between the two selects: the
      // chunk lambda below references it three times, and a lambda
      // reference to an expression (unlike to a bound attribute)
      // re-derives it per reference — the generator re-evaluation
      // trap, measured 6× on this query before the split
      val starts = concat(array(lit(1)),
        filter(transform(bpos, p => p + lit(1)), st => st <= n))
      val chunksExpr = transform(
        sequence(lit(0), size(col("st0")) - 1), k => {
          val st = element_at(col("st0"), k + lit(1))
          val en = when(k < size(col("st0")) - 1,
            element_at(col("st0"), k + lit(2)) - lit(1))
            .otherwise(size(col("t")))
          struct((en - st + lit(1)).cast("long").as("ctoks"),
            graft.llm.TextFunctions.portableHash(
              concat_ws(" ", slice(col("t"), st, en - st + lit(1))), 43)
              .as("chash"))
        })
      val ch = Tables.documents(s, dir)
        .select(graft.llm.TextFunctions.tokens(col("text")).as("t"))
        .where(size(col("t")) > 0)
        .select(col("t"), starts.as("st0"))
        .select(explode(chunksExpr).as("c"))
        .select(col("c.ctoks").as("ctoks"), col("c.chash").as("chash"))
      ch.groupBy((length(bin(col("ctoks"))) - 1).cast("long")
          .as("len_bucket"))
        .agg(count(lit(1)).as("n_chunks"),
          countDistinct(col("chash")).as("n_distinct"),
          sum(col("ctoks")).cast("long").as("n_tokens"))
        .select(col("len_bucket"), col("n_chunks"), col("n_distinct"),
          col("n_tokens"),
          ((col("n_chunks") - col("n_distinct")).cast("double")
            / col("n_chunks").cast("double")).as("dup_rate"))
    }),

    // Verbatim-memorization screen: per document, the share of its
    // DISTINCT 8-token windows that also occur in at least one other
    // document — the risk score extraction-attack audits rank training
    // docs by. Shingles collapse to 64-bit hashes before the corpus
    // aggregate (q233's shape at 8-gram granularity); the join back is
    // keyed on the same bounded hash.
    "q266_memorization" -> ((s, dir) => {
      val sg = Tables.documents(s, dir)
        .select(col("doc_id"),
          explode(graft.llm.Dedup.shinglesText(col("text"), 8)).as("sg"))
        .select(col("doc_id"),
          graft.llm.TextFunctions.portableHash(col("sg"), 53).as("h"))
        .transform(graft.core.Caching.persist)
      val df8 = sg.groupBy(col("h"))
        .agg(countDistinct(col("doc_id")).as("nd"))
      sg.join(df8, "h")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("nd") >= 2L, 1L).otherwise(0L)).as("n_shared"))
        .select(col("doc_id"), col("n_shingles"), col("n_shared"),
          (col("n_shared").cast("double") / col("n_shingles").cast("double"))
            .as("memorization_risk"))
    }),

    // The curation funnel report: documents surviving each successive
    // filter stage — length floor, mean-word-length band (compared in
    // INTEGERS: 3·wc ≤ Σlen ≤ 10·wc, no float boundary), stopword
    // floor, exact-dedup keep — with per-stage retention. The one-page
    // summary every pipeline run ships; all four verdicts come from
    // ONE corpus pass + the q40 fingerprint aggregate, and the output
    // is 4 rows regardless of corpus size.
    "q267_curation_funnel" -> ((s, dir) => {
      val t = graft.llm.TextFunctions.tokens(col("text"))
      val stops = array(LlmQueries.stopwords.map(lit): _*)
      val base = Tables.documents(s, dir)
        .select(col("doc_id"), size(t).cast("long").as("wc"),
          aggregate(t, lit(0L), (a, x) => a + length(x)).as("sl"),
          size(filter(t, x => array_contains(stops, x))).cast("long")
            .as("sh"),
          md5(graft.llm.TextFunctions.normalizeText(col("text"))).as("fp"))
        .transform(graft.core.Caching.persist)
      val keep = base.groupBy(col("fp")).agg(min(col("doc_id")).as("keeper"))
      val flags = base.join(keep, "fp")
        .select((col("wc") >= lit(50L)).as("p1"),
          (col("sl") >= col("wc") * lit(3L)
            && col("sl") <= col("wc") * lit(10L)).as("p2"),
          (col("sh") >= lit(2L)).as("p3"),
          (col("doc_id") === col("keeper")).as("p4"))
      flags.agg(count(lit(1)).as("n0"),
          sum(when(col("p1"), 1L).otherwise(0L)).as("n1"),
          sum(when(col("p1") && col("p2"), 1L).otherwise(0L)).as("n2"),
          sum(when(col("p1") && col("p2") && col("p3"), 1L).otherwise(0L))
            .as("n3"),
          sum(when(col("p1") && col("p2") && col("p3") && col("p4"), 1L)
            .otherwise(0L)).as("n4"))
        .select(explode(array(
          struct(lit(1L).as("stage_idx"), lit("min_words_50").as("stage"),
            col("n0").as("n_in"), col("n1").as("n_out")),
          struct(lit(2L).as("stage_idx"),
            lit("mean_word_len_3_10").as("stage"),
            col("n1").as("n_in"), col("n2").as("n_out")),
          struct(lit(3L).as("stage_idx"),
            lit("stopword_floor_2").as("stage"),
            col("n2").as("n_in"), col("n3").as("n_out")),
          struct(lit(4L).as("stage_idx"),
            lit("exact_dedup_keep").as("stage"),
            col("n3").as("n_in"), col("n4").as("n_out")))).as("st"))
        .select(col("st.stage_idx").as("stage_idx"),
          col("st.stage").as("stage"), col("st.n_in").as("n_in"),
          col("st.n_out").as("n_out"),
          (col("st.n_out").cast("double") / col("st.n_in").cast("double"))
            .as("retention"))
    }),

    // Train→eval split leakage at chunk granularity: how many of the
    // val/test splits' 20-token chunks ALSO appear verbatim in train —
    // the audit that catches eval contamination the doc-level near-dup
    // screen misses (a leaked passage inside an otherwise-novel doc).
    // Composes the q85 deterministic hash split with ChunkDedup; the
    // probe joins eval chunks to the distinct train-chunk hash set, so
    // everything shuffles on the 64-bit chash key only.
    "q268_split_leakage" -> ((s, dir) => {
      val mem = graft.llm.ChunkDedup
        .chunkMembership(Tables.documents(s, dir), "doc_id", "text", 20, 7)
        .withColumn("split",
          graft.llm.TextFunctions.splitAssign(col("doc_id")))
        .transform(graft.core.Caching.persist)
      val train = mem.where(col("split") === "train")
        .select(col("chash")).distinct().withColumn("hit", lit(1L))
      mem.where(col("split") =!= "train")
        .join(train, Seq("chash"), "left")
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("hit").isNotNull, 1L).otherwise(0L)).as("n_leaked"),
          sum(when(col("hit").isNotNull, col("ctoks")).otherwise(0L))
            .cast("long").as("leaked_tokens"))
        .select(col("split"), col("n_chunks"), col("n_leaked"),
          col("leaked_tokens"),
          (col("n_leaked").cast("double") / col("n_chunks").cast("double"))
            .as("leak_rate"))
    }),

    // Sliding-window (RAG-index) chunking with overlap: 20-token
    // windows at stride 10, deduped corpus-wide by first occurrence —
    // per document, how many of its passage windows actually enter the
    // index (the index-size planning number an overlapping layout
    // needs, since overlap inflates raw windows ~2x but dedup claws
    // back repeated spans). Same hash-collapse + keyed-join shape as
    // q232 via the shared firstOccurrence contract.
    "q269_sliding_windows" -> ((s, dir) => {
      val mem = Tables.documents(s, dir)
        .select(col("doc_id").cast("long").as("doc_id"),
          graft.llm.TextFunctions.tokens(col("text")).as("t"))
        .where(size(col("t")) > 0)
        .select(col("doc_id"), posexplode(
          graft.llm.ChunkDedup.slidingChunkStructs(col("t"), 20, 10, 7)))
        .select(col("doc_id"), col("pos").cast("long").as("chunk_idx"),
          col("col.ctoks").as("ctoks"), col("col.chash").as("chash"))
      graft.llm.ChunkDedup.firstOccurrence(mem)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_windows"),
          sum(when(col("kept"), lit(1L)).otherwise(lit(0L)))
            .as("kept_windows"),
          sum(when(col("kept"), col("ctoks")).otherwise(lit(0L)))
            .cast("long").as("kept_tokens"))
        .select(col("doc_id"), col("n_windows"), col("kept_windows"),
          col("kept_tokens"),
          (col("kept_windows").cast("double")
            / col("n_windows").cast("double")).as("index_share"))
    }),

    // Dedup-adjusted temperature mixture: q251's sqrt-temperature
    // sampling weights recomputed on tokens SURVIVING chunk-level
    // dedup instead of raw counts — the recipe correction that stops a
    // self-copying source from buying mixture share with duplicated
    // mass. One chunk-dedup pass + one |sources|-row weight table.
    "q270_dedup_mixture" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val mem = graft.llm.ChunkDedup
        .chunkMembership(docs, "doc_id", "text", 20, 7)
        .join(docs.select(col("doc_id").cast("long").as("doc_id"),
          col("source")), "doc_id")
      val perSource = graft.llm.ChunkDedup.firstOccurrence(mem)
        .groupBy(col("source"))
        .agg(sum(col("ctoks")).cast("long").as("n_tokens"),
          sum(when(col("kept"), col("ctoks")).otherwise(lit(0L)))
            .cast("long").as("kept_tokens"))
        .select(col("source"), col("n_tokens"), col("kept_tokens"),
          floor(sqrt(col("n_tokens").cast("double")) * lit(1e6))
            .cast("long").as("wr"),
          floor(sqrt(col("kept_tokens").cast("double")) * lit(1e6))
            .cast("long").as("wk"))
        .transform(graft.core.Caching.persist)
      val tot = perSource.agg(sum(col("wr")).cast("long").as("twr"),
        sum(col("wk")).cast("long").as("twk"))
      perSource.crossJoin(broadcast(tot))
        .select(col("source"), col("n_tokens"), col("kept_tokens"),
          (col("kept_tokens").cast("double") / col("n_tokens").cast("double"))
            .as("keep_ratio"),
          (col("wr").cast("double") / col("twr").cast("double"))
            .as("w_raw"),
          (col("wk").cast("double") / col("twk").cast("double"))
            .as("w_dedup"))
    }),

    // Unicode normalization audit (graft.llm.Normalize): per source,
    // NFC-compose/mojibake-repair/punct-normalize the distinct word
    // vocabulary decorated with constructed NFD / cp1252-mojibake /
    // typographic suffixes, and report counts + 32-bit-hash SUMS of
    // the normalized strings — any single byte of cross-engine NFC
    // divergence flips a hash sum. The dedup-impact invariant rides
    // the counts: the raw spelling pair (dec, comp) is n_words +
    // n_composed distinct strings, exactly n_words after NFC — i.e.
    // un-normalized text defeats exact dedup by n_composed collisions.
    // Vocab-collapsed (distinct words), so the normalization work is
    // O(|vocab|) however big the corpus; the per-source agg is
    // map-side combined.
    "q282_unicode_normalize" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val words = docs.select(col("source"),
          explode(graft.llm.TextFunctions.tokens(col("text"))).as("w"))
        .distinct()
      val dec = concat(col("w"), lit("\u0301"))
      val moji = concat(col("w"), lit("\u00c3\u00a9"))
      val clean = concat(col("w"), lit("\u00e9"))
      val punctIn = concat(col("w"), lit("\u2014done\u2026"))
      val punctWant = concat(col("w"), lit("-done..."))
      words.select(col("source"), col("w"), dec.as("dec"),
          graft.llm.Normalize.nfc(dec).as("comp"),
          graft.llm.Normalize.repairMojibake(moji).as("rep"),
          clean.as("clean"),
          graft.llm.Normalize.normalizePunct(punctIn).as("pn"),
          punctWant.as("pw"))
        .groupBy(col("source"))
        .agg(count(lit(1)).cast("long").as("n_words"),
          sum(when(col("comp") =!= col("dec"), 1L).otherwise(0L))
            .cast("long").as("n_composed"),
          sum(graft.llm.TextFunctions.portableHash(col("comp"), 7))
            .cast("long").as("nfc_hash_sum"),
          sum(graft.llm.TextFunctions.portableHash(col("rep"), 7))
            .cast("long").as("repair_hash_sum"),
          sum(when(col("rep") === col("clean"), 1L).otherwise(0L))
            .cast("long").as("n_repaired"),
          sum(when(col("pn") === col("pw"), 1L).otherwise(0L))
            .cast("long").as("n_punct"))
    }),

    // Per-registrable-domain corpus rollup (the C4/RefinedWeb domain
    // mix report) over graft.llm.Domains: hosts constructed
    // deterministically from doc_id to cover every PSL rule kind
    // (multi-label suffix, wildcard *.ck, exception !www.ck, unknown
    // TLD default rule, IPv4 literal, host-is-a-suffix, case +
    // trailing-dot normalization); the oracle states the EXPECTED
    // registrable domain per construction pattern, so any divergence
    // in the real PSL matcher shifts a rollup row. Extraction is a
    // codegen'd per-row set probe (no joins); the rollup is one hash
    // aggregate keyed on the ~bounded domain set.
    "q283_domain_rollup" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val sd = (col("doc_id") % 50).cast("string")
      val m = col("doc_id") % 10
      val site = concat(lit("site"), sd)
      val host = when(m === 0, concat(lit("www."), site, lit(".com")))
        .when(m === 1, concat(lit("blog."), site, lit(".co.uk")))
        .when(m === 2, concat(lit("a.b."), site, lit(".ac.uk")))
        .when(m === 3, concat(site, lit(".org")))
        .when(m === 4, concat(lit("www."), site, lit(".xyzunknown")))
        .when(m === 5, concat(lit("192.168.0."),
          (col("doc_id") % 200).cast("string")))
        .when(m === 6, concat(lit("x."), site, lit(".ck")))
        .when(m === 7, lit("WWW.CK."))
        .when(m === 8, concat(lit("deep.sub."), site, lit(".com.au")))
        .otherwise(lit("co.uk"))
      docs.select(col("doc_id"), col("lang"), col("n_chars"),
          graft.llm.TextFunctions.tokenCount(col("text")).as("tk"),
          host.as("host"))
        .withColumn("domain", coalesce(
          graft.llm.Domains.registrableDomain(col("host")), lit("(none)")))
        .groupBy(col("domain"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          countDistinct(col("host")).cast("long").as("n_hosts"),
          countDistinct(col("lang")).cast("long").as("n_langs"),
          sum(col("tk")).cast("long").as("n_tokens"),
          sum(col("n_chars")).cast("long").as("sum_chars"))
    }),

    // URL-level dedup (the FineWeb recipe's first pass): canonicalize
    // constructed URLs (case, www, default ports, fragments, trailing
    // slashes, tracking params, param ORDER) and report per-source raw
    // vs canonical distinct counts plus a canonical hash SUM — any
    // canonicalization divergence flips the sum. Narrow projection +
    // one hash aggregate.
    "q285_url_dedup" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val sd = (col("doc_id") % 50).cast("string")
      val m = col("doc_id") % 10
      val site = concat(lit("site"), sd)
      val url = when(m === 0, concat(lit("https://WWW."), site,
          lit(".com/Page/"), sd, lit("/?utm_source=x&b=2&a=1#frag")))
        .when(m === 1, concat(lit("http://"), site,
          lit(".co.uk:80/index.html")))
        .when(m === 2, concat(lit("https://"), site, lit(".com:8443/x")))
        .when(m === 3, concat(lit("https://www."), site,
          lit(".com/?fbclid=abc")))
        .when(m === 4, concat(lit("http://"), site, lit(".org/a/b/")))
        .when(m === 5, concat(lit("https://"), site,
          lit(".com/a?gclid=1&z=9&utm_campaign=c")))
        .when(m === 6, concat(lit("https://"), site, lit(".com/a")))
        .when(m === 7, concat(lit("https://"), site, lit(".com/Page/"),
          sd, lit("?b=2&a=1&utm_medium=y")))
        // percent-escapes: unreserved %7E decodes, %2f uppercases,
        // %41 in a query value decodes
        .when(m === 8, concat(lit("https://"), site,
          lit(".com/%7Etilde/%2fpath?a=%41")))
        // PERCENT-ENCODED valueless tracking param (%66 = 'f', so the
        // filter only catches it after pctNormalize runs — the r13
        // ADVICE ordering fix) + lowercase unreserved escape
        .otherwise(concat(lit("https://"), site,
          lit(".com/a?%66bclid&z=%7a")))
      docs.select(col("source"), url.as("url"))
        .withColumn("canon", graft.llm.Domains.canonicalUrl(col("url")))
        .groupBy(col("source"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          countDistinct(col("url")).cast("long").as("n_raw"),
          countDistinct(col("canon")).cast("long").as("n_canonical"),
          sum(graft.llm.TextFunctions.portableHash(col("canon"), 7))
            .cast("long").as("canon_hash_sum"))
    }),

    // Packing-efficiency planning report: per (lang, shard), the block
    // cost of pad-each-doc vs concat-and-chunk at a 512-token budget —
    // the number every packing recipe quotes to justify concatenation.
    // Pure integer arithmetic (ceil-div via `div`), one aggregate.
    "q286_packing_efficiency" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("lang"), pmod(col("doc_id"), lit(4L)).as("shard"),
          graft.llm.TextFunctions.tokenCount(col("text")).as("tok"))
        .groupBy(col("lang"), col("shard"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(col("tok")).cast("long").as("n_tokens"),
          sum(expr("(tok + 511) div 512")).cast("long")
            .as("padded_blocks"))
        .select(col("lang"), col("shard"), col("n_docs"),
          col("n_tokens"), col("padded_blocks"),
          expr("(n_tokens + 511) div 512").cast("long")
            .as("concat_blocks"))
        .withColumn("padding_waste",
          col("padded_blocks") * lit(512L) - col("n_tokens"))
        .withColumn("savings_ratio",
          when(col("padded_blocks") > 0L,
            (col("padded_blocks") - col("concat_blocks")).cast("double")
              / col("padded_blocks").cast("double"))
            .otherwise(lit(0.0)))),

    // Per-domain document caps (the C4 domain-cap stage): keep at most
    // k docs per registrable domain by deterministic hash priority.
    // Rides TopKAggregator — partial aggregation bounds the shuffle at
    // k rows per (partition, domain), no ranking window over the
    // corpus. Hosts constructed as in q283; docs with no registrable
    // domain (IPs, public-suffix hosts) are exempt from caps.
    "q287_domain_caps" -> ((s, dir) => {
      import s.implicits._
      val k = 5
      val docs = Tables.documents(s, dir)
      val sd = (col("doc_id") % 50).cast("string")
      val m = col("doc_id") % 10
      val site = concat(lit("site"), sd)
      val host = when(m === 0, concat(lit("www."), site, lit(".com")))
        .when(m === 1, concat(lit("blog."), site, lit(".co.uk")))
        .when(m === 2, concat(lit("a.b."), site, lit(".ac.uk")))
        .when(m === 3, concat(site, lit(".org")))
        .when(m === 4, concat(lit("www."), site, lit(".xyzunknown")))
        .when(m === 5, concat(lit("192.168.0."),
          (col("doc_id") % 200).cast("string")))
        .when(m === 6, concat(lit("x."), site, lit(".ck")))
        .when(m === 7, lit("WWW.CK."))
        .when(m === 8, concat(lit("deep.sub."), site, lit(".com.au")))
        .otherwise(lit("co.uk"))
      val prio = graft.llm.TextFunctions.portableHash(
        col("doc_id").cast("string"), 23)
      val topk = new TopKAggregator(k, TopKAggregator.ScoreDesc).toColumn
      docs.select(host.as("host"), col("doc_id"), prio.as("prio"))
        .withColumn("domain",
          graft.llm.Domains.registrableDomain(col("host")))
        .where(col("domain").isNotNull)
        .select(col("domain"), col("doc_id"), col("prio"))
        .as[(String, Long, Long)]
        .groupByKey(_._1)
        .mapValues { case (_, id, p) => (id, -p.toDouble) }
        .agg(topk.name("top"))
        .flatMap { case (domain, top) =>
          top.iterator.zipWithIndex.map { case ((id, negP), i) =>
            (domain, id, (-negP).toLong, (i + 1).toLong)
          }
        }
        .toDF("domain", "doc_id", "prio", "rnk")
    }),

    // Crawl-grade HTML stripping: every doc is wrapped in a realistic
    // page skeleton (style/script blocks with angle brackets inside,
    // multi-line comments, per-word paragraph tags, double-encoded
    // entities) and stripped back; the oracle RECOMPUTES the strip
    // with the same RE2∩Java regex chain — a true cross-engine check
    // of the regex semantics, plus hash sums over the stripped text.
    "q292_html_strip" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val html = concat(
        lit("<html><head><style>p{color:red}</style>" +
          "<script type=\"text/javascript\">var x = 1 < 2;</script>" +
          "</head><body><!-- nav\nmenu --><p>"),
        regexp_replace(col("text"), " ", "</p>\n<p>"),
        lit("</p><div>&amp;copy; 2024 &lt;corp&gt;&nbsp;" +
          "&quot;quoted&quot; it&#8217;s &#x2014; &#174; &amp;#8217; " +
          "&#999999999; &#xD800; &#x110000; &#0; &#12abc;" +
          "</div></body></html>"))
      val stripped = graft.llm.Normalize.stripHtml(html)
      val expected = concat(trim(regexp_replace(col("text"), "\\s+", " ")),
        lit(" &copy; 2024 <corp> \"quoted\" it\u2019s \u2014 \u00ae " +
          "&#8217; &#999999999; &#xD800; &#x110000; &#0; &#12abc;"))
      docs.select(col("source"), stripped.as("st"), expected.as("ex"))
        .groupBy(col("source"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(when(col("st") === col("ex"), 1L).otherwise(0L))
            .cast("long").as("n_exact"),
          sum(graft.llm.TextFunctions.portableHash(col("st"), 7))
            .cast("long").as("strip_hash_sum"))
    }),

    // Length-bucketed batching (the dynamic-batching planner): batch
    // docs 16-at-a-time in LENGTH order vs ingest order per (lang,
    // shard), and report the padding waste each policy pays when every
    // batch pads to its own max — the number that justifies
    // length-sorted batching in every inference/training loader.
    // Windows are per-(lang, shard) partitions (scale = shard count),
    // all arithmetic exact integers.
    "q291_length_batching" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = Tables.documents(s, dir).select(col("lang"),
        pmod(col("doc_id"), lit(4L)).as("shard"), col("doc_id"),
        graft.llm.TextFunctions.tokenCount(col("text")).as("tok"))
      val bySorted = Window.partitionBy(col("lang"), col("shard"))
        .orderBy(col("tok"), col("doc_id"))
      val byIngest = Window.partitionBy(col("lang"), col("shard"))
        .orderBy(col("doc_id"))
      val b = d
        .withColumn("rs", row_number().over(bySorted).cast("long"))
        .withColumn("ru", row_number().over(byIngest).cast("long"))
        .withColumn("bs", expr("(rs - 1) div 16"))
        .withColumn("bu", expr("(ru - 1) div 16"))
      def waste(col0: String, out: String) = b
        .groupBy(col("lang"), col("shard"), col(col0))
        .agg((max(col("tok")) * count(lit(1)) - sum(col("tok"))).as("w"))
        .groupBy(col("lang"), col("shard"))
        .agg(sum(col("w")).cast("long").as(out),
          count(lit(1)).cast("long").as("n_batches"))
      waste("bs", "waste_sorted")
        .join(waste("bu", "waste_ingest").drop("n_batches"),
          Seq("lang", "shard"))
        .select(col("lang"), col("shard"), col("n_batches"),
          col("waste_sorted"), col("waste_ingest"),
          when(col("waste_ingest") > 0L,
            lit(1.0) - col("waste_sorted").cast("double")
              / col("waste_ingest").cast("double"))
            .otherwise(lit(0.0)).as("waste_reduction"))
    }),

    // The C4-style per-domain CURATION report — the composition the
    // domain operators exist for: per registrable domain, document
    // count, mean quality (exact 1e-9-grid longs, so the mean is a
    // pure integer function divided once — no order-dependent float
    // sums), and the chunk-dedup token keep-share. One corpus pass for
    // quality, one chunk-dedup pass, one bounded-domain aggregate.
    "q290_domain_curation" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val sd = (col("doc_id") % 50).cast("string")
      val m = col("doc_id") % 10
      val site = concat(lit("site"), sd)
      val host = when(m === 0, concat(lit("www."), site, lit(".com")))
        .when(m === 1, concat(lit("blog."), site, lit(".co.uk")))
        .when(m === 2, concat(lit("a.b."), site, lit(".ac.uk")))
        .when(m === 3, concat(site, lit(".org")))
        .when(m === 4, concat(lit("www."), site, lit(".xyzunknown")))
        .when(m === 5, concat(lit("192.168.0."),
          (col("doc_id") % 200).cast("string")))
        .when(m === 6, concat(lit("x."), site, lit(".ck")))
        .when(m === 7, lit("WWW.CK."))
        .when(m === 8, concat(lit("deep.sub."), site, lit(".com.au")))
        .otherwise(lit("co.uk"))
      val base = docs.select(col("doc_id").cast("long").as("doc_id"),
        floor(graft.llm.TextFunctions.qualityScore(col("text"),
          LlmQueries.stopwords) * lit(1e9)).cast("long").as("qg"),
        coalesce(graft.llm.Domains.registrableDomain(host), lit("(none)"))
          .as("domain"))
      val chunks = graft.llm.ChunkDedup.firstOccurrence(
          graft.llm.ChunkDedup.chunkMembership(docs, "doc_id", "text",
            20, 7))
        .groupBy(col("doc_id"))
        .agg(sum(col("ctoks")).as("ct"),
          sum(when(col("kept"), col("ctoks")).otherwise(0L)).as("kt"))
      base.join(chunks, Seq("doc_id"), "left_outer")
        .groupBy(col("domain"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(col("qg")).cast("long").as("sum_qg"),
          sum(coalesce(col("ct"), lit(0L))).cast("long").as("n_tokens"),
          sum(coalesce(col("kt"), lit(0L))).cast("long")
            .as("kept_tokens"))
        .select(col("domain"), col("n_docs"),
          (col("sum_qg").cast("double") / col("n_docs").cast("double")
            / lit(1e9)).as("mean_quality"),
          col("n_tokens"), col("kept_tokens"),
          when(col("n_tokens") > 0L,
            col("kept_tokens").cast("double")
              / col("n_tokens").cast("double"))
            .otherwise(lit(0.0)).as("kept_share"))
    }),

    // Positional phrase search: find every occurrence (count + first
    // position) of the corpus's most frequent bigram per language —
    // argmax by struct-min (no window), then ONE narrow corpus pass
    // with the 1-row-per-lang phrase table broadcast; positions come
    // from an in-row index filter, so nothing corpus-sized shuffles.
    "q288_phrase_search" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val top = docs.select(col("lang"),
          explode(graft.llm.TextFunctions.bigrams(col("text"))).as("bg"))
        .groupBy(col("lang"), col("bg")).agg(count(lit(1)).as("n"))
        .groupBy(col("lang"))
        .agg(min(struct(negate(col("n")).as("nn"), col("bg").as("bg")))
          .as("b"))
        .select(col("lang"), col("b.bg").as("phrase"),
          split(col("b.bg"), " ").getItem(0).as("x"),
          split(col("b.bg"), " ").getItem(1).as("y"))
      docs.select(col("doc_id"), col("lang"),
          graft.llm.TextFunctions.tokens(col("text")).as("t"))
        .where(size(col("t")) >= 2)
        .join(broadcast(top), "lang")
        .select(col("doc_id"), col("lang"), col("phrase"),
          filter(sequence(lit(1), size(col("t")) - 1), i =>
            element_at(col("t"), i) === col("x") &&
              element_at(col("t"), i + lit(1)) === col("y")).as("hits"))
        .where(size(col("hits")) > 0)
        .select(col("doc_id"), col("lang"), col("phrase"),
          size(col("hits")).cast("long").as("n_occ"),
          element_at(col("hits"), 1).cast("long").as("first_pos"))
    }),

    // CCNet perplexity buckets: the head/middle/tail tercile partition
    // per language (CCNet keeps the low-perplexity head, samples the
    // middle, drops the tail). Tercile thresholds are computed on a
    // BOUNDED deci-bit histogram of the q82 micro-bit surprisal grid
    // (≤ ~300 rows per lang regardless of corpus size), so the only
    // window runs over that bounded aggregate and the doc-level
    // bucketing is a broadcast-threshold compare — two corpus passes,
    // zero corpus-scale sorts. All boundary math is integer-exact
    // (cum·3 ≥ n, floor-div deci-bits), so bucket membership is
    // bit-portable across engines and cluster layouts.
    "q293_perplexity_buckets" -> ((s, dir) =>
      graft.llm.LmScore.perplexityBuckets(Tables.documents(s, dir),
        "doc_id", "text", "lang")),

    // BPE merge-depth compression curve: symbols/word fertility after
    // r = 0..8 trained merges — the vocab-size tuning readout (the
    // knee is where extra merges stop buying compression). Each point
    // is a bounded vocab aggregate; see Bpe.compressionCurve.
    "q299_bpe_compression_curve" -> ((s, dir) =>
      graft.llm.Bpe.compressionCurve(Tables.documents(s, dir), "text",
        rounds = 8)),

    // Vocabulary frequency-floor sensitivity: LmScore's documented
    // 100 TB posture drops singleton tokens from the LM ("the LM table
    // gets a frequency floor") — this audit PRICES that mitigation
    // instead of asserting it. Every doc is scored twice (full vocab
    // vs df ≥ 2 vocab with floored tokens taking the add-one unseen
    // path, q278's OOV rule) and the report gives, per language, the
    // exact microbit mass under each model, the signed mean drift
    // (raw IEEE division of exact longs — no rounding), and how many
    // docs change deci-bit bucket — i.e. whether q293's terciles
    // survive the floor. Both models share one token pass; scoring is
    // the same bounded-vocab join twice.
    "q298_vocab_floor_audit" -> ((s, dir) =>
      graft.llm.LmScore.vocabFloorAudit(Tables.documents(s, dir),
        "doc_id", "text", "lang")),

    // Perplexity-threshold calibration to a TOKEN budget: find, per
    // language, the loosest deci-bit surprisal cut whose kept docs
    // (lowest-perplexity first) still fit 60% of the language's token
    // mass — the knob-tuning pass behind every "keep the best X% of
    // tokens" recipe. Same bounded-histogram machinery as q293 (the
    // cumulative scan runs over the ≤ ~300-row deci-bit table, never
    // the corpus) with integer-exact budget math (ctok·10 ≤ ntok·6);
    // a first bucket already over budget yields the honest empty cut
    // (-1, zero kept) instead of overshooting.
    "q297_budget_calibration" -> ((s, dir) =>
      graft.llm.LmScore.budgetCalibration(Tables.documents(s, dir),
        "doc_id", "text", "lang")),

    // C4-style blocked-wordlist screen: a document is DROPPED when any
    // token hits the blocklist (the "bad words" doc-level drop — C4's
    // most-criticized but universally-run stage), and the report prices
    // the filter per source: docs blocked, occurrence hits, and the
    // token mass the drop costs. Broadcast-literal word set inside one
    // codegen'd map stage + one agg — zero joins, zero extra shuffles
    // at any corpus size.
    "q296_badword_filter" -> ((s, dir) => {
      val blocked = Seq("dup", "slow", "stale")
      val toks = graft.llm.TextFunctions.tokens(col("text"))
      Tables.documents(s, dir)
        .select(col("source"),
          size(filter(toks, t => t.isin(blocked: _*)))
            .cast("long").as("hits"),
          size(toks).cast("long").as("n_tok"))
        .groupBy(col("source"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(when(col("hits") > 0, 1L).otherwise(0L))
            .cast("long").as("n_blocked"),
          sum(col("hits")).cast("long").as("n_hits"),
          sum(col("n_tok")).cast("long").as("tokens_total"),
          sum(when(col("hits") > 0, col("n_tok")).otherwise(0L))
            .cast("long").as("tokens_lost"))
        .select(col("source"), col("n_docs"), col("n_blocked"),
          col("n_hits"), col("tokens_total"), col("tokens_lost"),
          (col("n_blocked").cast("double") / col("n_docs").cast("double"))
            .as("blocked_rate"))
    }),

    // Rendezvous (highest-random-weight) shard assignment stability:
    // the consistent-sharding audit for incremental corpus processing.
    // Growing the shard count 8 → 12 must move ONLY the docs captured
    // by a new shard (HRW monotonicity: the old argmax survives in the
    // superset unless a new shard beats it — expected moved fraction
    // = 4/12), where mod-hashing would reshuffle ~everything and
    // invalidate every per-shard artifact (dedup rosters, LSH indexes,
    // pack files). Weight = portable 32-bit hash per (shard, doc); the
    // argmax rides one combined integer (w·32 + shard) so ties break
    // identically everywhere. Pure map stage + one bounded agg; the
    // n_to_new column is the monotonicity witness (== n_moved).
    "q295_shard_stability" -> ((s, dir) => {
      def hrw(k: Int) = pmod(array_max(transform(
        sequence(lit(0), lit(k - 1)), sh =>
          conv(substring(md5(concat(sh.cast("string"), lit("|"),
            col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long")
            * lit(32L) + sh.cast("long"))), lit(32L))
      Tables.documents(s, dir)
        .select(col("source"), hrw(8).as("s8"), hrw(12).as("s12"))
        .groupBy(col("source"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(when(col("s8") =!= col("s12"), 1L).otherwise(0L))
            .cast("long").as("n_moved"),
          sum(when(col("s12") >= 8, 1L).otherwise(0L))
            .cast("long").as("n_to_new"))
        .select(col("source"), col("n_docs"), col("n_moved"),
          col("n_to_new"),
          (col("n_moved").cast("double") / col("n_docs").cast("double"))
            .as("moved_rate"))
    }),

    // Tokenizer APPLICATION at corpus scale: the per-document token-id
    // sequence (the pretraining handoff artifact) under the 8-round
    // trained merges — Bpe.encodeIds replays merges on DISTINCT words,
    // ids come from the bounded post-merge vocabulary (driver literal,
    // per-row array_position — no id join), and each doc's ordered
    // sequence is hashed so one transposed/wrong id anywhere in the
    // corpus flips the compare. n_blocks is the 64-id training-block
    // count (the pack boundary the loader consumes).
    "q284_token_ids" -> ((s, dir) => {
      graft.llm.Bpe.encodeIds(Tables.documents(s, dir), "doc_id",
          "text", rounds = 8, blockTokens = 64)
        .select(col("doc_id"), col("n_words"), col("n_symbols"),
          col("n_blocks"),
          graft.llm.TextFunctions.portableHash(
            array_join(transform(col("ids"), i => i.cast("string")), ","),
            7).as("ids_hash"))
    }),

    // Tokenizer APPLY with an EXTERNALLY SUPPLIED merge list at
    // realistic vocab size (the production artifact — a trained
    // 32k–100k-merge vocabulary applied, never re-trained): 1352
    // closed-form merge rules (both engines derive the list from the
    // same formula) run through Bpe.applyMerges' min-rank loop — ONE
    // native expression holding the rank map, replayed over DISTINCT
    // words only, then joined back to per-(source, word) instance
    // counts. Corpus touched twice (both map-side-combined
    // aggregates); per-word symbol sequences are hashed so one wrong
    // merge anywhere flips the compare. The DuckDB oracle recomputes
    // the SAME min-rank loop with a recursive CTE over the rank map.
    "q302_bpe_apply_external" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val sw = docs.select(col("source"),
          explode(graft.llm.TextFunctions.tokens(col("text"))).as("w"))
        .groupBy(col("source"), col("w")).agg(count(lit(1)).as("nsw"))
      val enc = sw.select(col("w")).distinct()
        .select(col("w"),
          graft.llm.Bpe.applyMerges(col("w"), externalMerges).as("s"))
        .select(col("w"), size(col("s")).cast("long").as("n_sym"),
          graft.llm.TextFunctions.portableHash(
            array_join(col("s"), " "), 13).as("h"))
      sw.join(enc, "w")
        .groupBy(col("source"))
        .agg(sum(col("nsw")).cast("long").as("n_words"),
          sum(col("nsw") * length(col("w"))).cast("long").as("n_chars"),
          sum(col("nsw") * col("n_sym")).cast("long").as("n_symbols"),
          sum(col("nsw") * col("h")).cast("long").as("sym_hash_sum"))
        .select(col("source"), col("n_words"), col("n_chars"),
          col("n_symbols"),
          (col("n_chars").cast("double") / col("n_symbols").cast("double"))
            .as("chars_per_symbol"),
          (col("n_symbols").cast("double") / col("n_words").cast("double"))
            .as("symbols_per_word"),
          col("sym_hash_sum"))
    }),

    // The q284 handoff artifact under the EXTERNAL 1352-rule
    // vocabulary: per-doc ordered token-id sequences via
    // Bpe.encodeIdsWith (min-rank apply over distinct words + O(1)
    // hash-map id assignment), each doc's full sequence hashed so one
    // transposed/wrong id anywhere flips the compare. The oracle
    // replays q302's recursive apply, then assigns the SAME ids
    // (row_number over the sorted distinct observed symbols) and
    // reassembles each doc's sequence by word position.
    "q303_external_token_ids" -> ((s, dir) => {
      graft.llm.Bpe.encodeIdsWith(Tables.documents(s, dir), "doc_id",
          "text", externalMerges, blockTokens = 64)
        .select(col("doc_id"), col("n_words"), col("n_symbols"),
          col("n_blocks"),
          graft.llm.TextFunctions.portableHash(
            array_join(transform(col("ids"), i => i.cast("string")), ","),
            7).as("ids_hash"))
    }),

    // BYTE-LEVEL tokenizer apply (the GPT-2/HF merges.txt alphabet):
    // every token is prefixed with 'é' so the corpus genuinely carries
    // multi-byte UTF-8 (the raw fixture is pure ASCII), then applied
    // under a byte-level rule list — rank 0 merges é's two bytes
    // (0xC3 0xA9, both PRINTABLE bytes, so their remap symbols are
    // themselves), rank 1 chains the merged é onto 't', then the q302
    // ASCII rules (identical in byte space for ASCII). The oracle
    // constructs the same symbol stream by construction knowledge
    // (printable bytes self-map) and replays the same min-rank loop —
    // so the BYTE path, not just the codepoint path, is oracle-gated.
    "q307_bytelevel_apply" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val c3 = graft.llm.ByteLevel.byteToChar(0xC3)
      val a9 = graft.llm.ByteLevel.byteToChar(0xA9)
      val rules = Seq((c3, a9), (c3 + a9, "t")) ++ externalMerges
      val sw = docs.select(col("source"),
          explode(graft.llm.TextFunctions.tokens(col("text"))).as("w0"))
        .select(col("source"), col("w0"),
          concat(lit("\u00e9"), col("w0")).as("w"))
        .groupBy(col("source"), col("w"))
        .agg(count(lit(1)).as("nsw"),
          first(length(col("w0")) + lit(2)).as("nbytes"))
      val enc = sw.select(col("w")).distinct()
        .select(col("w"),
          graft.llm.Bpe.applyMergesBytes(col("w"), rules).as("s"))
        .select(col("w"), size(col("s")).cast("long").as("n_sym"),
          graft.llm.TextFunctions.portableHash(
            array_join(col("s"), " "), 29).as("h"))
      sw.join(enc, "w")
        .groupBy(col("source"))
        .agg(sum(col("nsw")).cast("long").as("n_words"),
          sum(col("nsw") * col("nbytes")).cast("long").as("n_bytes"),
          sum(col("nsw") * col("n_sym")).cast("long").as("n_symbols"),
          sum(col("nsw") * col("h")).cast("long").as("sym_hash_sum"))
        .select(col("source"), col("n_words"), col("n_bytes"),
          col("n_symbols"),
          (col("n_bytes").cast("double") / col("n_symbols").cast("double"))
            .as("bytes_per_symbol"),
          col("sym_hash_sum"))
    }),

    // CROSS-DOCUMENT packing at the id level — the GPT-style layout
    // where block boundaries cross documents: per shard, the external
    // vocab's id sequences concatenate in doc_id order and cut every
    // 64 ids. q286 prices pad-vs-concat economics, q304 pins per-doc
    // blocks; this pins the ACTUAL cross-doc block contents (n_ids,
    // contributing docs, exact id hash per block).
    "q308_crossdoc_packing" -> ((s, dir) => {
      val enc = graft.llm.Bpe.encodeIdsWith(Tables.documents(s, dir),
        "doc_id", "text", externalMerges, blockTokens = 64)
      graft.llm.Packing.packTokenBlocks(enc, "doc_id", "ids",
        blockTokens = 64, shards = 4)
    }),

    // The MATERIALIZED training blocks — what the loader actually mmaps:
    // q303's id sequences cut into 64-id pack units via Bpe.idBlocks
    // (tail truncates), one row per (doc, block) with the block's exact
    // id hash. Gates idBlocks cross-engine (the q286/q291 packing
    // queries price block ECONOMICS; this pins block CONTENT). The
    // explode is a narrow per-row expansion — no extra shuffle past
    // q303's reassembly agg.
    "q304_training_blocks" -> ((s, dir) => {
      graft.llm.Bpe.encodeIdsWith(Tables.documents(s, dir), "doc_id",
          "text", externalMerges, blockTokens = 64)
        .select(col("doc_id"),
          posexplode(graft.llm.Bpe.idBlocks(col("ids"), 64)))
        .select(col("doc_id"), col("pos").cast("long").as("block_idx"),
          size(col("col")).cast("long").as("n_ids"),
          graft.llm.TextFunctions.portableHash(
            array_join(transform(col("col"), i => i.cast("string")), ","),
            19).as("block_hash"))
    }),

    // GPT-2 PRE-TOKENIZATION (the document-faithful split a production
    // merges.txt is applied over): the published regex's segmentation
    // — case preserved, each word carrying its single leading space,
    // contractions split off, letter/digit/punct runs separated,
    // multi-space backtrack — run by the native scanner over fixture
    // text DETERMINISTICALLY enriched (both engines apply the same
    // replace chain) with contractions, mixed case, digits,
    // punctuation, double spaces, newline/tab, a non-ASCII letter and
    // apostrophe runs, so every alternation branch is exercised. The
    // per-doc segment list is hashed (one wrong boundary anywhere
    // flips the sum) and the partition property (concat(segments) ==
    // text) is COUNTED, not assumed. The DuckDB oracle replays the
    // same leftmost-first scan as a recursive one-token-per-step peel
    // (RE2 lacks the (?!\S) lookahead; the whitespace backtrack is the
    // explicit run-minus-last CASE).
    "q309_gpt_pretokenize" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val txt = injectPretok(col("text"))
      docs.select(col("source"), txt.as("txt"))
        .select(col("source"), col("txt"),
          graft.llm.PreTokenize.gptSegments(col("txt")).as("g"))
        .groupBy(col("source"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(size(col("g"))).cast("long").as("n_segments"),
          sum(size(filter(col("g"), x =>
            substring(x, 1, 1) === " "))).cast("long").as("n_space_led"),
          sum(when(array_join(col("g"), "") === col("txt"), lit(1L))
            .otherwise(lit(0L))).cast("long").as("n_reconstructed"),
          sum(graft.llm.TextFunctions.portableHash(
            array_join(col("g"), "\u0001"), 37))
            .cast("long").as("seg_hash_sum"))
    }),

    // The PUBLISHED vocab.json ID SPACE (loader-compatible handoff):
    // the full document-faithful encode -- GPT-2 pre-tokenize ->
    // byte-level min-rank apply -> ids from an EXTERNAL symbol->id map
    // shaped exactly like a real tokenizer checkpoint (one id per
    // byte symbol 0..255, one per merge at 256+rank) instead of the
    // q303 observed-sorted assignment. Rules: a space-prefix chain
    // (" the" -> ONE symbol -- the space-attachment payoff), the
    // two-byte e-acute pair, then the 1352 closed-form ASCII merges.
    // The oracle rebuilds the bytes_to_unicode table, the rule list,
    // and the id formula arithmetically and replays the same
    // segmentation + min-rank loop -- ids match only if every stage
    // is byte-identical.
    "q310_vocab_json_ids" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          injectPretok(col("text")).as("text"))
      graft.llm.Bpe.encodeIdsWith(docs, "doc_id", "text",
          byteLevelRules, blockTokens = 64, byteLevel = true,
          preTokenize = true, vocab = Some(byteLevelVocab))
        .select(col("doc_id"), col("n_words").as("n_segments"),
          col("n_symbols"), col("n_blocks"),
          graft.llm.TextFunctions.portableHash(
            array_join(transform(col("ids"), i => i.cast("string")), ","),
            7).as("ids_hash"))
    }),

    // DETOKENIZER ROUND-TRIP GATE, corpus-wide: the invariant
    // ByteLevel.decode promises -- decode(concat(symbols)) == the
    // EXACT original text (case, spaces, newlines, the two-byte
    // e-acute) -- asserted cross-engine: Spark computes the text hash
    // THROUGH encode (pre-tokenize -> byte-level apply) -> concat ->
    // decode, the oracle computes the same hash from the constructed
    // text directly. Any loss anywhere in the loop flips the sum.
    "q311_detok_roundtrip" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      docs.select(col("source"), injectPretok(col("text")).as("txt"))
        .select(col("source"), col("txt"),
          graft.llm.ByteLevel.decodeCol(array_join(flatten(transform(
            graft.llm.PreTokenize.gptSegments(col("txt")),
            seg => graft.llm.Bpe.applyMergesBytes(seg, byteLevelRules))),
            "")).as("rt"))
        .groupBy(col("source"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(when(col("rt") === col("txt"), lit(1L)).otherwise(lit(0L)))
            .cast("long").as("n_roundtrip"),
          sum(graft.llm.TextFunctions.portableHash(col("rt"), 41))
            .cast("long").as("rt_hash_sum"))
    }),

    // The COMPLETE production pipeline, end to end: GPT-2 pre-tokenize
    // -> byte-level min-rank apply -> vocab.json-formula ids -> q308's
    // cross-document packing. One row per (shard, block) with the
    // exact id hash -- this is the artifact a pretraining loader
    // mmaps, derived from raw text with every stage document-faithful,
    // and the whole chain is pinned cross-engine in one compare.
    "q314_packed_production" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), injectPretok(col("text")).as("text"))
      val enc = graft.llm.Bpe.encodeIdsWith(docs, "doc_id", "text",
        byteLevelRules, blockTokens = 64, byteLevel = true,
        preTokenize = true, vocab = Some(byteLevelVocab))
      graft.llm.Packing.packTokenBlocks(enc, "doc_id", "ids",
        blockTokens = 64, shards = 4)
    }),

    // Tokenizer ECONOMICS under the production encode -- the numbers a
    // tokenizer eval actually quotes per corpus slice: bytes/token
    // (compression) and tokens/doc (budget) per source, computed from
    // the q310 document-faithful pipeline (UTF-8 byte counts, GPT-2
    // segments, byte-level merges). One extra per-source rollup past
    // q310's plan; the byte count is octet_length on BOTH engines.
    "q315_tokenizer_economics" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          injectPretok(col("text")).as("text"))
      val enc = graft.llm.Bpe.encodeIdsWith(docs, "doc_id", "text",
        byteLevelRules, blockTokens = 64, byteLevel = true,
        preTokenize = true, vocab = Some(byteLevelVocab))
      docs.select(col("doc_id"), col("source"),
          octet_length(col("text")).cast("long").as("nb"))
        .join(enc.select(col("doc_id"), col("n_words"),
          col("n_symbols")), "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(col("nb")).cast("long").as("n_bytes"),
          sum(col("n_words")).cast("long").as("n_segments"),
          sum(col("n_symbols")).cast("long").as("n_tokens"))
        .select(col("source"), col("n_docs"), col("n_bytes"),
          col("n_segments"), col("n_tokens"),
          (col("n_bytes").cast("double") / col("n_tokens").cast("double"))
            .as("bytes_per_token"),
          (col("n_tokens").cast("double") / col("n_docs").cast("double"))
            .as("tokens_per_doc"))
    }),

    // BPE TRAINING the way production trains it: the census is GPT-2
    // SEGMENTS (case preserved, spaces attached) over the byte-level
    // base alphabet -- so the trainer can learn space-prefixed merges
    // (the first rule learned on the fixture is (Ġ, s)) that a
    // lowercase word census structurally cannot. Same deterministic
    // multi-round loop as q272 (argmax by count desc, x, y; greedy LTR
    // rewrite; exact long arithmetic); the oracle rebuilds the
    // segment peel + bytes_to_unicode census and replays the rounds
    // with MATERIALIZED round CTEs.
    "q316_bpe_train_segments" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), injectPretok(col("text")).as("text"))
      // r16: fast driver-side trainer (one census collect; rule-for-rule
      // = the distributed reference — FastTrainerSpec)
      graft.llm.Bpe.trainFromVocabFast(
        graft.llm.Bpe.segmentVocabBytes(docs, "text"), rounds = 8)
    }),

    // The CLOSED tokenizer lifecycle: train on the corpus (q316's
    // segment/byte-level census), then tokenize the SAME corpus with
    // the learned rules -- per-source compression stats with every
    // per-segment symbol sequence hashed. The 8 trained rules are a
    // driver-side bounded collect (the q272 trainer charter); the
    // apply is the native min-rank expression over DISTINCT segments
    // (trained lists are min-rank == in-order, the BpeSpec drop-in
    // contract). The oracle trains AND applies in one statement:
    // q316's round chain feeds a rank map into the q310-style
    // recursive apply.
    "q317_trained_tokenizer_apply" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          injectPretok(col("text")).as("text"))
      // r16: fast driver-side trainer returns the rank-ordered (x, y)
      // list directly (rule-for-rule = the distributed reference —
      // FastTrainerSpec); one census collect instead of 8 round jobs
      val rules = graft.llm.Bpe.trainFastFromVocab(
        graft.llm.Bpe.segmentVocabBytes(docs, "text"), rounds = 8)
      val sw = docs.select(col("source"),
          explode(graft.llm.PreTokenize.gptSegments(col("text")))
            .as("w"))
        .groupBy(col("source"), col("w"))
        .agg(count(lit(1)).as("nsw"),
          first(octet_length(col("w"))).as("nbytes"))
      val enc = sw.select(col("w")).distinct()
        .select(col("w"),
          graft.llm.Bpe.applyMergesBytes(col("w"), rules).as("s"))
        .select(col("w"), size(col("s")).cast("long").as("n_sym"),
          graft.llm.TextFunctions.portableHash(
            array_join(col("s"), " "), 43).as("h"))
      sw.join(enc, "w")
        .groupBy(col("source"))
        .agg(sum(col("nsw")).cast("long").as("n_segments"),
          sum(col("nsw") * col("nbytes")).cast("long").as("n_bytes"),
          sum(col("nsw") * col("n_sym")).cast("long").as("n_symbols"),
          sum(col("nsw") * col("h")).cast("long").as("sym_hash_sum"))
        .select(col("source"), col("n_segments"), col("n_bytes"),
          col("n_symbols"),
          (col("n_bytes").cast("double") / col("n_symbols").cast("double"))
            .as("bytes_per_symbol"),
          col("sym_hash_sum"))
    }),

    // The LOADER-COMPLETE block artifact: q314's production packing
    // plus the two details a real pretraining loader needs -- an EOS
    // separator id appended to every document (the <|endoftext|>
    // convention; id = one past the merge ids, the next free vocab
    // slot) and per-block ATTENTION-RESET boundary offsets (0-based
    // positions where a new document starts). One row per (shard,
    // block): exact id hash + the boundary offset list, both pinned
    // cross-engine.
    "q318_packed_loader" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), injectPretok(col("text")).as("text"))
      val enc = graft.llm.Bpe.encodeIdsWith(docs, "doc_id", "text",
        byteLevelRules, blockTokens = 64, byteLevel = true,
        preTokenize = true, vocab = Some(byteLevelVocab))
      graft.llm.Packing.packTokenBlocksLoader(enc, "doc_id", "ids",
        blockTokens = 64, shards = 4,
        eosId = 256L + byteLevelRules.size)
    }),

    // SPECIAL-TOKEN-FAITHFUL ENCODE (the HF/GPT-2 added-token
    // contract): documents whose TEXT contains the literal
    // <|endoftext|> — planted mid-word, space-surrounded, twice
    // adjacent, next to a NON-special lookalike — segment it out
    // BEFORE the pre-tokenizer as an unsplittable unit mapping
    // straight to its vocab id, while the lookalike BPEs as ordinary
    // punctuation. Without the bypass, exactly these documents would
    // encode differently from a production tokenizer. The oracle
    // splits on the literal, peels each chunk independently, and
    // interleaves the separators back in order.
    "q319_special_tokens" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), injectSpecial(col("text")).as("text"))
      val enc = graft.llm.Bpe.encodeIdsWith(docs, "doc_id", "text",
        byteLevelRules, blockTokens = 64, byteLevel = true,
        preTokenize = true,
        vocab = Some(byteLevelVocab + ("<|endoftext|>" -> specialTokenId)),
        specialTokens = Seq("<|endoftext|>"))
      enc.select(col("doc_id"), col("n_words").as("n_units"),
        col("n_symbols"),
        size(filter(col("ids"), i => i === lit(specialTokenId)))
          .cast("long").as("n_specials"),
        graft.llm.TextFunctions.portableHash(
          array_join(transform(col("ids"), i => i.cast("string")), ","),
          11).as("ids_hash"))
    }),

    // UNIGRAM-LM (SentencePiece-style) TOKENIZER TRAINING — the second
    // published tokenizer family beside BPE: substring seed vocabulary
    // over the GPT-2 segment census, then 2 hard-EM rounds (Viterbi
    // E-step under scaled-integer log scores, count re-estimation
    // M-step, single-char coverage floor). All DP arithmetic is exact
    // longs; the oracle unrolls both EM rounds position by position
    // (MATERIALIZED per DP step — each level is referenced twice) and
    // replays the same tie rules.
    "q321_unigram_train" -> ((s, dir) =>
      graft.llm.Unigram.train(Tables.documents(s, dir), "text",
        maxPieceLen = 4, minCount = 2L, rounds = 2, maxSegLen = 12)),

    // The CLOSED unigram lifecycle (q317's statement for the second
    // tokenizer family): train q321's vocabulary, then Viterbi-segment
    // the SAME corpus under the trained scores — per-source
    // segmentation economics with every distinct segment's ordered
    // piece sequence hashed. The trained score map is a bounded
    // collect (the artifact scale); the oracle appends ONE more DP
    // pass (the apply) to the q321 EM unroll and rolls up per source.
    "q322_unigram_apply" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val wgt = graft.llm.Unigram.train(docs, "text",
          maxPieceLen = 4, minCount = 2L, rounds = 2, maxSegLen = 12)
        .select(col("piece"), col("score"))
        .as[(String, Long)].collect().toMap
      graft.llm.Unigram.applyStats(docs, "text", "source", wgt,
        maxPieceLen = 4, maxSegLen = 12)
    }),

    // SPECIAL-TOKEN ECONOMICS — the curation readout that motivates
    // q319: per source, how many documents literally mention the
    // special token, how many id slots the mentions occupy, and their
    // share of the total id mass (crawl text about LLMs mentions
    // <|endoftext|> constantly; without the faithful bypass these are
    // exactly the documents that mis-encode). One per-source rollup
    // past q319's per-doc encode.
    "q325_special_token_economics" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          injectSpecial(col("text")).as("text"))
      val enc = graft.llm.Bpe.encodeIdsWith(docs, "doc_id", "text",
        byteLevelRules, blockTokens = 64, byteLevel = true,
        preTokenize = true,
        vocab = Some(byteLevelVocab + ("<|endoftext|>" -> specialTokenId)),
        specialTokens = Seq("<|endoftext|>"))
      docs.select(col("doc_id"), col("source"))
        .join(enc.select(col("doc_id"),
          size(col("ids")).cast("long").as("n_ids"),
          size(filter(col("ids"), i => i === lit(specialTokenId)))
            .cast("long").as("n_sp")), "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(when(col("n_sp") > 0, 1L).otherwise(0L)).cast("long")
            .as("docs_with_special"),
          sum(col("n_sp")).cast("long").as("special_ids"),
          sum(col("n_ids")).cast("long").as("total_ids"))
        .select(col("source"), col("n_docs"), col("docs_with_special"),
          col("special_ids"), col("total_ids"),
          (col("special_ids").cast("double")
            / col("total_ids").cast("double")).as("special_share"))
    }),

    // WORDPIECE TRAINING (the THIRD published tokenizer family — BERT
    // lineage): BPE-shaped rounds ranked by the published score
    // count(xy)/(count(x)·count(y)) — likelihood gain, one exact
    // double division of exact longs, identical cross-engine. The
    // oracle replays pair census + unit census + score argmax +
    // greedy rewrite per round.
    // r16: fast driver-side trainer (one census collect, rule-for-rule
    // and score-for-score = the distributed reference — FastTrainerSpec)
    "q323_wordpiece_train" -> ((s, dir) =>
      graft.llm.WordPiece.trainFast(Tables.documents(s, dir), "text",
        rounds = 8)),

    // The CLOSED WordPiece lifecycle: q323's trained state implies the
    // piece vocabulary (word-initial symbols plain, continuations
    // ##-prefixed); the corpus re-tokenizes under GREEDY
    // LONGEST-MATCH-FIRST (dead-end position -> the whole word is
    // [UNK] — the BERT behavior) — per-source words/pieces/UNKs and
    // the ordered piece-sequence hash sum. The oracle unrolls the
    // greedy scan position by position over distinct words.
    "q324_wordpiece_apply" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      // r16: fast driver-side trainer (rules + derived piece vocabulary
      // pinned to the distributed trainWithVocab — FastTrainerSpec)
      val (_, vocab) = graft.llm.WordPiece.trainFastWithVocab(
        graft.llm.Bpe.charVocab(docs, "text"), rounds = 8)
      graft.llm.WordPiece.applyStats(docs, "text", "source", vocab)
    }),

    // PRODUCTION-SCALE TOKENIZER TRAINING (the r15 capability-scale
    // gap): the fast driver-side trainer (FastTrainers — the HF
    // `tokenizers` shape: collect the content-bounded census ONCE,
    // delta-update the pair table per merge) learns >=1024 byte-level
    // merges in seconds, where the distributed trainer would schedule
    // 1024 census jobs; the corpus then encodes under the full learned
    // vocabulary (vocab.json-formula ids) via the one-expression
    // min-rank apply. Fixture text is enriched with a deterministic
    // per-doc hash-digit word (both engines, same chain) so the tiny
    // synthetic vocabulary is deep enough to learn 1024+ merges. The
    // oracle replays the APPLY + economics with the trained rules as
    // an external literal list (the q310/q318 contract); the TRAINER
    // is pinned rule-for-rule to the oracle-gated distributed trainer
    // by FastTrainerSpec.
    "q326_bpe_vocab_scale" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          injectVocabScale(col("text"), col("doc_id")).as("text"))
      val rules = graft.llm.Bpe.trainFastFromVocab(
        graft.llm.Bpe.segmentVocabBytes(docs, "text"), rounds = 1100)
      require(rules.size >= 1024,
        s"expected >=1024 learned merges on the enriched census: " +
          s"${rules.size}")
      TrainedStash.putRules("q326_bpe_vocab_scale", rules)
      // the published vocab.json id formula: byte b -> b, rank i ->
      // 256+i — closed over the rules by construction. If two learned
      // rules' concatenations collide (('a','bc') vs ('ab','c')),
      // toMap keeps the LAST = highest rank; the oracle's idm dedupes
      // to max(id) — same choice on both engines.
      val vocab = (0 until 256).map(b =>
        graft.llm.ByteLevel.byteToChar(b) -> b.toLong).toMap ++
        rules.zipWithIndex.map { case ((x, y), i) =>
          (x + y) -> (256L + i)
        }.toMap
      val enc = graft.llm.Bpe.encodeIdsWith(docs, "doc_id", "text",
        rules, blockTokens = 64, byteLevel = true, preTokenize = true,
        vocab = Some(vocab))
      docs.select(col("doc_id"), col("source"))
        .join(enc.select(col("doc_id"), col("n_words"),
          col("n_symbols"),
          graft.llm.TextFunctions.portableHash(
            array_join(transform(col("ids"), i => i.cast("string")),
              ","), 17).as("h")), "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(col("n_words")).cast("long").as("n_units"),
          sum(col("n_symbols")).cast("long").as("n_tokens"),
          sum(col("h")).cast("long").as("ids_hash_sum"))
        .select(col("source"), col("n_docs"), col("n_units"),
          col("n_tokens"),
          (col("n_tokens").cast("double") / col("n_units").cast("double"))
            .as("tokens_per_unit"),
          col("ids_hash_sum"))
    }),

    // MULTI-SPECIAL-TOKEN ENCODE with OVERLAPPING PREFIXES — the
    // chat-template corpus reality past q319's single special:
    // `<|im_start|>` is a strict prefix of `<|im_start|>user`, so the
    // leftmost-longest scan must pick the longer exactly where it
    // completes ("<|im_start|>user hi") and the prefix where it
    // doesn't ("<|im_start|>us") — the HF AddedVocabulary contract.
    // The fixture plants: longer-wins, bare-prefix mid-word,
    // special-after-word, almost-the-longer, adjacent specials with an
    // empty chunk, and a `<|im_sta|>` lookalike that must BPE as
    // ordinary punctuation. The oracle peels specials by a recursive
    // (position, longest-first-priority) argmin scan, pre-tokenizes
    // each chunk independently, and interleaves.
    "q327_chat_specials" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), injectChat(col("text")).as("text"))
      val enc = graft.llm.Bpe.encodeIdsWith(docs, "doc_id", "text",
        byteLevelRules, blockTokens = 64, byteLevel = true,
        preTokenize = true,
        vocab = Some(byteLevelVocab ++ chatSpecialIds),
        specialTokens = chatSpecials)
      def nOf(tok: String) = size(filter(col("ids"),
        i => i === lit(chatSpecialIds(tok)))).cast("long")
      enc.select(col("doc_id"), col("n_words").as("n_units"),
        col("n_symbols"),
        nOf("<|im_start|>").as("n_im_start"),
        nOf("<|im_start|>user").as("n_im_start_user"),
        nOf("<|im_end|>").as("n_im_end"),
        graft.llm.TextFunctions.portableHash(
          array_join(transform(col("ids"), i => i.cast("string")), ","),
          19).as("ids_hash"))
    }),

    // PRODUCTION-SCALE WORDPIECE (q326's statement for the third
    // family): the fast driver-side trainer learns >=1024
    // published-score merges on the collected char census, the implied
    // piece vocabulary (word-initial plain, continuations ##-prefixed)
    // drives the greedy longest-match apply over the corpus — q324's
    // economics under a thousand-piece vocabulary. Same oracle
    // contract as q326: the apply + rollup replay with the trained
    // piece set as an external literal table; the trainer is pinned
    // rule-for-rule (scores included) to the oracle-gated distributed
    // trainer by FastTrainerSpec.
    "q328_wordpiece_vocab_scale" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          injectVocabScale(col("text"), col("doc_id")).as("text"))
      val (rules, pieces) = graft.llm.WordPiece.trainFastWithVocab(
        graft.llm.Bpe.charVocab(docs, "text"), rounds = 1100)
      require(rules.size >= 1024,
        s"expected >=1024 learned merges on the enriched census: " +
          s"${rules.size}")
      TrainedStash.putPieces("q328_wordpiece_vocab_scale", pieces)
      graft.llm.WordPiece.applyStats(docs, "text", "source", pieces)
    }),

    // MERGE-DEPTH COMPRESSION CURVE AT PRODUCTION DEPTH — the
    // vocab-size tuning readout q299 sketches at 8 merges, here where
    // the decision actually lives: after 0/16/64/256/1024 trained
    // byte-level merges, the corpus-weighted symbol mass and the two
    // ratios every tokenizer build quotes (bytes/symbol compression,
    // symbols/segment fertility). One fast train + five bounded-vocab
    // aggregates (the corpus collapses into the distinct-segment
    // census once; each depth point re-applies the rank-truncated rule
    // list natively per distinct segment — zero extra corpus scans).
    // The oracle replays each depth with the trained rules as an
    // external literal list, rank-filtered per point.
    "q330_vocab_depth_curve" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"),
          injectVocabScale(col("text"), col("doc_id")).as("text"))
      val wv = docs.select(explode(
          graft.llm.PreTokenize.gptSegments(col("text"))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("weight"))
        .transform(graft.core.Caching.persist)
      val rules = graft.llm.Bpe.trainFastFromVocab(
        wv.select(col("weight"),
          graft.llm.Bpe.applyMergesBytes(col("w"), Nil).as("s")),
        rounds = 1100)
      require(rules.size >= 1024,
        s"expected >=1024 learned merges: ${rules.size}")
      TrainedStash.putRules("q330_vocab_depth_curve", rules)
      Seq(0, 16, 64, 256, 1024).map { r =>
        wv.agg(sum(col("weight")).cast("long").as("n_segments"),
            sum(col("weight") * octet_length(col("w"))).cast("long")
              .as("n_bytes"),
            sum(col("weight") * size(graft.llm.Bpe.applyMergesBytes(
              col("w"), rules.take(r)))).cast("long").as("n_symbols"))
          .select(lit(r.toLong).as("depth"), col("n_segments"),
            col("n_bytes"), col("n_symbols"),
            (col("n_bytes").cast("double")
              / col("n_symbols").cast("double")).as("bytes_per_symbol"),
            (col("n_symbols").cast("double")
              / col("n_segments").cast("double"))
              .as("symbols_per_segment"))
      }.reduce(_ unionAll _)
    }),

    // TOKEN-FREQUENCY COVERAGE under the production-trained vocab —
    // the tokenizer-QA readout every vocab build quotes next to the
    // q330 curve: the top-64 token ids by corpus occupancy and the id
    // stream share each covers (a head dominated by a handful of ids
    // means wasted vocab slots; a flat head means under-merging). Same
    // fast-trained >=1024-merge vocabulary as q326; counting is one
    // bounded (|vocab|-keyed) aggregate over the encode, the top-64
    // cut a TakeOrdered under a total order — no window, no corpus
    // collect. The oracle replays the encode under the stashed rules
    // and re-counts.
    "q331_token_coverage" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"),
          injectVocabScale(col("text"), col("doc_id")).as("text"))
      val rules = graft.llm.Bpe.trainFastFromVocab(
        graft.llm.Bpe.segmentVocabBytes(docs, "text"), rounds = 1100)
      require(rules.size >= 1024,
        s"expected >=1024 learned merges: ${rules.size}")
      TrainedStash.putRules("q331_token_coverage", rules)
      val vocab = (0 until 256).map(b =>
        graft.llm.ByteLevel.byteToChar(b) -> b.toLong).toMap ++
        rules.zipWithIndex.map { case ((x, y), i) =>
          (x + y) -> (256L + i)
        }.toMap
      val enc = graft.llm.Bpe.encodeIdsWith(docs, "doc_id", "text",
        rules, blockTokens = 64, byteLevel = true, preTokenize = true,
        vocab = Some(vocab))
      val idc = enc.select(explode(col("ids")).as("token_id"))
        .groupBy(col("token_id"))
        .agg(count(lit(1)).cast("long").as("n_occurrences"))
        .transform(graft.core.Caching.persist)
      idc.crossJoin(broadcast(
          idc.agg(sum(col("n_occurrences")).cast("long").as("t"))))
        .orderBy(col("n_occurrences").desc, col("token_id"))
        .limit(64)
        .select(col("token_id"), col("n_occurrences"),
          (col("n_occurrences").cast("double") / col("t").cast("double"))
            .as("share"))
    }),

    // CHAT-MARKER ECONOMICS — q325's per-source curation readout for
    // the OVERLAPPING-prefix special set: how many documents carry any
    // chat marker, the id slots each marker occupies, and the total
    // marker share of the id stream. The longest-wins discipline is
    // load-bearing here: counting `<|im_start|>` occurrences without
    // it would double-count every `<|im_start|>user`. One per-source
    // rollup past q327's per-doc encode.
    "q334_chat_marker_economics" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          injectChat(col("text")).as("text"))
      val enc = graft.llm.Bpe.encodeIdsWith(docs, "doc_id", "text",
        byteLevelRules, blockTokens = 64, byteLevel = true,
        preTokenize = true,
        vocab = Some(byteLevelVocab ++ chatSpecialIds),
        specialTokens = chatSpecials)
      def nOf(tok: String) = size(filter(col("ids"),
        i => i === lit(chatSpecialIds(tok)))).cast("long")
      val sp = chatSpecials.map(t => nOf(t)).reduce(_ + _)
      docs.select(col("doc_id"), col("source"))
        .join(enc.select(col("doc_id"),
          size(col("ids")).cast("long").as("n_ids"),
          nOf("<|im_start|>").as("n_start"),
          nOf("<|im_start|>user").as("n_start_user"),
          nOf("<|im_end|>").as("n_end"),
          sp.as("n_sp")), "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(when(col("n_sp") > 0, 1L).otherwise(0L)).cast("long")
            .as("docs_with_marker"),
          sum(col("n_start")).cast("long").as("im_start_ids"),
          sum(col("n_start_user")).cast("long").as("im_start_user_ids"),
          sum(col("n_end")).cast("long").as("im_end_ids"),
          sum(col("n_ids")).cast("long").as("total_ids"))
        .select(col("source"), col("n_docs"), col("docs_with_marker"),
          col("im_start_ids"), col("im_start_user_ids"),
          col("im_end_ids"), col("total_ids"),
          ((col("im_start_ids") + col("im_start_user_ids")
            + col("im_end_ids")).cast("double")
            / col("total_ids").cast("double")).as("marker_share"))
    }),

    // WORDPIECE PER-DOC TOKEN IDS — the family's loader handoff as an
    // oracle-gated query (q310's statement for the second apply
    // family, and the exact path the pipeline's tokenizerFamily =
    // wordpiece terminal runs): train 8 published-score rounds, ids
    // from the BERT vocab.txt line order ([UNK]=0, [SEP]=1, sorted
    // pieces after), the greedy split over DISTINCT words joined back
    // per doc. A dead-ended word contributes the single [UNK] id. The
    // oracle trains in SQL (q323's machinery), unrolls the greedy
    // scan, ranks the piece ids identically, and reassembles per doc.
    "q332_wordpiece_ids" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      // r16: fast driver-side trainer (piece vocabulary pinned to the
      // distributed trainWithVocab — FastTrainerSpec)
      val (_, pieces) = graft.llm.WordPiece.trainFastWithVocab(
        graft.llm.Bpe.charVocab(docs, "text"), rounds = 8)
      // vocab.txt line order = id order, sorted in UTF-8 byte order —
      // the same ORDER BY piece the oracle ranks with
      val ordered = Seq("[UNK]", "[SEP]") ++
        (pieces -- Set("[UNK]", "[SEP]")).toSeq
          .sorted(graft.llm.TextFunctions.utf8Ordering)
      val ids = ordered.zipWithIndex
        .map { case (p, i) => p -> i.toLong }.toMap
      graft.llm.WordPiece.encodeIds(docs, "doc_id", "text", pieces,
          ids, blockTokens = 64)
        .select(col("doc_id"), col("n_words"), col("n_symbols"),
          graft.llm.TextFunctions.portableHash(
            array_join(transform(col("ids"), i => i.cast("string")),
              ","), 23).as("ids_hash"))
    }),

    // UNIGRAM PER-DOC TOKEN IDS — the same statement for the third
    // family (the pipeline's tokenizerFamily = unigram terminal):
    // q321's trained scores Viterbi-split every segment, ids from the
    // spm dump line order (</s> control at 0, sorted pieces after).
    // The oracle appends the apply DP pass to the EM unroll (q322's
    // machinery), ranks piece ids identically, and reassembles per doc
    // in segment order.
    "q333_unigram_ids" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val voc = graft.llm.Unigram.train(docs, "text", maxPieceLen = 4,
          minCount = 2L, rounds = 2, maxSegLen = 12)
        .select(col("piece"), col("score"))
        .as[(String, Long)].collect().toSeq
        .sortBy(_._1)(graft.llm.TextFunctions.utf8Ordering)
      val ids = (("</s>", 0L) +: voc).zipWithIndex
        .map { case ((p, _), i) => p -> i.toLong }.toMap
      graft.llm.Unigram.encodeIds(docs, "doc_id", "text", voc.toMap,
          maxPieceLen = 4, ids, maxSegLen = 12, blockTokens = 64)
        .select(col("doc_id"), col("n_words"), col("n_symbols"),
          graft.llm.TextFunctions.portableHash(
            array_join(transform(col("ids"), i => i.cast("string")),
              ","), 29).as("ids_hash"))
    }),

    // UNIGRAM SIZE PRUNING — real SentencePiece trains to a REQUESTED
    // vocab size (`--vocab_size`), shrinking across EM rounds: q321's
    // hard-EM with targetVocab = 48 — intermediate rounds prune to
    // max(48, 3·|V|/4) (the published shrinking_factor = 0.75, exact
    // integer), the final round cuts to 48 exactly; single-char
    // pieces never drop (the coverage floor), multi-char pieces rank
    // by (count DESC, piece) — the hard-EM count-ranked stand-in for
    // SPM's likelihood-loss rank (documented divergence), and scores
    // recompute over the KEPT total. The oracle replays every prune
    // inside the q321 EM unroll.
    "q329_unigram_prune" -> ((s, dir) =>
      graft.llm.Unigram.train(Tables.documents(s, dir), "text",
        maxPieceLen = 4, minCount = 2L, rounds = 2, maxSegLen = 12,
        targetVocab = Some(48)))
  )

  /** The q327 special list (overlapping prefixes) and their vocab ids
    * (the next free slots past the merge ids, in list order — the
    * added-token convention).
    */
  private[graft] val chatSpecials: Seq[String] =
    Seq("<|im_start|>", "<|im_start|>user", "<|im_end|>")
  private[graft] lazy val chatSpecialIds: Map[String, Long] =
    chatSpecials.zipWithIndex.map { case (t, i) =>
      t -> (specialTokenId + i)
    }.toMap

  /** q327 text enrichment: the overlapping-prefix hard cases, applied
    * identically on both engines (each step's output contains no later
    * step's pattern).
    */
  private val injectChatSteps: Seq[(String, String)] = Seq(
    // the longer special completes -> it must win over its prefix
    "value" -> "<|im_start|>user value",
    // bare prefix special mid-text, chunk boundary mid-word
    "join" -> "x<|im_start|>join",
    // special immediately after a word (no space)
    "scan" -> "scan<|im_end|>",
    // ALMOST the longer special: "us" does not complete "user", so the
    // prefix special matches and "us" is ordinary text
    "small" -> "<|im_start|>us",
    // adjacent specials with an empty chunk between
    "filter" -> "<|im_end|><|im_start|>user",
    // lookalike, NOT in the special list: BPEs as ordinary punctuation
    "batch" -> "<|im_sta|>batch")

  private def injectChat(text: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    injectChatSteps.foldLeft(text) { case (c, (a, b)) =>
      replace(c, lit(a), lit(b))
    }

  private def injectChatSql: String =
    injectChatSteps.foldLeft("text") { case (e, (a, b)) =>
      s"replace($e, '$a', '$b')"
    }

  /** q310/q311 byte-level rule list: a space-prefix chain proving
    * space attachment merges across the pre-tokenizer boundary, the
    * e-acute byte pair, then the closed-form ASCII merges (identical
    * in byte space for ASCII).
    */
  private[graft] lazy val byteLevelRules: Seq[(String, String)] = {
    val g = graft.llm.ByteLevel.byteToChar(0x20)
    val c3 = graft.llm.ByteLevel.byteToChar(0xC3)
    val a9 = graft.llm.ByteLevel.byteToChar(0xA9)
    Seq((g, "t"), (g + "t", "h"), (g + "th", "e"), (c3, a9)) ++
      externalMerges
  }

  /** The vocab.json-shaped id space for [[byteLevelRules]]: byte
    * symbol b -> id b (0..255), merge of rank i -> id 256+i --
    * exactly the published GPT-2 vocab structure, closed over the
    * rules by construction.
    */
  private[graft] lazy val byteLevelVocab: Map[String, Long] =
    (0 until 256).map(b =>
      graft.llm.ByteLevel.byteToChar(b) -> b.toLong).toMap ++
      byteLevelRules.zipWithIndex.map { case ((x, y), i) =>
        (x + y) -> (256L + i)
      }.toMap

  /** The q309/q310/q311 text enrichment: fixture text is lowercase
    * ASCII words + single spaces, so both engines inject the
    * pre-tokenizer's hard cases through the SAME ordered replace
    * chain — contractions, double space + capital, digit/letter
    * alternation, punctuation runs, newline/tab, a two-byte UTF-8
    * letter, an apostrophe run, and a space-attached contraction.
    */
  private def injectPretok(text: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val steps: Seq[(String, String)] = injectPretokSteps
    steps.foldLeft(text) { case (c, (a, b)) => replace(c, lit(a), lit(b)) }
  }

  private val injectPretokSteps: Seq[(String, String)] = Seq(
    "the " -> "The  ",
    "key" -> "it's",
    "row" -> "row7x9",
    "scan" -> "scan, really!",
    "slow" -> "slow\nnew\tline",
    "merge" -> "mergé",
    "part" -> "part''s",
    "fast" -> "a  's")

  /** The q310/q314 oracle machinery: recursive GPT-2 peel, byte
    * symbols, min-rank byte-level apply, vocab.json-formula ids,
    * per-doc reassembly into `byDoc(doc_id, n_segments, ids)`.
    */
  private def byteLevelEncodeCtes: String =
    s"""WITH RECURSIVE d AS (
           SELECT doc_id, source, $injectPretokSql AS txt
           FROM documents),
         seg AS (
           SELECT doc_id, 0 AS ord, txt AS rem,
               CAST(NULL AS VARCHAR) AS tok
             FROM d
           UNION ALL
           SELECT doc_id, ord + 1, substr(rem, length(tok) + 1), tok
           FROM (
             SELECT doc_id, ord, rem,
               CASE WHEN regexp_matches(t0, '^\\s+$$')
                     AND length(t0) < length(rem) AND length(t0) >= 2
                 THEN substr(t0, 1, length(t0) - 1) ELSE t0 END AS tok
             FROM (SELECT doc_id, ord, rem, regexp_extract(rem,
                 '^(''s|''t|''re|''ve|''m|''ll|''d| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+)') AS t0
               FROM seg WHERE rem <> ''))),
         sg AS (SELECT doc_id, ord, tok FROM seg WHERE tok IS NOT NULL),
         wd AS (SELECT DISTINCT tok AS w FROM sg),
         ${byteApplyCtes()},
         ew AS (SELECT w, list_transform(s, sy -> idm.m[sy][1]) AS wids
           FROM fin, idm),
         byDoc AS (SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_segments,
             flatten(list(wids ORDER BY ord)) AS ids
           FROM sg JOIN ew ON ew.w = sg.tok GROUP BY doc_id)"""

  /** The shared byte-level-apply oracle block (consumes a preceding
    * `wd(w)` CTE of distinct pre-tokenizer segments): bytes_to_unicode
    * table, the merge-rule list, the recursive min-rank apply, and the
    * vocab.json id map. `extraIdRows` appends additional symbol→id
    * mappings to `idm` (q319's special token); `rlBody` overrides the
    * default closed-form 1356-rule list (q326 injects the rule list its
    * query just TRAINED, as literal VALUES — see [[TrainedStash]]).
    */
  private def byteApplyCtes(extraIdRows: String = "",
                            rlBody: String = defaultRlBody): String =
    s"""bu AS (SELECT b, CASE WHEN printable THEN chr(CAST(b AS INTEGER))
                  ELSE chr(CAST(255 + row_number()
                    OVER (PARTITION BY printable ORDER BY b)
                    AS INTEGER)) END AS sym
                FROM (SELECT i AS b, (i BETWEEN 33 AND 126)
                        OR (i BETWEEN 161 AND 172)
                        OR (i BETWEEN 174 AND 255) AS printable
                      FROM range(256) t(i))),
         mb AS (SELECT map_from_entries(list(struct_pack(k := b,
             v := sym))) AS m FROM bu WHERE b < 128),
         rl(rank, x, y) AS ($rlBody),
         rk AS (SELECT map_from_entries(list(struct_pack(
             k := x || chr(10) || y, v := rank))) AS m FROM rl),
         rx AS (SELECT map_from_entries(list(struct_pack(k := rank,
             v := struct_pack(x := x, y := y)))) AS m FROM rl),
         enc AS (
           SELECT w, flatten(list_transform(
               list_filter(string_split(w, ''), c -> c <> ''), c ->
               CASE WHEN unicode(c) = 233 THEN [chr(195), chr(169)]
                    ELSE [mb.m[unicode(c)][1]] END)) AS s
             FROM wd, mb
           UNION ALL
           SELECT w, string_split(list_reduce(s, (acc, sy) -> CASE
               WHEN string_split(acc, ' ')[-1] = bx AND sy = by
               THEN substr(acc, 1, length(acc) - length(bx)) || bx || by
               ELSE acc || ' ' || sy END), ' ') AS s
           FROM (
             SELECT w, s, rx.m[br][1].x AS bx, rx.m[br][1].y AS by
             FROM (
               SELECT w, s, list_min(list_transform(
                   generate_series(1, len(s) - 1),
                   i -> rk.m[s[i] || chr(10) || s[i+1]][1])) AS br
               FROM enc, rk WHERE len(s) >= 2), rx
             WHERE br IS NOT NULL)),
         fin AS (SELECT w, s FROM enc, rk
           WHERE len(s) < 2 OR list_min(list_transform(
             generate_series(1, len(s) - 1),
             i -> rk.m[s[i] || chr(10) || s[i+1]][1])) IS NULL),
         idm AS (SELECT map_from_entries(list(struct_pack(k := sym,
             v := id))) AS m
           FROM (
             -- max-id dedupe: a TRAINED rule list (q326/q330/q331) can
             -- legitimately learn two rules whose concatenations
             -- collide (('a','bc') and ('ab','c') both yield 'abc');
             -- the Spark side's `++`/toMap keeps the LAST = highest
             -- rank, and map_from_entries would ERROR on the duplicate
             -- key — group to the same highest-rank id instead (a
             -- no-op for the collision-free closed-form default list)
             SELECT sym, CAST(max(id) AS BIGINT) AS id FROM (
               SELECT sym, CAST(b AS BIGINT) AS id FROM bu
                 UNION ALL SELECT x || y AS sym,
                   CAST(256 + rank AS BIGINT) AS id FROM rl$extraIdRows)
             GROUP BY sym))"""

  /** The q310-lineage fixed rule list (a space-prefix chain + the
    * e-acute byte pair + the closed-form ASCII merges), as the default
    * `rl` body for [[byteApplyCtes]].
    */
  private def defaultRlBody: String =
    s"""SELECT 0 AS rank, chr(288) AS x, 't' AS y
            UNION ALL SELECT 1, chr(288) || 't', 'h'
            UNION ALL SELECT 2, chr(288) || 'th', 'e'
            UNION ALL SELECT 3, chr(195), chr(169)
            UNION ALL SELECT i + 4, chr(97 + CAST(i // 26 AS INTEGER)),
                chr(97 + CAST(i % 26 AS INTEGER)) FROM range(676) t(i)
            UNION ALL SELECT 680 + j, chr(97 + CAST(j // 26 AS INTEGER))
                || chr(97 + CAST(j % 26 AS INTEGER)),
                chr(97 + CAST((j * 7 + 3) % 26 AS INTEGER))
              FROM range(676) t(j)"""

  /** The q319 oracle machinery: split the text on the literal special
    * token FIRST (string_split — leftmost by construction; the query
    * uses one special so longest-match is trivial), peel each chunk
    * independently keyed by (doc_id, part_ord), then interleave chunk
    * segments with the special separators in (part_ord, sp, ord)
    * order. Non-special segments ride the shared byte apply; the
    * special maps straight to its id ($specialTokenId — the next free
    * vocab slot, the q318 eosId convention).
    */
  private def specialEncodeCtes: String =
    s"""WITH RECURSIVE d AS (
           SELECT doc_id, source, $injectSpecialSql AS txt
           FROM documents),
         pt AS (SELECT doc_id, string_split(txt, '<|endoftext|>')
             AS parts FROM d),
         ch AS (SELECT doc_id, i AS part_ord, parts[i] AS chunk,
             len(parts) AS n_parts
           FROM pt, unnest(generate_series(1, len(parts))) g(i)),
         seg AS (
           SELECT doc_id, part_ord, 0 AS ord, chunk AS rem,
               CAST(NULL AS VARCHAR) AS tok
             FROM ch
           UNION ALL
           SELECT doc_id, part_ord, ord + 1,
               substr(rem, length(tok) + 1), tok
           FROM (
             SELECT doc_id, part_ord, ord, rem,
               CASE WHEN regexp_matches(t0, '^\\s+$$')
                     AND length(t0) < length(rem) AND length(t0) >= 2
                 THEN substr(t0, 1, length(t0) - 1) ELSE t0 END AS tok
             FROM (SELECT doc_id, part_ord, ord, rem, regexp_extract(rem,
                 '^(''s|''t|''re|''ve|''m|''ll|''d| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+)') AS t0
               FROM seg WHERE rem <> ''))),
         su AS (SELECT doc_id, part_ord, 0 AS sp, ord, tok FROM seg
             WHERE tok IS NOT NULL
           UNION ALL
           SELECT doc_id, part_ord, 1 AS sp, 0 AS ord,
               '<|endoftext|>' AS tok
             FROM ch WHERE part_ord < n_parts),
         wd AS (SELECT DISTINCT tok AS w FROM su WHERE sp = 0),
         ${byteApplyCtes(s"""
                 UNION ALL SELECT '<|endoftext|>' AS sym,
                   CAST($specialTokenId AS BIGINT) AS id""")},
         ew AS (SELECT w, list_transform(s, sy -> idm.m[sy][1]) AS wids
           FROM fin, idm),
         byDoc AS (SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_units,
             flatten(list(CASE WHEN su.sp = 1
                 THEN [CAST($specialTokenId AS BIGINT)] ELSE ew.wids END
               ORDER BY su.part_ord, su.sp, su.ord)) AS ids
           FROM su LEFT JOIN ew ON su.sp = 0 AND ew.w = su.tok
           GROUP BY doc_id)"""

  /** The special token's id: one past the merge ids — the next free
    * vocab slot (the q318 eosId convention; a real GPT-2 vocab.json
    * puts <|endoftext|> at exactly this position, 50256 = 256+50000).
    */
  private[graft] lazy val specialTokenId: Long = 256L + byteLevelRules.size

  /** q319 text enrichment: plant the LITERAL special token into
    * fixture text — mid-word adjacency, space-surrounded, two adjacent
    * specials (an empty chunk between), and a lookalike `<|endof|>`
    * that is NOT in the special list (must BPE as ordinary
    * punctuation). Applied identically on both engines.
    */
  private val injectSpecialSteps: Seq[(String, String)] = Seq(
    "data" -> "data<|endoftext|>Data",
    "sort " -> "sort <|endoftext|> ",
    "group" -> "<|endoftext|><|endoftext|>group",
    "table" -> "tab<|endof|>le")

  private def injectSpecial(text: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    injectSpecialSteps.foldLeft(text) { case (c, (a, b)) =>
      replace(c, lit(a), lit(b))
    }

  private def injectSpecialSql: String =
    injectSpecialSteps.foldLeft("text") { case (e, (a, b)) =>
      s"replace($e, '$a', '$b')"
    }

  /** q326 text enrichment: the pre-tokenizer hard cases (injectPretok)
    * plus a deterministic per-doc hash-digit word. The fixture's 31
    * distinct words support only ~107 merges before every word fully
    * merges; the per-doc digit word deepens the census so >=1024
    * merges stay learnable at every SF. Applied identically on both
    * engines (Knuth multiplier, exact long arithmetic, non-negative
    * doc_ids).
    */
  private def injectVocabScale(text: org.apache.spark.sql.Column,
      docId: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(injectPretok(text), lit(" q"),
      ((docId * lit(2654435761L)) % lit(100000L)).cast("string"))

  private def injectVocabScaleSql: String =
    s"$injectPretokSql || ' q' || " +
      "CAST((doc_id * 2654435761) % 100000 AS VARCHAR)"

  /** The q326 oracle: the byte-level encode + per-source economics
    * under the rule list the query just TRAINED ([[TrainedStash]]) —
    * same recursive peel/min-rank apply as q315/q317, rl = the 1024+
    * trained merges as literal VALUES, ids by the vocab.json formula
    * (byte b → b, rank i → 256+i — exactly the query's id map).
    */
  private def fastBpeOracle: String =
    TrainedStash.rules("q326_bpe_vocab_scale") match {
      case None => TrainedStash.notRun
      case Some(rules) =>
        def lit0(s: String) = "'" + s.replace("'", "''") + "'"
        val rlRows = rules.zipWithIndex.map { case ((x, y), i) =>
          s"($i,${lit0(x)},${lit0(y)})"
        }.mkString(",")
        s"""WITH RECURSIVE d AS (
           SELECT doc_id, source, $injectVocabScaleSql AS txt
           FROM documents),
         seg AS (
           SELECT doc_id, 0 AS ord, txt AS rem,
               CAST(NULL AS VARCHAR) AS tok
             FROM d
           UNION ALL
           SELECT doc_id, ord + 1, substr(rem, length(tok) + 1), tok
           FROM (
             SELECT doc_id, ord, rem,
               CASE WHEN regexp_matches(t0, '^\\s+$$')
                     AND length(t0) < length(rem) AND length(t0) >= 2
                 THEN substr(t0, 1, length(t0) - 1) ELSE t0 END AS tok
             FROM (SELECT doc_id, ord, rem, regexp_extract(rem,
                 '^(''s|''t|''re|''ve|''m|''ll|''d| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+)') AS t0
               FROM seg WHERE rem <> ''))),
         sg AS (SELECT doc_id, ord, tok FROM seg WHERE tok IS NOT NULL),
         wd AS (SELECT DISTINCT tok AS w FROM sg),
         ${byteApplyCtes(rlBody = s"VALUES $rlRows")},
         ew AS (SELECT w, list_transform(s, sy -> idm.m[sy][1]) AS wids
           FROM fin, idm),
         byDoc AS (SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_units,
             flatten(list(wids ORDER BY ord)) AS ids
           FROM sg JOIN ew ON ew.w = sg.tok GROUP BY doc_id),
         g AS (SELECT d.source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(b.n_units) AS BIGINT) AS n_units,
             CAST(sum(len(b.ids)) AS BIGINT) AS n_tokens,
             CAST(sum(CAST(concat('0x', substr(md5(concat('17', '|',
               array_to_string(b.ids, ','))), 1, 8)) AS BIGINT))
               AS BIGINT) AS ids_hash_sum
           FROM d JOIN byDoc b ON b.doc_id = d.doc_id
           GROUP BY d.source)
         SELECT source, n_docs, n_units, n_tokens,
           CAST(n_tokens AS DOUBLE) / CAST(n_units AS DOUBLE)
             AS tokens_per_unit,
           ids_hash_sum
         FROM g"""
    }

  /** The q327 oracle machinery: peel special occurrences by a
    * recursive (position, longest-first-priority) argmin scan — at
    * each step the next special is the struct-min over the candidate
    * list (leftmost position first, then lowest priority = longest
    * token; struct comparison is field-order lexicographic), the chunk
    * before it pre-tokenizes independently, and the scan recurses on
    * the remainder. Specials map to their added-token ids
    * (specialTokenId + list index); everything else rides the shared
    * byte apply.
    */
  private def chatSpecialEncodeCtes: String = {
    // candidate list in longest-first priority order
    val probes = chatSpecials.sortBy(t => (-t.length, t)).zipWithIndex
      .map { case (t, pri) =>
        s"""CASE WHEN instr(rem, '$t') > 0 THEN {'p': instr(rem, '$t'),
             'pri': $pri, 't': '$t'} END"""
      }.mkString(",\n               ")
    val idRows = chatSpecials.map { t =>
      s"""
                 UNION ALL SELECT '$t' AS sym,
                   CAST(${chatSpecialIds(t)} AS BIGINT) AS id"""
    }.mkString
    val spIdCase = chatSpecials.map { t =>
      s"WHEN '$t' THEN CAST(${chatSpecialIds(t)} AS BIGINT)"
    }.mkString(" ")
    s"""WITH RECURSIVE d AS (
           SELECT doc_id, $injectChatSql AS txt FROM documents),
         pr AS (
           SELECT doc_id, 0 AS part_ord, txt AS rem,
               CAST(NULL AS VARCHAR) AS chunk,
               CAST(NULL AS VARCHAR) AS sp_tok
             FROM d
           UNION ALL
           SELECT doc_id, part_ord + 1,
               CASE WHEN b IS NULL THEN ''
                 ELSE substr(rem, b.p + length(b.t)) END,
               CASE WHEN b IS NULL THEN rem
                 ELSE substr(rem, 1, b.p - 1) END,
               b.t
           FROM (SELECT doc_id, part_ord, rem,
               list_min(list_filter([
               $probes
             ], x -> x IS NOT NULL)) AS b
             FROM pr WHERE rem <> '')),
         ch AS (SELECT doc_id, part_ord, chunk, sp_tok FROM pr
           WHERE part_ord > 0),
         seg AS (
           SELECT doc_id, part_ord, 0 AS ord, chunk AS rem,
               CAST(NULL AS VARCHAR) AS tok
             FROM ch WHERE chunk <> ''
           UNION ALL
           SELECT doc_id, part_ord, ord + 1,
               substr(rem, length(tok) + 1), tok
           FROM (
             SELECT doc_id, part_ord, ord, rem,
               CASE WHEN regexp_matches(t0, '^\\s+$$')
                     AND length(t0) < length(rem) AND length(t0) >= 2
                 THEN substr(t0, 1, length(t0) - 1) ELSE t0 END AS tok
             FROM (SELECT doc_id, part_ord, ord, rem, regexp_extract(rem,
                 '^(''s|''t|''re|''ve|''m|''ll|''d| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+)') AS t0
               FROM seg WHERE rem <> ''))),
         su AS (SELECT doc_id, part_ord, 0 AS sp, ord, tok FROM seg
             WHERE tok IS NOT NULL
           UNION ALL
           SELECT doc_id, part_ord, 1 AS sp, 0 AS ord, sp_tok AS tok
             FROM ch WHERE sp_tok IS NOT NULL),
         wd AS (SELECT DISTINCT tok AS w FROM su WHERE sp = 0),
         ${byteApplyCtes(idRows)},
         ew AS (SELECT w, list_transform(s, sy -> idm.m[sy][1]) AS wids
           FROM fin, idm),
         byDoc AS (SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_units,
             flatten(list(CASE WHEN su.sp = 1
                 THEN [CASE su.tok $spIdCase END] ELSE ew.wids END
               ORDER BY su.part_ord, su.sp, su.ord)) AS ids
           FROM su LEFT JOIN ew ON su.sp = 0 AND ew.w = su.tok
           GROUP BY doc_id)"""
  }

  /** The q321 oracle: the hard-EM unigram trainer unrolled — raw-text
    * segment peel (q309's), substring seed census, then per EM round a
    * position-by-position Viterbi DP unroll (dp CTEs accumulate
    * (w, i, best, backpointer); each level references the previous
    * TWICE, so every step is MATERIALIZED — the re-inline blowup took
    * this oracle from 98 s to 0.9 s in the prototype), a backward path
    * reconstruction, and the count/coverage M-step. All comparisons in
    * scaled-integer logs, ties to the smallest split point.
    */
  private def unigramOracle: String = {
    s"""$unigramCtes
         SELECT v.piece, v.cnt AS n_cnt, w.wgt AS score
         FROM voc2 v JOIN wgt2 w USING (piece)"""
  }

  /** q322: one more Viterbi pass (dp3/bt3 under the FINAL wgt2 — the
    * APPLY) over the same machinery, rolled up per source with ordered
    * piece-sequence hashes (q317's shape for the unigram family).
    */
  private def unigramApplyOracle: String = {
    val lmax = 12
    val allbt3 = (1 to lmax)
      .map(t => s"SELECT w, pos, piece FROM bt3_$t")
      .mkString("\n           UNION ALL\n           ")
    s"""$unigramCtes,
         ${unigramDpBt(3, 2)},
         apw AS MATERIALIZED (SELECT w,
             CAST(count(*) AS BIGINT) AS n_pieces,
             CAST(concat('0x', substr(md5(concat('53', '|',
               array_to_string(list(piece ORDER BY pos), chr(1)))), 1, 8))
               AS BIGINT) AS h
           FROM ($allbt3) GROUP BY w),
         swc AS (SELECT d.source, sg.tok AS w,
             CAST(count(*) AS BIGINT) AS nsw
           FROM sg JOIN documents d ON d.doc_id = sg.doc_id
           WHERE length(sg.tok) <= $lmax
           GROUP BY 1, 2)
         SELECT swc.source,
           CAST(sum(swc.nsw) AS BIGINT) AS n_segments,
           CAST(sum(swc.nsw * length(swc.w)) AS BIGINT) AS n_chars,
           CAST(sum(swc.nsw * apw.n_pieces) AS BIGINT) AS n_pieces,
           CAST(sum(swc.nsw * length(swc.w)) AS DOUBLE)
             / CAST(sum(swc.nsw * apw.n_pieces) AS DOUBLE)
             AS chars_per_piece,
           CAST(sum(swc.nsw * apw.h) AS BIGINT) AS piece_hash_sum
         FROM swc JOIN apw ON apw.w = swc.w
         GROUP BY swc.source"""
  }

  /** One Viterbi DP + backtrack block (the dp/bt CTE chains for round
    * r) under wgt{useWgt} — shared by the EM rounds and the q322
    * apply pass.
    */
  private def unigramDpBt(r: Int, useWgt: Int): String = {
    val (maxP, lmax) = (4, 12)
    val ctes = Seq.newBuilder[String]
    ctes += s"""dp${r}_0 AS (SELECT w, 0 AS i,
         CAST(0 AS BIGINT) AS best, 0 AS bj FROM v0)"""
    (1 to lmax).foreach { i =>
      ctes += s"""dp${r}_$i AS MATERIALIZED (SELECT * FROM dp${r}_${i - 1}
         UNION ALL
         SELECT w, $i AS i, s AS best, j AS bj FROM (
           SELECT w, s, j, row_number() OVER (PARTITION BY w
             ORDER BY s DESC, j ASC) AS rn
           FROM (SELECT d.w, d.best + g.wgt AS s, d.i AS j
             FROM dp${r}_${i - 1} d JOIN wgt$useWgt g
               ON g.piece = substr(d.w, d.i + 1, $i - d.i)
             WHERE d.i BETWEEN ${math.max(0, i - maxP)} AND ${i - 1}
               AND length(d.w) >= $i)) WHERE rn = 1)"""
    }
    ctes += s"dpf$r AS MATERIALIZED (SELECT * FROM dp${r}_$lmax)"
    ctes += s"""bt${r}_0 AS (SELECT w, length(w) AS pos,
         CAST(NULL AS VARCHAR) AS piece FROM v0)"""
    (1 to lmax).foreach { t =>
      ctes += s"""bt${r}_$t AS MATERIALIZED (SELECT b.w, d.bj AS pos,
           substr(b.w, d.bj + 1, b.pos - d.bj) AS piece
         FROM bt${r}_${t - 1} b JOIN dpf$r d
           ON d.w = b.w AND d.i = b.pos
         WHERE b.pos > 0)"""
    }
    ctes.result().mkString(",\n         ")
  }

  private def unigramCtes: String = unigramCtesWith(None)

  /** [[unigramCtes]] generalized with the q329 SIZE PRUNE: with
    * `target = Some(k)`, every round's vocabulary prunes after the
    * M-step — singles always survive (coverage), multi-char pieces
    * rank (cnt DESC, piece) and keep only the quota: intermediate
    * rounds to greatest(k, 3·|V|/4) (the published shrinking_factor =
    * 0.75, exact integer), the final round to k exactly — and the
    * round's scores recompute over the KEPT total, mirroring
    * `Unigram.trainFromCensus(targetVocab = ...)` step for step.
    */
  private def unigramCtesWith(target: Option[Int]): String = {
    val (maxP, minC, rounds, lmax) = (4, 2, 2, 12)
    val peel =
      s"""seg AS (
           SELECT doc_id, 0 AS ord, text AS rem,
               CAST(NULL AS VARCHAR) AS tok
             FROM documents
           UNION ALL
           SELECT doc_id, ord + 1, substr(rem, length(tok) + 1), tok
           FROM (
             SELECT doc_id, ord, rem,
               CASE WHEN regexp_matches(t0, '^\\s+$$')
                     AND length(t0) < length(rem) AND length(t0) >= 2
                 THEN substr(t0, 1, length(t0) - 1) ELSE t0 END AS tok
             FROM (SELECT doc_id, ord, rem, regexp_extract(rem,
                 '^(''s|''t|''re|''ve|''m|''ll|''d| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+)') AS t0
               FROM seg WHERE rem <> '')))"""
    val seed =
      s"""v0 AS MATERIALIZED (SELECT tok AS w,
           CAST(count(*) AS BIGINT) AS weight
         FROM seg WHERE tok IS NOT NULL AND length(tok) <= $lmax
         GROUP BY tok),
         pieces AS (SELECT substr(w, i, l) AS piece,
             CAST(sum(weight) AS BIGINT) AS cnt
           FROM v0, unnest(generate_series(1, $lmax)) gi(i),
                unnest(generate_series(1, $maxP)) gl(l)
           WHERE i + l - 1 <= length(w)
           GROUP BY 1),
         voc0 AS MATERIALIZED (SELECT piece, cnt FROM pieces
           WHERE cnt >= $minC OR length(piece) = 1),
         tot0 AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM voc0),
         wgt0 AS MATERIALIZED (SELECT piece,
             CAST(floor(ln(CAST(cnt AS DOUBLE)) * 1000000.0 + 0.5)
               AS BIGINT)
           - (SELECT CAST(floor(ln(CAST(t AS DOUBLE)) * 1000000.0 + 0.5)
              AS BIGINT) FROM tot0) AS wgt
           FROM voc0)"""
    def roundCtes(r: Int): String = {
      val ctes = Seq.newBuilder[String]
      ctes += unigramDpBt(r, r - 1)
      val allbt = (1 to lmax)
        .map(t => s"SELECT w, piece FROM bt${r}_$t")
        .mkString("\n           UNION ALL\n           ")
      ctes += s"""em$r AS MATERIALIZED (SELECT p.piece,
             CAST(sum(v0.weight) AS BIGINT) AS cnt
           FROM ($allbt) p JOIN v0 ON v0.w = p.w
           GROUP BY 1)"""
      ctes += s"""voc$r AS MATERIALIZED (SELECT piece, cnt FROM em$r
           UNION ALL
           SELECT s.piece, CAST(1 AS BIGINT) AS cnt FROM (
             SELECT DISTINCT substr(w, i, 1) AS piece
             FROM v0, unnest(generate_series(1, $lmax)) g(i)
             WHERE i <= length(w)) s
           WHERE s.piece NOT IN (SELECT piece FROM em$r))"""
      val vsrc = target match {
        case None => s"voc$r"
        case Some(t) =>
          // the multi-piece quota: the round's size budget minus the
          // always-kept singles; intermediate rounds shrink by 3/4
          // (never below the target), the final round cuts exactly
          val kExpr =
            if (r == rounds) s"$t"
            else s"greatest($t, (SELECT count(*) FROM voc$r) * 3 // 4)"
          ctes += s"""kept$r AS MATERIALIZED (
           SELECT piece, cnt FROM voc$r WHERE length(piece) = 1
           UNION ALL
           SELECT piece, cnt FROM (
             SELECT piece, cnt, row_number() OVER (
               ORDER BY cnt DESC, piece) AS rn
             FROM voc$r WHERE length(piece) > 1)
           WHERE rn <= $kExpr - (SELECT count(*) FROM voc$r
             WHERE length(piece) = 1))"""
          s"kept$r"
      }
      ctes += s"""tot$r AS (SELECT CAST(sum(cnt) AS BIGINT) AS t
           FROM $vsrc)"""
      ctes += s"""wgt$r AS MATERIALIZED (SELECT piece,
             CAST(floor(ln(CAST(cnt AS DOUBLE)) * 1000000.0 + 0.5)
               AS BIGINT)
           - (SELECT CAST(floor(ln(CAST(t AS DOUBLE)) * 1000000.0 + 0.5)
                AS BIGINT) FROM tot$r) AS wgt
           FROM $vsrc)"""
      ctes.result().mkString(",\n         ")
    }
    s"""WITH RECURSIVE $peel,
         sg AS MATERIALIZED (SELECT doc_id, tok FROM seg
           WHERE tok IS NOT NULL),
         $seed,
         ${roundCtes(1)},
         ${roundCtes(2)}"""
  }

  /** The q323/q324 oracle machinery: lowercase word census + codepoint
    * split, then per round the pair census, the UNIT census, the
    * WordPiece-score argmax (one exact double division of exact longs,
    * ordered score DESC, x, y), and the greedy rewrite — MATERIALIZED
    * per round (each vocab CTE is referenced twice).
    */
  private def wordpieceCtes(rounds: Int): String = {
    val base =
      s"""v0 AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) AS weight
           FROM (SELECT unnest(string_split_regex(lower(trim(text)),
               '\\s+')) AS w FROM documents)
           WHERE w <> '' GROUP BY w),
         v1 AS MATERIALIZED (SELECT w, weight,
             list_filter(string_split(w, ''), c -> c <> '') AS s
           FROM v0)"""
    val roundsSql = (1 to rounds).map { r =>
      s"""c$r AS (SELECT s[i] AS x, s[i+1] AS y,
             CAST(sum(weight) AS BIGINT) AS n
           FROM v$r, unnest(generate_series(1, len(s) - 1)) AS g(i)
           WHERE len(s) >= 2 GROUP BY 1, 2),
         u$r AS (SELECT s[i] AS sym, CAST(sum(weight) AS BIGINT) AS m
           FROM v$r, unnest(generate_series(1, len(s))) AS g(i)
           GROUP BY 1),
         b$r AS (SELECT x, y, n,
             CAST(n AS DOUBLE) / CAST(ux.m * uy.m AS DOUBLE) AS score
           FROM c$r JOIN u$r ux ON ux.sym = c$r.x
                    JOIN u$r uy ON uy.sym = c$r.y
           ORDER BY score DESC, x, y LIMIT 1),
         v${r + 1} AS MATERIALIZED (SELECT w, weight,
             CASE WHEN b.x IS NULL THEN s
             ELSE string_split(list_reduce(s, (acc, sy) -> CASE
               WHEN string_split(acc, ' ')[-1] = b.x AND sy = b.y
               THEN substr(acc, 1, length(acc) - length(b.x)) || b.x || b.y
               ELSE acc || ' ' || sy END), ' ') END AS s
           FROM v$r LEFT JOIN b$r b ON TRUE)"""
    }.mkString(",\n         ")
    s"$base,\n         $roundsSql"
  }

  /** The derived greedy-apply piece table shared by the q324/q332
    * oracles, mirroring [[graft.llm.WordPieceApplyExpr]]'s probe rule
    * exactly: word-initial probes are RAW-substring lookups (the HF
    * behavior — a piece literally starting with `##` is reachable at
    * position 1 as itself), continuation probes strip the `##`. The
    * raw rows for `##`-pieces are unreachable on a `#`-free corpus
    * (identical results there) but keep the contract honest.
    */
  private def wordpieceVocCtes(rounds: Int): String =
    s"""voc0 AS (SELECT DISTINCT
             CASE WHEN i = 1 THEN s[i] ELSE '##' || s[i] END AS piece
           FROM v${rounds + 1}, unnest(generate_series(1, len(s)))
             AS g(i)),
         voc AS MATERIALIZED (
           SELECT piece, piece AS core, length(piece) AS clen,
               FALSE AS cont
             FROM voc0
           UNION ALL
           SELECT piece, substr(piece, 3) AS core,
               length(piece) - 2 AS clen, TRUE AS cont
             FROM voc0 WHERE piece LIKE '##%' AND length(piece) > 2)"""

  private def wordpieceTrainOracle: String = {
    val rounds = 8
    val points = (1 to rounds).map { r =>
      s"""SELECT CAST($r AS BIGINT) AS merge_round, x, y, n AS pair_n,
           score FROM b$r"""
    }.mkString("\n         UNION ALL\n         ")
    s"""WITH ${wordpieceCtes(rounds)}
         $points"""
  }

  /** q324: the greedy longest-match scan unrolled position by position
    * over DISTINCT words (12 steps cover any fixture word; the longest
    * is 8 chars) — at each step the longest matching piece wins via a
    * clen-DESC ranking against the piece table, a dead end emits
    * [UNK] and terminates the word — then the per-source rollup.
    */
  private def wordpieceApplyOracle: String = {
    val rounds = 8
    val steps = 12
    val stepSql = (1 to steps).map { t =>
      s"""gp$t AS MATERIALIZED (SELECT w, pos + clen AS pos, piece,
             FALSE AS unk
           FROM (SELECT g.w, g.pos, v.piece, v.clen, row_number() OVER (
               PARTITION BY g.w ORDER BY v.clen DESC) AS rn
             FROM gp${t - 1} g JOIN voc v
               ON v.cont = (g.pos > 1)
                 AND v.core = substr(g.w, g.pos, v.clen)
             WHERE g.pos <= length(g.w) AND NOT g.unk) WHERE rn = 1
           UNION ALL
           SELECT g.w, length(g.w) + 1 AS pos, '[UNK]' AS piece,
             TRUE AS unk
           FROM gp${t - 1} g
           WHERE g.pos <= length(g.w) AND NOT g.unk AND NOT EXISTS (
             SELECT 1 FROM voc v WHERE v.cont = (g.pos > 1)
               AND v.core = substr(g.w, g.pos, v.clen)))"""
    }.mkString(",\n         ")
    val allp = (1 to steps)
      .map(t => s"SELECT w, pos, piece, unk FROM gp$t " +
        "WHERE piece IS NOT NULL")
      .mkString("\n           UNION ALL\n           ")
    s"""WITH ${wordpieceCtes(rounds)},
         ${wordpieceVocCtes(rounds)},
         gp0 AS (SELECT w, 1 AS pos, CAST(NULL AS VARCHAR) AS piece,
             FALSE AS unk FROM v0),
         $stepSql,
         allp AS ($allp),
         wenc AS MATERIALIZED (SELECT w,
             CASE WHEN bool_or(unk) OR length(w) > 100 THEN 1 ELSE 0
               END AS is_unk,
             CASE WHEN bool_or(unk) OR length(w) > 100
                  THEN CAST(1 AS BIGINT)
                  ELSE CAST(count(*) AS BIGINT) END AS n_pieces,
             CASE WHEN bool_or(unk) OR length(w) > 100 THEN '[UNK]'
                  ELSE array_to_string(list(piece ORDER BY pos), chr(1))
                  END AS pj
           FROM allp GROUP BY w),
         wh AS (SELECT w, is_unk, n_pieces,
             CAST(concat('0x', substr(md5(concat('59', '|', pj)), 1, 8))
               AS BIGINT) AS h FROM wenc),
         sw AS (SELECT d.source, t.w, CAST(count(*) AS BIGINT) AS nsw
           FROM (SELECT doc_id, unnest(string_split_regex(
               lower(trim(text)), '\\s+')) AS w FROM documents) t
           JOIN documents d ON d.doc_id = t.doc_id
           WHERE t.w <> '' GROUP BY 1, 2)
         SELECT sw.source,
           CAST(sum(sw.nsw) AS BIGINT) AS n_words,
           CAST(sum(sw.nsw * wh.n_pieces) AS BIGINT) AS n_pieces,
           CAST(sum(sw.nsw * wh.is_unk) AS BIGINT) AS n_unk,
           CAST(sum(sw.nsw * wh.h) AS BIGINT) AS piece_hash_sum
         FROM sw JOIN wh ON wh.w = sw.w
         GROUP BY sw.source"""
  }

  /** The q328 oracle: q324's greedy longest-match unroll + per-source
    * rollup, with the piece vocabulary the query just TRAINED
    * ([[TrainedStash]]) as an external literal table, over the q326
    * enriched text. 12 unroll steps still cover every fixture word
    * (longest enriched word is 8 codepoints).
    */
  private def fastWordPieceOracle: String =
    TrainedStash.pieces("q328_wordpiece_vocab_scale") match {
      case None => TrainedStash.notRun
      case Some(pieces) =>
        def lit0(s: String) = "'" + s.replace("'", "''") + "'"
        def cpLen(s: String) = s.codePointCount(0, s.length)
        // the expression's dual probe rule (see wordpieceVocCtes): a
        // raw pos-1 row for EVERY piece, a ##-stripped continuation
        // row for the ##-pieces
        val vocRows = pieces.toSeq.sorted.flatMap { p =>
          val raw = s"(${lit0(p)},${lit0(p)},${cpLen(p)},false)"
          if (p.startsWith("##") && p.length > 2) {
            val core = p.substring(2)
            Seq(raw, s"(${lit0(p)},${lit0(core)},${cpLen(core)},true)")
          } else Seq(raw)
        }.mkString(",")
        val steps = 12
        val stepSql = (1 to steps).map { t =>
          s"""gp$t AS MATERIALIZED (SELECT w, pos + clen AS pos, piece,
             FALSE AS unk
           FROM (SELECT g.w, g.pos, v.piece, v.clen, row_number() OVER (
               PARTITION BY g.w ORDER BY v.clen DESC) AS rn
             FROM gp${t - 1} g JOIN voc v
               ON v.cont = (g.pos > 1)
                 AND v.core = substr(g.w, g.pos, v.clen)
             WHERE g.pos <= length(g.w) AND NOT g.unk) WHERE rn = 1
           UNION ALL
           SELECT g.w, length(g.w) + 1 AS pos, '[UNK]' AS piece,
             TRUE AS unk
           FROM gp${t - 1} g
           WHERE g.pos <= length(g.w) AND NOT g.unk AND NOT EXISTS (
             SELECT 1 FROM voc v WHERE v.cont = (g.pos > 1)
               AND v.core = substr(g.w, g.pos, v.clen)))"""
        }.mkString(",\n         ")
        val allp = (1 to steps)
          .map(t => s"SELECT w, pos, piece, unk FROM gp$t " +
            "WHERE piece IS NOT NULL")
          .mkString("\n           UNION ALL\n           ")
        s"""WITH d AS (SELECT doc_id, source, $injectVocabScaleSql AS txt
             FROM documents),
         v0 AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) AS weight
           FROM (SELECT unnest(string_split_regex(lower(trim(txt)),
               '\\s+')) AS w FROM d)
           WHERE w <> '' GROUP BY w),
         voc(piece, core, clen, cont) AS MATERIALIZED (
           SELECT * FROM (VALUES $vocRows) t(p0, c0, l0, k0)),
         gp0 AS (SELECT w, 1 AS pos, CAST(NULL AS VARCHAR) AS piece,
             FALSE AS unk FROM v0),
         $stepSql,
         allp AS ($allp),
         wenc AS MATERIALIZED (SELECT w,
             CASE WHEN bool_or(unk) OR length(w) > 100 THEN 1 ELSE 0
               END AS is_unk,
             CASE WHEN bool_or(unk) OR length(w) > 100
                  THEN CAST(1 AS BIGINT)
                  ELSE CAST(count(*) AS BIGINT) END AS n_pieces,
             CASE WHEN bool_or(unk) OR length(w) > 100 THEN '[UNK]'
                  ELSE array_to_string(list(piece ORDER BY pos), chr(1))
                  END AS pj
           FROM allp GROUP BY w),
         wh AS (SELECT w, is_unk, n_pieces,
             CAST(concat('0x', substr(md5(concat('59', '|', pj)), 1, 8))
               AS BIGINT) AS h FROM wenc),
         sw AS (SELECT d.source, t.w, CAST(count(*) AS BIGINT) AS nsw
           FROM (SELECT doc_id, unnest(string_split_regex(
               lower(trim(txt)), '\\s+')) AS w FROM d) t
           JOIN d ON d.doc_id = t.doc_id
           WHERE t.w <> '' GROUP BY 1, 2)
         SELECT sw.source,
           CAST(sum(sw.nsw) AS BIGINT) AS n_words,
           CAST(sum(sw.nsw * wh.n_pieces) AS BIGINT) AS n_pieces,
           CAST(sum(sw.nsw * wh.is_unk) AS BIGINT) AS n_unk,
           CAST(sum(sw.nsw * wh.h) AS BIGINT) AS piece_hash_sum
         FROM sw JOIN wh ON wh.w = sw.w
         GROUP BY sw.source"""
    }

  /** The q331 oracle: the q326 encode machinery under the stashed
    * rules, then one |vocab|-keyed occupancy count (segment-occurrence
    * weights × per-segment id multiplicity) and the top-64 cut under
    * the total order (n DESC, token_id).
    */
  private def tokenCoverageOracle: String =
    TrainedStash.rules("q331_token_coverage") match {
      case None => TrainedStash.notRun
      case Some(rules) =>
        def lit0(s: String) = "'" + s.replace("'", "''") + "'"
        val rlRows = rules.zipWithIndex.map { case ((x, y), i) =>
          s"($i,${lit0(x)},${lit0(y)})"
        }.mkString(",")
        s"""WITH RECURSIVE d AS (
           SELECT doc_id, $injectVocabScaleSql AS txt
           FROM documents),
         seg AS (
           SELECT doc_id, 0 AS ord, txt AS rem,
               CAST(NULL AS VARCHAR) AS tok
             FROM d
           UNION ALL
           SELECT doc_id, ord + 1, substr(rem, length(tok) + 1), tok
           FROM (
             SELECT doc_id, ord, rem,
               CASE WHEN regexp_matches(t0, '^\\s+$$')
                     AND length(t0) < length(rem) AND length(t0) >= 2
                 THEN substr(t0, 1, length(t0) - 1) ELSE t0 END AS tok
             FROM (SELECT doc_id, ord, rem, regexp_extract(rem,
                 '^(''s|''t|''re|''ve|''m|''ll|''d| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+)') AS t0
               FROM seg WHERE rem <> ''))),
         sg AS (SELECT doc_id, ord, tok FROM seg WHERE tok IS NOT NULL),
         wd AS (SELECT DISTINCT tok AS w FROM sg),
         ${byteApplyCtes(rlBody = s"VALUES $rlRows")},
         ew AS (SELECT w, list_transform(s, sy -> idm.m[sy][1]) AS wids
           FROM fin, idm),
         sc AS (SELECT tok AS w, CAST(count(*) AS BIGINT) AS n
           FROM sg GROUP BY tok),
         idc AS (SELECT u.id AS token_id,
             CAST(sum(sc.n) AS BIGINT) AS n_occurrences
           FROM sc JOIN ew ON ew.w = sc.w, unnest(ew.wids) AS u(id)
           GROUP BY u.id),
         tot AS (SELECT CAST(sum(n_occurrences) AS BIGINT) AS t
           FROM idc)
         SELECT token_id, n_occurrences,
           CAST(n_occurrences AS DOUBLE) / CAST(t AS DOUBLE) AS share
         FROM idc, tot
         ORDER BY n_occurrences DESC, token_id
         LIMIT 64"""
    }

  /** The q330 oracle: the q326 enriched segment census, byte symbols,
    * and ONE min-rank apply chain PER DEPTH POINT — each under the
    * trained rule list ([[TrainedStash]]) rank-filtered to its depth
    * (take(r) ≡ rank < r). Depth 0 aggregates the raw byte split
    * directly (no empty-map machinery).
    */
  private def vocabDepthOracle: String =
    TrainedStash.rules("q330_vocab_depth_curve") match {
      case None => TrainedStash.notRun
      case Some(rules) =>
        def lit0(s: String) = "'" + s.replace("'", "''") + "'"
        val rlRows = rules.zipWithIndex.map { case ((x, y), i) =>
          s"($i,${lit0(x)},${lit0(y)})"
        }.mkString(",")
        def depthCtes(r: Int): String =
          s"""rk$r AS (SELECT map_from_entries(list(struct_pack(
             k := x || chr(10) || y, v := rank))) AS m FROM rl
           WHERE rank < $r),
         rx$r AS (SELECT map_from_entries(list(struct_pack(k := rank,
             v := struct_pack(x := x, y := y)))) AS m FROM rl
           WHERE rank < $r),
         enc$r AS (
           SELECT w, s FROM base
           UNION ALL
           SELECT w, string_split(list_reduce(s, (acc, sy) -> CASE
               WHEN string_split(acc, ' ')[-1] = bx AND sy = by
               THEN substr(acc, 1, length(acc) - length(bx)) || bx || by
               ELSE acc || ' ' || sy END), ' ') AS s
           FROM (
             SELECT w, s, rx$r.m[br][1].x AS bx, rx$r.m[br][1].y AS by
             FROM (
               SELECT w, s, list_min(list_transform(
                   generate_series(1, len(s) - 1),
                   i -> rk$r.m[s[i] || chr(10) || s[i+1]][1])) AS br
               FROM enc$r, rk$r WHERE len(s) >= 2), rx$r
             WHERE br IS NOT NULL)),
         fin$r AS (SELECT w, s FROM enc$r, rk$r
           WHERE len(s) < 2 OR list_min(list_transform(
             generate_series(1, len(s) - 1),
             i -> rk$r.m[s[i] || chr(10) || s[i+1]][1])) IS NULL),
         p$r AS (SELECT CAST($r AS BIGINT) AS depth,
             CAST(sum(v0.weight) AS BIGINT) AS n_segments,
             CAST(sum(v0.weight * strlen(v0.w)) AS BIGINT) AS n_bytes,
             CAST(sum(v0.weight * len(f.s)) AS BIGINT) AS n_symbols
           FROM fin$r f JOIN v0 ON v0.w = f.w)"""
        val depths = Seq(16, 64, 256, 1024)
        val points = (s"""SELECT CAST(0 AS BIGINT) AS depth,
             CAST(sum(v0.weight) AS BIGINT) AS n_segments,
             CAST(sum(v0.weight * strlen(v0.w)) AS BIGINT) AS n_bytes,
             CAST(sum(v0.weight * len(b.s)) AS BIGINT) AS n_symbols
           FROM base b JOIN v0 ON v0.w = b.w""" +:
          depths.map(r => s"SELECT depth, n_segments, n_bytes, " +
            s"n_symbols FROM p$r"))
          .mkString("\n           UNION ALL\n           ")
        s"""WITH RECURSIVE d AS (
           SELECT doc_id, $injectVocabScaleSql AS txt FROM documents),
         seg AS (
           SELECT doc_id, 0 AS ord, txt AS rem,
               CAST(NULL AS VARCHAR) AS tok
             FROM d
           UNION ALL
           SELECT doc_id, ord + 1, substr(rem, length(tok) + 1), tok
           FROM (
             SELECT doc_id, ord, rem,
               CASE WHEN regexp_matches(t0, '^\\s+$$')
                     AND length(t0) < length(rem) AND length(t0) >= 2
                 THEN substr(t0, 1, length(t0) - 1) ELSE t0 END AS tok
             FROM (SELECT doc_id, ord, rem, regexp_extract(rem,
                 '^(''s|''t|''re|''ve|''m|''ll|''d| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+)') AS t0
               FROM seg WHERE rem <> ''))),
         v0 AS MATERIALIZED (SELECT tok AS w,
             CAST(count(*) AS BIGINT) AS weight
           FROM seg WHERE tok IS NOT NULL GROUP BY tok),
         bu AS (SELECT b, CASE WHEN printable THEN chr(CAST(b AS INTEGER))
                  ELSE chr(CAST(255 + row_number()
                    OVER (PARTITION BY printable ORDER BY b)
                    AS INTEGER)) END AS sym
                FROM (SELECT i AS b, (i BETWEEN 33 AND 126)
                        OR (i BETWEEN 161 AND 172)
                        OR (i BETWEEN 174 AND 255) AS printable
                      FROM range(256) t(i))),
         mb AS (SELECT map_from_entries(list(struct_pack(k := b,
             v := sym))) AS m FROM bu WHERE b < 128),
         rl(rank, x, y) AS (VALUES $rlRows),
         base AS MATERIALIZED (SELECT w, flatten(list_transform(
               list_filter(string_split(w, ''), c -> c <> ''), c ->
               CASE WHEN unicode(c) = 233 THEN [chr(195), chr(169)]
                    ELSE [mb.m[unicode(c)][1]] END)) AS s
           FROM v0, mb),
         ${depths.map(depthCtes).mkString(",\n         ")},
         pts AS ($points)
         SELECT depth, n_segments, n_bytes, n_symbols,
           CAST(n_bytes AS DOUBLE) / CAST(n_symbols AS DOUBLE)
             AS bytes_per_symbol,
           CAST(n_symbols AS DOUBLE) / CAST(n_segments AS DOUBLE)
             AS symbols_per_segment
         FROM pts"""
    }

  /** The q332 oracle: q323's SQL training (8 rounds) + the greedy
    * unroll, piece ids by the BERT vocab.txt line-order rule
    * ([UNK]=0, [SEP]=1, sorted pieces from 2), per-doc reassembly in
    * word order. A dead-ended word contributes [CAST(0)] (the [UNK]
    * id) exactly like the Spark path's symbolIds over the [UNK]
    * singleton.
    */
  private def wordpieceIdsOracle: String = {
    val rounds = 8
    val steps = 12
    val stepSql = (1 to steps).map { t =>
      s"""gp$t AS MATERIALIZED (SELECT w, pos + clen AS pos, piece,
             FALSE AS unk
           FROM (SELECT g.w, g.pos, v.piece, v.clen, row_number() OVER (
               PARTITION BY g.w ORDER BY v.clen DESC) AS rn
             FROM gp${t - 1} g JOIN voc v
               ON v.cont = (g.pos > 1)
                 AND v.core = substr(g.w, g.pos, v.clen)
             WHERE g.pos <= length(g.w) AND NOT g.unk) WHERE rn = 1
           UNION ALL
           SELECT g.w, length(g.w) + 1 AS pos, '[UNK]' AS piece,
             TRUE AS unk
           FROM gp${t - 1} g
           WHERE g.pos <= length(g.w) AND NOT g.unk AND NOT EXISTS (
             SELECT 1 FROM voc v WHERE v.cont = (g.pos > 1)
               AND v.core = substr(g.w, g.pos, v.clen)))"""
    }.mkString(",\n         ")
    val allp = (1 to steps)
      .map(t => s"SELECT w, pos, piece, unk FROM gp$t " +
        "WHERE piece IS NOT NULL")
      .mkString("\n           UNION ALL\n           ")
    s"""WITH ${wordpieceCtes(rounds)},
         ${wordpieceVocCtes(rounds)},
         pid AS (SELECT piece,
             CAST(1 + row_number() OVER (ORDER BY piece) AS BIGINT)
               AS id
           FROM (SELECT DISTINCT piece FROM voc)),
         gp0 AS (SELECT w, 1 AS pos, CAST(NULL AS VARCHAR) AS piece,
             FALSE AS unk FROM v0),
         $stepSql,
         allp AS ($allp),
         wenc AS MATERIALIZED (SELECT a.w,
             CASE WHEN bool_or(a.unk) OR length(a.w) > 100
                  THEN [CAST(0 AS BIGINT)]
                  ELSE list(CAST(p.id AS BIGINT) ORDER BY a.pos) END
               AS wids
           FROM allp a LEFT JOIN pid p ON p.piece = a.piece
           GROUP BY a.w),
         dw AS (SELECT doc_id, g.i AS pos, wl[g.i] AS w
           FROM (SELECT doc_id, list_filter(string_split_regex(
               lower(trim(text)), '\\s+'), x -> x <> '') AS wl
             FROM documents) t,
             unnest(generate_series(1, len(wl))) g(i)
           WHERE len(wl) > 0),
         byDoc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
             flatten(list(e.wids ORDER BY dw.pos)) AS ids
           FROM dw JOIN wenc e ON e.w = dw.w GROUP BY doc_id)
         SELECT doc_id, n_words,
           CAST(len(ids) AS BIGINT) AS n_symbols,
           CAST(concat('0x', substr(md5(concat('23', '|',
             array_to_string(ids, ','))), 1, 8)) AS BIGINT) AS ids_hash
         FROM byDoc"""
  }

  /** The q333 oracle: the q322 apply DP pass over the EM unroll,
    * piece ids by the spm line-order rule (</s> control at 0, sorted
    * pieces from 1), per-doc reassembly in segment order.
    */
  private def unigramIdsOracle: String = {
    val lmax = 12
    val allbt3 = (1 to lmax)
      .map(t => s"SELECT w, pos, piece FROM bt3_$t")
      .mkString("\n           UNION ALL\n           ")
    s"""$unigramCtes,
         ${unigramDpBt(3, 2)},
         uid AS (SELECT piece,
             CAST(row_number() OVER (ORDER BY piece) AS BIGINT) AS id
           FROM voc2),
         sw3 AS MATERIALIZED (SELECT p.w,
             list(CAST(u.id AS BIGINT) ORDER BY p.pos) AS wids
           FROM ($allbt3) p JOIN uid u ON u.piece = p.piece
           GROUP BY p.w),
         sgo AS (SELECT doc_id, ord, tok FROM seg
           WHERE tok IS NOT NULL AND length(tok) <= $lmax),
         byDoc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
             flatten(list(s3.wids ORDER BY sgo.ord)) AS ids
           FROM sgo JOIN sw3 s3 ON s3.w = sgo.tok GROUP BY doc_id)
         SELECT doc_id, n_words,
           CAST(len(ids) AS BIGINT) AS n_symbols,
           CAST(concat('0x', substr(md5(concat('29', '|',
             array_to_string(ids, ','))), 1, 8)) AS BIGINT) AS ids_hash
         FROM byDoc"""
  }

  /** The q316/q317 oracle machinery: segment peel + byte census +
    * the 8 unrolled training rounds (MATERIALIZED per round).
    */
  private def segTrainCtes: String =
    s"""WITH RECURSIVE d AS (
           SELECT doc_id, source, $injectPretokSql AS txt
           FROM documents),
         seg AS (
           SELECT doc_id, 0 AS ord, txt AS rem,
               CAST(NULL AS VARCHAR) AS tok
             FROM d
           UNION ALL
           SELECT doc_id, ord + 1, substr(rem, length(tok) + 1), tok
           FROM (
             SELECT doc_id, ord, rem,
               CASE WHEN regexp_matches(t0, '^\\s+$$')
                     AND length(t0) < length(rem) AND length(t0) >= 2
                 THEN substr(t0, 1, length(t0) - 1) ELSE t0 END AS tok
             FROM (SELECT doc_id, ord, rem, regexp_extract(rem,
                 '^(''s|''t|''re|''ve|''m|''ll|''d| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+)') AS t0
               FROM seg WHERE rem <> ''))),
         sg AS MATERIALIZED (SELECT doc_id, tok FROM seg WHERE tok IS NOT NULL),
         bu AS (SELECT b, CASE WHEN printable THEN chr(CAST(b AS INTEGER))
                  ELSE chr(CAST(255 + row_number()
                    OVER (PARTITION BY printable ORDER BY b)
                    AS INTEGER)) END AS sym
                FROM (SELECT i AS b, (i BETWEEN 33 AND 126)
                        OR (i BETWEEN 161 AND 172)
                        OR (i BETWEEN 174 AND 255) AS printable
                      FROM range(256) t(i))),
         mb AS (SELECT map_from_entries(list(struct_pack(k := b,
             v := sym))) AS m FROM bu WHERE b < 128),
         v0 AS (SELECT tok AS w, CAST(count(*) AS BIGINT) AS weight
           FROM sg GROUP BY tok),
         v1 AS MATERIALIZED (SELECT w, weight, flatten(list_transform(
               list_filter(string_split(w, ''), c -> c <> ''), c ->
               CASE WHEN unicode(c) = 233 THEN [chr(195), chr(169)]
                    ELSE [mb.m[unicode(c)][1]] END)) AS s
           FROM v0, mb),
         c1 AS (SELECT s[i] AS x, s[i+1] AS y,
             CAST(sum(weight) AS BIGINT) AS n
           FROM v1, unnest(generate_series(1, len(s) - 1)) AS g(i)
           WHERE len(s) >= 2 GROUP BY 1, 2),
         b1 AS (SELECT x, y, n FROM c1 ORDER BY n DESC, x, y LIMIT 1),
         v2 AS MATERIALIZED (SELECT w, weight,
             CASE WHEN b.x IS NULL THEN s
             ELSE string_split(list_reduce(s, (acc, sy) -> CASE
               WHEN string_split(acc, ' ')[-1] = b.x AND sy = b.y
               THEN substr(acc, 1, length(acc) - length(b.x)) || b.x || b.y
               ELSE acc || ' ' || sy END), ' ') END AS s
           FROM v1 LEFT JOIN b1 b ON TRUE),
         m1 AS (SELECT CAST(sum(weight * len(s)) AS BIGINT) AS mass
           FROM v2),
         c2 AS (SELECT s[i] AS x, s[i+1] AS y,
             CAST(sum(weight) AS BIGINT) AS n
           FROM v2, unnest(generate_series(1, len(s) - 1)) AS g(i)
           WHERE len(s) >= 2 GROUP BY 1, 2),
         b2 AS (SELECT x, y, n FROM c2 ORDER BY n DESC, x, y LIMIT 1),
         v3 AS MATERIALIZED (SELECT w, weight,
             CASE WHEN b.x IS NULL THEN s
             ELSE string_split(list_reduce(s, (acc, sy) -> CASE
               WHEN string_split(acc, ' ')[-1] = b.x AND sy = b.y
               THEN substr(acc, 1, length(acc) - length(b.x)) || b.x || b.y
               ELSE acc || ' ' || sy END), ' ') END AS s
           FROM v2 LEFT JOIN b2 b ON TRUE),
         m2 AS (SELECT CAST(sum(weight * len(s)) AS BIGINT) AS mass
           FROM v3),
         c3 AS (SELECT s[i] AS x, s[i+1] AS y,
             CAST(sum(weight) AS BIGINT) AS n
           FROM v3, unnest(generate_series(1, len(s) - 1)) AS g(i)
           WHERE len(s) >= 2 GROUP BY 1, 2),
         b3 AS (SELECT x, y, n FROM c3 ORDER BY n DESC, x, y LIMIT 1),
         v4 AS MATERIALIZED (SELECT w, weight,
             CASE WHEN b.x IS NULL THEN s
             ELSE string_split(list_reduce(s, (acc, sy) -> CASE
               WHEN string_split(acc, ' ')[-1] = b.x AND sy = b.y
               THEN substr(acc, 1, length(acc) - length(b.x)) || b.x || b.y
               ELSE acc || ' ' || sy END), ' ') END AS s
           FROM v3 LEFT JOIN b3 b ON TRUE),
         m3 AS (SELECT CAST(sum(weight * len(s)) AS BIGINT) AS mass
           FROM v4),
         c4 AS (SELECT s[i] AS x, s[i+1] AS y,
             CAST(sum(weight) AS BIGINT) AS n
           FROM v4, unnest(generate_series(1, len(s) - 1)) AS g(i)
           WHERE len(s) >= 2 GROUP BY 1, 2),
         b4 AS (SELECT x, y, n FROM c4 ORDER BY n DESC, x, y LIMIT 1),
         v5 AS MATERIALIZED (SELECT w, weight,
             CASE WHEN b.x IS NULL THEN s
             ELSE string_split(list_reduce(s, (acc, sy) -> CASE
               WHEN string_split(acc, ' ')[-1] = b.x AND sy = b.y
               THEN substr(acc, 1, length(acc) - length(b.x)) || b.x || b.y
               ELSE acc || ' ' || sy END), ' ') END AS s
           FROM v4 LEFT JOIN b4 b ON TRUE),
         m4 AS (SELECT CAST(sum(weight * len(s)) AS BIGINT) AS mass
           FROM v5),
         c5 AS (SELECT s[i] AS x, s[i+1] AS y,
             CAST(sum(weight) AS BIGINT) AS n
           FROM v5, unnest(generate_series(1, len(s) - 1)) AS g(i)
           WHERE len(s) >= 2 GROUP BY 1, 2),
         b5 AS (SELECT x, y, n FROM c5 ORDER BY n DESC, x, y LIMIT 1),
         v6 AS MATERIALIZED (SELECT w, weight,
             CASE WHEN b.x IS NULL THEN s
             ELSE string_split(list_reduce(s, (acc, sy) -> CASE
               WHEN string_split(acc, ' ')[-1] = b.x AND sy = b.y
               THEN substr(acc, 1, length(acc) - length(b.x)) || b.x || b.y
               ELSE acc || ' ' || sy END), ' ') END AS s
           FROM v5 LEFT JOIN b5 b ON TRUE),
         m5 AS (SELECT CAST(sum(weight * len(s)) AS BIGINT) AS mass
           FROM v6),
         c6 AS (SELECT s[i] AS x, s[i+1] AS y,
             CAST(sum(weight) AS BIGINT) AS n
           FROM v6, unnest(generate_series(1, len(s) - 1)) AS g(i)
           WHERE len(s) >= 2 GROUP BY 1, 2),
         b6 AS (SELECT x, y, n FROM c6 ORDER BY n DESC, x, y LIMIT 1),
         v7 AS MATERIALIZED (SELECT w, weight,
             CASE WHEN b.x IS NULL THEN s
             ELSE string_split(list_reduce(s, (acc, sy) -> CASE
               WHEN string_split(acc, ' ')[-1] = b.x AND sy = b.y
               THEN substr(acc, 1, length(acc) - length(b.x)) || b.x || b.y
               ELSE acc || ' ' || sy END), ' ') END AS s
           FROM v6 LEFT JOIN b6 b ON TRUE),
         m6 AS (SELECT CAST(sum(weight * len(s)) AS BIGINT) AS mass
           FROM v7),
         c7 AS (SELECT s[i] AS x, s[i+1] AS y,
             CAST(sum(weight) AS BIGINT) AS n
           FROM v7, unnest(generate_series(1, len(s) - 1)) AS g(i)
           WHERE len(s) >= 2 GROUP BY 1, 2),
         b7 AS (SELECT x, y, n FROM c7 ORDER BY n DESC, x, y LIMIT 1),
         v8 AS MATERIALIZED (SELECT w, weight,
             CASE WHEN b.x IS NULL THEN s
             ELSE string_split(list_reduce(s, (acc, sy) -> CASE
               WHEN string_split(acc, ' ')[-1] = b.x AND sy = b.y
               THEN substr(acc, 1, length(acc) - length(b.x)) || b.x || b.y
               ELSE acc || ' ' || sy END), ' ') END AS s
           FROM v7 LEFT JOIN b7 b ON TRUE),
         m7 AS (SELECT CAST(sum(weight * len(s)) AS BIGINT) AS mass
           FROM v8),
         c8 AS (SELECT s[i] AS x, s[i+1] AS y,
             CAST(sum(weight) AS BIGINT) AS n
           FROM v8, unnest(generate_series(1, len(s) - 1)) AS g(i)
           WHERE len(s) >= 2 GROUP BY 1, 2),
         b8 AS (SELECT x, y, n FROM c8 ORDER BY n DESC, x, y LIMIT 1),
         v9 AS MATERIALIZED (SELECT w, weight,
             CASE WHEN b.x IS NULL THEN s
             ELSE string_split(list_reduce(s, (acc, sy) -> CASE
               WHEN string_split(acc, ' ')[-1] = b.x AND sy = b.y
               THEN substr(acc, 1, length(acc) - length(b.x)) || b.x || b.y
               ELSE acc || ' ' || sy END), ' ') END AS s
           FROM v8 LEFT JOIN b8 b ON TRUE),
         m8 AS (SELECT CAST(sum(weight * len(s)) AS BIGINT) AS mass
           FROM v9)"""

  /** The same chain as DuckDB `replace` nesting over column `text`. */
  private def injectPretokSql: String =
    injectPretokSteps.foldLeft("text") { case (e, (a, b)) =>
      val bq = b.replace("'", "''")
        .replace("\n", "' || chr(10) || '").replace("\t", "' || chr(9) || '")
        .replace("é", "' || chr(233) || '")
      s"replace($e, '${a.replace("'", "''")}', '$bq')"
    }

  /** Deterministic 1352-rule external merge list — the q302 fixture
    * vocabulary, derived from one closed-form formula on BOTH engines
    * (the oracle inverts ranks back to pairs arithmetically): ranks
    * 0..675 are all lowercase letter pairs in lexicographic order;
    * rank 676+j merges the 2-letter symbol of j with letter
    * (j·7+3) mod 26, so phase 2 consumes phase-1 outputs (real
    * apply-loop chaining, not a flat substitution table).
    */
  private[graft] val externalMerges: Seq[(String, String)] =
    (0 until 676).map(i => ((97 + i / 26).toChar.toString,
      (97 + i % 26).toChar.toString)) ++
      (0 until 676).map(j => ("" + (97 + j / 26).toChar + (97 + j % 26).toChar,
        (97 + (j * 7 + 3) % 26).toChar.toString))

  /** k chained BPE rounds in one DuckDB statement: census → one-row
    * argmax → list_reduce greedy rewrite (the same fold semantics as
    * `Bpe.mergePair` — append each symbol unless the accumulator's
    * last symbol is x and the incoming one is y), repeated by CTE
    * chaining with the round-r winner LEFT-joined into round r+1's
    * vocab rewrite. The LEFT JOIN (ON TRUE) + CASE fallback matches
    * `Bpe.trainRules`'s early-stop semantics on degenerate corpora: a
    * round whose pair census is empty keeps the vocab unchanged
    * instead of emptying every later round's CTE (which would zero
    * q274's final v-join while Spark still reports stats).
    */
  /** Shared q302/q303 oracle machinery — the min-rank external-merge
    * apply as a recursive CTE: the closed-form 1352-rule rank map, per
    * iteration each still-mergeable word finds its lowest-rank
    * adjacent pair (ranks invert back to (x, y) arithmetically) and
    * greedy-merges it with the list_reduce fold; finished words fall
    * out of the recursion into `fin0(w, s)`.
    */
  private def bpeApplyCtes: String =
    s"""WITH RECURSIVE ${LlmQueries.tkCte},
       rk AS (SELECT map_from_entries(list(struct_pack(
             k := x || chr(10) || y, v := rank))) AS m
           FROM (
             SELECT i AS rank, chr(97 + CAST(i // 26 AS INTEGER)) AS x,
                 chr(97 + CAST(i % 26 AS INTEGER)) AS y
               FROM range(676) t(i)
             UNION ALL
             SELECT 676 + j AS rank,
                 chr(97 + CAST(j // 26 AS INTEGER))
                   || chr(97 + CAST(j % 26 AS INTEGER)) AS x,
                 chr(97 + CAST((j * 7 + 3) % 26 AS INTEGER)) AS y
               FROM range(676) t(j))),
       w0 AS (SELECT DISTINCT w FROM (SELECT unnest(t) AS w FROM tk)),
       enc AS (
         SELECT w, list_filter(string_split(w, ''), c -> c <> '') AS s
           FROM w0
         UNION ALL
         SELECT w, string_split(list_reduce(s, (acc, sy) -> CASE
             WHEN string_split(acc, ' ')[-1] = bx AND sy = by
             THEN substr(acc, 1, length(acc) - length(bx)) || bx || by
             ELSE acc || ' ' || sy END), ' ') AS s
         FROM (
           SELECT w, s, br,
             CASE WHEN br < 676
                 THEN chr(97 + CAST(br // 26 AS INTEGER))
               ELSE chr(97 + CAST((br - 676) // 26 AS INTEGER))
                 || chr(97 + CAST((br - 676) % 26 AS INTEGER)) END AS bx,
             CASE WHEN br < 676
                 THEN chr(97 + CAST(br % 26 AS INTEGER))
               ELSE chr(97 + CAST(((br - 676) * 7 + 3) % 26
                 AS INTEGER)) END AS by
           FROM (
             SELECT w, s, list_min(list_transform(
                 generate_series(1, len(s) - 1),
                 i -> m[s[i] || chr(10) || s[i+1]][1])) AS br
             FROM enc, rk WHERE len(s) >= 2
           ) WHERE br IS NOT NULL
         )
       ),
       fin0 AS (SELECT w, s FROM enc, rk
         WHERE len(s) < 2 OR list_min(list_transform(
           generate_series(1, len(s) - 1),
           i -> m[s[i] || chr(10) || s[i+1]][1])) IS NULL)"""

  private def bpeCtes(rounds: Int): String = {
    val sb = new StringBuilder
    sb.append(s"""WITH ${LlmQueries.tkCte},
      v1 AS (SELECT w, CAST(count(*) AS BIGINT) AS weight,
          string_split(w, '') AS s
        FROM (SELECT unnest(t) AS w FROM tk) GROUP BY w),""")
    for (r <- 1 to rounds) {
      sb.append(s"""
      c$r AS (SELECT s[i] AS x, s[i+1] AS y,
          CAST(sum(weight) AS BIGINT) AS n
        FROM v$r, unnest(generate_series(1, len(s) - 1)) AS g(i)
        WHERE len(s) >= 2 GROUP BY 1, 2),
      b$r AS (SELECT x, y, n FROM c$r ORDER BY n DESC, x, y LIMIT 1),
      v${r + 1} AS (SELECT w, weight, CASE WHEN b.x IS NULL THEN s
          ELSE string_split(list_reduce(s,
          (acc, sy) -> CASE
            WHEN string_split(acc, ' ')[-1] = b.x AND sy = b.y
            THEN substr(acc, 1, length(acc) - length(b.x)) || b.x || b.y
            ELSE acc || ' ' || sy END), ' ') END AS s
        FROM v$r LEFT JOIN b$r b ON TRUE),
      m$r AS (SELECT CAST(sum(weight * len(s)) AS BIGINT) AS mass
        FROM v${r + 1})""")
      if (r < rounds) sb.append(",")
    }
    sb.toString
  }

  def oracles: Map[String, String] = Map(
    "q277_kn_perplexity" ->
      s"""WITH ${LlmQueries.tkCte},
         tk2 AS (SELECT doc_id, lang, t FROM tk WHERE len(t) >= 2),
         big AS (SELECT doc_id, lang, t[i-1] AS u, t[i] AS w
           FROM tk2, unnest(generate_series(2, len(t))) AS g(i)),
         bc AS (SELECT lang, u, w, CAST(count(*) AS BIGINT) AS cb
           FROM big GROUP BY 1, 2, 3),
         ctx AS (SELECT lang, u, CAST(sum(cb) AS BIGINT) AS cc,
             CAST(count(*) AS BIGINT) AS nfu FROM bc GROUP BY 1, 2),
         cw AS (SELECT lang, w, CAST(count(*) AS BIGINT) AS npw
           FROM bc GROUP BY 1, 2),
         tot AS (SELECT lang, CAST(count(*) AS BIGINT) AS nbb
           FROM bc GROUP BY 1),
         pb AS (SELECT bc.lang, bc.u, bc.w,
             CAST(round(-log2(
                 (greatest(CAST(cb AS DOUBLE) - CAST(0.75 AS DOUBLE),
                     CAST(0.0 AS DOUBLE))
                   + CAST(0.75 AS DOUBLE) * CAST(nfu AS DOUBLE)
                     * (CAST(npw AS DOUBLE) / CAST(nbb AS DOUBLE)))
                 / CAST(cc AS DOUBLE)) * 1e6)
               AS BIGINT) AS microbits
           FROM bc
           JOIN ctx ON ctx.lang = bc.lang AND ctx.u = bc.u
           JOIN cw ON cw.lang = bc.lang AND cw.w = bc.w
           JOIN tot ON tot.lang = bc.lang)
         SELECT big.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(microbits) AS BIGINT) AS total_microbits,
           round(CAST(sum(microbits) AS DOUBLE)
             / CAST(count(*) AS DOUBLE) / 1e6, 6) AS mean_bits,
           sum(microbits) <= 12000000 * count(*) AS kept
         FROM big
         JOIN pb ON pb.lang = big.lang AND pb.u = big.u AND pb.w = big.w
         GROUP BY big.doc_id""",
    "q278_heldout_perplexity" ->
      s"""WITH ${LlmQueries.tkCte},
         tk2 AS (SELECT doc_id, lang, t,
             CASE WHEN CAST(concat('0x', substr(md5(concat('21', '|',
                   CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) % 100 < 90
                 THEN 'train'
               WHEN CAST(concat('0x', substr(md5(concat('21', '|',
                   CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) % 100 < 95
                 THEN 'val'
               ELSE 'test' END AS split
           FROM tk WHERE len(t) >= 2),
         big AS (SELECT doc_id, lang, split, t[i-1] AS u, t[i] AS w
           FROM tk2, unnest(generate_series(2, len(t))) AS g(i)),
         uni AS (SELECT lang, tok, CAST(count(*) AS BIGINT) AS cu
           FROM (SELECT lang, unnest(t) AS tok FROM tk2
             WHERE split = 'train') GROUP BY 1, 2),
         utot AS (SELECT lang, CAST(sum(cu) AS BIGINT) AS n_lang,
             CAST(count(*) AS BIGINT) AS v_lang FROM uni GROUP BY 1),
         bc AS (SELECT lang, u, w, CAST(count(*) AS BIGINT) AS cb
           FROM big WHERE split = 'train' GROUP BY 1, 2, 3),
         ctx AS (SELECT lang, u, CAST(sum(cb) AS BIGINT) AS cc
           FROM bc GROUP BY 1, 2),
         sc AS (SELECT big.doc_id, big.split, cb IS NULL AS oov,
             CAST(round(-log2(
                 CAST(0.75 AS DOUBLE) * COALESCE(
                   CAST(cb AS DOUBLE) / CAST(cc AS DOUBLE),
                   CAST(0.0 AS DOUBLE))
                 + CAST(0.25 AS DOUBLE)
                   * (CAST(COALESCE(cu, 0) + 1 AS DOUBLE)
                     / CAST(n_lang + v_lang AS DOUBLE))) * 1e6)
               AS BIGINT) AS mb
           FROM big
           LEFT JOIN bc ON bc.lang = big.lang AND bc.u = big.u
             AND bc.w = big.w
           LEFT JOIN ctx ON ctx.lang = big.lang AND ctx.u = big.u
           LEFT JOIN uni ON uni.lang = big.lang AND uni.tok = big.w
           JOIN utot ON utot.lang = big.lang
           WHERE big.split <> 'train')
         SELECT doc_id, split, CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(CASE WHEN oov THEN 1 ELSE 0 END) AS BIGINT)
             AS oov_bigrams,
           CAST(sum(mb) AS BIGINT) AS total_microbits,
           round(CAST(sum(mb) AS DOUBLE)
             / CAST(count(*) AS DOUBLE) / 1e6, 6) AS mean_bits
         FROM sc GROUP BY 1, 2""",
    "q279_budget_waterfill" ->
      s"""WITH ${LlmQueries.tkCte},
         ps AS (SELECT source, CAST(sum(len(t)) AS BIGINT) AS a
           FROM tk GROUP BY 1),
         ps2 AS (SELECT source, a,
             CAST(floor(sqrt(CAST(a AS DOUBLE)) * 1e6) AS BIGINT) AS t
           FROM ps),
         tot AS (SELECT CAST(sum(a) AS BIGINT) AS ta,
             CAST(sum(t) AS BIGINT) AS tt FROM ps2),
         rk AS (SELECT source, a, t, ta, tt, ta // 2 AS b,
             CAST(a AS HUGEINT) * 1000000 // CAST(t AS HUGEINT) AS qk
           FROM ps2, tot),
         wn AS (SELECT *,
             sum(a) OVER (ORDER BY qk, source) - a AS pref_a,
             tt - (sum(t) OVER (ORDER BY qk, source) - t) AS suf_t
           FROM rk),
         st AS (SELECT *, CAST(a AS HUGEINT) * CAST(suf_t AS HUGEINT)
               <= CAST(b - pref_a AS HUGEINT) * CAST(t AS HUGEINT) AS sat
           FROM wn),
         cp AS (SELECT *, min(CASE WHEN sat THEN 1 ELSE 0 END)
               OVER (ORDER BY qk, source) = 1 AS capped
           FROM st),
         caps AS (SELECT
             CAST(sum(CASE WHEN capped THEN a ELSE 0 END) AS BIGINT) AS ca,
             CAST(sum(CASE WHEN capped THEN t ELSE 0 END) AS BIGINT) AS ct
           FROM cp),
         al AS (SELECT source, a, t, capped,
             CAST(CASE WHEN capped THEN CAST(a AS HUGEINT)
               ELSE CAST(b - ca AS HUGEINT) * CAST(t AS HUGEINT)
                 // CAST(tt - ct AS HUGEINT) END AS BIGINT) AS allocated
           FROM cp, caps)
         SELECT source, a AS available, t AS target_grid, capped,
           allocated,
           CAST(allocated AS DOUBLE) / CAST(a AS DOUBLE) AS fill_ratio
         FROM al""",
    "q280_effective_data" ->
      s"""WITH ${LlmQueries.tkCte}, ${CorpusQueries.chunkCte(20, 7)},
         k AS (SELECT chash, min(doc_id*1000000+chunk_idx) AS keeper
           FROM ch GROUP BY 1),
         ps AS (SELECT source, CAST(sum(ctoks) AS BIGINT) AS a,
             CAST(sum(CASE WHEN doc_id*1000000+chunk_idx = keeper
               THEN ctoks ELSE 0 END) AS BIGINT) AS u
           FROM ch JOIN k USING (chash) GROUP BY source),
         ps2 AS (SELECT source, a, u,
             CAST(floor(sqrt(CAST(u AS DOUBLE)) * 1e6) AS BIGINT) AS t
           FROM ps),
         tot AS (SELECT CAST(sum(a) AS BIGINT) AS ta,
             CAST(sum(t) AS BIGINT) AS tt FROM ps2),
         rk AS (SELECT source, a, u, t, ta, tt, ta // 2 AS b,
             CAST(a AS HUGEINT) * 1000000 // CAST(t AS HUGEINT) AS qk
           FROM ps2, tot),
         wn AS (SELECT *,
             sum(a) OVER (ORDER BY qk, source) - a AS pref_a,
             tt - (sum(t) OVER (ORDER BY qk, source) - t) AS suf_t
           FROM rk),
         st AS (SELECT *, CAST(a AS HUGEINT) * CAST(suf_t AS HUGEINT)
               <= CAST(b - pref_a AS HUGEINT) * CAST(t AS HUGEINT) AS sat
           FROM wn),
         cp AS (SELECT *, min(CASE WHEN sat THEN 1 ELSE 0 END)
               OVER (ORDER BY qk, source) = 1 AS capped
           FROM st),
         caps AS (SELECT
             CAST(sum(CASE WHEN capped THEN a ELSE 0 END) AS BIGINT) AS ca,
             CAST(sum(CASE WHEN capped THEN t ELSE 0 END) AS BIGINT) AS ct
           FROM cp),
         al AS (SELECT source, a, u, capped,
             CAST(CASE WHEN capped THEN CAST(a AS HUGEINT)
               ELSE CAST(b - ca AS HUGEINT) * CAST(t AS HUGEINT)
                 // CAST(tt - ct AS HUGEINT) END AS BIGINT) AS allocated
           FROM cp, caps)
         SELECT source, a AS available, u AS unique_tokens, capped,
           allocated,
           round(CAST(allocated AS DOUBLE) / CAST(u AS DOUBLE), 6)
             AS epochs,
           round(CASE WHEN allocated < u
               THEN CAST(allocated AS DOUBLE) / CAST(u AS DOUBLE)
               ELSE CAST(1.0 AS DOUBLE) + CAST(5.3 AS DOUBLE)
                 * (CAST(1.0 AS DOUBLE) - exp(-(
                     (CAST(allocated AS DOUBLE) / CAST(u AS DOUBLE)
                       - CAST(1.0 AS DOUBLE)) / CAST(5.3 AS DOUBLE))))
               END, 6) AS eff_ratio
         FROM al""",
    "q272_bpe_merge_rounds" -> (bpeCtes(8) +
      (1 to 8).map(r =>
        s"""SELECT CAST($r AS BIGINT) AS merge_round, x, y, n AS pair_n,
           (SELECT mass FROM m$r) AS mass_after FROM b$r""")
        .mkString("\n", "\nUNION ALL\n", "")),
    "q274_bpe_encode" -> (bpeCtes(8) + s""",
      sw AS (SELECT source AS grp, w, CAST(count(*) AS BIGINT) AS nsw
        FROM (SELECT source, unnest(t) AS w FROM tk) GROUP BY 1, 2)
      SELECT grp AS source, CAST(sum(nsw) AS BIGINT) AS n_words,
        CAST(sum(nsw * length(w)) AS BIGINT) AS n_chars,
        CAST(sum(nsw * len(s)) AS BIGINT) AS n_symbols,
        CAST(sum(nsw * length(w)) AS DOUBLE)
          / CAST(sum(nsw * len(s)) AS DOUBLE) AS chars_per_symbol,
        CAST(sum(nsw * len(s)) AS DOUBLE)
          / CAST(sum(nsw) AS DOUBLE) AS symbols_per_word
      FROM v9 JOIN sw USING (w) GROUP BY 1"""),
    "q271_boilerplate" ->
      s"""WITH ${LlmQueries.tkCte}, ${CorpusQueries.chunkCte(10, 11)},
         nd AS (SELECT source, count(*) AS nd FROM tk
           WHERE len(t) > 0 GROUP BY 1),
         dfl AS (SELECT source, chash, count(DISTINCT doc_id) AS df
           FROM ch GROUP BY 1, 2),
         bo AS (SELECT dfl.source, chash FROM dfl JOIN nd USING (source)
           WHERE df >= 2 AND df * 100 >= nd * 5),
         fl AS (SELECT ch.doc_id, ch.source, ch.chunk_idx, ch.ctoks,
             bo.chash IS NOT NULL AS boiler,
             array_to_string(t[ch.chunk_idx*10+1 : ch.chunk_idx*10+10],
               ' ') AS line
           FROM ch JOIN tk ON tk.doc_id = ch.doc_id
           LEFT JOIN bo ON bo.source = ch.source AND bo.chash = ch.chash)
         SELECT doc_id, source, CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CASE WHEN boiler THEN 1 ELSE 0 END) AS BIGINT)
             AS boiler_lines,
           CAST(sum(CASE WHEN NOT boiler THEN ctoks ELSE 0 END) AS BIGINT)
             AS kept_tokens,
           CAST(sum(CASE WHEN boiler THEN ctoks ELSE 0 END) AS BIGINT)
             AS removed_tokens,
           COALESCE(string_agg(CASE WHEN NOT boiler THEN line END, ' '
             ORDER BY chunk_idx), '') AS retained_text
         FROM fl GROUP BY 1, 2""",
    "q273_boilerplate_mass" ->
      s"""WITH ${LlmQueries.tkCte}, ${CorpusQueries.chunkCte(10, 11)},
         nd AS (SELECT source, count(*) AS nd FROM tk
           WHERE len(t) > 0 GROUP BY 1),
         dfl AS (SELECT source, chash, count(DISTINCT doc_id) AS df
           FROM ch GROUP BY 1, 2),
         bo AS (SELECT dfl.source, chash FROM dfl JOIN nd USING (source)
           WHERE df >= 2 AND df * 100 >= nd * 5),
         fl AS (SELECT ch.doc_id, ch.source, ch.ctoks,
             bo.chash IS NOT NULL AS boiler
           FROM ch LEFT JOIN bo ON bo.source = ch.source
             AND bo.chash = ch.chash),
         pd AS (SELECT doc_id, source, count(*) AS n_lines,
             sum(CASE WHEN boiler THEN 1 ELSE 0 END) AS boiler_lines,
             sum(ctoks) AS n_tokens,
             sum(CASE WHEN boiler THEN ctoks ELSE 0 END) AS removed_tokens
           FROM fl GROUP BY 1, 2)
         SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_lines) AS BIGINT) AS n_lines,
           CAST(sum(boiler_lines) AS BIGINT) AS boiler_lines,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           CAST(sum(removed_tokens) AS BIGINT) AS removed_tokens,
           CAST(sum(removed_tokens) AS DOUBLE)
             / CAST(sum(n_tokens) AS DOUBLE) AS boiler_share
         FROM pd GROUP BY 1""",
    "q261_bigram_perplexity" ->
      s"""WITH ${LlmQueries.tkCte},
         tk2 AS (SELECT doc_id, lang, t FROM tk WHERE len(t) >= 2),
         big AS (SELECT doc_id, lang, t[i-1] AS u, t[i] AS w
           FROM tk2, unnest(generate_series(2, len(t))) AS g(i)),
         uni AS (SELECT lang, tok, count(*) AS cu
           FROM (SELECT lang, unnest(t) AS tok FROM tk2) GROUP BY 1, 2),
         utot AS (SELECT lang, CAST(sum(cu) AS BIGINT) AS n_lang,
             CAST(count(*) AS BIGINT) AS v_lang
           FROM uni GROUP BY lang),
         bc AS (SELECT lang, u, w, count(*) AS cb
           FROM big GROUP BY 1, 2, 3),
         ctx AS (SELECT lang, u, CAST(sum(cb) AS BIGINT) AS cc
           FROM bc GROUP BY 1, 2),
         pb AS (SELECT bc.lang, bc.u, bc.w,
             CAST(round(-log2(
                 CAST(0.75 AS DOUBLE)
                   * (CAST(cb AS DOUBLE) / CAST(cc AS DOUBLE))
                 + CAST(0.25 AS DOUBLE)
                   * (CAST(cu + 1 AS DOUBLE)
                     / CAST(n_lang + v_lang AS DOUBLE))) * 1e6)
               AS BIGINT) AS microbits
           FROM bc
           JOIN ctx ON ctx.lang = bc.lang AND ctx.u = bc.u
           JOIN uni ON uni.lang = bc.lang AND uni.tok = bc.w
           JOIN utot ON utot.lang = bc.lang)
         SELECT big.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(microbits) AS BIGINT) AS total_microbits,
           round(CAST(sum(microbits) AS DOUBLE)
             / CAST(count(*) AS DOUBLE) / 1e6, 6) AS mean_bits,
           sum(microbits) <= 12000000 * count(*) AS kept
         FROM big
         JOIN pb ON pb.lang = big.lang AND pb.u = big.u AND pb.w = big.w
         GROUP BY big.doc_id""",
    "q262_chunk_contamination" ->
      s"""WITH ${LlmQueries.tkCte}, ${CorpusQueries.chunkCte(20, 7)},
         ss AS (SELECT chash, source, max(ctoks) AS ctoks
           FROM ch GROUP BY 1, 2)
         SELECT a.source AS source_a, b.source AS source_b,
           CAST(count(*) AS BIGINT) AS n_shared_chunks,
           CAST(sum(a.ctoks) AS BIGINT) AS shared_tokens
         FROM ss a JOIN ss b ON a.chash = b.chash AND a.source < b.source
         GROUP BY 1, 2""",
    "q263_dsir_weights" ->
      s"""WITH ${LlmQueries.tkCte},
         tk2 AS (SELECT doc_id, lang, t FROM tk WHERE len(t) >= 2),
         big AS (SELECT doc_id, lang,
             CAST(concat('0x', substr(md5(concat('37', '|',
               concat(t[i-1], ' ', t[i]))), 1, 8)) AS BIGINT) % 4096 AS bk
           FROM tk2, unnest(generate_series(2, len(t))) AS g(i)),
         raw AS (SELECT bk, count(*) AS cr FROM big GROUP BY 1),
         tgt AS (SELECT bk, count(*) AS ct FROM big
           WHERE lang = 'en' GROUP BY 1),
         tots AS (SELECT count(*) AS nr,
             sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS nt FROM big),
         w AS (SELECT raw.bk, CAST(floor((
               log2(CAST(COALESCE(ct, 0) + 1 AS DOUBLE)
                 / CAST(nt + 4096 AS DOUBLE))
               - log2(CAST(cr + 1 AS DOUBLE)
                 / CAST(nr + 4096 AS DOUBLE))) * 1e6) AS BIGINT) AS mb
           FROM raw LEFT JOIN tgt ON tgt.bk = raw.bk, tots)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(mb) AS BIGINT) AS total_microbits,
           CAST(sum(mb) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1e6
             AS mean_bits,
           sum(mb) > 0 AS target_leaning
         FROM big JOIN w USING (bk) GROUP BY doc_id""",
    "q264_cdc_chunks" ->
      s"""WITH ${LlmQueries.tkCte},
         tok AS (SELECT doc_id, i - 1 AS pos, t[i] AS tok,
             CASE WHEN CAST(concat('0x', substr(md5(concat('41', '|',
                 t[i])), 1, 8)) AS BIGINT) % 16 = 0
               THEN 1 ELSE 0 END AS bd
           FROM tk, unnest(generate_series(1, len(t))) AS g(i)
           WHERE len(t) > 0),
         cid AS (SELECT doc_id, pos, tok,
             COALESCE(sum(bd) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cid
           FROM tok),
         ch AS (SELECT doc_id, cid, count(*) AS ctoks,
             CAST(concat('0x', substr(md5(concat('43', '|',
                 string_agg(tok, ' ' ORDER BY pos))), 1, 8)) AS BIGINT)
               AS chash
           FROM cid GROUP BY 1, 2),
         bk AS (SELECT CAST(length(bin(ctoks)) - 1 AS BIGINT) AS len_bucket,
             count(*) AS n_chunks, count(DISTINCT chash) AS n_distinct,
             sum(ctoks) AS n_tokens
           FROM ch GROUP BY 1)
         SELECT len_bucket, CAST(n_chunks AS BIGINT) AS n_chunks,
           CAST(n_distinct AS BIGINT) AS n_distinct,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_chunks - n_distinct AS DOUBLE) / CAST(n_chunks AS DOUBLE)
             AS dup_rate
         FROM bk""",
    "q266_memorization" ->
      s"""WITH ${LlmQueries.tkCte}, ${LlmQueries.shingleCte(8)},
         m AS (SELECT doc_id, CAST(concat('0x', substr(md5(concat('53',
               '|', sgl)), 1, 8)) AS BIGINT) AS h
           FROM (SELECT doc_id, unnest(s) AS sgl FROM sh)),
         d8 AS (SELECT h, count(DISTINCT doc_id) AS nd FROM m GROUP BY 1)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_shared,
           CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(count(*) AS DOUBLE) AS memorization_risk
         FROM m JOIN d8 USING (h) GROUP BY doc_id""",
    "q267_curation_funnel" ->
      s"""WITH ${LlmQueries.tkCte},
         b AS (SELECT doc_id, len(t) AS wc,
             COALESCE(list_sum(list_transform(t, x -> length(x))), 0) AS sl,
             len(list_filter(t, x -> list_contains(
               ${LlmQueries.stopListSql}, x))) AS sh,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
           FROM tk),
         k AS (SELECT fp, min(doc_id) AS keeper FROM b GROUP BY 1),
         f AS (SELECT wc >= 50 AS p1,
             sl >= wc * 3 AND sl <= wc * 10 AS p2,
             sh >= 2 AS p3, doc_id = keeper AS p4
           FROM b JOIN k USING (fp)),
         a AS (SELECT count(*) AS n0,
             sum(CASE WHEN p1 THEN 1 ELSE 0 END) AS n1,
             sum(CASE WHEN p1 AND p2 THEN 1 ELSE 0 END) AS n2,
             sum(CASE WHEN p1 AND p2 AND p3 THEN 1 ELSE 0 END) AS n3,
             sum(CASE WHEN p1 AND p2 AND p3 AND p4 THEN 1 ELSE 0 END) AS n4
           FROM f),
         sel AS (
           SELECT 1 AS stage_idx, 'min_words_50' AS stage,
             n0 AS n_in, n1 AS n_out FROM a
           UNION ALL SELECT 2, 'mean_word_len_3_10', n1, n2 FROM a
           UNION ALL SELECT 3, 'stopword_floor_2', n2, n3 FROM a
           UNION ALL SELECT 4, 'exact_dedup_keep', n3, n4 FROM a)
         SELECT CAST(stage_idx AS BIGINT) AS stage_idx, stage,
           CAST(n_in AS BIGINT) AS n_in, CAST(n_out AS BIGINT) AS n_out,
           CAST(n_out AS DOUBLE) / CAST(n_in AS DOUBLE) AS retention
         FROM sel""",
    "q268_split_leakage" ->
      s"""WITH ${LlmQueries.tkCte}, ${CorpusQueries.chunkCte(20, 7)},
         cm AS (SELECT chash, ctoks,
             CASE WHEN CAST(concat('0x', substr(md5(concat('21', '|',
                   CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) % 100 < 90
                 THEN 'train'
               WHEN CAST(concat('0x', substr(md5(concat('21', '|',
                   CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) % 100 < 95
                 THEN 'val'
               ELSE 'test' END AS split
           FROM ch),
         tr AS (SELECT DISTINCT chash, 1 AS hit FROM cm
           WHERE split = 'train')
         SELECT split, CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(CASE WHEN hit IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_leaked,
           CAST(sum(CASE WHEN hit IS NOT NULL THEN ctoks ELSE 0 END)
             AS BIGINT) AS leaked_tokens,
           CAST(sum(CASE WHEN hit IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(count(*) AS DOUBLE) AS leak_rate
         FROM cm LEFT JOIN tr USING (chash)
         WHERE split <> 'train' GROUP BY split""",
    "q269_sliding_windows" ->
      s"""WITH ${LlmQueries.tkCte},
         sw AS (SELECT doc_id, i AS chunk_idx,
             len(t[i*10+1 : i*10+20]) AS ctoks,
             CAST(concat('0x', substr(md5(concat('7', '|',
               array_to_string(t[i*10+1 : i*10+20], ' '))), 1, 8))
               AS BIGINT) AS chash
           FROM tk, unnest(range(CASE WHEN len(t) <= 20 THEN 1
             ELSE (len(t) - 20 + 9) // 10 + 1 END)) AS u(i)
           WHERE len(t) > 0),
         k AS (SELECT chash, min(doc_id*1000000+chunk_idx) AS keeper
           FROM sw GROUP BY 1)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows,
           CAST(sum(CASE WHEN doc_id*1000000+chunk_idx = keeper
             THEN 1 ELSE 0 END) AS BIGINT) AS kept_windows,
           CAST(sum(CASE WHEN doc_id*1000000+chunk_idx = keeper
             THEN ctoks ELSE 0 END) AS BIGINT) AS kept_tokens,
           CAST(sum(CASE WHEN doc_id*1000000+chunk_idx = keeper
             THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE)
             AS index_share
         FROM sw JOIN k USING (chash) GROUP BY doc_id""",
    "q270_dedup_mixture" ->
      s"""WITH ${LlmQueries.tkCte}, ${CorpusQueries.chunkCte(20, 7)},
         k AS (SELECT chash, min(doc_id*1000000+chunk_idx) AS keeper
           FROM ch GROUP BY 1),
         ps AS (SELECT source, CAST(sum(ctoks) AS BIGINT) AS n_tokens,
             CAST(sum(CASE WHEN doc_id*1000000+chunk_idx = keeper
               THEN ctoks ELSE 0 END) AS BIGINT) AS kept_tokens
           FROM ch JOIN k USING (chash) GROUP BY source),
         w AS (SELECT source, n_tokens, kept_tokens,
             CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1e6) AS BIGINT)
               AS wr,
             CAST(floor(sqrt(CAST(kept_tokens AS DOUBLE)) * 1e6) AS BIGINT)
               AS wk
           FROM ps),
         t AS (SELECT CAST(sum(wr) AS BIGINT) AS twr,
             CAST(sum(wk) AS BIGINT) AS twk FROM w)
         SELECT source, n_tokens, kept_tokens,
           CAST(kept_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE)
             AS keep_ratio,
           CAST(wr AS DOUBLE) / CAST(twr AS DOUBLE) AS w_raw,
           CAST(wk AS DOUBLE) / CAST(twk AS DOUBLE) AS w_dedup
         FROM w, t""",
    // The oracle computes NFC honestly (utf8proc's nfc_normalize vs the
    // JDK Normalizer — true cross-engine NFC parity through the hash
    // sums) and states the EXPECTED results for mojibake repair and
    // punctuation cleanup (chr(233) / '-done...'): Spark must reach
    // them through the real repair/translate path or the sums diverge.
    "q282_unicode_normalize" ->
      s"""WITH ${LlmQueries.tkCte},
         words AS (SELECT DISTINCT source, unnest(t) AS w FROM tk),
         n AS (SELECT source,
             w || chr(769) AS dec,
             nfc_normalize(w || chr(769)) AS comp,
             w || chr(233) AS rep
           FROM words)
         SELECT source, CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(CASE WHEN comp <> dec THEN 1 ELSE 0 END) AS BIGINT)
             AS n_composed,
           CAST(sum(CAST(concat('0x', substr(md5(concat('7', '|', comp)),
             1, 8)) AS BIGINT)) AS BIGINT) AS nfc_hash_sum,
           CAST(sum(CAST(concat('0x', substr(md5(concat('7', '|', rep)),
             1, 8)) AS BIGINT)) AS BIGINT) AS repair_hash_sum,
           CAST(count(*) AS BIGINT) AS n_repaired,
           CAST(count(*) AS BIGINT) AS n_punct
         FROM n GROUP BY source""",
    // expected-by-construction registrable domains: the oracle derives
    // each from the host pattern (m), Spark from the real PSL matcher
    "q283_domain_rollup" ->
      s"""WITH d AS (SELECT doc_id, lang, n_chars,
           len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
             x -> x <> '')) AS tk,
           doc_id % 50 AS sd, doc_id % 10 AS m FROM documents),
         h AS (SELECT *,
             CASE m
               WHEN 0 THEN 'www.site' || sd || '.com'
               WHEN 1 THEN 'blog.site' || sd || '.co.uk'
               WHEN 2 THEN 'a.b.site' || sd || '.ac.uk'
               WHEN 3 THEN 'site' || sd || '.org'
               WHEN 4 THEN 'www.site' || sd || '.xyzunknown'
               WHEN 5 THEN '192.168.0.' || (doc_id % 200)
               WHEN 6 THEN 'x.site' || sd || '.ck'
               WHEN 7 THEN 'WWW.CK.'
               WHEN 8 THEN 'deep.sub.site' || sd || '.com.au'
               ELSE 'co.uk' END AS host,
             CASE m
               WHEN 0 THEN 'site' || sd || '.com'
               WHEN 1 THEN 'site' || sd || '.co.uk'
               WHEN 2 THEN 'site' || sd || '.ac.uk'
               WHEN 3 THEN 'site' || sd || '.org'
               WHEN 4 THEN 'site' || sd || '.xyzunknown'
               WHEN 5 THEN '(none)'
               WHEN 6 THEN 'x.site' || sd || '.ck'
               WHEN 7 THEN 'www.ck'
               WHEN 8 THEN 'site' || sd || '.com.au'
               ELSE '(none)' END AS domain
           FROM d)
         SELECT domain, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT host) AS BIGINT) AS n_hosts,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(sum(tk) AS BIGINT) AS n_tokens,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
         FROM h GROUP BY domain""",
    // raw URLs rebuilt by the same construction; canonical forms
    // stated expected-by-construction (params sorted, tracking gone,
    // www/port/slash/fragment normalized)
    "q285_url_dedup" ->
      s"""WITH d AS (SELECT doc_id, source, doc_id % 50 AS sd,
           doc_id % 10 AS m FROM documents),
         u AS (SELECT source,
             CASE m
               WHEN 0 THEN 'https://WWW.site' || sd || '.com/Page/' || sd
                 || '/?utm_source=x&b=2&a=1#frag'
               WHEN 1 THEN 'http://site' || sd || '.co.uk:80/index.html'
               WHEN 2 THEN 'https://site' || sd || '.com:8443/x'
               WHEN 3 THEN 'https://www.site' || sd || '.com/?fbclid=abc'
               WHEN 4 THEN 'http://site' || sd || '.org/a/b/'
               WHEN 5 THEN 'https://site' || sd
                 || '.com/a?gclid=1&z=9&utm_campaign=c'
               WHEN 6 THEN 'https://site' || sd || '.com/a'
               WHEN 7 THEN 'https://site' || sd || '.com/Page/' || sd
                 || '?b=2&a=1&utm_medium=y'
               WHEN 8 THEN 'https://site' || sd
                 || '.com/%7Etilde/%2fpath?a=%41'
               ELSE 'https://site' || sd || '.com/a?%66bclid&z=%7a'
               END AS url,
             CASE m
               WHEN 0 THEN 'https://site' || sd || '.com/Page/' || sd
                 || '?a=1&b=2'
               WHEN 1 THEN 'http://site' || sd || '.co.uk/index.html'
               WHEN 2 THEN 'https://site' || sd || '.com:8443/x'
               WHEN 3 THEN 'https://site' || sd || '.com'
               WHEN 4 THEN 'http://site' || sd || '.org/a/b'
               WHEN 5 THEN 'https://site' || sd || '.com/a?z=9'
               WHEN 6 THEN 'https://site' || sd || '.com/a'
               WHEN 7 THEN 'https://site' || sd || '.com/Page/' || sd
                 || '?a=1&b=2'
               WHEN 8 THEN 'https://site' || sd
                 || '.com/~tilde/%2Fpath?a=A'
               ELSE 'https://site' || sd || '.com/a?z=z' END AS canon
           FROM d)
         SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT url) AS BIGINT) AS n_raw,
           CAST(count(DISTINCT canon) AS BIGINT) AS n_canonical,
           CAST(sum(CAST(concat('0x', substr(md5(concat('7', '|',
             canon)), 1, 8)) AS BIGINT)) AS BIGINT) AS canon_hash_sum
         FROM u GROUP BY source""",
    "q286_packing_efficiency" ->
      s"""WITH d AS (SELECT lang, doc_id % 4 AS shard,
           len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
             x -> x <> '')) AS tok FROM documents),
         g AS (SELECT lang, shard, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(tok) AS BIGINT) AS n_tokens,
             CAST(sum((tok + 511) // 512) AS BIGINT) AS padded_blocks
           FROM d GROUP BY 1, 2)
         SELECT lang, shard, n_docs, n_tokens, padded_blocks,
           CAST((n_tokens + 511) // 512 AS BIGINT) AS concat_blocks,
           CAST(padded_blocks * 512 - n_tokens AS BIGINT)
             AS padding_waste,
           CASE WHEN padded_blocks > 0 THEN
             CAST(padded_blocks - (n_tokens + 511) // 512 AS DOUBLE)
               / CAST(padded_blocks AS DOUBLE)
             ELSE CAST(0.0 AS DOUBLE) END AS savings_ratio
         FROM g""",
    "q287_domain_caps" ->
      s"""WITH d AS (SELECT doc_id, doc_id % 50 AS sd, doc_id % 10 AS m,
           CAST(concat('0x', substr(md5(concat('23', '|',
             CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) AS prio
           FROM documents),
         h AS (SELECT doc_id, prio,
             CASE m
               WHEN 0 THEN 'site' || sd || '.com'
               WHEN 1 THEN 'site' || sd || '.co.uk'
               WHEN 2 THEN 'site' || sd || '.ac.uk'
               WHEN 3 THEN 'site' || sd || '.org'
               WHEN 4 THEN 'site' || sd || '.xyzunknown'
               WHEN 5 THEN NULL
               WHEN 6 THEN 'x.site' || sd || '.ck'
               WHEN 7 THEN 'www.ck'
               WHEN 8 THEN 'site' || sd || '.com.au'
               ELSE NULL END AS domain
           FROM d),
         r AS (SELECT domain, doc_id, prio,
             row_number() OVER (PARTITION BY domain
               ORDER BY prio, doc_id) AS rnk
           FROM h WHERE domain IS NOT NULL)
         SELECT domain, doc_id, prio, CAST(rnk AS BIGINT) AS rnk
         FROM r WHERE rnk <= 5""",
    // v{r+1} = vocab after r merges; one stats row per round
    "q299_bpe_compression_curve" -> (bpeCtes(8) + s""",
         curve AS (${(0 to 8).map(r =>
        s"""SELECT CAST($r AS BIGINT) AS round,
             CAST(sum(weight) AS BIGINT) AS n_words,
             CAST(sum(weight * len(s)) AS BIGINT) AS n_symbols
           FROM v${r + 1}""").mkString(" UNION ALL ")})
         SELECT round, n_words, n_symbols,
           CAST(n_symbols AS DOUBLE) / CAST(n_words AS DOUBLE)
             AS symbols_per_word
         FROM curve"""),
    // byte-level apply by construction knowledge: 0xC3/0xA9 are
    // PRINTABLE bytes (self-mapping under bytes_to_unicode) and the
    // fixture words are pure ASCII, so the remapped symbol stream of
    // 'é'+word is exactly [chr(195), chr(169)] ++ chars(word); the
    // same min-rank recursion replays the byte-level rule list (ranks
    // 0/1 the é merges, ranks 2+ the q302 ASCII rules)
    "q307_bytelevel_apply" ->
      s"""WITH RECURSIVE ${LlmQueries.tkCte},
         rk AS (SELECT map_from_entries(list(struct_pack(
               k := x || chr(10) || y, v := rank))) AS m
             FROM (
               SELECT 0 AS rank, chr(195) AS x, chr(169) AS y
               UNION ALL
               SELECT 1 AS rank, chr(195) || chr(169) AS x, 't' AS y
               UNION ALL
               SELECT i + 2 AS rank,
                   chr(97 + CAST(i // 26 AS INTEGER)) AS x,
                   chr(97 + CAST(i % 26 AS INTEGER)) AS y
                 FROM range(676) t(i)
               UNION ALL
               SELECT 678 + j AS rank,
                   chr(97 + CAST(j // 26 AS INTEGER))
                     || chr(97 + CAST(j % 26 AS INTEGER)) AS x,
                   chr(97 + CAST((j * 7 + 3) % 26 AS INTEGER)) AS y
                 FROM range(676) t(j))),
         sw AS (SELECT source, w0, CAST(count(*) AS BIGINT) AS nsw
           FROM (SELECT source, unnest(t) AS w0 FROM tk) GROUP BY 1, 2),
         wd AS (SELECT DISTINCT w0 AS w FROM sw),
         enc AS (
           SELECT w, [chr(195), chr(169)]
               || list_filter(string_split(w, ''), c -> c <> '') AS s
             FROM wd
           UNION ALL
           SELECT w, string_split(list_reduce(s, (acc, sy) -> CASE
               WHEN string_split(acc, ' ')[-1] = bx AND sy = by
               THEN substr(acc, 1, length(acc) - length(bx)) || bx || by
               ELSE acc || ' ' || sy END), ' ') AS s
           FROM (
             SELECT w, s, br,
               CASE WHEN br = 0 THEN chr(195)
                 WHEN br = 1 THEN chr(195) || chr(169)
                 WHEN br < 678
                   THEN chr(97 + CAST((br - 2) // 26 AS INTEGER))
                 ELSE chr(97 + CAST((br - 678) // 26 AS INTEGER))
                   || chr(97 + CAST((br - 678) % 26 AS INTEGER)) END AS bx,
               CASE WHEN br = 0 THEN chr(169)
                 WHEN br = 1 THEN 't'
                 WHEN br < 678
                   THEN chr(97 + CAST((br - 2) % 26 AS INTEGER))
                 ELSE chr(97 + CAST(((br - 678) * 7 + 3) % 26
                   AS INTEGER)) END AS by
             FROM (
               SELECT w, s, list_min(list_transform(
                   generate_series(1, len(s) - 1),
                   i -> m[s[i] || chr(10) || s[i+1]][1])) AS br
               FROM enc, rk WHERE len(s) >= 2
             ) WHERE br IS NOT NULL
           )
         ),
         fin AS (SELECT w, len(s) AS n_sym,
             CAST(concat('0x', substr(md5(concat('29', '|',
               array_to_string(s, ' '))), 1, 8)) AS BIGINT) AS h
           FROM enc, rk
           WHERE len(s) < 2 OR list_min(list_transform(
             generate_series(1, len(s) - 1),
             i -> m[s[i] || chr(10) || s[i+1]][1])) IS NULL),
         g AS (SELECT source,
             CAST(sum(nsw) AS BIGINT) AS n_words,
             CAST(sum(nsw * (length(w0) + 2)) AS BIGINT) AS n_bytes,
             CAST(sum(nsw * n_sym) AS BIGINT) AS n_symbols,
             CAST(sum(nsw * h) AS BIGINT) AS sym_hash_sum
           FROM sw JOIN fin ON fin.w = sw.w0 GROUP BY source)
         SELECT source, n_words, n_bytes, n_symbols,
           CAST(n_bytes AS DOUBLE) / CAST(n_symbols AS DOUBLE)
             AS bytes_per_symbol,
           sym_hash_sum
         FROM g""",
    // the SAME min-rank apply loop, as a recursive CTE (shared with
    // q303 via bpeApplyCtes): per-(source, word) instance counts
    // joined to the finished encodings
    "q302_bpe_apply_external" ->
      s"""$bpeApplyCtes,
         sw AS (SELECT source, w, CAST(count(*) AS BIGINT) AS nsw
           FROM (SELECT source, unnest(t) AS w FROM tk) GROUP BY 1, 2),
         fin AS (SELECT w, len(s) AS n_sym,
             CAST(concat('0x', substr(md5(concat('13', '|',
               array_to_string(s, ' '))), 1, 8)) AS BIGINT) AS h
           FROM fin0),
         g AS (SELECT source,
             CAST(sum(nsw) AS BIGINT) AS n_words,
             CAST(sum(nsw * length(w)) AS BIGINT) AS n_chars,
             CAST(sum(nsw * n_sym) AS BIGINT) AS n_symbols,
             CAST(sum(nsw * h) AS BIGINT) AS sym_hash_sum
           FROM sw JOIN fin USING (w) GROUP BY source)
         SELECT source, n_words, n_chars, n_symbols,
           CAST(n_chars AS DOUBLE) / CAST(n_symbols AS DOUBLE)
             AS chars_per_symbol,
           CAST(n_symbols AS DOUBLE) / CAST(n_words AS DOUBLE)
             AS symbols_per_word,
           sym_hash_sum
         FROM g""",
    // same apply, then encodeIdsWith's id contract recomputed: ids =
    // row_number over the sorted distinct OBSERVED symbols, each doc's
    // sequence reassembled by word position and hashed
    "q303_external_token_ids" ->
      s"""$bpeApplyCtes,
         vocab AS (SELECT sym, CAST(row_number() OVER (ORDER BY sym)
               AS BIGINT) AS id
             FROM (SELECT DISTINCT unnest(s) AS sym FROM fin0)),
         vm AS (SELECT map_from_entries(list(struct_pack(
             k := sym, v := id))) AS m2 FROM vocab),
         ew AS (SELECT w, list_transform(s, sy -> m2[sy][1]) AS wids
           FROM fin0, vm),
         dk AS (SELECT doc_id, i AS pos, t[i] AS w
           FROM tk, unnest(generate_series(1, len(t))) g(i)
           WHERE len(t) > 0),
         byDoc AS (SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_words,
             flatten(list(wids ORDER BY pos)) AS ids
           FROM dk JOIN ew USING (w) GROUP BY doc_id)
         SELECT doc_id, n_words,
           CAST(len(ids) AS BIGINT) AS n_symbols,
           CAST((len(ids) + 63) // 64 AS BIGINT) AS n_blocks,
           CAST(concat('0x', substr(md5(concat('7', '|',
             array_to_string(ids, ','))), 1, 8)) AS BIGINT) AS ids_hash
         FROM byDoc""",
    // q303's per-doc sequences concatenated per shard (window cumsum
    // offsets) and cut every 64 global positions — blocks genuinely
    // cross documents
    "q308_crossdoc_packing" ->
      s"""$bpeApplyCtes,
         vocab AS (SELECT sym, CAST(row_number() OVER (ORDER BY sym)
               AS BIGINT) AS id
             FROM (SELECT DISTINCT unnest(s) AS sym FROM fin0)),
         vm AS (SELECT map_from_entries(list(struct_pack(
             k := sym, v := id))) AS m2 FROM vocab),
         ew AS (SELECT w, list_transform(s, sy -> m2[sy][1]) AS wids
           FROM fin0, vm),
         dk AS (SELECT doc_id, i AS pos, t[i] AS w
           FROM tk, unnest(generate_series(1, len(t))) g(i)
           WHERE len(t) > 0),
         byDoc AS (SELECT doc_id,
             flatten(list(wids ORDER BY pos)) AS ids
           FROM dk JOIN ew USING (w) GROUP BY doc_id),
         sh AS (SELECT doc_id, doc_id % 4 AS shard, ids,
             CAST(len(ids) AS BIGINT) AS ns FROM byDoc),
         off AS (SELECT doc_id, shard, ids, ns,
             sum(ns) OVER (PARTITION BY shard ORDER BY doc_id) - ns
               AS off FROM sh),
         ex AS (SELECT shard, doc_id, off + i - 1 AS gpos, ids[i] AS id
           FROM off, unnest(generate_series(1, CAST(ns AS INTEGER)))
             g(i))
         SELECT CAST(shard AS BIGINT) AS shard,
           CAST(gpos // 64 AS BIGINT) AS block_id,
           CAST(count(*) AS BIGINT) AS n_ids,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS first_doc,
           CAST(concat('0x', substr(md5(concat('31', '|',
             array_to_string(list(id ORDER BY gpos), ','))), 1, 8))
             AS BIGINT) AS block_hash
         FROM ex GROUP BY 1, 2""",
    // q303's sequences cut into 64-id blocks: DuckDB's 1-based
    // inclusive list slice clamps at the tail exactly like idBlocks'
    // truncating slice
    "q304_training_blocks" ->
      s"""$bpeApplyCtes,
         vocab AS (SELECT sym, CAST(row_number() OVER (ORDER BY sym)
               AS BIGINT) AS id
             FROM (SELECT DISTINCT unnest(s) AS sym FROM fin0)),
         vm AS (SELECT map_from_entries(list(struct_pack(
             k := sym, v := id))) AS m2 FROM vocab),
         ew AS (SELECT w, list_transform(s, sy -> m2[sy][1]) AS wids
           FROM fin0, vm),
         dk AS (SELECT doc_id, i AS pos, t[i] AS w
           FROM tk, unnest(generate_series(1, len(t))) g(i)
           WHERE len(t) > 0),
         byDoc AS (SELECT doc_id,
             flatten(list(wids ORDER BY pos)) AS ids
           FROM dk JOIN ew USING (w) GROUP BY doc_id),
         blocks AS (SELECT doc_id, b AS block_idx,
             ids[(b * 64 + 1):(b * 64 + 64)] AS blk
           FROM byDoc, unnest(generate_series(0,
             (len(ids) + 63) // 64 - 1)) g(b))
         SELECT doc_id, CAST(block_idx AS BIGINT) AS block_idx,
           CAST(len(blk) AS BIGINT) AS n_ids,
           CAST(concat('0x', substr(md5(concat('19', '|',
             array_to_string(blk, ','))), 1, 8)) AS BIGINT) AS block_hash
         FROM blocks""",
    // the GPT-2 pre-tokenizer as a recursive one-token-per-step peel:
    // RE2 is leftmost-first like the published pattern but lacks the
    // (?!\S) lookahead, so the anchored extract takes the WHOLE
    // whitespace run and the CASE gives back its last char (run of
    // n >= 2 before a non-space -> first n-1 chars; the returned char
    // is then space-attached or matched alone by the next step —
    // exactly the lookahead's backtrack, proven equivalent in the
    // PreTokenizeSpec vectors which the Spark scanner also pins)
    "q309_gpt_pretokenize" ->
      s"""WITH RECURSIVE d AS (
           SELECT doc_id, source, $injectPretokSql AS txt
           FROM documents),
         seg AS (
           SELECT doc_id, 0 AS ord, txt AS rem,
               CAST(NULL AS VARCHAR) AS tok
             FROM d
           UNION ALL
           SELECT doc_id, ord + 1, substr(rem, length(tok) + 1), tok
           FROM (
             SELECT doc_id, ord, rem,
               CASE WHEN regexp_matches(t0, '^\\s+$$')
                     AND length(t0) < length(rem) AND length(t0) >= 2
                 THEN substr(t0, 1, length(t0) - 1) ELSE t0 END AS tok
             FROM (SELECT doc_id, ord, rem, regexp_extract(rem,
                 '^(''s|''t|''re|''ve|''m|''ll|''d| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+)') AS t0
               FROM seg WHERE rem <> ''))),
         tl AS (SELECT doc_id, list(tok ORDER BY ord) AS toks FROM seg
           WHERE tok IS NOT NULL GROUP BY doc_id),
         j AS (SELECT d.doc_id, d.source, d.txt,
             coalesce(tl.toks, []) AS toks
           FROM d LEFT JOIN tl USING (doc_id))
         SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(toks)) AS BIGINT) AS n_segments,
           CAST(sum(len(list_filter(toks, t -> substr(t, 1, 1) = ' ')))
             AS BIGINT) AS n_space_led,
           CAST(sum(CASE WHEN array_to_string(toks, '') = txt
             THEN 1 ELSE 0 END) AS BIGINT) AS n_reconstructed,
           CAST(sum(CAST(concat('0x', substr(md5(concat('37', '|',
             array_to_string(toks, chr(1)))), 1, 8)) AS BIGINT))
             AS BIGINT) AS seg_hash_sum
         FROM j GROUP BY source""",
    // the full document-faithful encode under the vocab.json id
    // formula: recursive pre-tokenize peel (q309's), byte symbols by
    // construction knowledge (corpus = ASCII + e-acute, whose bytes
    // C3/A9 are printable self-mapping; the ASCII non-printables ride
    // the arithmetic bytes_to_unicode table), min-rank byte-level
    // apply over the 1356-rule list (4 literal + 1352 closed-form),
    // ids = byte value for single-byte symbols, 256+rank for merges
    "q310_vocab_json_ids" ->
      s"""$byteLevelEncodeCtes
         SELECT doc_id, n_segments,
           CAST(len(ids) AS BIGINT) AS n_symbols,
           CAST((len(ids) + 63) // 64 AS BIGINT) AS n_blocks,
           CAST(concat('0x', substr(md5(concat('7', '|',
             array_to_string(ids, ','))), 1, 8)) AS BIGINT) AS ids_hash
         FROM byDoc""",
    // q310's per-doc production ids run through q308's packing tail:
    // the COMPLETE pipeline a pretraining loader consumes, pinned
    // block for block
    "q314_packed_production" ->
      s"""$byteLevelEncodeCtes,
         sh AS (SELECT doc_id, doc_id % 4 AS shard, ids,
             CAST(len(ids) AS BIGINT) AS ns FROM byDoc),
         off AS (SELECT doc_id, shard, ids, ns,
             sum(ns) OVER (PARTITION BY shard ORDER BY doc_id) - ns
               AS off FROM sh),
         ex AS (SELECT shard, doc_id, off + i - 1 AS gpos, ids[i] AS id
           FROM off, unnest(generate_series(1, CAST(ns AS INTEGER)))
             g(i))
         SELECT CAST(shard AS BIGINT) AS shard,
           CAST(gpos // 64 AS BIGINT) AS block_id,
           CAST(count(*) AS BIGINT) AS n_ids,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS first_doc,
           CAST(concat('0x', substr(md5(concat('31', '|',
             array_to_string(list(id ORDER BY gpos), ',')))
             , 1, 8)) AS BIGINT) AS block_hash
         FROM ex GROUP BY 1, 2""",
    // q314's tail with ids || [eos] and doc-start markers (i = 1);
    // boundary offsets ride a FILTERed list aggregate
    "q318_packed_loader" ->
      s"""$byteLevelEncodeCtes,
         sh AS (SELECT doc_id, doc_id % 4 AS shard,
             list_append(ids, CAST(${256 + 1352 + 4} AS BIGINT)) AS ids
           FROM byDoc),
         sh2 AS (SELECT doc_id, shard, ids,
             CAST(len(ids) AS BIGINT) AS ns FROM sh),
         off AS (SELECT doc_id, shard, ids, ns,
             sum(ns) OVER (PARTITION BY shard ORDER BY doc_id) - ns
               AS off FROM sh2),
         ex AS (SELECT shard, doc_id, off + i - 1 AS gpos, ids[i] AS id,
             i = 1 AS doc_start
           FROM off, unnest(generate_series(1, CAST(ns AS INTEGER)))
             g(i))
         SELECT CAST(shard AS BIGINT) AS shard,
           CAST(gpos // 64 AS BIGINT) AS block_id,
           CAST(count(*) AS BIGINT) AS n_ids,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS first_doc,
           CAST(concat('0x', substr(md5(concat('47', '|',
             array_to_string(list(id ORDER BY gpos), ',')))
             , 1, 8)) AS BIGINT) AS block_hash,
           coalesce(array_to_string(
             list(CAST(gpos % 64 AS BIGINT) ORDER BY gpos)
               FILTER (WHERE doc_start), ','), '') AS boundaries
         FROM ex GROUP BY 1, 2""",
    // the hard-EM unigram trainer unrolled (see unigramOracle)
    "q321_unigram_train" -> unigramOracle,
    // the EM unroll with every round's size prune replayed (kept1/
    // kept2 — see unigramCtesWith)
    "q329_unigram_prune" ->
      s"""${unigramCtesWith(Some(48))}
         SELECT v.piece, v.cnt AS n_cnt, w.wgt AS score
         FROM kept2 v JOIN wgt2 w USING (piece)""",
    // q321's EM unroll + one apply DP pass + per-source rollup
    "q322_unigram_apply" -> unigramApplyOracle,
    // q319's byDoc rolled up per source (special-id occupancy)
    "q325_special_token_economics" ->
      s"""$specialEncodeCtes,
         ds AS (SELECT doc_id, source FROM documents)
         SELECT ds.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN len(list_filter(b.ids,
               x -> x = $specialTokenId)) > 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS docs_with_special,
           CAST(sum(len(list_filter(b.ids, x -> x = $specialTokenId)))
             AS BIGINT) AS special_ids,
           CAST(sum(len(b.ids)) AS BIGINT) AS total_ids,
           CAST(sum(len(list_filter(b.ids, x -> x = $specialTokenId)))
             AS DOUBLE) / CAST(sum(len(b.ids)) AS DOUBLE)
             AS special_share
         FROM byDoc b JOIN ds ON ds.doc_id = b.doc_id
         GROUP BY ds.source""",
    // the >=1024-merge fast-trained encode: apply + economics replayed
    // with the trained rules as an external literal list (see
    // fastBpeOracle / TrainedStash)
    "q326_bpe_vocab_scale" -> fastBpeOracle,
    // overlapping-prefix specials peeled by the recursive
    // (position, longest-first) argmin scan (see chatSpecialEncodeCtes)
    "q327_chat_specials" -> {
      val counts = chatSpecials.zip(
        Seq("n_im_start", "n_im_start_user", "n_im_end")).map {
        case (t, alias) =>
          s"""CAST(len(list_filter(ids, x -> x = ${chatSpecialIds(t)}))
             AS BIGINT) AS $alias"""
      }.mkString(",\n           ")
      s"""$chatSpecialEncodeCtes
         SELECT doc_id, n_units,
           CAST(len(ids) AS BIGINT) AS n_symbols,
           $counts,
           CAST(concat('0x', substr(md5(concat('19', '|',
             array_to_string(ids, ','))), 1, 8)) AS BIGINT) AS ids_hash
         FROM byDoc"""
    },
    // q324's greedy unroll + rollup under the >=1024-piece trained
    // vocabulary as an external literal table (see fastWordPieceOracle)
    "q328_wordpiece_vocab_scale" -> fastWordPieceOracle,
    // per-depth min-rank apply chains under the rank-filtered trained
    // rules (see vocabDepthOracle)
    "q330_vocab_depth_curve" -> vocabDepthOracle,
    // encode re-count + top-64 occupancy cut (see tokenCoverageOracle)
    "q331_token_coverage" -> tokenCoverageOracle,
    // q327's byDoc rolled up per source (marker-id occupancy; the
    // leftmost-longest discipline keeps the prefix counts honest)
    "q334_chat_marker_economics" -> {
      val i0 = chatSpecialIds("<|im_start|>")
      val i1 = chatSpecialIds("<|im_start|>user")
      val i2 = chatSpecialIds("<|im_end|>")
      s"""$chatSpecialEncodeCtes,
         ds AS (SELECT doc_id, source FROM documents)
         SELECT ds.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN len(list_filter(b.ids,
               x -> x IN ($i0, $i1, $i2))) > 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS docs_with_marker,
           CAST(sum(len(list_filter(b.ids, x -> x = $i0)))
             AS BIGINT) AS im_start_ids,
           CAST(sum(len(list_filter(b.ids, x -> x = $i1)))
             AS BIGINT) AS im_start_user_ids,
           CAST(sum(len(list_filter(b.ids, x -> x = $i2)))
             AS BIGINT) AS im_end_ids,
           CAST(sum(len(b.ids)) AS BIGINT) AS total_ids,
           CAST(sum(len(list_filter(b.ids,
               x -> x IN ($i0, $i1, $i2)))) AS DOUBLE)
             / CAST(sum(len(b.ids)) AS DOUBLE) AS marker_share
         FROM byDoc b JOIN ds ON ds.doc_id = b.doc_id
         GROUP BY ds.source"""
    },
    // trained greedy split + vocab.txt-order ids + per-doc reassembly
    "q332_wordpiece_ids" -> wordpieceIdsOracle,
    // apply DP pass + spm-order ids + per-doc reassembly
    "q333_unigram_ids" -> unigramIdsOracle,
    // WordPiece-score training rounds (see wordpieceCtes)
    "q323_wordpiece_train" -> wordpieceTrainOracle,
    // trained piece vocabulary + unrolled greedy longest-match scan
    "q324_wordpiece_apply" -> wordpieceApplyOracle,
    // the special-split encode: chunks peeled independently,
    // separators interleaved, special -> its own id, lookalike BPE'd
    "q319_special_tokens" ->
      s"""$specialEncodeCtes
         SELECT doc_id, n_units,
           CAST(len(ids) AS BIGINT) AS n_symbols,
           CAST(len(list_filter(ids, x -> x = $specialTokenId))
             AS BIGINT) AS n_specials,
           CAST(concat('0x', substr(md5(concat('11', '|',
             array_to_string(ids, ','))), 1, 8)) AS BIGINT) AS ids_hash
         FROM byDoc""",
    // per-source rollup of the q310 per-doc encode; byte counts via
    // strlen (DuckDB octet length) on the SAME injected text
    "q315_tokenizer_economics" ->
      s"""$byteLevelEncodeCtes,
         g AS (SELECT d.source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(strlen(d.txt)) AS BIGINT) AS n_bytes,
             CAST(sum(b.n_segments) AS BIGINT) AS n_segments,
             CAST(sum(len(b.ids)) AS BIGINT) AS n_tokens
           FROM d JOIN byDoc b ON b.doc_id = d.doc_id
           GROUP BY d.source)
         SELECT source, n_docs, n_bytes, n_segments, n_tokens,
           CAST(n_bytes AS DOUBLE) / CAST(n_tokens AS DOUBLE)
             AS bytes_per_token,
           CAST(n_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE)
             AS tokens_per_doc
         FROM g""",
    // the q309 segment peel + bytes_to_unicode census feeding q272's
    // round chain (MATERIALIZED per round: DuckDB re-inlines multiply
    // referenced CTEs -- 0.5 s vs 45 s at sf0.01); first learned rule
    // on the fixture is the space-prefixed (chr(288), 's')
    "q316_bpe_train_segments" ->
      s"""$segTrainCtes
         SELECT CAST(1 AS BIGINT) AS merge_round, x, y, n AS pair_n, (SELECT mass FROM m1) AS mass_after FROM b1\n         UNION ALL\n         SELECT CAST(2 AS BIGINT) AS merge_round, x, y, n AS pair_n, (SELECT mass FROM m2) AS mass_after FROM b2\n         UNION ALL\n         SELECT CAST(3 AS BIGINT) AS merge_round, x, y, n AS pair_n, (SELECT mass FROM m3) AS mass_after FROM b3\n         UNION ALL\n         SELECT CAST(4 AS BIGINT) AS merge_round, x, y, n AS pair_n, (SELECT mass FROM m4) AS mass_after FROM b4\n         UNION ALL\n         SELECT CAST(5 AS BIGINT) AS merge_round, x, y, n AS pair_n, (SELECT mass FROM m5) AS mass_after FROM b5\n         UNION ALL\n         SELECT CAST(6 AS BIGINT) AS merge_round, x, y, n AS pair_n, (SELECT mass FROM m6) AS mass_after FROM b6\n         UNION ALL\n         SELECT CAST(7 AS BIGINT) AS merge_round, x, y, n AS pair_n, (SELECT mass FROM m7) AS mass_after FROM b7\n         UNION ALL\n         SELECT CAST(8 AS BIGINT) AS merge_round, x, y, n AS pair_n, (SELECT mass FROM m8) AS mass_after FROM b8""",
    // q316's learned rules fed straight back through the min-rank
    // apply over the SAME distinct segments (train -> apply, one
    // statement): rank map from b1..b8, q310-style recursive apply
    "q317_trained_tokenizer_apply" ->
      s"""$segTrainCtes,
         rl AS MATERIALIZED (SELECT 0 AS rank, x, y FROM b1\n            UNION ALL\n            SELECT 1 AS rank, x, y FROM b2\n            UNION ALL\n            SELECT 2 AS rank, x, y FROM b3\n            UNION ALL\n            SELECT 3 AS rank, x, y FROM b4\n            UNION ALL\n            SELECT 4 AS rank, x, y FROM b5\n            UNION ALL\n            SELECT 5 AS rank, x, y FROM b6\n            UNION ALL\n            SELECT 6 AS rank, x, y FROM b7\n            UNION ALL\n            SELECT 7 AS rank, x, y FROM b8),
         rk AS (SELECT map_from_entries(list(struct_pack(
             k := x || chr(10) || y, v := rank))) AS m FROM rl),
         rx AS (SELECT map_from_entries(list(struct_pack(k := rank,
             v := struct_pack(x := x, y := y)))) AS m FROM rl),
         enc AS (
           SELECT w, s FROM v1
           UNION ALL
           SELECT w, string_split(list_reduce(s, (acc, sy) -> CASE
               WHEN string_split(acc, ' ')[-1] = bx AND sy = by
               THEN substr(acc, 1, length(acc) - length(bx)) || bx || by
               ELSE acc || ' ' || sy END), ' ') AS s
           FROM (
             SELECT w, s, rx.m[br][1].x AS bx, rx.m[br][1].y AS by
             FROM (
               SELECT w, s, list_min(list_transform(
                   generate_series(1, len(s) - 1),
                   i -> rk.m[s[i] || chr(10) || s[i+1]][1])) AS br
               FROM enc, rk WHERE len(s) >= 2), rx
             WHERE br IS NOT NULL)),
         fin AS (SELECT w AS fw, len(s) AS n_sym,
             CAST(concat('0x', substr(md5(concat('43', '|',
               array_to_string(s, ' '))), 1, 8)) AS BIGINT) AS h
           FROM enc, rk
           WHERE len(s) < 2 OR list_min(list_transform(
             generate_series(1, len(s) - 1),
             i -> rk.m[s[i] || chr(10) || s[i+1]][1])) IS NULL),
         sw AS (SELECT d.source, sg.tok AS w,
             CAST(count(*) AS BIGINT) AS nsw
           FROM sg JOIN d USING (doc_id) GROUP BY 1, 2)
         SELECT source, CAST(sum(nsw) AS BIGINT) AS n_segments,
           CAST(sum(nsw * strlen(w)) AS BIGINT) AS n_bytes,
           CAST(sum(nsw * n_sym) AS BIGINT) AS n_symbols,
           CAST(sum(nsw * strlen(w)) AS DOUBLE)
             / CAST(sum(nsw * n_sym) AS DOUBLE) AS bytes_per_symbol,
           CAST(sum(nsw * h) AS BIGINT) AS sym_hash_sum
         FROM sw JOIN fin ON fin.fw = sw.w GROUP BY source""",
    // round trip is IDENTITY on the oracle side: the same injected
    // text, hashed directly -- Spark earns the same sum only if
    // decode(concat(encode(txt))) is byte-identical corpus-wide
    "q311_detok_roundtrip" ->
      s"""WITH d AS (SELECT source, $injectPretokSql AS txt
           FROM documents)
         SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_roundtrip,
           CAST(sum(CAST(concat('0x', substr(md5(concat('41', '|',
             txt)), 1, 8)) AS BIGINT)) AS BIGINT) AS rt_hash_sum
         FROM d GROUP BY source""",
    // both LMs from one census; floored scoring LEFT-joins the df>=2
    // table and coalesces onto the per-lang unseen microbits
    "q298_vocab_floor_audit" ->
      s"""WITH ${LlmQueries.tkCte},
         ex AS (SELECT doc_id, lang, unnest(t) AS tok FROM tk),
         lm AS (SELECT lang, tok, CAST(count(*) AS BIGINT) AS c
             FROM ex GROUP BY 1, 2),
         tf AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n_full,
               CAST(count(*) AS BIGINT) AS v_full
             FROM lm GROUP BY lang),
         bf AS (SELECT lm.lang, lm.tok,
               CAST(round(-log2(CAST(lm.c + 1 AS DOUBLE)
                 / CAST(tf.n_full + tf.v_full AS DOUBLE)) * 1e6)
                 AS BIGINT) AS mb_full
             FROM lm JOIN tf USING (lang)),
         kl AS (SELECT lang, tok, c FROM lm WHERE c >= 2),
         tl AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n_fl,
               CAST(count(*) AS BIGINT) AS v_fl
             FROM kl GROUP BY lang),
         bl AS (SELECT kl.lang, kl.tok,
               CAST(round(-log2(CAST(kl.c + 1 AS DOUBLE)
                 / CAST(tl.n_fl + tl.v_fl AS DOUBLE)) * 1e6)
                 AS BIGINT) AS mb_fl
             FROM kl JOIN tl USING (lang)),
         un AS (SELECT tf.lang,
               CAST(coalesce(
                 round(-log2(CAST(1 AS DOUBLE)
                   / CAST(n_fl + v_fl AS DOUBLE)) * 1e6),
                 round(-log2(CAST(1 AS DOUBLE)
                   / CAST(tf.v_full AS DOUBLE)) * 1e6))
                 AS BIGINT) AS mb_unseen,
               CAST(coalesce(v_fl, 0) AS BIGINT) AS v_fl
             FROM tf LEFT JOIN tl ON tl.lang = tf.lang),
         sc AS (SELECT ex.doc_id, ex.lang,
               CAST(count(*) AS BIGINT) AS n_tok,
               CAST(sum(bf.mb_full) AS BIGINT) AS tm_full,
               CAST(sum(coalesce(bl.mb_fl, un.mb_unseen)) AS BIGINT)
                 AS tm_fl
             FROM ex
             JOIN bf ON bf.lang = ex.lang AND bf.tok = ex.tok
             LEFT JOIN bl ON bl.lang = ex.lang AND bl.tok = ex.tok
             JOIN un ON un.lang = ex.lang
             GROUP BY 1, 2),
         g AS (SELECT lang, n_tok, tm_full, tm_fl,
               (tm_full * 10) // (n_tok * 1000000) AS db_full,
               (tm_fl * 10) // (n_tok * 1000000) AS db_fl
             FROM sc),
         r AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tok) AS BIGINT) AS tokens,
               CAST(sum(tm_full) AS BIGINT) AS sum_mb_full,
               CAST(sum(tm_fl) AS BIGINT) AS sum_mb_floored,
               CAST(sum(CASE WHEN db_full <> db_fl THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_bucket_moved
             FROM g GROUP BY lang)
         SELECT r.lang, n_docs, tokens,
           tf.v_full AS vocab_full, un.v_fl AS vocab_floored,
           sum_mb_full, sum_mb_floored,
           CAST(sum_mb_floored - sum_mb_full AS DOUBLE)
             / CAST(tokens AS DOUBLE) / 1e6 AS mean_delta_bits,
           n_bucket_moved
         FROM r JOIN tf ON tf.lang = r.lang
                JOIN un ON un.lang = r.lang""",
    // q82's LM chain + integer budget cut on the deci-bit histogram
    "q297_budget_calibration" ->
      s"""WITH ${LlmQueries.tkCte},
         ex AS (SELECT doc_id, lang, unnest(t) AS tok FROM tk),
         lm AS (SELECT lang, tok, CAST(count(*) AS BIGINT) AS c
             FROM ex GROUP BY 1, 2),
         tot0 AS (SELECT lang, CAST(sum(c) AS BIGINT) AS nlt,
               CAST(count(*) AS BIGINT) AS vl
             FROM lm GROUP BY lang),
         bits AS (SELECT lm.lang, lm.tok,
               CAST(round(-log2(CAST(lm.c + 1 AS DOUBLE)
                 / CAST(tot0.nlt + tot0.vl AS DOUBLE)) * 1e6)
                 AS BIGINT) AS microbits
             FROM lm JOIN tot0 USING (lang)),
         sc AS (SELECT ex.doc_id, ex.lang,
               CAST(count(*) AS BIGINT) AS n_tok,
               CAST(sum(b.microbits) AS BIGINT) AS tm
             FROM ex JOIN bits b ON b.lang = ex.lang AND b.tok = ex.tok
             GROUP BY 1, 2),
         g AS (SELECT lang, n_tok,
               (tm * 10) // (n_tok * 1000000) AS decibits
             FROM sc),
         hist AS (SELECT lang, decibits,
               CAST(sum(n_tok) AS BIGINT) AS btok,
               CAST(count(*) AS BIGINT) AS bdocs
             FROM g GROUP BY 1, 2),
         tot AS (SELECT lang, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
               CAST(count(*) AS BIGINT) AS n_docs
             FROM g GROUP BY 1),
         cm AS (SELECT lang, decibits,
               CAST(sum(btok) OVER (PARTITION BY lang
                 ORDER BY decibits) AS BIGINT) AS ctok,
               CAST(sum(bdocs) OVER (PARTITION BY lang
                 ORDER BY decibits) AS BIGINT) AS cdocs
             FROM hist),
         cut AS (SELECT cm.lang, max(cm.decibits) AS cut,
               CAST(max(ctok) AS BIGINT) AS kept_tokens,
               CAST(max(cdocs) AS BIGINT) AS kept_docs
             FROM cm JOIN tot ON tot.lang = cm.lang
             WHERE ctok * 10 <= n_tokens * 6 GROUP BY 1)
         SELECT tot.lang, n_docs, n_tokens,
           (n_tokens * 6) // 10 AS budget_tokens,
           coalesce(cut, -1) AS cut_decibits,
           coalesce(kept_docs, 0) AS kept_docs,
           coalesce(kept_tokens, 0) AS kept_tokens,
           CAST(coalesce(kept_tokens, 0) AS DOUBLE)
             / CAST(n_tokens AS DOUBLE) AS kept_share
         FROM tot LEFT JOIN cut ON cut.lang = tot.lang""",
    "q296_badword_filter" ->
      s"""WITH ${LlmQueries.tkCte},
         h AS (SELECT source,
             CAST(len(list_filter(t, x ->
               x IN ('dup', 'slow', 'stale'))) AS BIGINT) AS hits,
             CAST(len(t) AS BIGINT) AS n_tok
           FROM tk)
         SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_blocked,
           CAST(sum(hits) AS BIGINT) AS n_hits,
           CAST(sum(n_tok) AS BIGINT) AS tokens_total,
           CAST(sum(CASE WHEN hits > 0 THEN n_tok ELSE 0 END) AS BIGINT)
             AS tokens_lost,
           CAST(sum(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(count(*) AS DOUBLE) AS blocked_rate
         FROM h GROUP BY source""",
    // same md5-slice weights, same w*32+s combined-argmax tie rule
    "q295_shard_stability" ->
      s"""WITH a AS (SELECT source,
           list_max(list_transform(range(8), s ->
             CAST(concat('0x', substr(md5(concat(CAST(s AS VARCHAR), '|',
               CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) * 32 + s))
             % 32 AS s8,
           list_max(list_transform(range(12), s ->
             CAST(concat('0x', substr(md5(concat(CAST(s AS VARCHAR), '|',
               CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) * 32 + s))
             % 32 AS s12
           FROM documents)
         SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN s8 <> s12 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_moved,
           CAST(sum(CASE WHEN s12 >= 8 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_to_new,
           CAST(sum(CASE WHEN s8 <> s12 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(count(*) AS DOUBLE) AS moved_rate
         FROM a GROUP BY source""",
    // q82's microbit LM chain, then integer tercile cuts on the
    // deci-bit histogram (cum·3 ≥ n / floor-div — no float boundary)
    "q293_perplexity_buckets" ->
      s"""WITH ${LlmQueries.tkCte},
         ex AS (SELECT doc_id, lang, unnest(t) AS tok FROM tk),
         lm AS (SELECT lang, tok, CAST(count(*) AS BIGINT) AS c
             FROM ex GROUP BY 1, 2),
         tot AS (SELECT lang, CAST(sum(c) AS BIGINT) AS nlt,
               CAST(count(*) AS BIGINT) AS vl
             FROM lm GROUP BY lang),
         bits AS (SELECT lm.lang, lm.tok,
               CAST(round(-log2(CAST(lm.c + 1 AS DOUBLE)
                 / CAST(tot.nlt + tot.vl AS DOUBLE)) * 1e6)
                 AS BIGINT) AS microbits
             FROM lm JOIN tot USING (lang)),
         sc AS (SELECT ex.doc_id, ex.lang,
               CAST(count(*) AS BIGINT) AS n_tok,
               CAST(sum(b.microbits) AS BIGINT) AS tm
             FROM ex JOIN bits b ON b.lang = ex.lang AND b.tok = ex.tok
             GROUP BY 1, 2),
         g AS (SELECT lang, n_tok, tm,
               (tm * 10) // (n_tok * 1000000) AS decibits
             FROM sc),
         hist AS (SELECT lang, decibits, CAST(count(*) AS BIGINT) AS h
             FROM g GROUP BY 1, 2),
         nl AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_lang
             FROM g GROUP BY 1),
         cm AS (SELECT lang, decibits, CAST(sum(h) OVER (
               PARTITION BY lang ORDER BY decibits) AS BIGINT) AS ch
             FROM hist),
         th AS (SELECT cm.lang,
               min(CASE WHEN ch * 3 >= n_lang THEN decibits END) AS t1,
               min(CASE WHEN ch * 3 >= n_lang * 2 THEN decibits END) AS t2
             FROM cm JOIN nl ON nl.lang = cm.lang GROUP BY 1)
         SELECT g.lang,
           CASE WHEN decibits <= t1 THEN 'head'
                WHEN decibits <= t2 THEN 'middle'
                ELSE 'tail' END AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS tokens,
           CAST(sum(tm) AS BIGINT) AS sum_microbits,
           round(CAST(sum(tm) AS DOUBLE) / CAST(sum(n_tok) AS DOUBLE)
             / 1e6, 6) AS mean_bits
         FROM g JOIN th ON th.lang = g.lang GROUP BY 1, 2""",
    // honest recompute: same regex chain, same entity order (named
    // except amp -> numeric refs via split-on-'&#' -> amp LAST)
    "q292_html_strip" ->
      s"""WITH h AS (SELECT source,
           '<html><head><style>p{color:red}</style>'
             || '<script type="text/javascript">var x = 1 < 2;</script>'
             || '</head><body><!-- nav' || chr(10) || 'menu --><p>'
             || replace(text, ' ', '</p>' || chr(10) || '<p>')
             || '</p><div>&amp;copy; 2024 &lt;corp&gt;&nbsp;'
             || '&quot;quoted&quot; it&#8217;s &#x2014; &#174; '
             || '&amp;#8217; &#999999999; &#xD800; &#x110000; &#0; '
             || '&#12abc;</div></body></html>' AS html,
           trim(regexp_replace(text, '\\s+', ' ', 'g'))
             || ' &copy; 2024 <corp> "quoted" it' || chr(8217)
             || 's ' || chr(8212) || ' ' || chr(174) || ' &#8217; '
             || '&#999999999; &#xD800; &#x110000; &#0; &#12abc;' AS ex
           FROM documents),
         s1 AS (SELECT source, ex,
             replace(replace(replace(replace(replace(replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(html,
                     '(?s)<(script|style)[^>]*>.*?</(script|style)>',
                     ' ', 'g'),
                   '(?s)<!--.*?-->', ' ', 'g'),
                 '<[^>]+>', ' ', 'g'),
               '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
               '&#39;', chr(39)), '&apos;', chr(39)), '&nbsp;', ' ')
             AS t0
           FROM h),
         s2 AS (SELECT source, ex,
             CASE WHEN strpos(t0, '&#') = 0 THEN t0
               ELSE string_split(t0, '&#')[1] || list_aggr(
                 list_transform(string_split(t0, '&#')[2:], seg ->
                   CASE WHEN regexp_matches(seg, '^[0-9]{1,7};')
                       AND TRY_CAST(regexp_extract(seg,
                         '^([0-9]{1,7});', 1) AS BIGINT)
                         BETWEEN 1 AND 1114111
                       AND TRY_CAST(regexp_extract(seg,
                         '^([0-9]{1,7});', 1) AS BIGINT)
                         NOT BETWEEN 55296 AND 57343
                     THEN chr(CAST(regexp_extract(seg,
                         '^([0-9]{1,7});', 1) AS INTEGER))
                       || regexp_replace(seg, '^[0-9]{1,7};', '')
                   WHEN regexp_matches(seg, '^[xX][0-9a-fA-F]{1,6};')
                       AND TRY_CAST(concat('0x', regexp_extract(seg,
                         '^[xX]([0-9a-fA-F]{1,6});', 1)) AS BIGINT)
                         BETWEEN 1 AND 1114111
                       AND TRY_CAST(concat('0x', regexp_extract(seg,
                         '^[xX]([0-9a-fA-F]{1,6});', 1)) AS BIGINT)
                         NOT BETWEEN 55296 AND 57343
                     THEN chr(CAST(TRY_CAST(concat('0x',
                         regexp_extract(seg, '^[xX]([0-9a-fA-F]{1,6});',
                           1)) AS BIGINT) AS INTEGER))
                       || regexp_replace(seg,
                         '^[xX][0-9a-fA-F]{1,6};', '')
                   ELSE '&#' || seg END),
                 'string_agg', '') END AS t1
           FROM s1),
         s3 AS (SELECT source, ex, trim(regexp_replace(
             replace(t1, '&amp;', '&'), '\\s+', ' ', 'g')) AS st
           FROM s2)
         SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN st = ex THEN 1 ELSE 0 END) AS BIGINT)
             AS n_exact,
           CAST(sum(CAST(concat('0x', substr(md5(concat('7', '|', st)),
             1, 8)) AS BIGINT)) AS BIGINT) AS strip_hash_sum
         FROM s3 GROUP BY source""",
    "q291_length_batching" ->
      s"""WITH d AS (SELECT lang, doc_id % 4 AS shard, doc_id,
           len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
             x -> x <> '')) AS tok FROM documents),
         b AS (SELECT lang, shard, tok,
             (row_number() OVER (PARTITION BY lang, shard
               ORDER BY tok, doc_id) - 1) // 16 AS bs,
             (row_number() OVER (PARTITION BY lang, shard
               ORDER BY doc_id) - 1) // 16 AS bu
           FROM d),
         ws AS (SELECT lang, shard,
             CAST(sum(w) AS BIGINT) AS waste_sorted,
             CAST(count(*) AS BIGINT) AS n_batches
           FROM (SELECT lang, shard, bs,
               max(tok) * count(*) - sum(tok) AS w
             FROM b GROUP BY 1, 2, 3) GROUP BY 1, 2),
         wu AS (SELECT lang, shard,
             CAST(sum(w) AS BIGINT) AS waste_ingest
           FROM (SELECT lang, shard, bu,
               max(tok) * count(*) - sum(tok) AS w
             FROM b GROUP BY 1, 2, 3) GROUP BY 1, 2)
         SELECT lang, shard, n_batches, waste_sorted, waste_ingest,
           CASE WHEN waste_ingest > 0 THEN
             1.0 - CAST(waste_sorted AS DOUBLE)
               / CAST(waste_ingest AS DOUBLE)
             ELSE CAST(0.0 AS DOUBLE) END AS waste_reduction
         FROM ws JOIN wu USING (lang, shard)""",
    "q290_domain_curation" ->
      s"""WITH ${LlmQueries.tkCte}, ${CorpusQueries.chunkCte(20, 7)},
         q AS (SELECT doc_id,
             CAST(floor((least(length(text) / 500.0, 1.0) * 0.4
               + least((CASE WHEN len(t) = 0 THEN 0.0
                   ELSE CAST(len(list_filter(t, x ->
                     list_contains(${LlmQueries.stopListSql}, x)))
                     AS DOUBLE) / len(t) END) * 5.0, 1.0) * 0.3
               + (CASE WHEN (CASE WHEN len(t) = 0 THEN 0.0
                   ELSE CAST(list_sum(list_transform(t, x -> length(x)))
                     AS DOUBLE) / len(t) END) BETWEEN 3.0 AND 10.0
                   THEN 1.0 ELSE 0.5 END) * 0.3) * 1e9) AS BIGINT) AS qg,
             doc_id % 50 AS sd, doc_id % 10 AS m
           FROM tk),
         dom AS (SELECT doc_id, qg,
             coalesce(CASE m
               WHEN 0 THEN 'site' || sd || '.com'
               WHEN 1 THEN 'site' || sd || '.co.uk'
               WHEN 2 THEN 'site' || sd || '.ac.uk'
               WHEN 3 THEN 'site' || sd || '.org'
               WHEN 4 THEN 'site' || sd || '.xyzunknown'
               WHEN 5 THEN NULL
               WHEN 6 THEN 'x.site' || sd || '.ck'
               WHEN 7 THEN 'www.ck'
               WHEN 8 THEN 'site' || sd || '.com.au'
               ELSE NULL END, '(none)') AS domain
           FROM q),
         k AS (SELECT chash, min(doc_id*1000000+chunk_idx) AS keeper
           FROM ch GROUP BY 1),
         cs AS (SELECT doc_id, CAST(sum(ctoks) AS BIGINT) AS ct,
             CAST(sum(CASE WHEN doc_id*1000000+chunk_idx = keeper
               THEN ctoks ELSE 0 END) AS BIGINT) AS kt
           FROM ch JOIN k USING (chash) GROUP BY 1)
         SELECT domain, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(qg) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1e9
             AS mean_quality,
           CAST(sum(coalesce(ct, 0)) AS BIGINT) AS n_tokens,
           CAST(sum(coalesce(kt, 0)) AS BIGINT) AS kept_tokens,
           CASE WHEN sum(coalesce(ct, 0)) > 0 THEN
             CAST(sum(coalesce(kt, 0)) AS DOUBLE)
               / CAST(sum(coalesce(ct, 0)) AS DOUBLE)
             ELSE CAST(0.0 AS DOUBLE) END AS kept_share
         FROM dom LEFT JOIN cs USING (doc_id) GROUP BY domain""",
    "q288_phrase_search" ->
      s"""WITH ${LlmQueries.tkCte},
         bgc AS (SELECT lang, t[i] || ' ' || t[i+1] AS bg,
             CAST(count(*) AS BIGINT) AS n
           FROM tk, unnest(generate_series(1, len(t) - 1)) AS g(i)
           WHERE len(t) >= 2 GROUP BY 1, 2),
         top AS (SELECT lang, bg FROM (SELECT lang, bg,
             row_number() OVER (PARTITION BY lang
               ORDER BY n DESC, bg) AS r FROM bgc)
           WHERE r = 1),
         occ AS (SELECT tk.doc_id, tk.lang, top.bg AS phrase, g.i AS pos
           FROM tk JOIN top USING (lang),
             unnest(generate_series(1, len(t) - 1)) AS g(i)
           WHERE len(t) >= 2 AND t[g.i] = split_part(top.bg, ' ', 1)
             AND t[g.i + 1] = split_part(top.bg, ' ', 2))
         SELECT doc_id, lang, phrase, CAST(count(*) AS BIGINT) AS n_occ,
           CAST(min(pos) AS BIGINT) AS first_pos
         FROM occ GROUP BY 1, 2, 3""",
    "q284_token_ids" -> (bpeCtes(8) + s""",
      vocab AS (SELECT sym, row_number() OVER (ORDER BY sym) AS vid
        FROM (SELECT DISTINCT unnest(s) AS sym FROM v9)),
      wp AS (SELECT doc_id, g.i AS wpos, t[g.i] AS w
        FROM tk, unnest(generate_series(1, len(t))) AS g(i)),
      sy AS (SELECT wp.doc_id, wp.wpos, g2.j AS spos, s[g2.j] AS sym
        FROM wp JOIN v9 USING (w),
          unnest(generate_series(1, len(s))) AS g2(j)),
      agg AS (SELECT sy.doc_id,
          string_agg(CAST(vid AS VARCHAR), ',' ORDER BY wpos, spos)
            AS csv,
          CAST(count(*) AS BIGINT) AS n_symbols,
          CAST(count(DISTINCT wpos) AS BIGINT) AS n_words
        FROM sy JOIN vocab USING (sym) GROUP BY sy.doc_id)
      SELECT doc_id, n_words, n_symbols,
        CAST((n_symbols + 63) // 64 AS BIGINT) AS n_blocks,
        CAST(concat('0x', substr(md5(concat('7', '|', csv)), 1, 8))
          AS BIGINT) AS ids_hash
      FROM agg""")
  )
}
