package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.llm.Similarity

class SimilaritySpec extends AnyFunSuite {
  import TestSession._

  test("cosine: self=1, orthogonal=0, opposite=-1") {
    import spark.implicits._
    val df = Seq((Seq(1.0, 0.0), Seq(1.0, 0.0), 1.0),
                 (Seq(1.0, 0.0), Seq(0.0, 1.0), 0.0),
                 (Seq(1.0, 0.0), Seq(-1.0, 0.0), -1.0))
      .toDF("a", "b", "expected")
    df.collect() // force schema
    val got = df.select(Similarity.cosine(col("a"), col("b")).as("c"), col("expected")).collect()
    got.foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12))
  }

  test("native cosine equals the Column-composed form on real embeddings") {
    val emb = graft.core.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val pairs = emb.as("a").crossJoin(emb.as("b"))
      .where(col("a.vec_id") < col("b.vec_id")).limit(200)
    val rows = pairs.select(
      Similarity.cosine(col("a.v"), col("b.v")).as("native"),
      Similarity.cosineHof(col("a.v"), col("b.v")).as("hof")).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getDouble(0) === r.getDouble(1)))
  }

  test("knn returns k neighbors per query, ranked, excluding self") {
    val emb = graft.core.Tables.embeddings(spark, sfDir)
    val knn = Similarity.knnBruteForce(emb, emb.where(col("vec_id") < 3),
      "vec_id", "embedding", k = 4).collect()
    val byQuery = knn.groupBy(_.getAs[Long]("query_id"))
    assert(byQuery.keySet === Set(0L, 1L, 2L))
    byQuery.values.foreach { rows =>
      assert(rows.map(_.getAs[Long]("rnk")).sorted.toSeq === Seq(1L, 2L, 3L, 4L))
      val scores = rows.sortBy(_.getAs[Long]("rnk")).map(_.getAs[Double]("score"))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b }, "descending")
    }
    knn.foreach(r => assert(r.getAs[Long]("query_id") !== r.getAs[Long]("neighbor_id")))
  }

  test("hyperplane buckets are deterministic and bounded by 2^planes") {
    val emb = graft.core.Tables.embeddings(spark, sfDir)
    val b1 = emb.select(col("vec_id"),
      Similarity.hyperplaneBucket(col("embedding").cast("array<double>"), 8, 64).as("b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val b2 = emb.select(col("vec_id"),
      Similarity.hyperplaneBucket(col("embedding").cast("array<double>"), 8, 64).as("b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(b1 === b2)
    assert(b1.values.forall(b => b >= 0 && b < 256))
    assert(b1.values.toSet.size > 10, "vectors spread across buckets")
  }

  test("cosine doGenCode compiles under CODEGEN_ONLY (no silent fallback)") {
    val prev = spark.conf.getOption("spark.sql.codegen.factoryMode")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      // non-foldable children so constant folding can't bypass codegen
      val r = spark.range(3).filter(col("id") === 2)
        .select(Similarity.cosine(
          array(col("id").cast("double"), lit(1.0)),
          array(lit(1.0), col("id").cast("double"))).as("c"))
        .head().getDouble(0)
      assert(math.abs(r - 0.8) < 1e-12) // (2,1)·(1,2)/5 = 0.8
      // band buckets as well: generated loop must equal interpreted eval
      val emb = graft.core.Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .limit(50)
      val pair = emb.select(
        Similarity.hyperplaneBandBuckets(col("v"), 4, 4, 64).as("native"),
        Similarity.hyperplaneBandBucketsHof(col("v"), 4, 4, 64).as("hof")).collect()
      pair.foreach(r2 => assert(r2.getSeq[Long](0) === r2.getSeq[Long](1)))
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.codegen.factoryMode", p)
        case None => spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    }
  }

  test("native band buckets equal the Column-composed form on real embeddings") {
    val emb = graft.core.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val rows = emb.select(
      Similarity.hyperplaneBandBuckets(col("v"), 4, 4, 64).as("native"),
      Similarity.hyperplaneBandBucketsHof(col("v"), 4, 4, 64).as("hof")).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getSeq[Long](0) === r.getSeq[Long](1)))
  }

  test("banded LSH recalls high-cosine pairs found by brute force") {
    import spark.implicits._
    val dims = 64
    val rnd = new scala.util.Random(42)
    def unit(v: Array[Double]): Seq[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n).toSeq
    }
    // 5 clusters × 6 members, small noise → intra-cluster cosine ≈ 0.99
    val centers = Array.fill(5)(Array.fill(dims)(rnd.nextGaussian()))
    val vecs = for (c <- 0 until 5; m <- 0 until 6) yield {
      val v = centers(c).zipWithIndex.map { case (x, _) => x + rnd.nextGaussian() * 0.1 }
      ((c * 6 + m).toLong, unit(v))
    }
    val emb = vecs.toDF("vec_id", "embedding")
    val threshold = 0.9
    val truth = emb.as("a").crossJoin(emb.as("b"))
      .where(col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        Similarity.cosine(col("a.embedding").cast("array<double>"),
          col("b.embedding").cast("array<double>")).as("cos"))
      .where(col("cos") >= threshold)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(truth.size >= 30, s"fixture should plant many high-cosine pairs, got ${truth.size}")
    val found = Similarity.embeddingNearDuplicatesBanded(emb, "vec_id", "embedding",
        bands = 4, planesPerBand = 4, dims = dims, threshold = threshold)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(found.subsetOf(truth), "exact cosine filter ⇒ no false positives")
    val recall = found.size.toDouble / truth.size
    assert(recall >= 0.8, s"banded recall $recall below bound (found ${found.size}/${truth.size})")
  }

  test("plane weights are portable-hash-derived and in [-1, 1]") {
    val w = Similarity.planeWeights(0, 64)
    assert(w.size === 64)
    assert(w.forall(x => x >= -1.0 && x <= 1.0))
    assert(w !== Similarity.planeWeights(1, 64))
    assert(w === Similarity.planeWeights(0, 64))
  }

  test("IVF index: build/save/load round-trips; a full probe of the " +
      "loaded index equals brute force for ANY quantizer; lists " +
      "partition the corpus") {
    import spark.implicits._
    val emb = graft.core.Tables.embeddings(spark, sfDir)
    val n = emb.count()
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ivf").toString
    val built = Similarity.ivfBuild(emb, "vec_id", "embedding", 8)
    Similarity.ivfSave(built, dir)
    val ix = Similarity.ivfLoad(spark, dir)
    // round-trip: byte-identical tables
    assert(ix.cents.collect().toSet === built.cents.collect().toSet)
    assert(ix.lists.drop("mv").collect().toSet ===
      built.lists.drop("mv").collect().toSet)
    // lists PARTITION the corpus: every vector in exactly one list
    assert(ix.lists.count() === n)
    assert(ix.lists.select("member").distinct().count() === n)

    def fullProbeEqualsBrute(index: Similarity.IvfIndex): Unit = {
      val queries = emb.where(col("vec_id") < 5)
      val ivf = Similarity.ivfQuery(index, queries, "vec_id",
          "embedding", nprobe = 8, k = 6)
        .where(col("nn_id") =!= col("vec_id"))
        .orderBy(col("vec_id"), col("rnk"))
        .select(col("vec_id"), col("nn_id"), col("score"))
        .as[(Long, Long, Double)].collect()
        .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3)).take(5))
        .toMap
      val brute = Similarity.knnBruteForce(emb, queries, "vec_id",
          "embedding", k = 5)
        .orderBy(col("query_id"), col("rnk"))
        .select(col("query_id"), col("neighbor_id"), col("score"))
        .as[(Long, Long, Double)].collect()
        .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3)).toSeq)
        .toMap
      assert(ivf.keySet === brute.keySet)
      ivf.keys.foreach { q =>
        assert(ivf(q).toSeq === brute(q), s"query $q")
      }
    }
    fullProbeEqualsBrute(ix)

    // pluggable quantizer: the LARGEST-id vectors — full probe is
    // still exact (the quantizer only decides WHICH list holds a
    // vector, never what a probed rerank sees)
    val alt = emb.orderBy(col("vec_id").desc).limit(8)
      .select(col("vec_id").cast("long").as("cid"),
        col("embedding").cast("array<double>").as("cv"))
    val ix2 = Similarity.ivfBuildWith(emb, "vec_id", "embedding", alt)
    assert(ix2.lists.count() === n)
    fullProbeEqualsBrute(ix2)

    // partial probe degrades gracefully: results are a subset of the
    // probed lists' members, ranked by true cosine
    val part = Similarity.ivfQuery(ix, emb.where(col("vec_id") < 5),
        "vec_id", "embedding", nprobe = 2, k = 5)
    assert(part.count() > 0)
  }

  test("ivfRecallCurve is monotone in nprobe and reaches EXACTLY 1.0 " +
      "at a full probe") {
    import spark.implicits._
    val emb = graft.core.Tables.embeddings(spark, sfDir)
    val lists = 6
    val ix = Similarity.ivfBuild(emb, "vec_id", "embedding", lists)
    val curve = Similarity.ivfRecallCurve(ix, emb,
        emb.where(col("vec_id") % 25 === 0), "vec_id", "embedding",
        k = 3, maxProbe = lists)
      .orderBy(col("nprobe"))
      .select(col("nprobe"), col("hits"), col("possible"), col("recall"))
      .as[(Long, Long, Long, Double)].collect()
    assert(curve.length === lists)
    curve.sliding(2).foreach {
      case Array(a, b) => assert(b._4 >= a._4,
        s"recall must not drop: nprobe ${a._1} -> ${b._1}")
      case _ =>
    }
    val last = curve.last
    assert(last._2 === last._3 && last._4 === 1.0,
      "probing every list IS brute force")
    assert(curve.head._4 < 1.0,
      "fixture must make the first point lossy (near-random vectors)")
  }

  test("knn plan broadcasts the query side (no corpus shuffle for scoring)") {
    val emb = graft.core.Tables.embeddings(spark, sfDir)
    val df = Similarity.knnBruteForce(emb, emb.where(col("vec_id") < 3),
      "vec_id", "embedding", k = 4)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"expected broadcast join in:\n$plan")
  }

  test("banded ANN ranking is a bounded aggregate, not a sort window") {
    val emb = graft.core.Tables.embeddings(spark, sfDir)
    val df = Similarity.annTopKInBands(emb, "vec_id", "embedding",
      bands = 4, planesPerBand = 8, dims = 64, k = 3)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"top-k must use the bounded TopKAggregator, not row_number:\n$plan")
  }

  test("zero-norm vectors surface with null score, ranked last, instead of crashing ANN top-k") {
    import spark.implicits._
    val dims = 8
    // two zero vectors: identical input ⇒ same bucket in EVERY band, so
    // they are guaranteed candidates of each other — and the native
    // cosine's contract makes their score null
    val rows = Seq(
      (1L, Array.fill(dims)(0.0f)),
      (2L, Array.fill(dims)(0.0f)),
      (3L, Array.tabulate(dims)(i => if (i == 0) 1.0f else 0.1f)),
      (4L, Array.tabulate(dims)(i => if (i == 0) 1.0f else 0.1f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.annTopKInBands(rows, "vec_id", "embedding",
        bands = 2, planesPerBand = 4, dims = dims, k = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)), r.getLong(3)))
    assert(got.exists { case (q, n, s, _) =>
      q == 1L && n == 2L && s.isEmpty }, "zero-pair candidate must surface with null score")
    // within any query mixing real and null scores, nulls rank last
    got.groupBy(_._1).values.foreach { cands =>
      val (nulls, reals) = cands.partition(_._3.isEmpty)
      if (nulls.nonEmpty && reals.nonEmpty)
        assert(nulls.map(_._4).min > reals.map(_._4).max,
          s"null scores must rank after real ones: ${cands.toSeq}")
    }
  }

  test("ANN entry points accept non-integral id columns (window fallback path)") {
    import org.apache.spark.sql.types.StringType
    val emb = graft.core.Tables.embeddings(spark, sfDir)
      .withColumn("sid", concat(lit("v"), col("vec_id")))
    val df = Similarity.annTopKInBands(emb, "sid", "embedding",
      bands = 2, planesPerBand = 4, dims = 64, k = 2)
    assert(df.schema("vec_id").dataType === StringType)
    assert(df.count() > 0)
  }

  test("hot-bucket guard bounds a planted degenerate bucket, keeps it connected") {
    import spark.implicits._
    import graft.llm.LshGuard
    // one degenerate bucket of 200 members + a handful of small buckets
    val banded = ((0L until 200L).map(i => (i, 0, "hot")) ++
      Seq((500L, 0, "c1"), (501L, 0, "c1"), (502L, 0, "c2"), (503L, 0, "c2"), (504L, 0, "c2")))
      .toDF("doc_id", "band", "bucket")
    val pairs = LshGuard.guardedCandidates(banded, Seq("band", "bucket"),
      "doc_id", maxBucket = 10, ordered = true)
      .as[(Long, Long)].collect().toSet
    // hot bucket: star to min-id rep = 199 edges, NOT 200*199/2 = 19,900
    val hotPairs = pairs.filter(_._2 < 500L)
    assert(hotPairs.size === 199, s"star cap expected 199 edges, got ${hotPairs.size}")
    assert(hotPairs.forall(_._1 === 0L), "every hot edge routes through the min-id rep")
    // connectivity: rep reaches every member ⇒ one cluster under union-find
    assert(hotPairs.map(_._2) === (1L until 200L).toSet)
    // cold buckets unaffected: exhaustive pairs survive
    assert(pairs.contains((500L, 501L)))
    assert(pairs.filter(p => p._1 >= 502L && p._2 <= 504L) ===
      Set((502L, 503L), (502L, 504L), (503L, 504L)))
    // unordered form emits both directions for per-query candidate lists
    val both = LshGuard.guardedCandidates(banded, Seq("band", "bucket"),
      "doc_id", maxBucket = 10, ordered = false)
      .as[(Long, Long)].collect().toSet
    assert(both.contains((0L, 7L)) && both.contains((7L, 0L)))
    assert(both.filter(p => p._1 < 500L || p._2 < 500L).size === 398)

    // degenerate buckets [], [x], [x, x], [a, b, c] in both modes: no
    // self-pair, no exception, through the guard and the bare generator
    val lists = Seq(Seq.empty[Long], Seq(9L), Seq(9L, 9L), Seq(1L, 2L, 3L))
    val abc = Set((1L, 2L), (1L, 3L), (2L, 3L))
    for (ordered <- Seq(true, false)) {
      val expected = if (ordered) abc else abc ++ abc.map(_.swap)
      val bare = lists.toDF("ids")
        .select(graft.operators.BucketPairs.sortedPairs(col("ids"),
          bothDirections = !ordered).as("prs"))
        .collect().toSeq.map(_.getSeq[org.apache.spark.sql.Row](0)
          .map(r => (r.getLong(0), r.getLong(1))))
      assert(bare.take(3).forall(_.isEmpty),
        s"size < 2 and [x, x] must give no pair (ordered=$ordered): $bare")
      assert(bare(3).toSet === expected && bare(3).size === expected.size)
      for ((ids, i) <- lists.zipWithIndex) {
        val got = LshGuard.guardedCandidates(
            ids.map(id => (id, 0, s"d$i")).toDF("doc_id", "band", "bucket"),
            Seq("band", "bucket"), "doc_id", maxBucket = 10, ordered)
          .as[(Long, Long)].collect().toSet
        assert(got.forall(p => p._1 != p._2), s"self-pair from $ids: $got")
        assert(got === (if (ids.size == 3) expected else Set.empty[(Long, Long)]),
          s"guard on $ids (ordered=$ordered): $got")
      }
    }
  }

  test("simhash/minhash near-dup results unchanged when the guard never trips") {
    val docs = graft.core.Tables.documents(spark, sfDir)
    import graft.llm.Dedup
    val unguarded = Dedup.nearDuplicatePairs(docs, "doc_id", "text",
      3, 8, 4, 0.5, maxBucket = Int.MaxValue)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val guarded = Dedup.nearDuplicatePairs(docs, "doc_id", "text",
      3, 8, 4, 0.5, maxBucket = 10000)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(guarded === unguarded)
  }

  test("semantic dedup drops the larger id of a planted near-identical pair") {
    import spark.implicits._
    // centroids = ids 0,1. Cluster 0: ids 0,2,3 — (2,3) nearly identical
    // (cos ≈ 0.9999), (0,2)/(0,3) ≈ 0.995 stay under the 0.999 threshold.
    val emb = Seq(
      (0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)),
      (2L, Seq(0.99, 0.10)), (3L, Seq(0.98, 0.12)),
      (4L, Seq(0.10, 0.90))).toDF("vec_id", "embedding")
    val got = Similarity.semanticDedup(emb, "vec_id", "embedding",
        centroids = 2, threshold = 0.999)
      .as[(Long, Long, Boolean)].collect()
    assert(got.map(_._1).sorted.toSeq === Seq(0L, 1L, 2L, 3L, 4L),
      "every vector appears exactly once")
    val kept = got.filter(_._3).map(_._1).toSet
    assert(kept === Set(0L, 1L, 2L, 4L), "only the planted dup (id 3) drops")
    val cid = got.map(t => t._1 -> t._2).toMap
    assert(cid(2L) === 0L && cid(3L) === 0L, "dup pair shares cluster 0")
    assert(cid(4L) === 1L)
  }

  test("ivf top-k: every neighbor comes from a probed list, ranks contiguous") {
    val emb = graft.core.Tables.embeddings(spark, sfDir)
    val got = Similarity.ivfTopK(emb, "vec_id", "embedding",
      centroids = 8, nprobe = 2, k = 3).collect()
    assert(got.nonEmpty)
    val byQuery = got.groupBy(_.getAs[Long]("vec_id"))
    byQuery.values.foreach { rows =>
      val rnks = rows.map(_.getAs[Long]("rnk")).sorted.toSeq
      assert(rnks === (1L to rnks.length).toSeq, "contiguous ranks from 1")
      assert(rnks.length <= 3)
      val scores = rows.sortBy(_.getAs[Long]("rnk")).map(_.getAs[Double]("score"))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    }
    got.foreach(r => assert(r.getAs[Long]("vec_id") !== r.getAs[Long]("nn_id")))
  }

  test("embedding outliers: planted far vector ranks first with exact integer dist2") {
    import spark.implicits._
    // label 0: nine zero vectors + one unit vector along dim 0.
    // q(1.0f) = 16384 at 14 bits; n = 10, sum_q = (16384, 0, 0, 0).
    // planted dev = 16384*10 - 16384 = 147456 -> dist2 = 147456^2;
    // each zero vector dev = -16384 -> dist2 = 16384^2.
    val vecs = (0 until 9).map(i => (i.toLong, Seq(0f, 0f, 0f, 0f), 0)) :+
      (9L, Seq(1f, 0f, 0f, 0f), 0)
    val emb = vecs.toDF("vec_id", "embedding", "label")
    val got = Similarity.embeddingOutliers(emb, "vec_id", "embedding",
      "label", k = 3).collect()
    assert(got.length === 3)
    val first = got.find(_.getAs[Long]("rnk") == 1L).get
    assert(first.getAs[Long]("vec_id") === 9L)
    assert(first.getAs[Long]("dist2") === 147456L * 147456L)
    // remaining ranks tie on dist2 -> vec_id ascending breaks the tie
    val rest = got.filter(_.getAs[Long]("rnk") > 1L)
      .sortBy(_.getAs[Long]("rnk")).map(r =>
        (r.getAs[Long]("vec_id"), r.getAs[Long]("dist2"))).toSeq
    assert(rest === Seq((0L, 16384L * 16384L), (1L, 16384L * 16384L)))
  }

  test("embedding outlier ranking is a bounded aggregate, not a sort window") {
    val emb = graft.core.Tables.embeddings(spark, sfDir)
    val df = Similarity.embeddingOutliers(emb, "vec_id", "embedding",
      "label", k = 5)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"outlier top-k must use the bounded TopKAggregator, not row_number:\n$plan")
  }

  test("embedding outliers: labels rank independently and k bounds each group") {
    val emb = graft.core.Tables.embeddings(spark, sfDir)
    val got = Similarity.embeddingOutliers(emb, "vec_id", "embedding",
      "label", k = 4).collect()
    val byLabel = got.groupBy(_.getAs[Int]("label"))
    assert(byLabel.nonEmpty)
    byLabel.values.foreach { rows =>
      assert(rows.map(_.getAs[Long]("rnk")).sorted.toSeq ===
        (1L to rows.length).toSeq)
      assert(rows.length <= 4)
      val d = rows.sortBy(_.getAs[Long]("rnk")).map(_.getAs[Long]("dist2"))
      assert(d.zip(d.tail).forall { case (a, b) => a >= b }, "descending dist2")
    }
  }

  test("kmeans: partition-layout-independent, partitions the corpus, inertia shrinks") {
    import graft.operators.KMeans
    val emb = graft.core.Tables.embeddings(spark, sfDir)
    val n = emb.count()
    val s2 = KMeans.summary(emb, "vec_id", "embedding", k = 4, iters = 2)
      .collect().map(r => (r.getAs[Long]("cid"),
        (r.getAs[Long]("n_vectors"), r.getAs[Long]("inertia")))).toMap
    // every vector lands in exactly one cluster
    assert(s2.values.map(_._1).sum === n)
    assert(s2.nonEmpty && s2.size <= 4)
    // integer arithmetic ⇒ bit-identical result under any partitioning
    val repart = KMeans.summary(emb.repartition(17), "vec_id", "embedding",
      k = 4, iters = 2)
      .collect().map(r => (r.getAs[Long]("cid"),
        (r.getAs[Long]("n_vectors"), r.getAs[Long]("inertia")))).toMap
    assert(repart === s2, "layout-independent clustering")
    // Lloyd monotonicity: total inertia after a recompute+reassign pass
    // never exceeds the seed-assignment inertia
    val s1 = KMeans.summary(emb, "vec_id", "embedding", k = 4, iters = 1)
      .collect().map(_.getAs[Long]("inertia")).sum
    assert(s2.values.map(_._2).sum <= s1, "inertia non-increasing across passes")
  }

  test("kmeans assignment plan: broadcast-literal argmin, no join or window") {
    import graft.operators.KMeans
    val emb = graft.core.Tables.embeddings(spark, sfDir)
    val df = KMeans.assign(emb, "vec_id", "embedding", k = 4, iters = 2)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"no sort window in assignment:\n$plan")
    assert(!plan.contains("Join"), s"centroids fold into the row expression, not a join:\n$plan")
  }

  test("labeledTopK round-trips NEGATIVE query ids (floor-division decode)") {
    import spark.implicits._
    // encode(-3, neg) = -5; truncating DIV 2 would decode to -2
    val emb = Seq(
        (-3L, Seq(1.0, 0.0), 0L), (-2L, Seq(0.9, 0.1), 0L),
        (5L, Seq(0.2, 1.0), 1L), (6L, Seq(0.1, 0.9), 1L))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.labeledTopK(emb, emb.where(col("vec_id") === -3L),
      "vec_id", "embedding", "label", k = 2).collect()
    assert(out.nonEmpty)
    out.foreach(r => assert(r.getAs[Long]("query_id") === -3L,
      s"decode must floor-divide: $r"))
    val neg = out.filter(_.getAs[Boolean]("is_negative"))
      .map(_.getAs[Long]("neighbor_id")).toSet
    assert(neg === Set(5L, 6L), "different-label side = hard negatives")
    val pos = out.filter(!_.getAs[Boolean]("is_negative"))
      .map(_.getAs[Long]("neighbor_id")).toSet
    assert(pos === Set(-2L), "same-label side excludes self")
  }

  test("brute-force probe cap raises instead of broadcasting an " +
      "oversized query side") {
    val emb = graft.core.Tables.embeddings(spark, sfDir)
    val e = intercept[IllegalArgumentException] {
      Similarity.knnBruteForce(emb, emb, "vec_id", "embedding", k = 2,
        maxProbe = 8)
    }
    assert(e.getMessage.contains("probe side"))
    val e2 = intercept[IllegalArgumentException] {
      Similarity.labeledTopK(emb, emb, "vec_id", "embedding", "vec_id",
        k = 2, maxProbe = 8)
    }
    assert(e2.getMessage.contains("probe side"))
    // at-cap probe side passes (the guard counts cap+1 rows, not all)
    Similarity.knnBruteForce(emb, emb.limit(8), "vec_id", "embedding",
      k = 2, maxProbe = 8)
  }

  test("centroidDrift: axis-aligned labels give the hand-computed " +
      "cosines, magnitude scaling is invariant, norm is exact") {
    import spark.implicits._
    // label 0: two unit vectors on axis 0; label 1: one on axis 1.
    // global sum = (32768, 16384) on the 14-bit grid, so
    // cos(l0) = 2/sqrt(5), cos(l1) = 1/sqrt(5), norm(l0) = 1.0.
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f), 0),
      (1L, Seq(1.0f, 0.0f), 0),
      (2L, Seq(0.0f, 1.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.centroidDrift(emb, "vec_id", "embedding", "label")
      .as[(Long, Long, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(0L)._2 === 2L && got(1L)._2 === 1L)
    assert(math.abs(got(0L)._3 - 2.0 / math.sqrt(5.0)) < 1e-12)
    assert(math.abs(got(1L)._3 - 1.0 / math.sqrt(5.0)) < 1e-12)
    assert(got(0L)._4 === 1.0, "norm of the mean unit vector is exact")
    // cosine is computed on SUM vectors: doubling one label's vector
    // magnitudes moves its norm but not its own direction, and scales
    // the global sum WITHIN the same 2-d span - recompute by hand.
    val scaled = Seq(
      (0L, Seq(2.0f, 0.0f), 0),
      (1L, Seq(2.0f, 0.0f), 0),
      (2L, Seq(0.0f, 1.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val g2 = Similarity.centroidDrift(scaled, "vec_id", "embedding", "label")
      .as[(Long, Long, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(math.abs(g2(0L)._3 - 4.0 / math.sqrt(17.0)) < 1e-12)
    assert(g2(0L)._4 === 2.0)
  }

  test("ivfListProfile: members conserve, ties collapse onto the " +
      "smallest centroid, and EMPTY lists stay visible") {
    import spark.implicits._
    // identical vectors: every cosine ties at 1.0, the cid-ascending
    // tie rule sends all members to centroid 0, lists 1..3 sit empty
    val emb = (0L until 12L).map(i => (i, Seq(1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.ivfListProfile(emb, "vec_id", "embedding",
        centroids = 4)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._2).toMap
    assert(got === Map(0L -> 12L, 1L -> 0L, 2L -> 0L, 3L -> 0L))
    // mixed corpus: membership is conserved across lists
    val emb2 = (0L until 20L).map(i =>
        (i, Seq(math.cos(i * 0.7).toFloat, math.sin(i * 0.7).toFloat)))
      .toDF("vec_id", "embedding")
    val prof = Similarity.ivfListProfile(emb2, "vec_id", "embedding",
        centroids = 5)
      .as[(Long, Long, Double)].collect()
    assert(prof.length === 5)
    assert(prof.map(_._2).sum === 20L, "every vector lands in one list")
  }

  test("ivfQuantize: lists keep the exact partition, norms are the " +
      "exact integer norms, and the quantized query path reranks in " +
      "int8 with self-match at exactly 1.0") {
    import spark.implicits._
    val emb = graft.core.Tables.embeddings(spark, sfDir)
    val ix = Similarity.ivfBuild(emb, "vec_id", "embedding",
      centroids = 8)
    val ix8 = Similarity.ivfQuantize(ix)
    // same (cid, member) partition, one row per member
    val a = ix.lists.select("cid", "member")
      .as[(Long, Long)].collect().toSet
    val b = ix8.lists.select("cid", "member")
      .as[(Long, Long)].collect().toSet
    assert(a === b)
    // mnrm is the exact integer norm of mq; mq values are in [-127,127]
    ix8.lists.select(col("mq"), col("mscale"), col("mnrm"))
      .as[(Seq[Int], Double, Double)].collect().foreach {
        case (mq, mscale, mnrm) =>
          assert(mq.forall(x => x >= -127 && x <= 127))
          assert(mscale >= 0.0)
          val n = math.sqrt(mq.map(x => x.toLong * x).sum.toDouble)
          assert(mnrm === n)
      }
    // in-corpus probes: exact self-match at 1.0 rank 1 (an int8
    // vector's cosine with itself is exactly dot/nrm^2 = 1)
    val q = emb.where(col("vec_id") % 50 === 0)
    val top = Similarity.ivfQuery(ix8, q, "vec_id", "embedding",
        nprobe = 2, k = 1)
      .select(col("vec_id"), col("nn_id"), col("score"))
      .as[(Long, Long, Double)].collect()
    assert(top.nonEmpty)
    top.foreach { case (qid, nid, s) =>
      assert(nid === qid, "rank-1 hit is the exact self match")
      assert(s === 1.0)
    }
    // the saved/loaded quantized index answers identically
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ivf8").toString
    Similarity.ivfSave(ix8, dir)
    val re = Similarity.ivfQuery(Similarity.ivfLoad(spark, dir), q,
        "vec_id", "embedding", nprobe = 2, k = 1)
      .select(col("vec_id"), col("nn_id"), col("score"))
      .as[(Long, Long, Double)].collect()
    assert(re.toSet === top.toSet)
  }

  test("ivfRecallCurveDual == the two separately-run curves (float " +
      "index + ivfQuantize'd index), point for point") {
    import spark.implicits._
    val emb = graft.core.Tables.embeddings(spark, sfDir)
    val ix = Similarity.ivfBuild(emb, "vec_id", "embedding",
      centroids = 8)
    val probe = emb.where(col("vec_id") % 20 === 0)
    def dump(d: org.apache.spark.sql.DataFrame) = d
      .select(col("nprobe"), col("n_queries"), col("possible"),
        col("recall_float"), col("recall_int8"), col("recall_delta"))
      .as[(Long, Long, Long, Double, Double, Double)]
      .collect().sortBy(_._1).toSeq
    val dual = dump(Similarity.ivfRecallCurveDual(ix, emb, probe,
      "vec_id", "embedding", k = 3, maxProbe = 3))
    val cf = Similarity.ivfRecallCurve(ix, emb, probe,
        "vec_id", "embedding", k = 3, maxProbe = 3)
      .select(col("nprobe"), col("n_queries"), col("possible"),
        col("recall").as("recall_float"))
    val cq = Similarity.ivfRecallCurve(Similarity.ivfQuantize(ix),
        emb, probe, "vec_id", "embedding", k = 3, maxProbe = 3)
      .select(col("nprobe"), col("recall").as("recall_int8"))
    val two = dump(cf.join(cq, "nprobe")
      .withColumn("recall_delta",
        col("recall_int8") - col("recall_float")))
    assert(dual === two)
    // the dual path refuses a pre-quantized index (it derives the
    // int8 side itself)
    assert(intercept[IllegalArgumentException] {
      Similarity.ivfRecallCurveDual(Similarity.ivfQuantize(ix), emb,
        probe, "vec_id", "embedding", k = 3, maxProbe = 3)
    }.getMessage.contains("FLOAT index"))
  }

  test("PQ: codebooks partition subspaces, encode is the integer " +
      "argmin with exact precomputed norms, and the saved index " +
      "round-trips to identical ADC scores") {
    import spark.implicits._
    import graft.llm.Pq
    val emb = graft.core.Tables.embeddings(spark, sfDir)
    val ix = Similarity.ivfBuild(emb, "vec_id", "embedding",
      centroids = 8)
    val cbDf = Pq.trainCodebooks(emb.where(col("vec_id") % 10 === 0),
      "vec_id", "embedding", dims = 64, m = 4, ksub = 8, iters = 2)
    val cb = Pq.collectCodebooks(cbDf)
    // the joint (one-pass-all-subspaces) trainer is value-identical to
    // composing KMeans.centroids per subspace — same quantization,
    // seeds, argmin and rounding rules
    val wantCb = (0 until 4).flatMap { j =>
      graft.operators.KMeans.centroids(
          emb.where(col("vec_id") % 10 === 0)
            .select(col("vec_id"),
              slice(col("embedding").cast("array<double>"),
                j * 16 + 1, 16).as("subv")),
          "vec_id", "subv", k = 8, iters = 2)
        .orderBy(col("cid"))
        .select(col("cid"), col("cv"))
        .as[(Long, Seq[Double])].collect().toSeq
        .zipWithIndex.map { case ((_, cv), c) =>
          (j, c, cv.map(x =>
            math.floor(x * 16384.0 + 0.5).toLong))
        }
    }
    assert(cb === wantCb, "joint codebook trainer == per-subspace runs")
    assert(cb.map(_._1).distinct.sorted === Seq(0, 1, 2, 3))
    cb.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._2).sorted === (0 until rows.size),
        "codes are dense 0-based per subspace")
      assert(rows.forall(_._3.length === 16), "16-dim subvectors")
    }
    val plists = Pq.encodeLists(ix.lists, cb)
      .transform(graft.core.Caching.persist)
    // one row per member, codes in range, pnrm2 = exact sum of the
    // chosen centroids' integer norms
    val cbMap = cb.map { case (s2, c, qc) => (s2.toLong, c.toLong) -> qc }
      .toMap
    val rows = plists.select(col("member"), col("codes"), col("pnrm2"))
      .as[(Long, Seq[Long], Long)].collect()
    assert(rows.length === ix.lists.count())
    rows.foreach { case (_, codes, pnrm2) =>
      assert(codes.length === 4)
      val want = codes.zipWithIndex.map { case (c, j) =>
        cbMap((j.toLong, c)).map(x => x * x).sum
      }.sum
      assert(pnrm2 === want, "pnrm2 is the exact chosen-centroid norm2")
    }
    // brute-check the argmin for one member against the codebook
    val (mid, mv) = emb.select(col("vec_id").cast("long"),
        col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].head()
    val qmv = mv.map(x => math.floor(x * 16384.0 + 0.5).toLong)
    val got = rows.find(_._1 === mid).get._2
    (0 until 4).foreach { j =>
      val sub = qmv.slice(j * 16, j * 16 + 16)
      val best = cb.filter(_._1 == j).sortBy(_._2).minBy { case (_, c, qc) =>
        (sub.zip(qc).map { case (a, b) => (a - b) * (a - b) }.sum, c)
      }._2
      assert(got(j) === best.toLong, s"member $mid subspace $j argmin")
    }
    // save/load round trip answers the recall curve identically
    val dir = java.nio.file.Files.createTempDirectory("graft-pq").toString
    Pq.save(ix.cents, cbDf, plists, dir)
    val (cents2, cb2, _) = Pq.load(spark, dir)
    val probe = emb.where(col("vec_id") % 20 === 0)
    def dump(d: org.apache.spark.sql.DataFrame) = d
      .select(col("nprobe"), col("recall_pq"), col("recall_rerank"))
      .as[(Long, Double, Double)].collect().sortBy(_._1).toSeq
    val a = dump(Pq.pqRecallCurve(ix, cb, emb, probe,
      "vec_id", "embedding", k = 3, maxProbe = 2, refine = 4))
    val b = dump(Pq.pqRecallCurve(
      Similarity.IvfIndex(cents2, ix.lists),
      Pq.collectCodebooks(cb2), emb, probe,
      "vec_id", "embedding", k = 3, maxProbe = 2, refine = 4))
    assert(a === b, "saved/loaded PQ index answers identically")
    // rerank can only refine within the candidate set: with refine
    // covering everything ADC saw, rerank recall >= pure-ADC recall
    // is NOT guaranteed pointwise (the refine set truncates), but
    // both stay in [0, 1]
    a.foreach { case (_, rp, rr) =>
      assert(rp >= 0.0 && rp <= 1.0 && rr >= 0.0 && rr <= 1.0)
    }
  }
}
