package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `Caching.scoped` (VERDICT r7 #4): the band/signature tables graft
  * operators persist must not outlive a scoped call — the contract that
  * was previously only enforced by the Verify/Bench harness-level
  * `clearCache`.
  */
class CachingSpec extends AnyFunSuite {
  import TestSession._

  private def cacheEmpty: Boolean =
    org.apache.spark.sql.graftbridge.ColumnBridge.cacheIsEmpty(spark)

  test("operator caches acquired inside Caching.scoped are released on exit") {
    spark.catalog.clearCache()
    val c = graft.core.Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
        col("c_mktsegment"))
    val docs = graft.core.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).limit(200)
    val (nPairs, nDups) = graft.core.Caching.scoped {
      // two independent band-table operators, both fully consumed inside
      val pairs = graft.operators.Linkage.candidatePairs(
        c, "c_custkey", "c_name", Seq("c_nationkey", "c_mktsegment")).count()
      val dups = graft.llm.Dedup.nearDuplicatePairs(
        docs, "doc_id", "text").count()
      assert(!cacheEmpty, "band tables should be cached while in scope")
      (pairs, dups)
    }
    assert(nPairs > 0, "sanity: the scoped work actually ran")
    assert(nDups >= 0)
    assert(cacheEmpty,
      "scoped operator caches survived the scope — contract not self-enforcing")
  }

  test("without a scope, persist keeps the harness clearCache contract") {
    spark.catalog.clearCache()
    val c = graft.core.Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
        col("c_mktsegment"))
    // candidatePairs persists its banded table: the hot-bucket census
    // fills it, and the one pair pass reads it back
    graft.operators.Linkage.candidatePairs(
      c, "c_custkey", "c_name", Seq("c_nationkey", "c_mktsegment")).count()
    assert(!cacheEmpty, "outside a scope the band table stays cached " +
      "(released by the session-level clearCache, as in Verify/Bench)")
    spark.catalog.clearCache()
    assert(cacheEmpty)
  }

  test("scoped releases on failure and nests correctly") {
    spark.catalog.clearCache()
    val c = graft.core.Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_name"))
    intercept[RuntimeException] {
      graft.core.Caching.scoped {
        graft.operators.Linkage.candidatePairs(
          c, "c_custkey", "c_name", Nil).count()
        throw new RuntimeException("boom")
      }
    }
    assert(cacheEmpty, "failure path must release scoped caches too")
    // nesting: inner scope releases only its own acquisitions
    graft.core.Caching.scoped {
      val outer = graft.core.Caching.persist(c.select(col("c_custkey")))
      outer.count()
      graft.core.Caching.scoped {
        graft.core.Caching.persist(c.select(col("c_name"))).count()
      }
      assert(outer.storageLevel.useMemory,
        "outer-scope cache must survive the inner scope's exit")
    }
    assert(cacheEmpty)
  }
}
