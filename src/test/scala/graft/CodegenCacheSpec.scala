package graft

import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Gate for the session-wide codegen cache (`Session.CodegenCacheEntries`):
  * a session that interleaves queries keeps every generated class, so once
  * the shared caches are built, a second interleaved round of the same
  * queries compiles nothing.
  *
  * The keys are the benchmark's analyst mix (perfbench `MIX_KEYS`) but
  * `market_share`. Adaptive execution turns its `l_orderkey = o_orderkey`
  * join into a broadcast join with the lineitem side as the build side on
  * the first run and the orders side on later runs, and each side is
  * other generated source. No cache cap keeps such a key from
  * recompiling. Stage ids, which come out in a different order from run
  * to run, are kept out of class names by the session
  * (`spark.sql.codegen.useIdInClassName`). */
class CodegenCacheSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"
  private val Keys = Seq("anagram_groups", "dedup_minhash", "ann_ivf", "quality_score",
    "dsir_weights", "q1_agg", "benford_audit", "pack_sequences")

  /** Entries in Spark's JVM-wide cache of generated classes. */
  private def cachedClasses: Long = {
    val get = CodeGenerator.getClass.getDeclaredMethod("cache")
    get.setAccessible(true)
    val cache = get.invoke(CodeGenerator)
    cache.getClass.getMethod("size").invoke(cache).asInstanceOf[Long]
  }

  /** Runs each key once, as the benchmark's query_mix does (build, then a
    * `noop` write); returns each key's codegen compile time in ns. */
  private def round(keys: Seq[String]): Seq[(String, Long)] = keys.map { k =>
    val t0 = CodeGenerator.compileTime
    SparkEntry.queries(k)(spark, sf).write.mode("overwrite").format("noop").save()
    k -> (CodeGenerator.compileTime - t0)
  }

  test("a second interleaved round of the analyst mix compiles no class") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      Session.CodegenCacheEntries.toString)
    // a key's first run builds the session's shared caches; its second run
    // plans over materialized caches and may still compile new classes
    // (ann_ivf does), its later runs should not
    round(Keys)
    round(Keys.reverse)
    // Spark's default cap of 100 could not hold this many: the session's
    // cap is the one in effect
    assert(cachedClasses > 100, s"only $cachedClasses cached classes")
    val recompiled = round(Keys).filter(_._2 > 0)
    assert(recompiled.isEmpty, "the second interleaved round compiled: " +
      recompiled.map { case (k, ns) => f"$k ${ns / 1e6}%.1f ms" }.mkString(", "))
  }
}
