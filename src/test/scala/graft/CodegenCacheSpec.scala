package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.core.GraftSession
import graft.plans.{BandJoinRewrite, DotProductRewrite}

/** The session's generated-class cache holds a working set larger than
  * Spark's default of 100 entries, so a query repeated within a session
  * reuses its compiled classes.
  */
class CodegenCacheSpec extends AnyFunSuite with TestSpark {

  test("a repeated query reuses its generated classes after 150 others") {
    // each literal is inlined into its projection's generated class,
    // so every query below compiles classes of its own
    def project(i: Long): Unit = spark.range(0, 4, 1, 1).select((col("id") + lit(i)).as("v")).collect()
    val base = 7000001L
    (0 until 150).foreach(i => project(base + i))
    val before = GraftSession.codegenCompiles
    project(base)
    assert(GraftSession.codegenCompiles == before)
  }

  test("tune leaves the builder's extension rules registered once") {
    GraftSession.tune(spark)
    val extra = spark.experimental.extraOptimizations
    assert(!extra.contains(DotProductRewrite) && !extra.contains(BandJoinRewrite))
    val injected = org.apache.spark.sql.classic.GraftBridge.injectedOptimizerRules(spark)
    assert(injected.count(_ == DotProductRewrite) == 1 && injected.count(_ == BandJoinRewrite) == 1)
  }
}
