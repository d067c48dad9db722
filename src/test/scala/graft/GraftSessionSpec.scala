package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions.{col, lit}

/** Session tuning composes with the host application's conf, and the
  * session keeps a repeated pipeline's generated classes. */
class GraftSessionSpec extends SparkSpecBase {

  private val excluded = "spark.sql.optimizer.excludedRules"

  test("tune() merges graft's excluded optimizer rules into the host's") {
    val host = spark.newSession()
    val hostRule = "org.apache.spark.sql.catalyst.optimizer.PushPredicateThroughJoin"
    host.conf.set(excluded, hostRule)
    GraftSession.tune(host)
    val rules = host.conf.get(excluded).split(",").toSeq
    assert(rules === Seq(hostRule, GraftSession.ExcludedOptimizerRules))
    GraftSession.tune(host)
    assert(host.conf.get(excluded).split(",").toSeq === rules, "re-tuning duplicated a rule")
    assert(host.conf.get("spark.sql.adaptive.enabled") === "true")
  }

  test("tune() on a session with no exclusions sets graft's rules") {
    val host = spark.newSession()
    host.conf.unset(excluded)
    GraftSession.tune(host)
    assert(host.conf.get(excluded) === GraftSession.ExcludedOptimizerRules)
  }

  test("a pipeline run again after 150 others reuses its generated classes") {
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    // the int literal is inlined into the generated code, so each i is a
    // distinct class in the codegen cache
    def pipeline(i: Int) = spark.range(1).select(col("id") + lit(i)).collect()
    pipeline(-1)
    val first = compiles
    (0 until 150).foreach(pipeline)
    assert(compiles - first >= 150, "the distinct pipelines did not compile")
    val before = compiles
    assert(pipeline(-1).head.getLong(0) === -1L)
    assert(compiles - before === 0, "the first pipeline's classes were evicted and recompiled")
  }
}
