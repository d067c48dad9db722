package graft

/** Session tuning composes with the host application's conf. */
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
}
