package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
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

  test("build() over a live session merges graft's excluded rules into the host's") {
    // getOrCreate returns this thread's active session, so build() tunes a
    // clone here, never the suites' shared session
    val host = spark.newSession()
    val hostRule = "org.apache.spark.sql.catalyst.optimizer.PushPredicateThroughJoin"
    host.conf.set(excluded, hostRule)
    val prev = SparkSession.getActiveSession
    SparkSession.setActiveSession(host)
    try {
      assert(GraftSession.build("graft-session-spec", "local[4]", "4") eq host)
      assert(host.conf.get(excluded).split(",").toSeq ===
        Seq(hostRule, GraftSession.ExcludedOptimizerRules))
    } finally prev.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
  }

  test("a fresh build() session reads graft's value for every conf tune() sets") {
    import scala.jdk.CollectionConverters._
    val want = Map(
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> GraftSession.AdaptiveBroadcastThreshold,
      excluded -> GraftSession.ExcludedOptimizerRules,
      "spark.sql.shuffle.partitions" -> "1",
      "spark.sql.codegen.cache.maxEntries" -> GraftSession.CodegenCacheMaxEntries)
    // a second JVM: this one already holds the suites' SparkContext
    val log = java.nio.file.Files.createTempFile("fresh-build", ".log").toFile
    val pb = new ProcessBuilder((Seq(sys.props("java.home") + "/bin/java") ++
      Bench.forwardableJvmArgs() ++ Seq("-cp", Bench.currentClasspath(),
        "graft.FreshBuildProbe") ++ want.keys).asJava)
    pb.environment().remove("SPARK_GRAFT_EXTRA_CONF")
    pb.redirectError(log)
    val proc = pb.start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream, "UTF-8").getLines().toList
    assert(proc.waitFor(120, java.util.concurrent.TimeUnit.SECONDS) && proc.exitValue() === 0,
      s"probe failed, stderr at $log")
    log.delete()
    assert(out.flatMap(_.split("=", 2) match {
      case Array(k, v) => Some(k -> v)
      case _           => None
    }).toMap === want)
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

/** Child-JVM side of [[GraftSessionSpec]]'s fresh-build case: builds this
  * JVM's only session and prints `key=value` for each conf key it is given. */
object FreshBuildProbe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.build("graft-fresh-build-probe", "local[1]", "1")
    try args.foreach(k => println(s"$k=${spark.conf.get(k)}"))
    finally spark.stop()
  }
}
