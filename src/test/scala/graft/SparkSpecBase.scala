package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (small parallelism: test data is
  * sf0.001; shuffle partitions kept low so tests are not shuffle-bound). */
trait SparkSpecBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpecBase.session
  val sfDir = "/root/testdata/sf0.001"
}

/** Cross-suite serialization for suites that mutate the GLOBAL catalog
  * names the SignatureStore family owns (sig_docs/sig_sets/sig_splits):
  * sbt runs suites in parallel against one shared session, so two such
  * suites overlapping means one suite's `DROP TABLE sig_docs` lands mid-
  * run of the other (caught live in round 14 — IngestSoakSpec grew past
  * its historical window and started overlapping SignatureStoreSpec).
  * A Semaphore, not a monitor: beforeAll/afterAll may run on different
  * threads. Suites that only READ the fixture tables stay parallel. */
trait SigCatalogSerialized extends BeforeAndAfterAll { this: AnyFunSuite =>
  override protected def beforeAll(): Unit = {
    SparkSpecBase.sigCatalogLock.acquire()
    super.beforeAll()
  }
  override protected def afterAll(): Unit =
    try super.afterAll()
    finally SparkSpecBase.sigCatalogLock.release()
}

object SparkSpecBase {
  val sigCatalogLock = new java.util.concurrent.Semaphore(1, true)
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .appName("graft-test")
      .master("local[4]")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", GraftSession.CodegenCacheMaxEntries)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
