package graftbench

import java.util.Locale

/** Probes for the benchmark's own tests (perfbench/test_bench.py); no Spark
  * session is started.
  *
  *   graftbench.SelfTest digest <seed>   digests of every generator's output
  *   graftbench.SelfTest locale          a result rendered under Locale.GERMANY
  */
object SelfTest {
  def digests(seed: Long): Map[String, String] = {
    val star = Gen.starTables(Gen.star(seed, customers = 150, orders = 1500))
    Map(
      "events" -> Gen.digest(Gen.events(seed, 40, 30, 1500).iterator.map(Gen.eventRow)),
      "ingest" -> Gen.digest((0 until 10).iterator.flatMap(b =>
        Gen.ingestBatch(seed, b / 5, b % 5, 5, 1000, 40)).map(Gen.eventRow)),
      "documents" -> Gen.digest(Gen.documents(seed, 600).iterator),
      "embeddings" -> Gen.digest(Gen.embeddings(seed, 100).iterator)) ++
      star.map { case (t, rows) => t -> Gen.digest(rows.iterator) }
  }

  def main(args: Array[String]): Unit = args.toSeq match {
    case Seq("digest", seed) =>
      println(Report.render(Report.obj("seed" -> seed.toLong, "digests" -> digests(seed.toLong))))
    case Seq("locale") =>
      Locale.setDefault(Locale.GERMANY)
      val name = "op \"quoted\" \\ name"
      println(Report.render(Report.obj(
        "locale" -> Locale.getDefault.toString,
        "formatted_by_locale" -> "%.4f".format(1234.5678),
        "metrics" -> Map(name -> Report.metric(1234.5678, "ms"),
          "tiny" -> Report.metric(1.25e-7, "s")))))
    case _ =>
      System.err.println("usage: SelfTest digest <seed> | SelfTest locale")
      sys.exit(2)
  }
}
