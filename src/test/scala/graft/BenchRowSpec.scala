package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's one row protocol ([[Bench.Rows]]), with the block release and
  * the store drop faked: what a row and a family run, in which case, and
  * what lands in `times`, `warm` and `failed`. */
class BenchRowSpec extends AnyFunSuite {

  private final class Harness(only: Option[Set[String]] = None, twice: Boolean = false) {
    var releases = 0
    val dropped = scala.collection.mutable.ListBuffer.empty[String]
    val rows = new Bench.Rows(only, twice, () => releases += 1, (dirs, tables) => {
      dirs.foreach(d => java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(d)))
      dropped ++= dirs ++ tables
    })
  }

  test("a row that throws gets no time, is named in failed, and its family's " +
       "store and tables are still dropped") {
    val h = new Harness()
    var dir = ""
    h.rows.family("boom", "fine") { f =>
      dir = f.dir("bench-row-spec")
      f.table("t_boom")
      h.rows.row("boom")(throw new IllegalStateException("kernel blew up"))
      h.rows.row("fine")(())
    }
    assert(h.rows.failed.toMap === Map("boom" -> "kernel blew up"))
    assert(h.rows.times.map(_._1) === Seq("fine"))
    assert(h.dropped.toSet === Set(dir, "t_boom"))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir)))
    assert(h.releases === 2, "every timed run releases its blocks, the failed one too")
  }

  test("a family whose build throws fails each selected row that has not run, " +
       "and still drops what it built") {
    val h = new Harness(only = Some(Set("a", "b")))
    h.rows.family("a", "b", "c") { f =>
      f.dir("bench-row-spec")
      h.rows.row("a")(())
      throw new RuntimeException("setup failed")
    }
    assert(h.rows.times.map(_._1) === Seq("a"))
    assert(h.rows.failed.toMap === Map("b" -> "setup failed"))
    assert(h.dropped.size === 1)
  }

  test("a mutating row is neither warmed nor re-timed") {
    val h = new Harness(twice = true)
    var warmed, runs = 0
    h.rows.row("m", warmup = warmed += 1, mutating = true)(runs += 1)
    assert((warmed, runs) === ((0, 1)))
    assert(h.rows.times.map(_._1) === Seq("m"))
    assert(h.rows.warm.isEmpty)
  }

  test("an idempotent row is warmed, timed, and re-timed into warm under TWICE") {
    val h = new Harness(twice = true)
    var warmed, runs = 0
    h.rows.row("i", warmup = warmed += 1)(runs += 1)
    assert((warmed, runs) === ((1, 2)))
    assert(h.rows.warm.map(_._1) === Seq("i"))
    val once = new Harness()
    once.rows.row("i")(())
    assert(once.rows.warm.isEmpty, "no re-time without TWICE")
  }

  test("an unselected row and an unselected family's setup never run") {
    val h = new Harness(only = Some(Set("b")))
    var setup, ran = false
    h.rows.family("a") { _ => setup = true }
    h.rows.row("a") { ran = true }
    assert(!setup && !ran)
    assert(h.rows.times.isEmpty && h.rows.failed.isEmpty && h.dropped.isEmpty)
  }
}
