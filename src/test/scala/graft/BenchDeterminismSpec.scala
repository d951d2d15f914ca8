package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[Bench.determinism]], the comparison Bench makes between the
  * fingerprints of each query's iterations, and the parsing of Bench's
  * iteration count and the session's cores. */
class BenchDeterminismSpec extends AnyFunSuite {

  private val a: Either[String, Bench.Fp] = Right((1L, 2L, 3L))
  private val b: Either[String, Bench.Fp] = Right((1L, 2L, 4L))
  private val oracled = Set("q_a", "q_b")

  test("an oracled query with the same fingerprint in every iteration passes") {
    val Seq(v) = Bench.determinism(Seq("q_a" -> Seq(a, a, a)), oracled)
    assert(v.stable)
    assert(v.line == "[determinism] PASS q_a                              hash=                   1 sum=                   2 rows=3")
    assert(Bench.summary(Seq(v)) == "[determinism] 1/1 stable, 0 failed")
  }

  test("an oracled query that differs in any later iteration fails") {
    val vs = Bench.determinism(Seq("q_a" -> Seq(a, b), "q_b" -> Seq(a, a, b)), oracled)
    assert(vs.map(v => (v.query, v.stable)) == Seq("q_a" -> false, "q_b" -> false))
    assert(vs(0).line == "[determinism] FAIL q_a: run1=(1,2,3) run2=(1,2,4)")
    assert(vs(1).line == "[determinism] FAIL q_b: run1=(1,2,3) run3=(1,2,4)")
    assert(Bench.summary(vs) == "[determinism] 0/2 stable, 2 failed")
  }

  test("a rows-only query that differs is not compared") {
    val vs = Bench.determinism(Seq("q_a" -> Seq(a, a), "q_rows_only" -> Seq(a, b)), oracled)
    assert(vs.map(_.query) == Seq("q_a"))
    assert(Bench.summary(vs) == "[determinism] 1/1 stable, 0 failed")
  }

  test("an oracled query that throws in any iteration counts as failed") {
    val Seq(v) = Bench.determinism(Seq("q_a" -> Seq(a, Left("boom"))), oracled)
    assert(!v.stable)
    assert(v.line == "[determinism] ERROR q_a: boom")
  }

  test("one iteration compares nothing") {
    assert(Bench.determinism(Seq("q_a" -> Seq(a), "q_b" -> Seq(Left("boom"))), oracled).isEmpty)
  }

  test("iteration and core counts accept only integers of at least 1, and name the setting") {
    for (name <- Seq("SPARK_GRAFT_BENCH_ITERS", "SPARK_GRAFT_CPUS")) {
      assert(GraftSession.positiveInt(Map.empty, name, 3) == 3)
      assert(GraftSession.positiveInt(Map(name -> " 2 "), name, 3) == 2)
      for (bad <- Seq("0", "-2", "two", "1.5", "")) {
        val e = intercept[IllegalArgumentException](GraftSession.positiveInt(Map(name -> bad), name, 3))
        assert(e.getMessage == s"$name must be an integer of at least 1, got '$bad'")
      }
    }
  }
}
