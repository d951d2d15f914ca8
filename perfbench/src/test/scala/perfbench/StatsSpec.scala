package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(7.0)) == 7.0)
  }

  test("quartiles match Python's statistics.quantiles(n=4)") {
    // statistics.quantiles([1..10], n=4) == [2.75, 5.5, 8.25]
    assert(Stats.quartiles((1 to 10).map(_.toDouble)) == ((2.75, 5.5, 8.25)))
    // statistics.quantiles([1, 2], n=4) == [0.75, 1.5, 2.25]
    assert(Stats.quartiles(Seq(2.0, 1.0)) == ((0.75, 1.5, 2.25)))
    // statistics.quantiles([1, 2, 3, 4, 5], n=4) == [1.5, 3.0, 4.5]
    assert(Stats.quartiles(Seq(5.0, 3.0, 1.0, 4.0, 2.0)) == ((1.5, 3.0, 4.5)))
  }

  test("tail is the highest percentile with at least ten samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    // p99 and p95 leave 1 and 5 beyond; p90 (value 90) leaves 10.
    assert(Stats.tail(xs) == Stats.Tail(90.0, 90.0, 100, 10))
    val many = (1 to 1000).map(_.toDouble)
    assert(Stats.tail(many) == Stats.Tail(99.0, 990.0, 1000, 10))
    // 25 samples: p60 (value 15) leaves 10 beyond, p65 (value 17) only 8.
    assert(Stats.tail((1 to 25).map(_.toDouble)) == Stats.Tail(60.0, 15.0, 25, 10))
  }

  test("tail counts ties at the percentile as not beyond it") {
    val xs = Seq.fill(15)(1.0) ++ Seq.fill(10)(2.0)
    assert(Stats.tail(xs) == Stats.Tail(60.0, 1.0, 25, 10))
    assert(Stats.tail(xs :+ 3.0).value == 1.0)
  }

  test("below twenty samples the tail falls back to the median rank and shows the shortfall") {
    assert(Stats.tail((1 to 19).map(_.toDouble)) == Stats.Tail(50.0, 10.0, 19, 9))
    assert(Stats.tail(Seq(4.0)) == Stats.Tail(50.0, 4.0, 1, 0))
  }

  test("an exact expectation needs both the row count and the checksum") {
    val e = Stats.Exact(rows = 3, checksum = -42L)
    assert(Stats.check(e, Stats.Observed(3, -42L, Seq("a"))).isEmpty)
    assert(Stats.check(e, Stats.Observed(3, 41L, Seq("a"))).exists(_.contains("checksum")))
    assert(Stats.check(e, Stats.Observed(4, -42L, Seq("a"))).exists(_.contains("rows")))
  }

  test("a contract checks the column set and the minimum row count") {
    val c = Stats.Contract(Seq("b", "a"), minRows = 2)
    assert(Stats.check(c, Stats.Observed(2, 7L, Seq("a", "b"))).isEmpty)
    assert(Stats.check(c, Stats.Observed(1, 7L, Seq("a", "b"))).exists(_.contains("minimum")))
    assert(Stats.check(c, Stats.Observed(5, 7L, Seq("a", "c"))).exists(_.contains("columns")))
  }

  test("metric names follow [A-Za-z0-9_.-]+") {
    Seq("setup_s", "pass_s_p50", "plan.phase_ms", "trace.overhead", "a-b").foreach(n =>
      assert(Stats.validName(n), n))
    Seq("", "a b", "x/y", "métric", "a:b").foreach(n => assert(!Stats.validName(n), n))
  }

  test("the metrics a run prints are exactly those BENCHMARK.json declares") {
    val file = Seq(new java.io.File("../BENCHMARK.json"), new java.io.File("BENCHMARK.json"))
      .find(_.isFile).getOrElse(fail("BENCHMARK.json not found"))
    val json = new com.fasterxml.jackson.databind.ObjectMapper().readTree(file)
    def declared(key: String): Seq[(String, String)] = {
      val it = json.get(key).elements()
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .map(m => m.get("name").asText -> m.get("unit").asText).toSeq
    }
    assert(declared("end_to_end") == Main.EndToEnd)
    val layers = Tracer.Metrics.map(n => n -> Tracer.unitOf(n)) :+ ("trace.overhead" -> "ratio")
    assert(declared("per_layer").toSet == layers.toSet)
    (Main.EndToEnd ++ layers).foreach { case (n, _) => assert(Stats.validName(n), n) }
  }

  test("job intervals are covered once where they overlap") {
    assert(Tracer.covered(Seq((0L, 10L), (5L, 15L), (20L, 30L))) == 25.0)
    assert(Tracer.covered(Seq((0L, 10L), (2L, 3L))) == 10.0)
    assert(Tracer.covered(Nil) == 0.0)
  }

  test("stages are attributed by their call stacks") {
    val loop = "org.apache.spark.rdd.RDD.count(RDD.scala:1)\ngraft.ops.Graph$.pageRank(Graph.scala:10)\nperfbench.Main$.run(Main.scala:1)"
    val cc = "graft.ops.Similarity$.$anonfun$connectedComponents$2(Similarity.scala:5)\ngraft.ops.Graph$.x(Graph.scala:1)"
    val ml = "org.apache.spark.ml.tree.impl.RandomForest$.run(RandomForest.scala:1)\ngraft.ml.RandomForestPipeline$.fit(R.scala:1)"
    val other = "graft.ops.Relational$.histRate(Relational.scala:1)\ngraft.ops.Graph$.x(Graph.scala:1)"
    assert(Tracer.kindOf(loop) == Tracer.Loop)
    assert(Tracer.kindOf(cc) == Tracer.Loop)
    assert(Tracer.kindOf(ml) == Tracer.Ml)
    assert(Tracer.kindOf(other) == Tracer.Other)
    assert(Tracer.kindOf(null) == Tracer.Other)
  }
}
