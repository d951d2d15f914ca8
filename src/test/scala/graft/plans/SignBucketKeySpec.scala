package graft.plans

import graft.SparkSpec
import graft.functions.{Vectors => V}
import org.apache.spark.sql.functions._

/** The fused sign-LSH key must be BIT-IDENTICAL to the composed form it
  * replaced (per-bit graft_dot > 0 → 1L << w, summed) — the composed form
  * is what the q_ann_lsh_det DuckDB oracle mirrors, so this equality is
  * what licenses swapping the plan under the unchanged oracle. The fusion
  * exists because 16 tables × bits inlined dot loops blew Janino's 64 KB
  * method limit and dropped the whole signature scan to interpreted
  * evaluation (r10 sf100 probe). */
class SignBucketKeySpec extends SparkSpec {
  import spark.implicits._

  private val dims = 64
  private val bits = 4
  private def planes(t: Int): Array[Double] =
    Array.tabulate(bits * dims) { i =>
      val w = i / dims
      val d = i % dims
      ((1103515245L * ((t.toLong * bits + w) * dims + d) + 12345L) % 2147483647L)
        .toDouble / 2147483647.0 * 2 - 1
    }

  private lazy val vecs = (0 until 200).map { i =>
    val r = new scala.util.Random(i)
    (i.toLong, Array.fill(dims)(r.nextFloat() * 2 - 1))
  }.toDF("id", "emb")

  test("fused key equals the composed per-bit graft_dot form on every row and table") {
    for (t <- Seq(0, 7, 15)) {
      val p = planes(t)
      val composed = (0 until bits).map { w =>
        val plane = array((0 until dims).map(d => lit(p(w * dims + d))): _*)
        when(V.dotNative($"emb".cast("array<double>"), plane) > 0, lit(1L << w))
          .otherwise(lit(0L))
      }.reduce(_ + _)
      val fused = call_function("graft_sign_key",
        $"emb".cast("array<double>"), lit(p), lit(bits))
      val diff = vecs.select(composed.as("c"), fused.as("f"))
        .filter($"c" =!= $"f").count()
      assert(diff == 0, s"table $t: fused key diverges from composed form on $diff rows")
    }
  }

  test("degenerate inputs mirror the composed form: null or mismatched embedding → key 0") {
    // composed: dot → null → when(null > 0) → otherwise(0), summed = 0
    val df = Seq(
      (1L, Some(Array.fill(dims)(0.5f))),
      (2L, None),                       // null embedding
      (3L, Some(Array(1.0f, 2.0f)))     // wrong dimensionality
    ).toDF("id", "emb")
    val out = df.select($"id", call_function("graft_sign_key",
        $"emb".cast("array<double>"), lit(planes(0)), lit(bits)).as("k"))
      .as[(Long, Long)].collect().toMap
    assert(out(2L) == 0L, "null embedding must key to 0, not null")
    assert(out(3L) == 0L, "dim mismatch must key to 0, not null")
    assert(out(1L) != 0L, "fixture degenerate: constant vector keyed to 0")
  }

  test("graft_sign_key rejects non-foldable structural args with an AnalysisException") {
    // ADVICE r10: the non-foldable case must surface on the same error
    // path as the arity check (analysis), not as an IllegalArgumentException
    val df = Seq((1L, Array.fill(dims)(0.5))).toDF("id", "emb")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      df.select(call_function("graft_sign_key", $"emb", $"emb", lit(bits)))
    }
    assert(e.getMessage.contains("foldable"), s"unexpected message: ${e.getMessage}")
  }

  test("graft_sign_key bits literal: in-range Long accepted, out-of-range rejected") {
    val df = Seq((1L, Array.fill(dims)(0.5))).toDF("id", "emb")
    // a Long literal in Int range must behave exactly like the Int literal
    val asInt = df.select(call_function("graft_sign_key", $"emb", lit(planes(0)), lit(bits)))
      .as[Long].head()
    val asLong = df.select(call_function("graft_sign_key", $"emb", lit(planes(0)), lit(bits.toLong)))
      .as[Long].head()
    assert(asInt == asLong)
    // ADVICE r10: a Long past Int.MaxValue was silently truncated with toInt
    val e = intercept[Exception] {
      df.select(call_function("graft_sign_key", $"emb", lit(planes(0)), lit(5000000000L)))
    }
    assert(e.getMessage.contains("32-bit"), s"unexpected message: ${e.getMessage}")
  }

  test("widening pairs are distinct hyperplanes within every table (ADVICE r10)") {
    // two widening bits on the same unordered axis pair — in either
    // orientation — are perfectly correlated and silently shrink the
    // effective key width below adaptiveSignBits' occupancy target
    val maxWiden = 59 // 63-bit key cap minus the 4 base bits
    for (t <- 0 until 16) {
      val flat = graft.ops.Similarity.widenPairsFor(t, maxWiden)
      assert(flat.length == maxWiden * 2)
      val pairs = flat.grouped(2).map { p =>
        assert(p(0) != p(1), s"table $t: degenerate pair ${p.toSeq}")
        assert(p(0) >= 0 && p(0) < dims && p(1) >= 0 && p(1) < dims)
        (math.min(p(0), p(1)), math.max(p(0), p(1)))
      }.toSeq
      assert(pairs.distinct.size == maxWiden,
        s"table $t: ${maxWiden - pairs.distinct.size} duplicate widening hyperplanes")
    }
  }

  test("signature scan stays inside WholeStageCodegen (the fusion's whole point)") {
    val dir = graft.GraftSession.scratchDir("signkey")
    vecs.write.mode("overwrite").parquet(dir)
    val sigs = graft.ops.Similarity.hyperplaneSignatures(
      spark.read.parquet(dir).select($"id".as("vec_id"), $"emb".as("embedding")))
    // executedPlan.toString renders codegen membership as a `*(stageId)`
    // prefix; the Generate (explode) carrying the key expressions is the
    // node that previously fell out
    val plan = sigs.queryExecution.executedPlan.toString
    val genLine = plan.linesIterator.find(_.contains("Generate explode"))
    assert(genLine.exists(_.trim.stripPrefix("+- ").startsWith("*(")),
      s"signature Generate is outside WholeStageCodegen:\n$plan")
    // and it must actually evaluate (codegen path, not just compile)
    assert(sigs.count() == 200L * 16)
  }
}
