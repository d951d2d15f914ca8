package graft.plans

import graft.SparkSpec
import graft.functions.{Text, cents, Vectors => V}
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Generator-driven bit-equality fuzz for the native Catalyst
  * expressions (r13 verdict item 3) — the one place in the repo where a
  * wrong answer could hide outside SQL's reach, because each replaces an
  * interpreted HOF/composed form with hand-written codegen.
  *
  * Method: scalacheck generators (fixed seed — failures reproduce)
  * produce 1000+ adversarial inputs per expression: astral-plane
  * surrogate pairs, lone surrogates, exotic whitespace, empty/huge
  * strings, NaN/±0.0/±Inf/denormal doubles, nulls, length mismatches.
  * Samples are batched through a PARQUET round-trip so the native side
  * runs its real WholeStageCodegen path over a file scan (a local
  * relation would constant-fold to interpreted eval before codegen), and
  * every row is compared against the HOF/composed reference twin the
  * DuckDB oracles mirror. Doubles compare via `doubleToLongBits`
  * (distinguishes ±0.0, canonicalizes NaN).
  *
  * This fuzz is what turned up the r13 UTF-16-unit/codepoint divergence:
  * Spark's `length`/`substr`/`split`/`ascii` are codepoint-based, the
  * native kgram/simhash loops hashed UTF-16 units — bit-identical on BMP
  * input only. The native loops now decode codepoints (KgramHashes.scala,
  * SimhashDet.scala) and the properties here hold over all of unicode.
  */
class NativeExprPropertySpec extends SparkSpec {
  import spark.implicits._

  private val params = Gen.Parameters.default

  private def samples[T](g: Gen[T], n: Int, seed: Long): Seq[T] =
    Gen.listOfN(n, g).pureApply(params, Seed(seed))

  /** Round-trip a dataframe through parquet so the comparison select runs
    * the native expression through codegen over a real file scan. */
  private def viaParquet(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val dir = graft.GraftSession.scratchDir("graft-fuzz-")
    df.write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  // ---------------------------------------------------------------- strings

  private val exoticWs =
    Gen.oneOf(' ', '\t', '\n', '\r', '\f', '\u000B', '\u00A0',
      '\u1680', '\u2028', '\u3000')
  private val bmpChar: Gen[Char] = Gen.frequency(
    5 -> Gen.asciiPrintableChar,
    2 -> exoticWs,
    2 -> Gen.choose('\u0080', '\uD7FF'),
    1 -> Gen.choose('\uE000', '\uFFFD'))
  private val astralPair: Gen[String] = for {
    hi <- Gen.choose('\uD800', '\uDBFF')
    lo <- Gen.choose('\uDC00', '\uDFFF')
  } yield s"$hi$lo"
  // lone surrogates are normalized to '?' by UTF8String before EITHER side
  // evaluates — included to pin that the normalization can't split the twins
  private val loneSurrogate: Gen[String] =
    Gen.choose('\uD800', '\uDFFF').map(_.toString)
  private val piece: Gen[String] = Gen.frequency(
    6 -> bmpChar.map(_.toString),
    2 -> astralPair,
    1 -> loneSurrogate)
  private val strGen: Gen[String] = Gen.frequency(
    8 -> (for { n <- Gen.choose(0, 80); ps <- Gen.listOfN(n, piece) } yield ps.mkString),
    1 -> Gen.const(""),
    1 -> Gen.listOfN(30, exoticWs).map(_.mkString),
    1 -> (for { n <- Gen.choose(1500, 2500); ps <- Gen.listOfN(n, piece) } yield ps.mkString))

  test("fuzz: graft_kgrams == HOF kgramHashes over 1200 unicode strings × k ∈ {1,3,8,40}") {
    for ((k, seed) <- Seq(1 -> 11L, 3 -> 12L, 8 -> 13L, 40 -> 14L)) {
      val strs = samples(strGen, 300, seed)
      val df = viaParquet(strs.toDF("s"))
      val rows = df.select($"s",
        Text.kgramHashes($"s", k).as("hof"),
        Text.kgramHashesNative($"s", k).as("native"))
        .as[(String, Seq[Long], Seq[Long])].collect()
      assert(rows.length == 300)
      rows.foreach { case (s, h, n) =>
        assert(h == n, s"k=$k diverges on ${s.take(40).map(c => f"\\u${c.toInt}%04x").mkString}: " +
          s"hof=${h.take(5)}... native=${n.take(5)}...")
      }
    }
  }

  test("fuzz: graft_simhash == HOF simhashDet over 1200 unicode strings") {
    val strs = samples(strGen, 1200, 21L)
    val df = viaParquet(strs.toDF("s"))
    val rows = df.select($"s",
      Text.simhashDet($"s").as("hof"),
      Text.simhashDetNative($"s").as("native"))
      .as[(String, Long, Long)].collect()
    assert(rows.length == 1200)
    rows.foreach { case (s, h, n) =>
      assert(h == n, s"simhashDet diverges on ${s.take(40).map(c => f"\\u${c.toInt}%04x").mkString}: $h vs $n")
    }
  }

  test("fuzz: graft_simhash64 == HOF simhash64 over 1200 unicode strings") {
    val strs = samples(strGen, 1200, 31L)
    val df = viaParquet(strs.toDF("s"))
    val rows = df.select($"s",
      Text.simhash64($"s").as("hof"),
      Text.simhash64Native($"s").as("native"))
      .as[(String, Long, Long)].collect()
    assert(rows.length == 1200)
    rows.foreach { case (s, h, n) =>
      assert(h == n, s"simhash64 diverges on ${s.take(40).map(c => f"\\u${c.toInt}%04x").mkString}: $h vs $n")
    }
  }

  test("fuzz: graft_normalize == composed lower/regex/trim over 1200 unicode strings") {
    val strs = samples(strGen, 1200, 61L)
    val df = viaParquet(strs.toDF("s"))
    val rows = df.select($"s",
      Text.normalizedPortable($"s").as("composed"),
      Text.normalized($"s").as("native"))
      .as[(String, String, String)].collect()
    assert(rows.length == 1200)
    rows.foreach { case (s, c, n) =>
      assert(c == n, s"normalize diverges on ${s.take(40).map(ch => f"\\u${ch.toInt}%04x").mkString}: " +
        s"composed=${c.take(60)} native=${n.take(60)}")
    }
  }

  test("fuzz: graft_minhash_sig == composed distinct-shingle minhash over unicode strings × k ∈ {1,3,8}") {
    for ((k, seed) <- Seq(1 -> 71L, 3 -> 72L, 8 -> 73L)) {
      val strs = samples(strGen, 300, seed)
      val df = viaParquet(strs.toDF("s"))
      val rows = df.select($"s",
        Text.minhashSignatures(array_distinct(Text.kgramHashes($"s", k)), 12).as("composed"),
        Text.minhashSigNative($"s", k, 12).as("native"))
        .as[(String, Seq[Option[Long]], Seq[Option[Long]])].collect()
      assert(rows.length == 300)
      rows.foreach { case (s, c, n) =>
        assert(c == n, s"minhash_sig k=$k diverges on ${s.take(40).map(ch => f"\\u${ch.toInt}%04x").mkString}: " +
          s"composed=${c.take(4)}... native=${n.take(4)}...")
      }
    }
  }

  test("fuzz: graft_kgram_stats == composed size/array_distinct counts over unicode strings × k ∈ {1,8}") {
    for ((k, seed) <- Seq(1 -> 81L, 8 -> 82L)) {
      val strs = samples(strGen, 300, seed)
      val df = viaParquet(strs.toDF("s"))
      val rows = df.select($"s",
        size(Text.kgramHashes($"s", k)).cast("long").as("cg"),
        size(array_distinct(Text.kgramHashes($"s", k))).cast("long").as("cd"),
        Text.kgramStatsNative($"s", k).as("native"))
        .as[(String, Long, Long, Seq[Long])].collect()
      assert(rows.length == 300)
      rows.foreach { case (s, cg, cd, n) =>
        assert(Seq(cg, cd) == n, s"kgram_stats k=$k diverges on " +
          s"${s.take(40).map(ch => f"\\u${ch.toInt}%04x").mkString}: composed=[$cg,$cd] native=$n")
      }
    }
  }

  test("fuzz: graft_md5_long == composed conv/substring/md5 over 1200 unicode strings") {
    val strs = samples(strGen, 1200, 91L)
    val df = viaParquet(strs.toDF("s"))
    val rows = df.select($"s",
      Text.md5LongPortable($"s").as("composed"),
      Text.md5Long($"s").as("native"))
      .as[(String, Long, Long)].collect()
    assert(rows.length == 1200)
    rows.foreach { case (s, c, n) =>
      assert(c == n, s"md5_long diverges on ${s.take(40).map(ch => f"\\u${ch.toInt}%04x").mkString}: " +
        s"composed=$c native=$n")
    }
  }

  test("fuzz: graft_md5_chunks == composed per-chunk conv/substring/md5 over 1200 unicode strings") {
    val strs = samples(strGen, 1200, 92L)
    val df = viaParquet(strs.toDF("s"))
    val composed = (0 until 4).map(j =>
      conv(substring(md5($"s".cast("binary")), 1 + 7 * j, 7), 16, 10).cast("long"))
    val rows = df.select($"s",
      array(composed: _*).as("composed"),
      call_function("graft_md5_chunks", $"s".cast("binary")).as("native"))
      .as[(String, Seq[Long], Seq[Long])].collect()
    assert(rows.length == 1200)
    rows.foreach { case (s, c, n) =>
      assert(c == n, s"md5_chunks diverges on ${s.take(40).map(ch => f"\\u${ch.toInt}%04x").mkString}: " +
        s"composed=$c native=$n")
    }
  }

  test("fuzz: graft_token_stats == composed occurrence/token/punct/char counts over 1500 unicode strings") {
    val dicts = Seq(
      Seq("the", "a", "of", "and", "to", "in", "is"), // qualityCol's stopwords
      Seq("k", "i", "is", "der", "und"))              // exotic-fold bait (K→k, İ)
    // dictionary words, case flips, and fold-adversarial codepoints mixed
    // with the generic pieces: Kelvin sign (lowers to ASCII k), İ (lowers
    // to i + U+0307), final-sigma context, NBSP / ideographic space (NOT
    // Java \s — they belong to tokens), punct runs
    val wordish: Gen[String] = Gen.oneOf(
      "the", "The", "THE", "a", "A", "of", "In", "is", "IS", "K", "K",
      "İ", "k", "i", "i̇", "ΣΑΣ", "der", "und",
      "a.b,c", "!?;:", "x y", "z　w")
    val sep: Gen[String] = Gen.frequency(
      5 -> Gen.const(" "), 2 -> Gen.const("\t"), 1 -> Gen.const("\r\n"),
      1 -> Gen.const("  "), 1 -> Gen.const(""), 1 -> Gen.const(""))
    val tokenish: Gen[String] = for {
      n <- Gen.choose(0, 15)
      parts <- Gen.listOfN(n, Gen.frequency(3 -> wordish, 2 -> piece))
      seps <- Gen.listOfN(n + 1, sep)
    } yield seps.zip(parts :+ "").map { case (s, p) => s + p }.mkString
    val gen = Gen.frequency(3 -> tokenish, 2 -> strGen)
    val strs = samples(gen, 1500, 93L)
    val df = viaParquet(strs.toDF("s"))
    val composed = array(
      (dicts.map { d =>
        val dict = array(d.map(lit): _*)
        size(filter(Text.tokensLower($"s"), t => array_contains(dict, t))).cast("long")
      } ++ Seq(
        size(Text.tokens($"s")).cast("long"),
        Text.tokenCharSum($"s").cast("long"),
        Text.punctCount($"s").cast("long"),
        length($"s").cast("long"))): _*)
    val rows = df.select($"s",
      composed.as("composed"),
      Text.tokenStats($"s", dicts).as("native"))
      .as[(String, Seq[Long], Seq[Long])].collect()
    assert(rows.length == 1500)
    rows.foreach { case (s, c, n) =>
      assert(c == n, s"token_stats diverges on ${s.take(60).map(ch => f"\\u${ch.toInt}%04x").mkString}: " +
        s"composed=$c native=$n")
    }
    // fixture sanity: the bait dict must actually match sometimes
    assert(rows.map(_._3(1)).sum > 50, "fixture degenerate: exotic dict never matches")
  }

  // ---------------------------------------------------------------- doubles

  private val specialD: Gen[Double] = Gen.oneOf(
    Double.NaN, 0.0, -0.0, Double.PositiveInfinity, Double.NegativeInfinity,
    Double.MinPositiveValue, java.lang.Double.MIN_NORMAL, Double.MaxValue,
    Double.MinValue, 1e300, -1e-300, 1.0, -1.0)
  private val anyD: Gen[Double] = Gen.frequency(
    6 -> Gen.chooseNum(-1e6, 1e6),
    3 -> specialD,
    1 -> Gen.chooseNum(Long.MinValue, Long.MaxValue).map(l =>
      java.lang.Double.longBitsToDouble(l)))
  private def vecGen(len: Gen[Int]): Gen[Option[Array[Double]]] = Gen.frequency(
    9 -> (for { n <- len; xs <- Gen.listOfN(n, anyD) } yield Some(xs.toArray)),
    1 -> Gen.const(Option.empty[Array[Double]]))

  test("fuzz: graft_dot == HOF aggregate/zip_with fold over 1200 vector pairs") {
    // 80% matched lengths (the defined domain), 20% mismatched (both
    // sides must yield null), plus empty arrays and null arrays
    val pairGen: Gen[(Option[Array[Double]], Option[Array[Double]])] = for {
      n <- Gen.frequency(6 -> Gen.const(64), 2 -> Gen.choose(0, 8), 1 -> Gen.const(1))
      a <- vecGen(Gen.const(n))
      b <- Gen.frequency(
        8 -> vecGen(Gen.const(n)),
        2 -> vecGen(Gen.oneOf(0, 1, n + 1, 63)))
    } yield (a, b)
    val pairs = samples(pairGen, 1200, 41L)
    val df = viaParquet(pairs.toDF("a", "b"))
    val rows = df.select(
      V.dot($"a", $"b").as("hof"),
      V.dotNative($"a", $"b").as("native"))
      .as[(Option[Double], Option[Double])].collect()
    assert(rows.length == 1200)
    var nonNull = 0
    rows.zipWithIndex.foreach { case ((h, n), i) =>
      val hb = h.map(java.lang.Double.doubleToLongBits)
      val nb = n.map(java.lang.Double.doubleToLongBits)
      assert(hb == nb,
        s"dot diverges on row $i (a=${pairs(i)._1.map(_.take(4).mkString(","))} ...): $h vs $n")
      if (n.isDefined) nonNull += 1
    }
    assert(nonNull > 600, s"fixture degenerate: only $nonNull non-null dots")
  }

  test("fuzz: graft_sign_key == composed per-bit dot/axis-pair form over 1200 embeddings") {
    val dims = 16
    val baseBits = 4
    val widenPairs = Array(0, 1, 5, 9, 14, 2) // 3 widening bits
    val planes = Array.tabulate(baseBits * dims) { i =>
      ((1103515245L * i + 12345L) % 2147483647L).toDouble / 2147483647.0 * 2 - 1
    }
    val embGen: Gen[Option[Array[Double]]] = Gen.frequency(
      8 -> vecGen(Gen.const(dims)),
      1 -> vecGen(Gen.oneOf(0, 1, dims - 1, dims + 1)),
      1 -> Gen.const(Option.empty[Array[Double]]))
    val embs = samples(embGen, 1200, 51L)
    val df = viaParquet(embs.toDF("emb"))
    // composed reference: per-bit graft_dot > 0 plus per-pair element_at
    // comparisons — mirrors the q_ann_lsh_det oracle's SQL shape. The
    // null/mismatch contract differs by design (composed: null dot →
    // otherwise(0) per bit; fused: whole key 0) — identical outcomes.
    val base = (0 until baseBits).map { w =>
      val plane = array((0 until dims).map(d => lit(planes(w * dims + d))): _*)
      when(V.dotNative($"emb", plane) > 0, lit(1L << w)).otherwise(lit(0L))
    }.reduce(_ + _)
    val widened = widenPairs.grouped(2).zipWithIndex.map { case (Array(a, b), i) =>
      when(size($"emb") === dims &&
        element_at($"emb", a + 1) > element_at($"emb", b + 1),
        lit(1L << (baseBits + i))).otherwise(lit(0L))
    }.reduce(_ + _)
    val composed = when($"emb".isNull || size($"emb") =!= dims, lit(0L))
      .otherwise(base + widened)
    val fused = call_function("graft_sign_key",
      $"emb", lit(planes), lit(baseBits), lit(widenPairs))
    val rows = df.select(composed.as("c"), fused.as("f"))
      .as[(Long, Long)].collect()
    assert(rows.length == 1200)
    rows.zipWithIndex.foreach { case ((c, f), i) =>
      assert(c == f,
        s"sign key diverges on row $i (emb=${embs(i).map(_.take(4).mkString(","))}): $c vs $f")
    }
    assert(rows.map(_._2).distinct.length > 8, "fixture degenerate: keys barely vary")
  }

  // ------------------------------------------------------------------ cents

  private def withAnsi[T](on: Boolean)(body: => T): T = {
    val key = "spark.sql.ansi.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, on.toString)
    try body finally spark.conf.set(key, prev)
  }

  test("fuzz: graft_cents == round(x * 100).cast(long) over 2000+ doubles, ANSI on and off") {
    def around(x: Double, k: Int): Seq[Double] =
      Iterator.iterate(x)(Math.nextUp).take(k + 1).toSeq ++
        Iterator.iterate(x)(Math.nextDown).slice(1, k + 1).toSeq
    // (n + 0.5)/100 lands on, just above or just below the cent tie once
    // multiplied back; nextUp/nextDown push it off on purpose
    val tie: Gen[Double] = for {
      n <- Gen.frequency(4 -> Gen.choose(0L, 100000L), 2 -> Gen.choose(0L, 1L << 40),
        1 -> Gen.choose(0L, (1L << 52) - 1))
      sign <- Gen.oneOf(1.0, -1.0)
      step <- Gen.oneOf(-1, 0, 0, 1)
    } yield {
      val t = sign * (n + 0.5) / 100
      if (step > 0) Math.nextUp(t) else if (step < 0) Math.nextDown(t) else t
    }
    val randomD: Gen[Double] = Gen.frequency(
      6 -> Gen.chooseNum(-1e6, 1e6),
      2 -> Gen.chooseNum(-1e13, 1e13),
      1 -> Gen.chooseNum(Long.MinValue, Long.MaxValue).map(java.lang.Double.longBitsToDouble))
    val twoTo52 = math.pow(2, 52)
    val edges = Seq(0.0, -0.0, Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
      Double.MaxValue, Double.MinValue, Double.MinPositiveValue) ++
      Seq(twoTo52 / 100, -twoTo52 / 100, Long.MaxValue.toDouble / 100,
        Long.MinValue.toDouble / 100).flatMap(around(_, 4))
    val xs: Seq[Option[Double]] =
      (samples(randomD, 900, 101L) ++ samples(tie, 1200, 102L) ++ edges).map(Some(_)) :+ None
    val df = viaParquet(xs.zipWithIndex.toDF("x", "i"))
    def pair(frame: DataFrame): Array[(Int, Option[Long], Option[Long])] =
      frame.select($"i", round($"x" * 100).cast("long"), cents($"x"))
        .as[(Int, Option[Long], Option[Long])].collect()
    def assertPairs(rows: Array[(Int, Option[Long], Option[Long])], mode: String): Unit =
      rows.foreach { case (i, c, n) =>
        assert(c == n, s"ANSI $mode: cents diverge on x=${xs(i)}: composed=$c native=$n")
      }

    withAnsi(on = false) {
      val rows = pair(df)
      assert(rows.length == xs.length)
      assertPairs(rows, "off")
    }
    // ANSI on: |x| < 1e14 cannot overflow a long, so those rows compare in
    // one job; every other row runs alone so each side's error is its own
    val safe = (x: Option[Double]) => x.forall(v => math.abs(v) < 1e14)
    withAnsi(on = true) {
      val rows = pair(df.filter($"x".isNull || abs($"x") < 1e14))
      assert(rows.length == xs.count(safe))
      assertPairs(rows, "on")
      var bothThrew = 0
      xs.indices.filterNot(i => safe(xs(i))).foreach { i =>
        val one = df.filter($"i" === i)
        val c = scala.util.Try(one.select(round($"x" * 100).cast("long")).as[Long].head())
        val n = scala.util.Try(one.select(cents($"x")).as[Long].head())
        assert(c.isFailure == n.isFailure && c.toOption == n.toOption,
          s"ANSI on: cents diverge on x=${xs(i)}: composed=$c native=$n")
        if (c.isFailure) bothThrew += 1
      }
      assert(bothThrew >= 5, s"fixture degenerate: only $bothThrew ANSI overflow rows")
    }
    val exactTies = xs.flatten.count(x => math.abs(x * 100) % 1 == 0.5)
    assert(exactTies > 200, s"fixture degenerate: only $exactTies exact cent ties")
  }

  test("graft_cents takes exactly one double argument, checked at analysis") {
    val df = Seq((1, 1.5f, 1.5)).toDF("i", "f", "d")
    Seq($"i", $"f").foreach { c =>
      val e = intercept[AnalysisException](df.select(cents(c)))
      assert(e.getMessage.contains("graft_cents requires a double input"), e.getMessage)
    }
    val arity = intercept[AnalysisException](df.select(call_function("graft_cents", $"d", $"d")))
    assert(arity.getCondition == "WRONG_NUM_ARGS.WITHOUT_SUGGESTION")
    assert(arity.getMessageParameters.get("expectedNum") == "1")
    assert(arity.getMessageParameters.get("actualNum") == "2")
  }
}
