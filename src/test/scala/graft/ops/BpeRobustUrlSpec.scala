package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Properties of the round-5 fourth-wave operators that the SQL oracles
  * cannot state: BPE's merge semantics against an independent in-memory
  * implementation (including the greedy-leftmost overlap case and the
  * tie-break), triangle counting vs brute force on a planted graph,
  * MAD/quantile invariants, the z-score recomputed from first principles,
  * and the URL canonicalization rules case by case.
  */
class BpeRobustUrlSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  // ---- BPE ----

  /** Independent reference BPE: greedy-leftmost merge over symbol lists. */
  private def refBpe(words: Map[String, Long], k: Int): Seq[(Int, String, String, Long)] = {
    var vocab: Seq[(List[String], Long)] =
      words.toSeq.map { case (w, c) => (w.toList.map(_.toString), c) }
    (1 to k).map { step =>
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((syms, c) <- vocab; Seq(a, b) <- syms.sliding(2) if syms.size >= 2)
        counts((a, b)) = counts.getOrElse((a, b), 0L) + c
      val ((l, r), c) = counts.toSeq.sortBy { case ((a, b), n) => (-n, a, b) }.head
      vocab = vocab.map { case (syms, cnt) =>
        val out = scala.collection.mutable.ListBuffer.empty[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
            out += (l + r); i += 2
          } else { out += syms(i); i += 1 }
        }
        (out.toList, cnt)
      }
      (step, l, r, c)
    }
  }

  private def delimited(w: String): String = w.map(c => s"|$c|").mkString("|", "", "|")

  test("BPE train matches the reference on overlap (aaaa) and tie-break fixtures") {
    import spark.implicits._
    // 'aaaa' forces greedy-leftmost (merging a,a must yield (aa)(aa), never
    // 3 overlapping pairs: count 2 per word occurrence at step 2); 'xy'/'xz'
    // with equal counts forces the lexicographic tie-break
    val words = Map("aaaa" -> 3L, "aab" -> 2L, "xy" -> 5L, "xz" -> 5L, "q" -> 9L)
    val vocab = words.toSeq.map { case (w, c) => (delimited(w), c) }
      .toDF("w", "cnt")
    val got = Bpe.train(vocab, 4).as[(Int, String, String, Long)].collect().toSeq
    val want = refBpe(words, 4)
    assert(got === want)
    // and the overlap case concretely: step 1 merges (a,a) seen 3×3+1×2=11
    assert(got.head === ((1, "a", "a", 11L)))
  }

  test("BPE stops at the first round with no adjacent pair and keeps its merges") {
    import spark.implicits._
    // one 5-symbol word has exactly 4 merges in it, whatever k asks for
    val one = Bpe.train(Seq(("abcde", delimited("abcde"), 1L)).toDF("word", "w", "cnt"), 9)
      .as[(Int, String, String, Long)].collect().toSeq
    assert(one === refBpe(Map("abcde" -> 1L), 4))
    // single-character words have no pair at all
    val singles = Seq(("a", delimited("a"), 1L), ("b", delimited("b"), 3L))
      .toDF("word", "w", "cnt")
    assert(Bpe.train(singles, 2).count() == 0)
  }

  test("BPE on the corpus: 10 steps, positive tie-broken counts, valid symbols") {
    val rows = Bpe.bpeMerges(spark, sf).orderBy("step").collect()
    assert(rows.map(_.getInt(0)).toSeq === (1 to 10))
    rows.foreach { r =>
      assert(r.getString(1).matches("[a-z0-9]+") && r.getString(2).matches("[a-z0-9]+"))
      assert(r.getLong(3) > 0)
    }
  }

  test("wordpiece: hand-computed greedy longest-match fixture") {
    import spark.implicits._
    val dir = new java.io.File(graft.GraftSession.scratchDir("graft-wp-"))
    Seq((1L, "aaaa aaaa aa")).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("src1"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"${dir.getAbsolutePath}/documents.parquet")
    // words: aaaa×2, aa×1 → grams scored cnt×(len−1) per occurrence:
    // aa 3·2·1+1·1·1=7, aaa 2·2·2=8, aaaa 1·2·3=6 — all in the top-64.
    // Greedy: "aaaa" probes len4 first → ONE token (not aa+aa); "aa" → one.
    val r = Bpe.wordpiece(spark, dir.getAbsolutePath).collect()
    assert(r.length == 1)
    assert(r.head.getAs[Long]("n_words") == 3L)
    assert(r.head.getAs[Long]("n_chars") == 10L)
    assert(r.head.getAs[Long]("n_tokens") == 3L,
      "longest-match must take whole 'aaaa' as one piece, not two 'aa's")
    assert(r.head.getAs[Long]("fertility_micro") == 1000000L)
    assert(r.head.getAs[Long]("compression_micro") == 3333333L)
  }

  test("wordpiece on the corpus: token bounds and subword compression hold") {
    val rows = Bpe.wordpiece(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (w, c, t) = (r.getAs[Long]("n_words"), r.getAs[Long]("n_chars"), r.getAs[Long]("n_tokens"))
      assert(t >= w, "at least one token per word")
      assert(t <= c, "never more tokens than characters")
      assert(r.getAs[Long]("compression_micro") > 1000000L,
        "the induced vocabulary must beat character-level tokenization")
    }
  }

  // ---- triangles ----

  test("triangle counts match brute force on a planted graph with a hub") {
    import spark.implicits._
    // K4 on {1,2,3,4} (4 triangles) + hub 10 connected to 11..16 (star, no
    // triangles) + triangle {10,11,12} closing two star edges
    val und = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (10L, 11L), (10L, 12L), (10L, 13L), (10L, 14L), (10L, 15L), (10L, 16L),
      (11L, 12L))
    val got = Graph.triangleCounts(und.toDF("u", "v"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    // brute force over all node triples
    val nodes = und.flatMap(e => Seq(e._1, e._2)).distinct
    val es = und.map(e => Set(e._1, e._2)).toSet
    val triples = nodes.combinations(3).filter(t =>
      es(Set(t(0), t(1))) && es(Set(t(0), t(2))) && es(Set(t(1), t(2)))).toSeq
    val wantTri = nodes.map(n => n -> triples.count(_.contains(n)).toLong).toMap
    val wantDeg = nodes.map(n => n -> und.count(e => e._1 == n || e._2 == n).toLong).toMap
    nodes.foreach { n =>
      assert(got(n) === ((wantDeg(n), wantTri(n))), s"node $n")
    }
    // each triangle contributes to exactly 3 nodes
    assert(got.values.map(_._2).sum === 3L * triples.size)
  }

  // ---- MAD outliers ----

  test("MAD outliers match a brute-force median/MAD per group") {
    val rows = Robust.madOutliers(spark, sf).collect()
    assert(rows.nonEmpty)
    val data = graft.Tables.orders(spark, sf)
      .select(col("o_orderstatus"), round(col("o_totalprice") * 100).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1))).groupBy(_._1)
    def med2Of(vs: Seq[Long]): Long = {
      val s = vs.sorted
      s((s.size - 1) / 2) + s(s.size / 2)
    }
    rows.foreach { r =>
      val g = r.getAs[String]("g")
      val vs = data(g).map(_._2).toSeq
      val med2 = med2Of(vs)
      val dev2 = vs.map(v => math.abs(2 * v - med2))
      val mad4 = med2Of(dev2)
      val outliers = vs.filter(v => 2 * math.abs(2 * v - med2) > 3 * mad4)
      assert(r.getAs[Long]("n") === vs.size)
      assert(r.getAs[Long]("med2") === med2, s"group $g med2")
      assert(r.getAs[Long]("mad4") === mad4, s"group $g mad4")
      assert(r.getAs[Long]("n_outliers") === outliers.size, s"group $g outliers")
      assert(r.getAs[Long]("outlier_sum_c") === outliers.sum, s"group $g outlier sum")
    }
  }

  test("quantile buckets partition each segment with ordered, disjoint ranges") {
    val rows = Robust.quantileBucket(spark, sf).collect()
      .map(r => (r.getAs[String]("seg"), r.getAs[Int]("bucket"),
        r.getAs[Long]("n"), r.getAs[Long]("min_c"), r.getAs[Long]("max_c")))
    val perSeg = rows.groupBy(_._1)
    val total = graft.Tables.customer(spark, sf).count()
    assert(rows.map(_._3).sum === total)
    perSeg.foreach { case (seg, bs) =>
      val sorted = bs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq === (1 to sorted.size), s"seg $seg buckets")
      // ranges are ordered: bucket k's max <= bucket k+1's min
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._5 <= b._4, s"seg $seg overlap")
        case _ =>
      }
    }
  }

  // ---- A/B test ----

  test("z-score agrees with first-principles recomputation from the counts") {
    val r = Analytics.abTest(spark, sf).collect().head
    val (n0, n1, c0, c1) = (r.getAs[Long]("n0"), r.getAs[Long]("n1"),
      r.getAs[Long]("c0"), r.getAs[Long]("c1"))
    assert(n0 > 0 && n1 > 0)
    val (p0, p1) = (c0.toDouble / n0, c1.toDouble / n1)
    val pp = (c0 + c1).toDouble / (n0 + n1)
    val z = (p1 - p0) / math.sqrt(pp * (1.0 - pp) * (1.0 / n0 + 1.0 / n1))
    assert(math.abs(r.getAs[Double]("p0") - p0) < 1e-12)
    assert(math.abs(r.getAs[Double]("p1") - p1) < 1e-12)
    assert(math.abs(r.getAs[Double]("z") - z) < 1e-9, s"z ${r.getAs[Double]("z")} vs $z")
    assert(!z.isNaN && !z.isInfinite)
  }

  // ---- URL canonicalization ----

  test("canonicalization handles each messy-URL rule") {
    import spark.implicits._
    val cases = Seq(
      ("HTTPS://Host.Example.COM:443/p/5/?utm_source=a&utm_campaign=b&ref=1#top",
        "https://host.example.com/p/5?ref=1"),
      ("https://host.example.com/p/5", "https://host.example.com/p/5"),
      ("https://h.com/p/7/?utm_x=1", "https://h.com/p/7"),           // all-utm query drops entirely
      ("https://h.com/p/7?ref=2&utm_medium=m", "https://h.com/p/7?ref=2"),
      ("HTTP://A.B/x#frag", "http://a.b/x"),
      ("https://h.com/", "https://h.com/"))                          // root slash survives
    val got = cases.map(_._1).toDF("u")
      .select(Url.canonical(col("u")).as("c")).collect().map(_.getString(0))
    got.zip(cases.map(_._2)).foreach { case (g, w) => assert(g === w) }
  }

  test("url normalize: variants collapse and doc counts conserve") {
    val out = Url.urlNormalize(spark, sf).cache()
    val total = graft.Tables.documents(spark, sf).count()
    assert(out.agg(sum("n_docs")).head().getLong(0) === total)
    // the planted messiness guarantees real collapses somewhere
    assert(out.filter(col("n_raw_variants") > 1).count() > 0)
    // every canonical url is already canonical (idempotence)
    assert(out.filter(Url.canonical(col("canonical_url")) =!= col("canonical_url")).count() === 0)
    out.unpersist()
  }
}
