package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-4 corpus/layout operators: BM25 retrieval scoring, passage-level
  * dedup, bigram-LM counts, CDC merge, z-order layout, and the streaming
  * click→purchase join. Exact small-fixture checks run the REGISTERED query
  * bodies against a temp documents.parquet dir (the same path the driver
  * exercises), so the end-to-end column math — not just helpers — is pinned.
  */
class CorpusOpsSpec extends SparkSpec {
  import spark.implicits._

  /** Materialize a fixture corpus as `<tmp>/documents.parquet` so the
    * registered query bodies (which read Tables.documents(dir)) run
    * unmodified against it. */
  private def docsDir(rows: Seq[(Long, String)]): String = {
    val dir = new java.io.File(graft.GraftSession.scratchDir("graft-corpus-"))
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("src1"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"${dir.getAbsolutePath}/documents.parquet")
    dir.getAbsolutePath
  }

  // ------------------------------------------------------------------ BM25

  test("bm25: exact scores on a hand-computed fixture") {
    val dir = docsDir(Seq(
      (1L, "join join join x"),
      (2L, "join y z w"),
      (3L, "q r s t")))
    val rows = LlmData.bm25(spark, dir, terms = Seq("join"))
      .select($"doc_id", $"score_micro").as[(Long, Long)].collect().toMap
    // recompute with the same IEEE double ops the engine uses
    def expected(tf: Long, dl: Long): Long = {
      val nDocs = 3L; val sumDl = 12L; val df = 2L
      val avgdl = sumDl * 1.0 / nDocs
      val idf = (nDocs - df + 0.5) / (df + 0.5)
      val score = idf * (tf * 2.2) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
      math.floor(score * 1000000.0 + 0.5).toLong
    }
    assert(rows(1L) == expected(3, 4))
    assert(rows(2L) == expected(1, 4))
    assert(!rows.contains(3L)) // no query term → no row
  }

  test("bm25 on the driver corpus: positive scores, sorted, deterministic") {
    val dir = "/root/testdata/sf0.001"
    val rows = LlmData.bm25(spark, dir)
      .select($"doc_id", $"n_terms_hit", $"score_micro")
      .as[(Long, Long, Long)].collect()
    assert(rows.nonEmpty && rows.length <= 50)
    assert(rows.forall { case (_, h, s) => h >= 1 && h <= 4 && s > 0 })
    val scores = rows.map(_._3)
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b }, "not sorted desc")
    val again = LlmData.bm25(spark, dir)
      .select($"doc_id", $"n_terms_hit", $"score_micro")
      .as[(Long, Long, Long)].collect()
    assert(rows.toSeq == again.toSeq)
  }

  // -------------------------------------------------------- passage dedup

  test("passageDedup: first occurrence kept, later copies dropped, chars exact") {
    val t = (1 to 40).map(i => s"tok$i")
    val u = (1 to 25).map(i => s"unq$i")
    val dir = docsDir(Seq(
      (1L, t.mkString(" ")),            // passages: t1..t20, t21..t40
      (2L, t.take(20).mkString(" ")),   // == doc1's first passage → dropped
      (3L, u.mkString(" "))))           // unq1..20, unq21..25 — both kept
    val out = LlmData.passageDedup(spark, dir)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val p1 = t.take(20).mkString(" ").length
    val p2 = t.drop(20).mkString(" ").length
    assert(out(1L) == ((2L, 2L, (p1 + p2).toLong)))
    assert(out(2L) == ((1L, 0L, 0L)))
    val u1 = u.take(20).mkString(" ").length
    val u2 = u.drop(20).mkString(" ").length
    assert(out(3L) == ((2L, 2L, (u1 + u2).toLong)))
  }

  test("passageDedup invariant: total kept == distinct passages in the corpus") {
    val dir = "/root/testdata/sf0.001"
    val out = LlmData.passageDedup(spark, dir)
    val (nPass, nKept) = out.agg(sum($"n_passages"), sum($"n_kept"))
      .as[(Long, Long)].head()
    val distinctPassages = graft.Tables.documents(spark, dir)
      .select($"doc_id", graft.functions.Text.tokensLower($"text").as("toks"))
      .filter(size($"toks") > 0)
      .select(explode(transform(sequence(lit(0), expr("(size(toks) - 1) div 20")),
        i => array_join(slice($"toks", i * 20 + 1, lit(20)), " "))).as("p"))
      .select(countDistinct($"p")).as[Long].head()
    assert(nKept == distinctPassages, s"kept $nKept != distinct $distinctPassages")
    assert(nKept <= nPass)
  }

  // ----------------------------------------------------------- bigram LM

  test("bigramLm: exact counts and integer conditional probabilities") {
    val dir = docsDir(Seq((1L, "a b a b c"), (2L, "b c d")))
    val out = LlmData.bigramLm(spark, dir)
      .as[(String, Long, Long, Long)].collect()
    val m = out.map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // counts: "a b"×2, "b c"×2 (one per doc), "b a"×1, "c d"×1
    assert(m("a b") == ((2L, 2L, 1000000L)))   // P(b|a) = 2/2
    assert(m("b c") == ((2L, 3L, 666666L)))    // P(c|b) = 2/3 in micros
    assert(m("b a") == ((1L, 3L, 333333L)))
    assert(m("c d") == ((1L, 1L, 1000000L)))
    // ordering: n desc, bigram asc
    assert(out.map(_._1).toSeq == Seq("a b", "b c", "b a", "c d"))
  }

  // ----------------------------------------------------------- CDC merge

  test("mergeUpsert: latest version wins, inserts land, totals reconcile") {
    val dir = "/root/testdata/sf0.001"
    val rows = Etl.mergeUpsert(spark, dir)
      .select($"status", $"n_rows", $"n_changed", $"min_key", $"max_key")
      .as[(String, Long, Long, Long, Long)].collect()
    val byStatus = rows.map(r => r._1 -> r).toMap
    val orders = graft.Tables.orders(spark, dir)
    val nOrders = orders.count()
    val nUpd = orders.filter($"o_orderkey" % 7 === 0).count()
    val nIns = orders.filter($"o_orderkey" % 13 === 0).count()
    // every updated key surfaces as status U, every insert as status N
    assert(byStatus("U")._2 == nUpd && byStatus("U")._3 == nUpd)
    assert(byStatus("N")._2 == nIns && byStatus("N")._3 == nIns)
    assert(byStatus("N")._4 < 0 && byStatus("N")._5 < 0) // inserted keys are negated
    // merged cardinality: every original key exactly once + the inserts
    assert(rows.map(_._2).sum == nOrders + nIns)
    // unchanged statuses carry no version-2 rows
    rows.filter(r => r._1 != "U" && r._1 != "N").foreach(r => assert(r._3 == 0L))
  }

  // ------------------------------------------------------------- z-order

  test("zValue matches a reference bit-interleave; zorder buckets partition the corpus") {
    def zRef(x: Long, y: Long, bits: Int): Long =
      (0 until bits).map(i => (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1)))
        .reduce(_ | _)
    val samples = Seq((0L, 0L), (1L, 0L), (0L, 1L), (10L, 6L), (1023L, 1023L), (512L, 7L))
    val got = samples.toDF("x", "y")
      .select(Scale.zValue($"x", $"y", 10).as("z")).as[Long].collect()
    samples.zip(got).foreach { case ((x, y), z) =>
      assert(z == zRef(x, y, 10), s"z($x,$y)")
    }
    // interleave of 10+10 bits stays under 2^20 and is injective on the domain
    assert(got.forall(z => z >= 0 && z < (1L << 20)))
    val dir = "/root/testdata/sf0.001"
    val out = Scale.zorderLayout(spark, dir)
      .select($"n_rows").as[Long].collect()
    val total = graft.Tables.lineitem(spark, dir).count()
    assert(out.sum == total, "buckets must partition all rows")
  }

  test("zorder write path: repartitionByRange yields non-overlapping per-file z ranges") {
    val dir = "/root/testdata/sf0.001"
    val tmp = java.nio.file.Files.createTempDirectory("graft-zorder-").toFile
    val path = new java.io.File(tmp, "li_z").getAbsolutePath
    val z = graft.Tables.lineitem(spark, dir)
      .select((col("l_partkey") % 1024).as("x"), (col("l_suppkey") % 1024).as("y"))
      .withColumn("z", Scale.zValue($"x", $"y", 10))
    z.repartitionByRange(8, $"z").write.mode("overwrite").parquet(path)
    val ranges = spark.read.parquet(path)
      .groupBy(input_file_name().as("f"))
      .agg(min($"z").as("lo"), max($"z").as("hi"))
      .select($"lo", $"hi").as[(Long, Long)].collect().sortBy(_._1)
    assert(ranges.length > 1)
    // range partitioning ⇒ files cover disjoint z intervals (boundary dups
    // may share one value; strict overlap would break min/max file skipping)
    ranges.zip(ranges.tail).foreach { case ((_, hi), (lo2, _)) =>
      assert(lo2 >= hi, s"file z-ranges overlap: hi=$hi lo2=$lo2")
    }
    graft.GraftSession.deleteTree(tmp)
  }

  // ------------------------------------------------------- streaming join

  test("availableNowStreamJoin == batch self-join (stream/batch parity)") {
    val dir = "/root/testdata/sf0.001"
    val streamed = graft.streaming.StreamSessionize.availableNowStreamJoin(spark, dir)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    val ev = graft.Tables.events(spark, dir)
      .select($"event_id", $"user_id", unix_timestamp(date_trunc("second", $"ts")).as("sec"),
        $"event_type", $"value")
    val a = ev.filter($"event_type" === "click")
      .select($"event_id".as("click_id"), $"user_id", $"sec".as("a_sec"))
    val b = ev.filter($"event_type" === "purchase")
      .select($"event_id".as("purchase_id"), $"user_id".as("b_user"),
        $"sec".as("b_sec"), $"value")
    val batch = a.join(b, $"user_id" === $"b_user" &&
        $"b_sec" >= $"a_sec" && $"b_sec" <= $"a_sec" + 600)
      .select($"click_id", $"purchase_id", $"user_id",
        ($"b_sec" - $"a_sec").as("delay_s"),
        round($"value" * 100).cast("long").as("value_c"))
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(batch.nonEmpty, "fixture has no click→purchase pairs")
    assert(streamed == batch)
  }

  test("chunkDocs: stride/overlap math — chunk k starts at word k·stride, overlaps by maxLen−stride") {
    // 10-word doc, maxLen=4, stride=3 → starts 0,3,6,9; chunk words
    // 4,4,4,1; consecutive chunks share maxLen−stride = 1 word.
    val words = (1 to 10).map(i => s"w$i")
    val df = Seq((1L, words.mkString(" "), "en", "src1", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // the registered op reads Tables.documents(dir); drive the identical
    // column logic directly on the fixture frame with test geometry:
    import graft.functions.Text
    val out = df
      .select($"doc_id", Text.tokens($"text").as("words"))
      .select($"doc_id", $"words",
        explode(sequence(lit(0), size($"words") - 1, lit(3))).as("start"))
      .select($"doc_id", expr("CAST(start div 3 AS BIGINT)").as("chunk_seq"),
        slice($"words", $"start" + lit(1), lit(4)).as("chunk"))
      .orderBy($"chunk_seq")
      .as[(Long, Long, Seq[String])].collect()
    assert(out.map(_._2).toSeq == Seq(0L, 1L, 2L, 3L))
    assert(out.map(_._3.size).toSeq == Seq(4, 4, 4, 1))
    // overlap: with stride 3 and maxLen 4, a full chunk's last word is the
    // next chunk's first word
    out.toSeq.sliding(2).foreach {
      case Seq((_, _, a), (_, _, b)) =>
        if (a.size == 4) assert(a.last == b.head, s"chunks don't overlap: $a -> $b")
      case _ => ()
    }
  }

  test("splitLeakage: planted cross-split near-dup is flagged; within-split dups are not") {
    val dirDocs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    // deterministic split assignment used by the op
    val bucketed = dirDocs.select($"doc_id",
      graft.ops.Etl.hashBucket($"doc_id").as("bucket")).as[(Long, Long)].collect().toMap
    val leaks = graft.ops.Similarity.splitLeakage(spark, "/root/testdata/sf0.001")
      .as[(Long, Long, Long)].collect()
    // every flagged doc must be a TEST doc (bucket >= 80) and its reported
    // minimum train neighbor must be a TRAIN doc (bucket < 80)
    leaks.foreach { case (docId, nDups, minTrain) =>
      assert(bucketed(docId) >= 80, s"flagged doc $docId is not in test split")
      assert(bucketed(minTrain) < 80, s"neighbor $minTrain is not in train split")
      assert(nDups >= 1)
    }
  }

  test("dsirSelect: target-like raw doc outranks target-unlike; target docs never selected") {
    val dir = new java.io.File(graft.GraftSession.scratchDir("graft-dsir-"))
    Seq(
      // target corpus (en): vocabulary {alpha, beta, gamma}
      (1L, "alpha beta gamma alpha beta gamma", "en"),
      (2L, "alpha alpha beta gamma gamma beta", "en"),
      // raw pool: doc 10 speaks the target vocabulary, doc 11 doesn't
      (10L, "alpha beta gamma alpha beta", "fr"),
      (11L, "zeta eta theta iota kappa", "fr"))
      .toDF("doc_id", "text", "lang")
      .withColumn("source", lit("src1"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"${dir.getAbsolutePath}/documents.parquet")
    val out = LlmData.dsirSelect(spark, dir.getAbsolutePath)
      .select($"doc_id", $"lang", $"n_toks", $"weight_micro")
      .as[(Long, String, Long, Long)].collect()
    assert(out.map(_._1).toSet == Set(10L, 11L), "raw pool only, both docs under k")
    assert(out.forall(_._2 == "fr"), "target-language docs must never be selected")
    val byId = out.map(r => r._1 -> r).toMap
    assert(byId(10L)._3 == 5 && byId(11L)._3 == 5)
    assert(byId(10L)._4 > byId(11L)._4,
      "doc sharing the target vocabulary must score above the disjoint-vocabulary doc")
    // ranked output: weights non-increasing in emitted order
    assert(out.map(_._4).sliding(2).forall(w => w.length < 2 || w(0) >= w(1)))
  }

  test("temperatureMix: hand-computed integer rates on a two-source fixture") {
    val dir = new java.io.File(graft.GraftSession.scratchDir("graft-tmix-"))
    // srcA: 1 doc × 100 tokens → w = floor(sqrt(100)) = 10
    // srcB: 1 doc × 400 tokens → w = 20; total_w 30 →
    // rates 10·10^6/30 = 333333 and 20·10^6/30 = 666666 (exact integer div)
    Seq((1L, Seq.fill(100)("w").mkString(" "), "srcA"),
        (2L, Seq.fill(400)("w").mkString(" "), "srcB"))
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"${dir.getAbsolutePath}/documents.parquet")
    val rows = LlmData.temperatureMix(spark, dir.getAbsolutePath)
      .select($"source", $"n_tokens", $"w", $"rate_ppm")
      .as[(String, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(rows("srcA")._3 == 10L && rows("srcB")._3 == 20L)
    assert(rows("srcA")._4 == 333333L, "exact integer-division rate for the small source")
    assert(rows("srcB")._4 == 666666L, "exact integer-division rate for the large source")
  }

  test("temperatureMix: sqrt flattening upweights the smallest source, kept counts bounded") {
    val rows = LlmData.temperatureMix(spark, "/root/testdata/sf0.001")
      .select($"source", $"n_docs", $"n_tokens", $"w", $"rate_ppm",
        $"n_kept_docs", $"n_kept_tokens")
      .as[(String, Long, Long, Long, Long, Long, Long)].collect()
    assert(rows.length > 1)
    rows.foreach { case (_, nDocs, nTok, w, ppm, kDocs, kTok) =>
      assert(w == math.floor(math.sqrt(nTok.toDouble)).toLong)
      assert(ppm >= 0 && ppm <= 1000000)
      assert(kDocs <= nDocs && kTok <= nTok)
    }
    // rates are exact integer shares of the sqrt weights: sum ≤ 1e6,
    // truncation loses less than 1 ppm per source
    val ppmSum = rows.map(_._5).sum
    assert(ppmSum <= 1000000 && ppmSum > 1000000 - rows.length)
    // the flattening property: the smallest source's share of the sampling
    // rate exceeds its share of raw tokens; the largest source's is below
    val totTok = rows.map(_._3).sum.toDouble
    val minSrc = rows.minBy(_._3)
    val maxSrc = rows.maxBy(_._3)
    assert(minSrc._5 / 1e6 > minSrc._3 / totTok,
      "sqrt temperature must upweight the smallest source")
    assert(maxSrc._5 / 1e6 < maxSrc._3 / totTok,
      "sqrt temperature must downweight the largest source")
  }

  test("balancedShards: exact LPT round-robin assignment on a planted fixture") {
    // 16 docs, token counts 16..1 → sorted desc, dealt over 4 shards:
    // shard0 {16,12,8,4}=40, shard1 {15,11,7,3}=36, shard2 {14,10,6,2}=32,
    // shard3 {13,9,5,1}=28
    val dir = docsDir((1L to 16L).map(i => (i, Seq.fill(i.toInt)("w").mkString(" "))))
    val out = LlmData.balancedShards(spark, dir, nShards = 4)
      .select($"shard", $"n_docs", $"n_tokens", $"id_sum", $"share_ppm")
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(out.map(_._1).toSeq == Seq(0L, 1L, 2L, 3L))
    assert(out.map(_._3).toSeq == Seq(40L, 36L, 32L, 28L))
    assert(out.forall(_._2 == 4L))
    // membership checksum: doc i has i tokens, so shard0 holds ids 16,12,8,4
    assert(out.map(_._4).toSeq == Seq(40L, 36L, 32L, 28L))
    // integer ppm shares of the 136-token total, truncated
    assert(out.map(_._5).toSeq ==
      Seq(40L * 1000000 / 136, 36L * 1000000 / 136, 32L * 1000000 / 136, 28L * 1000000 / 136))
  }

  test("balancedShards: corpus conservation and share audit on driver data") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val nDocs = docs.count()
    val out = LlmData.balancedShards(spark, "/root/testdata/sf0.001")
      .select($"shard", $"n_docs", $"n_tokens", $"share_ppm")
      .as[(Long, Long, Long, Long)].collect()
    assert(out.map(_._2).sum == nDocs, "every document lands in exactly one shard")
    val ppmSum = out.map(_._4).sum
    assert(ppmSum <= 1000000 && ppmSum > 1000000 - out.length)
  }

  test("neardupSurvivor: per-cluster survivor is the highest-quality member") {
    val base1 = "the quick brown fox jumps over the lazy dog and runs down to the " +
      "river in the bright morning light of a new day in the quiet northern valley"
    val base2 = "a steady rain falls on the old stone bridge and the water rises " +
      "slowly past the mill house where the miller waits for the storm to end tonight"
    val dir = docsDir(Seq(
      (1L, base1),                         // cluster A survivor: no punctuation
      (2L, base1 + " !!!!!!!!!!"),         // same shingles, worse punct ratio
      (5L, base2),                         // cluster B survivor
      (6L, base2 + " ??????????"),
      (9L, "zx qv jk wp mn bt lr dc fg hs zx qv jk wp mn bt lr dc fg hs"))) // singleton
    val out = Similarity.neardupSurvivor(spark, dir)
      .select($"cluster", $"n_members", $"id_sum", $"survivor_id", $"survivor_quality")
      .as[(Long, Long, Long, Long, Double)].collect().sortBy(_._1)
    assert(out.map(_._1).toSeq == Seq(1L, 5L), "two clusters, labeled by min id; no singleton")
    assert(out.map(_._2).toSeq == Seq(2L, 2L))
    assert(out.map(_._3).toSeq == Seq(3L, 11L))
    assert(out.map(_._4).toSeq == Seq(1L, 5L),
      "the punctuation-free variant has the higher composite quality")
    // survivor_quality matches the registered quality query's value exactly
    val q = LlmData.qualityScore(spark, dir)
      .select($"doc_id", round($"quality", 6)).as[(Long, Double)].collect().toMap
    assert(out.map(r => r._5) sameElements out.map(r => q(r._4)))
  }
}
