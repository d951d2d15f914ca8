package graft.tools

import org.apache.spark.sql.SparkSession

/** Probe-scale ANN recall measurement (r11 verdict item 2; widened in r13
  * per verdict item 7): the batch/adaptive sign-LSH family's wall-clock is
  * proven sub-quadratic through sf100, and this measures its RECALL at the
  * widened key widths the adaptive schedule selects at probe scale —
  * recall@1/@10/@100 over ≥500 sampled queries with a Wilson 95% binomial
  * interval, so the occupancy/recall trade of the widening schedule is
  * characterized, not spot-checked (the r12 run was 50 queries at @10
  * only).
  *
  * Method: ground truth = [[graft.ops.Similarity.bruteForceTopK]] (the
  * oracled exact path) at k = max(ks) for query ids 0..nSample-1;
  * candidates under test = `lshDetTopKAdaptive` with the same query ids,
  * and `lshDetTopKBatch` (its own query set is `vec_id < max(3, n/1000)`)
  * restricted to the overlap of that set with the sample. Both paths carry
  * a dense `rank` column, so every cut-off k derives from ONE run:
  * recall@k = |lsh_top_k ∩ exact_top_k| / |exact_top_k| over the sampled
  * pairs, each ground-truth pair a Bernoulli trial for the CI. Query ids
  * are synthetic row ids with no ordering semantics, so the id-prefix
  * sample is as unbiased as any.
  *
  * Usage: runMain graft.tools.AnnRecallProbe [sfDir] [nSample] [k1,k2,...]
  */
object AnnRecallProbe {

  /** Wilson 95% score interval for hits/trials. */
  private[tools] def wilson(hits: Long, trials: Long): (Double, Double, Double) = {
    val z = 1.959963984540054
    val n = trials.toDouble
    val p = hits / n
    val z2 = z * z
    val denom = 1 + z2 / n
    val center = (p + z2 / (2 * n)) / denom
    val half = z * math.sqrt(p * (1 - p) / n + z2 / (4 * n * n)) / denom
    (p, math.max(0.0, center - half), math.min(1.0, center + half))
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/repo/target/sf10")
    val nSample = args.lift(1).map(_.toInt).getOrElse(500)
    val ks = args.lift(2).map(_.split(',').map(_.toInt).toSeq).getOrElse(Seq(1, 10, 100))
    val kMax = ks.max
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", "/root/repo/target/spark-warehouse")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val emb = graft.Tables.embeddings(spark, dir).cache()
    val n = emb.count()
    println(s"[ann-recall] corpus $dir n=$n sample=$nSample ks=${ks.mkString("/")} " +
      s"adaptive_bits=${graft.ops.Similarity.adaptiveSignBits(n)}")

    def ranked(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Int)] = df
      .select($"qid", $"vec_id", $"rank").as[(Long, Long, Int)].collect().toSeq

    var t0 = System.nanoTime()
    val exact = ranked(graft.ops.Similarity.bruteForceTopK(emb, nSample, kMax))
    val tExact = (System.nanoTime() - t0) / 1e9

    t0 = System.nanoTime()
    val adaptive = ranked(
      graft.ops.Similarity.lshDetTopKAdaptive(emb, nSample.toLong, kMax))
    val tAdaptive = (System.nanoTime() - t0) / 1e9

    // batch's own query set is vec_id < max(3, n/1000): measure on its
    // overlap with the sample (the sample may be wider at small corpora)
    val batchSample = math.min(nSample.toLong, math.max(3L, n / 1000L))
    t0 = System.nanoTime()
    val batch = ranked(graft.ops.Similarity.lshDetTopKBatch(emb, kMax)
      .filter($"qid" < batchSample))
    val tBatch = (System.nanoTime() - t0) / 1e9
    println(f"[ann-recall] walls: exact $tExact%.1fs (${exact.size} pairs), " +
      f"adaptive $tAdaptive%.1fs, batch $tBatch%.1fs " +
      f"(batch overlap: $batchSample of $nSample sampled queries)")

    def report(label: String, got: Seq[(Long, Long, Int)], qLimit: Long): Unit =
      ks.foreach { k =>
        val truth = exact.collect { case (q, v, r) if r <= k && q < qLimit => (q, v) }.toSet
        val found = got.collect { case (q, v, r) if r <= k => (q, v) }.toSet
        val hits = truth.count(found)
        val (p, lo, hi) = wilson(hits.toLong, truth.size.toLong)
        println(f"[ann-recall] $label%-20s recall@$k%-3d = $p%.4f " +
          f"[95%% CI $lo%.4f–$hi%.4f] ($hits/${truth.size} pairs)")
      }
    report("q_ann_lsh_adaptive", adaptive, nSample.toLong)
    report("q_ann_batch", batch, batchSample)
    spark.stop()
  }
}
