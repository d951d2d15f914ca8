package graft.tools

import org.apache.spark.sql.SparkSession

/** ML parity reporter (r5 verdict #8): regenerates the engine-vs-baseline
  * metric table every round instead of leaving it in round notes. Runs the
  * two registered RF queries (whose `kind=metric` rows ARE the evaluator
  * output) and prints a markdown table against the reference's published
  * band (BASELINE.md rows 12-17; nyc_taxi_final.py:932-936, 1245), also
  * written to target/ML_PARITY.md.
  *
  * Engine numbers are measured on the synthetic events analog, so they
  * bound PLUMBING correctness (assemble → RF → evaluate), not model
  * quality on the taxi corpus; the gate is at-or-above the baseline band.
  */
object MlParityReport {

  private val baseline: Map[(String, String), String] = Map(
    ("congestion", "roc_auc") -> "~0.9",
    ("congestion", "accuracy") -> "~0.9",
    ("congestion", "weighted_precision") -> "~0.9",
    ("congestion", "weighted_recall") -> "~0.9",
    ("congestion", "f1") -> "~0.9",
    ("delay", "roc_auc") -> "0.67",
    ("delay", "accuracy") -> "0.64",
    ("delay", "f1") -> "0.59",
    // beyond-reference LR quality filter: no published baseline; the gate
    // is the QualityFilterSpec held-out bound
    ("quality_filter", "roc_auc") -> "(>0.8 spec gate)",
    ("quality_filter", "accuracy") -> "n/a",
    ("quality_filter", "f1") -> "n/a")

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val lines = new scala.collection.mutable.ArrayBuffer[String]
    lines += s"# ML parity metrics (regenerated; sf dir: $dir)"
    lines += ""
    lines += "| model | metric | engine | baseline (reference prose) |"
    lines += "|---|---|---|---|"
    for ((qname, model) <- Seq(("q_rf_congestion", "congestion"),
                               ("q_rf_delay", "delay"),
                               ("q_gbt_congestion", "congestion_gbt"),
                               ("q_quality_classifier", "quality_filter"))) {
      val rows = graft.SparkEntry.queries(qname)(spark, dir)
        .filter(org.apache.spark.sql.functions.col("kind") === "metric")
        .collect()
        .map(r => r.getString(1) -> r.getDouble(2)).toMap
      for ((metric, v) <- rows.toSeq.sortBy(_._1)) {
        baseline.get((model, metric)) match {
          case Some(base) => lines += f"| $model | $metric | $v%.3f | $base |"
          case None if model == "congestion_gbt" =>
            // beyond-reference model family: no baseline column to cite
            lines += f"| $model | $metric | $v%.3f | — (beyond reference) |"
          case None => ()
        }
      }
    }
    val out = lines.mkString("", "\n", "\n")
    print(out)
    val p = java.nio.file.Paths.get("/root/repo/target/ML_PARITY.md")
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p, out.getBytes("UTF-8"))
    spark.stop()
  }
}
