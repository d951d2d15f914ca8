package perfbench

/** A named workload: a query list from `graft.SparkEntry.queries` run in a
  * closed loop (one driver thread, queries in sequence) against one data
  * rung. */
final case class Workload(name: String, rung: String, queries: Seq[String])

object Workloads {
  val Sf01 = "sf0.1"
  val Sf1 = "sf1"

  /** Short lists, so that one run, set-up included, stays near a minute on
    * 4 cores; perfbench/README.md says what was left out and why. */
  val all: Seq[Workload] = Seq(
    Workload("llm_corpus", Sf01, Seq(
      "q_token_budget", "q_label_prop", "q_string_index", "q_stream_windowed")),
    Workload("scan_sf1", Sf1, Seq(
      "q_pricing_summary", "q_window_funcs")),
  )

  def byName(name: String): Workload =
    all.find(_.name == name).getOrElse(throw new IllegalArgumentException(
      s"unknown workload '$name' (known: ${all.map(_.name).mkString(", ")})"))
}
