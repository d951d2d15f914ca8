package perfbench

/** The benchmark's own statistics: medians, quartiles, the tail rule, the
  * output check and the metric-name rule. Pure functions, unit-tested in
  * StatsSpec. */
object Stats {

  /** Metric names as BENCHMARK.json allows them. */
  private val NamePattern = "[A-Za-z0-9_.-]+".r

  def validName(s: String): Boolean = NamePattern.matches(s)

  def median(xs: Seq[Double]): Double = quartiles(xs)._2

  /** Quartiles exactly as Python's `statistics.quantiles(xs, n=4)` gives
    * them (the default "exclusive" method), so the figures a reader
    * recomputes from the printed samples match. One sample gives that
    * sample three times. */
  def quartiles(xs: Seq[Double]): (Double, Double, Double) = {
    require(xs.nonEmpty, "quartiles of no samples")
    val d = xs.sorted.toIndexedSeq
    if (d.size == 1) return (d(0), d(0), d(0))
    val m = d.size + 1
    def q(i: Int): Double = {
      val j = math.min(math.max(i * m / 4, 1), d.size - 1)
      val delta = i * m - j * 4
      (d(j - 1) * (4 - delta) + d(j) * delta) / 4.0
    }
    (q(1), q(2), q(3))
  }

  /** A tail percentile: its rank, its value, the sample count and how many
    * samples lie strictly beyond it. */
  final case class Tail(percentile: Double, value: Double, samples: Int, beyond: Int)

  val TailLadder: Seq[Double] = Seq(99.9, 99.0) ++ (95 to 50 by -5).map(_.toDouble)

  /** The highest percentile on [[TailLadder]] (nearest rank) with at least
    * `minBeyond` samples beyond it. With fewer than 2 × `minBeyond`
    * samples no percentile qualifies and the median rank is returned; its
    * `beyond` then shows the shortfall. */
  def tail(xs: Seq[Double], minBeyond: Int = 10): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val d = xs.sorted.toIndexedSeq
    def at(p: Double): Tail = {
      val v = d(math.max(1, math.ceil(p / 100.0 * d.size).toInt) - 1)
      Tail(p, v, d.size, d.count(_ > v))
    }
    TailLadder.iterator.map(at).find(_.beyond >= minBeyond).getOrElse(at(50.0))
  }

  /** What a query's output must look like. */
  sealed trait Expect
  /** Row count and `bit_xor(xxhash64(struct(*)))` recorded at the
    * benchmark's commit. */
  final case class Exact(rows: Long, checksum: Long) extends Expect
  /** For outputs with no stable checksum: the registry's
    * RowsOnlyContract column set and minimum row count. */
  final case class Contract(columns: Seq[String], minRows: Long) extends Expect

  /** One forced output. */
  final case class Observed(rows: Long, checksum: Long, columns: Seq[String])

  /** None when `o` meets `e`, else why not. */
  def check(e: Expect, o: Observed): Option[String] = e match {
    case Exact(rows, sum) =>
      if (o.rows != rows) Some(s"rows ${o.rows} != expected $rows")
      else if (o.checksum != sum) Some(s"checksum ${o.checksum} != expected $sum")
      else None
    case Contract(cols, minRows) =>
      if (o.columns.sorted != cols.sorted)
        Some(s"columns ${o.columns.sorted.mkString(",")} != contract ${cols.sorted.mkString(",")}")
      else if (o.rows < minRows) Some(s"rows ${o.rows} < contract minimum $minRows")
      else None
  }
}
