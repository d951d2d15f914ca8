package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated test tables (TESTDATA.md / FIXTURES.md §A).
  *
  * Mirrors the reference's scan surface (SURVEY §2.1 S4/S5:
  * /root/reference/nyc_taxi_final.py:318, 740) — parquet scans whose schema
  * comes from the footer. At 100 TB these would be partitioned-directory
  * scans; the API is identical, and filter/column pushdown into the
  * vectorized parquet reader is what matters (verified via .explain in the
  * test suite).
  *
  * **Timestamp contract (the one normalization seam, r4 verdict #1/#6):**
  * `events.ts` is normalized at load to `TimestampType`, microsecond
  * precision, UTC instants (every graft session pins
  * `spark.sql.session.timeZone=UTC`, so wall-clock values in the files
  * are preserved verbatim) — its consumers include Structured Streaming
  * watermarks and session windows, which are built on TimestampType.
  * `orders.o_orderdate` / `lineitem.l_shipdate` pass their native
  * micros encoding (NTZ or TZ — value-identical at UTC) through
  * UNCHANGED so range predicates stay bare attribute comparisons and
  * keep pushing into the parquet scan (`PushedFilters:` — a normalizing
  * cast here would sit between filter and scan and kill pushdown on the
  * engine's biggest table); only the encoding that cannot load at all
  * (TIMESTAMP(NANOS)) is converted. Consumers never cast these columns
  * themselves.
  *
  * The physical encoding in the source parquet has drifted across testdata
  * regenerations (TIMESTAMP(NANOS) ↔ INT64 TIMESTAMP(MICROS) NTZ), so the
  * read is schema-adaptive rather than hard-coded to one encoding — the
  * same robustness the reference buys with explicit read schemas
  * (nyc_taxi_final.py:306-315). Guard: EventsSchemaDriftSpec writes the
  * same rows in every encoding and asserts identical normalized values.
  */
object Tables {
  import org.apache.spark.sql.functions.{col, expr}
  import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

  /** Parquet scan + per-declared-column timestamp normalization:
    *   - TIMESTAMP(NANOS): Spark 4's reader rejects the file at load time;
    *     retry with `spark.sql.legacy.parquet.nanosAsLong` (set only after
    *     a NANOS file is proven present, so the session conf is untouched
    *     for MICROS data) — the column then loads as LongType and is
    *     converted with integer division (`DIV` — a plain `/` would route
    *     through double and lose precision above 2^53 ns).
    *   - TIMESTAMP_NTZ (micros, no zone): cast to TimestampType when
    *     `castNtz` (with the session at UTC this reinterprets the wall
    *     clock as a UTC instant, bit-identical to the NANOS-era values);
    *     passed through when not — see the pushdown note in the object
    *     scaladoc.
    *   - TimestampType: pass through.
    * `tsCols` plays the role of the reference's explicit schema: it names
    * which columns are logically timestamps, so a genuine BIGINT column
    * can never be mistaken for a nanos-encoded one.
    */
  private def readNormalized(spark: SparkSession, path: String,
                             tsCols: Seq[String], castNtz: Boolean): DataFrame = {
    val raw =
      try spark.read.parquet(path)
      catch {
        // TIMESTAMP(NANOS) footer: schema conversion fails at load time
        // unless nanos decode as long. The conf only changes decoding of
        // NANOS columns, so setting it here is inert for every other read.
        case e: Exception if {
          val m = Option(e.getMessage).getOrElse("")
          m.contains("NANOS") || m.contains("nanosAsLong")
        } =>
          spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
          spark.read.parquet(path)
      }
    tsCols.foldLeft(raw) { (df, c) =>
      df.schema(c).dataType match {
        case LongType            => df.withColumn(c, expr(s"timestamp_micros($c DIV 1000)"))
        case _: TimestampNTZType => if (castNtz) df.withColumn(c, col(c).cast(TimestampType)) else df
        case _: TimestampType    => df
        case other => throw new IllegalStateException(
          s"$path: column $c has unsupported physical type $other " +
            "(expected NANOS-as-long, TIMESTAMP_NTZ or TIMESTAMP)")
      }
    }
  }

  def region(spark: SparkSession, dir: String): DataFrame    = spark.read.parquet(s"$dir/region.parquet")
  def nation(spark: SparkSession, dir: String): DataFrame    = spark.read.parquet(s"$dir/nation.parquet")
  def customer(spark: SparkSession, dir: String): DataFrame  = spark.read.parquet(s"$dir/customer.parquet")
  def supplier(spark: SparkSession, dir: String): DataFrame  = spark.read.parquet(s"$dir/supplier.parquet")
  def part(spark: SparkSession, dir: String): DataFrame      = spark.read.parquet(s"$dir/part.parquet")
  def orders(spark: SparkSession, dir: String): DataFrame =
    readNormalized(spark, s"$dir/orders.parquet", Seq("o_orderdate"), castNtz = false)
  def lineitem(spark: SparkSession, dir: String): DataFrame =
    readNormalized(spark, s"$dir/lineitem.parquet", Seq("l_shipdate"), castNtz = false)
  /** Rejects a session whose time zone is not UTC: the NTZ → TimestampType
    * cast reads the wall clock in the SESSION zone, so any other zone (a
    * spark-shell at the host zone) would silently shift every instant. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val zone = spark.conf.get("spark.sql.session.timeZone")
    if (org.apache.spark.sql.catalyst.util.DateTimeUtils.getZoneId(zone).normalized() !=
        java.time.ZoneOffset.UTC)
      throw new IllegalStateException(
        s"Tables.events needs spark.sql.session.timeZone=UTC (this session has $zone): " +
          "events.ts wall-clock values are read as UTC instants")
    readNormalized(spark, s"$dir/events.parquet", Seq("ts"), castNtz = true)
  }
  /** `documents` contract: BIGINT `doc_id`/`n_chars` (an INT32-encoded
    * regeneration degrades to a cast — same drift rationale as the
    * timestamp and embedding columns; today's INT64 files pass through
    * untouched). */
  def documents(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.IntegerType
    val raw = spark.read.parquet(s"$dir/documents.parquet")
    Seq("doc_id", "n_chars").foldLeft(raw) { (df, c) =>
      df.schema(c).dataType match {
        case IntegerType => df.withColumn(c, col(c).cast("long"))
        case _           => df
      }
    }
  }

  /** `embeddings.embedding` contract: `array<float>` (the ANN tier's
    * native `graft_dot` and the quantizers are float-width); `label`
    * contract: INT. Same drift rationale as the timestamp columns — a
    * regeneration writing `list<double>` (pyarrow's default for Python
    * floats) or INT64 labels must degrade to a cast, not a crash across
    * the whole similarity tier. Float-encoded files (today's) pass
    * through untouched.
    */
  def embeddings(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, IntegerType, LongType}
    val raw = spark.read.parquet(s"$dir/embeddings.parquet")
    val vec = raw.schema("embedding").dataType match {
      case ArrayType(FloatType, _)  => raw
      case ArrayType(DoubleType, _) => raw.withColumn("embedding", col("embedding").cast(ArrayType(FloatType)))
      case other => throw new IllegalStateException(
        s"embeddings.embedding: unsupported element encoding $other (expected array<float|double>)")
    }
    vec.schema("label").dataType match {
      case IntegerType => vec
      case LongType    => vec.withColumn("label", col("label").cast(IntegerType))
      case other => throw new IllegalStateException(
        s"embeddings.label: unsupported encoding $other (expected INT32/INT64)")
    }
  }
}
