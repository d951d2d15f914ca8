package graft

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageTypeParser}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Schema-drift guard for `Tables.events` (r4 verdict #4).
  *
  * The driver has regenerated `events.parquet` with different physical `ts`
  * encodings across rounds — TIMESTAMP(NANOS) in r1–r3, INT64
  * TIMESTAMP(MICROS) NTZ in r4 — and a loader hard-coded to one encoding
  * took out 24 of 140 queries. This suite writes the SAME logical rows in
  * all three plausible encodings and asserts `Tables.events` normalizes
  * every one of them to the documented contract (TimestampType, micros,
  * UTC instants) with identical values, so a testdata regeneration can
  * never again blind the events family.
  */
class EventsSchemaDriftSpec extends SparkSpec {

  // Fixed wall-clock micros (UTC): 2024-03-15 12:34:56.789012 and friends.
  private val micros = Seq(1710506096789012L, 1710506100000000L, 1710592496000001L)
  private val rows = micros.zipWithIndex.map { case (us, i) =>
    (i.toLong, us, 100L + i, s"evt$i", i * 1.5, s"""{"k":$i}""")
  }

  /** Writes events-shaped parquet with `ts` as parquet TIMESTAMP(NANOS)
    * via parquet-mr directly — Spark cannot produce this encoding, which
    * is exactly why it needs a read-side guard.
    */
  private def writeNanos(dir: String): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      """message events {
        |  required int64 event_id;
        |  required int64 ts;
        |  required int64 user_id;
        |  required binary event_type (UTF8);
        |  required double value;
        |  required binary props (UTF8);
        |}""".stripMargin)
    // Stamp the NANOS logical type on ts (the parser has no syntax for it).
    val nanosTs = org.apache.parquet.schema.Types.required(
        org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64)
      .as(LogicalTypeAnnotation.timestampType(false, LogicalTypeAnnotation.TimeUnit.NANOS))
      .named("ts")
    val fields = new java.util.ArrayList[org.apache.parquet.schema.Type]()
    schema.getFields.forEach { f =>
      fields.add(if (f.getName == "ts") nanosTs else f)
    }
    val nanosSchema = new org.apache.parquet.schema.MessageType("events", fields)
    val factory = new SimpleGroupFactory(nanosSchema)
    val writer = ExampleParquetWriter.builder(new Path(s"$dir/part-0.parquet"))
      .withConf(new Configuration())
      .withType(nanosSchema)
      .withCompressionCodec(CompressionCodecName.UNCOMPRESSED)
      .build()
    try rows.foreach { case (id, us, uid, et, v, p) =>
      val g = factory.newGroup()
      g.add("event_id", id)
      g.add("ts", us * 1000L) // micros → nanos
      g.add("user_id", uid)
      g.add("event_type", et)
      g.add("value", v)
      g.add("props", p)
      writer.write(g)
    } finally writer.close()
  }

  private def writeSpark(dir: String, ntz: Boolean): Unit = {
    val tsType: DataType = if (ntz) TimestampNTZType else TimestampType
    val schema = StructType(Seq(
      StructField("event_id", LongType, nullable = false),
      StructField("ts", tsType, nullable = false),
      StructField("user_id", LongType, nullable = false),
      StructField("event_type", StringType, nullable = false),
      StructField("value", DoubleType, nullable = false),
      StructField("props", StringType, nullable = false)))
    val data = rows.map { case (id, us, uid, et, v, p) =>
      val ts: Any =
        if (ntz) java.time.LocalDateTime.ofEpochSecond(us / 1000000L, (us % 1000000L).toInt * 1000, java.time.ZoneOffset.UTC)
        else java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(us / 1000000L, (us % 1000000L) * 1000L))
      Row(id, ts, uid, et, v, p)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(data, 1), schema)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  private def loadVia(dirName: String)(write: String => Unit): Seq[(Long, Long)] = {
    val root = Files.createTempDirectory(s"events-drift-$dirName-").toFile
    try {
      write(root.getAbsolutePath)
      val df = Tables.events(spark, root.getAbsolutePath)
      assert(df.schema("ts").dataType == TimestampType,
        s"$dirName: contract is TimestampType, got ${df.schema("ts").dataType}")
      import org.apache.spark.sql.functions.unix_micros
      df.select(col("event_id"), unix_micros(col("ts")))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sortBy(_._1)
    } finally {
      GraftSession.deleteTree(root)
    }
  }

  test("Tables.events normalizes NANOS, MICROS-NTZ and MICROS-UTC encodings identically") {
    val expected = rows.map { case (id, us, _, _, _, _) => (id, us) }

    val fromNanos = loadVia("nanos") { root =>
      val d = new java.io.File(s"$root/events.parquet"); d.mkdirs()
      writeNanos(d.getAbsolutePath)
    }
    val fromNtz = loadVia("ntz")(root => writeSpark(root, ntz = true))
    val fromUtc = loadVia("utc") { root =>
      spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      try writeSpark(root, ntz = false)
      finally spark.conf.unset("spark.sql.parquet.outputTimestampType")
    }

    assert(fromNanos == expected, "NANOS path drifted")
    assert(fromNtz == expected, "MICROS-NTZ path drifted")
    assert(fromUtc == expected, "MICROS-UTC path drifted")
  }

  test("Tables.events rejects a session whose time zone is not UTC") {
    val key = "spark.sql.session.timeZone"
    val prior = spark.conf.get(key)
    try {
      Seq("Etc/UTC", "+00:00").foreach { zone => // other spellings of UTC pass
        spark.conf.set(key, zone)
        Tables.events(spark, "/root/testdata/sf0.001")
      }
      spark.conf.set(key, "America/New_York")
      val e = intercept[IllegalStateException](Tables.events(spark, "/root/testdata/sf0.001"))
      assert(e.getMessage.contains(key), e.getMessage)
    } finally spark.conf.set(key, prior)
  }

  test("Tables.embeddings survives a double-encoded regeneration and passes float through today") {
    import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, IntegerType, StructField, StructType}
    // Pass-through on the real testdata.
    val real = Tables.embeddings(spark, "/root/testdata/sf0.001")
    assert(real.schema("embedding").dataType == ArrayType(FloatType, containsNull = true)
      || real.schema("embedding").dataType == ArrayType(FloatType, containsNull = false))
    assert(real.schema("label").dataType == IntegerType)

    // Survival: list<double> + INT64 label degrade to casts, not crashes.
    val root = Files.createTempDirectory("emb-drift-").toFile
    try {
      val schema = StructType(Seq(
        StructField("vec_id", LongType, nullable = false),
        StructField("embedding", ArrayType(DoubleType, containsNull = false), nullable = false),
        StructField("label", LongType, nullable = false)))
      val data = Seq(
        Row(0L, Seq(0.5, -1.25, 2.0), 3L),
        Row(1L, Seq(1.0, 0.75, -0.5), 7L))
      spark.createDataFrame(spark.sparkContext.parallelize(data, 1), schema)
        .write.mode("overwrite").parquet(s"${root.getAbsolutePath}/embeddings.parquet")
      val df = Tables.embeddings(spark, root.getAbsolutePath)
      assert(df.schema("embedding").dataType.asInstanceOf[ArrayType].elementType == FloatType)
      assert(df.schema("label").dataType == IntegerType)
      val got = df.orderBy("vec_id").collect().map { r =>
        (r.getLong(0), r.getSeq[Float](1).toList, r.getInt(2))
      }.toList
      assert(got == List(
        (0L, List(0.5f, -1.25f, 2.0f), 3),
        (1L, List(1.0f, 0.75f, -0.5f), 7)))
    } finally {
      GraftSession.deleteTree(root)
    }
  }

  test("Tables.documents upgrades INT32-encoded id/char columns to the BIGINT contract") {
    import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
    val root = Files.createTempDirectory("docs-drift-").toFile
    try {
      val schema = StructType(Seq(
        StructField("doc_id", IntegerType, nullable = false),
        StructField("text", StringType, nullable = false),
        StructField("lang", StringType, nullable = false),
        StructField("source", StringType, nullable = false),
        StructField("n_chars", IntegerType, nullable = false)))
      val data = Seq(Row(1, "a b c", "en", "s0", 5), Row(2, "d e", "en", "s1", 3))
      spark.createDataFrame(spark.sparkContext.parallelize(data, 1), schema)
        .write.mode("overwrite").parquet(s"${root.getAbsolutePath}/documents.parquet")
      val df = Tables.documents(spark, root.getAbsolutePath)
      assert(df.schema("doc_id").dataType == LongType)
      assert(df.schema("n_chars").dataType == LongType)
      assert(df.select("doc_id", "n_chars").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        == Set((1L, 5L), (2L, 3L)))
    } finally {
      GraftSession.deleteTree(root)
    }
  }

  test("Tables.lineitem/orders survive a NANOS-encoded date regeneration and keep NTZ pass-through today") {
    // Pass-through on the real testdata: the native NTZ encoding must NOT
    // be cast (a cast would sit between range filters and the scan and
    // kill parquet predicate pushdown on the engine's biggest table).
    val sf = "/root/testdata/sf0.001"
    assert(Tables.lineitem(spark, sf).schema("l_shipdate").dataType == TimestampNTZType)
    assert(Tables.orders(spark, sf).schema("o_orderdate").dataType == TimestampNTZType)

    // Survival: a NANOS-regenerated lineitem must still load (this is the
    // encoding that crashes a non-adaptive reader at load time).
    val root = Files.createTempDirectory("lineitem-drift-").toFile
    try {
      val dir = new java.io.File(s"${root.getAbsolutePath}/lineitem.parquet")
      dir.mkdirs()
      val nanosDate = org.apache.parquet.schema.Types.required(
          org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64)
        .as(LogicalTypeAnnotation.timestampType(false, LogicalTypeAnnotation.TimeUnit.NANOS))
        .named("l_shipdate")
      val key = org.apache.parquet.schema.Types.required(
          org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64)
        .named("l_orderkey")
      val schema = new org.apache.parquet.schema.MessageType("lineitem",
        java.util.List.of[org.apache.parquet.schema.Type](key, nanosDate))
      val factory = new SimpleGroupFactory(schema)
      val writer = ExampleParquetWriter.builder(new Path(s"${dir.getAbsolutePath}/part-0.parquet"))
        .withConf(new Configuration())
        .withType(schema)
        .withCompressionCodec(CompressionCodecName.UNCOMPRESSED)
        .build()
      try micros.zipWithIndex.foreach { case (us, i) =>
        val g = factory.newGroup()
        g.add("l_orderkey", i.toLong)
        g.add("l_shipdate", us * 1000L)
        writer.write(g)
      } finally writer.close()
      val df = Tables.lineitem(spark, root.getAbsolutePath)
      assert(df.schema("l_shipdate").dataType == TimestampType)
      import org.apache.spark.sql.functions.unix_micros
      val got = df.select(col("l_orderkey"), unix_micros(col("l_shipdate")))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sortBy(_._1)
      assert(got == micros.zipWithIndex.map { case (us, i) => (i.toLong, us) })
    } finally {
      GraftSession.deleteTree(root)
    }
  }
}
