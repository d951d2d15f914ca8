package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg (dev only): comma-separated query-name substrings —
    // run/dump just the matching queries (the driver always passes 2 args)
    val nameFilter: String => Boolean = args.lift(2) match {
      case Some(pats) => n => pats.split(',').exists(n.contains)
      case None       => _ => true
    }
    val spark = GraftSession.create(GraftSession.cpus)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      if (nameFilter(name)) {
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        } finally spark.catalog.clearCache() // the query's result is ours to release
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => nameFilter(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // SF-validity contracts (r14 verdict item 3): which oracles are exact
    // only below a corpus-size bound. Separate sidecar file — the driver
    // reads oracle_sql.json as a flat {name: sql} map, so its format
    // cannot change; epoch tooling (tools/check_oracle.py) picks this up
    // to report above-bound divergences as "by contract" instead of FAIL.
    val cjson = SparkEntry.oracleContracts
      .filter { case (k, _) => nameFilter(k) }
      .map { case (k, c) =>
        s"${q(k)}: {${q("table")}: ${q(c.table)}, " +
          s"${q("max_rows")}: ${c.maxRows}, ${q("reason")}: ${q(c.reason)}}"
      }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_contracts.json"), cjson)
    // Rows-only contracts (r16 verdict item 4): the machine-checkable
    // invariants for queries registered WITHOUT an oracle, so
    // tools/check_oracle.py can audit their dumped parquet (column set,
    // row-count invariant, twin-must-be-exact) instead of leaving them
    // invisible to the artifact. Same separate-sidecar rationale as the
    // oracle contracts above.
    def jopt(o: Option[String]): String = o.map(q).getOrElse("null")
    val rjson = SparkEntry.rowsOnlyContracts
      .filter { case (k, _) => nameFilter(k) }
      .map { case (k, c) =>
        s"${q(k)}: {${q("reason")}: ${q(c.reason)}, " +
          s"${q("columns")}: ${c.columns.sorted.map(q).mkString("[", ",", "]")}, " +
          s"${q("test")}: ${q(c.test)}, " +
          s"${q("twin")}: ${jopt(c.twin)}, " +
          s"${q("min_rows")}: ${c.minRows}, " +
          s"${q("exact_rows_sql")}: ${jopt(c.exactRowsSql)}, " +
          s"${q("max_rows_sql")}: ${jopt(c.maxRowsSql)}}"
      }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/rows_only_contracts.json"), rjson)
    spark.stop()
  }
}
