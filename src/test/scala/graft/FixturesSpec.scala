package graft

import java.io.File
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ops.{Etl, Sources}

/** Where the registered queries keep the files they derive from a corpus
  * ([[Fixtures]]). */
class FixturesSpec extends SparkSpec {

  test("Etl and Sources fixtures live under java.io.tmpdir") {
    val dir = "/root/testdata/sf0.001"
    val corpus = new File(dir).getCanonicalPath + File.separator
    val tmp = new File(System.getProperty("java.io.tmpdir")).getCanonicalPath + File.separator
    val queries = Seq[(String, (SparkSession, String) => DataFrame)](
      "weatherCsv" -> Etl.weatherCsv, "parquetSink" -> Etl.parquetSink,
      "compaction" -> Etl.compaction, "taxiEtl" -> Etl.taxiEtl,
      "jsonRoundtrip" -> Sources.jsonRoundtrip, "orcRoundtrip" -> Sources.orcRoundtrip,
      "csvRoundtrip" -> Sources.csvRoundtrip, "schemaEvolution" -> Sources.schemaEvolution)
    queries.foreach { case (name, query) =>
      // the files the query's plan reads, less the corpus tables
      val fixtures = query(spark, dir).inputFiles.toSeq
        .map(f => new File(new java.net.URI(f)).getCanonicalPath)
        .filterNot(_.startsWith(corpus))
      assert(fixtures.nonEmpty, s"$name reads no fixture")
      assert(fixtures.forall(_.startsWith(tmp)),
        s"$name reads fixtures outside $tmp: ${fixtures.filterNot(_.startsWith(tmp)).take(3)}")
    }
  }
}
