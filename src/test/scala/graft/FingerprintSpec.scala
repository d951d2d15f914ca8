package graft

/** [[Fingerprint]], the one force/checksum Bench times queries through and
  * compares across iterations (`SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01
  * SPARK_GRAFT_BENCH_ITERS=2 sbt "runMain graft.Bench"`). */
class FingerprintSpec extends SparkSpec {
  import spark.implicits._

  test("fingerprint sum separates {A,A,B} from {C,C,B}, whose xor and row count agree") {
    val (xa, sa, na) = Fingerprint(Seq("A", "A", "B").toDF("v"))
    val (xc, sc, nc) = Fingerprint(Seq("C", "C", "B").toDF("v"))
    assert(xa == xc && na == 3 && nc == 3, "the paired rows should cancel in the xor")
    assert(sa != sc)
  }

  test("an empty frame fingerprints as (0, 0, 0)") {
    assert(Fingerprint(Seq.empty[String].toDF("v")) == ((0L, 0L, 0L)))
  }

  test("a map column, which xxhash64 rejects, takes the row-wise fallback and still counts rows") {
    val maps = Seq(Map("a" -> 1), Map("b" -> 2), Map.empty[String, Int]).toDF("m")
    assert(Fingerprint(maps) == ((0L, 0L, 3L)))
    // ML vectors are not rejected: xxhash64 hashes a UDT through its sqlType
    import org.apache.spark.ml.linalg.Vectors
    val vectors = Seq(Tuple1(Vectors.dense(1.0, 2.0)), Tuple1(Vectors.sparse(3, Array(1), Array(4.0))))
      .toDF("features")
    val (x, _, n) = Fingerprint(vectors)
    assert(n == 2 && x != 0L)
  }

  test("dotted and backticked column names are hashed, not sent to the row-wise fallback") {
    val rows = Seq((1L, "x"), (2L, "y"), (3L, "z"))
    val plain = Fingerprint(rows.toDF("a", "b"))
    assert(plain._1 != 0L)
    // xxhash64 over a struct hashes the values, not the field names
    assert(Fingerprint(rows.toDF("a.b", "c`d")) == plain)
  }
}
