package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{GraftSession, Tables}

/** Materialize an N× ("sf1") copy of a testdata directory for the
  * FULL-REGISTRY scale probe (r6 verdict item 4) — the same synthesis
  * rules the r5 ScaleProbe (retired r15; git history + SCALE.md carry
  * its conclusions) proved for the iterative tier, applied to every
  * table and written to disk so `Bench` can run the whole registry
  * against it via `SPARK_GRAFT_SF_DIR`:
  *
  *   - Fact tables become N disjoint id-shifted copies (every key column
  *     shifted by i·10^8 consistently, so FK joins stay 1:1 per copy —
  *     an unshifted FK would match all N copies and inflate join output
  *     N× beyond real growth).
  *   - `region`/`nation` stay single-copy (dimensions don't grow with
  *     fact data; their FK columns — c_nationkey, s_nationkey — are
  *     left unshifted to keep pointing at them).
  *   - `documents.text` is remapped per copy with a BIJECTIVE character
  *     permutation: intra-copy Jaccard structure is preserved exactly while
  *     cross-copy shingle similarity collapses, so the dedup tier sees
  *     real 10× growth, not N-cliques of identical docs (ScaleProbe
  *     measured the clique variant separately as `--adversarial`).
  *     r10: the original 36-way ROTATION repeats every 36 copies — at the
  *     1000-copy sf100 build, copies i and i+36 would be byte-identical
  *     (a ~28-clique of exact dups per doc, the adversarial shape, not
  *     real growth). Each copy now gets a seeded Fisher–Yates permutation
  *     of the alphabet (36! space; all 1000 are distinct), so the
  *     invariant holds at any copy count.
  *   - `embeddings.embedding` gets a small per-(copy, dimension)
  *     deterministic offset so copies are not cosine-identical (identical
  *     vectors would give ANN rerank degenerate ties). r10: the original
  *     `% 13` offset repeats every 13 copies — identical vectors one
  *     decade out, degenerating exactly the near-dup gadget sf100 is
  *     built to measure. The modulus is now 1009 (> any plausible copy
  *     count; for a fixed dimension the map i → offset is a bijection
  *     over 0..1008, so all copies stay distinct).
  *
  * Timestamps/dates are left unchanged: time ranges don't stretch when a
  * corpus grows at fixed calendar span — per-bucket row counts grow
  * instead, which is exactly the skew profile a 10× ingest produces.
  *
  * Usage: runMain graft.tools.MakeScaledCorpus [srcDir] [destDir] [copies]
  */
object MakeScaledCorpus {

  private val Alpha = "abcdefghijklmnopqrstuvwxyz0123456789"

  /** Deterministic alphabet permutation for copy `i` (identity for copy 0,
    * which stays byte-identical to the source). Seeded Fisher–Yates over a
    * splitmix64 stream: distinct permutations for every copy index, so the
    * "no cross-copy exact dups" invariant survives any copy count (the old
    * rotation had period 36). Driver-side, 36 chars — cost is nil. */
  private[tools] def permFor(i: Int): String = {
    if (i == 0) return Alpha
    val a = Alpha.toCharArray
    var z = i.toLong * 0x9E3779B97F4A7C15L
    def next(): Long = {
      z += 0x9E3779B97F4A7C15L
      var x = z
      x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
      x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
      x ^ (x >>> 31)
    }
    var k = a.length - 1
    while (k > 0) {
      val j = java.lang.Math.floorMod(next(), (k + 1).toLong).toInt
      val t = a(k); a(k) = a(j); a(j) = t
      k -= 1
    }
    val s = new String(a)
    // astronomically unlikely, but the invariant is load-bearing: never identity
    if (s == Alpha) new String(Array(a(1), a(0)) ++ a.drop(2)) else s
  }

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val dest = args.lift(1).getOrElse("target/sf1")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = GraftSession.create(GraftSession.cpus)
    build(spark, src, dest, copies)
    spark.stop()
    println(s"[make-sf] wrote $copies-fold corpus to $dest")
  }

  /** The synthesis itself — separated from `main` so
    * MakeScaledCorpusSpec can pin the invariants the probe's validity
    * rests on (FK-consistent shifts, single-copy dims, per-copy text
    * bijection) on a tiny corpus. */
  def build(spark: SparkSession, src: String, dest: String, copies: Int): Unit = {
    import spark.implicits._

    // r10: at 1000 copies a single union is a 1000-child plan and one
    // giant write; chunking by 100 copies (overwrite first, append rest)
    // keeps analysis cost and task counts at the shape the 100-copy sf10
    // build already proved, at any copy count.
    val chunks: Seq[Seq[Int]] = (0 until copies).grouped(100).map(_.toSeq).toSeq

    def checkBounds(df: DataFrame, keyCols: Seq[String]): Unit = {
      // r7 advice: the i·10^8 shift silently assumed every source key
      // < 10^8; a larger source would create cross-copy key collisions and
      // break the FK-disjointness invariant the probe's validity rests on.
      // Fail loudly instead of writing an invalid corpus.
      val bounds = df.agg(max(col(keyCols.head)).cast("long"),
        keyCols.tail.map(k => max(col(k)).cast("long")): _*).head()
      keyCols.zipWithIndex.foreach { case (k, idx) =>
        val mx = if (bounds.isNullAt(idx)) 0L else bounds.getLong(idx)
        require(mx < 100000000L,
          s"key column $k has max $mx >= 10^8: copy shifts would collide — " +
            "raise the shift stride before scaling this corpus")
      }
    }

    def write(table: String, df: DataFrame, keyCols: Seq[String])(
        mutate: (DataFrame, Int) => DataFrame = (d, _) => d): Unit = {
      checkBounds(df, keyCols)
      chunks.zipWithIndex.foreach { case (idxs, ci) =>
        val chunk = idxs.map { i =>
          val s = i * 100000000L
          mutate(keyCols.foldLeft(df)((d, k) => d.withColumn(k, col(k) + lit(s))), i)
        }.reduce(_ unionByName _)
        val mode = if (ci == 0) "overwrite" else "append"
        chunk.repartition(32).write.mode(mode).parquet(s"$dest/$table.parquet")
      }
      println(s"[make-sf] $table: ${spark.read.parquet(s"$dest/$table.parquet").count()} rows")
    }

    def writeDim(df: DataFrame, table: String): Unit = {
      df.repartition(32).write.mode("overwrite").parquet(s"$dest/$table.parquet")
      println(s"[make-sf] $table: ${spark.read.parquet(s"$dest/$table.parquet").count()} rows")
    }

    // dimensions: single copy, keys untouched
    writeDim(Tables.region(spark, src), "region")
    writeDim(Tables.nation(spark, src), "nation")

    write("customer", Tables.customer(spark, src), Seq("c_custkey"))()
    write("supplier", Tables.supplier(spark, src), Seq("s_suppkey"))()
    write("part", Tables.part(spark, src), Seq("p_partkey"))()
    write("orders", Tables.orders(spark, src), Seq("o_orderkey", "o_custkey"))()
    write("lineitem", Tables.lineitem(spark, src),
      Seq("l_orderkey", "l_partkey", "l_suppkey"))()
    write("events", Tables.events(spark, src), Seq("event_id", "user_id"))()
    write("documents", Tables.documents(spark, src), Seq("doc_id")) { (d, i) =>
      if (i == 0) d
      else d.withColumn("text", translate($"text", Alpha, permFor(i)))
    }
    write("embeddings", Tables.embeddings(spark, src), Seq("vec_id")) { (d, i) =>
      if (i == 0) d
      else d.withColumn("embedding",
        transform($"embedding", (x, j) =>
          (x + ((j * 31 + lit(i) * 997) % 1009 - 504).cast("float") * lit(0.00012f)).cast("float")))
    }
  }
}
