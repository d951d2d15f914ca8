package org.apache.spark.sql

import org.apache.spark.sql.execution.LogicalRDD

/** graft's one seam into Spark's `private[sql]` Dataset construction. */
object GraftDatasets {

  /** `df` re-rooted on a `LogicalRDD` leaf over its own internal rows: the
    * same rows, schema and output partitioning, an analyzed plan of one
    * node, and no conversion to external `Row`s. Building the RDD plans
    * `df`; an adaptive plan runs its shuffle stages here, any other plan
    * runs nothing until the leaf is read.
    *
    * The leaf drops `df`'s sort order: a join's physical ordering also
    * names the other side's key, and a cached leaf whose ordering names a
    * column outside its output fails when the cache is reused under new
    * attribute ids (a self-join). */
  def flatten(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val leaf = LogicalRDD.fromDataset(ds.queryExecution.toRdd, ds, isStreaming = false)
    classic.Dataset.ofRows(ds.sparkSession, leaf.copy(outputOrdering = Nil)(
      ds.sparkSession, Some(leaf.stats), Some(leaf.constraints)))
  }
}
