package graft

import org.apache.spark.sql.Column

package object functions {

  /** Integer cents of a `double` money column: `CAST(round(x * 100) AS
    * BIGINT)` through the native [[graft.plans.Cents]] expression. Every
    * engine-side cents value goes through here. Requires the session to be
    * built with `spark.sql.extensions=graft.plans.GraftExtensions`. */
  def cents(c: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_cents", c)
}
