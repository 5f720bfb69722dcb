package org.apache.spark.sql.graftaccess

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Accessor for `Dataset.ofRows`: the same analyzed plan as a frame of
  * another session on the same SparkContext. The cache manager is shared
  * state, so a frame persisted through one session is read from that
  * cache when the rebound plan runs in the other (graft.ops.TextDedup's
  * loop sessions). Lives in a subpackage of `org.apache.spark.sql` for
  * `private[sql]` access (same rationale as [[SortNodes]]); contains no
  * logic beyond the rebind. */
object SessionFrames {

  def on(s: SparkSession, df: DataFrame): DataFrame = (s, df) match {
    case (cs: org.apache.spark.sql.classic.SparkSession,
        d: org.apache.spark.sql.classic.Dataset[_]) =>
      org.apache.spark.sql.classic.Dataset.ofRows(cs, d.logicalPlan)
    case _ => throw new IllegalArgumentException(
      "SessionFrames.on needs a classic session and Dataset")
  }
}
