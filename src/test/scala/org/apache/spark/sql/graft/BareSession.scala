package org.apache.spark.sql.graft

import org.apache.spark.sql.{SparkSession, classic}

/** A session with NO `GraftExtensions` on an existing session's
  * context: what a caller gets from a plain `SparkSession.builder()` in
  * a JVM that already runs a graft session. (The context's conf names
  * no `spark.sql.extensions`; graft sessions add theirs
  * programmatically.) */
object BareSession {
  def of(spark: SparkSession): SparkSession = new classic.SparkSession(spark.sparkContext)
}
