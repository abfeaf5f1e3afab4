package org.apache.spark.sql.classic

/** A session over another session's context that installs NO
  * extensions — what a library user who never builds with
  * `GraftExtensions` runs in. `newSession()` cannot give one: it
  * inherits the parent's extensions. The session has its own shared
  * state (catalog, cache manager); sessions forked from it with
  * `newSession()` share that state and stay extension-free. */
object BareSession {
  def of(parent: org.apache.spark.sql.SparkSession): SparkSession =
    new SparkSession(parent.sparkContext)
}
