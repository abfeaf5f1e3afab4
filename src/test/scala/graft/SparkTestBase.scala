package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole forked test JVM. */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    // every suite runs with the graft rules installed (derived bounds,
    // lifted literals) — any result one corrupted would fail its spec
    s
  }

  /** An extension-free session over the same context, for specs that
    * must see what a session built without `GraftExtensions` sees:
    * entry points that self-register, and the answers the graft rules
    * must not change. One root, so one extra shared state per JVM;
    * each call forks a virgin session from it. */
  private lazy val bare = org.apache.spark.sql.classic.BareSession.of(spark)
  def bareSession(): SparkSession = bare.newSession()
}
