package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Every library entry point must work FIRST in a session it has
  * never seen: a session that shares the context but installs no
  * `GraftExtensions` starts with an empty function registry and fresh
  * experimental optimizations — exactly the environment that masked
  * the round-4 decontaminate bug (poly_hash31 only registered by an
  * earlier, unrelated call). One operator per self-registering family,
  * invoked on a virgin session each time. */
class FreshSessionSpec extends AnyFunSuite {

  test("dedup pipeline self-registers its SQL functions") {
    val s = SparkTestBase.bareSession()
    import s.implicits._
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again"),
      (1L, "quick brown fox jumps over the lazy dog again and again"),
      (2L, "entirely different content sits here"))
      .toDF("doc_id", "text")
    val pairs = graft.operators.Dedup.minhashNearDups(docs, s)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSet == Set((0L, 1L)))
  }

  test("decontaminate works first in a fresh session") {
    val s = SparkTestBase.bareSession()
    import s.implicits._
    val train = Seq((0L, "the quick brown fox jumps high"),
      (1L, "clean text entirely")).toDF("doc_id", "text")
    val held = Seq((9L, "benchmark has the quick brown fox too"))
      .toDF("doc_id", "text")
    val r = graft.operators.Sampling.decontaminate(train, held)
      .collect().map(_.getLong(0))
    assert(r.toSeq == Seq(0L))
  }

  test("split form of decontaminate works first in a fresh session") {
    val s = SparkTestBase.bareSession()
    import s.implicits._
    val docs = Seq(
      (0L, "the quick brown fox jumps high", "train"),
      (9L, "benchmark has the quick brown fox too", "test"))
      .toDF("doc_id", "text", "sp")
    val r = graft.operators.Sampling
      .decontaminateSplit(docs, "sp", "train", "test")
      .collect().map(_.getLong(0))
    assert(r.toSeq == Seq(0L))
  }

  test("sampling draws self-register the hash function") {
    val s = SparkTestBase.bareSession()
    import s.implicits._
    val docs = Seq((0L, "en", "a b c"), (1L, "en", "d e"),
      (2L, "de", "f g h i")).toDF("doc_id", "lang", "text")
    assert(graft.operators.Sampling.assignSplits(docs).count() == 3)
    assert(graft.operators.Sampling.applyMixture(docs, Seq("lang"))
      .count() >= 1)
    assert(graft.operators.Sampling.quotaSample(docs, Seq("lang"), 1)
      .count() == 2)
    assert(graft.operators.Sampling.globalSample(docs, 2).count() == 2)
  }

  test("text/fingerprint operators self-register") {
    val s = SparkTestBase.bareSession()
    import s.implicits._
    val docs = Seq((0L, "a b c d e"), (1L, "a b c d e"))
      .toDF("doc_id", "text")
    assert(graft.operators.Dedup.fingerprint(docs).count() == 2)
    assert(graft.operators.Dedup.simhash(docs, s).count() == 2)
    assert(graft.operators.TextStats.bigramNovelty(docs).count() == 2)
    graft.operators.Dedup.writeDedupState(docs,
      java.nio.file.Files.createTempDirectory("graft-fresh").toString)
  }

  test("naive derived-column filter prunes via the adapter in a fresh session") {
    val s = SparkTestBase.bareSession()
    val ad = new graft.sources.EventsArchiveAdapter(s, "/root/testdata/sf0.001")
    val df = ad.pointsAll
      .where(col("t") >= graft.api.EventQueries.T0
        && col("t") <= graft.api.EventQueries.T1)
    val pushed = df.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.metadata.getOrElse("PushedFilters", "")
    }
    assert(pushed.exists(p => p.contains("GreaterThanOrEqual(ts")
      && p.contains("LessThanOrEqual(ts")),
      s"derived bounds missing in fresh session (pushed=$pushed)")
    assert(df.count() > 0)
  }

  test("day-deriving and string-generating queries are session-time-" +
    "zone invariant (q35/q37/q38/q40)") {
    // date_format / to_date / NTZ-cast over an LTZ timestamp all
    // render the SESSION zone; the oracles are zone-free UTC. These
    // four queries derive days, generate parse strings, or stage an
    // NTZ fixture — each must produce IDENTICAL results on a non-UTC
    // session (q35's fixture staging memoizes per session, so the
    // clone re-stages under the shifted zone and exercises the
    // staging path too).
    val dir = "/root/testdata/sf0.001"
    def run(s: org.apache.spark.sql.SparkSession, name: String) =
      SparkEntry.queries(name)(s, dir).collect()
        .map(_.toSeq.map(String.valueOf).mkString("|")).toSeq
    val chicago = SparkTestBase.bareSession()
    chicago.conf.set("spark.sql.session.timeZone", "America/Chicago")
    Seq("q35_flat_archive_window", "q37_parse_naive_utc",
      "q38_period_days", "q40_axis_padding").foreach { name =>
      val utc = run(SparkTestBase.bareSession(), name)
      val shifted = run(chicago, name)
      assert(utc == shifted, s"$name differs under a non-UTC session " +
        s"(first diff: ${utc.zip(shifted).find(p => p._1 != p._2)})")
    }
  }
}
