package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase
import graft.model.{AttributePath, TangoTypes}

class MiscSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("TextStats.quality ratios are exact count divisions") {
    val d = Seq((0L, "en", 11L, "the a the b")) // 4 tokens, 3 distinct words
      .toDF("doc_id", "lang", "n_chars", "text")
    val r = TextStats.quality(d).collect().head
    assert(r.getLong(3) == 4L) // n_tokens
    assert(r.getLong(4) == 3L) // n_uniq
    assert(r.getLong(5) == 3L) // stopwords: the, a, the
    assert(r.getDouble(6) == 0.75) // uniq ratio
    assert(r.getDouble(7) == 0.75) // stop ratio
    assert(r.getDouble(8) == 2.0) // (11 - 4 + 1) / 4 mean word length
  }

  test("TextStats.repetitionStats: in-row mode fractions, 1-token edge") {
    val d = Seq(
      (0L, "spam spam spam eggs spam"), // top word spam×4; top bigram "spam spam"×2
      (1L, "all words here differ fully"),
      (2L, "solo"))                     // 1 token: no bigrams
      .toDF("doc_id", "text")
    val r = TextStats.repetitionStats(d).orderBy("doc_id").collect()
    assert(r(0).getLong(1) == 5L && r(0).getLong(2) == 4L
      && r(0).getLong(3) == 2L)
    assert(r(0).getDouble(4) == 4.0 / 5 && r(0).getDouble(5) == 2.0 / 4)
    assert(r(1).getLong(2) == 1L && r(1).getLong(3) == 1L)
    assert(r(2).getLong(1) == 1L && r(2).getLong(3) == 0L
      && r(2).getDouble(5) == 0.0)
  }

  test("Dedup.chunkDupStats: aligned chunks, cross-doc sharing only") {
    val ten = (1 to 10).map(i => s"w$i").mkString(" ")
    val other = (11 to 20).map(i => s"w$i").mkString(" ")
    val d = Seq(
      (0L, s"$ten $other"),      // 2 chunks; first shared with doc 1
      (1L, s"$ten tail words beyond chunk"), // 1 chunk (14 tokens), shared
      (2L, other.replace("w11", "w99") + " " + ten.replace("w1 ", "zz ")),
      (3L, "short doc"))          // < 10 tokens: no chunks, absent
      .toDF("doc_id", "text")
    val r = Dedup.chunkDupStats(d, k = 10).orderBy("doc_id").collect()
    assert(r.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L))
    assert(r(0).getLong(1) == 2L && r(0).getLong(2) == 1L
      && r(0).getDouble(3) == 0.5)
    assert(r(1).getLong(1) == 1L && r(1).getLong(2) == 1L)
    assert(r(2).getLong(2) == 0L)
  }

  test("property: chunkDupStats planted copies share fully, others never") {
    val rnd = new scala.util.Random(31)
    // doc-unique vocabularies make accidental cross-doc chunks impossible
    val base = (0L until 30L).map { id =>
      val n = 10 + rnd.nextInt(25)
      id -> (0 until n).map(j => s"d${id}w$j").mkString(" ")
    }
    val planted = base.filter(_._1 % 5 == 0)
      .map { case (id, text) => (id + 1000L) -> text }
    val df = (base ++ planted).toDF("doc_id", "text")
    val r = Dedup.chunkDupStats(df, k = 10).collect()
      .map(row => row.getLong(0) ->
        (row.getLong(1), row.getLong(2), row.getDouble(3))).toMap
    (base ++ planted).foreach { case (id, text) =>
      val nChunks = text.split(" ").length / 10
      val (n, shared, frac) = r(id)
      assert(n == nChunks, s"doc $id chunk count")
      val isCopy = id >= 1000L || id % 5 == 0
      if (isCopy) assert(shared == n && frac == 1.0, s"doc $id shared")
      else assert(shared == 0L && frac == 0.0, s"doc $id unique")
    }
  }

  test("TextStats.tfidfTopTerms: rare terms outrank common, integer idf") {
    // 'rare' df=1, 'mid' df=2, 'the' df=3 (N=3)
    val d = Seq(
      (0L, "the the rare mid"),
      (1L, "the mid common words"),
      (2L, "the filler text")).toDF("doc_id", "text")
    val r = TextStats.tfidfTopTerms(d, k = 2).orderBy("doc_id", "rn")
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getString(2),
        x.getLong(3)))
    // doc 0: rare scores 1·(3e6 div 1)=3e6; mid 1·(3e6 div 2)=1.5e6;
    // the 2·(3e6 div 3)=2e6 → order: rare, the
    assert(r.filter(_._1 == 0L).map(t => (t._3, t._4)).toSeq ==
      Seq(("rare", 3000000L), ("the", 2000000L)))
    // rank column is 1-based and dense
    assert(r.filter(_._1 == 1L).map(_._2).toSeq == Seq(1L, 2L))
  }

  test("Dedup.corpusDiff: added/removed/changed/unchanged by digest") {
    val old = Seq((0L, "alpha"), (1L, "beta"), (2L, "gamma"),
      (4L, null), (5L, null)).toDF("doc_id", "text")
    val neu = Seq((1L, "beta"), (2L, "gamma edited"), (3L, "delta"),
      (5L, null), (6L, null)).toDF("doc_id", "text")
    val r = Dedup.corpusDiff(old, neu).orderBy("doc_id")
      .collect().map(x => x.getLong(0) -> x.getString(3)).toMap
    // null-text docs must classify by PRESENCE, not by digest nullness
    assert(r == Map(0L -> "removed", 1L -> "unchanged",
      2L -> "changed", 3L -> "added",
      4L -> "removed", 5L -> "unchanged", 6L -> "added"))
  }

  test("TextStats.langGuess argmax with alphabetical tie-break") {
    val d = Seq(
      (0L, "x", 1L, "join merge sort sort"), // de markers dominate
      (1L, "x", 1L, "table row scan scan"), // en markers
      (2L, "x", 1L, "nothing matches here")) // all-zero → first lang (de)
      .toDF("doc_id", "lang", "n_chars", "text")
    val r = d.select(TextStats.langGuess.as("g")).as[String].collect()
    assert(r.toSeq == Seq("de", "en", "de"))
  }

  test("Multimodal: deterministic fake decode over binary payloads") {
    val d = Seq((0L, "en", "src0", 5L, "hello"), (1L, "en", "src0", 5L, "hello"))
      .toDF("doc_id", "lang", "source", "n_chars", "text")
    val r = Multimodal.features(d).orderBy("doc_id").collect()
    assert(r.length == 2)
    assert(r(0).getLong(2) == 5L) // byte_len of utf-8 "hello"
    assert(r(0).getLong(5) == r(1).getLong(5)) // checksum deterministic
    assert(r(0).getSeq[Float](6).length == 8) // 8 histogram buckets
    assert(math.abs(r(0).getSeq[Float](6).sum - 1.0f) < 1e-6)
    // every kind gets the same decode, not only `image/fake`
    val wav = Multimodal.MediaRow(2L, "audio/wav", "RIFF....WAVE".getBytes("UTF-8"))
    val got = Multimodal.extractFeatures(
      Seq((wav.doc_id, wav.kind, wav.payload)).toDF("doc_id", "kind", "payload"))
      .collect().head
    val want = Multimodal.FakeCodec.decode(wav)
    assert(got.kind == "audio/wav")
    assert((got.byte_len, got.width, got.height, got.checksum) ==
      (want.byte_len, want.width, want.height, want.checksum))
    assert(got.feature.toSeq == want.feature.toSeq)
  }

  test("Model path codec round-trips 5-part attribute paths (C1)") {
    val full = "cs1:10000/r3/mag/dia-01/current"
    val (cs, rest) = AttributePath.splitCs(full)
    assert(cs == "cs1:10000")
    val an = AttributePath.splitName(rest)
    assert((an.domain, an.family, an.member, an.name)
      == ("r3", "mag", "dia-01", "current"))
    assert(AttributePath.format(cs, an.domain, an.family, an.member,
      an.name) == full)
    // rsplit semantics (hdbpp.py:90-92): a cs containing slashes keeps
    // everything up to the LAST four parts — first-'/' would mis-parse
    val (cs2, rest2) = AttributePath.splitCs(
      "tango://cs1:10000/r3/mag/dia-01/current")
    assert(cs2 == "tango://cs1:10000" && rest2 == "r3/mag/dia-01/current")
    intercept[IllegalArgumentException] {
      AttributePath.splitCs("only/three/parts/here")
    }
    // Python rsplit("/", 4) parity at the edges: a LEADING slash is an
    // empty cs (accepted), and a trailing empty name segment splits
    // into 4 parts like the Rsplit4Re regex does
    val (cs3, rest3) = AttributePath.splitCs("/r3/mag/dia-01/current")
    assert(cs3 == "" && rest3 == "r3/mag/dia-01/current")
    val trail = AttributePath.splitName("r3/mag/dia-01/")
    assert(trail.member == "dia-01" && trail.name == "")
  }

  test("TangoTypes: 26 tables, type resolution") {
    assert(TangoTypes.dataTables.size == 26)
    assert(TangoTypes.dataTables.contains("att_scalar_devdouble_ro"))
    assert(TangoTypes.dataTables.contains("att_scalar_devushort_rw"))
    assert(TangoTypes.scalarTypes.size == 13)
  }

  test("CacheLifecycle: outstanding one-shot listeners are bounded — " +
    "the oldest force-releases at the cap") {
    // never-materialized results must not accumulate listeners (each
    // pays a plan walk on EVERY completed query) — past the cap the
    // oldest releases early, which is always safe (recompute)
    val spark = SparkTestBase.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    val released = java.util.Collections.synchronizedList(
      new java.util.ArrayList[Int]())
    val n = CacheLifecycle.MaxOutstanding + 2
    (0 until n).foreach { i =>
      // distinct plans per registration (lit(i) keeps them un-aliased)
      val f = Seq((i, 1)).toDF("a", "b").where(lit(i) >= 0)
      CacheLifecycle.releaseAfterFirstUse(f)(() => { released.add(i); () })
    }
    // two past the cap → exactly the two OLDEST released, in order
    assert(released.size == 2 && released.get(0) == 0 && released.get(1) == 1,
      s"released=$released")
  }
}
