package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Multimodal, Retrieval, Sampling, Similarity, TextOps, TextStats}

/** LLM-data-pipeline operators (SURVEY.md §7.2.8) over the driver's
  * `documents` / `embeddings` tables, each with a DuckDB oracle.
  *
  * Oracle-parity rules (same as EventQueries): exact integer math
  * everywhere; ratios are ONE IEEE division of exact integers; token
  * and shingle ids are never an engine hash — either a sorted dense
  * vocabulary or the content-derived poly_hash31 recurrence, both
  * reproducible in DuckDB; every query has a total ORDER BY. The synthetic corpus
  * is all-distinct, so dedup queries plant duplicates (exact copies at
  * doc_id+2000000, near-copies with the first 3 words dropped at
  * doc_id+1000000) — the oracle plants the identical rows.
  */
object PipelineQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  /** The synthetic documents file is ONE parquet row group, so every
    * scan is one partition — fine for the shuffle-first queries, a
    * serial bottleneck for the CPU-bound per-doc pipelines (shingling,
    * hashing, tokenizing: the map work IS the query). Those spread the
    * tiny text across the cluster first. The repartition is now
    * SCALE-GATED (r17, guide §2.4 "remove shuffles outright"): a real
    * 100 TB corpus arrives in thousands of splits that already exceed
    * the cluster's parallelism, and an unconditional round-robin
    * repartition there is a full-corpus text shuffle (plus
    * sortBeforeRepartition's local sort) for nothing — the gate skips
    * it when the scan is already at least as parallel as the session.
    * Results are partitioning-independent (every query totalizes its
    * order; aggregates are exact-integer), so the gate can never
    * change a hash. Locally (one-row-group file → 1 scan partition)
    * the repartition still engages, keeping the bench plan unchanged. */
  private def docsSpread(s: SparkSession, dir: String): DataFrame = {
    val df = docs(s, dir)
    val scanParts = df.rdd.getNumPartitions
    // defaultParallelism returns spark.default.parallelism when set,
    // so a cluster whose dynamic allocation starts low pins that
    // Spark conf to its steady-state core count
    val target = s.sparkContext.defaultParallelism
    if (scanParts >= target) df
    else df.repartition(target)
  }

  private def emb(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  /** DuckDB rendering of the [[graft.functions.PolyHash31]] recurrence
    * over a string column — `ascii()` per char ≡ the UTF-8 byte on the
    * pure-ASCII corpus. */
  private def polyHashSql(c: String): String =
    s"list_reduce(list_prepend(0::BIGINT, " +
      s"list_transform(string_split($c, ''), ch -> ascii(ch)::BIGINT)), " +
      s"(acc, u) -> (acc * 131 + u) % 2147483647)"

  // ---------------------------------------------------------------- exact dedup
  private def p01(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(TextOps.withPlantedExactDups(docsSpread(s, dir), every = 50))
      .orderBy(col("keep_id"))

  private val p01Sql =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 2000000 AS doc_id, text
      |  FROM documents WHERE doc_id % 50 = 0)
      |SELECT min(doc_id) AS keep_id, count(*) AS n_copies,
      |  sha256(text) AS fp
      |FROM corpus GROUP BY text ORDER BY keep_id""".stripMargin

  // ---------------------------------------------------------------- MinHash-LSH
  /** Shared oracle CTE: corpus with planted near-dups → distinct
    * 3-shingles → content-hash ids (the same poly_hash31 byte
    * recurrence the Spark side computes natively — ascii() ≡ the UTF-8
    * byte on this pure-ASCII corpus). */
  private val NearDupCtes =
    s"""WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id,
      |         array_to_string(string_split(text, ' ')[4:], ' ') AS text
      |  FROM documents WHERE doc_id % 25 = 0),
      |tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS w,
      |         generate_subscripts(string_split(text, ' '), 1) AS pos
      |  FROM corpus),
      |sh AS (
      |  SELECT DISTINCT doc_id, shingle FROM (
      |    SELECT doc_id,
      |      w || ' ' || lead(w, 1) OVER win || ' ' || lead(w, 2) OVER win
      |        AS shingle
      |    FROM tok WINDOW win AS (PARTITION BY doc_id ORDER BY pos))
      |  WHERE shingle IS NOT NULL),
      |dt AS (
      |  SELECT DISTINCT doc_id, ${polyHashSql("shingle")} AS tid
      |  FROM sh)
      |""".stripMargin

  /** Shared oracle chain: MinHash signatures (16 perms) → 4-row band
    * keys → LSH candidate pairs, INCLUDING the `maxBucket = 1000`
    * anchor-star cap [[graft.operators.Dedup.lshCandidates]] applies
    * to oversize buckets (anchor = the bucket's min doc_id; below the
    * cap the all-pairs form is untouched, so the oracle stays the
    * independent exhaustive check wherever load-shedding is off — the
    * p51 sf0.1 audit is what showed caps must be modeled, not
    * ignored). Consumes a `dt` CTE of distinct (doc_id, tid); every
    * minhash-based oracle splices this one chain, so their candidate
    * semantics cannot drift apart. */
  private val MinhashCandCtes =
    """perms AS (SELECT i, 1 + 2*i AS a, 7 + 3*i AS b FROM range(0, 16) t(i)),
      |sig AS (
      |  SELECT doc_id, i, min((a * tid + b) % 2147483647) AS sig
      |  FROM dt CROSS JOIN perms GROUP BY doc_id, i),
      |bands AS (
      |  SELECT doc_id, i // 4 AS band,
      |         string_agg(sig::VARCHAR, ',' ORDER BY i) AS bkey
      |  FROM sig GROUP BY doc_id, i // 4),
      |bsz AS (
      |  SELECT band, bkey, count(*) AS nb, min(doc_id) AS anchor
      |  FROM bands GROUP BY band, bkey),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      |  FROM bands a JOIN bands b
      |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
      |  JOIN bsz ON bsz.band = a.band AND bsz.bkey = a.bkey
      |  WHERE bsz.nb <= 1000 OR a.doc_id = bsz.anchor)""".stripMargin

  private def p02(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashNearDups(
      TextOps.withPlantedNearDups(docsSpread(s, dir), every = 25,
        dropWords = 3),
      s, shingleK = 3, numPerms = 16, rowsPerBand = 4, threshold = 0.5)
      .orderBy(col("d1"), col("d2"))

  private val p02Sql =
    s"""$NearDupCtes,
       |$MinhashCandCtes,
       |sz AS (SELECT doc_id, count(*) AS n FROM dt GROUP BY doc_id),
       |inter AS (
       |  SELECT c.d1, c.d2, count(*) AS n_inter
       |  FROM cand c JOIN dt x ON x.doc_id = c.d1
       |    JOIN dt y ON y.doc_id = c.d2 AND y.tid = x.tid
       |  GROUP BY c.d1, c.d2)
       |SELECT i.d1, i.d2, i.n_inter,
       |  s1.n + s2.n - i.n_inter AS n_union,
       |  CAST(i.n_inter AS DOUBLE) / (s1.n + s2.n - i.n_inter) AS jaccard
       |FROM inter i JOIN sz s1 ON s1.doc_id = i.d1
       |  JOIN sz s2 ON s2.doc_id = i.d2
       |WHERE CAST(i.n_inter AS DOUBLE) / (s1.n + s2.n - i.n_inter) >= 0.5
       |ORDER BY d1, d2""".stripMargin

  // ---------------------------------------------------------------- SimHash
  private def p03(s: SparkSession, dir: String): DataFrame =
    Dedup.simhash(docsSpread(s, dir).select(col("doc_id"), col("text")), s)
      .orderBy(col("doc_id"))

  private val p03Sql =
    s"""WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
      |cnt AS (SELECT doc_id, w, count(*) AS c FROM tok GROUP BY doc_id, w),
      |dt AS (SELECT doc_id, ${polyHashSql("w")} % 8191 AS tid, c FROM cnt),
      |bits AS (SELECT j, 1 + 2*j AS a, 17 + 5*j AS b FROM range(0, 16) t(j)),
      |sj AS (
      |  SELECT doc_id, j,
      |    CAST(sum(c * (CASE WHEN ((a*tid*tid + b*tid + j) % 8191) < 4096
      |      THEN 1 ELSE -1 END)) AS BIGINT) AS s
      |  FROM dt CROSS JOIN bits GROUP BY doc_id, j)
      |SELECT doc_id,
      |  CAST(sum(CASE WHEN s > 0 THEN 1 << j ELSE 0 END) AS BIGINT) AS simhash
      |FROM sj GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- simhash hamming join
  /** p51 — SimHash Hamming-ball pairs ([[Dedup.simhashHammingDups]]):
    * maxDist = 1 over the 16-bit fingerprints — pigeonhole block
    * index for candidates, popcount verify in the join stage,
    * multi-block collisions collapsed. The oracle is the plain
    * all-pairs Hamming predicate over the p03 fingerprint CTEs —
    * legitimate because the blocking is recall-lossless by
    * pigeonhole, so both forms ARE the same set. */
  private def p51(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashHammingDups(
      docsSpread(s, dir).select(col("doc_id"), col("text")), s)
      .orderBy(col("d1"), col("d2"))

  /** Oracle mirrors the BANDED join including the `maxBucket = 1000`
    * anchor-star cap (block widths [8,8] for bits=16, maxDist=1 — the
    * operator defaults): below the cap the per-bucket all-pairs +
    * hamming filter is provably exhaustive (pigeonhole), so the
    * oracle stays the independent check there; past it, only the
    * deterministic anchor pairs (the bucket's min doc_id) survive,
    * matching the operator's documented load-shedding — first
    * exercised for real at sf0.1, where an earlier all-pairs oracle
    * over-counted by the capped buckets' missing pairs. */
  private val p51Sql =
    s"""WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
      |cnt AS (SELECT doc_id, w, count(*) AS c FROM tok GROUP BY doc_id, w),
      |dt AS (SELECT doc_id, ${polyHashSql("w")} % 8191 AS tid, c FROM cnt),
      |bits AS (SELECT j, 1 + 2*j AS a, 17 + 5*j AS b FROM range(0, 16) t(j)),
      |sj AS (
      |  SELECT doc_id, j,
      |    CAST(sum(c * (CASE WHEN ((a*tid*tid + b*tid + j) % 8191) < 4096
      |      THEN 1 ELSE -1 END)) AS BIGINT) AS s
      |  FROM dt CROSS JOIN bits GROUP BY doc_id, j),
      |fp AS (
      |  SELECT doc_id,
      |    CAST(sum(CASE WHEN s > 0 THEN 1 << j ELSE 0 END) AS BIGINT)
      |      AS simhash
      |  FROM sj GROUP BY doc_id),
      |blocks AS (
      |  SELECT doc_id, simhash, blk,
      |    CASE blk WHEN 0 THEN simhash & 255
      |             ELSE (simhash >> 8) & 255 END AS bval
      |  FROM fp, (VALUES (0), (1)) b(blk)),
      |bs AS (
      |  SELECT blk, bval, count(*) AS n, min(doc_id) AS anchor
      |  FROM blocks GROUP BY blk, bval),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      |  FROM blocks a JOIN blocks b
      |    ON a.blk = b.blk AND a.bval = b.bval AND a.doc_id < b.doc_id
      |  JOIN bs ON bs.blk = a.blk AND bs.bval = a.bval
      |  WHERE bs.n <= 1000 OR a.doc_id = bs.anchor)
      |SELECT c.d1, c.d2,
      |  CAST(bit_count(xor(fa.simhash, fb.simhash)) AS INTEGER) AS hamming
      |FROM cand c JOIN fp fa ON fa.doc_id = c.d1
      |  JOIN fp fb ON fb.doc_id = c.d2
      |WHERE bit_count(xor(fa.simhash, fb.simhash)) <= 1
      |ORDER BY d1, d2""".stripMargin

  // ---------------------------------------------------------------- blocked Jaccard
  private def p04(s: SparkSession, dir: String): DataFrame =
    Dedup.blockedJaccard(docsSpread(s, dir), Seq("lang", "source"), 0.9)
      .orderBy(col("lang"), col("source"), col("d1"), col("d2"))

  private val p04Sql =
    """WITH base AS (
      |  SELECT lang, source, doc_id,
      |         list_distinct(string_split(text, ' ')) AS ws
      |  FROM documents),
      |pairs AS (
      |  SELECT a.lang, a.source, a.doc_id AS d1, b.doc_id AS d2,
      |    CAST(len(list_intersect(a.ws, b.ws)) AS BIGINT) AS n_inter,
      |    CAST(len(a.ws) + len(b.ws) - len(list_intersect(a.ws, b.ws))
      |      AS BIGINT) AS n_union
      |  FROM base a JOIN base b
      |    ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id)
      |SELECT lang, source, d1, d2, n_inter, n_union,
      |  CAST(n_inter AS DOUBLE) / n_union AS jaccard
      |FROM pairs WHERE CAST(n_inter AS DOUBLE) / n_union >= 0.9
      |ORDER BY lang, source, d1, d2""".stripMargin

  // ---------------------------------------------------------------- fingerprint
  private def p05(s: SparkSession, dir: String): DataFrame =
    Dedup.fingerprint(docsSpread(s, dir).select(col("doc_id"), col("text")))
      .orderBy(col("doc_id"))

  private val p05Sql =
    s"""WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS w,
      |         generate_subscripts(string_split(text, ' '), 1) AS pos
      |  FROM documents),
      |seq AS (SELECT doc_id, pos, ${polyHashSql("w")} AS tid FROM tok),
      |grams AS (
      |  SELECT doc_id,
      |    ((tid * 31 + lead(tid, 1) OVER win) * 31
      |      + lead(tid, 2) OVER win) * 31 + lead(tid, 3) OVER win AS h
      |  FROM seq WINDOW win AS (PARTITION BY doc_id ORDER BY pos))
      |SELECT doc_id, min(h % 2147483647) AS fingerprint,
      |  count(*) AS n_grams
      |FROM grams WHERE h IS NOT NULL GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- text stats
  private def p06(s: SparkSession, dir: String): DataFrame =
    TextStats.perLanguage(docsSpread(s, dir)).orderBy(col("lang"))

  private val p06Sql =
    """SELECT lang, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens,
      |  CAST(min(len(string_split(text, ' '))) AS BIGINT) AS min_tokens,
      |  CAST(max(len(string_split(text, ' '))) AS BIGINT) AS max_tokens,
      |  count(DISTINCT source) AS n_sources,
      |  CAST(sum(n_chars) AS DOUBLE) / sum(len(string_split(text, ' ')))
      |    AS chars_per_token
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- quality
  private def p07(s: SparkSession, dir: String): DataFrame =
    TextStats.quality(docsSpread(s, dir)).orderBy(col("doc_id"))

  private val p07Sql = {
    val stopList = TextStats.Stopwords.map(w => s"'$w'").mkString(", ")
    s"""SELECT doc_id, lang, n_chars,
       |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_uniq,
       |  CAST(len(list_filter(string_split(text, ' '),
       |    w -> w IN ($stopList))) AS BIGINT) AS n_stop,
       |  CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
       |    / len(string_split(text, ' ')) AS uniq_ratio,
       |  CAST(len(list_filter(string_split(text, ' '),
       |    w -> w IN ($stopList))) AS DOUBLE)
       |    / len(string_split(text, ' ')) AS stop_ratio,
       |  CAST(n_chars - len(string_split(text, ' ')) + 1 AS DOUBLE)
       |    / len(string_split(text, ' ')) AS mean_word_len
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- lang-ID
  private def p08(s: SparkSession, dir: String): DataFrame =
    TextStats.langConfusion(docsSpread(s, dir))
      .orderBy(col("lang"), col("guess"))

  private val p08Sql = {
    def cnt(markers: Seq[String]): String = {
      val list = markers.map(w => s"'$w'").mkString(", ")
      s"len(list_filter(string_split(text, ' '), w -> w IN ($list)))"
    }
    val m = TextStats.LangMarkers.toMap
    s"""WITH scored AS (
       |  SELECT lang,
       |    ${cnt(m("de"))} AS s_de, ${cnt(m("en"))} AS s_en,
       |    ${cnt(m("es"))} AS s_es, ${cnt(m("fr"))} AS s_fr,
       |    ${cnt(m("zh"))} AS s_zh
       |  FROM documents),
       |guessed AS (
       |  SELECT lang,
       |    CASE
       |      WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr
       |        AND s_de >= s_zh THEN 'de'
       |      WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
       |      WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
       |      WHEN s_fr >= s_zh THEN 'fr'
       |      ELSE 'zh' END AS guess
       |  FROM scored)
       |SELECT lang, guess, count(*) AS n FROM guessed
       |GROUP BY lang, guess ORDER BY lang, guess""".stripMargin
  }

  // ---------------------------------------------------------------- kNN brute
  private def p09(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val q = e.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    Similarity.knnBrute(e, q, k = 10).orderBy(col("qid"), col("rn"))
  }

  private val p09Sql =
    """WITH q AS (SELECT vec_id AS qid, embedding AS qe
      |           FROM embeddings WHERE vec_id < 10),
      |el AS (SELECT vec_id, unnest(embedding) AS v,
      |       generate_subscripts(embedding, 1) AS i FROM embeddings),
      |ql AS (SELECT qid, unnest(qe) AS qv,
      |       generate_subscripts(qe, 1) AS i FROM q),
      |pairs AS (
      |  SELECT ql.qid, el.vec_id AS nid,
      |    CAST(sum(CAST(round(CAST(ql.qv AS DOUBLE) * 10000) AS BIGINT)
      |      * CAST(round(CAST(el.v AS DOUBLE) * 10000) AS BIGINT))
      |      AS BIGINT) AS dot_e8
      |  FROM ql JOIN el ON ql.i = el.i AND el.vec_id <> ql.qid
      |  GROUP BY ql.qid, el.vec_id),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY qid
      |    ORDER BY dot_e8 DESC, nid) AS rn FROM pairs)
      |SELECT qid, rn, nid, dot_e8 FROM ranked WHERE rn <= 10
      |ORDER BY qid, rn""".stripMargin

  // ---------------------------------------------------------------- ANN LSH
  private def p10(s: SparkSession, dir: String): DataFrame =
    Similarity.annLsh(emb(s, dir), col("vec_id") < 10, k = 5)
      .orderBy(col("qid"), col("rn"))

  private val p10Sql =
    """WITH el AS (
      |  SELECT vec_id,
      |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 10000) AS BIGINT)
      |      AS qv,
      |    generate_subscripts(embedding, 1) AS i
      |  FROM embeddings),
      |planes AS (
      |  SELECT j, i, ((37 + 13*j) * i + (91 + 7*j)) % 1000 - 500 AS w
      |  FROM range(0, 8) tj(j), range(1, 65) ti(i)),
      |sbits AS (SELECT vec_id, j, sum(w * qv) AS s
      |          FROM el JOIN planes USING (i) GROUP BY vec_id, j),
      |buckets AS (
      |  SELECT vec_id,
      |    CAST(sum(CASE WHEN s > 0 THEN 1 << j ELSE 0 END) AS BIGINT)
      |      AS bucket
      |  FROM sbits GROUP BY vec_id),
      |q AS (SELECT e.vec_id AS qid, e.embedding AS qe, b.bucket
      |      FROM embeddings e JOIN buckets b ON b.vec_id = e.vec_id
      |      WHERE e.vec_id < 10),
      |candel AS (SELECT b.bucket, e.vec_id, e.embedding
      |           FROM embeddings e JOIN buckets b ON b.vec_id = e.vec_id),
      |cl AS (SELECT bucket, vec_id, unnest(embedding) AS v,
      |       generate_subscripts(embedding, 1) AS i FROM candel),
      |ql AS (SELECT qid, bucket, unnest(qe) AS qv,
      |       generate_subscripts(qe, 1) AS i FROM q),
      |pairs AS (
      |  SELECT ql.qid, ql.bucket, cl.vec_id AS nid,
      |    CAST(sum(CAST(round(CAST(ql.qv AS DOUBLE) * 10000) AS BIGINT)
      |      * CAST(round(CAST(cl.v AS DOUBLE) * 10000) AS BIGINT))
      |      AS BIGINT) AS dot_e8
      |  FROM ql JOIN cl ON ql.i = cl.i AND ql.bucket = cl.bucket
      |    AND cl.vec_id <> ql.qid
      |  GROUP BY ql.qid, ql.bucket, cl.vec_id),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY qid
      |    ORDER BY dot_e8 DESC, nid) AS rn FROM pairs)
      |SELECT qid, bucket, rn, nid, dot_e8 FROM ranked WHERE rn <= 5
      |ORDER BY qid, rn""".stripMargin

  // ---------------------------------------------------------------- embed stats
  private def p11(s: SparkSession, dir: String): DataFrame =
    Similarity.labelStats(emb(s, dir), nDims = 4).orderBy(col("label"))

  private val p11Sql = {
    val sums = (1 to 4).map(d =>
      s"""CAST(sum(CAST(round(CAST(embedding[$d] AS DOUBLE) * 10000)
         |    AS BIGINT)) AS BIGINT) AS s$d""".stripMargin).mkString(",\n  ")
    s"""SELECT label, count(*) AS n,
       |  $sums
       |FROM embeddings GROUP BY label ORDER BY label""".stripMargin
  }

  // ---------------------------------------------------------------- IVF ANN
  private def p13(s: SparkSession, dir: String): DataFrame =
    Similarity.ivfTopK(emb(s, dir), col("vec_id") < 10, k = 5)
      .orderBy(col("qid"), col("rn"))

  private val p13Sql =
    """WITH el AS (
      |  SELECT vec_id, label,
      |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 10000) AS BIGINT)
      |      AS qv,
      |    generate_subscripts(embedding, 1) AS i
      |  FROM embeddings),
      |cent AS (
      |  SELECT label AS clab, i, CAST(sum(qv) AS BIGINT) AS s,
      |         count(*) AS n
      |  FROM el GROUP BY label, i),
      |centq AS (
      |  SELECT clab, i, (s - (((s % n) + n) % n)) / n AS c FROM cent),
      |dots AS (
      |  SELECT el.vec_id, centq.clab,
      |    CAST(sum(el.qv * centq.c) AS BIGINT) AS d
      |  FROM el JOIN centq ON el.i = centq.i
      |  GROUP BY el.vec_id, centq.clab),
      |assigned AS (
      |  SELECT vec_id, clab FROM (
      |    SELECT vec_id, clab,
      |      row_number() OVER (PARTITION BY vec_id
      |        ORDER BY d DESC, clab) AS rn
      |    FROM dots) WHERE rn = 1),
      |q AS (SELECT a.vec_id AS qid, e.embedding AS qe, a.clab
      |      FROM assigned a JOIN embeddings e USING (vec_id)
      |      WHERE a.vec_id < 10),
      |ml AS (SELECT a.clab, e.vec_id,
      |    CAST(round(CAST(unnest(e.embedding) AS DOUBLE) * 10000) AS BIGINT)
      |      AS v,
      |    generate_subscripts(e.embedding, 1) AS i
      |  FROM assigned a JOIN embeddings e USING (vec_id)),
      |qel AS (SELECT qid, clab,
      |    CAST(round(CAST(unnest(qe) AS DOUBLE) * 10000) AS BIGINT) AS qv,
      |    generate_subscripts(qe, 1) AS i
      |  FROM q),
      |pairs AS (
      |  SELECT qel.qid, qel.clab, ml.vec_id AS nid,
      |    CAST(sum(qel.qv * ml.v) AS BIGINT) AS dot_e8
      |  FROM qel JOIN ml ON qel.i = ml.i AND qel.clab = ml.clab
      |    AND ml.vec_id <> qel.qid
      |  GROUP BY qel.qid, qel.clab, ml.vec_id),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY qid
      |    ORDER BY dot_e8 DESC, nid) AS rn FROM pairs)
      |SELECT qid, clab, rn, nid, dot_e8 FROM ranked WHERE rn <= 5
      |ORDER BY qid, rn""".stripMargin

  /** p41 — IVF ANN with MULTI-PROBE (`nprobe = 2`,
    * [[Similarity.ivfTopK]]): p13 pins only `nprobe = 1`, leaving the
    * probe-cell fan-out — the standard IVF recall knob, and on the
    * large-L path a separate codegen expression
    * (`top_cells_dot_e4`) — spec-tested but un-oracled. Each query
    * searches its TWO nearest cells by the same (d desc, clab)
    * tie-broken centroid dots; the oracle widens p13's `q` CTE to the
    * top-2 probe ranks and leaves everything downstream identical, so
    * a wrong probe order, a dropped second cell, or a tie mis-break
    * changes the hash. */
  private def p41(s: SparkSession, dir: String): DataFrame =
    Similarity.ivfTopK(emb(s, dir), col("vec_id") < 10, k = 5, nprobe = 2)
      .orderBy(col("qid"), col("rn"))

  private val p41Sql =
    """WITH el AS (
      |  SELECT vec_id, label,
      |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 10000) AS BIGINT)
      |      AS qv,
      |    generate_subscripts(embedding, 1) AS i
      |  FROM embeddings),
      |cent AS (
      |  SELECT label AS clab, i, CAST(sum(qv) AS BIGINT) AS s,
      |         count(*) AS n
      |  FROM el GROUP BY label, i),
      |centq AS (
      |  SELECT clab, i, (s - (((s % n) + n) % n)) / n AS c FROM cent),
      |dots AS (
      |  SELECT el.vec_id, centq.clab,
      |    CAST(sum(el.qv * centq.c) AS BIGINT) AS d
      |  FROM el JOIN centq ON el.i = centq.i
      |  GROUP BY el.vec_id, centq.clab),
      |assigned AS (
      |  SELECT vec_id, clab FROM (
      |    SELECT vec_id, clab,
      |      row_number() OVER (PARTITION BY vec_id
      |        ORDER BY d DESC, clab) AS rn
      |    FROM dots) WHERE rn = 1),
      |q AS (SELECT p.vec_id AS qid, e.embedding AS qe, p.clab
      |      FROM (
      |        SELECT vec_id, clab, row_number() OVER (PARTITION BY vec_id
      |          ORDER BY d DESC, clab) AS prn
      |        FROM dots) p
      |      JOIN embeddings e USING (vec_id)
      |      WHERE p.vec_id < 10 AND p.prn <= 2),
      |ml AS (SELECT a.clab, e.vec_id,
      |    CAST(round(CAST(unnest(e.embedding) AS DOUBLE) * 10000) AS BIGINT)
      |      AS v,
      |    generate_subscripts(e.embedding, 1) AS i
      |  FROM assigned a JOIN embeddings e USING (vec_id)),
      |qel AS (SELECT qid, clab,
      |    CAST(round(CAST(unnest(qe) AS DOUBLE) * 10000) AS BIGINT) AS qv,
      |    generate_subscripts(qe, 1) AS i
      |  FROM q),
      |pairs AS (
      |  SELECT qel.qid, qel.clab, ml.vec_id AS nid,
      |    CAST(sum(qel.qv * ml.v) AS BIGINT) AS dot_e8
      |  FROM qel JOIN ml ON qel.i = ml.i AND qel.clab = ml.clab
      |    AND ml.vec_id <> qel.qid
      |  GROUP BY qel.qid, qel.clab, ml.vec_id),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY qid
      |    ORDER BY dot_e8 DESC, nid) AS rn FROM pairs)
      |SELECT qid, clab, rn, nid, dot_e8 FROM ranked WHERE rn <= 5
      |ORDER BY qid, rn""".stripMargin

  // ---------------------------------------------------------------- k-means training
  /** p38 — ITERATED spherical k-means ([[Similarity.kmeansAssign]],
    * 3 Lloyd rounds from the label init): the IVF centroid-training
    * step as a first-class oracled query. The compact result (cluster
    * sizes + vec_id checksums after round 3) pins the entire iterated
    * fixpoint — a wrong centroid floor-div or tie-break in ANY round
    * moves some vector's final cell and breaks the hash. */
  private def p38(s: SparkSession, dir: String): DataFrame =
    Similarity.kmeansAssign(emb(s, dir), iters = 3)
      .groupBy(col("clab"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("vec_id")).as("vec_checksum"))
      .orderBy(col("clab"))

  /** One Lloyd round in DuckDB (mirrors p13's single-round CTEs):
    * centroids from the previous assignment, positive-mod floor
    * division, argmax dot with clab tie-break. */
  private def p38Round(t: Int): String =
    s"""n$t AS (SELECT clab, count(*) AS n FROM a${t - 1} GROUP BY clab),
       |c$t AS (
       |  SELECT a.clab, el.i, CAST(sum(el.qv) AS BIGINT) AS s
       |  FROM a${t - 1} a JOIN el USING (vec_id) GROUP BY a.clab, el.i),
       |cq$t AS (
       |  SELECT c.clab, c.i, (s - (((s % n) + n) % n)) / n AS cc
       |  FROM c$t c JOIN n$t USING (clab)),
       |d$t AS (
       |  SELECT el.vec_id, cq.clab, CAST(sum(el.qv * cq.cc) AS BIGINT) AS d
       |  FROM el JOIN cq$t cq ON el.i = cq.i GROUP BY el.vec_id, cq.clab),
       |a$t AS (
       |  SELECT vec_id, clab FROM (
       |    SELECT vec_id, clab, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY d DESC, clab) AS rn
       |    FROM d$t) WHERE rn = 1)""".stripMargin

  private val p38Sql =
    s"""WITH el AS (
       |  SELECT vec_id,
       |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 10000) AS BIGINT)
       |      AS qv,
       |    generate_subscripts(embedding, 1) AS i
       |  FROM embeddings),
       |a0 AS (SELECT vec_id, CAST(label AS INTEGER) AS clab
       |       FROM embeddings),
       |${(1 to 3).map(p38Round).mkString(",\n")}
       |SELECT clab, count(*) AS n_vecs,
       |  CAST(sum(vec_id) AS BIGINT) AS vec_checksum
       |FROM a3 GROUP BY clab ORDER BY clab""".stripMargin

  /** p40 — k-means at L=128 cells (`vec_id % 128 + 1`), hash-pinning
    * the broadcast-matrix `argmax_dot_e4` codegen expression end-to-end
    * against the same DuckDB round-CTEs at a cluster count where a
    * literal-SQL centroid array would be unwieldy (p38 pins the same
    * path at oracle label counts). TWO Lloyd rounds, because
    * round 2 re-aggregates centroids FROM expression-assigned cells —
    * a wrong dot, tie-break, or floor-div anywhere in the broadcast
    * path moves some vector and breaks the hash. */
  private def p40(s: SparkSession, dir: String): DataFrame =
    Similarity.kmeansAssign(
      emb(s, dir).withColumn("label",
        (col("vec_id") % 128 + 1).cast("int")),
      iters = 2)
      .groupBy(col("clab"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("vec_id")).as("vec_checksum"))
      .orderBy(col("clab"))

  private val p40Sql =
    s"""WITH el AS (
       |  SELECT vec_id,
       |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 10000) AS BIGINT)
       |      AS qv,
       |    generate_subscripts(embedding, 1) AS i
       |  FROM embeddings),
       |a0 AS (SELECT vec_id, CAST(vec_id % 128 + 1 AS INTEGER) AS clab
       |       FROM embeddings),
       |${(1 to 2).map(p38Round).mkString(",\n")}
       |SELECT clab, count(*) AS n_vecs,
       |  CAST(sum(vec_id) AS BIGINT) AS vec_checksum
       |FROM a2 GROUP BY clab ORDER BY clab""".stripMargin

  // ---------------------------------------------------------------- semantic dedup
  /** p39 — SemDeDup-style semantic dedup
    * ([[Similarity.semanticDedup]]): one k-means round builds the
    * cells, then each cell drops vectors with a smaller-id cell-mate
    * at cosine ≥ 0.3. Full per-vector keep/drop matrix hash-pinned —
    * a wrong cell, pair, or cosine flips some row's keep bit. */
  private def p39(s: SparkSession, dir: String): DataFrame =
    // maxCell disabled: the oracle SQL models honest all-pairs per
    // cell, and the hash contract must hold at ANY scale factor — the
    // anchor-star degradation is covered by its own stress test, not
    // by this differential
    Similarity.semanticDedup(emb(s, dir), threshold = 0.3,
      maxCell = Int.MaxValue)
      .orderBy(col("vec_id"))

  private val p39Sql =
    s"""WITH el AS (
       |  SELECT vec_id,
       |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 10000) AS BIGINT)
       |      AS qv,
       |    generate_subscripts(embedding, 1) AS i
       |  FROM embeddings),
       |a0 AS (SELECT vec_id, CAST(label AS INTEGER) AS clab
       |       FROM embeddings),
       |${p38Round(1)},
       |norms AS (SELECT vec_id, CAST(sum(qv*qv) AS BIGINT) AS nrm
       |          FROM el GROUP BY vec_id),
       |cellpairs AS (
       |  SELECT x.vec_id AS v1, y.vec_id AS v2
       |  FROM a1 x JOIN a1 y ON x.clab = y.clab AND x.vec_id < y.vec_id),
       |pairdots AS (
       |  SELECT p.v1, p.v2, CAST(sum(ex.qv * ey.qv) AS BIGINT) AS dot
       |  FROM cellpairs p JOIN el ex ON ex.vec_id = p.v1
       |    JOIN el ey ON ey.vec_id = p.v2 AND ex.i = ey.i
       |  GROUP BY p.v1, p.v2),
       |dups AS (
       |  SELECT DISTINCT d.v2 AS vec_id
       |  FROM pairdots d JOIN norms nx ON nx.vec_id = d.v1
       |    JOIN norms ny ON ny.vec_id = d.v2
       |  -- zero-norm guard mirrors the engine: dead vectors (nrm = 0,
       |  -- cosine NaN) are never anyone's duplicate
       |  WHERE nx.nrm > 0 AND ny.nrm > 0 AND CAST(d.dot AS DOUBLE)
       |    / sqrt(CAST(nx.nrm AS DOUBLE) * CAST(ny.nrm AS DOUBLE)) >= 0.3)
       |SELECT a.vec_id, a.clab,
       |  CASE WHEN u.vec_id IS NULL THEN 1 ELSE 0 END AS keep
       |FROM a1 a LEFT JOIN dups u USING (vec_id)
       |ORDER BY a.vec_id""".stripMargin

  // ---------------------------------------------------------------- diversity sample
  /** p50 — cluster-balanced diversity sample
    * ([[Similarity.clusterBalancedSample]]): one Lloyd round builds
    * the cells, then up to 20 vectors per cell by smallest
    * (split-hash, vec_id). The oracle replays the round CTE plus a
    * per-cell window rank over the identical hash — pinning both the
    * cell assignment and the quota membership/order. */
  private def p50(s: SparkSession, dir: String): DataFrame =
    Similarity.clusterBalancedSample(emb(s, dir), k = 20)
      .orderBy(col("clab"), col("rn"))

  private val p50Sql =
    s"""WITH el AS (
       |  SELECT vec_id,
       |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 10000) AS BIGINT)
       |      AS qv,
       |    generate_subscripts(embedding, 1) AS i
       |  FROM embeddings),
       |a0 AS (SELECT vec_id, CAST(label AS INTEGER) AS clab
       |       FROM embeddings),
       |${p38Round(1)},
       |q AS (
       |  SELECT clab, vec_id,
       |    ${polyHashSql("'diverse:' || CAST(vec_id AS VARCHAR)")}
       |      AS h_quota
       |  FROM a1),
       |ranked AS (
       |  SELECT clab, vec_id, h_quota,
       |    row_number() OVER (PARTITION BY clab ORDER BY h_quota, vec_id)
       |      AS rn
       |  FROM q)
       |SELECT clab, CAST(rn AS BIGINT) AS rn, vec_id, h_quota
       |FROM ranked WHERE rn <= 20 ORDER BY clab, rn""".stripMargin

  // ---------------------------------------------------------------- product quantization
  /** The quantized-component CTE shared by the PQ chain; p58 swaps in
    * a superset `el` that also carries `label` for the IVF side. */
  private val pqElCte =
    s"""el AS (
       |  SELECT vec_id,
       |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 10000) AS BIGINT)
       |      AS qv,
       |    generate_subscripts(embedding, 1) AS i
       |  FROM embeddings)""".stripMargin

  /** Shared PQ CTE chain (m=8 subspaces × 8 dims, 16 codes): quantized
    * components split by subspace, the deterministic init
    * `(vec_id + 3·sub) mod 16`, one Lloyd round of integer-exact
    * centroid means (p38's positive-mod floor division), and the
    * encoding — per (vector, subspace) the code maximizing
    * `2·dot − ‖c‖²` (= argmin distance up to the code-independent
    * ‖x‖²), ties to the smallest code. Mirrors
    * [[Similarity.pqCodebooks]]/[[Similarity.pqEncode]] term by term. */
  private val pqChain =
    s"""sel AS (SELECT vec_id, CAST((i - 1) // 8 AS INTEGER) AS sub,
       |               ((i - 1) % 8) + 1 AS j, qv FROM el),
       |pa0 AS (SELECT DISTINCT vec_id, sub,
       |          CAST(((vec_id + 3 * sub) % 16) + 1 AS INTEGER) AS c0
       |        FROM sel),
       |pn AS (SELECT sub, c0, count(*) AS n FROM pa0 GROUP BY sub, c0),
       |pcs AS (
       |  SELECT pa0.sub, pa0.c0, sel.j, CAST(sum(sel.qv) AS BIGINT) AS s
       |  FROM pa0 JOIN sel ON pa0.vec_id = sel.vec_id AND pa0.sub = sel.sub
       |  GROUP BY pa0.sub, pa0.c0, sel.j),
       |pcq AS (
       |  SELECT pcs.sub, pcs.c0, pcs.j,
       |    (s - (((s % pn.n) + pn.n) % pn.n)) / pn.n AS cc
       |  FROM pcs JOIN pn ON pcs.sub = pn.sub AND pcs.c0 = pn.c0),
       |pc2 AS (SELECT sub, c0, CAST(sum(cc * cc) AS BIGINT) AS csq
       |        FROM pcq GROUP BY sub, c0),
       |pdd AS (
       |  SELECT sel.vec_id, sel.sub, pcq.c0,
       |    CAST(sum(sel.qv * pcq.cc) AS BIGINT) AS dot
       |  FROM sel JOIN pcq ON sel.sub = pcq.sub AND sel.j = pcq.j
       |  GROUP BY sel.vec_id, sel.sub, pcq.c0),
       |enc AS (SELECT vec_id, sub, c0 AS code FROM (
       |  SELECT pdd.vec_id, pdd.sub, pdd.c0,
       |    row_number() OVER (PARTITION BY pdd.vec_id, pdd.sub
       |      ORDER BY 2 * pdd.dot - pc2.csq DESC, pdd.c0) AS rn
       |  FROM pdd JOIN pc2 ON pdd.sub = pc2.sub AND pdd.c0 = pc2.c0)
       |  WHERE rn = 1)""".stripMargin

  /** p56 — product-quantization train + encode
    * ([[Similarity.pqEncode]]): the 32×-compression codebook path of
    * the ANN family as a first-class oracled query. The full per-
    * (vector, subspace) code matrix is hash-pinned — a wrong centroid
    * floor-div, distance expansion, or tie-break in ANY subspace flips
    * some code. */
  private def p56(s: SparkSession, dir: String): DataFrame =
    Similarity.pqEncode(emb(s, dir))
      .select(col("vec_id"), posexplode(col("codes")).as(Seq("sub", "code")))
      .orderBy(col("vec_id"), col("sub"))

  private val p56Sql =
    s"""WITH $pqElCte,
       |$pqChain
       |SELECT vec_id, sub, code FROM enc ORDER BY vec_id, sub""".stripMargin

  /** p57 — PQ asymmetric-distance top-k ([[Similarity.pqSearchAdc]]):
    * full-precision queries against the CODES via per-query distance
    * tables — the billion-vector ANN serving layout (scan reads m
    * small ints per vector, not the embedding). The oracle replays the
    * table lookups as an enc⋈table join; ranking-vs-exact-dot is the
    * PQ approximation trade and is NOT asserted — determinism of the
    * quantized pipeline is. */
  private def p57(s: SparkSession, dir: String): DataFrame =
    Similarity.pqSearchAdc(emb(s, dir), nQueries = 10, k = 5)
      .orderBy(col("qid"), col("rn"))

  private val p57Sql =
    s"""WITH $pqElCte,
       |$pqChain,
       |qd AS (
       |  SELECT sel.vec_id AS qid, pcq.sub, pcq.c0,
       |    CAST(sum(sel.qv * pcq.cc) AS BIGINT) AS dot
       |  FROM sel JOIN pcq ON sel.sub = pcq.sub AND sel.j = pcq.j
       |  WHERE sel.vec_id < 10
       |  GROUP BY sel.vec_id, pcq.sub, pcq.c0),
       |sc AS (
       |  SELECT qd.qid, enc.vec_id AS nid, CAST(sum(qd.dot) AS BIGINT) AS adc
       |  FROM enc JOIN qd ON enc.sub = qd.sub AND enc.code = qd.c0
       |  WHERE enc.vec_id <> qd.qid
       |  GROUP BY qd.qid, enc.vec_id),
       |ranked AS (
       |  SELECT qid, nid, adc, row_number() OVER (PARTITION BY qid
       |    ORDER BY adc DESC, nid) AS rn FROM sc)
       |SELECT qid, CAST(rn AS BIGINT) AS rn, nid, adc
       |FROM ranked WHERE rn <= 5 ORDER BY qid, rn""".stripMargin

  /** p58 — IVF+PQ composed ([[Similarity.ivfPqTopK]]): the
    * billion-vector serving layout as one oracled query — IVF cells
    * bound the candidates (nprobe=2 of the probe order p41 pins), PQ
    * codes bound the bytes per candidate (the code matrix p56 pins),
    * ADC tables score the intersection. The oracle composes the same
    * CTE families: p41's probe ranks over the centroid dots, the PQ
    * chain's `enc`, and p57's table-lookup join, restricted to the
    * probed cells — a drift in ANY of the three stages (probe order,
    * cell membership, code, table value) moves a ranking and breaks
    * the hash. */
  private def p58(s: SparkSession, dir: String): DataFrame =
    Similarity.ivfPqTopK(emb(s, dir), nQueries = 10, k = 5, nprobe = 2)
      .orderBy(col("qid"), col("rn"))

  private val p58Sql =
    s"""WITH el AS (
       |  SELECT vec_id, label,
       |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 10000) AS BIGINT)
       |      AS qv,
       |    generate_subscripts(embedding, 1) AS i
       |  FROM embeddings),
       |cent AS (
       |  SELECT label AS clab, i, CAST(sum(qv) AS BIGINT) AS s,
       |         count(*) AS n
       |  FROM el GROUP BY label, i),
       |centq AS (
       |  SELECT clab, i, (s - (((s % n) + n) % n)) / n AS c FROM cent),
       |dots AS (
       |  SELECT el.vec_id, centq.clab,
       |    CAST(sum(el.qv * centq.c) AS BIGINT) AS d
       |  FROM el JOIN centq ON el.i = centq.i
       |  GROUP BY el.vec_id, centq.clab),
       |assigned AS (
       |  SELECT vec_id, clab FROM (
       |    SELECT vec_id, clab,
       |      row_number() OVER (PARTITION BY vec_id
       |        ORDER BY d DESC, clab) AS rn
       |    FROM dots) WHERE rn = 1),
       |q AS (SELECT p.vec_id AS qid, p.clab
       |      FROM (
       |        SELECT vec_id, clab, row_number() OVER (PARTITION BY vec_id
       |          ORDER BY d DESC, clab) AS prn
       |        FROM dots) p
       |      WHERE p.vec_id < 10 AND p.prn <= 2),
       |$pqChain,
       |qd AS (
       |  SELECT sel.vec_id AS qid, pcq.sub, pcq.c0,
       |    CAST(sum(sel.qv * pcq.cc) AS BIGINT) AS dot
       |  FROM sel JOIN pcq ON sel.sub = pcq.sub AND sel.j = pcq.j
       |  WHERE sel.vec_id < 10
       |  GROUP BY sel.vec_id, pcq.sub, pcq.c0),
       |pairs AS (
       |  SELECT q.qid, q.clab, a.vec_id AS nid,
       |    CAST(sum(qd.dot) AS BIGINT) AS adc
       |  FROM q JOIN assigned a ON a.clab = q.clab AND a.vec_id <> q.qid
       |    JOIN enc ON enc.vec_id = a.vec_id
       |    JOIN qd ON qd.qid = q.qid AND qd.sub = enc.sub
       |      AND qd.c0 = enc.code
       |  GROUP BY q.qid, q.clab, a.vec_id),
       |ranked AS (
       |  SELECT qid, clab, nid, adc, row_number() OVER (PARTITION BY qid
       |    ORDER BY adc DESC, nid) AS rn FROM pairs)
       |SELECT qid, clab, CAST(rn AS BIGINT) AS rn, nid, adc
       |FROM ranked WHERE rn <= 5 ORDER BY qid, rn""".stripMargin

  // ---------------------------------------------------------------- shard export
  /** p59 — deterministic training-shard export
    * ([[Sampling.exportShards]]): the assembly pipeline's last stage —
    * content-hash shard assignment plus a reproducible in-shard global
    * shuffle, ranked by the two-pass distributed prefix count (never a
    * per-shard window). The full (shard, rn, doc_id) matrix is
    * hash-pinned: a wrong shard mod, a drifted order hash, or a rank
    * off-by-one anywhere breaks it. */
  private def p59(s: SparkSession, dir: String): DataFrame =
    Sampling.exportShards(docs(s, dir), nShards = 8)
      .orderBy(col("shard"), col("rn"))

  private val p59Sql =
    s"""WITH h AS (
       |  SELECT doc_id,
       |    ${polyHashSql("'shard:' || CAST(doc_id AS VARCHAR)")} % 8
       |      AS shard,
       |    ${polyHashSql("'shard-ord:' || CAST(doc_id AS VARCHAR)")}
       |      AS h_ord
       |  FROM documents)
       |SELECT shard, CAST(row_number() OVER (PARTITION BY shard
       |    ORDER BY h_ord, doc_id) AS BIGINT) AS rn, doc_id, h_ord
       |FROM h ORDER BY shard, rn""".stripMargin

  // ---------------------------------------------------------------- streaming corpus dedup
  /** p60 — stream-STATIC exact dedup against PERSISTED corpus state
    * ([[graft.streaming.StreamOps.streamingExactDedupAgainstCorpus]]
    * over [[Dedup.writeDedupState]] output): the continuous-ingest
    * gate — new documents stream in, anything whose content digest is
    * already in the persisted corpus drops, survivors flow on. Zero
    * stream state (the corpus IS the state, re-read per micro-batch
    * through file-source caching). The fixture persists the even-id
    * half of the corpus as the "already ingested" state and streams
    * the whole file; the oracle is the digest anti-join in DuckDB
    * (sha-256 hex on both sides). Completes the streaming coverage:
    * windowed agg (q32), session agg (q33), stream-stream join (q34),
    * stream-static join (this). */
  private val p60Roots =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String, Long)]()

  private def p60(s: SparkSession, dir: String): DataFrame = {
    // a lost race's spare build leaks one temp dir — harmless, bounded
    val (stateRoot, streamDir, nDocs) =
      graft.operators.SkewOps.sessionMemo(p60Roots, s, dir) {
      val state = java.nio.file.Files
        .createTempDirectory("graft-p60-state").toString
      Dedup.writeDedupState(
        docs(s, dir).where(col("doc_id") % 2 === 0), state)
      // the file-stream source needs a directory; documents.parquet
      // is a single file in the driver layout (see EventQueries
      // .stagedStreamDir for the directory-shaped case's handling)
      val src = java.nio.file.Paths.get(dir, "documents.parquet")
      val sd =
        if (java.nio.file.Files.isDirectory(src)) src.toString
        else {
          val d = java.nio.file.Files
            .createTempDirectory("graft-p60-stream")
          java.nio.file.Files.copy(src, d.resolve("documents.parquet"))
          d.toString
        }
      (state, sd, docs(s, dir).count())
    }
    val schema = docs(s, dir).schema
    val name = EventQueries.streamSinkKey(s, dir, "p60")
    // shuffle partitions derived from input volume (the op itself is
    // STATELESS — the corpus is the state — so this sizes the
    // anti-join shuffle, same volume rule) — see statePartitionsFor.
    // Target pinned at 256 Ki rows/partition explicitly: that is the
    // value this query was measured under; the r13 default drop to
    // 64 Ki (a STATE-store commit-I/O calibration) would silently 4×
    // the partition count of this stateless shuffle, and
    // over-partitioning is the measured local failure mode. Pipeline
    // built on the clone the helper hands us (q32 note).
    graft.streaming.StreamOps.withStatePartitions(
        s, graft.streaming.StreamOps.statePartitionsFor(nDocs,
          graft.streaming.StreamOps.StateSizing(
            targetRowsPerPartition = 256 * 1024))) { sess =>
      val stream = sess.readStream.schema(schema).parquet(streamDir)
      // executor-written parquet result, not a memory sink (see
      // EventQueries.q32 / StreamOps.runToParquetTable)
      graft.streaming.StreamOps.runToParquetTable(
          graft.streaming.StreamOps
            .streamingExactDedupAgainstCorpus(stream, stateRoot)
            .select(col("doc_id"), col("fp")),
          "append", sess, name)
        .orderBy(col("doc_id"))
    }
  }

  private val p60Sql =
    s"""WITH state AS (
       |  SELECT DISTINCT sha256(text) AS fp FROM documents
       |  WHERE doc_id % 2 = 0)
       |SELECT d.doc_id, sha256(d.text) AS fp
       |FROM documents d LEFT JOIN state s ON sha256(d.text) = s.fp
       |WHERE s.fp IS NULL
       |ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------- cosine near-dup
  private def p15(s: SparkSession, dir: String): DataFrame =
    Similarity.cosineNearDups(emb(s, dir), threshold = 0.3)
      .orderBy(col("d1"), col("d2"))

  private val p15Sql =
    """WITH el AS (
      |  SELECT vec_id,
      |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 10000) AS BIGINT)
      |      AS qv,
      |    generate_subscripts(embedding, 1) AS i
      |  FROM embeddings),
      |planes AS (
      |  SELECT j, i, ((37 + 13*j) * i + (91 + 7*j)) % 1000 - 500 AS w
      |  FROM range(0, 8) tj(j), range(1, 65) ti(i)),
      |sbits AS (SELECT vec_id, j, sum(w * qv) AS s
      |          FROM el JOIN planes USING (i) GROUP BY vec_id, j),
      |buckets AS (
      |  SELECT vec_id,
      |    CAST(sum(CASE WHEN s > 0 THEN 1 << j ELSE 0 END) AS BIGINT)
      |      AS bucket
      |  FROM sbits GROUP BY vec_id),
      |norms AS (SELECT vec_id, CAST(sum(qv*qv) AS BIGINT) AS nrm
      |          FROM el GROUP BY vec_id),
      |pairs AS (
      |  SELECT a.vec_id AS d1, b.vec_id AS d2, a.bucket
      |  FROM buckets a JOIN buckets b
      |    ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
      |dots AS (
      |  SELECT p.d1, p.d2, p.bucket, CAST(sum(x.qv * y.qv) AS BIGINT)
      |    AS dot_e8
      |  FROM pairs p JOIN el x ON x.vec_id = p.d1
      |    JOIN el y ON y.vec_id = p.d2 AND y.i = x.i
      |  GROUP BY p.d1, p.d2, p.bucket)
      |SELECT d.d1, d.d2, d.bucket, d.dot_e8,
      |  CAST(d.dot_e8 AS DOUBLE)
      |    / sqrt(CAST(n1.nrm AS DOUBLE) * CAST(n2.nrm AS DOUBLE))
      |    AS cosine
      |FROM dots d JOIN norms n1 ON n1.vec_id = d.d1
      |  JOIN norms n2 ON n2.vec_id = d.d2
      |-- zero-norm guard mirrors the engine (NaN cosine never passes)
      |WHERE n1.nrm > 0 AND n2.nrm > 0 AND CAST(d.dot_e8 AS DOUBLE)
      |    / sqrt(CAST(n1.nrm AS DOUBLE) * CAST(n2.nrm AS DOUBLE)) >= 0.3
      |ORDER BY d.d1, d.d2""".stripMargin

  // ---------------------------------------------------------------- token counts
  private def p14(s: SparkSession, dir: String): DataFrame =
    TextStats.tokenCounts(docsSpread(s, dir)).orderBy(col("doc_id"))

  private val p14Sql =
    """SELECT doc_id, n_chars,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
      |  CAST(list_sum(list_transform(string_split(text, ' '),
      |    w -> (len(w) + 3) // 4)) AS BIGINT) AS n_subwords
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- multimodal
  /** Feature vector flattened to scalar f0…f7 columns: array columns
    * are driver-comparator-hostile (pandas cannot sort/factorize an
    * ndarray cell — the ONLY red row in CORRECTNESS_r02). The corpus
    * text is pure ASCII, so the fake codec's byte loop is expressible
    * over `ascii()` codes in DuckDB and p12 gets a real hash oracle. */
  private def p12(s: SparkSession, dir: String): DataFrame = {
    val flat = (0 until 8).map(i =>
      element_at(col("feature"), i + 1).cast("double").as(s"f$i"))
    Multimodal.features(docsSpread(s, dir))
      .select(Seq(col("doc_id"), col("kind"), col("byte_len"),
        col("width"), col("height"), col("checksum")) ++ flat: _*)
      .orderBy(col("doc_id"))
  }

  /** Mirrors [[Multimodal.FakeCodec.decode]] over UTF-8 bytes == ASCII
    * codes: checksum = Σ byte·((i mod 31)+1) mod 2³¹−1 (iterative mod ≡
    * mod of the sum — all terms positive), histogram buckets byte%8,
    * f_b = FLOAT(h_b)/FLOAT(n) — single-precision division on both
    * sides so the widened double is bit-identical. */
  private val p12Sql = {
    val hists = (0 until 8).map(b =>
      s"CAST(sum(CASE WHEN c <> '' AND ascii(c) % 8 = $b THEN 1 ELSE 0 END) AS BIGINT) AS h$b")
      .mkString(",\n  ")
    val feats = (0 until 8).map(b =>
      s"CAST(CAST(a.h$b AS FLOAT) / CAST(greatest(a.n, 1) AS FLOAT) AS DOUBLE) AS f$b")
      .mkString(",\n  ")
    s"""WITH ch AS (
       |  SELECT doc_id, unnest(string_split(text, '')) AS c,
       |         generate_subscripts(string_split(text, ''), 1) AS s
       |  FROM documents),
       |agg AS (
       |  SELECT doc_id,
       |  CAST(sum(ascii(c) * (((s - 1) % 31) + 1)) % 2147483647 AS BIGINT)
       |    AS checksum,
       |  CAST(sum(CASE WHEN c = '' THEN 0 ELSE 1 END) AS BIGINT) AS n,
       |  $hists
       |  FROM ch GROUP BY doc_id)
       |SELECT d.doc_id, 'image/fake' AS kind,
       |  CAST(length(d.text) AS BIGINT) AS byte_len,
       |  CAST(length(d.text) % 640 + 1 AS INT) AS width,
       |  CAST(length(d.text) % 480 + 1 AS INT) AS height,
       |  a.checksum,
       |  $feats
       |FROM documents d JOIN agg a USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- dedup clusters
  /** The grouping step after p02: verified near-dup pairs → connected
    * components → (doc, cluster, canonical-keep flag). Same pair graph
    * as p02 (identical parameters), so the oracle extends p02's CTEs
    * with a recursive transitive closure. */
  private def p16(s: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.minhashNearDups(
      TextOps.withPlantedNearDups(docsSpread(s, dir), every = 25,
        dropWords = 3),
      s, shingleK = 3, numPerms = 16, rowsPerBand = 4, threshold = 0.5)
    Dedup.connectedComponents(pairs.select(col("d1"), col("d2")))
      .orderBy(col("doc_id"))
  }

  private val p16Sql =
    s"""${NearDupCtes.replace("WITH corpus", "WITH RECURSIVE corpus")},
       |$MinhashCandCtes,
       |sz AS (SELECT doc_id, count(*) AS n FROM dt GROUP BY doc_id),
       |inter AS (
       |  SELECT c.d1, c.d2, count(*) AS n_inter
       |  FROM cand c JOIN dt x ON x.doc_id = c.d1
       |    JOIN dt y ON y.doc_id = c.d2 AND y.tid = x.tid
       |  GROUP BY c.d1, c.d2),
       |vp AS (
       |  SELECT i.d1, i.d2
       |  FROM inter i JOIN sz s1 ON s1.doc_id = i.d1
       |    JOIN sz s2 ON s2.doc_id = i.d2
       |  WHERE CAST(i.n_inter AS DOUBLE) / (s1.n + s2.n - i.n_inter) >= 0.5),
       |-- MATERIALIZED: the recursive reach references bi; inlined, the
       |-- whole minhash pipeline re-executes inside every fixpoint
       |-- iteration (the sf1 audit filled 75 GB of spill on p65 before
       |-- OOM; materialized, the same query runs in ~2 min)
       |bi AS MATERIALIZED (
       |  SELECT d1, d2 FROM vp UNION SELECT d2 AS d1, d1 AS d2 FROM vp),
       |reach(a, b) AS (
       |  SELECT d1 AS a, d2 AS b FROM bi
       |  UNION
       |  SELECT r.a, e.d2 AS b FROM reach r JOIN bi e ON e.d1 = r.b)
       |SELECT a AS doc_id, least(a, min(b)) AS cluster_id,
       |  CAST(CASE WHEN a = least(a, min(b)) THEN 1 ELSE 0 END AS BIGINT)
       |    AS keep
       |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- quota sample
  /** Deterministic stratified sampling: hash-bucket train split (80%),
    * then the 40 smallest (quota-hash, doc_id) docs per language — the
    * "pick k random-but-reproducible docs per stratum" mix step. */
  private def p17(s: SparkSession, dir: String): DataFrame =
    Sampling.quotaSample(
      Sampling.assignSplits(docsSpread(s, dir))
        .where(col("split") === "train"),
      Seq("lang"), k = 40)
      .orderBy(col("lang"), col("rn"))

  private val p17Sql =
    s"""WITH base AS (
       |  SELECT lang, doc_id,
       |    ${polyHashSql("'split:' || CAST(doc_id AS VARCHAR)")} AS h_split
       |  FROM documents),
       |tr AS (SELECT lang, doc_id FROM base WHERE h_split % 100 < 80),
       |q AS (
       |  SELECT lang, doc_id,
       |    ${polyHashSql("'quota:' || CAST(doc_id AS VARCHAR)")} AS h_quota
       |  FROM tr),
       |ranked AS (
       |  SELECT lang, doc_id, h_quota,
       |    row_number() OVER (PARTITION BY lang ORDER BY h_quota, doc_id)
       |      AS rn
       |  FROM q)
       |SELECT lang, CAST(rn AS BIGINT) AS rn, doc_id, h_quota
       |FROM ranked WHERE rn <= 40 ORDER BY lang, rn""".stripMargin

  // ---------------------------------------------------------------- PII scrub
  /** Normalization + PII scrub with planted spans: the corpus has no
    * emails/phones (verified), so doc_id-keyed planted spans fully
    * determine the redaction counts; the scrubbed-text digest proves
    * the replacement itself matches byte-for-byte. */
  private def p18(s: SparkSession, dir: String): DataFrame = {
    val planted = docsSpread(s, dir).select(col("doc_id"),
      concat(
        col("text"),
        when(col("doc_id") % 3 =!= 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@mail.example"))).otherwise(""),
        when(col("doc_id") % 2 === 0,
          concat(lit(" ph 555-0"), (col("doc_id") % 97).cast("string")))
          .otherwise("")).as("text"))
    TextStats.scrub(planted).orderBy(col("doc_id"))
  }

  private val p18Sql =
    """WITH corpus AS (
      |  SELECT doc_id,
      |    text ||
      |    CASE WHEN doc_id % 3 <> 0
      |      THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example'
      |      ELSE '' END ||
      |    CASE WHEN doc_id % 2 = 0
      |      THEN ' ph 555-0' || CAST(doc_id % 97 AS VARCHAR)
      |      ELSE '' END AS text
      |  FROM documents),
      |cleaned AS (
      |  SELECT doc_id, text,
      |    trim(regexp_replace(regexp_replace(regexp_replace(text,
      |      '[a-z0-9.]+@[a-z0-9.]+', '<EMAIL>', 'g'),
      |      '[0-9]{3}-[0-9]+', '<PHONE>', 'g'),
      |      ' +', ' ', 'g')) AS clean
      |  FROM corpus)
      |SELECT doc_id,
      |  CAST(len(regexp_extract_all(text, '[a-z0-9.]+@[a-z0-9.]+'))
      |    AS BIGINT) AS n_emails,
      |  CAST(len(regexp_extract_all(text, '[0-9]{3}-[0-9]+'))
      |    AS BIGINT) AS n_phones,
      |  CAST(length(clean) AS BIGINT) AS clean_chars,
      |  sha256(clean) AS fp
      |FROM cleaned ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- token packing
  /** Greedy token-budget packing into 4096-token shards per language:
    * the per-bin manifest a shard writer consumes. */
  private def p19(s: SparkSession, dir: String): DataFrame =
    Sampling.packTokenBudget(docsSpread(s, dir), Seq("lang"), budget = 4096L)
      .orderBy(col("lang"), col("bin"))

  private val p19Sql =
    """WITH t AS (
      |  SELECT lang, doc_id,
      |    -- coalesce mirrors packTokenBudget: NULL text is 0 tokens,
      |    -- not a NULL that poisons the running sum and the bin key
      |    CAST(coalesce(len(string_split(text, ' ')), 0) AS BIGINT)
      |      AS n_tok
      |  FROM documents),
      |c AS (
      |  SELECT lang, doc_id, n_tok,
      |    sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM t)
      |SELECT lang, CAST((cum - n_tok) // 4096 AS BIGINT) AS bin,
      |  count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
      |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
      |FROM c GROUP BY lang, CAST((cum - n_tok) // 4096 AS BIGINT)
      |ORDER BY lang, bin""".stripMargin

  // ---------------------------------------------------------------- dedup apply
  /** The end-to-end deliverable: corpus (with planted exact copies at
    * +2000000 AND planted near-copies at +1000000) → exact dedup →
    * near-dup clustering → surviving doc ids. Exactly the pipeline a
    * training-data job runs; the oracle replays each stage in SQL. */
  private def p20(s: SparkSession, dir: String): DataFrame = {
    val base = docsSpread(s, dir).select(col("doc_id"), col("text"))
    val corpus = TextOps.withPlantedNearDups(base, every = 25, dropWords = 3)
      .unionByName(base.where(col("doc_id") % 50 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
    Dedup.dedupedCorpus(corpus, s).orderBy(col("doc_id"))
  }

  private val p20Sql =
    s"""WITH RECURSIVE corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000 AS doc_id,
       |         array_to_string(string_split(text, ' ')[4:], ' ') AS text
       |  FROM documents WHERE doc_id % 25 = 0
       |  UNION ALL
       |  SELECT doc_id + 2000000 AS doc_id, text
       |  FROM documents WHERE doc_id % 50 = 0),
       |ek AS (SELECT min(doc_id) AS doc_id FROM corpus GROUP BY text),
       |kept AS (
       |  SELECT c.doc_id, c.text FROM corpus c JOIN ek USING (doc_id)),
       |tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS w,
       |         generate_subscripts(string_split(text, ' '), 1) AS pos
       |  FROM kept),
       |sh AS (
       |  SELECT DISTINCT doc_id, shingle FROM (
       |    SELECT doc_id,
       |      w || ' ' || lead(w, 1) OVER win || ' ' || lead(w, 2) OVER win
       |        AS shingle
       |    FROM tok WINDOW win AS (PARTITION BY doc_id ORDER BY pos))
       |  WHERE shingle IS NOT NULL),
       |dt AS (
       |  SELECT DISTINCT doc_id, ${polyHashSql("shingle")} AS tid
       |  FROM sh),
       |$MinhashCandCtes,
       |sz AS (SELECT doc_id, count(*) AS n FROM dt GROUP BY doc_id),
       |inter AS (
       |  SELECT c.d1, c.d2, count(*) AS n_inter
       |  FROM cand c JOIN dt x ON x.doc_id = c.d1
       |    JOIN dt y ON y.doc_id = c.d2 AND y.tid = x.tid
       |  GROUP BY c.d1, c.d2),
       |vp AS (
       |  SELECT i.d1, i.d2
       |  FROM inter i JOIN sz s1 ON s1.doc_id = i.d1
       |    JOIN sz s2 ON s2.doc_id = i.d2
       |  WHERE CAST(i.n_inter AS DOUBLE) / (s1.n + s2.n - i.n_inter) >= 0.5),
       |-- MATERIALIZED: the recursive reach references bi; inlined, the
       |-- whole minhash pipeline re-executes inside every fixpoint
       |-- iteration (the sf1 audit filled 75 GB of spill on p65 before
       |-- OOM; materialized, the same query runs in ~2 min)
       |bi AS MATERIALIZED (
       |  SELECT d1, d2 FROM vp UNION SELECT d2 AS d1, d1 AS d2 FROM vp),
       |reach(a, b) AS (
       |  SELECT d1 AS a, d2 AS b FROM bi
       |  UNION
       |  SELECT r.a, e.d2 AS b FROM reach r JOIN bi e ON e.d1 = r.b),
       |nonkeep AS (
       |  SELECT a AS doc_id FROM reach GROUP BY a
       |  HAVING a <> least(a, min(b)))
       |SELECT k.doc_id FROM kept k
       |LEFT JOIN nonkeep n USING (doc_id)
       |WHERE n.doc_id IS NULL
       |ORDER BY k.doc_id""".stripMargin

  // ---------------------------------------------------------------- global sample
  /** Deterministic global n-sample: smallest n (hash, id) corpus-wide,
    * planned as a distributed bounded top-n (TakeOrderedAndProject). */
  private def p21(s: SparkSession, dir: String): DataFrame =
    Sampling.globalSample(docsSpread(s, dir), n = 200)

  private val p21Sql =
    s"""SELECT doc_id,
       |  ${polyHashSql("'sample:' || CAST(doc_id AS VARCHAR)")} AS h_sample
       |FROM documents
       |ORDER BY h_sample, doc_id LIMIT 200""".stripMargin

  // ---------------------------------------------------------------- top terms
  /** Top-5 tokens per language by count — bounded top-k aggregation,
    * not a per-stratum rank window (5 strata would mean 5 whole-vocab
    * sort tasks). */
  private def p22(s: SparkSession, dir: String): DataFrame =
    TextStats.topTerms(docsSpread(s, dir), Seq("lang"), k = 5)
      .orderBy(col("lang"), col("rn"))

  private val p22Sql =
    """WITH tok AS (
      |  SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents),
      |cnt AS (SELECT lang, w, count(*) AS cnt FROM tok GROUP BY lang, w),
      |ranked AS (
      |  SELECT lang, w, cnt,
      |    row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, w) AS rn
      |  FROM cnt)
      |SELECT lang, CAST(rn AS BIGINT) AS rn, w, cnt
      |FROM ranked WHERE rn <= 5 ORDER BY lang, rn""".stripMargin

  // ---------------------------------------------------------------- quantiles
  /** Exact median/p90 token counts per language via the histogram
    * running-sum — the window runs over the tiny (lang, count)
    * histogram, never the corpus. */
  private def p23(s: SparkSession, dir: String): DataFrame =
    TextStats.tokenQuantiles(docsSpread(s, dir), Seq("lang"))
      .orderBy(col("lang"))

  private val p23Sql =
    """WITH t AS (
      |  SELECT lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS v
      |  FROM documents),
      |hist AS (SELECT lang, v, count(*) AS cnt FROM t GROUP BY lang, v),
      |cum AS (
      |  SELECT lang, v,
      |    sum(cnt) OVER (PARTITION BY lang ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM hist),
      |n AS (SELECT lang, count(*) AS n FROM t GROUP BY lang)
      |SELECT c.lang, n.n,
      |  min(CASE WHEN c.cum >= (n.n - 1) // 2 + 1 THEN c.v END)
      |    AS median_tokens,
      |  min(CASE WHEN c.cum >= ((n.n - 1) * 9) // 10 + 1 THEN c.v END)
      |    AS p90_tokens
      |FROM cum c JOIN n USING (lang)
      |GROUP BY c.lang, n.n ORDER BY c.lang""".stripMargin

  // ---------------------------------------------------------------- multimodal kNN
  /** Pipeline composition: multimodal decode → feature vectors →
    * similarity search. The decoded 8-dim feature histograms feed
    * [[Similarity.knnBrute]] unchanged — the "embed then search"
    * chain a multimodal training pipeline runs, end to end on the
    * engine's own operators. */
  private def p24(s: SparkSession, dir: String): DataFrame = {
    val feats = Multimodal.features(docsSpread(s, dir))
      .select(col("doc_id").as("vec_id"), col("feature").as("embedding"))
    val q = feats.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    Similarity.knnBrute(feats, q, k = 5).orderBy(col("qid"), col("rn"))
  }

  /** Oracle: p12's feature CTEs (ascii-byte codec mirror) + an 8-term
    * quantized dot product — no unnest needed at fixed dims. */
  private val p24Sql = {
    val hists = (0 until 8).map(b =>
      s"CAST(sum(CASE WHEN c <> '' AND ascii(c) % 8 = $b THEN 1 ELSE 0 END) AS BIGINT) AS h$b")
      .mkString(",\n  ")
    val feats = (0 until 8).map(b =>
      s"CAST(CAST(h$b AS FLOAT) / CAST(greatest(n, 1) AS FLOAT) AS DOUBLE) AS f$b")
      .mkString(",\n  ")
    val dot = (0 until 8).map(b =>
      s"CAST(round(q.f$b * 10000) AS BIGINT) * CAST(round(e.f$b * 10000) AS BIGINT)")
      .mkString(" + ")
    s"""WITH ch AS (
       |  SELECT doc_id, unnest(string_split(text, '')) AS c,
       |         generate_subscripts(string_split(text, ''), 1) AS s
       |  FROM documents),
       |agg AS (
       |  SELECT doc_id,
       |  CAST(sum(CASE WHEN c = '' THEN 0 ELSE 1 END) AS BIGINT) AS n,
       |  $hists
       |  FROM ch GROUP BY doc_id),
       |fv AS (SELECT doc_id, $feats FROM agg),
       |pairs AS (
       |  SELECT q.doc_id AS qid, e.doc_id AS nid,
       |    CAST($dot AS BIGINT) AS dot_e8
       |  FROM fv q JOIN fv e ON e.doc_id <> q.doc_id
       |  WHERE q.doc_id < 10),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY qid
       |    ORDER BY dot_e8 DESC, nid) AS rn FROM pairs)
       |SELECT qid, CAST(rn AS BIGINT) AS rn, nid, dot_e8
       |FROM ranked WHERE rn <= 5 ORDER BY qid, rn""".stripMargin
  }

  // ---------------------------------------------------------------- bigram novelty
  /** Integer-exact repetition/quality signal: per doc, how many of its
    * distinct bigrams exist in no other document. */
  private def p25(s: SparkSession, dir: String): DataFrame =
    TextStats.bigramNovelty(docsSpread(s, dir)).orderBy(col("doc_id"))

  private val p25Sql =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS w,
       |         generate_subscripts(string_split(text, ' '), 1) AS pos
       |  FROM documents),
       |sh AS (
       |  SELECT DISTINCT doc_id, shingle FROM (
       |    SELECT doc_id, w || ' ' || lead(w, 1) OVER win AS shingle
       |    FROM tok WINDOW win AS (PARTITION BY doc_id ORDER BY pos))
       |  WHERE shingle IS NOT NULL),
       |dt AS (
       |  SELECT DISTINCT doc_id, ${polyHashSql("shingle")} AS tid FROM sh),
       |dfreq AS (SELECT tid, count(*) AS df FROM dt GROUP BY tid)
       |SELECT d.doc_id, count(*) AS n_bigrams,
       |  CAST(sum(CASE WHEN f.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_unique,
       |  CAST(sum(CASE WHEN f.df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
       |    / count(*) AS novelty
       |FROM dt d JOIN dfreq f USING (tid)
       |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------- decontamination
  /** Benchmark decontamination over the engine's own hash split: train
    * docs (h%100 < 80) sharing any 3-shingle with the test split
    * (h%100 ≥ 90), with the overlap count. */
  private def p26(s: SparkSession, dir: String): DataFrame =
    Sampling.decontaminateSplit(
      Sampling.assignSplits(docsSpread(s, dir)),
      "split", trainVal = "train", heldoutVal = "test")
      .orderBy(col("doc_id"))

  private val p26Sql =
    s"""WITH base AS (
       |  SELECT doc_id, text,
       |    ${polyHashSql("'split:' || CAST(doc_id AS VARCHAR)")} % 100
       |      AS bucket
       |  FROM documents),
       |tr AS (SELECT doc_id, text FROM base WHERE bucket < 80),
       |te AS (SELECT doc_id, text FROM base WHERE bucket >= 90),
       |trtok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS w,
       |         generate_subscripts(string_split(text, ' '), 1) AS pos
       |  FROM tr),
       |trsh AS (
       |  SELECT DISTINCT doc_id, shingle FROM (
       |    SELECT doc_id,
       |      w || ' ' || lead(w, 1) OVER win || ' ' || lead(w, 2) OVER win
       |        AS shingle
       |    FROM trtok WINDOW win AS (PARTITION BY doc_id ORDER BY pos))
       |  WHERE shingle IS NOT NULL),
       |trdt AS (
       |  SELECT DISTINCT doc_id, ${polyHashSql("shingle")} AS tid
       |  FROM trsh),
       |tetok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS w,
       |         generate_subscripts(string_split(text, ' '), 1) AS pos
       |  FROM te),
       |tesh AS (
       |  SELECT DISTINCT doc_id, shingle FROM (
       |    SELECT doc_id,
       |      w || ' ' || lead(w, 1) OVER win || ' ' || lead(w, 2) OVER win
       |        AS shingle
       |    FROM tetok WINDOW win AS (PARTITION BY doc_id ORDER BY pos))
       |  WHERE shingle IS NOT NULL),
       |tedt AS (SELECT DISTINCT ${polyHashSql("shingle")} AS tid FROM tesh)
       |SELECT t.doc_id, count(*) AS n_shared
       |FROM trdt t JOIN tedt USING (tid)
       |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin

  // ---------------------------------------------------------------- mixture plan
  /** Per-(lang, source) rebalancing plan toward a uniform token mix:
    * integer target, one exact-division rate per cell. */
  private def p27(s: SparkSession, dir: String): DataFrame =
    Sampling.mixturePlan(docsSpread(s, dir), Seq("lang", "source"))
      .orderBy(col("lang"), col("source"))

  private val p27Sql =
    """WITH cells AS (
      |  SELECT lang, source, count(*) AS n_docs,
      |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS cell_tokens
      |  FROM documents GROUP BY lang, source),
      |totals AS (
      |  SELECT CAST(sum(cell_tokens) AS BIGINT) AS total_tokens,
      |         count(*) AS n_cells
      |  FROM cells)
      |SELECT c.lang, c.source, c.n_docs, c.cell_tokens,
      |  t.total_tokens // t.n_cells AS target_tokens,
      |  least(1.0, CAST(t.total_tokens // t.n_cells AS DOUBLE)
      |    / c.cell_tokens) AS rate,
      |  least(c.cell_tokens, t.total_tokens // t.n_cells)
      |    AS kept_tokens_est
      |FROM cells c CROSS JOIN totals t
      |ORDER BY c.lang, c.source""".stripMargin

  // ---------------------------------------------------------------- incremental dedup
  /** The synthetic ingest batch p28/p36 share (see [[p28]] scaladoc). */
  private def incBatch(base: DataFrame): DataFrame =
    base.where(col("doc_id") % 40 === 0)
      .select((col("doc_id") + 3000000L).as("doc_id"), col("text"))
      .unionByName(base.where(col("doc_id") % 30 === 0)
        .select((col("doc_id") + 4000000L).as("doc_id"),
          array_join(expr(
            "slice(split(text, ' '), 4, size(split(text, ' ')))"),
            " ").as("text")))
      .unionByName(base.where(col("doc_id") % 35 === 0)
        .select((col("doc_id") + 5000000L).as("doc_id"),
          array_join(reverse(split(col("text"), " ")), " ").as("text")))

  // NOTE (r18, measured and REVERTED): persisting `base` here (it is
  // read 5× — the corpus digest+band passes plus incBatch's three
  // filtered legs) benched p28 1.28× SLOWER in a same-window
  // order-alternating A/B (1.21 → 1.55/1.65 s, controls flat): the
  // cache round-trip costs more than the re-scans, and the scale
  // argument is weak — three of the five readers are ~8%-selectivity
  // slices (%40/%30/%35), so a full-text cache write outweighs the
  // pruned parquet re-reads it saves. Same verdict for p36.
  /** Incremental ingest: a synthetic "new batch" (exact copies of
    * doc_id%40 docs at +3000000, near-copies of doc_id%30 docs with 3
    * words dropped at +4000000, plus genuinely-new docs: the reversed
    * token sequence of doc_id%35 docs at +5000000) deduped against the
    * existing corpus. Only the reversed docs survive. */
  private def p28(s: SparkSession, dir: String): DataFrame = {
    val base = docsSpread(s, dir).select(col("doc_id"), col("text"))
    Dedup.incrementalDedup(incBatch(base), base, s).orderBy(col("doc_id"))
  }

  /** Temp dedup-state dirs awaiting JVM-exit cleanup. ONE shutdown
    * hook drains the whole list — registering a hook per [[p36]] call
    * would retain a thread (and its dir path) per harness invocation. */
  private val pendingStateDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]
  private lazy val stateDirCleanupHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      var dir = pendingStateDirs.poll()
      while (dir != null) {
        try {
          val walk = java.nio.file.Files.walk(dir)
          try {
            import scala.jdk.CollectionConverters._
            walk.iterator().asScala.toSeq.sortBy(-_.getNameCount)
              .foreach(p => java.nio.file.Files.deleteIfExists(p))
          } finally walk.close()
        } catch { case _: java.io.IOException => () }
        dir = pendingStateDirs.poll()
      }
    }))

  /** p28's ingest routed through the PERSISTED corpus state: the
    * digests/bands/meta tables round-trip through parquet on disk
    * ([[Dedup.writeDedupState]] → the state-path
    * [[Dedup.incrementalDedup]]), so the state serialization itself is
    * hash-pinned against the oracle — not just parity-tested against
    * the two-frame form. Same oracle SQL as p28 by construction: the
    * state round-trip must be semantically invisible. */
  // NOTE (r18): a gated `base` persist (5 readers, as in p28) was
  // measured flat here (1.02× in the same A/B) and reverted with p28 —
  // see p28's NOTE for the numbers and the scale rationale.
  private def p36(s: SparkSession, dir: String): DataFrame = {
    val base = docsSpread(s, dir).select(col("doc_id"), col("text"))
    val rootPath = java.nio.file.Files
      .createTempDirectory("graft-dedup-state")
    // the returned frame reads this state lazily, so it cannot be
    // deleted here; the shared shutdown hook stops repeated harness
    // runs from accumulating orphaned band tables under /tmp
    stateDirCleanupHook
    pendingStateDirs.add(rootPath)
    val root = rootPath.toString
    Dedup.writeDedupState(base, root)
    Dedup.incrementalDedup(incBatch(base), root, s, threshold = 0.5)
      .orderBy(col("doc_id"))
  }

  private val p28Sql =
    s"""WITH batch AS (
       |  SELECT doc_id + 3000000 AS doc_id, text
       |  FROM documents WHERE doc_id % 40 = 0
       |  UNION ALL
       |  SELECT doc_id + 4000000 AS doc_id,
       |         array_to_string(string_split(text, ' ')[4:], ' ') AS text
       |  FROM documents WHERE doc_id % 30 = 0
       |  UNION ALL
       |  SELECT doc_id + 5000000 AS doc_id,
       |         array_to_string(list_reverse(string_split(text, ' ')), ' ')
       |           AS text
       |  FROM documents WHERE doc_id % 35 = 0),
       |fresh AS (
       |  SELECT b.doc_id, b.text FROM batch b
       |  WHERE NOT EXISTS (
       |    SELECT 1 FROM documents e WHERE sha256(e.text) = sha256(b.text))),
       |ntok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS w,
       |         generate_subscripts(string_split(text, ' '), 1) AS pos
       |  FROM fresh),
       |nsh AS (
       |  SELECT DISTINCT doc_id, shingle FROM (
       |    SELECT doc_id,
       |      w || ' ' || lead(w, 1) OVER win || ' ' || lead(w, 2) OVER win
       |        AS shingle
       |    FROM ntok WINDOW win AS (PARTITION BY doc_id ORDER BY pos))
       |  WHERE shingle IS NOT NULL),
       |ndt AS (
       |  SELECT DISTINCT doc_id, ${polyHashSql("shingle")} AS tid FROM nsh),
       |etok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS w,
       |         generate_subscripts(string_split(text, ' '), 1) AS pos
       |  FROM documents),
       |esh AS (
       |  SELECT DISTINCT doc_id, shingle FROM (
       |    SELECT doc_id,
       |      w || ' ' || lead(w, 1) OVER win || ' ' || lead(w, 2) OVER win
       |        AS shingle
       |    FROM etok WINDOW win AS (PARTITION BY doc_id ORDER BY pos))
       |  WHERE shingle IS NOT NULL),
       |edt AS (
       |  SELECT DISTINCT doc_id, ${polyHashSql("shingle")} AS tid FROM esh),
       |perms AS (SELECT i, 1 + 2*i AS a, 7 + 3*i AS b FROM range(0, 16) t(i)),
       |nsig AS (
       |  SELECT doc_id, i, min((a * tid + b) % 2147483647) AS sig
       |  FROM ndt CROSS JOIN perms GROUP BY doc_id, i),
       |nbands AS (
       |  SELECT doc_id, i // 4 AS band,
       |         string_agg(sig::VARCHAR, ',' ORDER BY i) AS bkey
       |  FROM nsig GROUP BY doc_id, i // 4),
       |esig AS (
       |  SELECT doc_id, i, min((a * tid + b) % 2147483647) AS sig
       |  FROM edt CROSS JOIN perms GROUP BY doc_id, i),
       |ebands AS (
       |  SELECT doc_id, i // 4 AS band,
       |         string_agg(sig::VARCHAR, ',' ORDER BY i) AS bkey
       |  FROM esig GROUP BY doc_id, i // 4),
       |cand AS (
       |  SELECT DISTINCT n.doc_id AS nid, e.doc_id AS eid
       |  FROM nbands n JOIN ebands e
       |    ON n.band = e.band AND n.bkey = e.bkey),
       |nsz AS (SELECT doc_id, count(*) AS n FROM ndt GROUP BY doc_id),
       |esz AS (SELECT doc_id, count(*) AS n FROM edt GROUP BY doc_id),
       |inter AS (
       |  SELECT c.nid, c.eid, count(*) AS n_inter
       |  FROM cand c JOIN ndt x ON x.doc_id = c.nid
       |    JOIN edt y ON y.doc_id = c.eid AND y.tid = x.tid
       |  GROUP BY c.nid, c.eid),
       |neardup AS (
       |  SELECT DISTINCT i.nid AS doc_id
       |  FROM inter i JOIN nsz s1 ON s1.doc_id = i.nid
       |    JOIN esz s2 ON s2.doc_id = i.eid
       |  WHERE CAST(i.n_inter AS DOUBLE) / (s1.n + s2.n - i.n_inter) >= 0.5)
       |SELECT f.doc_id FROM fresh f
       |LEFT JOIN neardup n USING (doc_id)
       |WHERE n.doc_id IS NULL
       |ORDER BY f.doc_id""".stripMargin

  // ---------------------------------------------------------------- repetition
  /** Gopher-style mode-based repetition signals per doc (top-word /
    * top-bigram fractions) — in-row sorted-run maxima on the Spark
    * side; the oracle counts the same maxima by unnest + group-by. */
  private def p29(s: SparkSession, dir: String): DataFrame =
    TextStats.repetitionStats(docsSpread(s, dir)).orderBy(col("doc_id"))

  private val p29Sql =
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      |wc AS (
      |  SELECT doc_id, w, count(*) AS c
      |  FROM (SELECT doc_id, unnest(ts) AS w FROM t) GROUP BY doc_id, w),
      |topw AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS top_word
      |  FROM wc GROUP BY doc_id),
      |bc AS (
      |  SELECT doc_id, b, count(*) AS c
      |  FROM (SELECT doc_id,
      |          unnest(list_transform(generate_series(1, len(ts) - 1),
      |            i -> ts[i] || ' ' || ts[i + 1])) AS b
      |        FROM t WHERE len(ts) >= 2) GROUP BY doc_id, b),
      |topb AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS top_bigram
      |  FROM bc GROUP BY doc_id)
      |SELECT t.doc_id, CAST(len(ts) AS BIGINT) AS n_tok,
      |  topw.top_word,
      |  coalesce(topb.top_bigram, 0) AS top_bigram,
      |  CAST(topw.top_word AS DOUBLE) / len(ts) AS top_word_frac,
      |  CASE WHEN len(ts) >= 2
      |    THEN CAST(topb.top_bigram AS DOUBLE) / (len(ts) - 1)
      |    ELSE 0.0 END AS top_bigram_frac
      |FROM t JOIN topw USING (doc_id) LEFT JOIN topb USING (doc_id)
      |ORDER BY t.doc_id""".stripMargin

  // ---------------------------------------------------------------- chunk dedup
  /** Chunk-level exact duplication over a corpus with planted exact
    * copies (doc_id%25 at +1000000): every 10-word aligned chunk of a
    * copied doc is shared, everything else unique. */
  private def p30(s: SparkSession, dir: String): DataFrame = {
    val base = docsSpread(s, dir).select(col("doc_id"), col("text"))
    val corpus = base.unionByName(base.where(col("doc_id") % 25 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    Dedup.chunkDupStats(corpus, k = 10).orderBy(col("doc_id"))
  }

  private val p30Sql =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id, text
      |  FROM documents WHERE doc_id % 25 = 0),
      |t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM corpus),
      |idx AS (
      |  SELECT doc_id, ts, unnest(generate_series(1, len(ts) // 10)) AS i
      |  FROM t WHERE len(ts) >= 10),
      |ch AS (
      |  SELECT doc_id,
      |    sha256(array_to_string(ts[(i - 1) * 10 + 1 : i * 10], ' ')) AS d
      |  FROM idx),
      |cnt AS (SELECT d, count(DISTINCT doc_id) AS nd FROM ch GROUP BY d)
      |SELECT ch.doc_id,
      |  count(*) AS n_chunks,
      |  CAST(sum(CASE WHEN cnt.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_shared,
      |  CAST(sum(CASE WHEN cnt.nd >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
      |    / count(*) AS shared_frac
      |FROM ch JOIN cnt USING (d)
      |GROUP BY ch.doc_id
      |ORDER BY ch.doc_id""".stripMargin

  // ---------------------------------------------------------------- quantization
  /** Int8 quantization audit over the embeddings table — per-vector
    * scale, quantized leading components, and the exact fixed-point
    * reconstruction-error numerator (integers end to end; see
    * [[Similarity.quantizationStats]]). */
  private def p31(s: SparkSession, dir: String): DataFrame =
    Similarity.quantizationStats(emb(s, dir)).orderBy(col("vec_id"))

  private val p31Sql =
    """WITH fx AS (
      |  SELECT vec_id,
      |    list_transform(embedding,
      |      x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS vs
      |  FROM embeddings),
      |mx AS (SELECT vec_id, vs,
      |  list_reduce(list_transform(vs, v -> abs(v)),
      |    (a, b) -> greatest(a, b)) AS m FROM fx),
      |qq AS (SELECT vec_id, vs, m,
      |  list_transform(vs, v -> CASE
      |    WHEN m = 0 THEN 0
      |    WHEN v >= 0 THEN (v * 254 + m) // (2 * m)
      |    ELSE -((-v * 254 + m) // (2 * m)) END) AS qs
      |  FROM mx),
      |er AS (SELECT vec_id, m, qs, CAST(len(vs) AS BIGINT) AS n_dims,
      |  list_reduce(list_transform(generate_series(1, len(vs)),
      |    i -> (127 * vs[i] - qs[i] * m) * (127 * vs[i] - qs[i] * m)),
      |    (a, b) -> a + b) AS sse_num
      |  FROM qq)
      |SELECT vec_id, n_dims, m, sse_num,
      |  qs[1] AS q1, qs[2] AS q2,
      |  CASE WHEN m = 0 THEN 0.0
      |    ELSE CAST(sse_num AS DOUBLE)
      |      / CAST(n_dims * 16129 * m * m AS DOUBLE) END AS rel_sse
      |FROM er ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------- mixture apply
  /** The mixture plan APPLIED: per-cell rates from p27's arithmetic
    * drive a deterministic hash-threshold draw per doc — the actual
    * rebalanced subset, not just the plan. */
  private def p32(s: SparkSession, dir: String): DataFrame =
    Sampling.applyMixture(docsSpread(s, dir), Seq("lang", "source"))
      .orderBy(col("lang"), col("source"), col("doc_id"))

  private val p32Sql =
    s"""WITH cells AS (
       |  SELECT lang, source,
       |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS cell_tokens
       |  FROM documents GROUP BY lang, source),
       |totals AS (
       |  SELECT CAST(sum(cell_tokens) AS BIGINT) AS total_tokens,
       |         count(*) AS n_cells
       |  FROM cells),
       |plan AS (
       |  SELECT c.lang, c.source,
       |    least(1.0, CAST(t.total_tokens // t.n_cells AS DOUBLE)
       |      / c.cell_tokens) AS rate
       |  FROM cells c CROSS JOIN totals t),
       |drawn AS (
       |  SELECT d.lang, d.source, d.doc_id,
       |    ${polyHashSql("'mix:' || CAST(doc_id AS VARCHAR)")} % 1000000
       |      AS h_mix,
       |    p.rate
       |  FROM documents d JOIN plan p USING (lang, source))
       |SELECT lang, source, doc_id, h_mix, rate FROM drawn
       |WHERE CAST(h_mix AS DOUBLE) < rate * 1000000.0
       |ORDER BY lang, source, doc_id""".stripMargin

  // ---------------------------------------------------------------- tf-idf
  /** Per-doc top-3 TF-IDF terms with the integer-exact idf (a float
    * `ln` would differ across engines in the last ulp). */
  private def p33(s: SparkSession, dir: String): DataFrame =
    TextStats.tfidfTopTerms(docsSpread(s, dir), k = 3)
      .orderBy(col("doc_id"), col("rn"))

  private val p33Sql =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS w
      |  FROM documents),
      |tf AS (SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY doc_id, w),
      |dfx AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
      |n AS (SELECT count(*) AS n_docs FROM documents),
      |sc AS (
      |  SELECT tf.doc_id, tf.w,
      |    tf.tf * ((n.n_docs * 1000000) // dfx.df) AS score
      |  FROM tf JOIN dfx USING (w) CROSS JOIN n),
      |r AS (SELECT doc_id, w, score,
      |  row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, w)
      |    AS rn
      |  FROM sc)
      |SELECT doc_id, CAST(rn AS BIGINT) AS rn, w,
      |  CAST(score AS BIGINT) AS score
      |FROM r WHERE rn <= 3 ORDER BY doc_id, rn""".stripMargin

  // ---------------------------------------------------------------- corpus diff
  /** Version diff: the refresh drops doc_id%20 docs, edits doc_id%7
    * texts, and adds +1000000 copies of doc_id%30 — the audit output
    * is every non-unchanged doc with its status. */
  private def p34(s: SparkSession, dir: String): DataFrame = {
    val old = docsSpread(s, dir).select(col("doc_id"), col("text"))
    val newC = old.where(col("doc_id") % 20 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(" edited")))
          .otherwise(col("text")).as("text"))
      .unionByName(old.where(col("doc_id") % 30 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    Dedup.corpusDiff(old, newC)
      .where(col("status") =!= "unchanged")
      .select(col("doc_id"), col("status"))
      .orderBy(col("doc_id"))
  }

  private val p34Sql =
    """WITH old AS (SELECT doc_id, text FROM documents),
      |newc AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 7 = 0 THEN text || ' edited' ELSE text END
      |      AS text
      |  FROM documents WHERE doc_id % 20 <> 0
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id, text
      |  FROM documents WHERE doc_id % 30 = 0),
      |j AS (
      |  SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
      |    CASE
      |      WHEN o.doc_id IS NULL THEN 'added'
      |      WHEN n.doc_id IS NULL THEN 'removed'
      |      WHEN sha256(o.text) IS NOT DISTINCT FROM sha256(n.text)
      |        THEN 'unchanged'
      |      ELSE 'changed' END AS status
      |  FROM old o FULL OUTER JOIN newc n ON o.doc_id = n.doc_id)
      |SELECT doc_id, status FROM j
      |WHERE status <> 'unchanged' ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- winnowing
  /** Winnowed fingerprint sharing over a corpus with planted
    * SHIFTED near-copies (first 3 words dropped, +1000000): unlike
    * p30's aligned chunks, the planted copies still share most
    * selected minima — the shift-robustness the MOSS rule buys. */
  private def p35(s: SparkSession, dir: String): DataFrame = {
    val base = docsSpread(s, dir).select(col("doc_id"), col("text"))
    val corpus = TextOps.withPlantedNearDups(base, every = 25, dropWords = 3)
    Dedup.winnowStats(corpus, s).orderBy(col("doc_id"))
  }

  private val p35Sql =
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000 AS doc_id,
       |         array_to_string(string_split(text, ' ')[4:], ' ') AS text
       |  FROM documents WHERE doc_id % 25 = 0),
       |tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS w,
       |         generate_subscripts(string_split(text, ' '), 1) AS pos
       |  FROM corpus WHERE len(string_split(text, ' ')) >= 7),
       |seq AS (SELECT doc_id, pos, ${polyHashSql("w")} AS tid FROM tok),
       |grams AS (
       |  SELECT doc_id, pos,
       |    (((tid * 31 + lead(tid, 1) OVER win) * 31
       |      + lead(tid, 2) OVER win) * 31 + lead(tid, 3) OVER win)
       |      % 2147483647 AS h
       |  FROM seq WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
       |mins AS (
       |  SELECT doc_id,
       |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS i,
       |    count(*) OVER (PARTITION BY doc_id) AS ng
       |  FROM grams WHERE h IS NOT NULL),
       |fps AS (SELECT DISTINCT doc_id, m AS fp FROM mins WHERE i <= ng - 3),
       |cnt AS (SELECT fp, count(DISTINCT doc_id) AS nd FROM fps GROUP BY fp),
       |per AS (
       |  SELECT fps.doc_id, count(*) AS n_fps,
       |    CAST(sum(CASE WHEN cnt.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_shared
       |  FROM fps JOIN cnt USING (fp) GROUP BY fps.doc_id)
       |SELECT doc_id, n_fps, n_shared,
       |  CAST(n_shared AS DOUBLE) / n_fps AS shared_frac
       |FROM per ORDER BY doc_id""".stripMargin

  // ------------------------------------------------- repeated n-gram scrub
  /** Exact-substring dedup as a REWRITE (Lee et al. 2022 at 5-gram
    * granularity, [[Dedup.scrubRepeatedNgrams]]): every 5-gram shared
    * by ≥ 2 distinct docs marks its token span for removal, spans
    * merge, docs re-emit with survivors. Planted shifted near-copies
    * (the p35 corpus) guarantee long shared runs, so the oracle pins
    * the span-MERGE arithmetic (m-token run → m removed, not
    * (m−4)·5), not just gram matching. */
  private def p66(s: SparkSession, dir: String): DataFrame = {
    val base = docsSpread(s, dir).select(col("doc_id"), col("text"))
    val corpus = TextOps.withPlantedNearDups(base, every = 25, dropWords = 3)
    Dedup.scrubRepeatedNgrams(corpus, s, n = 5).orderBy(col("doc_id"))
  }

  private val p66Sql =
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000 AS doc_id,
       |         array_to_string(string_split(text, ' ')[4:], ' ') AS text
       |  FROM documents WHERE doc_id % 25 = 0),
       |tok AS (
       |  -- coalesce mirrors scrubRepeatedNgrams' text coalesce: a
       |  -- NULL-text doc keeps its audit row instead of vanishing
       |  SELECT doc_id,
       |         unnest(string_split(coalesce(text, ''), ' ')) AS w,
       |         generate_subscripts(string_split(coalesce(text, ''), ' '), 1)
       |           AS pos,
       |         len(string_split(coalesce(text, ''), ' ')) AS nt
       |  FROM corpus),
       |seq AS (SELECT doc_id, pos, w, nt, ${polyHashSql("w")} AS tid
       |  FROM tok),
       |g AS (
       |  SELECT doc_id, pos, w,
       |    CASE WHEN pos <= nt - 4 THEN
       |      ((((tid * 31 + lead(tid, 1) OVER win) * 31
       |        + lead(tid, 2) OVER win) * 31
       |        + lead(tid, 3) OVER win) * 31
       |        + lead(tid, 4) OVER win) % 2147483647
       |    END AS h
       |  FROM seq WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
       |cnt AS (SELECT h FROM g WHERE h IS NOT NULL
       |  GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
       |fl AS (
       |  SELECT g.doc_id, g.pos, g.w,
       |    CASE WHEN c.h IS NOT NULL THEN g.pos END AS s
       |  FROM g LEFT JOIN cnt c ON g.h = c.h),
       |cov AS (
       |  SELECT doc_id, pos, w,
       |    max(s) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS UNBOUNDED PRECEDING) AS ls
       |  FROM fl),
       |k AS (
       |  SELECT doc_id, pos, w,
       |    (ls IS NOT NULL AND pos < ls + 5) AS covered
       |  FROM cov)
       |SELECT doc_id, count(*) AS n_tokens,
       |  CAST(sum(CASE WHEN covered THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_removed,
       |  CAST(sum(CASE WHEN covered THEN 1 ELSE 0 END) AS DOUBLE)
       |    / count(*) AS removed_frac,
       |  coalesce(string_agg(CASE WHEN NOT covered THEN w END, ' '
       |    ORDER BY pos), '') AS kept_text
       |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- rare tokens
  /** Per-doc rare-token rate vs the corpus vocabulary (freq < 3) —
    * the integer-exact perplexity-proxy quality filter
    * ([[TextStats.rareTokenStats]]). */
  private def p37(s: SparkSession, dir: String): DataFrame =
    TextStats.rareTokenStats(docsSpread(s, dir), minCount = 3L)
      .orderBy(col("doc_id"))

  private val p37Sql =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |  FROM documents),
      |freq AS (SELECT tok, count(*) AS freq FROM toks GROUP BY tok)
      |SELECT t.doc_id, count(*) AS n_tok,
      |  CAST(sum(CASE WHEN f.freq < 3 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_rare,
      |  CAST(CAST(sum(CASE WHEN f.freq < 3 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS DOUBLE) / count(*) AS rare_frac
      |FROM toks t JOIN freq f USING (tok)
      |GROUP BY t.doc_id
      |ORDER BY t.doc_id""".stripMargin

  // ---------------------------------------------------------------- kmv distinct sketch
  /** p52 — KMV distinct-token sketch per (lang, source)
    * ([[TextStats.kmvDistinctTokens]], k = 128): bounded-state
    * distinct counting whose estimate is exact integer arithmetic
    * over the shared content hash, so the oracle replays the sketch
    * itself — a window rank over distinct hashes — not just the
    * estimate. */
  private def p52(s: SparkSession, dir: String): DataFrame =
    TextStats.kmvDistinctTokens(docsSpread(s, dir),
      Seq("lang", "source"), k = 128)
      .orderBy(col("lang"), col("source"))

  private val p52Sql =
    s"""WITH tok AS (
      |  SELECT lang, source, unnest(string_split(text, ' ')) AS w
      |  FROM documents),
      |h AS (
      |  SELECT DISTINCT lang, source,
      |    ${polyHashSql("'kmv:' || w")} AS h
      |  FROM tok),
      |r AS (
      |  SELECT lang, source, h,
      |    row_number() OVER (PARTITION BY lang, source ORDER BY h) AS rn,
      |    count(*) OVER (PARTITION BY lang, source) AS nd
      |  FROM h)
      |SELECT lang, source,
      |  CAST(least(nd, 128) AS BIGINT) AS n_sketch,
      |  CASE WHEN nd >= 128 THEN h END AS h_k,
      |  CASE WHEN nd < 128 THEN nd
      |       ELSE (127 * CAST(2147483647 AS BIGINT)) // h
      |       END AS est_distinct
      |FROM r WHERE (nd >= 128 AND rn = 128) OR (nd < 128 AND rn = nd)
      |ORDER BY lang, source""".stripMargin

  // ---------------------------------------------------------------- boilerplate strip
  /** Corpus-wide boilerplate removal ([[Dedup.stripBoilerplate]]):
    * 8-token chunks, any chunk in ≥ 2 distinct docs stripped, docs
    * re-emitted rewritten. The exact-dup plant (every 50th doc copied
    * at +2000000) makes every chunk of those docs boilerplate — both
    * copies come back fully stripped (`kept_text = ''`), while the
    * all-distinct rest of the corpus passes through untouched. */
  private def p42(s: SparkSession, dir: String): DataFrame =
    Dedup.stripBoilerplate(
      TextOps.withPlantedExactDups(docsSpread(s, dir), every = 50),
      k = 8, maxDocFreq = 1L)
      .orderBy(col("doc_id"))

  private val p42Sql =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 2000000 AS doc_id, text
      |  FROM documents WHERE doc_id % 50 = 0),
      |tok AS (
      |  -- coalesce mirrors stripBoilerplate's text coalesce: a NULL
      |  -- text doc still emits its (empty-chunk) audit row instead of
      |  -- vanishing from the output
      |  SELECT doc_id, unnest(string_split(coalesce(text, ''), ' ')) AS w,
      |         generate_subscripts(string_split(coalesce(text, ''), ' '), 1)
      |           AS pos
      |  FROM corpus),
      |ch AS (
      |  SELECT doc_id, (pos - 1) // 8 + 1 AS ci,
      |         string_agg(w, ' ' ORDER BY pos) AS chunk
      |  FROM tok GROUP BY doc_id, (pos - 1) // 8 + 1),
      |df AS (SELECT chunk, count(DISTINCT doc_id) AS nd
      |       FROM ch GROUP BY chunk)
      |SELECT c.doc_id, count(*) AS n_chunks,
      |  CAST(sum(CASE WHEN d.nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_dropped,
      |  COALESCE(string_agg(CASE WHEN d.nd <= 1 THEN c.chunk END,
      |    ' ' ORDER BY c.ci), '') AS kept_text
      |FROM ch c JOIN df d USING (chunk)
      |GROUP BY c.doc_id
      |ORDER BY c.doc_id""".stripMargin

  // ---------------------------------------------------------------- quality classifier
  /** Linear quality-classifier inference
    * ([[TextStats.classifierScore]]): integer-margin model over
    * (stopword count, distinct tokens, repeated tokens, length band).
    * Weights picked so the boundary lands mid-corpus (~194/500 kept
    * at sf0.01) — both branches of the decision are exercised. */
  private def p43(s: SparkSession, dir: String): DataFrame =
    TextStats.classifierScore(docsSpread(s, dir),
      wStop = 3L, wUniq = 2L, wRep = 1L,
      lenBonus = 10L, lenLo = 20L, lenHi = 200L, bias = 40L)
      .orderBy(col("doc_id"))

  private val p43Sql =
    """WITH f AS (
      |  SELECT doc_id,
      |    len(string_split(text, ' '))::BIGINT AS nt,
      |    len(list_distinct(string_split(text, ' ')))::BIGINT AS nu,
      |    len(list_filter(string_split(text, ' '),
      |      w -> w IN ('the', 'a')))::BIGINT AS ns
      |  FROM documents)
      |SELECT doc_id,
      |  3 * ns + 2 * nu - 1 * (nt - nu)
      |    + (CASE WHEN nt BETWEEN 20 AND 200 THEN 10 ELSE 0 END)
      |    - 40 AS margin,
      |  (3 * ns + 2 * nu - 1 * (nt - nu)
      |    + (CASE WHEN nt BETWEEN 20 AND 200 THEN 10 ELSE 0 END)
      |    - 40) >= 0 AS keep
      |FROM f ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- lexical retrieval
  /** Rarity-weighted lexical top-k retrieval
    * ([[Retrieval.lexicalTopK]]): every 125th doc is a query, each
    * retrieves its 5 nearest corpus docs by summed `10^6 div df`
    * weight over shared distinct tokens (self excluded); ties break
    * by doc_id. */
  private def p44(s: SparkSession, dir: String): DataFrame = {
    val corpus = docsSpread(s, dir)
    val queries = corpus.where(col("doc_id") % 125 === 0)
      .select(col("doc_id").as("query_id"), col("text"))
    Retrieval.lexicalTopK(corpus, queries, k = 5, scale = 1000000L)
      .orderBy(col("query_id"), col("rank"))
  }

  private val p44Sql =
    """WITH ct AS (
      |  SELECT DISTINCT doc_id, w FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS w
      |    FROM documents) WHERE length(w) >= 1),
      |qt AS (
      |  SELECT DISTINCT doc_id AS query_id, w FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS w
      |    FROM documents WHERE doc_id % 125 = 0) WHERE length(w) >= 1),
      |rel AS (
      |  SELECT ct.doc_id, ct.w FROM ct
      |  WHERE ct.w IN (SELECT DISTINCT w FROM qt)),
      |wt AS (
      |  SELECT w, 1000000 // count(*) AS wt FROM rel GROUP BY w),
      |sc AS (
      |  SELECT q.query_id, r.doc_id,
      |    CAST(sum(wt.wt) AS BIGINT) AS score
      |  FROM qt q JOIN rel r ON r.w = q.w JOIN wt ON wt.w = q.w
      |  WHERE r.doc_id <> q.query_id
      |  GROUP BY q.query_id, r.doc_id),
      |rk AS (
      |  SELECT query_id, doc_id, score,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY score DESC, doc_id) AS rank
      |  FROM sc)
      |SELECT query_id, rank, doc_id, score FROM rk
      |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  // ---------------------------------------------------------------- BM25
  /** BM25 top-5 per query ([[Retrieval.bm25TopK]]): p44's retrieval
    * with the canonical tf-saturation + length-normalization scoring,
    * in the multiplied-through integer surrogate. Same query set as
    * p44 so the two rankings are directly comparable. */
  private def p72(s: SparkSession, dir: String): DataFrame = {
    val corpus = docsSpread(s, dir)
    val queries = corpus.where(col("doc_id") % 125 === 0)
      .select(col("doc_id").as("query_id"), col("text"))
    Retrieval.bm25TopK(corpus, queries, k = 5)
      .orderBy(col("query_id"), col("rank"))
  }

  private val p72Sql =
    """WITH tokall AS (
      |  SELECT doc_id, w FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS w
      |    FROM documents)
      |  WHERE length(w) >= 1),
      |tf AS (
      |  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
      |  FROM tokall GROUP BY doc_id, w),
      |dl AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
      |  FROM tokall GROUP BY doc_id),
      |stats AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(dl) AS BIGINT) AS sumdl FROM dl),
      |qt AS (
      |  SELECT DISTINCT doc_id AS query_id, w FROM tokall
      |  WHERE doc_id % 125 = 0),
      |rel AS (
      |  SELECT tf.doc_id, tf.w, tf.tf FROM tf
      |  WHERE tf.w IN (SELECT DISTINCT w FROM qt)),
      |wt AS (
      |  SELECT w, 1000000 // count(*) AS wt FROM rel GROUP BY w),
      |sc AS (
      |  SELECT q.query_id, r.doc_id,
      |    CAST(sum((wt.wt * r.tf * 2200) //
      |      (1000 * r.tf + 300
      |        + (9 * ((1000 * d.dl) // (s.sumdl // s.n))) // 10))
      |      AS BIGINT) AS score
      |  FROM qt q JOIN rel r ON r.w = q.w JOIN wt ON wt.w = q.w
      |    JOIN dl d ON d.doc_id = r.doc_id, stats s
      |  WHERE r.doc_id <> q.query_id
      |  GROUP BY q.query_id, r.doc_id),
      |rk AS (
      |  SELECT query_id, doc_id, score,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY score DESC, doc_id) AS rank
      |  FROM sc)
      |SELECT query_id, rank, doc_id, score FROM rk
      |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  // ------------------------------------------------- cluster-safe splits
  /** Leakage-safe splitting ([[Sampling.clusterSafeSplits]]): p55's
    * audit finds pairs straddling splits; this is the REMEDIATION —
    * splits keyed on the near-dup cluster's canonical id, so the
    * straddle set is empty by construction (asserted in SamplingSpec;
    * the oracle pins the full per-doc assignment). */
  private def p73(s: SparkSession, dir: String): DataFrame = {
    val corpus = TextOps.withPlantedNearDups(docsSpread(s, dir),
      every = 25, dropWords = 3)
    val pairs = Dedup.minhashNearDups(corpus, s, shingleK = 3,
      numPerms = 16, rowsPerBand = 4, threshold = 0.5)
    Sampling.clusterSafeSplits(corpus, pairs).orderBy(col("doc_id"))
  }

  private val p73Sql =
    s"""${NearDupCtes.replace("WITH corpus", "WITH RECURSIVE corpus")},
       |$MinhashCandCtes,
       |sz AS (SELECT doc_id, count(*) AS n FROM dt GROUP BY doc_id),
       |inter AS (
       |  SELECT c.d1, c.d2, count(*) AS n_inter
       |  FROM cand c JOIN dt x ON x.doc_id = c.d1
       |    JOIN dt y ON y.doc_id = c.d2 AND y.tid = x.tid
       |  GROUP BY c.d1, c.d2),
       |vp AS (
       |  SELECT i.d1, i.d2
       |  FROM inter i JOIN sz s1 ON s1.doc_id = i.d1
       |    JOIN sz s2 ON s2.doc_id = i.d2
       |  WHERE CAST(i.n_inter AS DOUBLE) / (s1.n + s2.n - i.n_inter) >= 0.5),
       |-- MATERIALIZED: the recursive reach references bi; inlined, the
       |-- whole minhash pipeline re-executes inside every fixpoint
       |-- iteration (the sf1 audit filled 75 GB of spill on p65 before
       |-- OOM; materialized, the same query runs in ~2 min)
       |bi AS MATERIALIZED (
       |  SELECT d1, d2 FROM vp UNION SELECT d2 AS d1, d1 AS d2 FROM vp),
       |reach(a, b) AS (
       |  SELECT d1 AS a, d2 AS b FROM bi
       |  UNION
       |  SELECT r.a, e.d2 AS b FROM reach r JOIN bi e ON e.d1 = r.b),
       |cluster AS (
       |  SELECT a AS doc_id, least(a, min(b)) AS cluster_id
       |  FROM reach GROUP BY a)
       |SELECT c.doc_id,
       |  coalesce(cl.cluster_id, c.doc_id) AS cluster_id,
       |  CASE WHEN ${polyHashSql(
      "'split:' || CAST(coalesce(cl.cluster_id, c.doc_id) AS VARCHAR)")}
       |      % 100 < 80 THEN 'train'
       |    WHEN ${polyHashSql(
      "'split:' || CAST(coalesce(cl.cluster_id, c.doc_id) AS VARCHAR)")}
       |      % 100 < 90 THEN 'val'
       |    ELSE 'test' END AS split
       |FROM corpus c LEFT JOIN cluster cl ON cl.doc_id = c.doc_id
       |ORDER BY c.doc_id""".stripMargin

  // ------------------------------------------------- BM25 hard negatives
  /** p67's mining with the BM25 retriever — the DPR-standard combo
    * (BM25 candidates → positive gate → negatives). Same planted
    * corpus and gate as p67, so the two scorers' negative sets are
    * directly comparable. */
  private def p74(s: SparkSession, dir: String): DataFrame = {
    val base = docsSpread(s, dir).select(col("doc_id"), col("text"))
    val corpus = TextOps.withPlantedNearDups(base, every = 100, dropWords = 2)
    val queries = base.where(col("doc_id") % 100 === 0)
      .select(col("doc_id").as("query_id"), col("text"))
    Retrieval.mineHardNegatives(corpus, queries, k = 8, nNeg = 5,
        tauNum = 7L, tauDen = 10L, scorer = "bm25")
      .orderBy(col("query_id"), col("rank"))
  }

  /** p72's BM25 chain over the planted corpus, then p67's gate. Gate
    * sets and scoring postings BOTH drop empty tokens (the one
    * tokenizer contract — the gate once kept '' and deflated Jaccard,
    * letting near-duplicate positives through). */
  private val p74Sql =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id,
      |         array_to_string(string_split(text, ' ')[3:], ' ') AS text
      |  FROM documents WHERE doc_id % 100 = 0),
      |tokall AS (
      |  SELECT doc_id, w FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM corpus)
      |  WHERE length(w) >= 1),
      |tf AS (
      |  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
      |  FROM tokall GROUP BY doc_id, w),
      |dl AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
      |  FROM tokall GROUP BY doc_id),
      |stats AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(dl) AS BIGINT) AS sumdl FROM dl),
      |qt AS (
      |  SELECT DISTINCT doc_id AS query_id, w FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS w
      |    FROM documents WHERE doc_id % 100 = 0) WHERE length(w) >= 1),
      |rel AS (
      |  SELECT tf.doc_id, tf.w, tf.tf FROM tf
      |  WHERE tf.w IN (SELECT DISTINCT w FROM qt)),
      |wt AS (
      |  SELECT w, 1000000 // count(*) AS wt FROM rel GROUP BY w),
      |sc AS (
      |  SELECT q.query_id, r.doc_id,
      |    CAST(sum((wt.wt * r.tf * 2200) //
      |      (1000 * r.tf + 300
      |        + (9 * ((1000 * d.dl) // (s.sumdl // s.n))) // 10))
      |      AS BIGINT) AS score
      |  FROM qt q JOIN rel r ON r.w = q.w JOIN wt ON wt.w = q.w
      |    JOIN dl d ON d.doc_id = r.doc_id, stats s
      |  WHERE r.doc_id <> q.query_id
      |  GROUP BY q.query_id, r.doc_id),
      |cand AS (
      |  SELECT query_id, doc_id, score FROM (
      |    SELECT query_id, doc_id, score,
      |      row_number() OVER (PARTITION BY query_id
      |        ORDER BY score DESC, doc_id) AS rank
      |    FROM sc) WHERE rank <= 8),
      |ctg AS (
      |  SELECT DISTINCT doc_id, w FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS w
      |    FROM corpus) WHERE length(w) >= 1),
      |qtg AS (
      |  SELECT DISTINCT doc_id AS query_id, w FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS w
      |    FROM documents WHERE doc_id % 100 = 0) WHERE length(w) >= 1),
      |qsz AS (SELECT query_id, count(*) AS nq FROM qtg GROUP BY query_id),
      |dsz AS (SELECT doc_id, count(*) AS nc FROM ctg GROUP BY doc_id),
      |ni AS (
      |  SELECT c.query_id, c.doc_id, count(*) AS ni
      |  FROM cand c
      |  JOIN qtg q ON q.query_id = c.query_id
      |  JOIN ctg d ON d.doc_id = c.doc_id AND d.w = q.w
      |  GROUP BY c.query_id, c.doc_id),
      |neg AS (
      |  SELECT c.query_id, c.doc_id, c.score
      |  FROM cand c
      |  JOIN qsz USING (query_id) JOIN dsz USING (doc_id)
      |  LEFT JOIN ni ON ni.query_id = c.query_id AND ni.doc_id = c.doc_id
      |  WHERE 10 * coalesce(ni.ni, 0)
      |    < 7 * (nq + nc - coalesce(ni.ni, 0))),
      |rk2 AS (
      |  SELECT query_id, doc_id, score,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY score DESC, doc_id) AS rank
      |  FROM neg)
      |SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id, score
      |FROM rk2 WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  // ------------------------------------------------- hard-negative mining
  /** Hard negatives for retrieval training
    * ([[Retrieval.mineHardNegatives]]): top-8 lexical candidates per
    * query, minus token-set-Jaccard-≥0.7 positives, best 5 kept. The
    * corpus carries a planted shifted near-copy of EVERY query doc
    * (every=100 ⊂ the %100 query set), so each query's rank-1 lexical
    * hit is a true positive the gate must remove — the oracle pins
    * the verify step, not just the retrieval. The 0.7 threshold fits
    * the templated synthetic corpus: template-mates overlap ~0.5 and
    * must survive as negatives, the planted copy (~0.95) must not. */
  private def p67(s: SparkSession, dir: String): DataFrame = {
    val base = docsSpread(s, dir).select(col("doc_id"), col("text"))
    val corpus = TextOps.withPlantedNearDups(base, every = 100, dropWords = 2)
    val queries = base.where(col("doc_id") % 100 === 0)
      .select(col("doc_id").as("query_id"), col("text"))
    Retrieval.mineHardNegatives(corpus, queries, k = 8, nNeg = 5,
        tauNum = 7L, tauDen = 10L)
      .orderBy(col("query_id"), col("rank"))
  }

  private val p67Sql =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id,
      |         array_to_string(string_split(text, ' ')[3:], ' ') AS text
      |  FROM documents WHERE doc_id % 100 = 0),
      |ct AS (
      |  SELECT DISTINCT doc_id, w FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS w
      |    FROM corpus) WHERE length(w) >= 1),
      |qt AS (
      |  SELECT DISTINCT doc_id AS query_id, w FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS w
      |    FROM documents WHERE doc_id % 100 = 0) WHERE length(w) >= 1),
      |rel AS (
      |  SELECT ct.doc_id, ct.w FROM ct
      |  WHERE ct.w IN (SELECT DISTINCT w FROM qt)),
      |wt AS (
      |  SELECT w, 1000000 // count(*) AS wt FROM rel GROUP BY w),
      |sc AS (
      |  SELECT q.query_id, r.doc_id,
      |    CAST(sum(wt.wt) AS BIGINT) AS score
      |  FROM qt q JOIN rel r ON r.w = q.w JOIN wt ON wt.w = q.w
      |  WHERE r.doc_id <> q.query_id
      |  GROUP BY q.query_id, r.doc_id),
      |rk AS (
      |  SELECT query_id, doc_id, score,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY score DESC, doc_id) AS rank
      |  FROM sc),
      |cand AS (SELECT query_id, doc_id, score FROM rk WHERE rank <= 8),
      |qsz AS (SELECT query_id, count(*) AS nq FROM qt GROUP BY query_id),
      |dsz AS (SELECT doc_id, count(*) AS nc FROM ct GROUP BY doc_id),
      |ni AS (
      |  SELECT c.query_id, c.doc_id, count(*) AS ni
      |  FROM cand c
      |  JOIN qt q ON q.query_id = c.query_id
      |  JOIN ct d ON d.doc_id = c.doc_id AND d.w = q.w
      |  GROUP BY c.query_id, c.doc_id),
      |neg AS (
      |  SELECT c.query_id, c.doc_id, c.score
      |  FROM cand c
      |  JOIN qsz USING (query_id) JOIN dsz USING (doc_id)
      |  LEFT JOIN ni ON ni.query_id = c.query_id AND ni.doc_id = c.doc_id
      |  WHERE 10 * coalesce(ni.ni, 0)
      |    < 7 * (nq + nc - coalesce(ni.ni, 0))),
      |rk2 AS (
      |  SELECT query_id, doc_id, score,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY score DESC, doc_id) AS rank
      |  FROM neg)
      |SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id, score
      |FROM rk2 WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  // ---------------------------------------------------------------- ANN recall
  /** Index-quality audit ([[Similarity.annRecall]]): recall@10 of the
    * nprobe=2 IVF index vs the exact brute-force neighbours, per
    * query — the number that decides a probe budget before anyone
    * trusts the approximate path at corpus scale. */
  private def p68(s: SparkSession, dir: String): DataFrame =
    Similarity.annRecall(emb(s, dir), col("vec_id") < 10, k = 10,
      nprobe = 2).orderBy(col("qid"))

  /** p09's exact chain and p41's IVF chain (k=10 here), intersected. */
  private val p68Sql =
    """WITH el AS (
      |  SELECT vec_id, label,
      |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 10000) AS BIGINT)
      |      AS qv,
      |    generate_subscripts(embedding, 1) AS i
      |  FROM embeddings),
      |exact AS (
      |  SELECT qid, nid FROM (
      |    SELECT ql.vec_id AS qid, el.vec_id AS nid,
      |      row_number() OVER (PARTITION BY ql.vec_id
      |        ORDER BY sum(ql.qv * el.qv) DESC, el.vec_id) AS rn
      |    FROM el ql JOIN el ON ql.i = el.i AND el.vec_id <> ql.vec_id
      |    WHERE ql.vec_id < 10
      |    GROUP BY ql.vec_id, el.vec_id) WHERE rn <= 10),
      |cent AS (
      |  SELECT label AS clab, i, CAST(sum(qv) AS BIGINT) AS s,
      |         count(*) AS n
      |  FROM el GROUP BY label, i),
      |centq AS (
      |  SELECT clab, i, (s - (((s % n) + n) % n)) / n AS c FROM cent),
      |dots AS (
      |  SELECT el.vec_id, centq.clab,
      |    CAST(sum(el.qv * centq.c) AS BIGINT) AS d
      |  FROM el JOIN centq ON el.i = centq.i
      |  GROUP BY el.vec_id, centq.clab),
      |assigned AS (
      |  SELECT vec_id, clab FROM (
      |    SELECT vec_id, clab,
      |      row_number() OVER (PARTITION BY vec_id
      |        ORDER BY d DESC, clab) AS rn
      |    FROM dots) WHERE rn = 1),
      |probes AS (
      |  SELECT vec_id AS qid, clab FROM (
      |    SELECT vec_id, clab, row_number() OVER (PARTITION BY vec_id
      |      ORDER BY d DESC, clab) AS prn
      |    FROM dots) WHERE vec_id < 10 AND prn <= 2),
      |approx AS (
      |  SELECT qid, nid FROM (
      |    SELECT p.qid, ml.vec_id AS nid,
      |      row_number() OVER (PARTITION BY p.qid
      |        ORDER BY sum(ql.qv * ml.qv) DESC, ml.vec_id) AS rn
      |    FROM probes p
      |    JOIN el ql ON ql.vec_id = p.qid
      |    JOIN assigned a ON a.clab = p.clab
      |    JOIN el ml ON ml.vec_id = a.vec_id AND ml.i = ql.i
      |      AND ml.vec_id <> p.qid
      |    GROUP BY p.qid, ml.vec_id) WHERE rn <= 10),
      |hits AS (
      |  SELECT e.qid, CAST(count(a.nid) AS BIGINT) AS n_hits
      |  FROM exact e LEFT JOIN approx a
      |    ON a.qid = e.qid AND a.nid = e.nid
      |  GROUP BY e.qid)
      |SELECT qid, n_hits, (n_hits * 10000) // 10 AS recall_e4
      |FROM hits ORDER BY qid""".stripMargin

  // ---------------------------------------------------------------- minhash estimate
  /** Estimator-calibration audit ([[Dedup.minhashEstimate]]): for
    * every LSH candidate pair, signature-agreement Jaccard estimate
    * vs exact shingle Jaccard, with e4 fixed-point error. */
  private def p69(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashEstimate(
      TextOps.withPlantedNearDups(docsSpread(s, dir), every = 25,
        dropWords = 3),
      s, shingleK = 3, numPerms = 16, rowsPerBand = 4)
      .orderBy(col("d1"), col("d2"))

  private val p69Sql =
    s"""$NearDupCtes,
       |$MinhashCandCtes,
       |agree AS (
       |  SELECT c.d1, c.d2,
       |    CAST(sum(CASE WHEN x.sig = y.sig THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_agree
       |  FROM cand c JOIN sig x ON x.doc_id = c.d1
       |    JOIN sig y ON y.doc_id = c.d2 AND y.i = x.i
       |  GROUP BY c.d1, c.d2),
       |sz AS (SELECT doc_id, count(*) AS n FROM dt GROUP BY doc_id),
       |inter AS (
       |  SELECT c.d1, c.d2, CAST(count(y.tid) AS BIGINT) AS n_inter
       |  FROM cand c JOIN dt x ON x.doc_id = c.d1
       |    LEFT JOIN dt y ON y.doc_id = c.d2 AND y.tid = x.tid
       |  GROUP BY c.d1, c.d2)
       |SELECT a.d1, a.d2, a.n_agree, (a.n_agree * 10000) // 16 AS est_e4,
       |  i.n_inter, s1.n + s2.n - i.n_inter AS n_union,
       |  (i.n_inter * 10000) // (s1.n + s2.n - i.n_inter) AS jac_e4,
       |  abs((a.n_agree * 10000) // 16
       |    - (i.n_inter * 10000) // (s1.n + s2.n - i.n_inter)) AS err_e4
       |FROM agree a JOIN inter i ON i.d1 = a.d1 AND i.d2 = a.d2
       |  JOIN sz s1 ON s1.doc_id = a.d1 JOIN sz s2 ON s2.doc_id = a.d2
       |ORDER BY a.d1, a.d2""".stripMargin

  // ---------------------------------------------------------------- BPE tokenize
  /** Full BPE train+apply ([[TextStats.bpeTokenize]]): 4 merges
    * learned over the word-frequency vocab, then every document
    * re-tokenized; `seg_head` pins the exact segmentation (and so
    * every merge and its order) in the hash compare. */
  private def p70(s: SparkSession, dir: String): DataFrame =
    TextStats.bpeTokenize(
      docsSpread(s, dir).select(col("doc_id"), col("text")),
      numMerges = 4)
      .orderBy(col("doc_id"))

  /** Oracle replays the full iterated trainer: per merge step, an
    * argmax-pair CTE (count desc, pair lexicographic) and a
    * re-segmentation CTE running the SAME left-to-right carry fold
    * via `list_reduce` (see [[graft.operators.TextStats]]'s
    * bpeMergePass scaladoc for why a padded-string replace would
    * NOT be equivalent). The pair CTE joins in via LEFT JOIN ON TRUE:
    * when merges exhaust early (no pairs left) the step's pair frame
    * is EMPTY, and a cross join would annihilate the segmentation —
    * the null pair instead makes the fold a no-op, mirroring the
    * Scala side's `exhausted` early-stop. The fold's internal segment
    * separator is chr(31) (the US control char), and the last-segment
    * check/rewrite is plain `ends_with` + append — no regex, so a
    * merged pair containing regex metacharacters (or '|', the old
    * separator) can never corrupt the fold; the only alphabet
    * restriction left is chr(31) itself inside a word (caveat class
    * of MinhashCandCtes). `seg_head` joins positions with '|' on BOTH
    * engines identically, so it carries no such restriction. */
  private val p70Sql: String = {
    val merges = 4
    val head =
      """WITH tok0 AS (
        |  SELECT doc_id, w, pos FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS w,
        |           generate_subscripts(string_split(text, ' '), 1) AS pos
        |    FROM documents)
        |  WHERE length(w) >= 1),
        |wf AS (SELECT w, CAST(count(*) AS BIGINT) AS f FROM tok0 GROUP BY w),
        |seg0 AS (SELECT w, f, string_split(w, '') AS sym FROM wf)"""
        .stripMargin
    val steps = (1 to merges).map { k =>
      val prev = s"seg${k - 1}"
      s"""p$k AS (
         |  SELECT x, y FROM (
         |    SELECT list_extract(sym, CAST(i AS INTEGER)) AS x,
         |           list_extract(sym, CAST(i AS INTEGER) + 1) AS y, f
         |    FROM $prev, unnest(generate_series(1, len(sym) - 1)) t(i)
         |    WHERE len(sym) >= 2)
         |  GROUP BY x, y
         |  ORDER BY CAST(sum(f) AS BIGINT) DESC, x, y LIMIT 1),
         |seg$k AS (
         |  SELECT w, f, CASE WHEN len(sym) < 2 THEN sym ELSE
         |    string_split(list_reduce(sym, (acc, e) -> CASE
         |      WHEN (acc = p$k.x OR ends_with(acc, chr(31) || p$k.x))
         |        AND e = p$k.y
         |      THEN acc || p$k.y
         |      ELSE acc || chr(31) || e END), chr(31)) END AS sym
         |  FROM $prev LEFT JOIN p$k ON TRUE)""".stripMargin
    }
    val tail =
      s"""SELECT t.doc_id,
         |  CAST(sum(length(t.w)) AS BIGINT) AS n_sym0,
         |  CAST(sum(len(s.sym)) AS BIGINT) AS n_bpe,
         |  coalesce(string_agg(CASE WHEN t.pos <= 3
         |    THEN array_to_string(s.sym, ' ') END, '|' ORDER BY t.pos),
         |    '') AS seg_head
         |FROM tok0 t JOIN seg$merges s ON s.w = t.w
         |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin
    (head +: steps).mkString(",\n") + "\n" + tail
  }

  // ---------------------------------------------------------------- hist quantiles
  /** Bounded-state quantile sketch ([[TextStats.histQuantileSketch]])
    * per language — p23's exact histogram with the shuffle keyed by
    * ≤ 64·8 log-bins instead of every distinct value. */
  private def p71(s: SparkSession, dir: String): DataFrame =
    TextStats.histQuantileSketch(docsSpread(s, dir), Seq("lang"),
      binsPerOctave = 8)
      .orderBy(col("lang"))

  private val p71Sql =
    """WITH t AS (
      |  SELECT lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS v
      |  FROM documents WHERE len(string_split(text, ' ')) >= 1),
      |b AS (
      |  SELECT lang, (length(bin(v)) - 1) * 8
      |    + ((v - (1::BIGINT << (length(bin(v)) - 1))) * 8)
      |      // (1::BIGINT << (length(bin(v)) - 1)) AS bin
      |  FROM t),
      |hist AS (
      |  SELECT lang, bin, CAST(count(*) AS BIGINT) AS cnt
      |  FROM b GROUP BY lang, bin),
      |cum AS (
      |  SELECT lang, bin, cnt,
      |    sum(cnt) OVER (PARTITION BY lang ORDER BY bin
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    (1::BIGINT << CAST(bin // 8 AS INTEGER))
      |      + ((bin % 8) * (1::BIGINT << CAST(bin // 8 AS INTEGER))) // 8
      |      AS lb
      |  FROM hist),
      |n AS (
      |  SELECT lang, CAST(sum(cnt) AS BIGINT) AS n,
      |         CAST(count(*) AS BIGINT) AS n_bins
      |  FROM hist GROUP BY lang)
      |SELECT c.lang, n.n, n.n_bins,
      |  min(CASE WHEN c.cum >= (n.n - 1) // 2 + 1 THEN c.lb END)
      |    AS median_est,
      |  min(CASE WHEN c.cum >= ((n.n - 1) * 9) // 10 + 1 THEN c.lb END)
      |    AS p90_est
      |FROM cum c JOIN n USING (lang)
      |GROUP BY c.lang, n.n, n.n_bins ORDER BY c.lang""".stripMargin

  // ---------------------------------------------------------------- bigram surprise
  /** Bigram-LM surprise scoring ([[TextStats.bigramSurprise]]): the
    * corpus-trained conditional model scores every doc's transitions;
    * the integer surrogate `(uni(w1)·10⁶) div bi(w1,w2)` preserves
    * the −log p ordering and stays hash-comparable. */
  private def p45(s: SparkSession, dir: String): DataFrame =
    TextStats.bigramSurprise(docsSpread(s, dir)).orderBy(col("doc_id"))

  private val p45Sql =
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
       |tok AS (
       |  SELECT doc_id, unnest(ts) AS w,
       |         generate_subscripts(ts, 1) AS pos
       |  FROM t),
       |bg AS (
       |  SELECT doc_id, w AS w1,
       |    lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
       |  FROM tok),
       |bo AS (
       |  SELECT doc_id, w1,
       |    ${polyHashSql("w1 || ' ' || w2")} AS b
       |  FROM bg WHERE w2 IS NOT NULL),
       |cnt AS (
       |  SELECT b, count(*) AS bi, min(w1) AS w1 FROM bo GROUP BY b),
       |uni AS (
       |  SELECT w1, CAST(sum(bi) AS BIGINT) AS u FROM cnt GROUP BY w1),
       |sc AS (
       |  SELECT bo.doc_id, (uni.u * 1000000) // cnt.bi AS s
       |  FROM bo JOIN cnt USING (b) JOIN uni ON uni.w1 = cnt.w1)
       |SELECT doc_id, count(*) AS n_bigrams,
       |  CAST(sum(s) AS BIGINT) AS surprise_sum,
       |  CAST(CAST(sum(s) AS BIGINT) AS DOUBLE) / count(*)
       |    AS mean_surprise
       |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- curation pipeline
  /** The CAPSTONE composition — the full curation pipeline a training
    * run actually executes, as ONE oracled query: planted-dup corpus
    * (exact copies at +2M, near-copies at +1M, lang carried) →
    * exact+near dedup ([[Dedup.dedupedCorpus]], p20's stage) → linear
    * quality-classifier filter ([[TextStats.classifierScore]], p43's
    * weights, carry=lang/text so the filter stays one projection) →
    * per-language token-budget packing ([[Sampling.packTokenBudget]],
    * p19's stage). Output is the shard manifest of the SURVIVING,
    * QUALITY-PASSING corpus — proving the stages compose exactly
    * (ids, margins, bin boundaries all bit-stable end to end).
    *
    * Scale composition: every stage keeps its own audited shape
    * (digest dedup shuffles text once; LSH is collisions-only; the
    * classifier is in-row on the survivors join; packing is the
    * two-pass distributed prefix sum); the only inter-stage cost is
    * ONE doc_id-keyed join of the corpus against its surviving ids. */
  private def p46(s: SparkSession, dir: String): DataFrame = {
    val spread = docsSpread(s, dir)
    // persisted: the planted corpus (three unions over the documents
    // scan) is consumed TWICE — dedup's digest build and the
    // classifier's survivors join — so cache the one materialization
    // instead of re-reading documents six times across the stages
    val corpus = spread.select(col("doc_id"), col("text"), col("lang"))
      .unionByName(spread.where(col("doc_id") % 25 === 0).select(
        (col("doc_id") + 1000000L).as("doc_id"),
        array_join(expr(
          "slice(split(text, ' '), 4, size(split(text, ' ')))"),
          " ").as("text"),
        col("lang")))
      .unionByName(spread.where(col("doc_id") % 50 === 0).select(
        (col("doc_id") + 2000000L).as("doc_id"), col("text"),
        col("lang")))
      .persist()
    val survivors = Dedup.dedupedCorpus(
      corpus.select(col("doc_id"), col("text")), s)
    val good = TextStats.classifierScore(
      corpus.join(survivors, Seq("doc_id")),
      wStop = 3L, wUniq = 2L, wRep = 1L,
      lenBonus = 10L, lenLo = 20L, lenHi = 200L, bias = 40L,
      carry = Seq("lang", "text"))
      .where(col("keep"))
    val out = Sampling.packTokenBudget(good, Seq("lang"), budget = 4096L)
      .orderBy(col("lang"), col("bin"))
    graft.operators.CacheLifecycle.unpersistAfterFirstUse(out, corpus)
    out
  }

  /** p20's dedup chain verbatim (planted corpus now carries lang),
    * then the p43 margin filter, then the p19 packing — the same CTEs
    * the standalone oracles use, chained. */
  private val p46Sql =
    s"""WITH RECURSIVE corpus AS (
       |  SELECT doc_id, text, lang FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000 AS doc_id,
       |         array_to_string(string_split(text, ' ')[4:], ' ') AS text,
       |         lang
       |  FROM documents WHERE doc_id % 25 = 0
       |  UNION ALL
       |  SELECT doc_id + 2000000 AS doc_id, text, lang
       |  FROM documents WHERE doc_id % 50 = 0),
       |ek AS (SELECT min(doc_id) AS doc_id FROM corpus GROUP BY text),
       |kept AS (
       |  SELECT c.doc_id, c.text, c.lang FROM corpus c JOIN ek USING (doc_id)),
       |tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS w,
       |         generate_subscripts(string_split(text, ' '), 1) AS pos
       |  FROM kept),
       |sh AS (
       |  SELECT DISTINCT doc_id, shingle FROM (
       |    SELECT doc_id,
       |      w || ' ' || lead(w, 1) OVER win || ' ' || lead(w, 2) OVER win
       |        AS shingle
       |    FROM tok WINDOW win AS (PARTITION BY doc_id ORDER BY pos))
       |  WHERE shingle IS NOT NULL),
       |dt AS (
       |  SELECT DISTINCT doc_id, ${polyHashSql("shingle")} AS tid
       |  FROM sh),
       |$MinhashCandCtes,
       |sz AS (SELECT doc_id, count(*) AS n FROM dt GROUP BY doc_id),
       |inter AS (
       |  SELECT c.d1, c.d2, count(*) AS n_inter
       |  FROM cand c JOIN dt x ON x.doc_id = c.d1
       |    JOIN dt y ON y.doc_id = c.d2 AND y.tid = x.tid
       |  GROUP BY c.d1, c.d2),
       |vp AS (
       |  SELECT i.d1, i.d2
       |  FROM inter i JOIN sz s1 ON s1.doc_id = i.d1
       |    JOIN sz s2 ON s2.doc_id = i.d2
       |  WHERE CAST(i.n_inter AS DOUBLE) / (s1.n + s2.n - i.n_inter) >= 0.5),
       |-- MATERIALIZED: the recursive reach references bi; inlined, the
       |-- whole minhash pipeline re-executes inside every fixpoint
       |-- iteration (the sf1 audit filled 75 GB of spill on p65 before
       |-- OOM; materialized, the same query runs in ~2 min)
       |bi AS MATERIALIZED (
       |  SELECT d1, d2 FROM vp UNION SELECT d2 AS d1, d1 AS d2 FROM vp),
       |reach(a, b) AS (
       |  SELECT d1 AS a, d2 AS b FROM bi
       |  UNION
       |  SELECT r.a, e.d2 AS b FROM reach r JOIN bi e ON e.d1 = r.b),
       |nonkeep AS (
       |  SELECT a AS doc_id FROM reach GROUP BY a
       |  HAVING a <> least(a, min(b))),
       |surv AS (
       |  SELECT k.doc_id, k.text, k.lang FROM kept k
       |  LEFT JOIN nonkeep n USING (doc_id) WHERE n.doc_id IS NULL),
       |feat AS (
       |  SELECT doc_id, lang, text,
       |    len(string_split(text, ' '))::BIGINT AS nt,
       |    len(list_distinct(string_split(text, ' ')))::BIGINT AS nu,
       |    len(list_filter(string_split(text, ' '),
       |      w -> w IN ('the', 'a')))::BIGINT AS ns
       |  FROM surv),
       |good AS (
       |  SELECT doc_id, lang, text FROM feat
       |  WHERE 3 * ns + 2 * nu - 1 * (nt - nu)
       |    + (CASE WHEN nt BETWEEN 20 AND 200 THEN 10 ELSE 0 END)
       |    - 40 >= 0),
       |t AS (
       |  SELECT lang, doc_id,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
       |  FROM good),
       |c AS (
       |  SELECT lang, doc_id, n_tok,
       |    sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM t)
       |SELECT lang, CAST((cum - n_tok) // 4096 AS BIGINT) AS bin,
       |  count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
       |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
       |FROM c GROUP BY lang, CAST((cum - n_tok) // 4096 AS BIGINT)
       |ORDER BY lang, bin""".stripMargin

  // ---------------------------------------------------------------- importance weights
  /** DSIR-style domain-targeted importance weighting
    * ([[TextStats.importanceWeights]]): `src0` is the in-domain
    * target sample; every corpus doc scores by the integer bigram
    * likelihood-ratio surrogate (unseen-in-target transitions score
    * the hard zero). Target docs themselves rank high by
    * construction — the oracle pins the full per-doc weight table. */
  private def p47(s: SparkSession, dir: String): DataFrame = {
    val corpus = docsSpread(s, dir)
    TextStats.importanceWeights(corpus,
      corpus.where(col("source") === "src0"))
      .orderBy(col("doc_id"))
  }

  private val p47Sql =
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
       |tok AS (
       |  SELECT doc_id, unnest(ts) AS w,
       |         generate_subscripts(ts, 1) AS pos
       |  FROM t),
       |bg AS (
       |  SELECT doc_id, w AS w1,
       |    lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
       |  FROM tok),
       |bo AS (
       |  SELECT doc_id, w1,
       |    ${polyHashSql("w1 || ' ' || w2")} AS b
       |  FROM bg WHERE w2 IS NOT NULL),
       |cntc AS (
       |  SELECT b, count(*) AS bi_c, min(w1) AS w1 FROM bo GROUP BY b),
       |unic AS (
       |  SELECT w1, CAST(sum(bi_c) AS BIGINT) AS u_c
       |  FROM cntc GROUP BY w1),
       |bot AS (
       |  SELECT bo.* FROM bo
       |  JOIN documents d ON d.doc_id = bo.doc_id
       |  WHERE d.source = 'src0'),
       |cntt AS (
       |  SELECT b, count(*) AS bi_t, min(w1) AS w1 FROM bot GROUP BY b),
       |unit AS (
       |  SELECT w1, CAST(sum(bi_t) AS BIGINT) AS u_t
       |  FROM cntt GROUP BY w1),
       |stats AS (
       |  SELECT c.b,
       |    COALESCE((tt.bi_t * uc.u_c * 1000000)
       |      // (c.bi_c * ut.u_t), 0) AS r
       |  FROM cntc c
       |  JOIN unic uc ON uc.w1 = c.w1
       |  LEFT JOIN cntt tt ON tt.b = c.b
       |  LEFT JOIN unit ut ON ut.w1 = tt.w1)
       |SELECT bo.doc_id, count(*) AS n_bigrams,
       |  CAST(sum(stats.r) AS BIGINT) AS ratio_sum,
       |  CAST(CAST(sum(stats.r) AS BIGINT) AS DOUBLE) / count(*)
       |    AS mean_ratio
       |FROM bo JOIN stats USING (b)
       |GROUP BY bo.doc_id ORDER BY bo.doc_id""".stripMargin

  // ---------------------------------------------------------------- perplexity buckets
  /** CCNet-style head/middle/tail perplexity tiers per language
    * ([[TextStats.perplexityBuckets]]): p45's surprise scores ranked
    * per lang by the distributed two-pass rank, terciled by exact
    * integer arithmetic. The oracle replays the ranking as a DuckDB
    * window — deterministic because the order key (one IEEE division
    * of exact integers, doc_id tiebreak) is a total order both
    * engines agree on bit-for-bit. */
  private def p48(s: SparkSession, dir: String): DataFrame =
    TextStats.perplexityBuckets(docsSpread(s, dir))
      .orderBy(col("doc_id"))

  private val p48Sql =
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
       |tok AS (
       |  SELECT doc_id, unnest(ts) AS w,
       |         generate_subscripts(ts, 1) AS pos
       |  FROM t),
       |bg AS (
       |  SELECT doc_id, w AS w1,
       |    lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
       |  FROM tok),
       |bo AS (
       |  SELECT doc_id, w1,
       |    ${polyHashSql("w1 || ' ' || w2")} AS b
       |  FROM bg WHERE w2 IS NOT NULL),
       |cnt AS (
       |  SELECT b, count(*) AS bi, min(w1) AS w1 FROM bo GROUP BY b),
       |uni AS (
       |  SELECT w1, CAST(sum(bi) AS BIGINT) AS u FROM cnt GROUP BY w1),
       |sc AS (
       |  SELECT bo.doc_id, (uni.u * 1000000) // cnt.bi AS s
       |  FROM bo JOIN cnt USING (b) JOIN uni ON uni.w1 = cnt.w1),
       |m AS (
       |  SELECT sc.doc_id, min(d.lang) AS lang,
       |    CAST(CAST(sum(s) AS BIGINT) AS DOUBLE) / count(*)
       |      AS mean_surprise
       |  FROM sc JOIN documents d ON d.doc_id = sc.doc_id
       |  GROUP BY sc.doc_id),
       |r AS (
       |  SELECT *,
       |    row_number() OVER (PARTITION BY lang
       |      ORDER BY mean_surprise, doc_id) AS rank,
       |    count(*) OVER (PARTITION BY lang) AS n_stratum
       |  FROM m)
       |SELECT lang, doc_id, mean_surprise, rank,
       |  ((rank - 1) * 3) // n_stratum AS bucket,
       |  CASE WHEN ((rank - 1) * 3) // n_stratum = 0 THEN 'head'
       |       WHEN ((rank - 1) * 3) // n_stratum = 2 THEN 'tail'
       |       ELSE 'middle' END AS tier
       |FROM r ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- temperature mixture
  /** τ = 2 temperature mixture plan
    * ([[Sampling.temperatureMixturePlan]]): per-cell targets ∝
    * √cell_tokens via the overflow-free exact isqrt, split-division
    * target arithmetic. The oracle replays the identical integer
    * algebra — including both isqrt corrections in their
    * division-not-squaring form, which DuckDB needs to stay
    * overflow-safe at the same bound the engine does. */
  private def p49(s: SparkSession, dir: String): DataFrame =
    Sampling.temperatureMixturePlan(docsSpread(s, dir),
      Seq("lang", "source"))
      .orderBy(col("lang"), col("source"))

  private val p49Sql =
    """WITH cells AS (
      |  SELECT lang, source, count(*) AS n_docs,
      |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS cell_tokens
      |  FROM documents GROUP BY lang, source),
      |w0 AS (
      |  SELECT *, CAST(floor(sqrt(CAST(cell_tokens AS DOUBLE)))
      |    AS BIGINT) AS s0
      |  FROM cells),
      |w1 AS (
      |  SELECT *, CASE WHEN s0 > 0
      |      AND cell_tokens // greatest(s0, CAST(1 AS BIGINT)) < s0
      |    THEN s0 - 1 ELSE s0 END AS s1
      |  FROM w0),
      |wt AS (
      |  SELECT lang, source, n_docs, cell_tokens,
      |    CASE WHEN cell_tokens // (s1 + 1) >= s1 + 1
      |      THEN s1 + 1 ELSE s1 END AS w
      |  FROM w1),
      |tot AS (
      |  SELECT CAST(sum(cell_tokens) AS BIGINT) AS total_tokens,
      |         CAST(sum(w) AS BIGINT) AS sum_w
      |  FROM wt),
      |tgt AS (
      |  SELECT wt.*,
      |    (t.total_tokens // t.sum_w) * wt.w
      |      + ((t.total_tokens % t.sum_w) * wt.w) // t.sum_w
      |      AS target_tokens
      |  FROM wt CROSS JOIN tot t)
      |SELECT lang, source, n_docs, cell_tokens, w, target_tokens,
      |  least(1.0, CAST(target_tokens AS DOUBLE) / cell_tokens) AS rate,
      |  least(cell_tokens, target_tokens) AS kept_tokens_est
      |FROM tgt ORDER BY lang, source""".stripMargin

  // ---------------------------------------------------------------- count-min sketch
  /** p53 — Count-Min frequency sketch per lang
    * ([[TextStats.countMinFreq]], depth 4 × width 32): the
    * bounded-state token-FREQUENCY sibling of p52's KMV distinct
    * counter, probed for two stopwords, one content token, and one
    * absent token. Width 32 is deliberately small so hash collisions
    * actually overcount at sf0.01 — both branches of the estimate are
    * exercised, and the audit columns pin the CMS one-sided guarantee
    * (overcount ≥ 0) cell-for-cell against the DuckDB replica. */
  private def p53(s: SparkSession, dir: String): DataFrame =
    TextStats.countMinFreq(docsSpread(s, dir), Seq("lang"),
      probes = Seq("the", "a", "join", "zzz_missing"),
      depth = 4, width = 32)
      .orderBy(col("lang"), col("tok"))

  private val p53Sql =
    s"""WITH tok AS (
       |  SELECT lang, unnest(string_split(text, ' ')) AS w
       |  FROM documents),
       |js AS (SELECT j FROM range(0, 4) t(j)),
       |cells AS (
       |  SELECT lang, j,
       |    ${polyHashSql("'cms' || CAST(j AS VARCHAR) || ':' || w")} % 32
       |      AS bucket,
       |    count(*) AS cnt
       |  FROM tok CROSS JOIN js GROUP BY 1, 2, 3),
       |pr AS (SELECT unnest(['the', 'a', 'join', 'zzz_missing']) AS tok),
       |pb AS (
       |  SELECT g.lang, pr.tok, js.j,
       |    ${polyHashSql("'cms' || CAST(js.j AS VARCHAR) || ':' || pr.tok")} % 32
       |      AS bucket
       |  FROM (SELECT DISTINCT lang FROM documents) g
       |  CROSS JOIN pr CROSS JOIN js),
       |est AS (
       |  SELECT pb.lang, pb.tok,
       |    min(COALESCE(c.cnt, 0)) AS est_freq
       |  FROM pb LEFT JOIN cells c
       |    ON c.lang = pb.lang AND c.j = pb.j AND c.bucket = pb.bucket
       |  GROUP BY pb.lang, pb.tok),
       |ex AS (
       |  SELECT lang, w AS tok, count(*) AS exact_freq
       |  FROM tok WHERE w IN ('the', 'a', 'join', 'zzz_missing')
       |  GROUP BY lang, w)
       |SELECT e.lang, e.tok, e.est_freq,
       |  COALESCE(x.exact_freq, 0) AS exact_freq,
       |  e.est_freq - COALESCE(x.exact_freq, 0) AS overcount
       |FROM est e LEFT JOIN ex x ON x.lang = e.lang AND x.tok = e.tok
       |ORDER BY e.lang, e.tok""".stripMargin

  // ---------------------------------------------------------------- embedding covariance
  /** p54 — exact covariance statistics over the first 8 embedding
    * dimensions ([[Similarity.covarianceStats]]): the PCA/whitening
    * preprocessing aggregate — one corpus scan, O(d²) integer state,
    * covariance as an exact-integer numerator over n² in one IEEE
    * division. The oracle rebuilds every pair from a self-join of the
    * unnested components; the engine never materializes that join. */
  private def p54(s: SparkSession, dir: String): DataFrame =
    Similarity.covarianceStats(emb(s, dir), nDims = 8)
      .orderBy(col("i"), col("j"))

  private val p54Sql =
    """WITH comp AS (
      |  SELECT vec_id, d,
      |    CAST(round(CAST(v AS DOUBLE) * 10000) AS BIGINT) AS q
      |  FROM (
      |    SELECT vec_id, unnest(embedding) AS v,
      |           generate_subscripts(embedding, 1) AS d
      |    FROM embeddings)
      |  WHERE d <= 8),
      |pairs AS (
      |  SELECT CAST(a.d AS INTEGER) AS i, CAST(b.d AS INTEGER) AS j,
      |    count(*) AS n,
      |    CAST(sum(a.q) AS BIGINT) AS s_i,
      |    CAST(sum(b.q) AS BIGINT) AS s_j,
      |    CAST(sum(a.q * b.q) AS BIGINT) AS s_ij
      |  FROM comp a JOIN comp b ON a.vec_id = b.vec_id AND a.d <= b.d
      |  GROUP BY 1, 2)
      |SELECT i, j, n, s_i, s_j, s_ij,
      |  CAST(n * s_ij - s_i * s_j AS DOUBLE)
      |    / CAST(n * n AS DOUBLE) AS cov
      |FROM pairs ORDER BY i, j""".stripMargin

  // ---------------------------------------------------------------- split leakage
  /** p55 — split-leakage audit ([[Sampling.splitLeakage]] over
    * [[Dedup.minhashNearDups]] pairs): near-duplicate pairs whose two
    * sides land in DIFFERENT hash splits — the eval-integrity check a
    * train/test fence needs before held-out numbers mean anything.
    * Split labels are recomputed in-row from the pair ids with the
    * exact [[Sampling.assignSplits]] hash — no corpus-sized
    * assignment join — so the audit costs one projection over the
    * pair set. The planted near-dups guarantee cross-split pairs at
    * sf0.01 (copy ids hash independently of their originals). */
  private def p55(s: SparkSession, dir: String): DataFrame =
    Sampling.splitLeakage(
      Dedup.minhashNearDups(
        TextOps.withPlantedNearDups(docsSpread(s, dir), every = 25,
          dropWords = 3),
        s, shingleK = 3, numPerms = 16, rowsPerBand = 4,
        threshold = 0.5))
      .orderBy(col("d1"), col("d2"))

  private val p55Sql =
    s"""$NearDupCtes,
       |$MinhashCandCtes,
       |sz AS (SELECT doc_id, count(*) AS n FROM dt GROUP BY doc_id),
       |inter AS (
       |  SELECT c.d1, c.d2, count(*) AS n_inter
       |  FROM cand c JOIN dt x ON x.doc_id = c.d1
       |    JOIN dt y ON y.doc_id = c.d2 AND y.tid = x.tid
       |  GROUP BY c.d1, c.d2),
       |pairs AS (
       |  SELECT i.d1, i.d2, i.n_inter,
       |    s1.n + s2.n - i.n_inter AS n_union,
       |    CAST(i.n_inter AS DOUBLE) / (s1.n + s2.n - i.n_inter)
       |      AS jaccard
       |  FROM inter i JOIN sz s1 ON s1.doc_id = i.d1
       |    JOIN sz s2 ON s2.doc_id = i.d2
       |  WHERE CAST(i.n_inter AS DOUBLE) / (s1.n + s2.n - i.n_inter)
       |    >= 0.5),
       |sp AS (
       |  SELECT p.*,
       |    ${polyHashSql("'split:' || CAST(d1 AS VARCHAR)")} % 100 AS b1,
       |    ${polyHashSql("'split:' || CAST(d2 AS VARCHAR)")} % 100 AS b2
       |  FROM pairs p)
       |SELECT d1, d2, n_inter, n_union, jaccard,
       |  CASE WHEN b1 < 80 THEN 'train' WHEN b1 < 90 THEN 'val'
       |       ELSE 'test' END AS split1,
       |  CASE WHEN b2 < 80 THEN 'train' WHEN b2 < 90 THEN 'val'
       |       ELSE 'test' END AS split2
       |FROM sp
       |WHERE (CASE WHEN b1 < 80 THEN 'train' WHEN b1 < 90 THEN 'val'
       |       ELSE 'test' END)
       |   <> (CASE WHEN b2 < 80 THEN 'train' WHEN b2 < 90 THEN 'val'
       |       ELSE 'test' END)
       |ORDER BY d1, d2""".stripMargin

  // ---------------------------------------------------------------- HLL distinct
  /** p61 — HyperLogLog distinct-token sketch per language
    * ([[TextStats.hllDistinctTokens]]): the fixed-register,
    * merge-by-max sibling of p52's KMV sketch. The full register
    * vector is pinned (not just the estimate), and the estimate is
    * exact integer arithmetic over the registers — see the operator
    * scaladoc for the αₘ·m²·2^S div Σ2^(S−r) form. */
  private def p61(s: SparkSession, dir: String): DataFrame =
    TextStats.hllDistinctTokens(docsSpread(s, dir), Seq("lang"))
      .orderBy(col("lang"))

  private val p61Sql =
    s"""WITH tok AS (
       |  SELECT lang, unnest(string_split(text, ' ')) AS w
       |  FROM documents),
       |h AS (SELECT lang, ${polyHashSql("'hll:' || w")} AS h FROM tok),
       |m1 AS (SELECT lang, (h * 1540483507) % 2147483647 AS h FROM h),
       |m2 AS (SELECT lang, xor(h, h // 32768) AS h FROM m1),
       |m3 AS (SELECT lang, (h * 1203793907) % 2147483647 AS h FROM m2),
       |mz AS (SELECT lang, xor(h, h // 8192) AS h FROM m3),
       |rk AS (
       |  SELECT lang, h % 64 AS j,
       |    CASE WHEN h // 64 = 0 THEN 26
       |         ELSE 26 - length(bin(h // 64)) END AS r
       |  FROM mz),
       |regs AS (SELECT lang, j, max(r) AS r FROM rk GROUP BY 1, 2),
       |fb AS (
       |  SELECT l.lang, t.j
       |  FROM (SELECT DISTINCT lang FROM documents) l
       |  CROSS JOIN range(0, 64) t(j)),
       |reg2 AS (
       |  SELECT f.lang, f.j, COALESCE(r.r, 0) AS r
       |  FROM fb f LEFT JOIN regs r ON r.lang = f.lang AND r.j = f.j),
       |agg AS (
       |  SELECT lang,
       |    string_agg(r::VARCHAR, ',' ORDER BY j) AS regs,
       |    CAST(sum(CASE WHEN r = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_zero,
       |    CAST(sum((1::BIGINT) << (26 - r)) AS BIGINT) AS denom
       |  FROM reg2 GROUP BY lang)
       |SELECT lang, CAST(64 AS BIGINT) AS m, regs, n_zero, denom,
       |  (709::BIGINT * 64 * 64 * 67108864) // denom AS est_e3
       |FROM agg ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- BPE pairs
  /** p62 — BPE first-merge pair statistics
    * ([[TextStats.bpePairStats]]): tokenizer-training's inner loop —
    * adjacent character-pair frequencies weighted by word frequency;
    * the top row is the first merge a BPE trainer performs. The
    * corpus collapses to the word-frequency table before any
    * positional work. */
  private def p62(s: SparkSession, dir: String): DataFrame =
    TextStats.bpePairStats(docsSpread(s, dir), k = 20)

  private val p62Sql =
    """WITH wf AS (
      |  SELECT w, CAST(count(*) AS BIGINT) AS f
      |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      |  GROUP BY w),
      |pr AS (
      |  SELECT substring(w, CAST(i AS INTEGER), 2) AS pair, f
      |  FROM wf, unnest(generate_series(1, length(w) - 1)) t(i)
      |  WHERE length(w) >= 2)
      |SELECT pair, CAST(sum(f) AS BIGINT) AS cnt
      |FROM pr GROUP BY pair
      |ORDER BY cnt DESC, pair LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- embed decontam
  /** p63 — embedding-space decontamination
    * ([[Similarity.embedDecontaminate]]): every 25th vector of the
    * first 500 plays the held-out benchmark (an SF-INVARIANT ≤ 20
    * vectors — benchmark sets don't grow with the corpus, and the
    * literal-dot plan must not either: at sf0.1 an unbounded %25
    * fixture meant 200 literal centroids ≈ 12.8k literal longs, and
    * analyzer+Janino cost dominated the query at 3.0 s vs 0.3);
    * each remaining training vector reports its max cosine against
    * the benchmark set, the arg-max benchmark id, and the ≥ τ
    * contamination verdict. The benchmark is literal in-row dots —
    * one corpus scan, zero joins (plan-asserted in SimilaritySpec).
    * τ = 0.33 ≈ the p90 of max-cos on this corpus, so both verdicts
    * are populated. */
  private def p63(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val isBench = col("vec_id") % 25 === 0 && col("vec_id") < 500
    Similarity.embedDecontaminate(
      e.where(!isBench),
      e.where(isBench)
        .select(col("vec_id").as("bench_id"), col("embedding")),
      threshold = 0.33)
      .orderBy(col("vec_id"))
  }

  private val p63Sql =
    """WITH b AS (SELECT vec_id AS bench_id, embedding AS be
      |           FROM embeddings WHERE vec_id % 25 = 0 AND vec_id < 500),
      |t AS (SELECT vec_id, embedding FROM embeddings
      |      WHERE NOT (vec_id % 25 = 0 AND vec_id < 500)),
      |tl AS (SELECT vec_id,
      |         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 10000)
      |           AS BIGINT) AS q,
      |         generate_subscripts(embedding, 1) AS i
      |       FROM t),
      |bl AS (SELECT bench_id,
      |         CAST(round(CAST(unnest(be) AS DOUBLE) * 10000)
      |           AS BIGINT) AS q,
      |         generate_subscripts(be, 1) AS i
      |       FROM b),
      |tn AS (SELECT vec_id, CAST(sum(q * q) AS BIGINT) AS n1
      |       FROM tl GROUP BY 1),
      |bn AS (SELECT bench_id, CAST(sum(q * q) AS BIGINT) AS n2
      |       FROM bl GROUP BY 1),
      |d AS (SELECT tl.vec_id, bl.bench_id,
      |        CAST(sum(tl.q * bl.q) AS BIGINT) AS d
      |      FROM tl JOIN bl ON tl.i = bl.i GROUP BY 1, 2),
      |c AS (SELECT vec_id, bench_id, n1,
      |        -- the explicit NaN branch mirrors the engine exactly: a
      |        -- zero-norm TRAIN vector's max_cos is NaN there, while
      |        -- DuckDB's bare 0.0/0.0 is NULL — a NaN-vs-NULL cell
      |        -- difference the hash would catch
      |        CASE WHEN n1 > 0 THEN CAST(d AS DOUBLE)
      |          / sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
      |          ELSE CAST('NaN' AS DOUBLE) END AS c
      |      -- zero-norm BENCH vectors are dropped (engine filters them
      |      -- before building the candidate array)
      |      FROM d JOIN tn USING (vec_id) JOIN bn USING (bench_id)
      |      WHERE n2 > 0),
      |r AS (SELECT vec_id, bench_id, n1, c,
      |        row_number() OVER (PARTITION BY vec_id
      |          ORDER BY c DESC, bench_id) AS rn
      |      FROM c)
      |SELECT vec_id, c AS max_cos, bench_id AS best_bench,
      |  -- zero-norm TRAIN vectors are clean by contract (engine guard)
      |  (n1 > 0 AND c >= 0.33) AS contaminated
      |FROM r WHERE rn = 1 ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------- domain caps
  /** p64 — domain token-share caps ([[Sampling.domainTokenCaps]]):
    * no source may exceed 4% of corpus tokens; docs kept in
    * deterministic hash-priority order until the cap. The ~20 uniform
    * synthetic sources each hold ~5%, so every source is genuinely
    * cut and both verdicts populate. */
  private def p64(s: SparkSession, dir: String): DataFrame =
    Sampling.domainTokenCaps(docsSpread(s, dir), "source",
      shareNum = 1, shareDen = 25)
      .orderBy(col("source"), col("doc_id"))

  private val p64Sql =
    s"""WITH d AS (
       |  SELECT source, doc_id,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
       |    ${polyHashSql("'domcap:' || CAST(doc_id AS VARCHAR)")} AS h_ord
       |  FROM documents),
       |t AS (SELECT CAST(sum(n_tok) AS BIGINT) AS total FROM d),
       |c AS (
       |  SELECT source, doc_id, n_tok, h_ord,
       |    CAST(sum(n_tok) OVER (PARTITION BY source
       |      ORDER BY h_ord, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
       |      AS cum
       |  FROM d)
       |SELECT c.source, c.doc_id, c.n_tok, c.h_ord, c.cum,
       |  t.total // 25 AS cap, c.cum <= t.total // 25 AS kept
       |FROM c, t ORDER BY c.source, c.doc_id""".stripMargin

  // ---------------------------------------------------------------- best-quality keep
  /** p65 — quality-aware dedup canonical pick
    * ([[Dedup.bestQualityKeep]]): p16's near-dup clusters re-decided
    * by p43's quality margin — each cluster keeps its best-margin
    * member (ties → smallest id) instead of the min id. The planted
    * near-copies drop 3 words, so original and copy have genuinely
    * different margins and either side can win — the audit column
    * set (margin, winner id, verdict) is the point. */
  private def p65(s: SparkSession, dir: String): DataFrame = {
    val planted = TextOps.withPlantedNearDups(docsSpread(s, dir),
      every = 25, dropWords = 3)
    val pairs = Dedup.minhashNearDups(planted, s, shingleK = 3,
      numPerms = 16, rowsPerBand = 4, threshold = 0.5)
    val clusters = Dedup.connectedComponents(
      pairs.select(col("d1"), col("d2")))
    val margins = TextStats.classifierScore(planted,
      wStop = 3L, wUniq = 2L, wRep = 1L,
      lenBonus = 10L, lenLo = 20L, lenHi = 200L, bias = 40L)
    Dedup.bestQualityKeep(clusters, margins)
      .orderBy(col("cluster_id"), col("doc_id"))
  }

  private val p65Sql =
    s"""${NearDupCtes.replace("WITH corpus", "WITH RECURSIVE corpus")},
       |$MinhashCandCtes,
       |sz AS (SELECT doc_id, count(*) AS n FROM dt GROUP BY doc_id),
       |inter AS (
       |  SELECT c.d1, c.d2, count(*) AS n_inter
       |  FROM cand c JOIN dt x ON x.doc_id = c.d1
       |    JOIN dt y ON y.doc_id = c.d2 AND y.tid = x.tid
       |  GROUP BY c.d1, c.d2),
       |vp AS (
       |  SELECT i.d1, i.d2
       |  FROM inter i JOIN sz s1 ON s1.doc_id = i.d1
       |    JOIN sz s2 ON s2.doc_id = i.d2
       |  WHERE CAST(i.n_inter AS DOUBLE) / (s1.n + s2.n - i.n_inter) >= 0.5),
       |-- MATERIALIZED: the recursive reach references bi; inlined, the
       |-- whole minhash pipeline re-executes inside every fixpoint
       |-- iteration (the sf1 audit filled 75 GB of spill on p65 before
       |-- OOM; materialized, the same query runs in ~2 min)
       |bi AS MATERIALIZED (
       |  SELECT d1, d2 FROM vp UNION SELECT d2 AS d1, d1 AS d2 FROM vp),
       |reach(a, b) AS (
       |  SELECT d1 AS a, d2 AS b FROM bi
       |  UNION
       |  SELECT r.a, e.d2 AS b FROM reach r JOIN bi e ON e.d1 = r.b),
       |cl AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id
       |       FROM reach GROUP BY a),
       |f AS (
       |  SELECT doc_id,
       |    len(string_split(text, ' '))::BIGINT AS nt,
       |    len(list_distinct(string_split(text, ' ')))::BIGINT AS nu,
       |    len(list_filter(string_split(text, ' '),
       |      w -> w IN ('the', 'a')))::BIGINT AS ns
       |  FROM corpus),
       |mg AS (
       |  SELECT doc_id,
       |    3 * ns + 2 * nu - 1 * (nt - nu)
       |      + (CASE WHEN nt BETWEEN 20 AND 200 THEN 10 ELSE 0 END)
       |      - 40 AS margin
       |  FROM f),
       |mem AS (
       |  SELECT cl.cluster_id, cl.doc_id, mg.margin
       |  FROM cl JOIN mg ON mg.doc_id = cl.doc_id),
       |best AS (
       |  SELECT cluster_id, doc_id AS keep_id FROM (
       |    SELECT cluster_id, doc_id,
       |      row_number() OVER (PARTITION BY cluster_id
       |        ORDER BY margin DESC, doc_id) AS rn
       |    FROM mem)
       |  WHERE rn = 1)
       |SELECT m.cluster_id, m.doc_id, m.margin, b.keep_id,
       |  m.doc_id = b.keep_id AS keep
       |FROM mem m JOIN best b ON b.cluster_id = m.cluster_id
       |ORDER BY m.cluster_id, m.doc_id""".stripMargin

  // ------------------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p01_exact_dedup" -> (p01 _),
    "p02_minhash_lsh" -> (p02 _),
    "p03_simhash" -> (p03 _),
    "p04_jaccard_pairs" -> (p04 _),
    "p05_fingerprint" -> (p05 _),
    "p06_text_stats" -> (p06 _),
    "p07_quality" -> (p07 _),
    "p08_lang_id" -> (p08 _),
    "p09_knn_brute" -> (p09 _),
    "p10_ann_lsh" -> (p10 _),
    "p11_embed_stats" -> (p11 _),
    "p12_multimodal" -> (p12 _),
    "p13_ivf_topk" -> (p13 _),
    "p38_kmeans_train" -> (p38 _),
    "p39_semantic_dedup" -> (p39 _),
    "p40_kmeans_bcast" -> (p40 _),
    "p41_ivf_nprobe" -> (p41 _),
    "p14_token_counts" -> (p14 _),
    "p15_cosine_neardup" -> (p15 _),
    "p16_dedup_clusters" -> (p16 _),
    "p17_quota_sample" -> (p17 _),
    "p18_pii_scrub" -> (p18 _),
    "p19_token_packing" -> (p19 _),
    "p20_dedup_apply" -> (p20 _),
    "p21_global_sample" -> (p21 _),
    "p22_top_terms" -> (p22 _),
    "p23_token_quantiles" -> (p23 _),
    "p24_multimodal_knn" -> (p24 _),
    "p25_bigram_novelty" -> (p25 _),
    "p26_decontaminate" -> (p26 _),
    "p27_mixture_plan" -> (p27 _),
    "p28_incremental_dedup" -> (p28 _),
    "p29_repetition" -> (p29 _),
    "p30_chunk_dedup" -> (p30 _),
    "p31_quantize" -> (p31 _),
    "p32_mixture_apply" -> (p32 _),
    "p33_tfidf_terms" -> (p33 _),
    "p34_corpus_diff" -> (p34 _),
    "p35_winnow" -> (p35 _),
    "p36_state_dedup" -> (p36 _),
    "p37_rare_tokens" -> (p37 _),
    "p42_boilerplate" -> (p42 _),
    "p43_quality_classifier" -> (p43 _),
    "p44_lexical_topk" -> (p44 _),
    "p45_bigram_surprise" -> (p45 _),
    "p46_curation_pipeline" -> (p46 _),
    "p47_importance_weights" -> (p47 _),
    "p48_perplexity_buckets" -> (p48 _),
    "p49_temperature_mixture" -> (p49 _),
    "p50_diversity_sample" -> (p50 _),
    "p51_simhash_hamming" -> (p51 _),
    "p52_kmv_distinct" -> (p52 _),
    "p53_countmin_freq" -> (p53 _),
    "p54_embed_covariance" -> (p54 _),
    "p55_split_leakage" -> (p55 _),
    "p56_pq_encode" -> (p56 _),
    "p57_pq_adc_topk" -> (p57 _),
    "p58_ivf_pq" -> (p58 _),
    "p59_export_shards" -> (p59 _),
    "p60_stream_dedup" -> (p60 _),
    "p61_hll_distinct" -> (p61 _),
    "p62_bpe_pairs" -> (p62 _),
    "p63_embed_decontam" -> (p63 _),
    "p64_domain_caps" -> (p64 _),
    "p65_best_quality_keep" -> (p65 _),
    "p66_ngram_scrub" -> (p66 _),
    "p67_hard_negatives" -> (p67 _),
    "p68_ann_recall" -> (p68 _),
    "p69_minhash_estimate" -> (p69 _),
    "p70_bpe_tokenize" -> (p70 _),
    "p71_hist_quantiles" -> (p71 _),
    "p72_bm25_topk" -> (p72 _),
    "p73_cluster_splits" -> (p73 _),
    "p74_bm25_negatives" -> (p74 _))

  val oracleSql: Map[String, String] = Map(
    "p12_multimodal" -> p12Sql,
    "p01_exact_dedup" -> p01Sql,
    "p02_minhash_lsh" -> p02Sql,
    "p03_simhash" -> p03Sql,
    "p04_jaccard_pairs" -> p04Sql,
    "p05_fingerprint" -> p05Sql,
    "p06_text_stats" -> p06Sql,
    "p07_quality" -> p07Sql,
    "p08_lang_id" -> p08Sql,
    "p09_knn_brute" -> p09Sql,
    "p10_ann_lsh" -> p10Sql,
    "p11_embed_stats" -> p11Sql,
    "p13_ivf_topk" -> p13Sql,
    "p38_kmeans_train" -> p38Sql,
    "p39_semantic_dedup" -> p39Sql,
    "p40_kmeans_bcast" -> p40Sql,
    "p41_ivf_nprobe" -> p41Sql,
    "p14_token_counts" -> p14Sql,
    "p15_cosine_neardup" -> p15Sql,
    "p16_dedup_clusters" -> p16Sql,
    "p17_quota_sample" -> p17Sql,
    "p18_pii_scrub" -> p18Sql,
    "p19_token_packing" -> p19Sql,
    "p20_dedup_apply" -> p20Sql,
    "p21_global_sample" -> p21Sql,
    "p22_top_terms" -> p22Sql,
    "p23_token_quantiles" -> p23Sql,
    "p24_multimodal_knn" -> p24Sql,
    "p25_bigram_novelty" -> p25Sql,
    "p26_decontaminate" -> p26Sql,
    "p27_mixture_plan" -> p27Sql,
    "p28_incremental_dedup" -> p28Sql,
    "p29_repetition" -> p29Sql,
    "p30_chunk_dedup" -> p30Sql,
    "p31_quantize" -> p31Sql,
    "p32_mixture_apply" -> p32Sql,
    "p33_tfidf_terms" -> p33Sql,
    "p34_corpus_diff" -> p34Sql,
    "p35_winnow" -> p35Sql,
    // identical oracle by design: the persisted-state path must be
    // indistinguishable from the two-frame computation
    "p36_state_dedup" -> p28Sql,
    "p37_rare_tokens" -> p37Sql,
    "p42_boilerplate" -> p42Sql,
    "p43_quality_classifier" -> p43Sql,
    "p44_lexical_topk" -> p44Sql,
    "p45_bigram_surprise" -> p45Sql,
    "p46_curation_pipeline" -> p46Sql,
    "p47_importance_weights" -> p47Sql,
    "p48_perplexity_buckets" -> p48Sql,
    "p49_temperature_mixture" -> p49Sql,
    "p50_diversity_sample" -> p50Sql,
    "p51_simhash_hamming" -> p51Sql,
    "p52_kmv_distinct" -> p52Sql,
    "p53_countmin_freq" -> p53Sql,
    "p54_embed_covariance" -> p54Sql,
    "p55_split_leakage" -> p55Sql,
    "p56_pq_encode" -> p56Sql,
    "p57_pq_adc_topk" -> p57Sql,
    "p58_ivf_pq" -> p58Sql,
    "p59_export_shards" -> p59Sql,
    "p60_stream_dedup" -> p60Sql,
    "p61_hll_distinct" -> p61Sql,
    "p62_bpe_pairs" -> p62Sql,
    "p63_embed_decontam" -> p63Sql,
    "p64_domain_caps" -> p64Sql,
    "p65_best_quality_keep" -> p65Sql,
    "p66_ngram_scrub" -> p66Sql,
    "p67_hard_negatives" -> p67Sql,
    "p68_ann_recall" -> p68Sql,
    "p69_minhash_estimate" -> p69Sql,
    "p70_bpe_tokenize" -> p70Sql,
    "p71_hist_quantiles" -> p71Sql,
    "p72_bm25_topk" -> p72Sql,
    "p73_cluster_splits" -> p73Sql,
    "p74_bm25_negatives" -> p74Sql)
}
