package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Tokenization / shingling primitives shared by the LLM-pipeline
  * operators (dedup, similarity, text stats).
  *
  * Determinism contract: every derived value is exact integer math (or
  * a single IEEE division of exact integers) so the DuckDB oracle
  * reproduces results bit-for-bit. Token/shingle ids are NEVER an
  * engine hash (Spark's murmur3/xxhash64 and DuckDB's hash differ);
  * ids come from the content-derived [[graft.functions.PolyHash31]]
  * recurrence — a pure projection, zero coordination, reproducible in
  * the oracle.
  */
object TextOps {

  val HashP: Long = 2147483647L // 2^31-1, the Mersenne prime both engines mod by

  /** (doc_id, pos, w): one row per token, pos 1-based (matches DuckDB's
    * generate_subscripts). Input needs `doc_id` and `text`. */
  def tokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), posexplode(split(col("text"), " ")))
      .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("w"))

  /** Per-doc DISTINCT shingle-id SET as one array row: (doc_id, tids)
    * with tids = array_distinct of [[graft.functions.PolyHash31]] over
    * the k-shingles — the id set an explode+distinct over the
    * shingles would yield, built without EITHER: the distinct is in-row
    * (`array_distinct`), the ids are content-derived, so the whole
    * stage is a narrow projection with NO shuffle. This is the MinHash
    * pipeline's 100 TB input shape: per-doc state is bounded by doc
    * length, and nothing global exists until the band-bucket groupBy.
    *
    * Docs with fewer than k tokens are DROPPED (no shingles — the
    * exploded formulation has no rows for them either). The filter
    * runs on the cheap token count BEFORE the shingle transform: an
    * after-the-fact `size(tids) > 0` is predicate-pushed through the
    * projection and re-evaluates the whole hash pipeline per row
    * (measured 12× slower). */
  def shingleIdSets(docs: DataFrame, k: Int,
      keep: Seq[String] = Nil): DataFrame = {
    require(k >= 2 && k <= 8, s"shingle size $k out of range")
    val terms = (0 until k).map(j => s"element_at(ws, i + $j)")
      .mkString(", ")
    docs
      .select(col("doc_id") +: keep.map(col) :+
        split(col("text"), " ").as("ws"): _*)
      .where(size(col("ws")) >= k)
      .select(col("doc_id") +: keep.map(col) :+ expr(
        s"""array_distinct(transform(sequence(1, size(ws) - ${k - 1}),
           |  i -> poly_hash31(concat_ws(' ', $terms))))""".stripMargin)
        .as("tids"): _*)
  }

  /** Corpus with planted near-duplicates: every doc_id % every`th doc
    * is re-emitted at doc_id + 1000000 with its first `dropWords` words
    * removed. Used to make near-dup detection results non-trivial on
    * the all-distinct synthetic corpus (and exercised the same way by
    * the oracle). */
  def withPlantedNearDups(docs: DataFrame, every: Int, dropWords: Int): DataFrame =
    docs.select(col("doc_id"), col("text"))
      .unionByName(
        docs.where(col("doc_id") % every === 0)
          .select(
            (col("doc_id") + 1000000L).as("doc_id"),
            array_join(
              expr(s"slice(split(text, ' '), ${dropWords + 1}, size(split(text, ' ')))"),
              " ").as("text")))

  /** Corpus with planted EXACT duplicates at doc_id + 2000000. */
  def withPlantedExactDups(docs: DataFrame, every: Int): DataFrame =
    docs.select(col("doc_id"), col("text"))
      .unionByName(
        docs.where(col("doc_id") % every === 0)
          .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
}
