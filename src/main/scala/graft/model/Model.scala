package graft.model

import org.apache.spark.sql.types._

/* Data model for the HDB++-style archive engine.
  *
  * Mirrors the reference's data model (see SURVEY.md §1):
  *  - an *attribute* is a named scalar time-series identified by a 5-part
  *    path `cs_name/domain/family/member/name` (reference `hdbpp.py:90-92`);
  *  - point rows are `(att_conf_id, period, data_time, data_time_us,
  *    value_r, error_desc)` (reference `hdbpp.py:196-208`);
  *  - the catalog maps attribute names to `(att_conf_id, data_type)`
  *    (reference `hdbpp.py:161-164`).
  *
  * Divergences (deliberate, documented): Spark `TimestampType` is already
  * µs-precision so a single `data_time` column suffices; `data_time_us` is
  * retained only for parity of the derived `t` epoch-µs column. Periods are
  * UTC dates (the reference mixes local dates with UTC timestamps, see
  * SURVEY.md §7.5.3).
  */

/** Catalog row for name search. Reference `hdbpp.py:154-157`. */
final case class AttName(
    cs_name: String,
    domain: String,
    family: String,
    member: String,
    name: String)

/** 5-part attribute path codec. Reference `hdbpp.py:90-92`,
  * client regex `js/utils.js:40-44`. */
object AttributePath {
  /** "cs/domain/family/member/name" → (cs, "domain/family/member/name")
    * with the reference's `rsplit("/", 4)` semantics (`hdbpp.py:90-92`):
    * the LAST four '/'-separated parts are the attribute name, and
    * everything before them — which may itself contain '/', e.g. a
    * "tango://host:10000" cs — is the control system. A first-'/'
    * split (the old behavior) mis-parses exactly those cs forms. */
  def splitCs(path: String): (String, String) = {
    var i = path.length
    var cuts = 0
    while (cuts < 4 && i > 0) {
      i = path.lastIndexOf('/', i - 1)
      if (i < 0) i = 0 else cuts += 1
    }
    // cuts == 4 with i == 0 means the 4th slash IS the first char:
    // Python's rsplit("/", 4) yields cs = '' there (a valid, if
    // unusual, empty-cs path) — rejecting it diverged from the cited
    // contract
    require(cuts == 4, s"not a full attribute path: $path")
    (path.substring(0, i), path.substring(i + 1))
  }

  /** The same rsplit-4 as an anchored regex (greedy head group =
    * everything up to the last four slashes) — shared by the column
    * split (q42) and its DuckDB oracle; greedy `.*` behaves
    * identically in Java regex and RE2. */
  val Rsplit4Re: String = "^(.*)/([^/]*)/([^/]*)/([^/]*)/([^/]*)$"

  /** "domain/family/member/name" → 4 parts (reference hdbpp.py:90-92). */
  def splitName(attName: String): AttName = {
    // limit -1 keeps trailing empties: "d/f/m/" is four parts with an
    // empty name, exactly what [[Rsplit4Re]] (and Python split) accept
    // — Java's default split would drop it and reject asymmetrically
    val parts = attName.split("/", -1)
    require(parts.length == 4, s"attribute name must have 4 parts: $attName")
    AttName("", parts(0), parts(1), parts(2), parts(3))
  }

  def format(cs: String, d: String, f: String, m: String, n: String): String =
    s"$cs/$d/$f/$m/$n"
}

/** Tango scalar type → Spark type mapping for the 26 data tables
  * (reference `hdbpp.py:55-82`: att_scalar_<type>_{ro,rw}). */
object TangoTypes {
  val scalarTypes: Map[String, DataType] = Map(
    "devboolean" -> BooleanType,
    "devdouble" -> DoubleType,
    "devencoded" -> BinaryType,
    "devfloat" -> FloatType,
    "devlong64" -> LongType,
    "devlong" -> IntegerType,
    "devshort" -> ShortType,
    "devstate" -> IntegerType, // enum-like
    "devstring" -> StringType,
    "devuchar" -> ShortType, // unsigned byte widened
    "devulong64" -> LongType, // Spark has no unsigned; widen semantics
    "devulong" -> LongType,
    "devushort" -> IntegerType)

  /** All 26 data-table names (13 types × ro/rw), as in hdbpp.py:55-82. */
  val dataTables: Seq[String] =
    for {
      t <- scalarTypes.keys.toSeq.sorted
      rw <- Seq("ro", "rw")
    } yield s"att_scalar_${t}_$rw"

  /** Schema of a data table for a given scalar type. */
  def pointSchema(valueType: DataType): StructType = StructType(Seq(
    StructField("att_conf_id", IntegerType, nullable = false),
    StructField("period", StringType, nullable = false),
    StructField("data_time", TimestampType, nullable = false),
    StructField("data_time_us", IntegerType, nullable = true),
    StructField("value_r", valueType, nullable = true),
    StructField("error_desc", StringType, nullable = true)))
}
