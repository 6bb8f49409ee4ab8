package graft.queries

import graft.Tables._
import graft.expr.OcsfColumns
import org.apache.spark.sql.functions._

/** Scalar-function surface (SURVEY.md §2.6, F1–F17) exercised over the
  * synthetic tables: SHA-256 UIDs, name normalization, newline-joined
  * hash inputs, path basename, calendar parts, null-tolerant concat.
  * The Column implementations live in [[graft.expr.OcsfColumns]] — the
  * same library the OCSF conversion pipeline uses.
  */
object Scalars {

  /** F3: the reference's name-normalization slug (lowercase, collapse
    * non-alphanumerics to '-', strip edge dashes). */
  private val slugNormalize = Q(
    "str_slug_normalize",
    """SELECT p_partkey,
      |  regexp_replace(regexp_replace(lower(p_type), '[^a-z0-9]+', '-', 'g'),
      |                 '^-+|-+$', '', 'g') AS slug
      |FROM part""".stripMargin,
  ) { (s, d) => part(s, d).select(col("p_partkey"), OcsfColumns.slug(col("p_type")).as("slug")) }

  /** F1+F2+F4: boann-style UID = prefix + normalized tool + sha256 of a
    * newline-joined component list (null-safe via coalesce-to-empty). */
  private val shaUid = Q(
    "str_sha_uid",
    """SELECT s_suppkey,
      |  'boann:sast:' || regexp_replace(regexp_replace(lower(s_name), '[^a-z0-9]+', '-', 'g'),
      |                                  '^-+|-+$', '', 'g')
      |   || ':hash:' || sha256(s_name || chr(10) || n_name) AS finding_uid
      |FROM supplier JOIN nation ON s_nationkey = n_nationkey""".stripMargin,
  ) { (s, d) =>
    supplier(s, d)
      .join(broadcast(nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .select(
        col("s_suppkey"),
        OcsfColumns
          .findingUid("sast", OcsfColumns.slug(col("s_name")), "hash",
            OcsfColumns.sha256Hex(Seq(col("s_name"), col("n_name"))))
          .as("finding_uid"),
      )
  }

  /** F8: path basename via regex (split-last-element equivalent). */
  private val basename = Q(
    "str_basename",
    """SELECT doc_id,
      |  regexp_extract('data/' || source || '/doc_' || CAST(doc_id AS VARCHAR) || '.txt',
      |                 '[^/]+$') AS file_name
      |FROM documents""".stripMargin,
  ) { (s, d) =>
    val path = concat(
      lit("data/"), col("source"), lit("/doc_"), col("doc_id").cast("string"), lit(".txt"))
    documents(s, d).select(col("doc_id"), regexp_extract(path, "[^/]+$", 0).as("file_name"))
  }

  /** F6/F7 family: calendar part extraction + grouping. */
  private val datetimeParts = Q(
    "str_datetime_parts",
    """SELECT CAST(year(o_orderdate) AS INT) AS y, CAST(month(o_orderdate) AS INT) AS m,
      |  COUNT(*) AS n
      |FROM orders GROUP BY 1, 2""".stripMargin,
  ) { (s, d) =>
    orders(s, d)
      .groupBy(year(col("o_orderdate")).as("y"), month(col("o_orderdate")).as("m"))
      .agg(count(lit(1)).as("n"))
  }

  /** F2 parity shape: concat_ws over a nullable column with an explicit
    * empty-string default (both engines' concat_ws skips NULL; the
    * reference always supplies "" defaults — coalesce reproduces it). */
  private val concatCoalesce = Q(
    "str_concat_coalesce",
    """SELECT c_custkey,
      |  concat_ws(':', c_name, coalesce(NULLIF(c_mktsegment, 'BUILDING'), '')) AS tagged
      |FROM customer""".stripMargin,
  ) { (s, d) =>
    customer(s, d)
      .select(
        col("c_custkey"),
        concat_ws(
          ":",
          col("c_name"),
          coalesce(nullif(col("c_mktsegment"), lit("BUILDING")), lit("")),
        ).as("tagged"),
      )
  }

  /** Edit distance (fuzzy string matching — the scalar complement to
    * the set-based dedup operators). */
  private val levenshteinNations = Q(
    "str_levenshtein_nations",
    """SELECT a.n_name AS a_name, b.n_name AS b_name, levenshtein(a.n_name, b.n_name) AS dist
      |FROM nation a JOIN nation b ON a.n_name < b.n_name
      |WHERE levenshtein(a.n_name, b.n_name) <= 3""".stripMargin,
  ) { (s, d) =>
    val a = nation(s, d).select(col("n_name").as("a_name"))
    val b = nation(s, d).select(col("n_name").as("b_name"))
    a.join(b, col("a_name") < col("b_name"))
      .select(col("a_name"), col("b_name"), levenshtein(col("a_name"), col("b_name")).as("dist"))
      .filter(col("dist") <= 3)
  }

  /** Transposition-aware edit distance over the same pair surface as
    * [[levenshteinNations]] — the native
    * [[graft.functions.DamerauLevenshteinExpr]] (unrestricted
    * Lowrance–Wagner, the variant DuckDB's `damerau_levenshtein`
    * implements) next to builtin `levenshtein`, so the gate also pins
    * the places the two metrics DISAGREE (adjacent swaps cost 1, not
    * 2). Pair space is |nation|² = 625 rows — the scalar is the thing
    * under test, not the join. */
  private val damerauNations = Q(
    "str_damerau_nations",
    """SELECT a.n_name AS a_name, b.n_name AS b_name,
      |  damerau_levenshtein(a.n_name, b.n_name) AS dl_dist,
      |  levenshtein(a.n_name, b.n_name) AS lev_dist
      |FROM nation a JOIN nation b ON a.n_name < b.n_name
      |WHERE damerau_levenshtein(a.n_name, b.n_name) <= 4""".stripMargin,
  ) { (s, d) =>
    val dl = graft.functions.DamerauLevenshteinExpr.damerau_levenshtein _
    val a  = nation(s, d).select(col("n_name").as("a_name"))
    val b  = nation(s, d).select(col("n_name").as("b_name"))
    a.join(b, col("a_name") < col("b_name"))
      .select(
        col("a_name"),
        col("b_name"),
        dl(col("a_name"), col("b_name")).as("dl_dist"),
        levenshtein(col("a_name"), col("b_name")).as("lev_dist"),
      )
      .filter(col("dl_dist") <= 4)
  }

  /** Jaro–Winkler similarity over the same pair surface — the native
    * [[graft.functions.JaroWinklerExpr]], bit-equal to DuckDB's
    * `jaro_winkler_similarity` on single-byte text (IEEE evaluation
    * order and the jw('','')=0 convention both replayed; verified on
    * 3000 random ASCII pairs at build time, pinned here by the
    * differential). The DOUBLE is compared exactly — no tolerance. */
  private val jaroNations = Q(
    "str_jaro_nations",
    """SELECT a.n_name AS a_name, b.n_name AS b_name,
      |  jaro_winkler_similarity(a.n_name, b.n_name) AS jw
      |FROM nation a JOIN nation b ON a.n_name < b.n_name
      |WHERE jaro_winkler_similarity(a.n_name, b.n_name) > 0.7""".stripMargin,
  ) { (s, d) =>
    val jwf = graft.functions.JaroWinklerExpr.jaro_winkler _
    val a   = nation(s, d).select(col("n_name").as("a_name"))
    val b   = nation(s, d).select(col("n_name").as("b_name"))
    a.join(b, col("a_name") < col("b_name"))
      .select(col("a_name"), col("b_name"), jwf(col("a_name"), col("b_name")).as("jw"))
      .filter(col("jw") > 0.7)
  }

  /** Calendar-day difference (order-to-ship latency histogram). */
  private val shipDelayHistogram = Q(
    "str_ship_delay_histogram",
    """SELECT date_diff('day', o_orderdate, l_shipdate) AS delay_days, COUNT(*) AS n
      |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      |GROUP BY 1""".stripMargin,
  ) { (s, d) =>
    orders(s, d)
      .join(lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
      .groupBy(datediff(col("l_shipdate"), col("o_orderdate")).as("delay_days"))
      .agg(count(lit(1)).as("n"))
  }

  /** Interval arithmetic edge cases: month addition clamps to the
    * target month's last day in both engines (2024-01-31 + 1 month =
    * 2024-02-29), day addition is calendar-exact, last_day and a
    * day-difference round-trip exercise boundary handling. */
  private val intervalShift = Q(
    "str_interval_shift",
    """SELECT o_orderkey,
      |  CAST(o_orderdate + INTERVAL 3 MONTH AS DATE) AS due_3m,
      |  CAST(o_orderdate + INTERVAL 45 DAY AS DATE) AS due_45d,
      |  last_day(o_orderdate) AS month_end,
      |  date_diff('day', o_orderdate, last_day(o_orderdate)) AS days_left
      |FROM orders""".stripMargin,
  ) { (s, d) =>
    orders(s, d).select(
      col("o_orderkey"),
      add_months(col("o_orderdate"), 3).as("due_3m"),
      date_add(col("o_orderdate"), 45).as("due_45d"),
      last_day(col("o_orderdate")).as("month_end"),
      datediff(last_day(col("o_orderdate")), col("o_orderdate")).as("days_left"),
    )
  }

  val all: Seq[Q] = Seq(
    slugNormalize, shaUid, basename, datetimeParts, concatCoalesce,
    levenshteinNations, damerauNations, jaroNations, shipDelayHistogram, intervalShift,
  )
}
