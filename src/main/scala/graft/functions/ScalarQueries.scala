package graft.functions

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scalar function surface (SURVEY.md §2.8) + the deterministic synthetic
  * data generator (S3). All temporal outputs are formatted strings so the
  * oracle compare is timestamp-representation-free; every anchor date is
  * a fixed literal (never current_date — SURVEY.md §7.3 determinism ban).
  */
object ScalarQueries {

  /** q31 — date arithmetic (F1/F4; DATEADD/DATEDIFF/GETDATE usage
    * healthcare-data-pipeline-main.py:277-286,402,468 — GETDATE is
    * replaced by the fixed anchor 1999-01-01).
    */
  val q31 = Q(
    "q31_date_arithmetic",
    (s, dir) => {
      import s.implicits._
      Tables.load(s, dir, "orders")
        .filter($"o_orderkey" < 500)
        .select(
          $"o_orderkey",
          date_format($"o_orderdate" + expr("INTERVAL 30 DAYS"), "yyyy-MM-dd")
            .as("due_date"),
          date_format(add_months($"o_orderdate", 3), "yyyy-MM-dd")
            .as("followup_month"),
          datediff(lit("1999-01-01").cast("date"), $"o_orderdate".cast("date"))
            .as("age_days"),
          (year($"o_orderdate") * 100 + month($"o_orderdate")).as("yyyymm"),
          quarter($"o_orderdate").as("qtr"),
          dayofweek($"o_orderdate").as("dow"))
        .orderBy($"o_orderkey")
    },
    Some("""SELECT o_orderkey,
      |       strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d') AS due_date,
      |       strftime(o_orderdate + INTERVAL 3 MONTH, '%Y-%m-%d') AS followup_month,
      |       CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1999-01-01') AS INT) AS age_days,
      |       CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INT) AS yyyymm,
      |       CAST(quarter(o_orderdate) AS INT) AS qtr,
      |       CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow
      |FROM orders
      |WHERE o_orderkey < 500
      |ORDER BY o_orderkey""".stripMargin),
    doc = "F1+F2+F4: date add/diff/extract with fixed anchor. " +
      "Pure per-row date codegen against a fixed anchor; key filter pushed to the scan; zero shuffles.")

  /** q32 — timestamp minute arithmetic (F3; TIMESTAMPDIFF(MINUTE,...)
    * healthcare-sql-analytics.sql:680-683). Lead time order→ship in
    * minutes, aggregated with exact integer sums.
    */
  val q32 = Q(
    "q32_minute_diffs",
    (s, dir) => {
      import s.implicits._
      val li = Tables.load(s, dir, "lineitem")
      val o = Tables.load(s, dir, "orders")
      li.join(o, $"l_orderkey" === $"o_orderkey")
        .withColumn("lead_minutes",
          ((unix_timestamp($"l_shipdate") - unix_timestamp($"o_orderdate")) / 60)
            .cast("long"))
        .groupBy($"l_linestatus")
        .agg(
          count(lit(1)).as("n"),
          (sum($"lead_minutes").cast("double") / count(lit(1)))
            .as("avg_lead_minutes"),
          max($"lead_minutes").as("max_lead_minutes"))
        .orderBy($"l_linestatus")
    },
    Some("""SELECT l_linestatus, COUNT(*) AS n,
      |       CAST(SUM(CAST(date_diff('minute', o_orderdate, l_shipdate) AS BIGINT)) AS DOUBLE)
      |         / COUNT(*) AS avg_lead_minutes,
      |       CAST(MAX(date_diff('minute', o_orderdate, l_shipdate)) AS BIGINT) AS max_lead_minutes
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY l_linestatus
      |ORDER BY l_linestatus""".stripMargin),
    doc = "F3: minute-granularity timestamp diffs. " +
      "Natural-key lineitem-orders join, then integer-exact minute diffs aggregated map-side — one join shuffle total.")

  /** q33 — string compose/format + regex (F8/F9; CONCAT report text
    * healthcare-sql-analytics.sql:681-682; regex masking patterns
    * healthcare-data-pipeline-main.py:184-188). regexp_replace uses
    * the 'g' flag on the DuckDB side to match Spark's replace-all.
    */
  val q33 = Q(
    "q33_string_compose",
    (s, dir) => {
      import s.implicits._
      Tables.load(s, dir, "customer")
        .filter($"c_custkey" < 80)
        .select(
          $"c_custkey",
          concat($"c_name", lit(" ["), lower($"c_mktsegment"), lit("]")).as("display"),
          regexp_replace($"c_name", "[0-9]", "#").as("name_masked"),
          upper(substring($"c_name", 1, 8)).as("prefix"),
          length($"c_name").as("name_len"))
        .orderBy($"c_custkey")
    },
    Some("""SELECT c_custkey,
      |       c_name || ' [' || lower(c_mktsegment) || ']' AS display,
      |       regexp_replace(c_name, '[0-9]', '#', 'g') AS name_masked,
      |       upper(substr(c_name, 1, 8)) AS prefix,
      |       CAST(length(c_name) AS INT) AS name_len
      |FROM customer
      |WHERE c_custkey < 80
      |ORDER BY c_custkey""".stripMargin),
    doc = "F8+F9: concat/case/substr + replace-all regex. " +
      "concat/format/regexp are whole-stage-codegen per-row ops; key filter in PushedFilters; no shuffle.")

  /** q34 — symmetric-encryption round-trip (F11; Fernet encrypt/decrypt
    * of clinical notes healthcare-data-pipeline-main.py:44-50,626-642).
    * aes_encrypt/aes_decrypt built-ins in ECB mode (deterministic — GCM
    * draws a random IV which would break verification). The oracle can
    * only assert the invariant: decrypt∘encrypt = identity on every row.
    */
  val q34 = Q(
    "q34_crypto_roundtrip",
    (s, dir) => {
      import s.implicits._
      val key = lit("0123456789abcdef") // 16-byte AES-128 key
      Tables.load(s, dir, "customer")
        .withColumn("ct", expr("aes_encrypt(c_name, '0123456789abcdef', 'ECB')"))
        .withColumn("rt", expr("cast(aes_decrypt(ct, '0123456789abcdef', 'ECB') as string)"))
        .groupBy($"c_mktsegment")
        .agg(
          count(lit(1)).as("n"),
          sum(when($"rt" === $"c_name", 1L).otherwise(0L)).as("n_roundtrip_ok"))
        .orderBy($"c_mktsegment")
    },
    Some("""SELECT c_mktsegment, COUNT(*) AS n, COUNT(*) AS n_roundtrip_ok
      |FROM customer
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin),
    doc = "F11: AES encrypt/decrypt round-trip invariant. " +
      "aes_encrypt/decrypt are codegen'd builtins running where the data lives; the roundtrip invariant is verified distributed (no key or plaintext movement).")

  // --- q35: deterministic synthetic patient generator (S3) -------------

  // Deterministic randomness shared with the pipeline generator — see
  // DetRand for the partition-independence rationale.
  import DetRand.{u, uSql, poisson3, poisson3Sql}

  /** q35 — seeded synthetic data generator (S3;
    * healthcare-data-pipeline-main.py:548-604: categorical p=[...]
    * gender, Poisson(3) LOS, Gamma(2, 2000) charges). Gamma(2,θ) is the
    * sum of two Exp(θ) draws: -θ(ln u1 + ln u2) — closed-form inverse
    * CDF, no rejection loop. Scales embarrassingly: spark.range is
    * evenly partitioned and every value derives from the row id alone.
    */
  val q35 = Q(
    "q35_synthetic_patients",
    (s, dir) => {
      import s.implicits._
      val n = 1000
      s.range(1, n + 1).toDF("patient_id")
        .withColumn("gender",
          when(u($"patient_id", 1) < 0.49, "M")
            .when(u($"patient_id", 1) < 0.98, "F")
            .otherwise("O"))
        .withColumn("length_of_stay", poisson3(u($"patient_id", 2)).cast("int"))
        .withColumn("total_charges",
          round(lit(-2000.0) * (log(u($"patient_id", 3)) + log(u($"patient_id", 4))), 2))
        .orderBy($"patient_id")
    },
    Some(s"""SELECT patient_id,
      |       CASE WHEN ${uSql("patient_id", 1)} < 0.49 THEN 'M'
      |            WHEN ${uSql("patient_id", 1)} < 0.98 THEN 'F'
      |            ELSE 'O' END AS gender,
      |       CAST(${poisson3Sql(uSql("patient_id", 2))} AS INT) AS length_of_stay,
      |       ROUND(-2000.0 * (ln(${uSql("patient_id", 3)}) + ln(${uSql("patient_id", 4)})), 2) AS total_charges
      |FROM (SELECT UNNEST(generate_series(1, 1000)) AS patient_id)
      |ORDER BY patient_id""".stripMargin),
    doc = "S3: deterministic hash-based synthetic generator (partition-independent). " +
      "spark.range is evenly partitioned and every synthetic value is a pure function of the row id — embarrassingly parallel, no RNG state, no shuffle before the report aggregate.")

  /** q67 — the one-pass typed-Aggregator data-quality profile
    * ([[QualityAggregator]]; §2.9 UDAF surface). Two jobs total: a
    * scalar IQR-bounds fetch on the profile sample, then ONE scan of
    * the audited table computing completeness + validity together —
    * q26 computes identical numbers from composed built-ins in two
    * full passes. Same oracle formulas.
    */
  val q67 = Q(
    "q67_quality_onepass",
    (s, dir) => {
      import s.implicits._
      val li = Tables.load(s, dir, "lineitem")
      val b = li.agg(
        expr("percentile(l_quantity, 0.25)").as("q1"),
        expr("percentile(l_quantity, 0.75)").as("q3")).first()
      val (q1, q3) = (b.getDouble(0), b.getDouble(1))
      val agg = new QualityAggregator(
        q1 - 1.5 * (q3 - q1), q3 + 1.5 * (q3 - q1))
      li.select($"l_quantity".as("qty"), $"l_discount".as("disc"),
                $"l_tax".as("tax"))
        .as[QualityIn]
        .select(agg.toColumn)
        .toDF()
        .select($"n_rows", $"completeness", $"validity", $"overall_quality")
    },
    Some("""WITH agg AS (
      |  SELECT COUNT(*) AS n_rows,
      |         COUNT(NULLIF(l_discount, 0.0)) AS disc_filled,
      |         COUNT(NULLIF(l_tax, 0.0)) AS tax_filled,
      |         COUNT(l_quantity) AS qty_filled,
      |         CAST(quantile_cont(l_quantity, 0.25) AS DOUBLE) AS q1,
      |         CAST(quantile_cont(l_quantity, 0.75) AS DOUBLE) AS q3
      |  FROM lineitem),
      |bounds AS (SELECT *, q1 - 1.5*(q3-q1) AS lo, q3 + 1.5*(q3-q1) AS hi FROM agg),
      |valid AS (
      |  SELECT CAST(COUNT(*) FILTER (WHERE l_quantity BETWEEN lo AND hi) AS BIGINT)
      |           AS qty_valid,
      |         MIN(n_rows) AS n_rows, MIN(disc_filled) AS disc_filled,
      |         MIN(tax_filled) AS tax_filled, MIN(qty_filled) AS qty_filled
      |  FROM lineitem CROSS JOIN bounds),
      |m AS (
      |  SELECT n_rows,
      |         (disc_filled + tax_filled + qty_filled) * 1.0 / (n_rows * 3) AS completeness,
      |         qty_valid * 1.0 / n_rows AS validity
      |  FROM valid)
      |SELECT n_rows, completeness, validity,
      |       (completeness + validity) / 2.0 AS overall_quality
      |FROM m""".stripMargin),
    doc = "A13/§2.9: one-pass typed Aggregator quality profile (UDAF surface). " +
      "Custom typed Aggregator computes every quality metric in ONE pass with combinable partial buffers — the UDAF twin of q26's composed built-ins.")

  /** q81 — F11 completed to token-exact framing: every customer name
    * encrypts to a spec-shaped [[Fernet]] token (version byte, embedded
    * timestamp, HMAC) and round-trips through authenticated decryption.
    * The oracle is the same trivially-true-count shape as q34: the
    * invariant lives Spark-side, the oracle pins the group sizes.
    */
  val q81 = Q(
    "q81_fernet_roundtrip",
    (s, dir) => {
      import s.implicits._
      Fernet.register(s)
      // 32-byte key, base64url — fixed so runs are reproducible
      val key = java.util.Base64.getUrlEncoder.encodeToString(
        (0 until 32).map(_.toByte).toArray)
      Tables.load(s, dir, "customer")
        .withColumn("tok",
          expr(s"fernet_encrypt(c_name, '$key', 1700000000L)"))
        .withColumn("rt", expr(s"fernet_decrypt(tok, '$key')"))
        .groupBy($"c_mktsegment")
        .agg(
          count(lit(1)).as("n"),
          sum(when($"rt" === $"c_name" &&
                   substring($"tok", 1, 4) === "gAAA", 1L)
            .otherwise(0L)).as("n_roundtrip_ok"))
        .orderBy($"c_mktsegment")
    },
    Some("""SELECT c_mktsegment, COUNT(*) AS n, COUNT(*) AS n_roundtrip_ok
      |FROM customer
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin),
    doc = "F11: spec-exact Fernet token framing round-trip invariant. " +
      "Token-exact Fernet with a keyed-PRF IV — per-row codegen, deterministic tokens, roundtrip verified distributed; no key material leaves the executors.")

  val all: Seq[Q] = Seq(q31, q32, q33, q34, q35, q67, q81)
}
