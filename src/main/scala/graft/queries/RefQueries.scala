package graft.queries

import graft.etl.Reports
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The reference's headline artifact — the three fraud reports of
  * main.py:397-467 — as a driver-oracle query over the frozen three-day
  * replay warehouse (`src/test/resources/refwh`, generated by
  * `graft.RefWarehouseDump` from the reference's own data files).
  *
  * FAITHFUL mode: report №1 keeps the `WHERE 1=1 or …` tautology
  * (main.py:412-414 — every transaction flagged), №1/№2 join cards on
  * `trim`med numbers while №3 strips ALL spaces (main.py:407 vs 458), fio
  * null-propagates like PG `||`, `report_dt` is the day-truncation
  * roundtrip of `trans_date`. The DuckDB oracle reimplements the same
  * SQL semantics over the same parquet — the reference's report logic
  * under the hard hash gate.
  */
object RefQueries {
  type Q = (SparkSession, String) => DataFrame

  /** Frozen replay warehouse. Absolute (the driver runs DuckDB from its
    * own cwd), overridable for checkouts elsewhere via the
    * `graft.refwh.dir` system property or `GRAFT_REFWH_DIR` env var.
    */
  private val whDir = sys.props.get("graft.refwh.dir")
    .orElse(sys.env.get("GRAFT_REFWH_DIR"))
    .getOrElse("/root/repo/src/test/resources/refwh")

  private def t(s: SparkSession, name: String): DataFrame =
    s.read.parquet(s"$whDir/$name")

  val queries: Map[String, Q] = Map(
    "q_rep_fraud" -> ((s, _) => {
      // the nightly run's own report builder, so the oracle gates the
      // plan `Pipeline.run` appends
      Reports.fraudReports(t(s, "fact_transactions"), t(s, "dim_cards"),
          t(s, "dim_accounts"), t(s, "dim_clients"), t(s, "dim_terminals"),
          t(s, "fact_blacklist"), Reports.Faithful)
        .orderBy("event_type", "event_dt", "passport")
    }),

    // CORRECTED mode for report №1: the documented intent (readme.md:23)
    // instead of the 1=1 tautology — expired passport (non-null
    // valid_to < trans_date) OR blacklisted passport
    "q_rep_fraud_corrected" -> ((s, _) =>
      Reports.fraudExpiredPassport(t(s, "fact_transactions"), t(s, "dim_cards"),
          t(s, "dim_accounts"), t(s, "dim_clients"), t(s, "fact_blacklist"),
          Reports.Corrected)
        .orderBy("event_dt", "passport")))

  val oracles: Map[String, String] = Map(
    "q_rep_fraud" ->
      s"""WITH ftx AS (SELECT * FROM read_parquet('$whDir/fact_transactions/*.parquet')),
         |cardsd AS (SELECT * FROM read_parquet('$whDir/dim_cards/*.parquet')),
         |accsd AS (SELECT * FROM read_parquet('$whDir/dim_accounts/*.parquet')),
         |clid AS (SELECT * FROM read_parquet('$whDir/dim_clients/*.parquet')),
         |termd AS (SELECT * FROM read_parquet('$whDir/dim_terminals/*.parquet')),
         |rep1 AS (
         |  SELECT ft.trans_date AS event_dt, dcl.passport_num AS passport,
         |    dcl.last_name || ' ' || dcl.first_name || ' ' || dcl.patronymic AS fio,
         |    dcl.phone, '1' AS event_type,
         |    CAST(CAST(ft.trans_date AS DATE) AS TIMESTAMP) AS report_dt
         |  FROM ftx ft
         |  LEFT JOIN cardsd dc ON trim(ft.card_num) = trim(dc.card_num)
         |  LEFT JOIN accsd da ON dc.account_num = da.account_num
         |  LEFT JOIN clid dcl ON da.client = dcl.client_id),
         |rep2 AS (
         |  SELECT ft.trans_date AS event_dt, dcl.passport_num AS passport,
         |    dcl.last_name || ' ' || dcl.first_name || ' ' || dcl.patronymic AS fio,
         |    dcl.phone, '2' AS event_type,
         |    CAST(CAST(ft.trans_date AS DATE) AS TIMESTAMP) AS report_dt
         |  FROM ftx ft
         |  LEFT JOIN cardsd dc ON trim(ft.card_num) = trim(dc.card_num)
         |  LEFT JOIN accsd da ON dc.account_num = da.account_num
         |  LEFT JOIN clid dcl ON da.client = dcl.client_id
         |  WHERE da.valid_to < ft.trans_date),
         |pre AS (
         |  SELECT ft.trans_id, dt.terminal_city,
         |    lag(dt.terminal_city) OVER w AS prev_city,
         |    (epoch(ft.trans_date) - lag(epoch(ft.trans_date)) OVER w) / 3600.0 AS hrs
         |  FROM ftx ft
         |  LEFT JOIN cardsd dc ON trim(ft.card_num) = trim(dc.card_num)
         |  LEFT JOIN termd dt ON ft.terminal = dt.terminal_id
         |  WINDOW w AS (PARTITION BY dc.card_num ORDER BY ft.trans_date, ft.trans_id)),
         |flagged AS (
         |  SELECT trans_id FROM pre
         |  WHERE terminal_city <> prev_city AND hrs < 1.0),
         |rep3 AS (
         |  SELECT ft.trans_date AS event_dt, dcl.passport_num AS passport,
         |    dcl.last_name || ' ' || dcl.first_name || ' ' || dcl.patronymic AS fio,
         |    dcl.phone, '3' AS event_type,
         |    CAST(CAST(ft.trans_date AS DATE) AS TIMESTAMP) AS report_dt
         |  FROM ftx ft
         |  LEFT JOIN cardsd dc
         |    ON replace(ft.card_num, ' ', '') = replace(dc.card_num, ' ', '')
         |  LEFT JOIN accsd da ON dc.account_num = da.account_num
         |  LEFT JOIN clid dcl ON da.client = dcl.client_id
         |  WHERE ft.trans_id IN (SELECT trans_id FROM flagged))
         |SELECT * FROM rep1
         |UNION ALL SELECT * FROM rep2
         |UNION ALL SELECT * FROM rep3
         |ORDER BY event_type, event_dt, passport""".stripMargin,

    "q_rep_fraud_corrected" ->
      s"""WITH ftx AS (SELECT * FROM read_parquet('$whDir/fact_transactions/*.parquet')),
         |cardsd AS (SELECT * FROM read_parquet('$whDir/dim_cards/*.parquet')),
         |accsd AS (SELECT * FROM read_parquet('$whDir/dim_accounts/*.parquet')),
         |clid AS (SELECT * FROM read_parquet('$whDir/dim_clients/*.parquet')),
         |bl AS (SELECT DISTINCT passport_num FROM
         |  read_parquet('$whDir/fact_blacklist/*.parquet') WHERE passport_num IS NOT NULL)
         |SELECT ft.trans_date AS event_dt, dcl.passport_num AS passport,
         |  dcl.last_name || ' ' || dcl.first_name || ' ' || dcl.patronymic AS fio,
         |  dcl.phone, '1' AS event_type,
         |  CAST(CAST(ft.trans_date AS DATE) AS TIMESTAMP) AS report_dt
         |FROM ftx ft
         |LEFT JOIN cardsd dc ON trim(ft.card_num) = trim(dc.card_num)
         |LEFT JOIN accsd da ON dc.account_num = da.account_num
         |LEFT JOIN clid dcl ON da.client = dcl.client_id
         |WHERE (dcl.passport_valid_to < ft.trans_date
         |       AND dcl.passport_valid_to IS NOT NULL)
         |   OR dcl.passport_num IN (SELECT passport_num FROM bl)
         |ORDER BY event_dt, passport""".stripMargin)
}
