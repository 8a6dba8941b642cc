"""Output checks of a benchmark run.

Nightly workloads, over the exported final warehouse: every final dim's
keys and compare columns equal the generator's last snapshot, each fact
id is present exactly once, every drop file was archived (checked by the
harness), and the rows the final night appended to rep_fraud equal an
independent DuckDB recomputation of the three fraud reports.

Query mix: each query's result against its `SparkEntry.oracleSql` DuckDB
result, canonicalized as the repository's verify script does (sorted
columns, floats by repr, dates rendered as timestamps, rows sorted,
md5 of the CSV). Oracle hashes are cached per (input digest, SQL).
"""
import collections
import datetime
import glob
import hashlib
import json
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# The three reports of main.py:397-467 written directly in DuckDB SQL:
# fio null-propagates (||), №1/№2 join cards on trim(), №3 on all spaces
# removed, report_dt is the day of trans_date, №3 flags a city change
# within one hour of the card's previous operation.
REPORTS_SQL = """
WITH chain AS (
  SELECT ft.trans_id, ft.trans_date, cl.passport_num, cl.passport_valid_to,
         cl.last_name || ' ' || cl.first_name || ' ' || cl.patronymic AS fio,
         cl.phone, ac.valid_to
  FROM fact_transactions ft
  LEFT JOIN dim_cards ca ON trim(ft.card_num) = trim(ca.card_num)
  LEFT JOIN dim_accounts ac ON ca.account_num = ac.account_num
  LEFT JOIN dim_clients cl ON ac.client = cl.client_id),
chain3 AS (
  SELECT ft.trans_id, ft.trans_date, cl.passport_num,
         cl.last_name || ' ' || cl.first_name || ' ' || cl.patronymic AS fio, cl.phone
  FROM fact_transactions ft
  LEFT JOIN dim_cards ca ON replace(ft.card_num, ' ', '') = replace(ca.card_num, ' ', '')
  LEFT JOIN dim_accounts ac ON ca.account_num = ac.account_num
  LEFT JOIN dim_clients cl ON ac.client = cl.client_id),
black AS (SELECT DISTINCT passport_num FROM fact_blacklist WHERE passport_num IS NOT NULL),
hops AS (
  SELECT trans_id FROM (
    SELECT ft.trans_id, t.terminal_city AS city,
           lag(t.terminal_city) OVER w AS prev_city,
           (epoch(ft.trans_date) - lag(epoch(ft.trans_date)) OVER w) / 3600.0 AS hours
    FROM fact_transactions ft
    LEFT JOIN dim_cards ca ON trim(ft.card_num) = trim(ca.card_num)
    LEFT JOIN dim_terminals t ON ft.terminal = t.terminal_id
    WINDOW w AS (PARTITION BY ca.card_num ORDER BY ft.trans_date, ft.trans_id))
  WHERE city <> prev_city AND hours < 1.0)
SELECT trans_date AS event_dt, passport_num AS passport, fio, phone, '1' AS event_type,
       CAST(CAST(trans_date AS DATE) AS TIMESTAMP) AS report_dt
FROM chain
WHERE {report1_filter}
UNION ALL
SELECT trans_date, passport_num, fio, phone, '2', CAST(CAST(trans_date AS DATE) AS TIMESTAMP)
FROM chain WHERE valid_to < trans_date
UNION ALL
SELECT trans_date, passport_num, fio, phone, '3', CAST(CAST(trans_date AS DATE) AS TIMESTAMP)
FROM chain3 WHERE trans_id IN (SELECT trans_id FROM hops)
"""
REPORT1 = {
    "faithful": "1 = 1",  # the reference's `WHERE 1=1 or ...` tautology
    "corrected": "(passport_valid_to < trans_date AND passport_valid_to IS NOT NULL) "
                 "OR passport_num IN (SELECT passport_num FROM black)",
}


def reports_check(export, mode):
    con = duckdb.connect()
    for t in ("fact_transactions", "dim_cards", "dim_accounts", "dim_clients",
              "dim_terminals", "fact_blacklist", "rep_last"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{export}/{t}/*.parquet')")
    con.execute(f"CREATE VIEW expected AS {REPORTS_SQL.format(report1_filter=REPORT1[mode])}")
    cols = "event_dt, passport, fio, phone, event_type, report_dt"
    missing = con.execute(f"SELECT count(*) FROM (SELECT {cols} FROM expected "
                          f"EXCEPT ALL SELECT {cols} FROM rep_last)").fetchone()[0]
    extra = con.execute(f"SELECT count(*) FROM (SELECT {cols} FROM rep_last "
                        f"EXCEPT ALL SELECT {cols} FROM expected)").fetchone()[0]
    types = con.execute("SELECT event_type, count(*) FROM rep_last GROUP BY 1 ORDER BY 1").fetchall()
    ok = missing == 0 and extra == 0 and len(types) == 3
    return {"name": "rep_fraud_oracle", "ok": ok,
            "detail": f"missing={missing} extra={extra} per_type={dict(types)}"}


def warehouse_checks(export, expected):
    con = duckdb.connect()
    out = []
    for dim, exp in sorted(expected["dims"].items()):
        cols = ", ".join(f"CAST({c} AS VARCHAR)" for c in exp["cols"])
        got = collections.Counter(con.execute(
            f"SELECT {cols} FROM read_parquet('{export}/{dim}/*.parquet')").fetchall())
        want = collections.Counter(tuple(r) for r in exp["rows"])
        missing, extra = sum((want - got).values()), sum((got - want).values())
        out.append({"name": f"dim_image.{dim}", "ok": missing == 0 and extra == 0,
                    "detail": f"rows={len(exp['rows'])} missing={missing} extra={extra}"})
    n, distinct = con.execute("SELECT count(*), count(DISTINCT trans_id) FROM "
                              f"read_parquet('{export}/fact_transactions/*.parquet')").fetchone()
    want = expected["trans_ids"]
    out.append({"name": "fact_ids_once", "ok": n == want and distinct == want,
                "detail": f"rows={n} distinct={distinct} expected={want}"})
    out.append(dict(expected["drop_archived"], name="drop_archived"))
    return out


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)

    def cell(v):
        if v is None or (isinstance(v, float) and v != v):
            return "<null>"
        if isinstance(v, float):
            return repr(v)
        if isinstance(v, datetime.date) and not isinstance(v, datetime.datetime):
            return f"{v} 00:00:00"
        return str(v)
    s = df.apply(lambda c: c.map(cell)) if len(df.columns) else df
    return s.sort_values(by=list(s.columns)).reset_index(drop=True) if len(s.columns) else s


def _hash(df):
    c = _canon(df)
    return [list(c.columns), len(c), hashlib.md5(c.to_csv(index=False).encode()).hexdigest()]


def query_checks(raw, cache_dir):
    res = raw["result"]
    data_dir = sorted(glob.glob(os.path.join(os.path.dirname(res["results"]), "data*")))[-1]
    os.makedirs(cache_dir, exist_ok=True)
    con = None
    failed_names = set(res["failures"])
    out = []
    for name, sql in sorted(res["oracles"].items()):
        if name in failed_names:
            out.append({"name": name, "ok": False, "detail": "query threw"})
            continue
        files = glob.glob(os.path.join(res["results"], name, "*.parquet"))
        if sql is None or not files:
            out.append({"name": name, "ok": False, "detail": "no oracle or no output"})
            continue
        key = hashlib.sha256((raw["gen"]["digest"] + sql).encode()).hexdigest()[:24]
        cached = os.path.join(cache_dir, key + ".json")
        if os.path.exists(cached):
            exp = json.load(open(cached))
        else:
            if con is None:
                con = duckdb.connect()
                con.execute("SET threads=2")
                for t in TABLES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
            exp = _hash(con.execute(sql).df())
            json.dump(exp, open(cached, "w"))
        got = _hash(pd.read_parquet(os.path.join(res["results"], name), engine="pyarrow"))
        ok = got == exp
        out.append({"name": name, "ok": ok,
                    "detail": f"rows={got[1]}" if ok else f"got={got} expected={exp}"})
    return out


def run(workload, raw):
    res = raw["result"]
    if workload == "query_mix":
        details = query_checks(raw, os.path.join(os.path.dirname(os.path.dirname(res["results"])),
                                                 "oracle-cache"))
        bad = sum(1 for d in details if not d["ok"])
        return {"correct": bad == 0, "attempted": len(details), "failed": bad,
                "details": details}
    try:
        details = warehouse_checks(res["export"], res["expected"])
        details.append(reports_check(res["export"], res["mode"]))
    except Exception as e:  # noqa: BLE001 - a broken export is a failed check
        details = [{"name": "export", "ok": False, "detail": str(e)}]
    ok = all(d["ok"] for d in details)
    return {"correct": ok, "attempted": 1, "failed": 0 if ok else 1, "details": details}
