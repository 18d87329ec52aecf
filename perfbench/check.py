"""Correctness of a run's cold-pass outputs, checked against DuckDB.

Query results must equal DuckDB running the query's `SparkEntry.oracleSql`
over the same generated tables: same column names, same rows in the same
order, the same value kinds (integer vs float) and bit-equal floats. The ETL
run must keep one row per distinct `cicid`, pass every `Quality` verdict, and
produce the two reports DuckDB computes from the generated CSVs.
"""
import datetime
import decimal
import json
import math
import os

import duckdb

import gen


def outputs(workload, run_dir, data, res):
    """Map each step whose output is wrong to the reason."""
    con = duckdb.connect()
    if workload == "etl_i94":
        return _etl(con, run_dir, data)
    for t in gen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    wrong = {}
    for step in res["passes"][0]["steps"]:
        name = step["name"]
        sql = res["oracle_sql"].get(name)
        got = _load(run_dir, name)
        if sql is None:
            wrong[name] = "no oracle SQL"
        elif got is not None:
            reason = _compare(con.execute(sql), got)
            if reason:
                wrong[name] = reason
        elif step["error"] is None:
            wrong[name] = "result not saved"
    return wrong


def _etl(con, run_dir, data):
    wrong = {}
    i94 = f"read_csv('{data}/i94.csv', header=true, all_varchar=true)"
    states = f"read_csv('{data}/states.csv', header=true, all_varchar=true)"
    ports = f"read_csv('{data}/ports.csv', header=true, all_varchar=true)"
    demo = f"read_csv('{data}/demographics.csv', delim=';', header=true)"
    quality = _load(run_dir, "quality")
    if quality is None:
        wrong["etl.quality"] = "result not saved"
    else:
        distinct = con.execute(f"SELECT count(DISTINCT cicid) FROM {i94}").fetchone()[0]
        if quality["rows"] != distinct:
            wrong["etl.load"] = f"rows out {quality['rows']} != distinct cicid in {distinct}"
        failed = [v["check"] for v in quality["verdicts"] if not v["passed"]]
        if failed:
            wrong["etl.quality"] = "failed checks: " + ", ".join(failed)
    fact = f"(SELECT DISTINCT cicid, i94addr, i94port FROM {i94})"
    oracles = {
        "etl.report_state_demo": f"""
            WITH d AS (
              SELECT "State Code" AS state_code,
                CAST(sum("Total Population") AS BIGINT) AS total_population,
                CAST(sum("Foreign-born") AS BIGINT) AS foreign_born,
                CAST(round(avg("Median Age") * 100) AS BIGINT) AS median_age_e2
              FROM {demo} GROUP BY 1),
            a AS (
              SELECT CASE WHEN i94addr IN (SELECT code FROM {states}) THEN i94addr ELSE '99' END
                AS state_code, count(*) AS n_arrivals
              FROM {fact} GROUP BY 1)
            SELECT a.state_code, a.n_arrivals, d.total_population, d.foreign_born, d.median_age_e2
            FROM a LEFT JOIN d USING (state_code) ORDER BY a.state_code""",
        "etl.report_top_ports": f"""
            SELECT f.i94port AS port_code, p.city AS port_city, p.state AS port_state,
              count(*) AS n_arrivals
            FROM {fact} f LEFT JOIN {ports} p ON f.i94port = p.code
            GROUP BY 1, 2, 3 ORDER BY n_arrivals DESC, port_code LIMIT 10""",
    }
    for name, sql in oracles.items():
        got = _load(run_dir, name)
        reason = "result not saved" if got is None else _compare(con.execute(sql), got)
        if reason:
            wrong[name] = reason
    return wrong


def _load(run_dir, name):
    path = os.path.join(run_dir, f"check_{name}.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def _compare(cursor, got):
    cols = [d[0] for d in cursor.description]
    rows = cursor.fetchall()
    if sorted(cols) != sorted(got["columns"]):
        return f"columns {got['columns']} != oracle {cols}"
    if len(rows) != len(got["rows"]):
        return f"{len(got['rows'])} rows != oracle {len(rows)}"
    order = [got["columns"].index(c) for c in cols]
    for i, (want, have) in enumerate(zip(rows, got["rows"])):
        have = [have[j] for j in order]
        if not all(_same(w, h) for w, h in zip(want, have)):
            return f"row {i}: {have} != oracle {list(want)}"
    return None


def _same(want, have):
    """`want` is a DuckDB value; `have` the harness's JSON rendering of Spark's."""
    if want is None or (isinstance(want, float) and math.isnan(want)):
        return have is None
    if isinstance(want, bool) or isinstance(want, str):
        return want == have
    if isinstance(want, int):
        return type(have) is int and want == have
    if isinstance(want, float):
        return type(have) is float and want == have
    if isinstance(want, decimal.Decimal):
        return isinstance(have, (int, float)) and float(want) == float(have)
    if isinstance(want, datetime.datetime):
        return want.strftime("%Y-%m-%d %H:%M:%S.%f") == have
    if isinstance(want, datetime.date):
        return want.isoformat() == have
    if isinstance(want, dict):
        want = list(want.values())
    if isinstance(want, (list, tuple)):
        return isinstance(have, list) and len(want) == len(have) and all(map(_same, want, have))
    return str(want) == str(have)
