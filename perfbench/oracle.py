"""Output checks against DuckDB over the same generated tables.

Query outputs are compared with `SparkEntry.oracleSql` using the
canonicalization of graft's `tools/check.py` (`canon` and `table_sig`,
loaded from that file as it is). A query that threw, an oracle key with
no output, and a key with no oracle all fail: nothing is skipped.

`alert_run` is checked against a DuckDB twin of its rules (the Scala
side is `AlertRun` in `src/main/scala/graftbench/Workloads.scala`):
each cycle's dispatched count, and the final store's key, counter and
minimum times.
"""
import ast
import glob
import math
import os

import duckdb


def load_check_functions(root):
    """`canon` and `table_sig` from `tools/check.py`, without running
    the script around them."""
    path = os.path.join(root, "tools", "check.py")
    with open(path) as fh:
        tree = ast.parse(fh.read(), path)
    keep = [n for n in tree.body if isinstance(n, ast.FunctionDef)
            and n.name in ("canon", "table_sig")]
    if len(keep) != 2:
        raise RuntimeError(f"{path} no longer defines canon and table_sig")
    ns = {"math": math}
    exec(compile(ast.Module(body=keep, type_ignores=[]), path, "exec"), ns)
    return ns["table_sig"]


def connect(data_dir):
    con = duckdb.connect()
    con.execute(f"SET threads = {len(os.sched_getaffinity(0))}")
    for f in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(f)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{f}')")
    return con


def same_table(con, table_sig, got_sql, exp_sql):
    got = con.execute(got_sql).fetchdf()
    exp = con.execute(exp_sql).fetchdf()
    g = table_sig(got[sorted(got.columns)].values.tolist(), got.columns)
    e = table_sig(exp[sorted(exp.columns)].values.tolist(), exp.columns)
    if g == e:
        return True, f"rows={g[0]}"
    return False, f"spark(rows={g[0]}, cols={g[1]}) vs duck(rows={e[0]}, cols={e[1]})"


def check_queries(root, data_dir, outputs_dir, outputs):
    """One verdict per written output: {key: (ok, detail)}."""
    table_sig = load_check_functions(root)
    con = connect(data_dir)
    verdicts = {}
    for o in outputs:
        key, qdir = o["key"], os.path.join(outputs_dir, o["key"])
        if o.get("error"):
            verdicts[key] = (False, "threw: " + o["error"])
        elif not o.get("oracle"):
            verdicts[key] = (False, "no oracle SQL")
        elif not glob.glob(os.path.join(qdir, "*.parquet")):
            verdicts[key] = (False, "no output")
        else:
            try:
                verdicts[key] = same_table(
                    con, table_sig,
                    f"SELECT * FROM read_parquet('{qdir}/*.parquet')",
                    o["oracle"])
            except Exception as e:  # a failing oracle or unreadable output
                verdicts[key] = (False, f"check error: {e}")
    return verdicts


# (rule, event_type, value above, high severity above): the twin of
# AlertRun.Rules; the suppression squelches medium large_purchase alerts
ALERT_RULES = [("high_value_error", "error", 80.0, 250.0),
               ("large_purchase", "purchase", 100.0, 300.0),
               ("costly_signup", "signup", 150.0, 400.0)]


def _alerts_sql(cycles):
    rules = " UNION ALL ".join(
        f"SELECT '{n}' AS rule, '{t}' AS etype, {v} AS lo, {h} AS hi"
        for n, t, v, h in ALERT_RULES)
    windows = " UNION ALL ".join(
        f"SELECT {c['cycle']} AS cycle, TIMESTAMP '{c['from']}' AS f, "
        f"TIMESTAMP '{c['to']}' AS t, CAST({c['alert_time_s']} AS BIGINT) AS at"
        for c in cycles)
    return f"""
      WITH rules AS ({rules}), windows AS ({windows}),
      raw AS (
        SELECT w.cycle, w.at AS alert_time_s, r.rule AS query_name,
          md5(r.rule || ':' || e.event_id) AS alert_id,
          'user:' || e.user_id AS object,
          'user:' || e.user_id || ' ' || e.event_type || ' band ' ||
            CAST(floor(e.value / 100.0) AS BIGINT) AS description,
          CASE WHEN e.value > r.hi THEN 'high' ELSE 'medium' END AS severity,
          epoch_ns(e.ts) // 1000000000 AS event_time_s
        FROM events e
        JOIN rules r ON e.event_type = r.etype AND e.value > r.lo
        JOIN windows w ON e.ts >= w.f AND e.ts < w.t),
      merged AS (
        SELECT cycle, object, description,
          min_by(query_name, alert_id) AS query_name,
          min_by(severity, alert_id) AS severity
        FROM raw GROUP BY cycle, object, description)"""


def check_alert_run(root, data_dir, cycles):
    """Verdicts {"cycle:<k>": ...} per recorded cycle, plus "store" for
    the store the last cycle wrote."""
    if not cycles:
        return {"store": (False, "no cycle completed")}
    table_sig = load_check_functions(root)
    con = connect(data_dir)
    base = _alerts_sql(cycles)
    sent = dict(con.execute(base + """
      SELECT cycle, count(*) FILTER (WHERE NOT (query_name = 'large_purchase'
        AND severity = 'medium')) FROM merged GROUP BY cycle""").fetchall())
    verdicts = {}
    for c in cycles:
        want = sent.get(c["cycle"], 0)
        verdicts[f"cycle:{c['cycle']}"] = (
            c["sent"] == want, f"sent={c['sent']} expected={want}")
    store = cycles[-1]["store"]
    try:
        verdicts["store"] = same_table(
            con, table_sig,
            f"""SELECT object, description, counter, alert_time_s, event_time_s
                FROM read_parquet('{store}/*.parquet')""",
            base + """
            SELECT object, description, CAST(count(*) AS BIGINT) AS counter,
              min(alert_time_s) AS alert_time_s,
              min(event_time_s) AS event_time_s
            FROM raw GROUP BY object, description""")
    except Exception as e:
        verdicts["store"] = (False, f"check error: {e}")
    return verdicts
