"""Output checkers of the engine benchmark.

Every operation's output from the first warm-up pass is written to
<work>/ref/<op>; later passes are compared with it inside the JVM. This
module checks those reference outputs against independent truth:

- oracle: equal to DuckDB's run of SparkEntry.oracleSql(key) over the same
  inputs, compared as tools/check_oracle.py does (columns sorted by name,
  rows in order, exact values; a copy of its rules, so the benchmark's
  check does not change with that tool);
- unigram: logp <= 0, the piece probabilities sum to 1 within rounding, and
  the pieces cover every character of the corpus;
- layout: each read, current and AS OF, equals the same commits applied as
  predicates in DuckDB.
"""
import json
import math
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def connect(data):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    return con


def _canon(df):
    df = df[sorted(df.columns)].reset_index(drop=True)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
    return df


def _eq(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return (math.isnan(a) and math.isnan(b)) or a == b
    if isinstance(a, (list, tuple)) or "ndarray" in str(type(a)):
        la, lb = list(a), list(b)
        return len(la) == len(lb) and all(_eq(x, y) for x, y in zip(la, lb))
    return a == b


def compare(got, exp):
    """'' when equal under the oracle rules, else the first difference."""
    got, exp = _canon(got), _canon(exp)
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} != {list(exp.columns)}"
    if got.shape != exp.shape:
        return f"shape {got.shape} != {exp.shape}"
    for c in got.columns:
        for i, (g, e) in enumerate(zip(got[c].tolist(), exp[c].tolist())):
            if not _eq(g, e):
                return f"column {c} row {i}: {g!r} != {e!r}"
    return ""


def check_oracle(con, sql, got):
    return compare(got, con.execute(sql).df())


def check_unigram(got, con):
    if len(got) == 0:
        return "no pieces"
    if (got["logp"] > 0).any():
        return "a piece has logp > 0"
    total = sum(math.exp(x) for x in got["logp"])
    if abs(total - 1.0) > 1e-3:
        return f"piece probabilities sum to {total}"
    chars = {c for (t,) in con.execute(
        "SELECT DISTINCT unnest(string_split(lower(text), '')) FROM documents").fetchall()
        for c in t if c != " "}
    covered = {c for p in got["piece"] for c in p}
    missing = chars - covered
    return f"corpus characters not covered: {sorted(missing)}" if missing else ""


def check_layout(got, con, work):
    """Replays the logged commits on DuckDB tables, one per version, and
    compares every logged read with the same predicate on its version."""
    with open(os.path.join(work, "layout_log.json")) as f:
        log = json.load(f)
    cols = "l_orderkey, l_partkey, l_linenumber, l_quantity"
    con.execute(f"CREATE OR REPLACE TEMP TABLE cur AS SELECT {cols} FROM lineitem LIMIT 0")
    version = -1
    pending = None
    for e in log:
        kind = e.get("commit")
        if kind is None:  # a read
            exp = con.execute(
                f"SELECT {cols} FROM v{e['as_of']} "
                f"WHERE l_orderkey BETWEEN {e['lo']} AND {e['hi']} ORDER BY ALL").df()
            mine = got[got["read"] == e["read"]].drop(columns=["read"])
            mine = mine.sort_values(list(mine.columns)).reset_index(drop=True)
            diff = compare(mine, exp)
            if diff:
                return f"read {e['read']} (as of v{e['as_of']}, [{e['lo']}, {e['hi']}]): {diff}"
            continue
        if kind == "txn_append":  # staged, invisible until published
            pending = e["line"]
            continue
        if kind in ("write", "append") or kind == "txn_publish":
            line = pending if kind == "txn_publish" else e["line"]
            con.execute(f"INSERT INTO cur SELECT {cols} FROM lineitem WHERE l_linenumber = {line}")
        elif kind == "delete":
            con.execute(f"DELETE FROM cur WHERE l_orderkey >= {e['lo']} AND l_orderkey < {e['hi']}")
        elif kind == "update":
            con.execute(f"UPDATE cur SET l_quantity = l_quantity + {e['add']} "
                        f"WHERE l_orderkey >= {e['lo']} AND l_orderkey < {e['hi']}")
        version += 1
        con.execute(f"CREATE OR REPLACE TEMP TABLE v{version} AS SELECT * FROM cur")
    return ""


def check_op(kind, got, con, res, name, work):
    """'' when op `name`'s output `got` passes its checker `kind`."""
    if kind == "oracle":
        return check_oracle(con, res["oracle"][name], got)
    if kind == "unigram":
        return check_unigram(got, con)
    if kind == "layout":
        return check_layout(got, con, work)
    return f"no checker named {kind}"


def check_all(res, data, work):
    """Returns a list of failures over every op of the run."""
    con = connect(data)
    problems = []
    for op in res["ops"]:
        name, kind = op["name"], op["check"]
        path = os.path.join(work, "ref", name)
        if not os.path.exists(path):
            problems.append(f"{name}: no output (the op failed)")
            continue
        try:
            msg = check_op(kind, pd.read_parquet(path), con, res, name, work)
        except Exception as e:  # a checker that cannot run is a failed check
            msg = f"checker error: {e}"
        if msg:
            problems.append(f"{name} [{kind}]: {msg}")
    con.close()
    return problems


if __name__ == "__main__":
    # python3 perfbench/checks.py <data_dir> <result.json> <out_dir>: writes
    # DuckDB's result of every oracle key in a run's record, one parquet each.
    import sys
    data, result, out = sys.argv[1:4]
    with open(result) as f:
        oracle = json.load(f)["oracle"]
    con = connect(data)
    os.makedirs(out, exist_ok=True)
    for name, sql in sorted(oracle.items()):
        con.execute(sql).df().to_parquet(os.path.join(out, f"{name}.parquet"))
        print(name)
