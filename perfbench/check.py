"""Output checks for one run, done after the timed region.

Every op with a DuckDB oracle is compared exactly against it: DuckDB
runs the oracle SQL over the same generated parquet tables, and the
warm-pass output (written by the harness with one partition, so row
order is kept) must match value for value, columns compared by name.
Every op must also be non-empty and give the same row count and content
digest in every digested execution: the first and third warm passes and
every timed pass. For an op with an oracle, that row count must equal
the row count of the output the oracle approved, which ties the timed
executions to the checked one.
"""
import math
import os

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _canon(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return str(v)


def _frame(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [tuple(_canon(r[i]) for i in order) for r in rows]


def oracle_compare(data_dir, out_dir, oracle_sql):
    """{op: (None if equal, else a one-line reason; rows in the written output or None)}."""
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    verdict = {}
    for op, sql in sorted(oracle_sql.items()):
        path = os.path.join(out_dir, op)
        if not os.path.isdir(path):
            verdict[op] = ("no warm-pass output", None)
            continue
        try:
            got_rel = con.sql(f"SELECT * FROM '{path}/*.parquet'")
            got_cols, got = got_rel.columns, got_rel.fetchall()
            exp_rel = con.sql(sql)
            exp_cols, exp = exp_rel.columns, exp_rel.fetchall()
        except Exception as e:  # noqa: BLE001 - any engine error is a failed check
            verdict[op] = (f"error: {str(e).splitlines()[0][:200]}", None)
            continue
        if sorted(got_cols) != sorted(exp_cols):
            verdict[op] = (f"columns {sorted(got_cols)} != {sorted(exp_cols)}", len(got))
            continue
        g, e = _frame(got, got_cols), _frame(exp, exp_cols)
        if g == e:
            verdict[op] = (None, len(g))
        elif sorted(g) == sorted(e):
            verdict[op] = (f"row order differs ({len(g)} rows)", len(g))
        else:
            verdict[op] = (f"values differ (got {len(g)} rows, want {len(e)})", len(g))
    con.close()
    return verdict


def op_failures(res, oracle):
    """{op: reason} for every op that failed a check in this run."""
    execs = {}
    for s in res["warm"] + [s for p in res["passes"] for s in p["samples"]]:
        execs.setdefault(s["op"], []).append(s)
    bad = {}
    for op, runs in execs.items():
        errors = [s["error"] for s in runs if s["error"]]
        digests = {(s["rows"], s["digest"]) for s in runs}
        if errors:
            bad[op] = f"threw in {len(errors)} of {len(runs)} executions: {errors[0]}"
        elif op in res["oracle_write_errors"]:
            bad[op] = "writing the warm-pass output failed: " + res["oracle_write_errors"][op]
        elif runs[0]["rows"] == 0:
            bad[op] = "empty result"
        elif len(digests) > 1:
            bad[op] = f"content differs between executions ({len(digests)} distinct digests)"
        elif op in oracle and oracle[op][0]:
            bad[op] = "oracle: " + oracle[op][0]
        elif op in oracle and oracle[op][1] != runs[0]["rows"]:
            bad[op] = (f"executions returned {runs[0]['rows']} rows, "
                       f"the oracle-checked output has {oracle[op][1]}")
    return bad
