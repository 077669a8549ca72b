"""Output checks that run in DuckDB after the benchmark JVM exits.

Each function takes the check inputs the JVM recorded in its result file
and returns a list of failure messages, one per wrong operation. None of
them reads a table through graft: the expected answers come from the
generated inputs alone.
"""
import json
import sys
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))
from local_verify import norm_rows, type_problems  # noqa: E402

EVENT_COLS = "event_id, day, user_id, kind, value, note"


def _checksum(con, table, pred):
    return list(con.sql(
        f"SELECT count(*), coalesce(sum(event_id), 0), coalesce(sum(value), 0), "
        f"coalesce(sum(event_id % 1009 * value), 0) FROM {table} WHERE {pred}").fetchone())


def lakehouse(c):
    """Replay the op log over the generated inputs in DuckDB: every read
    must return what the same predicate returns over the replayed state of
    that version (the Iceberg mirror lags until the next compaction), and
    the final table must equal the replayed one."""
    con = duckdb.connect()
    con.sql(f"CREATE TABLE t AS SELECT {EVENT_COLS} FROM read_parquet('{c['base']}/*.parquet')")
    con.sql("CREATE TABLE ice AS SELECT * FROM t")
    fails = []
    with open(c["oplog"]) as f:
        log = [json.loads(line) for line in f if line.strip()]
    for op in log:
        kind = op["op"]
        if kind == "read":
            table = "ice" if op["face"] == "iceberg" else "t"
            want = _checksum(con, table, op["pred"])
            if want != op["checksum"]:
                fails.append(f"lakehouse read #{op['i']} {op['kind']}/{op['face']} "
                             f"[{op['pred']}]: got {op['checksum']}, want {want}")
        elif kind == "append":
            con.sql(f"INSERT INTO t SELECT {EVENT_COLS} FROM read_parquet('{op['input']}/*.parquet')")
        elif kind == "merge":
            src = f"read_parquet('{op['input']}/*.parquet')"
            con.sql(f"DELETE FROM t WHERE event_id IN (SELECT event_id FROM {src})")
            con.sql(f"INSERT INTO t SELECT {EVENT_COLS} FROM {src}")
        elif kind == "delete" or op.get("sql") == "delete":
            con.sql(f"DELETE FROM t WHERE {op['pred']}")
        elif kind in ("update", "sql_dml"):
            con.sql(f"UPDATE t SET value = value + {op['add']} WHERE {op['pred']}")
        elif kind == "compact":
            con.sql("CREATE OR REPLACE TABLE ice AS SELECT * FROM t")
        else:
            fails.append(f"lakehouse: unknown op {kind}")
    diff = con.sql(
        f"SELECT (SELECT count(*) FROM (SELECT {EVENT_COLS} FROM t EXCEPT ALL "
        f"SELECT {EVENT_COLS} FROM read_parquet('{c['final']}/*.parquet'))), "
        f"(SELECT count(*) FROM (SELECT {EVENT_COLS} FROM read_parquet('{c['final']}/*.parquet') "
        f"EXCEPT ALL SELECT {EVENT_COLS} FROM t))").fetchone()
    if diff != (0, 0):
        fails.append(f"lakehouse final table differs from replay: {diff[0]} rows missing, "
                     f"{diff[1]} rows extra")
    return fails


def curate(c):
    """Each kept key's output matches its oracle SQL over the corpus, under
    the repo's oracle-compare rule (scripts/local_verify.py): the same
    columns, no HUGEINT/DECIMAL oracle column, the same type families, and
    the same rows with floats rounded to 4 places, in any order."""
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{c['documents']}/*.parquet')")
    fails = []
    for key, out in sorted(c["outputs"].items()):
        try:
            got = con.sql(f"SELECT * FROM read_parquet('{out}/*.parquet')")
            want = con.sql(c["oracle"][key])
            probs = type_problems(got, want)
            if sorted(got.columns) != sorted(want.columns):
                fails.append(f"curate {key}: columns {sorted(got.columns)}, oracle {sorted(want.columns)}")
            elif probs:
                fails.append(f"curate {key}: " + " | ".join(probs))
            else:
                got_rows = norm_rows(got.columns, got.fetchall())
                want_rows = norm_rows(want.columns, want.fetchall())
                if got_rows != want_rows:
                    fails.append(f"curate {key}: output ({len(got_rows)} rows) differs from "
                                 f"oracle ({len(want_rows)} rows)")
        except Exception as e:  # noqa: BLE001 - any error is a failed check
            fails.append(f"curate {key}: {type(e).__name__}: {e}")
    return fails


CHECKS = {"lakehouse": lakehouse, "curate": curate}
