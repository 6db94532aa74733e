"""Correctness gates, run after each timed window. A failed check fails
the run: every function here returns a list of human-readable problems,
empty when the output is right."""

from __future__ import annotations

import hashlib

import duckdb
import pyarrow.parquet as pq

from perfbench.gen import TRUTH_COLS

ENTRY_FIELDS = ("label", "parentHash", "owner", "gene", "creationBlock", "lastUpdateBlock")


def _q(c: str) -> str:
    return f'"{c}"'


def events_match_truth(table_path: str, truth_path: str) -> list[str]:
    """The events table holds exactly the distinct contract logs that
    were generated, decoded to the generator's values (foreign logs
    dropped, redelivered duplicates absorbed)."""
    cols = ", ".join(_q(c) for c in TRUTH_COLS)
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW ev AS SELECT {cols} FROM read_parquet('{table_path}/**/*.parquet', hive_partitioning=1)")
        con.execute(f"CREATE VIEW tr AS SELECT {cols} FROM read_parquet('{truth_path}')")
        n_ev, n_distinct = con.execute("SELECT count(*), count(DISTINCT event_id) FROM ev").fetchone()
        n_tr = con.execute("SELECT count(*) FROM tr").fetchone()[0]
        extra = con.execute("SELECT count(*) FROM (SELECT * FROM ev EXCEPT SELECT * FROM tr)").fetchone()[0]
        missing = con.execute("SELECT count(*) FROM (SELECT * FROM tr EXCEPT SELECT * FROM ev)").fetchone()[0]
    finally:
        con.close()
    problems = []
    if n_ev != n_tr or n_distinct != n_ev:
        problems.append(f"events: {n_ev} rows ({n_distinct} distinct ids), generated {n_tr}")
    if extra or missing:
        problems.append(f"events: {extra} rows not generated, {missing} generated rows missing")
    return problems


def _entry_key(row) -> tuple:
    d = row.asDict(recursive=True)
    return (
        tuple(d[f] for f in ENTRY_FIELDS),
        tuple(sorted(d["children"] or [])),
        tuple(sorted((d["facts"] or {}).items())),
        tuple(sorted((d["notes"] or {}).items())),
    )


def entries_match_fold(spark, table_path: str, entries_path: str) -> list[str]:
    """The incrementally maintained entries equal a one-shot
    ``materialize_entries`` fold of the final events table."""
    from hypermap_etl_spark.operators.materialize import materialize_entries

    got = {r["namehash"]: _entry_key(r) for r in spark.read.parquet(entries_path).collect()}
    want = {
        r["namehash"]: _entry_key(r)
        for r in materialize_entries(spark.read.parquet(table_path)).collect()
    }
    if got == want:
        return []
    diff = [k for k in set(got) | set(want) if got.get(k) != want.get(k)]
    return [f"entries: {len(diff)} of {len(want)} keys differ from the one-shot fold (e.g. {diff[0]})"]


# -------------------------------------------------------------- serving ----

def serving_responses(table_path: str, entries_path: str, responses: list[tuple]) -> list[str]:
    """Each timed serving response, ``(kind, arg, result)`` as the
    client received it, against DuckDB over the same parquet files (the
    tables do not change while the client reads)."""
    con = duckdb.connect()
    problems = []
    order = "ORDER BY blockNumber DESC, logIndex DESC"
    try:
        con.execute(f"CREATE VIEW ev AS SELECT * FROM read_parquet('{table_path}/**/*.parquet', hive_partitioning=1)")
        con.execute(f"CREATE VIEW en AS SELECT * FROM read_parquet('{entries_path}/**/*.parquet', hive_partitioning=1)")
        for kind, arg, res in responses:
            where = f"WHERE eventType = '{arg}'" if kind in ("events", "count") and arg else ""
            if kind == "status":
                counts = con.execute(
                    "SELECT eventType, count(*) AS c FROM ev GROUP BY 1 ORDER BY c DESC, eventType"
                ).fetchall()
                last = con.execute(f"SELECT blockNumber FROM ev {order} LIMIT 1").fetchone()[0]
                got = [(r["eventType"], r["count"]) for r in res["eventCounts"]]
                ok = got == [tuple(r) for r in counts] and res["lastBlock"] == last
            elif kind in ("events", "events_deep"):
                page = 1 if kind == "events" else arg
                want = con.execute(
                    f"SELECT event_id FROM ev {where} {order} LIMIT 20 OFFSET {(page - 1) * 20}"
                ).fetchall()
                ok = [r["event_id"] for r in res] == [r[0] for r in want]
            elif kind == "count":
                ok = res == con.execute(f"SELECT count(*) FROM ev {where}").fetchone()[0]
            elif kind == "history":
                want = con.execute(
                    "SELECT event_id FROM ev WHERE "
                    "(eventType = 'Mint' AND (parenthash = $k OR childhash = $k)) OR "
                    "(eventType = 'Fact' AND (parenthash = $k OR facthash = $k)) OR "
                    "(eventType = 'Note' AND (parenthash = $k OR notehash = $k)) OR "
                    "(eventType = 'Gene' AND entry = $k) OR (eventType = 'Transfer' AND id = $k) "
                    "ORDER BY blockNumber, logIndex",
                    {"k": arg},
                ).fetchall()
                ok = [r["event_id"] for r in res] == [r[0] for r in want]
            else:  # entry
                want = con.execute(
                    "SELECT " + ", ".join(_q(f) for f in ENTRY_FIELDS) + " FROM en WHERE namehash = $k",
                    {"k": arg},
                ).fetchall()
                ok = [tuple(r[f] for f in ENTRY_FIELDS) for r in res] == [tuple(r) for r in want]
            if not ok:
                problems.append(f"{kind}({str(arg)[:10]}) differs from DuckDB")
    finally:
        con.close()
    return problems


# --------------------------------------------------------------- corpus ----

def output_digest(path: str, sort_cols: list[str]) -> tuple[str, int]:
    """Order-independent digest of a parquet output directory: rows
    sorted by ``sort_cols``, then hashed. Returns (digest, rows)."""
    t = pq.read_table(path)
    t = t.select(sorted(t.column_names)).sort_by([(c, "ascending") for c in sort_cols])
    h = hashlib.sha256()
    for batch in t.to_batches():
        for col in batch.columns:
            h.update(str(col.to_pylist()).encode())
    return h.hexdigest(), t.num_rows
