"""Output check: a DuckDB last-writer-wins fold over exactly the events a run
applied, compared row by row with the engine's final table.

Runs outside every timed region. The expected state is one row per live key:
the event with the highest ``(commit_lsn, op_seq)`` per ``doc_id`` wins, and a
winning delete removes the key. Comparison is exact, token arrays included
(the BASELINE.json correctness gate).
"""

from __future__ import annotations

import json

import pyarrow as pa

COLS = ["doc_id", "tokens", "n_tok", "source", "_commit_lsn", "_op_seq"]
_TYPES = {
    "doc_id": pa.string(),
    "tokens": pa.list_(pa.int32()),
    "n_tok": pa.int32(),
    "source": pa.string(),
    "_commit_lsn": pa.int64(),
    "_op_seq": pa.int32(),
}
_EVENT_COLS = "doc_id, commit_lsn, op_seq, op, tokens, n_tok, source"
_OP = {"c": "I", "u": "U", "d": "D", "r": "U"}


def parse_debezium_lines(paths: list[str]) -> tuple[pa.Table, int]:
    """Parse Debezium JSONL files with Python's own JSON parser (independent
    of the engine's ``from_json``). Returns (events, rejected line count)."""
    rows = {k: [] for k in ("doc_id", "commit_lsn", "op_seq", "op", "tokens", "n_tok", "source")}
    rejected = 0
    for p in paths:
        with open(p) as fh:
            for line in fh:
                if not line.strip():
                    continue
                try:
                    env = json.loads(line)
                except json.JSONDecodeError:
                    rejected += 1
                    continue
                op = _OP[env["op"]]
                row = env["before"] if op == "D" else env["after"]
                rows["doc_id"].append(row["doc_id"])
                rows["commit_lsn"].append(env["source"]["lsn"])
                rows["op_seq"].append(env["source"].get("seq") or 0)
                rows["op"].append(op)
                live = op != "D"
                rows["tokens"].append(row.get("tokens") if live else None)
                rows["n_tok"].append(row.get("n_tok") if live else None)
                rows["source"].append(row.get("source") if live else None)
    tbl = pa.table(
        {
            "doc_id": pa.array(rows["doc_id"], pa.string()),
            "commit_lsn": pa.array(rows["commit_lsn"], pa.int64()),
            "op_seq": pa.array(rows["op_seq"], pa.int32()),
            "op": pa.array(rows["op"], pa.string()),
            "tokens": pa.array(rows["tokens"], pa.list_(pa.int32())),
            "n_tok": pa.array(rows["n_tok"], pa.int32()),
            "source": pa.array(rows["source"], pa.string()),
        }
    )
    return tbl, rejected


def expected_state(parquet_dirs: list[str], extra: pa.Table | None = None) -> pa.Table:
    """LWW fold in DuckDB over the parquet feed parts plus ``extra`` events."""
    import duckdb

    con = duckdb.connect()
    try:
        parts = [f"SELECT {_EVENT_COLS} FROM read_parquet('{d}/*.parquet')" for d in parquet_dirs]
        if extra is not None:
            con.register("extra_events", extra)
            parts.append(f"SELECT {_EVENT_COLS} FROM extra_events")
        sql = f"""
            WITH ev AS ({' UNION ALL '.join(parts)}),
            last AS (
                SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY commit_lsn DESC, op_seq DESC) AS rn
                FROM ev
            )
            SELECT doc_id, tokens, n_tok, source, commit_lsn AS _commit_lsn, op_seq AS _op_seq
            FROM last WHERE rn = 1 AND op <> 'D' ORDER BY doc_id
        """
        return _canon(con.execute(sql).fetch_arrow_table())
    finally:
        con.close()


def _canon(t: pa.Table) -> pa.Table:
    t = t.select(COLS)
    t = pa.table({c: t.column(c).cast(_TYPES[c]) for c in COLS})
    return t.sort_by("doc_id").combine_chunks()


def actual_state(table) -> pa.Table:
    """The engine's final live rows, with the hidden version columns."""
    return _canon(table.read(include_hidden=True).select(*COLS).toArrow())


def compare(actual: pa.Table, expected: pa.Table) -> str | None:
    """None if equal, else a description of the first difference."""
    actual, expected = _canon(actual), _canon(expected)
    if actual.num_rows != expected.num_rows:
        return f"row count: engine={actual.num_rows} oracle={expected.num_rows}"
    if actual.equals(expected):
        return None
    for c in COLS:
        a, e = actual.column(c).to_pylist(), expected.column(c).to_pylist()
        for i, (x, y) in enumerate(zip(a, e)):
            if x != y:
                return f"row {i} ({expected.column('doc_id')[i]}), column {c}: engine={x!r} oracle={y!r}"
    return "tables differ"


def digest(df) -> tuple[int, int]:
    """Order-independent (row count, hash sum) of a table read, computed in
    Spark: equal digests mean equal row multisets up to hash collision."""
    import pyspark.sql.functions as F

    r = df.select(F.xxhash64(*[F.col(c) for c in COLS]).alias("h")).agg(
        F.count("*").alias("n"), F.sum(F.col("h").cast("decimal(38,0)")).alias("s")
    ).collect()[0]
    return int(r["n"]), int(r["s"] or 0)
