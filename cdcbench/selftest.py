"""Self-tests for the benchmark. Run from the root of a checkout:

    python3 cdcbench/selftest.py

1. A tiny-size run of each workload, untraced and traced, prints every
   end-to-end and per-layer metric with its unit and passes its output check.
2. The same seed gives an identical feed, and two traced runs with the same
   seed give identical count metrics (jobs per epoch, files, rows, bytes
   written).
3. The output check rejects corrupted copies of a final table: a changed
   token, a dropped row, a changed version column, and a real table that
   took one stray event.

Exits 0 when every test passes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from cdcbench import run as bench  # noqa: E402

WORKLOADS = ["bulk-backfill", "micro-tail", "serve-while-ingest"]
# measured every run but printed only in the detail line (not gated)
DETAIL_E2E = ["epoch_ptail_s", "lookup_ptail_ms", "scan_s", "failed_share"]
STREAMING = ["streaming.tail.triggers", "streaming.tail.add_batch_s_p50", "streaming.tail.overhead_s_p50",
             "streaming.tail.start_s", "streaming.formats.normalize_s", "streaming.formats.rows_raw",
             "streaming.formats.rows_accepted", "streaming.formats.accepted_share"]
# count metrics that must repeat exactly for a seed (section 2)
COUNTS = [
    "operators.merge.jobs_per_epoch",
    "operators.merge.files_rewritten",
    "operators.merge.files_added",
    "operators.merge.mor_share",
    "operators.dedup.rows_in",
    "operators.dedup.rows_out",
    "table.table.live_files",
    "table.table.mor_files",
    "table.table.bytes_written_per_input_byte",
    "table.table.bytes_per_live_row",
    "table.maintenance.compactions",
    "table.maintenance.files_in",
    "table.maintenance.bytes_rewritten",
]
FAILURES: list[str] = []


def _ok(cond: bool, what: str) -> None:
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        FAILURES.append(what)


def _run(workload: str, seed: int, trace: int) -> tuple[dict, dict] | None:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", "3", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        print(p.stderr[-4000:], file=sys.stderr)
        return None
    return json.loads(lines[-2]), json.loads(lines[-1])


def test_tiny_runs() -> dict:
    traced = {}
    for w in WORKLOADS:
        for trace, names in ((0, bench.E2E), (1, bench.PER_LAYER)):
            got = _run(w, 5, trace)
            _ok(got is not None, f"{w} trace={trace}: run exits 0 and prints a result")
            if got is None:
                continue
            detail, res = got
            m = res["metrics"]
            _ok(set(m) == set(names), f"{w} trace={trace}: prints exactly the named metrics")
            _ok(all(isinstance(v.get("unit"), str) and v["unit"] and isinstance(v.get("value"), (int, float)) for v in m.values()),
                f"{w} trace={trace}: every metric has a numeric value and a unit")
            _ok(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
                f"{w} trace={trace}: output check passes ({detail['errors']})")
            d = detail["e2e"]
            _ok(all(d.get(k, {}).get("unit") for k in [*bench.E2E, *DETAIL_E2E]),
                f"{w} trace={trace}: detail line prints every end-to-end metric with its unit")
            if trace and w == "micro-tail":
                _ok(all(detail["per_layer_extra"].get(k, {}).get("unit") for k in STREAMING),
                    f"{w} trace=1: detail line prints the streaming layer metrics with units")
            if trace:
                traced[w] = {**{k: v["value"] for k, v in m.items()},
                             **{k: v["value"] for k, v in detail["per_layer_extra"].items()}}
    return traced


def test_same_seed_counts(first: dict) -> None:
    for w in WORKLOADS:
        if w not in first:
            continue
        got = _run(w, 5, 1)
        if got is None:
            _ok(False, f"{w}: second traced run")
            continue
        again = {k: v["value"] for k, v in got[1]["metrics"].items()}
        diff = {k: (first[w].get(k), again.get(k)) for k in COUNTS if first[w].get(k) != again.get(k)}
        _ok(not diff, f"{w}: same seed gives identical count metrics {diff or ''}")


def _feed_digest(con, path: str) -> tuple:
    rows = con.execute(
        f"SELECT count(*), sum(hash(doc_id, commit_lsn, op_seq, op, tokens::VARCHAR, n_tok, source)) "
        f"FROM read_parquet('{path}/**/*.parquet')"
    ).fetchone()
    return tuple(rows)


def _lines(info: dict) -> list:
    out = []
    for p in info["files"]:
        with open(p) as f:
            out.append(sorted(f.read().splitlines()))
    return sorted(out)


def test_feeds_and_check() -> None:
    import duckdb
    import pyarrow as pa

    from cdcbench import check, feeds

    work = os.path.join(ROOT, ".bench_work", "selftest")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(ROOT, ".bench_work", "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(ROOT, ".bench_work", "spark-local")
    sz = feeds.SIZES["tiny"]
    spark = bench._start_session(os.path.join(ROOT, ".bench_work"), 2, "1g")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        con = duckdb.connect()
        a = feeds.bulk_feed(spark, os.path.join(work, "a"), 9, sz)
        b = feeds.bulk_feed(spark, os.path.join(work, "b"), 9, sz)
        _ok(a["events"] == b["events"] and _feed_digest(con, a["path"]) == _feed_digest(con, b["path"]),
            "bulk feed: same seed, same events")
        c = feeds.bulk_feed(spark, os.path.join(work, "c"), 10, sz)
        _ok(_feed_digest(con, a["path"]) != _feed_digest(con, c["path"]), "bulk feed: another seed, other events")
        ta = feeds.tail_feed(spark, os.path.join(work, "a"), 9, sz, 100_000, 3)
        tb = feeds.tail_feed(spark, os.path.join(work, "b"), 9, sz, 100_000, 3)
        _ok(_lines(ta) == _lines(tb) and ta["bad_lines"] == tb["bad_lines"] > 0,
            "tail feed: same seed, same lines and the same rejected lines")

        # a real final table, checked against the oracle, then corrupted copies
        from etl_spark.operators.merge import merge_batch
        from etl_spark.schema import TARGET_SCHEMA
        from etl_spark.table import LakeTable

        table = LakeTable.create_if_absent(spark, os.path.join(work, "table"), TARGET_SCHEMA)
        for e, part in enumerate(a["parts"]):
            merge_batch(table, spark.read.parquet(part), epoch=e)
        expected = check.expected_state(a["parts"])
        actual = check.actual_state(table)
        _ok(check.compare(actual, expected) is None, "check accepts the correct final table")

        def with_col(t: pa.Table, name: str, values) -> pa.Table:
            return t.set_column(t.schema.get_field_index(name), name, pa.array(values, t.schema.field(name).type))

        toks = actual.column("tokens").to_pylist()
        toks[len(toks) // 2] = list(toks[len(toks) // 2])
        toks[len(toks) // 2][0] += 1
        _ok(check.compare(with_col(actual, "tokens", toks), expected) is not None, "check rejects a changed token")
        _ok(check.compare(actual.slice(1), expected) is not None, "check rejects a dropped row")
        lsn = actual.column("_commit_lsn").to_pylist()
        lsn[0] += 1
        _ok(check.compare(with_col(actual, "_commit_lsn", lsn), expected) is not None,
            "check rejects a changed version column")

        stray = spark.read.parquet(a["parts"][0]).limit(1).selectExpr(
            "doc_id", "commit_lsn + 1000000 AS commit_lsn", "op_seq", "'U' AS op", "tokens", "n_tok", "source"
        )
        merge_batch(table, stray, epoch=99)
        _ok(check.compare(check.actual_state(table), expected) is not None,
            "check rejects a final table that took one stray event")
        con.close()
    finally:
        bench._stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


def main() -> int:
    test_feeds_and_check()
    traced = test_tiny_runs()
    test_same_seed_counts(traced)
    print(f"{len(FAILURES)} failure(s)" if FAILURES else "all self-tests passed")
    return 1 if FAILURES else 0


if __name__ == "__main__":
    sys.exit(main())
