"""The three benchmark workloads.

Each workload takes a prepared :class:`Ctx` (session already started), sets
up its table, measures for ``ctx.seconds``, then checks its output against
the oracle outside the timed region. It returns a :class:`Outcome` with the
end-to-end metrics, the per-layer metrics (traced runs only) and details.

Every timing is taken from outside the engine's public calls. Tracing, when
on, wraps the same calls in spans and Spark job groups.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from dataclasses import dataclass, field

import pyspark.sql.functions as F
from pyspark.sql.streaming import StreamingQueryListener

from cdcbench import check, feeds
from cdcbench.trace import SparkJobs, median, ptail, union_seconds


@dataclass
class Ctx:
    spark: object
    tracer: object
    work: str  # per-run scratch directory (tables, checkpoints)
    cache: str  # feed cache directory, shared by runs
    seed: int
    seconds: float
    sz: dict
    jvm_pid: int
    marks: list = field(default_factory=list)  # (label, perf_counter) wall-clock milestones

    def mark(self, label: str) -> None:
        self.marks.append((label, time.perf_counter()))


@dataclass
class Outcome:
    e2e: dict = field(default_factory=dict)  # name -> (value, unit)
    layer: dict = field(default_factory=dict)  # name -> (value, unit)
    detail: dict = field(default_factory=dict)
    setup: dict = field(default_factory=dict)  # seed_s, warmup_s
    rss: float = 0.0  # driver JVM peak RSS (MB) at the end of measurement
    attempted: int = 0
    errors: list = field(default_factory=list)


def _now() -> float:
    return time.perf_counter()


def jvm_peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def _table(ctx: Ctx, name: str):
    from etl_spark.schema import TARGET_SCHEMA
    from etl_spark.table import LakeTable

    return LakeTable.create_if_absent(ctx.spark, os.path.join(ctx.work, name), TARGET_SCHEMA)


def _merge(ctx: Ctx, table, parts: list[str], epoch: int, **kw):
    """One timed apply: open the batch and merge it. Returns (result, wall
    seconds, span)."""
    from etl_spark.operators.merge import merge_batch

    t0 = _now()
    with ctx.tracer.call("operators.merge.merge_batch", epoch=epoch) as sp:
        res = merge_batch(table, ctx.spark.read.parquet(*parts), epoch=epoch, **kw)
    return res, _now() - t0, sp


def _key(i: int) -> str:
    return f"doc_{i:08d}"


def _lookup_ranges(rng: random.Random, n_keys: int, width: int, n: int) -> list[tuple[str, str]]:
    """Half on the hottest 1% of key ids (the skewed draw puts ~10% of the
    events there), half uniform over the keyspace."""
    out = []
    for i in range(n):
        top = max(1, n_keys // 100) if i % 2 == 0 else n_keys
        lo = rng.randrange(top)
        out.append((_key(lo), _key(lo + width - 1)))
    return out


def _warm_reads(ctx: Ctx, table, n: int, n_keys: int) -> None:
    """Untimed lookups. Set-up runs several, so that the read path is
    compiled while the ingest runs; one more before the timed lookups reads
    the table the ingest left."""
    for lo, hi in _lookup_ranges(random.Random(ctx.seed), n_keys, ctx.sz["lookup_width"], n):
        table.read_range(lo, hi).count()


class Reads:
    """Timed narrow lookups and full scans against one table."""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.lookup_ms: list[float] = []
        self.scan_s: list[float] = []
        self.lookup_in_bytes: list[int] = []
        self.lookup_in_rows = 0
        self.lookup_out_rows = 0
        self.rng = random.Random(ctx.seed * 7 + 3)

    def lookups(self, table, n: int, n_keys: int) -> None:
        for lo, hi in _lookup_ranges(self.rng, n_keys, self.ctx.sz["lookup_width"], n):
            t0 = _now()
            with self.ctx.tracer.call("table.table.read_range") as sp:
                got = table.read_range(lo, hi).count()
            self.lookup_ms.append((_now() - t0) * 1000.0)
            if sp:
                jobs = [c for c in self.ctx.tracer.children(sp) if c["name"] == "spark.job"]
                self.lookup_in_bytes.append(sum(j["input_bytes"] for j in jobs))
                self.lookup_in_rows += sum(j["input_records"] for j in jobs)
                self.lookup_out_rows += got

    def scans(self, table, n: int) -> None:
        for _ in range(n):
            t0 = _now()
            with self.ctx.tracer.call("table.table.read"):
                table.read().count()
            self.scan_s.append(_now() - t0)

    def report(self, out: Outcome) -> None:
        out.e2e["lookup_p50_ms"] = (median(self.lookup_ms), "ms")
        out.detail["lookup_ms"] = self.lookup_ms
        v, pct, n = ptail(self.lookup_ms)
        out.e2e["lookup_ptail_ms"] = (v, "ms")
        out.detail["lookup_ptail"] = {"percentile": pct, "samples": n}
        out.e2e["scan_s"] = (median(self.scan_s), "s")
        out.detail["scan_samples"] = len(self.scan_s)
        if self.lookup_in_bytes:
            out.layer["table.table.lookup_bytes_read"] = (median(self.lookup_in_bytes), "bytes")
            out.layer["table.table.lookup_rows_read_per_row_returned"] = (
                self.lookup_in_rows / max(1, self.lookup_out_rows),
                "ratio",
            )
        out.attempted += len(self.lookup_ms) + len(self.scan_s)


class Maint:
    """Timed ``maybe_compact_mor`` calls against one table."""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.walls: list[float] = []
        self.sids: list[int] = []
        self.table = None

    def run(self, table) -> float:
        from etl_spark.table.maintenance import maybe_compact_mor

        self.table = table
        t0 = _now()
        with self.ctx.tracer.call("table.maintenance.maybe_compact_mor"):
            sid = maybe_compact_mor(table, max_mor_files=self.ctx.sz["max_mor_files"])
        wall = _now() - t0
        self.walls.append(wall)
        if sid is not None:
            self.sids.append(sid)
        return wall

    def report(self, out: Outcome) -> None:
        out.attempted += len(self.walls)
        out.detail["compactions"] = len(self.sids)
        if not self.ctx.tracer.enabled:
            return
        files_in = rewritten = 0
        for sid in self.sids:
            prev = {f["path"] for f in self.table.snapshot(sid - 1)["files"]}
            snap = self.table.snapshot(sid)
            files_in += snap["summary"].get("files_in", 0)
            rewritten += sum(os.path.getsize(f["path"]) for f in snap["files"] if f["path"] not in prev)
        out.layer["table.maintenance.compactions"] = (len(self.sids), "count")
        out.layer["table.maintenance.compact_s"] = (sum(self.walls), "s")
        out.layer["table.maintenance.files_in"] = (files_in, "count")
        out.layer["table.maintenance.bytes_rewritten"] = (rewritten, "bytes")


def _after_ingest(ctx: Ctx, table, n_keys: int, lookups: int, scans: int) -> tuple[Reads, Maint]:
    """Read the table the ingest left behind (one untimed lookup, timed
    narrow lookups, full scans), then let the compaction policy run once."""
    reads, maint = Reads(ctx), Maint(ctx)
    _warm_reads(ctx, table, 1, n_keys)
    reads.lookups(table, lookups, n_keys)
    reads.scans(table, scans)
    maint.run(table)
    return reads, maint


def _epochs(out: Outcome, walls: list[float]) -> None:
    out.e2e["epoch_p50_s"] = (median(walls), "s")
    out.detail["epoch_s"] = walls
    v, pct, n = ptail(walls)
    out.e2e["epoch_ptail_s"] = (v, "s")
    out.detail["epoch_ptail"] = {"percentile": pct, "samples": n}


def _merge_layer(ctx: Ctx, out: Outcome, spans: list[dict]) -> None:
    """operators.merge.* from the traced merge_batch spans."""
    tr = ctx.tracer
    jobs = [[c for c in tr.children(sp) if c["name"] == "spark.job"] for sp in spans]
    out.layer["operators.merge.jobs_per_epoch"] = (median([len(j) for j in jobs]), "count")
    out.layer["operators.merge.driver_s_per_epoch"] = (
        median([(sp["end"] - sp["start"]) - tr.job_seconds(sp) for sp in spans]),
        "s",
    )
    for k, unit in (
        ("executor_run_s", "s"),
        ("shuffle_write_bytes", "bytes"),
        ("shuffle_read_bytes", "bytes"),
        ("spill_bytes", "bytes"),
    ):
        out.layer[f"operators.merge.{k}"] = (median([sum(x[k] for x in j) for j in jobs]), unit)


def _file_layer(out: Outcome, results: list) -> None:
    out.layer["operators.merge.files_rewritten"] = (median([r.files_rewritten for r in results]), "count")
    out.layer["operators.merge.files_added"] = (median([r.files_added for r in results]), "count")
    out.layer["operators.merge.mor_share"] = (sum(r.mode == "mor" for r in results) / len(results), "ratio")


def _phases(ctx: Ctx):
    """Opt-in per-phase timings of merge_batch, when the engine still offers
    the ``PHASE_TIMINGS`` hook. Returns the list to fill, or None."""
    import etl_spark.operators.merge as merge_mod

    if not ctx.tracer.enabled or not hasattr(merge_mod, "PHASE_TIMINGS"):
        return None
    merge_mod.PHASE_TIMINGS = []
    return merge_mod.PHASE_TIMINGS


def _phase_report(ctx: Ctx, out: Outcome, rows) -> None:
    import etl_spark.operators.merge as merge_mod

    if not ctx.tracer.enabled:
        return
    if rows is None:
        out.detail["operators.merge.phase"] = "absent"
        return
    merge_mod.PHASE_TIMINGS = None
    acc: dict[str, list[float]] = {}
    for r in rows:
        acc.setdefault(r["phase"], []).append(r["sec"])
    out.detail["operators.merge.phase"] = {f"{k}_s": median(v) for k, v in sorted(acc.items())}


def _table_layer(ctx: Ctx, out: Outcome, table, sid0: int, input_bytes: int, live_rows: int) -> None:
    """table.table.* from the commit history and the files on disk."""
    from etl_spark.table import LakeTable

    ms = []
    for _ in range(5):
        t0 = _now()
        LakeTable(ctx.spark, table.root).snapshot()
        ms.append((_now() - t0) * 1000.0)
    head = table.head_id()
    live = table.snapshot(head)["files"]
    written = set()
    for sid in range(sid0 + 1, head + 1):
        prev = {f["path"] for f in table.snapshot(sid - 1)["files"]}
        written |= {f["path"] for f in table.snapshot(sid)["files"]} - prev
    size = lambda p: os.path.getsize(p) if os.path.exists(p) else 0  # noqa: E731
    out.layer["table.table.snapshot_ms"] = (median(ms), "ms")
    out.layer["table.table.live_files"] = (len(live), "count")
    out.layer["table.table.mor_files"] = (sum(1 for f in live if f.get("mor")), "count")
    out.layer["table.table.bytes_written_per_input_byte"] = (sum(size(p) for p in written) / max(1, input_bytes), "ratio")
    out.layer["table.table.bytes_per_live_row"] = (sum(size(f["path"]) for f in live) / max(1, live_rows), "bytes")


def _dedup_probe(ctx: Ctx, out: Outcome, parts: list[str], rows_in: int) -> None:
    """operators.dedup.*: LWW dedup of the workload's bulk parquet feed into a
    no-op sink."""
    from pyspark.sql import Observation

    from etl_spark.operators.dedup import lww_dedup

    obs = Observation("dedup-out")
    t0 = _now()
    with ctx.tracer.call("operators.dedup.lww_dedup") as sp:
        lww_dedup(ctx.spark.read.parquet(*parts)).observe(obs, F.count(F.lit(1)).alias("n")).write.format(
            "noop"
        ).mode("overwrite").save()
    wall = _now() - t0
    jobs = [c for c in ctx.tracer.children(sp) if c["name"] == "spark.job"]
    out.layer["operators.dedup.wall_s"] = (wall, "s")
    out.layer["operators.dedup.rows_in"] = (rows_in, "count")
    out.layer["operators.dedup.rows_out"] = (obs.get["n"], "count")
    out.layer["operators.dedup.shuffle_write_bytes"] = (sum(j["shuffle_write_bytes"] for j in jobs), "bytes")


def _verify(out: Outcome, table, expected) -> None:
    err = check.compare(check.actual_state(table), expected)
    if err:
        out.errors.append(err)


# ---------------------------------------------------------------- workloads


def bulk_backfill(ctx: Ctx) -> Outcome:
    """Copy-on-write backfill of a large feed into an empty table, repeated
    on a fresh table per pass, for a number of passes fixed by --seconds (at
    least two)."""
    out, sz, tr = Outcome(), ctx.sz, ctx.tracer
    warm = feeds.warmup_feed(ctx.spark, ctx.work, ctx.seed, sz["bulk_events"] // 16, sz["bulk_keys"])

    t0 = _now()
    with tr.span("setup.seed"):
        tables = [_table(ctx, "bulk0")]
    seed_s = _now() - t0
    t0 = _now()
    with tr.span("setup.warmup"):
        scratch = _table(ctx, "warm")
        _merge(ctx, scratch, warm["parts"], 0)
        _warm_reads(ctx, scratch, sz["warm_lookups"], sz["bulk_keys"])
    warmup_s = _now() - t0
    ctx.mark("setup")
    feed = feeds.bulk_feed(ctx.spark, ctx.cache, ctx.seed, sz)
    ctx.mark("measured-feed")

    phase_rows = _phases(ctx)
    walls, results, spans, apply_s, events = [], [], [], 0.0, 0
    n_passes = feeds.bulk_passes(sz, ctx.seconds)
    with tr.span("workload", workload="bulk-backfill"):
        while True:
            table = tables[-1]
            with tr.span("pass", index=len(tables) - 1):
                for e, part in enumerate(feed["parts"]):
                    res, wall, sp = _merge(ctx, table, [part], e)
                    walls.append(wall)
                    results.append(res)
                    spans.append(sp)
                    apply_s += wall
                    events += feed["events"][e]
            if len(tables) == n_passes:
                break
            tables.append(_table(ctx, f"bulk{len(tables)}"))
        ctx.mark("ingest")
        reads, maint = _after_ingest(ctx, table, sz["bulk_keys"], sz["bulk_lookups"], sz["bulk_scans"])
        ctx.mark("after-ingest")
    out.e2e["events_per_s"] = (events / apply_s, "1/s")
    _epochs(out, walls)
    reads.report(out)
    out.attempted += len(walls)
    out.detail.update(passes=len(tables), events_applied=events, apply_s=apply_s)
    _phase_report(ctx, out, phase_rows)
    out.rss = jvm_peak_rss_mb(ctx.jvm_pid)
    maint.report(out)
    out.setup = {"seed_s": seed_s, "warmup_s": warmup_s}

    # output check: the last pass row by row, every pass by digest
    expected = check.expected_state(feed["parts"])
    _verify(out, tables[-1], expected)
    digests = {check.digest(t.read(include_hidden=True)) for t in tables}
    if len(digests) != 1:
        out.errors.append(f"passes disagree: {len(digests)} distinct table digests")
    ctx.mark("check")

    if tr.enabled:
        _merge_layer(ctx, out, spans)
        _file_layer(out, results)
        _table_layer(ctx, out, tables[-1], 0, feed["bytes"], expected.num_rows)
        _dedup_probe(ctx, out, feed["parts"], sum(feed["events"]))
    return out


def _seeded(ctx: Ctx, out: Outcome, name: str):
    """Set-up of serve-while-ingest: seed a table with one bulk merge and
    apply one warm-up microbatch, both under epochs the measured part never
    reaches."""
    sz, tr = ctx.sz, ctx.tracer
    seed = feeds.seed_feed(ctx.spark, ctx.work, ctx.seed, sz)
    ctx.mark("setup-feeds")
    t0 = _now()
    with tr.span("setup.seed"):
        table = _table(ctx, name)
        _merge(ctx, table, [seed["parts"][0]], feeds.SEED_EPOCH)
    seed_s = _now() - t0
    t0 = _now()
    with tr.span("setup.warmup"):
        _merge(ctx, table, [seed["parts"][1]], feeds.WARMUP_EPOCH, merge_mode="auto")
    warmup_s = _now() - t0
    out.setup = {"seed_s": seed_s, "warmup_s": warmup_s}
    ctx.mark("setup")
    # the warm-up events are applied too, so the oracle folds them in
    return table, seed["parts"], seed


class _TailListener(StreamingQueryListener):
    """Collects the streaming query's per-trigger progress."""

    def __init__(self):
        self.progress: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        self.progress.append({"batch": p.batchId, "ts": p.timestamp, "rows": p.numInputRows, "dur": dict(p.durationMs)})

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def _iso(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _land(files: list[str], stream_dir: str) -> None:
    """Copy feed files into the directory the tail reads, one bucket
    directory each, with modification times in feed order (the file source
    takes new files oldest first)."""
    t = time.time() - 60
    for k, src in enumerate(files):
        dst = os.path.join(stream_dir, os.path.basename(os.path.dirname(src)), os.path.basename(src))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(src, dst)
        os.utime(dst, (t + k * 0.01, t + k * 0.01))


def micro_tail(ctx: Ctx) -> Outcome:
    """A closed-loop streaming tail over a Debezium-JSONL feed, one small
    file per trigger, against a table 100x the batch size. Set-up seeds the
    table, runs the tail once over the feed's first file and reads the table
    (the discarded warm-up); the measured call resumes from that checkpoint
    and drains the rest."""
    from etl_spark import lineage
    from etl_spark.streaming.tail import run_stream_replay

    out, sz, tr = Outcome(), ctx.sz, ctx.tracer
    n_files = feeds.tail_files(sz, ctx.seconds)
    seed = feeds.seed_feed(ctx.spark, ctx.work, ctx.seed, sz)
    tail = feeds.tail_feed(ctx.spark, ctx.work, ctx.seed, sz, sz["seed_events"] + sz["micro_events"], n_files + 1)
    measured = tail["files"][1:]
    ctx.mark("setup-feeds")
    stream_dir = os.path.join(ctx.work, "stream")
    checkpoint = os.path.join(ctx.work, "checkpoint")

    def replay(table):
        return run_stream_replay(
            ctx.spark,
            stream_dir,
            table.root,
            checkpoint,
            feed_format="debezium-json",
            max_files_per_trigger=1,
            merge_mode="auto",
        )

    _land(tail["files"][:1], stream_dir)
    t0 = _now()
    with tr.span("setup.seed"):
        table = _table(ctx, "micro")
        _merge(ctx, table, [seed["parts"][0]], feeds.SEED_EPOCH)
    seed_s = _now() - t0
    t0 = _now()
    with tr.span("setup.warmup"):
        warm = replay(table)
        _warm_reads(ctx, table, sz["warm_lookups"], sz["seed_keys"])
    warmup_s = _now() - t0
    out.setup = {"seed_s": seed_s, "warmup_s": warmup_s}
    if warm.applied_batches != 1:
        out.errors.append(f"warm-up tail applied {warm.applied_batches} batches, expected 1")
    ctx.mark("setup")
    sid0 = table.head_id()
    _land(measured, stream_dir)

    listener = _TailListener()
    ctx.spark.streams.addListener(listener)
    phase_rows = _phases(ctx)
    first_job = SparkJobs(ctx.spark).next_id() if tr.enabled else 0
    try:
        with tr.span("workload", workload="micro-tail"):
            t_call = time.time()
            t0 = _now()
            with tr.span("streaming.tail.run_stream_replay") as call_sp:
                report = replay(table)
            apply_s = _now() - t0
            sid1 = table.head_id()
            # progress events arrive on the listener bus after the query ends
            deadline = time.time() + 10
            while len([p for p in listener.progress if p["batch"] >= 1]) < len(report.batches) and time.time() < deadline:
                time.sleep(0.05)
            ctx.mark("ingest")
            reads, maint = _after_ingest(ctx, table, sz["seed_keys"], sz["post_lookups"], sz["post_scans"])
            ctx.mark("after-ingest")
    finally:
        ctx.spark.streams.removeListener(listener)
    # batch 0 is set-up's warm-up trigger
    prog = sorted((p for p in listener.progress if p["rows"] > 0 and p["batch"] >= 1), key=lambda p: p["batch"])
    walls = [p["dur"]["triggerExecution"] / 1000.0 for p in prog]
    good = sum(tail["good"][1:])
    out.e2e["events_per_s"] = (good / apply_s, "1/s")
    _epochs(out, walls)
    reads.report(out)
    out.attempted += len(walls)
    out.detail.update(
        triggers=len(prog), files=len(measured), events_applied=good,
        bad_lines=tail["bad_lines"], apply_s=apply_s,
    )
    _phase_report(ctx, out, phase_rows)
    out.rss = jvm_peak_rss_mb(ctx.jvm_pid)
    maint.report(out)

    # output check (after the compaction, so it checks that too): the seed
    # and every tail file, the warm-up file included
    events, rejected = check.parse_debezium_lines(tail["files"])
    expected = check.expected_state(seed["parts"][:1], events)
    _verify(out, table, expected)
    if rejected != tail["bad_lines"]:
        out.errors.append(f"oracle rejected {rejected} lines, feed has {tail['bad_lines']} bad lines")
    if report.applied_batches != len(measured):
        out.errors.append(f"applied_batches={report.applied_batches} but {len(measured)} files were measured")
    if not lineage.coverage(table).ok:
        out.errors.append("lineage.coverage(table) is not ok")
    if len(prog) != len(measured):
        out.errors.append(f"listener saw {len(prog)} triggers with input, {len(measured)} files were measured")
    ctx.mark("check")

    if tr.enabled:
        _tail_layer(ctx, out, prog, first_job, t_call, call_sp, table, sid0, sid1)
        _table_layer(ctx, out, table, sid0, sum(os.path.getsize(f) for f in measured), expected.num_rows)
        _dedup_probe(ctx, out, seed["parts"], sum(seed["events"]))
        _formats_probe(ctx, out, tail)
    return out


def _tail_layer(ctx, out, prog, first_job, t_call, call_sp, table, sid0, sid1) -> None:
    """streaming.tail.* from the listener; operators.merge.* per trigger from
    the jobs Spark tagged with the trigger's batch id."""
    tr = ctx.tracer
    jobs = SparkJobs(ctx.spark).since(first_job)
    tr.add_jobs(call_sp, jobs)
    add = [p["dur"].get("addBatch", 0) / 1000.0 for p in prog]
    trig = [p["dur"]["triggerExecution"] / 1000.0 for p in prog]
    out.layer["streaming.tail.triggers"] = (len(prog), "count")
    out.layer["streaming.tail.add_batch_s_p50"] = (median(add), "s")
    out.layer["streaming.tail.overhead_s_p50"] = (median([t - a for t, a in zip(trig, add)]), "s")
    out.layer["streaming.tail.start_s"] = (_iso(prog[0]["ts"]) - t_call, "s")

    per, breakdown = [], []
    for p, t_s, a_s in zip(prog, trig, add):
        lo = _iso(p["ts"])
        mine = [j for j in jobs if j["batch"] == p["batch"]]
        if not mine:  # no batch id recorded: attribute by trigger window
            mine = [j for j in jobs if j["start"] and lo <= j["start"] <= lo + t_s]
        job_s = union_seconds([(j["start"], j["end"]) for j in mine if j["end"]], lo, lo + t_s)
        per.append((mine, a_s - job_s))
        breakdown.append(
            {"batch": p["batch"], "wall_s": t_s, "tail_overhead_s": t_s - a_s, "merge_self_s": a_s - job_s, "merge_jobs_s": job_s}
        )
    out.layer["operators.merge.jobs_per_epoch"] = (median([len(m) for m, _ in per]), "count")
    out.layer["operators.merge.driver_s_per_epoch"] = (median([d for _, d in per]), "s")
    for k, unit in (
        ("executor_run_s", "s"),
        ("shuffle_write_bytes", "bytes"),
        ("shuffle_read_bytes", "bytes"),
        ("spill_bytes", "bytes"),
    ):
        out.layer[f"operators.merge.{k}"] = (median([sum(j[k] for j in m) for m, _ in per]), unit)
    out.detail["epoch_breakdown"] = breakdown

    # files per applied batch, from the commits the tail made (sid0, sid1]
    rewritten, added, mor = [], [], 0
    for sid in range(sid0 + 1, sid1 + 1):
        prev = {f["path"] for f in table.snapshot(sid - 1)["files"]}
        snap = table.snapshot(sid)
        cur = {f["path"] for f in snap["files"]}
        rewritten.append(len(prev - cur))
        added.append(len(cur - prev))
        mor += snap["summary"].get("mode") == "mor"
    out.layer["operators.merge.files_rewritten"] = (median(rewritten), "count")
    out.layer["operators.merge.files_added"] = (median(added), "count")
    out.layer["operators.merge.mor_share"] = (mor / max(1, sid1 - sid0), "ratio")


def _formats_probe(ctx: Ctx, out: Outcome, tail: dict) -> None:
    """streaming.formats.*: normalize_debezium over the tail feed read as one
    batch, into a no-op sink."""
    from pyspark.sql import Observation

    from etl_spark.streaming.formats import normalize_debezium

    obs = Observation("formats-out")
    t0 = _now()
    with ctx.tracer.call("streaming.formats.normalize_debezium"):
        raw = ctx.spark.read.text(tail["files"])
        normalize_debezium(raw).observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode(
            "overwrite"
        ).save()
    wall = _now() - t0
    raw_n = tail["good_lines"] + tail["bad_lines"]
    acc = obs.get["n"]
    out.layer["streaming.formats.normalize_s"] = (wall, "s")
    out.layer["streaming.formats.rows_raw"] = (raw_n, "count")
    out.layer["streaming.formats.rows_accepted"] = (acc, "count")
    out.layer["streaming.formats.accepted_share"] = (acc / raw_n, "ratio")
    if acc != tail["good_lines"]:
        out.errors.append(f"normalize_debezium accepted {acc} rows, feed has {tail['good_lines']} good lines")


def serve_while_ingest(ctx: Ctx) -> Outcome:
    """Rounds of one microbatch merge, narrow lookups, one full scan and a
    merge-on-read compaction check, against a seeded table."""
    out, sz, tr = Outcome(), ctx.sz, ctx.tracer
    table, parquet_parts, seed = _seeded(ctx, out, "serve")
    sid0 = table.head_id()
    rounds = feeds.rounds_feed(ctx.spark, ctx.cache, ctx.seed, sz, sz["seed_events"] + sz["micro_events"])
    ctx.mark("measured-feed")

    phase_rows = _phases(ctx)
    reads, maint = Reads(ctx), Maint(ctx)
    walls, results, spans = [], [], []
    apply_s, events = 0.0, 0
    deadline = _now() + ctx.seconds
    with tr.span("workload", workload="serve-while-ingest"):
        for r in range(sz["rounds_max"]):
            with tr.span("round", index=r):
                res, wall, sp = _merge(ctx, table, [rounds["parts"][r]], r, merge_mode="auto")
                walls.append(wall)
                results.append(res)
                spans.append(sp)
                events += rounds["events"][r]
                reads.lookups(table, sz["lookups_per_round"], sz["seed_keys"])
                reads.scans(table, 1)
                apply_s += wall + maint.run(table)
            if _now() >= deadline:
                break
    applied = len(walls)
    out.e2e["events_per_s"] = (events / apply_s, "1/s")
    _epochs(out, walls)
    reads.report(out)
    out.attempted += applied
    out.detail.update(rounds=applied, events_applied=events, apply_s=apply_s)
    _phase_report(ctx, out, phase_rows)
    out.rss = jvm_peak_rss_mb(ctx.jvm_pid)
    maint.report(out)

    ctx.mark("ingest")
    expected = check.expected_state(parquet_parts + rounds["parts"][:applied])
    _verify(out, table, expected)
    ctx.mark("check")

    if tr.enabled:
        _merge_layer(ctx, out, spans)
        _file_layer(out, results)
        round_bytes = sum(
            os.path.getsize(os.path.join(p, n)) for p in rounds["parts"][:applied] for n in os.listdir(p) if not n.startswith((".", "_"))
        )
        _table_layer(ctx, out, table, sid0, round_bytes, expected.num_rows)
        _dedup_probe(ctx, out, seed["parts"], sum(seed["events"]))
    return out


WORKLOADS = {
    "bulk-backfill": bulk_backfill,
    "micro-tail": micro_tail,
    "serve-while-ingest": serve_while_ingest,
}
