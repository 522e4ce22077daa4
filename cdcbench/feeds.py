"""Benchmark inputs: sizes per profile and feed generation with a per-seed
cache.

Every feed comes from ``etl_spark.datagen`` and is never timed. A feed
directory is complete once its ``_FEED.json`` manifest exists; a later run
with the same seed and sizes reuses it.

Two kinds of feed:
- set-up feeds (the seed table's events, the warm-up batch, and micro-tail's
  Debezium files, whose first file is set-up's warm-up trigger) are
  generated into the run's own directory on every run, before set-up
  starts, so set-up always begins from the same JVM state. Reusing them from
  a cache would start set-up on a JVM that had not yet run any job, and
  set-up time would then depend on whether the seed had been seen before.
- measured feeds (bulk epochs, serve rounds) are cached per seed and size
  and, when missing, generated after set-up.

Tables are never cached: the manifest stores absolute file paths, so a
seeded table cannot be copied to a new root, and seeding is part of set-up.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

# Feed shape shared by every workload: datagen defaults (key skew 2.0, 10%
# out-of-order, 5% duplicates, 5% tombstones) with tokens up to 128.
MAX_TOKENS = 128

SIZES = {
    "full": {
        "bulk_events": 200_000,
        "bulk_keys": 10_000,
        "bulk_epochs": 2,
        "seed_events": 40_000,
        "seed_keys": 10_000,
        "micro_events": 400,
        "trigger_s": 1.8,  # expected seconds per warm micro-tail trigger on 4 cores
        "pass_s": 4.5,  # expected seconds per bulk-backfill pass on 4 cores
        "bad_line_every": 100,
        "rounds_max": 40,
        "lookups_per_round": 4,
        "lookup_width": 20,
        "max_mor_files": 4,
        "warm_lookups": 5,  # untimed, in set-up
        "bulk_lookups": 20,
        "bulk_scans": 1,
        "post_lookups": 10,
        "post_scans": 1,
    },
    "tiny": {
        "bulk_events": 20_000,
        "bulk_keys": 1_000,
        "bulk_epochs": 2,
        "seed_events": 8_000,
        "seed_keys": 2_000,
        "micro_events": 200,
        "trigger_s": 100.0,  # always the minimum of 3 tail files
        "pass_s": 100.0,  # always the minimum of 2 passes
        "bad_line_every": 50,
        "rounds_max": 4,
        "lookups_per_round": 2,
        "lookup_width": 20,
        "max_mor_files": 2,
        "warm_lookups": 1,
        "bulk_lookups": 2,
        "bulk_scans": 1,
        "post_lookups": 2,
        "post_scans": 1,
    },
}

# Epoch numbers the seed and warm-up merges commit under. The fence ledger
# keys on the epoch number alone, so these must never collide with a
# streaming batch id or a serve round.
SEED_EPOCH = 1_000_000_000
WARMUP_EPOCH = SEED_EPOCH + 1


def _spec(**kw):
    from etl_spark.datagen import BinlogSpec

    return BinlogSpec(max_tokens=MAX_TOKENS, **kw)


def _rebase(obj, old: str, new: str):
    """``obj`` with every path under ``old`` moved under ``new``."""
    if isinstance(obj, str) and obj.startswith(old):
        return new + obj[len(old):]
    if isinstance(obj, list):
        return [_rebase(x, old, new) for x in obj]
    if isinstance(obj, dict):
        return {k: _rebase(v, old, new) for k, v in obj.items()}
    return obj


def _cached(path: str, build) -> dict:
    man = os.path.join(path, "_FEED.json")
    if os.path.exists(man):
        with open(man) as f:
            info = json.load(f)
        # the checkout (and its cache) may have moved since the feed was made
        return _rebase(info, info["path"], path)
    shutil.rmtree(path, ignore_errors=True)
    info = build(path)
    info["bytes"] = sum(
        os.path.getsize(os.path.join(d, n))
        for d, _, names in os.walk(path)
        for n in names
        if not n.startswith((".", "_"))
    )
    with open(man + ".tmp", "w") as f:
        json.dump(info, f)
    os.replace(man + ".tmp", man)
    return info


def _rows(path: str) -> int:
    """Rows in a directory of parquet files, from the file footers."""
    import pyarrow.parquet as pq

    if not os.path.isdir(path):
        return 0
    return sum(pq.ParquetFile(os.path.join(path, n)).metadata.num_rows for n in os.listdir(path) if n.endswith(".parquet"))


def _write_parquet_parts(spark, spec, path: str, part_of, n_parts: int, part_col: str, one_file: bool = False) -> list[int]:
    """Generate ``spec`` and write it split into ``n_parts`` parts under
    ``path/<part_col>=k`` (``part_of`` maps the ``delivery_pos`` column to a
    part number): one file per part with ``one_file``, else one file per
    generating task. Returns the event count per part."""
    import pyspark.sql.functions as F

    from etl_spark.datagen import generate_binlog

    df = generate_binlog(spark, spec).drop("lsn_bucket")
    df = df.withColumn(part_col, part_of(F.col("delivery_pos")).cast("int")).drop("delivery_pos")
    if one_file:
        df = df.repartition(n_parts, part_col)
    df.write.mode("overwrite").partitionBy(part_col).parquet(path)
    return [_rows(f"{path}/{part_col}={k}") for k in range(n_parts)]


def _even(spec, n_parts: int):
    """Split delivery order into ``n_parts`` equal spans."""
    span = (spec.n_events + spec.ooo_window) // n_parts + 1
    return lambda pos: pos / span


def bulk_feed(spark, root: str, seed: int, sz: dict) -> dict:
    """Parquet feed split into ``bulk_epochs`` delivery-order epochs."""
    n, keys, epochs = sz["bulk_events"], sz["bulk_keys"], sz["bulk_epochs"]

    def build(path):
        spec = _spec(n_events=n, n_keys=keys, seed=seed)
        counts = _write_parquet_parts(spark, spec, path, _even(spec, epochs), epochs, "epoch")
        return {"path": path, "parts": [f"{path}/epoch={k}" for k in range(epochs)], "events": counts}

    return _cached(os.path.join(root, f"bulk-s{seed}-n{n}-k{keys}-e{epochs}"), build)


def warmup_feed(spark, root: str, seed: int, n_events: int, n_keys: int) -> dict:
    """One small parquet batch for bulk-backfill's discarded warm-up merge
    into a scratch table."""

    def build(path):
        spec = _spec(n_events=n_events, n_keys=n_keys, seed=seed + 7919)
        counts = _write_parquet_parts(spark, spec, path, _even(spec, 1), 1, "part")
        return {"path": path, "parts": [f"{path}/part=0"], "events": counts}

    return _cached(os.path.join(root, f"warm-s{seed}-n{n_events}-k{n_keys}"), build)


def seed_feed(spark, root: str, seed: int, sz: dict) -> dict:
    """The events a micro-tail or serve run seeds its table with (part 0),
    followed in commit order by one ``micro_events`` warm-up batch (part 1),
    generated in one pass."""
    import pyspark.sql.functions as F

    n, w, keys = sz["seed_events"], sz["micro_events"], sz["seed_keys"]

    def build(path):
        spec = _spec(n_events=n + w, n_keys=keys, seed=seed)
        counts = _write_parquet_parts(spark, spec, path, lambda pos: F.when(pos >= n, 1).otherwise(0), 2, "part")
        return {"path": path, "parts": [f"{path}/part=0", f"{path}/part=1"], "events": counts}

    return _cached(os.path.join(root, f"seed-s{seed}-n{n}-w{w}-k{keys}"), build)


def rounds_feed(spark, root: str, seed: int, sz: dict, lsn_offset: int) -> dict:
    """``rounds_max`` parquet batches of ``micro_events`` each, committed
    after the seed: one per serve round."""
    r, e, keys = sz["rounds_max"], sz["micro_events"], sz["seed_keys"]

    def build(path):
        spec = _spec(n_events=r * e, n_keys=keys, seed=seed + 104729, lsn_offset=lsn_offset)
        counts = _write_parquet_parts(spark, spec, path, _even(spec, r), r, "round", one_file=True)
        return {"path": path, "parts": [f"{path}/round={k}" for k in range(r)], "events": counts}

    return _cached(os.path.join(root, f"rounds-s{seed}-r{r}-n{e}-k{keys}-o{lsn_offset}"), build)


# Work per run is a fixed count derived from --seconds, never from a clock,
# so every run of a seed does the same work: ingest gets these shares of
# --seconds, and the reads, scans and compaction after it the rest.
TAIL_SHARE = 0.6
BULK_SHARE = 0.7


def tail_files(sz: dict, seconds: float) -> int:
    """Number of tail files (one trigger each) for a run of ``seconds``."""
    return max(3, round(TAIL_SHARE * seconds / sz["trigger_s"]))


def bulk_passes(sz: dict, seconds: float) -> int:
    """Number of bulk-backfill passes for a run of ``seconds``."""
    return max(2, round(BULK_SHARE * seconds / sz["pass_s"]))


def tail_feed(spark, root: str, seed: int, sz: dict, lsn_offset: int, n_files: int) -> dict:
    """Debezium-JSONL feed of ``n_files`` files of ~``micro_events``
    change events, committed after the seed (``good`` holds each file's
    parseable lines). About one line in every
    ``bad_line_every`` (chosen by a seeded hash of the line, so the choice does
    not depend on line order) is replaced by a truncated copy that no JSON
    parser accepts; those lines must be rejected, never applied."""
    from etl_spark.datagen import write_binlog_json

    f, e, keys = n_files, sz["micro_events"], sz["seed_keys"]

    def build(path):
        spec = _spec(n_events=f * e, n_keys=keys, seed=seed + 15485863, lsn_offset=lsn_offset, n_buckets=f)
        write_binlog_json(spark, spec, path, envelope="debezium")
        # datagen's delivery buckets end in one or two nearly empty files (the
        # late out-of-order and duplicate deliveries), and how many depends on
        # the seed; re-cut the lines, in delivery order, into exactly f files
        # of equal size, so every seed gives f full triggers
        lines, olds = [], []
        buckets = sorted((d for d in os.listdir(path) if d.startswith("lsn_bucket=")), key=lambda d: int(d.split("=")[1]))
        for d in buckets:
            full = os.path.join(path, d)
            for name in sorted(os.listdir(full)):
                p = os.path.join(full, name)
                if not name.startswith((".", "_")) and not name.endswith(".crc"):
                    with open(p) as fh:
                        lines += fh.read().splitlines()
            olds.append(full)
        for d in olds:
            shutil.rmtree(d)
        salt = str(seed).encode()
        files, good, bad = [], [], 0
        for k in range(f):
            out, good_k = [], 0
            for line in lines[k * len(lines) // f : (k + 1) * len(lines) // f]:
                h = int.from_bytes(hashlib.blake2b(line.encode(), key=salt, digest_size=8).digest(), "big")
                if h % sz["bad_line_every"] == 0:
                    out.append(line[: len(line) // 2])
                    bad += 1
                else:
                    out.append(line)
                    good_k += 1
            good.append(good_k)
            d = os.path.join(path, f"lsn_bucket={k}")
            os.makedirs(d)
            p = os.path.join(d, "part-00000.txt")
            with open(p, "w") as fh:
                fh.write("\n".join(out) + "\n")
            files.append(p)
        return {"path": path, "files": files, "good": good, "good_lines": sum(good), "bad_lines": bad}

    return _cached(os.path.join(root, f"tail-even-s{seed}-f{f}-n{e}-k{keys}-o{lsn_offset}"), build)
