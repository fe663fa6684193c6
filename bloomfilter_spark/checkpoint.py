"""Checkpointed, resumable sketch builds with per-bucket lineage + metrics.

North-rule requirement: "checkpoint serialized partial sketches per
partition with lineage and update/merge metrics, and resume from checkpoint
without re-scanning completed partitions."

Unit of checkpointing: a *bucket* = a deterministic group of input files
(file list sorted, hashed round-robin). Buckets — not Spark partition ids —
are the durable identity, because Spark's scan partitioning can change with
config (maxPartitionBytes, AQE) while the input file set is stable. Each
bucket is processed as its own Spark job over exactly its files; its merged
partial sketch lands in ``<dir>/partials/bucket-NNNN.bin`` with a lineage
record (input files, row count, bytes, wall time, engine version) appended
to ``<dir>/lineage.jsonl``. A resumed build lists completed buckets and
schedules only the remainder — the skipped files are never opened.

The final sketch is the merge of all bucket partials (associativity makes
the grouping irrelevant — test_checkpoint asserts byte-equality with a
one-shot build for Bloom/HLL/CMS).
"""

from __future__ import annotations

import glob
import json
import os
import time
from dataclasses import dataclass, field
from pathlib import Path
from typing import Callable, Sequence

import pandas as pd

from .agg import _batch_values, _fold, prepare_input
from .config import DEFAULT_SEED
from .sketches.base import Sketch


def _counted_partials(prepped, factory: Callable[[], Sketch]):
    """One (sketch, rows) partial per partition — the row count rides the
    same pass, so lineage metrics never cost a second scan of the bucket."""
    def fn(it):
        sk = factory()
        rows = 0
        for pdf in it:
            v = _batch_values(pdf, sk.HASH_KEYED)
            if "__w" in pdf.columns:
                sk.update(v, pdf["__w"].to_numpy())
            else:
                sk.update(v)
            rows += len(pdf)
        yield pd.DataFrame({"sketch": [sk.to_bytes()], "rows": [rows]})

    return prepped.mapInPandas(fn, schema="sketch binary, rows long")


@dataclass
class BucketResult:
    bucket: int
    files: list[str]
    rows: int
    seconds: float
    skipped: bool


@dataclass
class CheckpointReport:
    checkpoint_dir: str
    buckets: list[BucketResult] = field(default_factory=list)

    @property
    def completed(self) -> int:
        return sum(1 for b in self.buckets if not b.skipped)

    @property
    def skipped(self) -> int:
        return sum(1 for b in self.buckets if b.skipped)


def _assign_buckets(files: Sequence[str], n_buckets: int) -> list[list[str]]:
    buckets: list[list[str]] = [[] for _ in range(n_buckets)]
    for i, f in enumerate(sorted(files)):
        buckets[i % n_buckets].append(f)
    return [b for b in buckets if b]


def _partial_path(ckpt_dir: str, bucket: int) -> str:
    return os.path.join(ckpt_dir, "partials", f"bucket-{bucket:04d}.bin")


def checkpointed_build(spark, input_glob: str | Sequence[str], cols,
                       factory: Callable[[], Sketch],
                       checkpoint_dir: str, n_buckets: int = 16,
                       seed: int = DEFAULT_SEED,
                       weight_col=None) -> tuple[Sketch, CheckpointReport]:
    """Build (or resume building) a sketch over parquet files.

    Returns (final_sketch, report). Completed buckets (partial file already
    present) are skipped without opening their input files; lineage.jsonl
    records every bucket's provenance and metrics.
    """
    if isinstance(input_glob, str):
        files = sorted(glob.glob(input_glob))
    else:
        files = sorted(input_glob)
    if not files:
        raise ValueError(f"no input files match {input_glob}")

    os.makedirs(os.path.join(checkpoint_dir, "partials"), exist_ok=True)
    lineage_path = os.path.join(checkpoint_dir, "lineage.jsonl")
    buckets = _assign_buckets(files, n_buckets)
    report = CheckpointReport(checkpoint_dir)
    proto = factory()
    cls = type(proto)

    for i, bucket_files in enumerate(buckets):
        out = _partial_path(checkpoint_dir, i)
        if os.path.exists(out):
            report.buckets.append(BucketResult(i, bucket_files, -1, 0.0, True))
            continue
        t0 = time.time()
        df = spark.read.parquet(*bucket_files)
        prepped = prepare_input(df, cols, proto, seed, weight_col)
        partial_rows = _counted_partials(prepped, factory).collect()
        rows = sum(r["rows"] for r in partial_rows)
        merged = _fold(cls, (r["sketch"] for r in partial_rows))
        if merged is None:  # a bucket whose files give no partition
            merged = factory()
        payload = merged.to_bytes()
        tmp = out + ".tmp"
        with open(tmp, "wb") as fh:
            fh.write(payload)
        os.replace(tmp, out)  # atomic: a crash never leaves a torn partial
        dt = time.time() - t0
        from . import __version__
        with open(lineage_path, "a") as fh:
            fh.write(json.dumps({
                "bucket": i,
                "files": bucket_files,
                "rows": rows,
                "partial_bytes": len(payload),
                "n_spark_partials": len(partial_rows),
                "seconds": round(dt, 3),
                "seed": seed,
                "cols": [str(c) for c in (cols if isinstance(cols, list) else [cols])],
                "sketch": cls.__name__,
                "engine": __version__,
                "completed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            }) + "\n")
        report.buckets.append(BucketResult(i, bucket_files, rows, dt, False))

    # never None: ``files`` is non-empty, so there is at least one bucket
    final = _fold(cls, (Path(_partial_path(checkpoint_dir, i)).read_bytes()
                        for i in range(len(buckets))))
    return final, report


def checkpointed_sharded_build(spark, input_glob: str | Sequence[str], cols,
                               capacity: int, checkpoint_dir: str,
                               fpr: float = 0.01, n_shards: int = 32,
                               n_buckets: int = 8,
                               seed: int = DEFAULT_SEED):
    """Checkpointed build of the DISTRIBUTED (sharded) filter — the resume
    story for filters too big to broadcast or to hold as one driver object.

    Per bucket, the shard table (shard, sketch, n_shards [, n_rows]) is
    written to ``<dir>/shards/bucket-NNNN/`` as parquet (Spark's _SUCCESS
    marker is the completion record); a resumed build skips completed
    buckets without opening their input files. The final shard table is
    the per-shard OR-merge of all bucket tables — byte-identical to a
    one-shot build over all files (OR commutes; asserted in
    test_checkpoint). Returns (shard_table DataFrame, CheckpointReport).

    Geometry is fixed once from the TOTAL ``capacity``, so every bucket
    builds compatible (m_shard, k) filters."""
    from pyspark.sql import functions as F

    from .operators.sharded import build_sharded_bloom, merge_shard_tables

    if isinstance(input_glob, str):
        files = sorted(glob.glob(input_glob))
    else:
        files = sorted(input_glob)
    if not files:
        raise ValueError(f"no input files match {input_glob}")

    lineage_path = os.path.join(checkpoint_dir, "lineage.jsonl")
    os.makedirs(checkpoint_dir, exist_ok=True)
    buckets = _assign_buckets(files, n_buckets)
    report = CheckpointReport(checkpoint_dir)

    bucket_dirs = []
    for i, bucket_files in enumerate(buckets):
        out_dir = os.path.join(checkpoint_dir, "shards", f"bucket-{i:04d}")
        bucket_dirs.append(out_dir)
        if os.path.exists(os.path.join(out_dir, "_SUCCESS")):
            report.buckets.append(BucketResult(i, bucket_files, -1, 0.0, True))
            continue
        t0 = time.time()
        df = spark.read.parquet(*bucket_files)
        tbl = build_sharded_bloom(df, cols, capacity=capacity, fpr=fpr,
                                  n_shards=n_shards, seed=seed,
                                  with_counts=True)
        tbl.write.mode("overwrite").parquet(out_dir)
        # metrics read back from the tiny shard table, never the input
        stats = spark.read.parquet(out_dir).agg(
            F.sum("n_rows").alias("rows"), F.count("*").alias("shards")).first()
        rows = int(stats["rows"] or 0)
        dt = time.time() - t0
        from . import __version__
        with open(lineage_path, "a") as fh:
            fh.write(json.dumps({
                "bucket": i,
                "files": bucket_files,
                "rows": rows,
                "n_shards_nonempty": int(stats["shards"]),
                "seconds": round(dt, 3),
                "seed": seed,
                "cols": [str(c) for c in (cols if isinstance(cols, list) else [cols])],
                "sketch": "ShardedBloom",
                "capacity": capacity,
                "fpr": fpr,
                "engine": __version__,
                "completed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            }) + "\n")
        report.buckets.append(BucketResult(i, bucket_files, rows, dt, False))

    tables = [spark.read.parquet(d).select("shard", "sketch", "n_shards")
              for d in bucket_dirs]
    return merge_shard_tables(tables), report


def read_lineage(checkpoint_dir: str) -> list[dict]:
    path = os.path.join(checkpoint_dir, "lineage.jsonl")
    if not os.path.exists(path):
        return []
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]
