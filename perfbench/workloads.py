"""The benchmark's workloads: what set-up builds, what one timed pass does,
and which correctness checks each pass's outputs must meet.

``family_build`` is the write path: the one-scan build of Bloom(conv_id,
text), HLL(conv_id), CMS(tool) and KLL(length(text)) through
``agg.multi_sketch_build``. ``dedup_probe`` is the read path over the same
sketches: set-up builds them, and every pass probes an incoming batch
through the broadcast Bloom, the sharded (cogroup) Bloom and the broadcast
CMS. Between passes, both send a closed loop of point probes (one client,
20 seen turns per probe) against the Bloom they hold, and both measure the
Bloom's false-positive rate on the batch's never-inserted turns.
"""

from __future__ import annotations

import hashlib
import math
import time

import numpy as np
import pandas as pd

KEY = ["conv_id", "text"]
FPR = 0.01
CMS_EPS, CMS_DELTA = 1e-4, 1e-3
HLL_P = 14
KLL_K = 200
N_SHARDS = 16


class Checks:
    """Correctness checks, counted: each is one attempted operation."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"{name}: {detail}")
        return ok


def family_specs(n_turns: int, kinds=("bloom", "hll", "cms", "kll")) -> dict:
    from pyspark.sql import functions as F

    from bloomfilter_spark.sketches import KLL, BloomFilter, CountMinSketch, HyperLogLog
    specs = {
        "bloom": (KEY, lambda: BloomFilter.for_capacity(n_turns, FPR)),
        "hll": (["conv_id"], lambda: HyperLogLog(HLL_P)),
        "cms": (["tool"], lambda: CountMinSketch(eps=CMS_EPS, delta=CMS_DELTA)),
        "kll": ([F.length("text")], lambda: KLL(KLL_K)),
    }
    return {k: specs[k] for k in kinds}


def hashes_of(spark, rows: list[tuple], cols: list[str]) -> np.ndarray:
    """The engine's salted key hashes of ``rows``, computed by Spark."""
    from bloomfilter_spark.agg import hash_col
    from bloomfilter_spark.util import to_u64
    df = spark.createDataFrame(pd.DataFrame(rows, columns=cols))
    return to_u64(np.array([r[0] for r in df.select(hash_col(cols)).collect()],
                           dtype=np.int64))


def fpr_limit(n_unseen: int) -> float:
    """Configured rate plus three binomial standard deviations."""
    return FPR + 3 * math.sqrt(FPR * (1 - FPR) / max(n_unseen, 1))


def member_counts(df, out_col: str = "is_member") -> dict[bool, tuple[int, int]]:
    """{seen: (rows, members)} of a probed batch, in one small job."""
    from pyspark.sql import functions as F
    rows = (df.groupBy("seen")
              .agg(F.count("*").alias("n"), F.sum(F.col(out_col).cast("long")).alias("m"))
              .collect())
    return {bool(r["seen"]): (int(r["n"]), int(r["m"] or 0)) for r in rows}


class Workload:
    name = ""
    why = ""
    # pass times kept falling over the first four to six passes of a run
    warmup_passes = 3

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.corpus = ctx.corpus
        self.truth = ctx.corpus.truth
        self.n_turns = self.truth["turns"]

    def open_corpus(self):
        return self.spark.read.parquet(self.corpus.files_dir)

    def setup(self) -> None:
        raise NotImplementedError

    def run_pass(self) -> int:
        """One pass; returns the number of input turns it processed."""
        raise NotImplementedError

    def bloom(self):
        raise NotImplementedError

    def final_checks(self) -> None:
        pass

    def unseen_false_positives(self) -> tuple[int, int]:
        raise NotImplementedError

    def release(self) -> None:
        pass


class FamilyBuild(Workload):
    name = "family_build"
    why = "write path: one scan hashes every turn through the Arrow pipe into four sketch kernels and merges the partials"
    # set-up runs no Spark job, so the JIT warms up in passes only
    warmup_passes = 4

    def setup(self) -> None:
        self.df = self.open_corpus()
        self.df.schema  # noqa: B018 - resolves the file listing and footers
        self.specs = family_specs(self.n_turns)
        self.out = None
        self.digest = None

    def run_pass(self) -> int:
        from bloomfilter_spark.agg import multi_sketch_build
        with self.ctx.tracer.span("agg.multi_sketch_build"):
            out = multi_sketch_build(self.df, self.specs)
        digest = hashlib.sha256(b"".join(out[k].to_bytes() for k in sorted(out))).hexdigest()
        if self.digest is None:
            self.digest = digest
        self.ctx.checks.check("family_build: sketch bytes identical across passes",
                              digest == self.digest)
        self.out = out
        return self.n_turns

    def bloom(self):
        return self.out["bloom"]

    def final_checks(self) -> None:
        c, t, out = self.ctx.checks, self.truth, self.out
        keys = self.corpus.seen_sample(2000, self.ctx.seed)
        hit = out["bloom"].contains(hashes_of(self.spark, keys, KEY))
        c.check("family_build: no false negatives on sampled inserted keys",
                bool(hit.all()), f"{int((~hit).sum())} of {hit.size} missed")
        hll = out["hll"]
        est, exact = hll.estimate(), t["distinct_conv"]
        c.check("family_build: HLL within 3 sigma of exact distinct conv_id",
                abs(est - exact) <= 3 * hll.rse() * exact, f"{est:.0f} vs {exact}")
        tools = sorted(t["tool_counts"])
        got = out["cms"].query(hashes_of(self.spark, [(x,) for x in tools], ["tool"]))
        under = [x for x, g in zip(tools, got) if g < t["tool_counts"][x]]
        c.check("family_build: CMS never undercounts a tool", not under, f"under: {under}")
        c.check("family_build: KLL counts every turn", out["kll"].n == self.n_turns,
                f"{out['kll'].n} vs {self.n_turns}")

    def unseen_false_positives(self) -> tuple[int, int]:
        from bloomfilter_spark.agg import with_membership
        batch = self.spark.read.parquet(self.corpus.probe_path)
        counts = member_counts(with_membership(batch, self.bloom(), KEY))
        return counts[False][1], counts[False][0]


class DedupProbe(Workload):
    name = "dedup_probe"
    why = "read path: probes a half-seen batch through broadcast Bloom, sharded cogroup Bloom and broadcast CMS"

    shard_table = None
    batch = None

    def setup(self) -> None:
        from bloomfilter_spark.agg import multi_sketch_build
        from bloomfilter_spark.operators.sharded import build_sharded_bloom
        self.release()
        df = self.open_corpus()
        out = multi_sketch_build(df, family_specs(self.n_turns, ("bloom", "cms")))
        self.sketches = out
        self.shard_table = build_sharded_bloom(df, KEY, capacity=self.n_turns, fpr=FPR,
                                               n_shards=N_SHARDS).persist()
        self.shard_table.count()
        self.batch = self.spark.read.parquet(self.corpus.probe_path).cache()
        self.n_batch = self.batch.count()
        self.false_pos = {}

    def release(self) -> None:
        for df in (self.shard_table, self.batch):
            if df is not None:
                df.unpersist()

    def bloom(self):
        return self.sketches["bloom"]

    def _membership(self, path: str, probed) -> None:
        counts = member_counts(probed)
        n_seen, m_seen = counts[True]
        self.ctx.checks.check(f"dedup_probe: no false negatives on the {path} path",
                              m_seen == n_seen, f"{n_seen - m_seen} of {n_seen} missed")
        fp = counts[False][1], counts[False][0]
        self.ctx.checks.check(f"dedup_probe: {path} answers identical across passes",
                              self.false_pos.setdefault(path, fp) == fp)

    def run_pass(self) -> int:
        from pyspark.sql import functions as F

        from bloomfilter_spark.agg import with_cms_count, with_membership
        from bloomfilter_spark.operators.sharded import sharded_membership
        tr = self.ctx.tracer
        with tr.span("agg.with_membership"):
            self._membership("broadcast", with_membership(self.batch, self.bloom(), KEY))
        with tr.span("operators.sharded.sharded_membership"):
            self._membership("sharded", sharded_membership(self.batch, self.shard_table, KEY))
        with tr.span("agg.with_cms_count"):
            rows = (with_cms_count(self.batch, self.sketches["cms"], ["tool"])
                    .groupBy("tool").agg(F.min("est_count").alias("est")).collect())
        exact = self.truth["tool_counts"]
        under = [r["tool"] for r in rows
                 if r["tool"] is not None and r["est"] < exact.get(r["tool"], 0)]
        self.ctx.checks.check("dedup_probe: CMS never undercounts", not under, f"under: {under}")
        return self.n_batch

    def final_checks(self) -> None:
        fp, n = self.false_pos["sharded"]
        self.ctx.checks.check("dedup_probe: sharded FPR within configured + 3 sigma",
                              fp / n <= fpr_limit(n), f"{fp}/{n}")

    def unseen_false_positives(self) -> tuple[int, int]:
        return self.false_pos["broadcast"]


WORKLOADS = {w.name: w for w in (FamilyBuild, DedupProbe)}


PROBE_SIZE = 20


class PointProber:
    """Closed loop, one client: each probe sends ``PROBE_SIZE`` seen turns
    through the broadcast membership path and waits for the answer."""

    def __init__(self, ctx, n_probes: int):
        self.ctx = ctx
        self.keys = ctx.corpus.seen_sample(n_probes * PROBE_SIZE, ctx.seed + 1)
        self.latencies_ms: list[float] = []

    def first_key(self) -> tuple[str, str]:
        return self.keys[0]

    def probe(self, bloom, count: int) -> None:
        from bloomfilter_spark.agg import with_membership
        for _ in range(count):
            i = len(self.latencies_ms)
            pdf = pd.DataFrame(self.keys[i * PROBE_SIZE:(i + 1) * PROBE_SIZE], columns=KEY)
            t0 = time.perf_counter()
            with self.ctx.tracer.span("agg.with_membership"):
                rows = with_membership(self.ctx.spark.createDataFrame(pdf), bloom, KEY).collect()
            self.latencies_ms.append((time.perf_counter() - t0) * 1000.0)
            missed = sum(1 for r in rows if not r["is_member"])
            self.ctx.checks.check("point probe: every seen turn is a member", missed == 0,
                                  f"probe {i}: {missed} of {len(rows)} missed")
