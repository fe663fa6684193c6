"""The traced run's layer table: every layer timed from outside, at the
public functions of its module, on the run's own corpus.

Every per-layer metric names the end-to-end metric it should move
(``per_layer_spec``). The keyed layers (salted grouped tables, codegen-reduced
grouped builds, stateful streaming) have no end-to-end workload of their
own: their pass is dominated by per-key and per-trigger overheads too long
to repeat within one run, so they are measured here only, with their
correctness checks.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import numpy as np
import pandas as pd

from workloads import CMS_DELTA, CMS_EPS, FPR, HLL_P, KEY, KLL_K, hashes_of

FB, DP = "family_build/turns_per_s", "dedup_probe/turns_per_s"
KEYED = "not gated (no keyed workload)"
PROBE = "dedup_probe/probe_p50_ms"
GROUPED_HLL_P = 10
KEYED_EPS, KEYED_DELTA = 1e-3, 1e-3
MG_K = 64

# public calls timed one by one: (span name, end-to-end metric it moves)
CALLS = [
    ("sources.scan", FB),
    ("agg.prehash", FB),
    ("agg.pipe", FB),
    ("agg.multi_sketch_build", FB),
    ("agg.with_membership", DP),
    ("operators.sharded.sharded_membership", DP),
    ("agg.with_cms_count", DP),
    ("agg.grouped_sketch_table", KEYED),
    ("jvm_build.mg_grouped_build_preagg", KEYED),
    ("jvm_build.cms_grouped_build_jvm", KEYED),
    ("streaming.stateful_grouped_cms", KEYED),
]
STAGE_METRICS = [("executor_run_s", "s", "lower"), ("pipe_bytes", "bytes", "lower"),
                 ("shuffle_write_bytes", "bytes", "lower"), ("task_skew", "ratio", "lower")]
KERNELS = [
    ("sketches.bloom.update_ns", "ns", FB), ("sketches.hll.update_ns", "ns", FB),
    ("sketches.cms.update_ns", "ns", FB), ("sketches.kll.update_ns", "ns", FB),
    ("sketches.bloom.contains_ns", "ns", DP), ("sketches.cms.query_ns", "ns", DP),
    ("sketches.bloom.to_bytes_ms", "ms", PROBE), ("sketches.bloom.from_bytes_ms", "ms", PROBE),
    ("sketches.bloom.merge_ms", "ms", FB), ("sketches.hll10.roundtrip_us", "us", KEYED),
]
STREAMING = [("streaming.batch_p50_s", "s", "lower", KEYED),
             ("streaming.batches", "count", "lower", KEYED),
             ("streaming.state_rows", "count", "lower", KEYED),
             ("streaming.state_bytes", "bytes", "lower", KEYED)]
SELF_LAYERS = ["sources", "agg", "sketches", "jvm_build", "operators.sharded", "streaming"]
SESSION = [("session.leaked_persists", "workload"), ("session.conf_changed", "workload"),
           ("session.layer_leaked_persists", "layer table"),
           ("session.layer_conf_changed", "layer table")]


def per_layer_spec() -> list[dict]:
    """Every per-layer metric: name, unit, better, and what it moves."""
    out = [{"name": f"{n}_s", "unit": "s", "better": "lower", "moves": m} for n, m in CALLS]
    out += [{"name": f"{n}.{k}", "unit": u, "better": b, "moves": m}
            for n, m in CALLS for k, u, b in STAGE_METRICS]
    out += [{"name": n, "unit": u, "better": "lower", "moves": m} for n, u, m in KERNELS]
    out += [{"name": n, "unit": u, "better": b, "moves": m} for n, u, b, m in STREAMING]
    out += [{"name": f"self_s.{x}", "unit": "s", "better": "lower", "moves": "traced run"}
            for x in SELF_LAYERS]
    out += [{"name": n, "unit": "count", "better": "lower", "moves": f"session hygiene ({w})"}
            for n, w in SESSION]
    out += [{"name": "trace.overhead_ratio", "unit": "ratio", "better": "lower",
             "moves": "untraced / traced turns_per_s of this workload"}]
    return out


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _median_time(fn, reps: int) -> float:
    fn()  # warm call
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


class LayerTable:
    """Runs every layer call once under its span, plus the kernels."""

    def __init__(self, ctx, dedup_state):
        self.ctx = ctx
        self.spark = ctx.spark
        self.corpus = ctx.corpus
        self.truth = ctx.corpus.truth
        self.n_turns = self.truth["turns"]
        self.dedup = dedup_state
        self.values: dict[str, float] = {}
        self.groups: dict[str, list[str]] = {}  # Spark job groups per span

    def _timed(self, name: str, fn):
        t0 = time.perf_counter()
        with self.ctx.tracer.span(name) as rec:
            out = fn()
        self.values[f"{name}_s"] = time.perf_counter() - t0
        if rec is not None:
            self.groups.setdefault(name, []).append(rec["group"])
        return out

    def run(self) -> dict[str, float]:
        from pyspark.sql import functions as F

        from bloomfilter_spark import agg
        from bloomfilter_spark.operators.sharded import sharded_membership
        from workloads import family_specs, member_counts
        sp = self.spark
        df = sp.read.parquet(self.corpus.files_dir)
        # the four spec inputs of the family build
        proj = {"bloom": KEY, "hll": ["conv_id"], "cms": ["tool"], "kll": [F.length("text")]}
        self._timed("sources.scan", lambda: _noop(df.select("conv_id", "text", "tool")))
        self._timed("agg.prehash", lambda: _noop(agg.prehash(df, proj)))

        def count_rows(it):
            yield pd.DataFrame({"n": [sum(len(pdf) for pdf in it)]})
        self._timed("agg.pipe", lambda: agg.prehash(df, proj)
                    .mapInPandas(count_rows, "n long").collect())
        self._timed("agg.multi_sketch_build",
                    lambda: agg.multi_sketch_build(df, family_specs(self.n_turns)))

        d = self.dedup
        self._timed("agg.with_membership",
                    lambda: member_counts(agg.with_membership(d.batch, d.bloom(), KEY)))
        self._timed("operators.sharded.sharded_membership",
                    lambda: member_counts(sharded_membership(d.batch, d.shard_table, KEY)))
        self._timed("agg.with_cms_count", lambda: agg.with_cms_count(
            d.batch, d.sketches["cms"], ["tool"]).groupBy("tool").agg(F.min("est_count")).collect())

        self.keyed(df)
        self.kernels(df)
        return self.values

    # --- keyed layers ------------------------------------------------------
    def keyed(self, df) -> None:
        from pyspark.sql import functions as F

        from bloomfilter_spark import agg, jvm_build
        from bloomfilter_spark.sketches import HyperLogLog
        checks = self.ctx.checks
        tools = df.where(F.col("tool").isNotNull())
        top = set(self.truth["top_conv_distinct_text"])
        table = self._timed("agg.grouped_sketch_table", lambda: agg.grouped_sketch_table(
            df, ["conv_id"], ["text"], lambda: HyperLogLog(GROUPED_HLL_P)).collect())
        hll_rows = [r for r in table if r["conv_id"] in top]
        bad = []
        for r in hll_rows:
            hll = HyperLogLog.from_bytes(bytes(r["sketch"]))
            exact = self.truth["top_conv_distinct_text"][r["conv_id"]]
            if abs(hll.estimate() - exact) > 4 * hll.rse() * exact:
                bad.append((r["conv_id"], round(hll.estimate()), exact))
        checks.check("keyed: per-key HLL within 4 sigma for the top-100 conv_ids",
                     len(hll_rows) == len(top) and not bad, f"{len(hll_rows)} keys, off: {bad}")

        mg_rows = self._timed("jvm_build.mg_grouped_build_preagg", lambda: jvm_build
                              .mg_grouped_build_preagg(tools, ["tool"], ["conv_id"], k=MG_K)
                              .collect())
        self._check_mg(mg_rows)
        cms_rows = self._timed("jvm_build.cms_grouped_build_jvm", lambda: jvm_build
                               .cms_grouped_build_jvm(tools, ["tool"], ["conv_id"],
                                                      eps=KEYED_EPS, delta=KEYED_DELTA)
                               .collect())
        streamed, progress = self._timed("streaming.stateful_grouped_cms",
                                         lambda: self._stream(df.schema))
        batch = {r["tool"]: bytes(r["sketch"]) for r in cms_rows}
        differ = sorted(t for t in batch if streamed.get(t) != batch[t])
        checks.check("keyed: streamed per-tool CMS byte-equal to cms_grouped_build_jvm",
                     set(streamed) == set(batch) and not differ, f"differ: {differ[:5]}")
        durations = [p["durationMs"].get("triggerExecution", 0) / 1000.0 for p in progress
                     if p.get("numInputRows", 0) > 0]
        state = (progress[-1].get("stateOperators") or [{}])[0] if progress else {}
        self.values["streaming.batch_p50_s"] = statistics.median(durations) if durations else 0.0
        self.values["streaming.batches"] = len(durations)
        self.values["streaming.state_rows"] = state.get("numRowsTotal", 0)
        self.values["streaming.state_bytes"] = state.get("memoryUsedBytes", 0)

    def _check_mg(self, mg_rows) -> None:
        from bloomfilter_spark.sketches.mg import MisraGries
        pairs = self.truth["tool_conv_counts"]
        convs = sorted(set(pairs["conv_id"]))
        h = dict(zip(convs, hashes_of(self.spark, [(c,) for c in convs], ["conv_id"])))
        by_tool: dict[str, tuple[list, list]] = {}
        for t, c, n in zip(pairs["tool"], pairs["conv_id"], pairs["count"]):
            hs, ns = by_tool.setdefault(t, ([], []))
            hs.append(h[c])
            ns.append(n)
        bad = []
        for r in mg_rows:
            mg = MisraGries.from_bytes(bytes(r["sketch"]))
            hs, ns = by_tool[r["tool"]]
            stored = mg.query(np.array(hs, dtype=np.uint64))
            exact = np.array(ns)
            if not ((stored <= exact) & (exact <= stored + mg.dec)).all():
                bad.append(r["tool"])
        self.ctx.checks.check("keyed: MG stored <= exact <= stored + dec per tool",
                              len(mg_rows) == len(by_tool) and not bad, f"off: {bad}")

    def _stream(self, schema):
        """Per-tool CMS of conv_id kept by applyInPandasWithState over the
        corpus files, one file per trigger; returns the final blob per tool
        and the query's progress reports."""
        from pyspark.sql import functions as F

        from bloomfilter_spark.streaming import stateful_grouped_cms
        ckpt = os.path.join(self.ctx.work_dir, "stream-ckpt")
        shutil.rmtree(ckpt, ignore_errors=True)
        src = (self.spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
               .parquet(self.corpus.files_dir).where(F.col("tool").isNotNull()))
        out = stateful_grouped_cms(src, "tool", "conv_id", eps=KEYED_EPS, delta=KEYED_DELTA)
        q = (out.writeStream.outputMode("update").format("memory").queryName("pb_stream_cms")
             .option("checkpointLocation", ckpt).trigger(availableNow=True).start())
        # micro-batches run under the query's own job group, its run id
        self.groups.setdefault("streaming.stateful_grouped_cms", []).append(str(q.runId))
        try:
            q.awaitTermination()
            progress = q.recentProgress
        finally:
            q.stop()
        rows = self.spark.sql("SELECT tool, sketch, n_updates FROM pb_stream_cms").collect()
        final: dict[str, tuple[int, bytes]] = {}
        for r in rows:
            if r["tool"] not in final or r["n_updates"] > final[r["tool"]][0]:
                final[r["tool"]] = (r["n_updates"], bytes(r["sketch"]))
        self.spark.catalog.dropTempView("pb_stream_cms")
        shutil.rmtree(ckpt, ignore_errors=True)
        return {t: b for t, (_, b) in final.items()}, progress

    # --- numpy kernels -----------------------------------------------------
    def kernels(self, df) -> None:
        """Per-key kernel costs on 1M of the workload's own hashes (the
        corpus's (conv_id, text) hashes, tiled), at the workload's (m, k)."""
        from pyspark.sql import functions as F

        from bloomfilter_spark.agg import hash_col
        from bloomfilter_spark.sketches import KLL, BloomFilter, CountMinSketch, HyperLogLog
        from bloomfilter_spark.util import to_u64
        tr, v, n = self.ctx.tracer, self.values, 1_000_000
        rows = df.select(hash_col(KEY).alias("h"), F.length("text").alias("len")).toPandas()
        h = np.resize(to_u64(rows["h"].to_numpy()), n)
        lens = np.resize(rows["len"].to_numpy(dtype=np.float64), n)
        proto = BloomFilter.for_capacity(self.n_turns, FPR)
        full = BloomFilter(proto.num_bits, proto.num_hashes)
        full.update(h)
        blob = full.to_bytes()

        def ns_per_key(sk, op, data):
            return _median_time(lambda: op(sk, data), 5) * 1e9 / n

        with tr.span("sketches.kernels"):
            cms = CountMinSketch(eps=CMS_EPS, delta=CMS_DELTA)
            v["sketches.bloom.update_ns"] = ns_per_key(
                BloomFilter(proto.num_bits, proto.num_hashes), BloomFilter.update, h)
            v["sketches.hll.update_ns"] = ns_per_key(HyperLogLog(HLL_P), HyperLogLog.update, h)
            v["sketches.cms.update_ns"] = ns_per_key(cms, CountMinSketch.update, h)
            v["sketches.kll.update_ns"] = ns_per_key(KLL(KLL_K), KLL.update, lens)
            v["sketches.bloom.contains_ns"] = ns_per_key(full, BloomFilter.contains, h)
            v["sketches.cms.query_ns"] = ns_per_key(cms, CountMinSketch.query, h)
            v["sketches.bloom.to_bytes_ms"] = _median_time(full.to_bytes, 5) * 1e3
            v["sketches.bloom.from_bytes_ms"] = _median_time(
                lambda: BloomFilter.from_bytes(blob), 5) * 1e3
            other = BloomFilter.from_bytes(blob)
            v["sketches.bloom.merge_ms"] = _median_time(lambda: other.merge(full), 5) * 1e3
            small = HyperLogLog(GROUPED_HLL_P)
            small.update(h[:1000])

            def roundtrip():
                for _ in range(1000):
                    HyperLogLog.from_bytes(small.to_bytes()).merge(small)
            v["sketches.hll10.roundtrip_us"] = _median_time(roundtrip, 3) * 1e3
