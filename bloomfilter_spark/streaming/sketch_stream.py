"""Structured Streaming sketch accumulation.

Two patterns (SURVEY.md §2.6 streaming row):

1. ``SketchAccumulator`` — foreachBatch: every micro-batch is folded into a
   running sketch with the same two-level batch topology (merge is
   associative, so batch boundaries are invisible — the streaming analog of
   the chunking-invariance property, QC.hs:52-60). State is persisted per
   epoch for exactly-once-ish resume (``_EpochFile``, shared with the
   dedup streams).

2. ``stateful_grouped_*`` / ``stateful_decayed_*`` — one per-key stateful
   operator (``_per_key``) over ``applyInPandasWithState``; each family
   supplies only its state layout and its load/fold/save/emit steps.
   Shared mechanics:

   - NULL drop: rows whose input is NULL (and NaN for value, weight and
     time inputs) are filtered JVM-side before the Arrow pipe, matching
     the batch builders' ``prepare_input`` (xxhash64 would otherwise hash
     a NULL to the seed-only value and insert a phantom element), so
     ``n_updates`` counts rows the kernel actually absorbed.
   - Salt: hash-keyed families hash with ``agg.hash_col`` — the engine's
     salted xxhash64 — so per-key state is merge-compatible with batch
     builds over the same column (byte-identical for CMS, DDSketch, IBLT,
     theta and samples; estimate-equal for HLL).
   - State: the key is cast to string; each key keeps one state-store row
     in ``update`` output mode with no timeout. A call loads the key's row
     (or starts the zero state), folds every pandas chunk, saves the row
     and emits the key's current answer. The zero state is built once on
     the driver before the query is returned, so bad parameters raise
     ``ValueError`` at call time, not inside a running query.
   - Weighted families fold each chunk as (distinct item, count) — state
     cost per DISTINCT item, not per row.
   - Watermark-compatible: pass an event-time watermarked stream for
     bounded state.

   ==============================  ===========================  ==========================================
   function                        state-store row              emitted columns after the key
   ==============================  ===========================  ==========================================
   stateful_grouped_hll            registers, n_updates         approx_distinct, n_updates
   stateful_grouped_theta          sketch, n_updates            sketch, approx_distinct, n_updates
   stateful_grouped_sample         sketch, n_updates            sketch, approx_distinct, n_updates
   stateful_grouped_weighted_...   sketch, n_updates            sketch, approx_total_weight, n_updates
   stateful_grouped_quantile       sketch, n_updates            q, est, n_updates (a row per q)
   stateful_grouped_heavy_hitters  cms, items, hashes,          <item>, est_count, n_updates (top k)
                                   n_updates
   stateful_grouped_cms            cms                          sketch, n_updates, error_bound
   stateful_grouped_ddsketch       dd                           sketch, n_updates, q<q> per quantile
   stateful_grouped_iblt           iblt                         sketch, net_keys, occupied_cells
   stateful_grouped_mg             mg, items, hashes            <item>, count_lo, count_hi, n_updates
   stateful_decayed_heavy_hitters  table, items, hashes, t_ref, <item>, est_decayed, err_bound, t_ref,
                                   w_total, n_updates           n_updates (top k)
   stateful_decayed_quantile       sketch, t_ref, n_updates     q, est, t_ref, w_total, n_updates
   ==============================  ===========================  ==========================================

   HLL keeps raw registers, not a blob. The state layouts are a
   checkpoint contract: a streaming query resumes from state written by
   any earlier build of these functions only while they stay unchanged.
"""

from __future__ import annotations

import math
import os
import struct
from types import SimpleNamespace
from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F, types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..agg import build_sketch, hash_col
from ..config import DEFAULT_SEED
from ..jvm_build import _ddsketch_exprs
from ..sketches import (IBLT, KLL, CountMinSketch, DDSketch, HyperLogLog,
                        MisraGries, SampleSketch, TDigest, ThetaSketch,
                        WeightedSampleSketch)
from ..sketches.base import Sketch
from ..util import to_u64

_B, _D, _L = T.BinaryType(), T.DoubleType(), T.LongType()
_NUMERIC = (T.DoubleType, T.FloatType, T.LongType, T.IntegerType,
            T.DecimalType)


class _EpochFile:
    """One foreachBatch state file: int64 little-endian header fields (the
    last folded epoch first), then a sketch blob. The epoch rides WITH the
    sketch bytes in one atomic ``os.replace``, so a crash between merge and
    persist replays that epoch (at-least-once fold) but a persisted state
    never re-merges it."""

    def __init__(self, state_dir: str, name: str):
        os.makedirs(state_dir, exist_ok=True)
        self.path = os.path.join(state_dir, name)

    def read(self, n_fields: int):
        """(header fields, blob), or None before the first write."""
        if not os.path.exists(self.path):
            return None
        with open(self.path, "rb") as fh:
            raw = fh.read()
        return list(struct.unpack_from(f"<{n_fields}q", raw)), raw[8 * n_fields:]

    def write(self, fields, blob: bytes) -> None:
        tmp = self.path + ".tmp"
        with open(tmp, "wb") as fh:
            fh.write(struct.pack(f"<{len(fields)}q", *fields) + blob)
        os.replace(tmp, self.path)


class SketchAccumulator:
    """Fold a stream into one sketch via foreachBatch.

    >>> acc = SketchAccumulator(["conv_id", "text"], lambda: BloomFilter(m, k))
    >>> q = stream.writeStream.foreachBatch(acc).start()
    """

    def __init__(self, cols, factory: Callable[[], Sketch],
                 seed: int = DEFAULT_SEED, state_dir: str | None = None):
        self.cols = cols
        self.factory = factory
        self.seed = seed
        self.state_dir = state_dir
        self.sketch = factory()
        self.batches_seen: set[int] = set()
        # last epoch folded into the PERSISTED state: replayed epochs after
        # a driver restart are skipped, which matters for counting sketches
        # (a re-merged micro-batch double-counts CMS and corrupts KLL/
        # t-digest weights; Bloom/HLL would merely re-OR/max)
        self.last_epoch = -1
        self._file = _EpochFile(state_dir, "sketch_state.bin") if state_dir else None
        saved = self._file.read(1) if self._file else None
        if saved:
            (self.last_epoch,), blob = saved
            self.sketch = type(self.sketch).from_bytes(blob)

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        if epoch_id in self.batches_seen or epoch_id <= self.last_epoch:
            return  # replayed epoch (this process or a restart): skip
        part = build_sketch(batch_df, self.cols, self.factory, seed=self.seed)
        self.sketch.merge(part)
        self.batches_seen.add(epoch_id)
        self.last_epoch = max(self.last_epoch, epoch_id)
        if self._file:
            self._file.write([self.last_epoch], self.sketch.to_bytes())


# --- the per-key operator and its shared pieces ----------------------------

def _per_key(stream_df: DataFrame, key_col: str, where: Column,
             cols: dict[str, Column], out: list, state: list,
             load, fold, save, emit) -> DataFrame:
    """The one stateful operator (module docstring). ``cols`` is projected
    beside the string key after ``where``; ``out`` and ``state`` are
    (name, type) lists for the emitted columns after the key and for the
    state-store row. ``load(row or None)`` returns the working state,
    ``fold(st, pdf)`` folds one chunk, ``save(st)`` returns the state row
    and ``emit(st, row)`` a one-row dict or a DataFrame."""
    load(None)  # build the zero state on the driver: validates parameters

    def fn(key, pdfs, group: GroupState):
        st = load(group.get if group.exists else None)
        for pdf in pdfs:
            fold(st, pdf)
        row = save(st)
        group.update(row)
        frame = emit(st, row)
        frame = pd.DataFrame([frame]) if isinstance(frame, dict) else frame
        frame.insert(0, key_col, key[0])
        yield frame

    def schema(fields):
        return T.StructType([T.StructField(n, t) for n, t in fields])

    return (stream_df.where(where)
            .select(F.col(key_col).cast("string").alias(key_col),
                    *[c.alias(n) for n, c in cols.items()])
            .groupBy(key_col)
            .applyInPandasWithState(fn, schema([(key_col, T.StringType())] + out),
                                    schema(state), "update",
                                    GroupStateTimeout.NoTimeout))


def _blob_state(new: Callable[[], Sketch], field: str = "sketch",
                counted: bool = True):
    """(state fields, load, save) for a state row of one sketch blob, plus
    the ``n_updates`` row count when ``counted``."""
    cls = type(new())

    def load(row):
        if row is None:
            return SimpleNamespace(sk=new(), n=0)
        return SimpleNamespace(sk=cls.from_bytes(bytes(row[0])),
                               n=row[1] if counted else 0)

    def save(st):
        return (st.sk.to_bytes(), st.n) if counted else (st.sk.to_bytes(),)

    fields = [(field, _B)] + ([("n_updates", _L)] if counted else [])
    return fields, load, save


def _counted(update):
    """fold that applies ``update(sketch, pdf)`` and counts the chunk's rows."""
    def fold(st, pdf):
        update(st.sk, pdf)
        st.n += len(pdf)
    return fold


def _estimate_emit(name: str):
    """(out fields, emit) for (sketch blob, ``name`` = estimate, n_updates)."""
    return ([("sketch", _B), (name, _D), ("n_updates", _L)],
            lambda st, row: {"sketch": row[0], name: st.sk.estimate(),
                             "n_updates": st.n})


def _hashes(pdf) -> np.ndarray:
    return to_u64(pdf["__h"].to_numpy(dtype=np.int64))


def _distinct(x, weights=None):
    """(distinct values, their summed weights or counts, each row's index
    into the distinct values) of one chunk column — the per-DISTINCT
    weighted fold."""
    uniq, inv = np.unique(np.asarray(x), return_inverse=True)
    return uniq, np.bincount(inv, weights=weights), inv


def _not_nan(c: Column) -> Column:
    return c.isNotNull() & ~F.isnan(c)


def _payload(col: str) -> Column:
    # NULL payloads rank as empty bytes (the kernels' None -> b'' rule)
    return F.coalesce(F.col(col).cast("binary"), F.lit(b""))


def _quantile_rows(sk, qs, **cols) -> pd.DataFrame:
    return pd.DataFrame({"q": qs, "est": [float(sk.quantile(q)) for q in qs],
                         **cols})


def _seconds(stream_df: DataFrame, ts_col: str) -> Column:
    """``ts_col`` as epoch-seconds double (a timestamp or numeric column).
    Filter it with ``_not_nan``: a NaN in a numeric ts_col passes isNotNull,
    and one NaN time pins t_ref (max(t_ref, nan)) and poisons the key's
    decayed state forever."""
    ts = F.col(ts_col)
    if not isinstance(stream_df.schema[ts_col].dataType, _NUMERIC):
        ts = ts.cast("timestamp")
    return ts.cast("double")


def _decay_rate(half_life_s: float) -> float:
    if half_life_s <= 0:
        raise ValueError(f"half_life_s must be > 0, got {half_life_s}")
    return math.log(2.0) / float(half_life_s)


def _advance(st, ts: np.ndarray, lam: float):
    """Move the key's reference time to max(t_ref, chunk max). Returns the
    factor that discounts the stored mass to the new reference and each
    row's weight exp(-lam*(t_ref - t_j)); exponents never exceed 0."""
    old = st.t_ref
    st.t_ref = max(old, float(ts.max()))
    decay = math.exp(-lam * (st.t_ref - old)) if np.isfinite(old) else 1.0
    return decay, np.exp(-lam * (st.t_ref - ts))


def _candidates(items=(), hashes=()) -> pd.DataFrame:
    return pd.DataFrame({"__item": pd.Series(list(items), dtype=object),
                         "__h": np.asarray(hashes, dtype=np.int64)})


def _rescore(st, score, n_candidates: int) -> None:
    """Union the stored candidates with this call's chunk items, score them
    against the whole-stream table, keep the ``n_candidates`` best (ties by
    item name)."""
    cand = (pd.concat([st.cand] + st.chunks, ignore_index=True)
            .drop_duplicates("__item"))
    cand = cand.assign(est=score(to_u64(cand["__h"].to_numpy(dtype=np.int64))))
    st.cand = cand.sort_values(["est", "__item"], ascending=[False, True],
                               kind="mergesort").head(n_candidates)


# --- families ----------------------------------------------------------------

def stateful_grouped_hll(stream_df: DataFrame, key_col: str, value_col: str,
                         p: int = 12, seed: int = DEFAULT_SEED) -> DataFrame:
    """Per-key running approx-distinct. State keeps the raw HLL registers;
    the estimate equals a batch-built HLL's over the same rows."""
    def load(row):
        sk = HyperLogLog(p)
        if row is None:
            return SimpleNamespace(sk=sk, n=0)
        sk.registers = np.frombuffer(row[0], dtype="uint8").copy()
        return SimpleNamespace(sk=sk, n=row[1])

    return _per_key(
        stream_df, key_col, F.col(value_col).isNotNull(),
        {"__h": hash_col(value_col, seed)},
        [("approx_distinct", _D), ("n_updates", _L)],
        [("registers", _B), ("n_updates", _L)],
        load, _counted(lambda sk, pdf: sk.update(_hashes(pdf))),
        lambda st: (st.sk.registers.tobytes(), st.n),
        lambda st, _: {"approx_distinct": st.sk.estimate(), "n_updates": st.n})


def stateful_grouped_theta(stream_df: DataFrame, key_col: str,
                           value_col: str, k: int = 4096,
                           seed: int = DEFAULT_SEED) -> DataFrame:
    """Per-key running theta/KMV sketch. Unlike the HLL variant it emits the
    MERGEABLE blob, because theta is the set-EXPRESSION sketch: downstream
    jobs load the per-key blobs and run intersections / a-not-b across keys
    or epochs (sketches.theta_intersect/theta_a_not_b). The final state's
    estimate equals a batch build (jvm_build.theta_build_jvm /
    agg.build_sketch) over the same column at the same k."""
    fields, load, save = _blob_state(lambda: ThetaSketch(k))
    out, emit = _estimate_emit("approx_distinct")
    return _per_key(stream_df, key_col, F.col(value_col).isNotNull(),
                    {"__h": hash_col(value_col, seed)}, out, fields, load,
                    _counted(lambda sk, pdf: sk.update(_hashes(pdf))),
                    save, emit)


def stateful_grouped_sample(stream_df: DataFrame, key_col: str,
                            value_col: str, payload_col: str,
                            k: int = 1024,
                            seed: int = DEFAULT_SEED) -> DataFrame:
    """Per-key running bottom-k sample: K uniform example payloads per key
    ("show me current example texts per tool" without rescanning history),
    emitted as the MERGEABLE SampleSketch blob that merges with batch
    builds (jvm_build.sample_grouped_build_jvm).

    Replay-safe: the sample is a pure function of the distinct (hash,
    min-payload) set, so a replayed batch folds in as a no-op. NULL
    payloads rank as empty bytes; state per key is O(k * avg payload
    bytes), independent of stream length."""
    fields, load, save = _blob_state(lambda: SampleSketch(k))
    out, emit = _estimate_emit("approx_distinct")
    return _per_key(
        stream_df, key_col, F.col(value_col).isNotNull(),
        {"__h": hash_col(value_col, seed), "__pl": _payload(payload_col)},
        out, fields, load,
        _counted(lambda sk, pdf: sk.update(
            _hashes(pdf), pdf["__pl"].to_numpy(dtype=object))),
        save, emit)


def stateful_grouped_weighted_sample(stream_df: DataFrame, key_col: str,
                                     value_col: str, weight_col: str,
                                     payload_col: str, k: int = 1024,
                                     seed: int = DEFAULT_SEED) -> DataFrame:
    """Per-key running WEIGHTED bottom-k sample (ppswor —
    sketches/wsample.py): K example payloads per key with inclusion
    probability proportional to ``weight_col``, plus the total-weight
    estimate, emitted as the MERGEABLE WeightedSampleSketch blob that
    merges with batch builds (jvm_build.wsample_grouped_build_jvm).

    Replay-safe: the state is a pure function of the item SET (per-hash
    max-weight/min-payload canonicalization). Rows with NULL/NaN/<=0
    weight are dropped before the pipe, exactly as the batch path
    (_wsample_dedup) does in codegen, so n_updates counts only rows the
    kernel absorbs. State per key is O(k * avg payload bytes)."""
    fields, load, save = _blob_state(lambda: WeightedSampleSketch(k))
    out, emit = _estimate_emit("approx_total_weight")
    w = F.col(weight_col).cast("double")
    return _per_key(
        stream_df, key_col, F.col(value_col).isNotNull() & _not_nan(w) & (w > 0),
        {"__h": hash_col(value_col, seed), "__w": w,
         "__pl": _payload(payload_col)},
        out, fields, load,
        _counted(lambda sk, pdf: sk.update(
            _hashes(pdf), pdf["__w"].to_numpy(dtype=np.float64),
            pdf["__pl"].to_numpy(dtype=object))),
        save, emit)


def stateful_grouped_quantile(stream_df: DataFrame, key_col: str,
                              value_col: str,
                              factory: Callable[[], Sketch] = None,
                              quantiles=(0.5, 0.9, 0.99)) -> DataFrame:
    """Per-key running quantiles: one value sketch (KLL by default, any
    value sketch via ``factory``) per key; emits one (key, q, est,
    n_updates) row per requested quantile. The published rank bounds of
    the batch build hold: the state is a genuine KLL/t-digest folded over
    the stream. ``n_updates`` is the count the sketch absorbed (DDSketch
    skips ±inf, which KLL and t-digest keep)."""
    factory = factory or (lambda: KLL(200))
    if factory().HASH_KEYED:
        raise ValueError("stateful_grouped_quantile needs a value sketch "
                         "(KLL/TDigest), not a hash-keyed one")
    qs = [float(q) for q in quantiles]
    fields, load, save = _blob_state(factory)

    def fold(st, pdf):
        st.sk.update(pdf["__v"].to_numpy(dtype=np.float64))
        st.n = st.sk.n

    v = F.col(value_col).cast("double")
    return _per_key(stream_df, key_col, _not_nan(v), {"__v": v},
                    [("q", _D), ("est", _D), ("n_updates", _L)], fields,
                    load, fold, save,
                    lambda st, _: _quantile_rows(st.sk, qs, n_updates=st.n))


def stateful_grouped_heavy_hitters(stream_df: DataFrame, key_col: str,
                                   item_col: str, k: int = 10,
                                   n_candidates: int = 256,
                                   eps: float = 1e-4, delta: float = 1e-3,
                                   seed: int = DEFAULT_SEED) -> DataFrame:
    """Per-key streaming heavy hitters: one CMS plus a bounded candidate
    list per key (the streaming form of `operators.topk.cms_heavy_hitters`).

    Each call folds the chunk into the key's CMS, then re-scores the stored
    candidates UNION the chunk's items against the full-stream CMS and
    keeps the ``n_candidates`` best; emits the current top-``k``.

    Guarantees: est_count never undercounts and is within eps*N_key of
    exact. A final top-k item is reported as long as, at its LAST
    occurrence, its full-stream estimate ranked within ``n_candidates`` —
    items are displaced only by genuinely higher estimates, so size
    n_candidates >> k (default 25x) like the batch operator's candidate
    width. State per key is O(d*w + n_candidates)."""
    def load(row):
        if row is None:
            return SimpleNamespace(sk=CountMinSketch(eps=eps, delta=delta),
                                   cand=_candidates(), n=0, chunks=[])
        return SimpleNamespace(sk=CountMinSketch.from_bytes(bytes(row[0])),
                               cand=_candidates(row[1], row[2]), n=row[3],
                               chunks=[])

    def fold(st, pdf):
        uniq, counts, _ = _distinct(pdf["__h"])
        st.sk.update(to_u64(uniq), counts)
        st.n += len(pdf)
        st.chunks.append(pdf[["__item", "__h"]])

    def save(st):
        _rescore(st, st.sk.query, n_candidates)
        return (st.sk.to_bytes(), st.cand["__item"].tolist(),
                st.cand["__h"].tolist(), st.n)

    def emit(st, _):
        top = st.cand.head(k)
        return pd.DataFrame({item_col: top["__item"].to_numpy(),
                             "est_count": top["est"].to_numpy(dtype=np.int64),
                             "n_updates": st.n})

    return _per_key(
        stream_df, key_col, F.col(item_col).isNotNull(),
        {"__item": F.col(item_col).cast("string"),
         "__h": hash_col(item_col, seed)},
        [(item_col, T.StringType()), ("est_count", _L), ("n_updates", _L)],
        [("cms", _B), ("items", T.ArrayType(T.StringType())),
         ("hashes", T.ArrayType(_L)), ("n_updates", _L)],
        load, fold, save, emit)


def stateful_grouped_cms(stream_df: DataFrame, key_col: str, item_col: str,
                         width: int | None = None, depth: int | None = None,
                         eps: float | None = None, delta: float | None = None,
                         seed: int = DEFAULT_SEED) -> DataFrame:
    """Per-key running Count-Min sketch emitting the MERGEABLE blob:
    downstream jobs load the per-key blobs for point-frequency queries
    (never undercounts; overcount <= eps*N_key), merge them across
    keys/epochs, or estimate JOIN SIZES between two streams via
    `CountMinSketch.inner_product`. Emits error_bound = eps*N_key.

    The state is a PLAIN (non-conservative) CMS: plain updates are
    elementwise-additive on uint64 counters, so the final state is
    byte-identical to a batch `cms_build_jvm` / `build_sketch` over the
    same rows at the same geometry and seed. Conservative update is not
    offered: its scatter-max is order-sensitive."""
    fields, load, save = _blob_state(
        lambda: CountMinSketch(width=width, depth=depth, eps=eps, delta=delta),
        "cms", counted=False)

    def fold(st, pdf):
        uniq, counts, _ = _distinct(pdf["__h"])
        st.sk.update(to_u64(uniq), counts)

    return _per_key(
        stream_df, key_col, F.col(item_col).isNotNull(),
        {"__h": hash_col(item_col, seed)},
        [("sketch", _B), ("n_updates", _L), ("error_bound", _D)], fields,
        load, fold, save,
        lambda st, row: {"sketch": row[0], "n_updates": st.sk.total,
                         "error_bound": st.sk.error_bound()})


def stateful_grouped_ddsketch(stream_df: DataFrame, key_col: str,
                              value_col: str, alpha: float = 0.01,
                              bucket_limit: int = 2048,
                              quantiles=(0.5, 0.99)) -> DataFrame:
    """Per-key running DDSketch emitting the MERGEABLE blob (the
    blob-emitting pair of `stateful_grouped_quantile`): downstream jobs
    load the per-key blobs for any-quantile SLO queries with the
    relative-VALUE guarantee (|answer - exact rank item| <= alpha*|item|),
    merge them across keys/epochs, or drift-compare epochs via
    `sketch_ks_distance`. Emits (sketch, n_updates, q<q> per requested
    quantile, e.g. q0_99).

    DDSketch counts are exactly additive, so the final state is
    BYTE-IDENTICAL to a batch `ddsketch_build_jvm` / `build_sketch` over
    the same rows — provided the state never collapses (suggest_ddsketch's
    headroom exists for this). NaN/inf/NULL values are dropped, the kernel
    domain rule."""
    qs = [float(q) for q in quantiles]
    # collision-free column names for any q in [0, 1]: 0.99 -> q0_99
    qnames = [f"q{str(q).replace('.', '_')}" for q in qs]
    fields, load, save = _blob_state(lambda: DDSketch(alpha, bucket_limit),
                                     "dd", counted=False)

    def fold(st, pdf):
        uniq, counts, _ = _distinct(pdf["__v"].to_numpy(dtype=np.float64))
        st.sk.update_weighted(uniq, counts)

    v = F.col(value_col).cast("double")
    finite, _, _ = _ddsketch_exprs(v, 1.0)  # predicate only; idx unused
    return _per_key(
        stream_df, key_col, finite, {"__v": v},
        [("sketch", _B), ("n_updates", _L)] + [(nm, _D) for nm in qnames],
        fields, load, fold, save,
        lambda st, row: {"sketch": row[0], "n_updates": st.sk.n,
                         **{nm: float(st.sk.quantile(q))
                            for nm, q in zip(qnames, qs)}})


def stateful_grouped_iblt(stream_df: DataFrame, key_col: str, item_col: str,
                          max_diff: int = 1024, num_hashes: int = 4,
                          seed: int = DEFAULT_SEED) -> DataFrame:
    """Per-key incrementally-maintained reconciliation digest
    (sketches/iblt.py): every epoch leaves a reconcile-ready digest of the
    stream-so-far that `operators.reconcile.reconcile_digests` (or the SQL
    surface's iblt_subtract_pair + iblt_decode_json) can diff against a
    batch build, a warehoused snapshot, or the same stream on another
    cluster, WITHOUT rescanning anything.

    Semantics match `iblt_build_jvm(..., assume_distinct=True)`: every
    arriving row inserts once, NO dedup — byte-identical to that batch
    build over the same rows. Feed it a stream whose (key, item) is the
    append-only primary key. State per key is O(max_diff) forever.
    Emits (sketch, net_keys = exact signed multiset size, occupied_cells)."""
    proto = IBLT.for_diff(max_diff, num_hashes)
    m, k_ = proto.num_cells, proto.num_hashes
    fields, load, save = _blob_state(lambda: IBLT(m, k_), "iblt",
                                     counted=False)
    return _per_key(
        stream_df, key_col, F.col(item_col).isNotNull(),
        {"__h": hash_col(item_col, seed)},
        [("sketch", _B), ("net_keys", _D), ("occupied_cells", _L)], fields,
        load, lambda st, pdf: st.sk.update(_hashes(pdf)), save,
        lambda st, row: {"sketch": row[0], "net_keys": st.sk.estimate(),
                         "occupied_cells": st.sk.occupied_count()})


def stateful_grouped_mg(stream_df: DataFrame, key_col: str, item_col: str,
                        k: int = 64, emit_k: int = 10,
                        seed: int = DEFAULT_SEED) -> DataFrame:
    """Per-key streaming Misra-Gries: the deterministic counterpart of
    `stateful_grouped_heavy_hitters` — O(k) state per key (vs the CMS's
    O(d*w)) and two-sided bounds with NO failure probability: ``count_lo``
    never overcounts, ``count_hi = count_lo + dec`` never undercounts,
    dec <= N_key/(k+1). Every item with true frequency > N_key/(k+1) is
    retained (zero false negatives). State keeps the hash -> item name map
    for the retained set only; emits the top-``emit_k`` by stored count
    (ties by item name)."""
    def load(row):
        if row is None:
            return SimpleNamespace(sk=MisraGries(k=k), names={})
        return SimpleNamespace(
            sk=MisraGries.from_bytes(bytes(row[0])),
            names=dict(zip(np.asarray(row[2], dtype=np.int64).tolist(),
                           list(row[1]))))

    def fold(st, pdf):
        uniq, counts, inv = _distinct(pdf["__h"])
        st.sk.update(to_u64(uniq), counts)
        first = np.unique(inv, return_index=True)[1]
        st.names.update(zip(uniq.tolist(),
                            pdf["__item"].to_numpy()[first].tolist()))

    def save(st):
        kept = st.sk.items.view(np.int64)
        return (st.sk.to_bytes(), [st.names[int(h)] for h in kept],
                kept.tolist())

    def emit(st, _):
        kept, counts = st.sk.items.view(np.int64), st.sk.counts
        # <= k items, so the Python sort is O(k log k) per key per batch
        order = sorted(range(len(kept)), key=lambda i: (
            -int(counts[i]), st.names[int(kept[i])]))[:emit_k]
        return pd.DataFrame({
            item_col: [st.names[int(h)] for h in kept[order]],
            "count_lo": counts[order].astype(np.int64),
            "count_hi": (counts[order] + st.sk.dec).astype(np.int64),
            "n_updates": st.sk.n})

    return _per_key(
        stream_df, key_col, F.col(item_col).isNotNull(),
        {"__item": F.col(item_col).cast("string"),
         "__h": hash_col(item_col, seed)},
        [(item_col, T.StringType()), ("count_lo", _L), ("count_hi", _L),
         ("n_updates", _L)],
        [("mg", _B), ("items", T.ArrayType(T.StringType())),
         ("hashes", T.ArrayType(_L))],
        load, fold, save, emit)


def stateful_decayed_heavy_hitters(stream_df: DataFrame, key_col: str,
                                   item_col: str, ts_col: str,
                                   half_life_s: float, k: int = 10,
                                   n_candidates: int = 256,
                                   eps: float = 1e-4, delta: float = 1e-3,
                                   seed: int = DEFAULT_SEED) -> DataFrame:
    """Per-key exponentially TIME-DECAYED heavy hitters — "what is hot
    NOW", which the all-time counts of `stateful_grouped_heavy_hitters`
    cannot answer (a cold item with a big history outranks a
    currently-spiking one forever).

    Decayed count at reference time T (the key's max event time):
    C_i(T) = sum over i's occurrences of exp(-lambda*(T - t_j)),
    lambda = ln2 / half_life_s. Maintained in a FLOAT Count-Min table (the
    integer kernel's Kirsch-Mitzenmacher rows): per chunk the stored table
    is scaled once by exp(-lambda*(T' - T)) and rows enter at weight
    exp(-lambda*(T' - t_j)), so the state always equals the one-shot
    computation at T'. The fold is CHUNKING- AND ORDER-INVARIANT up to
    float associativity; late data within the decay horizon lands with
    the right discount, no watermark coupling (Cormode, Shkapenyuk,
    Srivastava & Xu 2009, backward/landmark form; candidate topology as
    in `stateful_grouped_heavy_hitters`).

    Emits the top-``k`` (item, est_decayed, err_bound, t_ref, n_updates).
    est_decayed never undercounts C_i(T) and overcounts by <= err_bound =
    (e/width) * W(T) with probability >= 1 - delta, W(T) the key's total
    decayed weight. State per key is O(depth*width + n_candidates): old
    mass fades, it is never evicted. NULL items and NULL/NaN times are
    dropped; ``ts_col`` may be a timestamp or numeric epoch seconds."""
    lam = _decay_rate(half_life_s)
    shell = CountMinSketch(eps=eps, delta=delta)  # geometry + row hashing
    depth, width = shell.depth, shell.width

    def load(row):
        if row is None:
            return SimpleNamespace(table=np.zeros((depth, width)),
                                   cand=_candidates(), t_ref=-np.inf,
                                   w_total=0.0, n=0, chunks=[])
        table = np.frombuffer(bytes(row[0]), dtype=np.float64)
        return SimpleNamespace(table=table.reshape(depth, width).copy(),
                               cand=_candidates(row[1], row[2]),
                               t_ref=row[3], w_total=row[4], n=row[5],
                               chunks=[])

    def fold(st, pdf):
        decay, w = _advance(st, pdf["__ts"].to_numpy(dtype=np.float64), lam)
        st.table *= decay
        st.w_total = st.w_total * decay + float(w.sum())
        uniq, per_item, _ = _distinct(pdf["__h"], w)
        idx = shell._row_indices(to_u64(uniq))
        for j in range(depth):
            st.table[j] += np.bincount(idx[j], weights=per_item,
                                       minlength=width)
        st.n += len(pdf)
        st.chunks.append(pdf[["__item", "__h"]])

    def save(st):
        _rescore(st, lambda h: st.table[np.arange(depth)[:, None],
                                        shell._row_indices(h)].min(axis=0),
                 n_candidates)
        return (st.table.tobytes(), st.cand["__item"].tolist(),
                st.cand["__h"].tolist(), float(st.t_ref), float(st.w_total),
                st.n)

    def emit(st, _):
        top = st.cand.head(k)
        return pd.DataFrame({item_col: top["__item"].to_numpy(),
                             "est_decayed": top["est"].to_numpy(),
                             "err_bound": math.e / width * st.w_total,
                             "t_ref": float(st.t_ref), "n_updates": st.n})

    ts = _seconds(stream_df, ts_col)
    return _per_key(
        stream_df, key_col, F.col(item_col).isNotNull() & _not_nan(ts),
        {"__item": F.col(item_col).cast("string"), "__ts": ts,
         "__h": hash_col(item_col, seed)},
        [(item_col, T.StringType()), ("est_decayed", _D), ("err_bound", _D),
         ("t_ref", _D), ("n_updates", _L)],
        [("table", _B), ("items", T.ArrayType(T.StringType())),
         ("hashes", T.ArrayType(_L)), ("t_ref", _D), ("w_total", _D),
         ("n_updates", _L)],
        load, fold, save, emit)


def stateful_decayed_quantile(stream_df: DataFrame, key_col: str,
                              value_col: str, ts_col: str,
                              half_life_s: float,
                              quantiles=(0.5, 0.9, 0.99),
                              delta: float = 200.0) -> DataFrame:
    """Per-key exponentially TIME-DECAYED quantiles — "what does the
    latency distribution look like NOW" — the decayed sibling of
    `stateful_grouped_quantile`, whose all-time state lets a week-old
    regression mask a current one.

    Each observation carries weight exp(-lambda*(T - t_j)) at reference
    time T (the key's max event time), lambda = ln2/half_life_s; the
    emitted quantiles are those of that weighted distribution. State is
    one weighted t-digest per key: per chunk the stored centroid weights
    are scaled once by exp(-lambda*(T' - T)) — a uniform rescale, which
    leaves quantiles invariant: the estimate moves only because NEW data
    enters at full weight against faded old mass — and rows enter via
    ``update_weighted`` at their own discounts. t-digest (not KLL) because
    decay needs fractional, rescalable weights.

    Emits (q, est, t_ref, w_total, n_updates) per requested quantile;
    ``w_total`` is the key's surviving decayed mass (effective sample size
    ~ arrival_rate * half_life / ln2). State per key is O(delta)
    centroids. NULL/NaN values and times are dropped."""
    lam = _decay_rate(half_life_s)
    qs = [float(q) for q in quantiles]

    def load(row):
        if row is None:
            return SimpleNamespace(sk=TDigest(delta), t_ref=-np.inf, n=0)
        return SimpleNamespace(sk=TDigest.from_bytes(bytes(row[0])),
                               t_ref=row[1], n=row[2])

    def fold(st, pdf):
        decay, w = _advance(st, pdf["__ts"].to_numpy(dtype=np.float64), lam)
        st.sk._flush()
        st.sk.weights = st.sk.weights * decay
        st.sk.update_weighted(pdf["__v"].to_numpy(dtype=np.float64), w)
        st.n += len(pdf)

    v, ts = F.col(value_col).cast("double"), _seconds(stream_df, ts_col)
    return _per_key(
        stream_df, key_col, _not_nan(v) & _not_nan(ts), {"__v": v, "__ts": ts},
        [("q", _D), ("est", _D), ("t_ref", _D), ("w_total", _D),
         ("n_updates", _L)],
        [("sketch", _B), ("t_ref", _D), ("n_updates", _L)],
        load, fold, lambda st: (st.sk.to_bytes(), float(st.t_ref), st.n),
        lambda st, _: _quantile_rows(st.sk, qs, t_ref=float(st.t_ref),
                                     w_total=st.sk.total_weight,
                                     n_updates=st.n))
