"""Streaming deduplication with Bloom-filter state.

The north-rule question "has this conv_id/text-hash been seen?" as a
streaming operator: Spark's own `dropDuplicates` on an unbounded stream
keeps EXACT key state — at 10^12 turns that is terabytes of state store.
`BloomDedupStream` holds one sized Bloom filter instead (e.g. 10^9 keys at
1% FPR ≈ 1.2 GiB), trading an ≤ ε false-drop rate for O(m) state:

- zero false negatives ⇒ every cross-batch duplicate is caught (the hard
  guarantee, `/root/reference/Data/BloomFilter.hs:16-18`);
- a false positive drops a genuinely-new row with probability ≤ the
  configured ε — the right trade for training-data dedup, where a lost
  document is noise but a kept duplicate is a defect;
- in-batch duplicates are removed exactly (per-batch `dropDuplicates`).

`ScalableBloomDedupStream` is the same operator over a growing
ScalableBloomFilter; it overrides only the state and the insert step.

Epoch handling mirrors `SketchAccumulator` (one `_EpochFile`): the filter,
last epoch and row metrics persist atomically per batch, replayed epochs
are skipped on restart (the sink saw those rows already — at-least-once
emit during the crash window, never duplicate emission after a persisted
epoch).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, functions as F

from ..agg import build_sketch, with_membership
from ..config import DEFAULT_SEED
from ..sizing import analytic_fpr, suggest_sizing
from ..sketches.bloom import BloomFilter
from ..sketches.scalable import ScalableBloomFilter
from .sketch_stream import _EpochFile


class BloomDedupStream:
    """foreachBatch dedup: emit only rows whose key was never seen.

    >>> dedup = BloomDedupStream(["conv_id", "text"], capacity=10**9,
    ...                          fpr=0.01, sink=lambda df, epoch: ...)
    >>> q = stream.writeStream.foreachBatch(dedup).start()

    ``sink``: callable ``(fresh_df, epoch_id)`` — receives the deduplicated
    slice of each micro-batch; or a directory path string (appended as
    parquet). Rows with a NULL in any key column are passed through
    unchanged and never inserted (SQL semantics: NULL keys compare equal to
    nothing, matching the batch builder's NULL-skip in `prepare_input`).

    The broadcast-membership probe re-ships the filter each batch; beyond
    the broadcast budget (see `plans.planning`), run the same topology with
    `operators.sharded` tables instead — this class is the in-memory tier.
    """

    _STATE_FILE = "dedup_state.bin"

    def __init__(self, cols, capacity: int, fpr: float = 0.01,
                 sink: Callable[[DataFrame, int], None] | str | None = None,
                 seed: int = DEFAULT_SEED, state_dir: str | None = None):
        self.filter = self._open(cols, BloomFilter(*suggest_sizing(capacity, fpr)),
                                 sink, seed, state_dir)

    def _open(self, cols, state, sink, seed, state_dir):
        """Set the shared fields; return ``state`` or its restored copy."""
        self.cols = [cols] if isinstance(cols, str) else list(cols)
        self.sink = sink
        self.seed = seed
        self.state_dir = state_dir
        self.last_epoch, self.rows_in, self.rows_emitted = -1, 0, 0
        self._file = _EpochFile(state_dir, self._STATE_FILE) if state_dir else None
        saved = self._file.read(3) if self._file else None
        if not saved:
            return state
        (self.last_epoch, self.rows_in, self.rows_emitted), blob = saved
        return type(state).from_bytes(blob)

    def _state(self) -> BloomFilter:
        return self.filter

    def _partial(self, fresh: DataFrame, like: BloomFilter) -> BloomFilter:
        """One distributed build of ``fresh`` keys at ``like``'s geometry."""
        return build_sketch(
            fresh, self.cols,
            lambda: BloomFilter(like.num_bits, like.num_hashes, like.variant),
            seed=self.seed)

    def _fresh(self, keyed: DataFrame) -> DataFrame:
        seen = with_membership(keyed, self._state(), self.cols, "__seen",
                               seed=self.seed)
        return seen.where(~F.col("__seen")).drop("__seen")

    def _insert(self, fresh: DataFrame, n_fresh: int) -> None:
        self.filter.merge(self._partial(fresh, self.filter))

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        if epoch_id <= self.last_epoch:
            return  # replayed epoch after restart: state already reflects it
        key_ok = F.lit(True)
        for c in self.cols:
            key_ok = key_ok & F.col(c).isNotNull()
        # one materialization of the micro-batch: the three consumers below
        # (dedup+probe pipeline, null pass-through, rows_in metric) read the
        # cache, not the source — an expensive upstream transform runs once
        batch_df = batch_df.persist()
        fresh = self._fresh(batch_df.where(key_ok).dropDuplicates(self.cols))
        fresh = fresh.persist()
        try:
            n_fresh = fresh.count()
            # NULL-keyed rows pass through, never inserted
            out = fresh.unionByName(batch_df.where(~key_ok))
            if isinstance(self.sink, str):
                out.write.mode("append").parquet(self.sink)
            elif self.sink is not None:
                self.sink(out, epoch_id)
            if n_fresh:
                self._insert(fresh, n_fresh)
            self.rows_in += batch_df.count()
            self.rows_emitted += n_fresh
        finally:
            fresh.unpersist()
            batch_df.unpersist()
        self.last_epoch = epoch_id
        if self._file:
            self._file.write([self.last_epoch, self.rows_in, self.rows_emitted],
                             self._state().to_bytes())


class ScalableBloomDedupStream(BloomDedupStream):
    """`BloomDedupStream` without the capacity guess: state is a
    ScalableBloomFilter (Almeida et al. 2007 — the design the reference
    only sketches at Scalable/Mutable.hs:10-14) whose levels grow by the
    geometric schedule (capacity x2, error x tightening) as the stream
    outlives every estimate.

    Micro-batch adaptation of the single-writer kernel type, keeping every
    insert DISTRIBUTED: a batch's fresh keys build ONE partial filter with
    the CURRENT level's geometry (`agg.build_sketch` — JVM hash, Arrow
    partials, two-level merge) which is OR-merged into that level; the
    probe broadcasts the whole multi-level state once and tests all
    levels inside a single vectorized UDF (`with_membership` on the
    scalable sketch). Driver traffic per batch is O(level bytes), never
    O(rows).

    Batch-granularity caveat (documented deviation from element-at-a-time
    Almeida): a level can overshoot its nominal capacity by at most ONE
    batch, since a batch is never split across levels. The schedule's
    eps_i therefore understates an overshot level's true rate, so
    `compound_bound()` reports the honest union bound from each level's
    ACTUAL fill (sizing.analytic_fpr), not the schedule. Size
    ``initial_capacity`` at or above the expected batch size to keep
    levels near schedule.

    Epoch handling, NULL pass-through, and sink semantics are those of
    BloomDedupStream (state + last epoch persist atomically; replayed
    epochs are skipped)."""

    _STATE_FILE = "scalable_dedup_state.bin"

    def __init__(self, cols, err_rate: float = 0.01,
                 initial_capacity: int = 100_000, tightening: float = 0.5,
                 sink: Callable[[DataFrame, int], None] | str | None = None,
                 seed: int = DEFAULT_SEED, state_dir: str | None = None):
        self.sbf = self._open(
            cols, ScalableBloomFilter(err_rate, initial_capacity, tightening),
            sink, seed, state_dir)

    def _state(self) -> ScalableBloomFilter:
        return self.sbf

    def compound_bound(self) -> float:
        """Honest union bound over levels from ACTUAL fill (see class
        docstring); <= err_rate/(1-tightening) whenever no level overshot."""
        return sum(analytic_fpr(f.num_bits, f.num_hashes, cnt)
                   for f, cnt in zip(self.sbf.filters, self.sbf.counts))

    def _fresh(self, keyed: DataFrame) -> DataFrame:
        # nothing inserted yet: everything is fresh
        return super()._fresh(keyed) if self.sbf.filters else keyed

    def _insert(self, fresh: DataFrame, n_fresh: int) -> None:
        # grow BEFORE insert when the current level is at capacity (the
        # kernel's update() growth rule at batch granularity), then OR the
        # batch's partial into the last level
        if not self.sbf.filters or self.sbf.counts[-1] >= self.sbf.capacities[-1]:
            self.sbf._grow()
        level = self.sbf.filters[-1]
        level.merge(self._partial(fresh, level))
        self.sbf.counts[-1] += n_fresh
