"""Bloom-accelerated semi/anti joins.

At 100 TB the win: build a small Bloom over the dim-side keys (two-level
merged, a few MB), broadcast it, and drop non-matching fact rows *before*
the join shuffle. False positives survive the filter, so an exact join
afterwards keeps results exact — the Bloom only prunes shuffle volume
(the classic runtime-filter pattern; Spark's own InjectRuntimeFilter does
this JVM-side, ours composes with arbitrary key expressions and a tunable
FPR). Zero false negatives (reference guarantee) means no lost rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..agg import build_sketch, with_membership
from ..config import DEFAULT_FPR, DEFAULT_SEED
from ..sizing import suggest_sizing
from ..sketches.bloom import BloomFilter


def build_key_bloom(df: DataFrame, cols, fpr: float = DEFAULT_FPR,
                    capacity: int | None = None, seed: int = DEFAULT_SEED) -> BloomFilter:
    """Size-and-build a Bloom over (possibly composite) join keys.

    Like the reference's easyList (Easy.hs:41-52) this needs the capacity;
    pass it to avoid the extra counting pass (the reference walks its list
    twice as well — documented trade-off, SURVEY.md §7 hard parts (e)).

    The automatic sizing pass counts ROWS, not distinct keys (r6): the
    row count is an upper bound on the key count, and oversizing a Bloom
    only LOWERS its realized FPR — while the distinct() the old sizing
    pass paid is a full shuffle of the dim side at warehouse scale (the
    very cost this operator exists to avoid). Callers with heavily
    duplicated dim keys should pass ``capacity`` (or accept the lower
    FPR at the memory cost the broadcast-budget warning polices)."""
    if capacity is None:
        capacity = df.select(cols if isinstance(cols, str) else list(cols)).count()
    m, k = suggest_sizing(max(capacity, 1), fpr)
    from ..easy import _warn_if_beyond_broadcast
    _warn_if_beyond_broadcast(m)  # that regime wants sharded_bloom_semi_join
    return build_sketch(df, cols, lambda: BloomFilter(m, k), seed=seed)


def bloom_prefilter(fact: DataFrame, bloom: BloomFilter, cols,
                    seed: int = DEFAULT_SEED) -> DataFrame:
    """Keep only fact rows whose key might be in the dim side (exact rows
    plus <= FPR false positives)."""
    out = with_membership(fact, bloom, cols, out_col="__bf_member", seed=seed)
    return out.where(F.col("__bf_member")).drop("__bf_member")


def _dim_keys(dim: DataFrame, on: list[str], dim_on: list[str] | None) -> DataFrame:
    """Dim-side key projection renamed to the fact-side key names."""
    src = dim_on or on
    return dim.select(*[F.col(s).alias(t) for s, t in zip(src, on)])


def bloom_semi_join(fact: DataFrame, dim: DataFrame, on: list[str],
                    dim_on: list[str] | None = None,
                    fpr: float = DEFAULT_FPR, capacity: int | None = None,
                    exact: bool = True, seed: int = DEFAULT_SEED) -> DataFrame:
    """Semi-join fact ⋉ dim on equality of `on` (fact) vs `dim_on` (dim,
    defaults to `on`) columns.

    exact=True (default): bloom prefilter + left_semi join — exact result,
    shuffle sees only ~|matches| + FPR·|fact| rows. exact=False skips the
    verification join (approximate, one-sided error = bloom FPR) — useful
    when the dim side is too large to shuffle at all."""
    keys = _dim_keys(dim, on, dim_on)
    bloom = build_key_bloom(keys, on, fpr=fpr, capacity=capacity, seed=seed)
    pre = bloom_prefilter(fact, bloom, on, seed=seed)
    if not exact:
        return pre
    return pre.join(keys.distinct(), on=on, how="left_semi")


def sharded_bloom_semi_join(fact: DataFrame, dim: DataFrame, on: list[str],
                            dim_on: list[str] | None = None,
                            fpr: float = DEFAULT_FPR,
                            capacity: int | None = None,
                            n_shards: int = 64, exact: bool = True,
                            seed: int = DEFAULT_SEED) -> DataFrame:
    """bloom_semi_join for dim-key sets whose sized filter exceeds the
    broadcast budget: the runtime filter is the DISTRIBUTED sharded Bloom
    (cogroup-by-shard membership, no broadcast, each probe task touches
    one shard's bytes). Same exactness contract as bloom_semi_join;
    plans.plan_bloom decides when this path is required."""
    from .sharded import build_sharded_bloom, effective_shards, sharded_membership

    keys = _dim_keys(dim, on, dim_on)
    if capacity is None:
        capacity = keys.distinct().count()
    # lazy: the returned plan reads the shard table once, and the build's
    # shard count is known here, so the call persists nothing and runs no
    # job beyond the sizing count
    shards = build_sharded_bloom(keys, on, capacity=max(capacity, 1),
                                 fpr=fpr, n_shards=n_shards, seed=seed)
    mem = sharded_membership(fact, shards, on, out_col="__bf_member",
                             seed=seed, n_shards=effective_shards(n_shards))
    pre = mem.where(F.col("__bf_member")).drop("__bf_member")
    if not exact:
        return pre
    return pre.join(keys.distinct(), on=on, how="left_semi")


def bloom_anti_join(fact: DataFrame, dim: DataFrame, on: list[str],
                    dim_on: list[str] | None = None,
                    fpr: float = DEFAULT_FPR, capacity: int | None = None,
                    seed: int = DEFAULT_SEED) -> DataFrame:
    """Anti-join fact ▷ dim: rows whose key is definitely absent pass the
    bloom directly (no false negatives ⇒ exact fast path); possible members
    are verified with a left_anti join on the reduced set."""
    keys = _dim_keys(dim, on, dim_on)
    bloom = build_key_bloom(keys, on, fpr=fpr, capacity=capacity, seed=seed)
    tagged = with_membership(fact, bloom, on, out_col="__bf_member", seed=seed)
    definite_miss = tagged.where(~F.col("__bf_member")).drop("__bf_member")
    maybe = tagged.where(F.col("__bf_member")).drop("__bf_member")
    verified = maybe.join(keys.distinct(), on=on, how="left_anti")
    return definite_miss.unionByName(verified)
