"""Sharded (partitioned) Bloom filter — the scale path when the sized
filter exceeds the broadcast budget.

At 10^12-turn scale, n=10^10 keys at eps=1% needs m ~ 2^37 bits = 16 GiB
(SURVEY.md §4): too big to broadcast, bigger than one driver object should
be. The sharded design keeps the *filter itself* distributed:

  - routing: shard = top log2(S) bits of the base hash (S a power of two) —
    derivable JVM-side (shiftrightunsigned) AND numpy-side (h >> shift)
    without re-hashing, so the build shuffle carries only the hash itself
  - state: a DataFrame (shard int, sketch binary), one row per shard, each
    an independent BloomFilter of total_bits/S bits — collectively the same
    (m, k) math, so the FPR bound is preserved per shard
  - build: ONE shuffle of just the 8-byte hash column, hash-partitioned by
    shard id, then a single mapInPandas pass that numpy-buckets each
    partition's rows by shard and builds every shard it owns exactly once.
    A shard lives wholly inside one partition, so there is no merge stage
    at all — and no salt phase either: shard ids are a hash of a hash, so
    shard sizes are uniform by construction regardless of key skew (the
    salted two-phase topology remains where skew is real: per-KEY sketches
    in agg.grouped_sketch_df, where a key like a hot conv_id is the group).
    A hot DUPLICATE key is the one skew left; ``pre_dedup`` collapses it
    map-side. Per task memory = total_bits/partitions (e.g. 16 GiB total
    across 1024 tasks = 16 MiB/task at the 10^12-turn sizing). This is the
    one sharded build: a JVM word-reduced build (bit_or per probe word)
    gave the same bytes in about twice the time at 16 and 64 shards
    (docs/ARCHITECTURE.md has the numbers).
  - query: cogroup(probes by shard, shard table by shard) -> vectorized
    membership inside applyInPandas — probes shuffle by shard (small rows);
    each task deserializes exactly one shard once
  - set algebra: merge_shard_tables (union / intersect) and
    fold_shard_table (coarser shard count) are one per-shard fold over the
    table's O(S) rows; the corpus is never touched

Zero-false-negative and merge-algebra guarantees carry over shard-wise.
"""

from __future__ import annotations

import functools
from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F, types as T

from ..agg import _cols, hash_col
from ..config import DEFAULT_SEED
from ..sizing import suggest_sizing
from ..sketches.bloom import BloomFilter
from ..util import log2_power_of_two, next_power_of_two, to_u64

SHARD_TABLE_SCHEMA = T.StructType([
    T.StructField("shard", T.IntegerType(), False),
    T.StructField("sketch", T.BinaryType(), True),
    # the build-time shard count rides WITH the table (every row) so query
    # routing can never diverge from build routing — inferring it from
    # max(shard)+1 silently breaks zero-false-negatives when a small corpus
    # leaves the top shards empty
    T.StructField("n_shards", T.IntegerType(), False),
])


def _shard_shift(n_shards: int) -> int:
    """Routing: shard = top log2(S) bits of the base hash. Derivable from
    the hash alone (JVM or numpy, no re-hash), so the build pipe ships ONE
    column. Independent of the probe bits: probes use the low mask bits and
    the splitmix64-mixed h2; FPR math is unaffected. Requires power-of-two
    S (shard_geometry rounds the caller's S up)."""
    if n_shards & (n_shards - 1):
        raise ValueError("n_shards must be a power of two")
    return 64 - log2_power_of_two(n_shards)


def shard_of(h: np.ndarray, n_shards: int) -> np.ndarray:
    """numpy-side shard id of base hashes (uint64) — mirrors _shard_col."""
    if n_shards == 1:
        return np.zeros(h.shape, dtype=np.int64)
    return (h >> np.uint64(_shard_shift(n_shards))).astype(np.int64)


def _shard_col(n_shards: int) -> Column:
    """JVM-side int shard id of the base hash column ``__h``."""
    if n_shards == 1:
        return F.lit(0)
    return F.shiftrightunsigned(F.col("__h"), _shard_shift(n_shards)).cast("int")


def shard_geometry(capacity: int, fpr: float, n_shards: int) -> tuple[int, int]:
    """Per-shard (m, k): size the whole filter, split bits evenly, round the
    shard up to a power of two (only lowers realized FPR)."""
    m_total, k = suggest_sizing(max(capacity, 1), fpr)
    m_shard = max(64, next_power_of_two(-(-m_total // max(n_shards, 1))))
    return m_shard, k


def effective_shards(n_shards: int) -> int:
    """Top-bits routing needs a power-of-two shard count."""
    return next_power_of_two(max(n_shards, 1))


def build_sharded_bloom(df: DataFrame, cols, capacity: int, fpr: float = 0.01,
                        n_shards: int = 32, seed: int = DEFAULT_SEED,
                        pre_dedup: bool = False,
                        with_counts: bool = False) -> DataFrame:
    """Returns the shard table (shard int, sketch binary, n_shards int),
    one row per non-empty shard. Lazy — persist() it for repeated querying.

    Shard routing takes the top bits of the base hash, so shard sizes are
    uniform over DISTINCT keys even under extreme key skew. A
    duplicate-heavy single key (one hot (conv_id, text) repeated billions
    of times) still hashes to one shard and serializes into that shard's
    task; set ``pre_dedup=True`` to collapse duplicates map-side
    (per-Arrow-batch np.unique before the shuffle — one extra Python pass
    over the 8-byte hash column, bounding the hot task's input to one row
    per key per source batch). ``n_shards`` is rounded up to a power of
    two; the build runs in min(n_shards, spark.sql.shuffle.partitions)
    tasks. ``with_counts`` adds an n_rows column (per-shard rows folded
    in, for lineage metrics — counts are post-dedup when pre_dedup is
    set)."""
    n_shards = effective_shards(n_shards)
    m_shard, k = shard_geometry(capacity, fpr, n_shards)
    cs = _cols(cols)
    notnull = functools.reduce(lambda a, b: a & b, [c.isNotNull() for c in cs])
    routed = df.where(notnull).select(hash_col(cs, seed).alias("__h"))
    parts = min(n_shards,
                int(df.sparkSession.conf.get("spark.sql.shuffle.partitions")))
    if pre_dedup:
        def batch_unique(it):
            for pdf in it:
                yield pd.DataFrame({"__h": np.unique(pdf["__h"].to_numpy())})
        routed = routed.mapInPandas(batch_unique, schema="__h long")
    # hash-partition by shard id: every shard's rows land in exactly one
    # partition, so each shard is built once, by one task — no merge stage.
    # Only the 8-byte hash crosses the JVM->Python pipe (the dominant cost
    # of any Python-side build); the shard id re-derives from its top bits.
    routed = (routed.repartition(parts, _shard_col(n_shards).alias("__shard"))
                    .select("__h"))

    def build(it):
        blooms: dict[int, BloomFilter] = {}
        rows: dict[int, int] = {}
        for pdf in it:
            h = to_u64(pdf["__h"].to_numpy())
            sh = shard_of(h, n_shards)
            order = np.argsort(sh, kind="stable")
            sh_s, h_s = sh[order], h[order]
            starts = np.flatnonzero(
                np.concatenate(([True], sh_s[1:] != sh_s[:-1])))
            bounds = np.concatenate((starts, [sh_s.size]))
            for i, s0 in enumerate(starts):
                shard = int(sh_s[s0])
                bf = blooms.get(shard)
                if bf is None:
                    bf = blooms[shard] = BloomFilter(m_shard, k)
                    rows[shard] = 0
                bf.update(h_s[s0:bounds[i + 1]])
                rows[shard] += int(bounds[i + 1] - s0)
        if blooms:
            out = {"shard": list(blooms.keys()),
                   "sketch": [bf.to_bytes() for bf in blooms.values()],
                   "n_shards": n_shards}
            if with_counts:
                out["n_rows"] = [rows[s] for s in blooms]
            yield pd.DataFrame(out)

    schema = SHARD_TABLE_SCHEMA
    if with_counts:  # lineage metrics ride the build pass — no second scan
        schema = T.StructType(list(SHARD_TABLE_SCHEMA.fields)
                              + [T.StructField("n_rows", T.LongType())])
    return routed.mapInPandas(build, schema=schema)


def _fold_shards(df: DataFrame, guard: Callable[[list[int]], None],
                 and_of: int = 0, n_out: int | None = None,
                 num_bits: int | None = None) -> DataFrame:
    """The per-shard fold under merge_shard_tables and fold_shard_table:
    ``df``'s (shard, sketch, n_shards) rows grouped by ``shard`` (the
    output shard id), ``guard`` called on each group's sorted build
    counts, the group's filters OR-ed — or AND-ed when ``and_of`` > 0,
    dropping a shard with fewer rows than that (absent from an input) —
    then bit-folded to ``num_bits`` if given. Rows carry ``n_out`` as
    their shard count, else the group's own."""
    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        counts = sorted(pdf["n_shards"].unique().tolist())
        guard(counts)
        if len(pdf) < and_of:
            return pdf.iloc[:0]
        op = BloomFilter.intersect if and_of else BloomFilter.merge
        bf = None
        for buf in pdf["sketch"]:
            s = BloomFilter.from_bytes(bytes(buf))
            bf = s if bf is None else op(bf, s)
        if num_bits is not None:
            bf = bf.fold(num_bits)
        return pd.DataFrame({"shard": [int(pdf["shard"].iloc[0])],
                             "sketch": [bf.to_bytes()],
                             "n_shards": [n_out or counts[0]]})

    return df.groupBy("shard").applyInPandas(fold, schema=SHARD_TABLE_SCHEMA)


def merge_shard_tables(tables, mode: str = "union") -> DataFrame:
    """Per-shard set algebra over shard tables built with identical
    geometry (same capacity/fpr/n_shards) — e.g. per-bucket checkpointed
    builds or per-day corpus filters.

    mode="union": bitwise OR; commutative/associative, so the merged table
    is byte-identical to a one-shot build over the union of the inputs.
    mode="intersect": bitwise AND (the reference-absent intersection the
    driver-object BloomFilter.intersect provides, distributed): membership
    then approximates "in EVERY input" — no false negatives for true
    common elements, FPR bounded by each input's bound. A shard missing
    from any input intersects to absent and is dropped."""
    if mode not in ("union", "intersect"):
        raise ValueError(f"unknown mode {mode!r}")
    tables = [t.select("shard", "sketch", "n_shards") for t in tables]

    def guard(counts: list[int]) -> None:
        # routing guard: shard id s means a DIFFERENT top-bits hash range
        # under a different shard count, and per-shard (m, k) can coincide
        # across counts (capacity and shards both halved), so the
        # byte-level geometry check cannot catch this — fail loudly
        # instead of silently breaking zero-false-negatives on the merge
        if len(counts) > 1:
            raise ValueError(
                "merge_shard_tables: inputs were built with different "
                f"n_shards ({counts}); shard ids are not comparable across "
                "shard counts — fold the finer table down first "
                "(fold_shard_table)")

    return _fold_shards(functools.reduce(DataFrame.unionByName, tables), guard,
                        and_of=len(tables) if mode == "intersect" else 0)


def fold_shard_table(shard_table: DataFrame, n_shards: int,
                     num_bits: int | None = None) -> DataFrame:
    """Shard-count downgrade: re-key a shard table to ``n_shards`` (a
    power of two <= the build count) by OR-merging each group of
    adjacent shards — the migration path merge_shard_tables' routing
    guard points at when two tables were built at different counts.

    EXACT, because routing and probing use disjoint hash bits: shard ids
    are the top log2(S) bits (so the S'-routing of a key is its
    S-routing shifted right — old shards [j*r, (j+1)*r) ARE new shard
    j's key set), while probe positions depend only on (hash, m, k).
    The folded table is therefore byte-identical to a direct build at
    n_shards with the SAME per-shard geometry — equivalently, to a
    direct build at n_shards' own (r*m)-bit geometry folded per shard
    by BloomFilter.fold(m) (both pinned in tests). Pass ``num_bits`` to
    also fold each merged filter's bit size (m can only shrink; fpp()
    reports the resulting fill honestly).

    Scale shape: one shuffle of O(S) filter rows by the new shard id;
    the corpus is never touched."""
    if n_shards < 1 or (n_shards & (n_shards - 1)):
        raise ValueError("n_shards must be a power of two >= 1")

    def guard(counts: list[int]) -> None:
        if len(counts) > 1:
            raise ValueError(
                f"fold_shard_table: mixed build n_shards ({counts}) — fold "
                "each table separately, then merge_shard_tables")
        if counts[0] < n_shards or counts[0] % n_shards:
            raise ValueError(
                f"fold target n_shards={n_shards} must divide the build "
                f"count {counts[0]} (top-bits routing only nests downward)")

    new_shard = F.floor(
        F.col("shard") / (F.col("n_shards") / F.lit(n_shards))).cast("int")
    return _fold_shards(
        shard_table.select(new_shard.alias("shard"), "sketch", "n_shards"),
        guard, n_out=n_shards, num_bits=num_bits)


def sharded_membership(df: DataFrame, shard_table: DataFrame, cols,
                       out_col: str = "is_member",
                       seed: int = DEFAULT_SEED,
                       n_shards: int | None = None) -> DataFrame:
    """Membership column against a sharded filter via cogroup-by-shard —
    no broadcast; each task touches exactly one shard's bytes.

    ``n_shards`` defaults to the build-time count persisted in the shard
    table's ``n_shards`` column, so query routing always matches build
    routing (zero false negatives hold even when a small corpus left top
    shards empty). Tables persisted without the column fall back to
    max(shard)+1 inference; pass ``n_shards`` explicitly for those."""
    cs = _cols(cols)
    if n_shards is None:
        if "n_shards" in shard_table.columns:
            n_shards = int(shard_table.select("n_shards").first()[0])
        else:
            n_shards = effective_shards(
                int(shard_table.agg(F.max("shard")).first()[0]) + 1)
    shard_table = shard_table.select("shard", "sketch")

    withkeys = (df.withColumn("__h", hash_col(cs, seed))
                  .withColumn("__shard", _shard_col(n_shards)))

    out_schema = T.StructType(list(withkeys.schema.fields)
                              + [T.StructField(out_col, T.BooleanType())])

    def fn(probes: pd.DataFrame, shard: pd.DataFrame) -> pd.DataFrame:
        if len(shard):
            bf = BloomFilter.from_bytes(bytes(shard["sketch"].iloc[0]))
            member = bf.contains(to_u64(probes["__h"].to_numpy()))
        else:
            member = np.zeros(len(probes), dtype=bool)
        out = probes.copy()
        out[out_col] = member
        return out

    cg = withkeys.groupBy("__shard").cogroup(shard_table.groupBy("shard"))
    result = cg.applyInPandas(lambda key, probes, shard: fn(probes, shard),
                              schema=out_schema)
    return result.drop("__h", "__shard")
