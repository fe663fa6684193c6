"""Distributed sketch aggregation driver.

Re-expresses the reference's build lifecycle (create -> insert* ->
unsafeFreeze, /root/reference/Data/BloomFilter.hs:123-131) as Spark's
partial-aggregate model (SURVEY.md §1.4, §3.1):

  scan -> [JVM] xxhash64 hash column -> [Arrow] mapInPandas partial sketch
  per partition -> two-level (treeAggregate-style) merge of serialized
  partials -> final sketch (driver object or 1-row DataFrame).

multi_sketch_build skips the executor merge while partials x dense state
is at most 64 MB: its own collect() returns the partials (one stage, no
shuffle) and the driver folds them in partition order.

All per-row work is columnar: hashing happens JVM-side via
``F.xxhash64`` (whole-stage codegen), kernels consume numpy arrays from
Arrow batches. No per-row Python (BASELINE.json input_hint).

Grouped sketches use the salted two-phase topology the north rule names:
groupBy(keys + salt) partials -> groupBy(keys) merge, so one hot key
(conv_id skew) fans out across `salt` tasks before the final merge.
"""

from __future__ import annotations

from typing import Callable, Iterable, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F, types as T

from .config import DEFAULT_MERGE_PARTITIONS, DEFAULT_SEED
from .sketches.base import Sketch
from .util import U64, to_u64

SKETCH_SCHEMA = "sketch binary"

# Most dense partial state (partials x state bytes) multi_sketch_build
# folds on the driver: far below the default spark.driver.maxResultSize
# (1 GB); P = 10^5 multi-MB partials still take the executor tree merge.
_DRIVER_FOLD_BYTES = 64 << 20

# per-executor cache of deserialized broadcast sketches (avoids re-parsing
# the sketch for every Arrow batch). Keyed by an explicit unique token that
# rides INSIDE the broadcast value — NEVER by id(bc): Python reuses freed
# addresses, so a later broadcast can alias a dead one's id() and silently
# serve a stale sketch (manifested as mass false negatives).
_BC_CACHE: dict[tuple, Sketch] = {}


def _cols(cols) -> list[Column]:
    if isinstance(cols, (str, Column)):
        cols = [cols]
    return [F.col(c) if isinstance(c, str) else c for c in cols]


def hash_col(cols, seed: int = DEFAULT_SEED) -> Column:
    """Salted 64-bit hash of one or more columns, computed JVM-side.

    Composite keys hash as the variadic form (tuple-instance analog,
    reference Hash.hs:288-303). The salt rides as a leading literal since
    Spark's xxhash64 has a fixed internal seed.

    The literal is pinned to LongType: xxhash64 hashes int32 and int64
    differently, and lit() picks the type from the Python int's
    magnitude — the default 62-bit seed became a long while a small
    override (SPARK_GRAFT_SEED sweep, test seeds) became an int, so
    build-path hashes silently diverged from the SQL surface's
    sketch_seed() (always long). Every seed literal in the engine
    carries this cast for the same reason.
    """
    return F.xxhash64(F.lit(seed).cast("long"), *_cols(cols))


def prehash(df: DataFrame, col_map: dict[str, list], seed: int = DEFAULT_SEED) -> DataFrame:
    """Hash-once projection: one xxhash64 column per sketch input, computed
    in a single scan. Persist the result and feed it to build_sketch with
    prehashed=True — at 100 TB this reads the (wide, string-heavy) source
    exactly once for the whole sketch family instead of once per sketch.

    col_map: {out_name: [source cols...]}."""
    out = [hash_col(_cols(cs), seed).alias(name) for name, cs in col_map.items()]
    return df.select(*out)


def prepare_input(df: DataFrame, cols, proto: Sketch, seed: int = DEFAULT_SEED,
                  weight_col=None, prehashed: bool = False) -> DataFrame:
    """Project df down to the single column a sketch kernel consumes.

    Hash-keyed sketches get an int64 hash column; value sketches get a
    float64 column. NULL keys/values are dropped (documented deviation from
    the reference, which hashes Nothing to the salt — SURVEY.md §2.3).
    Column pruning means the parquet scan reads only the sketched columns.
    """
    cs = _cols(cols)
    cond = cs[0].isNotNull()
    for c in cs[1:]:
        cond = cond & c.isNotNull()
    out: list[Column] = []
    if prehashed:
        if len(cs) != 1:
            raise ValueError("prehashed input takes exactly one hash column")
        out.append(cs[0].cast("long").alias("__v"))
    elif proto.HASH_KEYED:
        out.append(hash_col(cs, seed).alias("__v"))
    else:
        if len(cs) != 1:
            raise ValueError("value sketches take exactly one numeric column")
        out.append(cs[0].cast("double").alias("__v"))
    if weight_col is not None:
        out.append(_cols(weight_col)[0].cast("double").alias("__w"))
    return df.where(cond).select(*out)


def _batch_values(pdf: pd.DataFrame, hash_keyed: bool) -> np.ndarray:
    v = pdf["__v"].to_numpy()
    return to_u64(v) if hash_keyed else np.asarray(v, dtype=np.float64)


def build_partials(prepped: DataFrame, factory: Callable[[], Sketch]) -> DataFrame:
    """One serialized partial sketch per input partition (the 'freeze' of
    §1.4). Empty partitions yield the zero sketch (merge identity)."""
    def fn(it: Iterable[pd.DataFrame]):
        sk = factory()
        for pdf in it:
            v = _batch_values(pdf, sk.HASH_KEYED)
            if "__w" in pdf.columns:
                sk.update(v, pdf["__w"].to_numpy())
            else:
                sk.update(v)
        yield pd.DataFrame({"sketch": [sk.to_bytes()]})

    return prepped.mapInPandas(fn, schema=SKETCH_SCHEMA)


def _fold(cls: type[Sketch], bufs: Iterable) -> Sketch | None:
    """Merge serialized sketches of one class, in the given order (None
    when there are none)."""
    sk = None
    for buf in bufs:
        s = cls.from_bytes(bytes(buf))
        sk = s if sk is None else sk.merge(s)
    return sk


def merge_partials_df(partials: DataFrame, factory: Callable[[], Sketch],
                      num_partitions: int) -> DataFrame:
    """One merge level: shuffle partial rows into `num_partitions` tasks and
    OR/max/add-merge within each."""
    cls = type(factory())

    def fn(it: Iterable[pd.DataFrame]):
        sk = _fold(cls, (buf for pdf in it for buf in pdf["sketch"]))
        if sk is None:
            sk = factory()
        yield pd.DataFrame({"sketch": [sk.to_bytes()]})

    return partials.repartition(num_partitions).mapInPandas(fn, schema=SKETCH_SCHEMA)


def _needs_level1(num_partials: int, merge_partitions: int) -> bool:
    """Whether a merge tree over ``num_partials`` partials gets its
    intermediate ``merge_partitions``-task level: only beyond 4x that fan-in.
    Below it each level-1 task holds about one partial, so the level is a
    shuffle + stage that merges nothing."""
    return num_partials > 4 * merge_partitions


def _bloom_chunked_sketch_df(prepped: DataFrame, factory: Callable[[], Sketch],
                             proto) -> DataFrame:
    """Big-state Bloom merge with the OR parallelized by WORD RANGE.

    The generic merge ships every partial's whole state to ONE task
    (partials x state bytes through a single shuffle stream + Arrow pipe
    — measured ~3 s of the 16 MB-state bench build). Here each build
    task emits its state as ~2 MB word-range chunks, a groupBy(chunk)
    ORs every range in parallel, and the final task reassembles ONE
    state's bytes instead of partials x state. Bitwise OR is
    associative/commutative per word, so the result is byte-identical
    to the serial merge (pinned by the existing byte-parity tests)."""
    n_chunks = max(1, min(64, proto.state_nbytes // (2 << 20)))
    n_words = proto.words.size
    bounds = [n_words * c // n_chunks for c in range(n_chunks + 1)]

    def partials(it: Iterable[pd.DataFrame]):
        sk = factory()
        for pdf in it:
            sk.update(_batch_values(pdf, True))
        words = sk.words.astype("<u8", copy=False)
        yield pd.DataFrame({
            "chunk": list(range(n_chunks)),
            "words": [words[bounds[c]:bounds[c + 1]].tobytes()
                      for c in range(n_chunks)]})

    def or_chunks(pdf: pd.DataFrame) -> pd.DataFrame:
        out = np.frombuffer(pdf["words"].iloc[0], dtype="<u8").copy()
        for buf in pdf["words"].iloc[1:]:
            np.bitwise_or(out, np.frombuffer(buf, dtype="<u8"), out=out)
        return pd.DataFrame({"chunk": [int(pdf["chunk"].iloc[0])],
                             "words": [out.tobytes()]})

    def assemble(it: Iterable[pd.DataFrame]):
        chunks: dict[int, bytes] = {}
        for pdf in it:
            for c, buf in zip(pdf["chunk"], pdf["words"]):
                chunks[int(c)] = bytes(buf)
        sk = factory()
        if chunks:
            sk.words = np.frombuffer(
                b"".join(chunks[c] for c in sorted(chunks)),
                dtype="<u8").astype(U64)
        yield pd.DataFrame({"sketch": [sk.to_bytes()]})

    parts = prepped.mapInPandas(partials, schema="chunk int, words binary")
    ored = parts.groupBy("chunk").applyInPandas(
        or_chunks, schema="chunk int, words binary")
    return ored.repartition(1).mapInPandas(assemble, schema=SKETCH_SCHEMA)


def sketch_df(df: DataFrame, cols, factory: Callable[[], Sketch],
              seed: int = DEFAULT_SEED, weight_col=None,
              merge_partitions: int = DEFAULT_MERGE_PARTITIONS,
              two_level: bool | str = "auto", prehashed: bool = False) -> DataFrame:
    """Fully in-plan build: returns a 1-row DataFrame with the final
    serialized sketch. Lazy — composable inside larger query plans.

    Topology: P partition partials -> `merge_partitions` parallel merge
    tasks -> 1 final merge task. All merging happens on executors; the
    caller (or driver) only ever receives ONE serialized sketch — at
    P=100k partitions of multi-MB partials, driver fan-in stays O(1).
    ``two_level="auto"`` inserts the intermediate level only when the
    partial count is large enough to need it (> 4x merge_partitions);
    for small inputs the extra shuffle+stage is pure latency."""
    proto = factory()
    prepped = prepare_input(df, cols, proto, seed, weight_col, prehashed)
    # Large-state sketches (bloom with big m, CMS): every partial costs
    # O(state) bytes through Arrow + shuffle, and scan-split counts grow
    # with parallelism — so cap the partial count at the core count via a
    # narrow coalesce. Small-state sketches keep the scan's partitioning.
    # state_nbytes, not len(to_bytes()): the sparse wire format makes an
    # empty large-m Bloom serialize to ~20 bytes, but each partial task
    # still allocates and (worst case) ships the dense state
    partial_bytes = proto.state_nbytes
    if partial_bytes > (4 << 20):
        p = df.sparkSession.sparkContext.defaultParallelism
        # Each partial ships O(state) bytes REGARDLESS of its row count,
        # so the merge stage's input is partial_count * state — fewer,
        # bigger build tasks cut it linearly (measured on the 16 MB-state
        # bench bloom: 32 -> 16 partials took the whole build from ~5.5 s
        # to ~3.9 s; 8 and 4 partials were flat from there, so scan
        # parallelism is kept instead). Bound the fan-in to ~256 MB of
        # partials, floored at p/4 tasks so a big cluster's scan still
        # spreads; beyond 4x merge_partitions the two-level merge below
        # takes over (unchanged).
        target = max(p // 4, min(p, (256 << 20) // partial_bytes))
        prepped = prepped.coalesce(max(target, 1))
        from .sketches.bloom import BloomFilter
        if type(proto) is BloomFilter:
            return _bloom_chunked_sketch_df(prepped, factory, proto)
    partials = build_partials(prepped, factory)
    if two_level == "auto":
        two_level = _needs_level1(prepped.rdd.getNumPartitions(), merge_partitions)
    if two_level:
        partials = merge_partials_df(partials, factory, merge_partitions)
    return merge_partials_df(partials, factory, 1)


def build_sketch(df: DataFrame, cols, factory: Callable[[], Sketch],
                 seed: int = DEFAULT_SEED, weight_col=None,
                 merge_partitions: int = DEFAULT_MERGE_PARTITIONS,
                 two_level: bool | str = "auto", prehashed: bool = False) -> Sketch:
    """Eager build: run the plan and return the merged Sketch object.
    Collects exactly one serialized sketch row (see sketch_df)."""
    row = sketch_df(df, cols, factory, seed, weight_col,
                    merge_partitions, two_level, prehashed).collect()
    final = factory()
    final.merge(type(final).from_bytes(bytes(row[0]["sketch"])))
    return final


def merge_sketches(sketches: Sequence[Sketch], factory: Callable[[], Sketch]) -> Sketch:
    out = factory()
    for s in sketches:
        out.merge(s)
    return out


def multi_sketch_build(df: DataFrame, specs: dict[str, tuple],
                       seed: int = DEFAULT_SEED,
                       merge_partitions: int = DEFAULT_MERGE_PARTITIONS
                       ) -> dict[str, Sketch]:
    """Build the WHOLE sketch family in ONE scan + ONE Arrow pass.

    ``specs``: {name: (cols, factory)}. At 100 TB the (wide, string-heavy)
    source scan and the JVM->Python pipe dominate; building Bloom + HLL +
    CMS + KLL in separate jobs pays them once per sketch. Here each row
    crosses once, carrying one prehashed int64 (or double) per spec, and
    every kernel updates from the same batch.

    NULL semantics per spec are preserved (rows with a NULL key are
    skipped for that spec only) while shipping as FEW columns as
    possible — the pipe is the dominant cost of this path at any scale:
    value specs need no validity signal at all (a NULL double crosses
    Arrow as NaN and every value kernel drops NaN), hash specs over
    provably non-nullable named columns need none either, and the
    remaining nullable hash specs share ONE packed bitmask column — a
    NULL long must never reach pandas, where it would become lossy
    float64. Worst case the pipe carries specs + 1 columns (previously
    2x specs), best case just specs.

    Merge: with P partitions, while P x the specs' summed dense state is
    at most 64 MB (``_DRIVER_FOLD_BYTES``) the P x len(specs) partial rows
    come back in this call's own ``collect()`` and fold on the driver in
    partition order — one Spark stage, no shuffle, and a fold order (so
    KLL bytes) fixed from run to run. Above it the partials merge on
    executors, per name, through ``merge_partitions`` level-1 tasks when P
    exceeds 4x that fan-in, so one row per name reaches the driver. Both
    paths give the same Bloom/HLL/CMS bytes (OR, max and add commute).
    """
    names = list(specs)
    protos = {n: specs[n][1]() for n in names}
    proj: list[Column] = []
    mask: Column | None = None
    bit_of: dict[str, int] = {}
    next_bit = 0
    for n in names:
        raw_cols = specs[n][0]
        raw_cols = [raw_cols] if isinstance(raw_cols, (str, Column)) else list(raw_cols)
        cs = _cols(raw_cols)
        if protos[n].HASH_KEYED:
            v = hash_col(cs, seed)
            # a hash over provably non-nullable named columns can never
            # be NULL — no validity bit, no coalesce (schema-checked;
            # Column expressions are conservatively treated nullable)
            provably = all(isinstance(c, str) and not df.schema[c].nullable
                           for c in raw_cols)
            if not provably:
                notnull = cs[0].isNotNull()
                for c in cs[1:]:
                    notnull = notnull & c.isNotNull()
                if next_bit > 62:
                    raise ValueError(
                        "multi_sketch_build packs spec validity into one "
                        "long bitmask: at most 63 nullable hash specs")
                bit_of[n] = next_bit
                bit = (F.when(notnull, F.lit(1 << next_bit).cast("long"))
                        .otherwise(F.lit(0)))
                mask = bit if mask is None else mask.bitwiseOR(bit)
                next_bit += 1
                v = F.coalesce(v, F.lit(0).cast("long"))
        else:
            if len(cs) != 1:
                raise ValueError("value sketches take exactly one column")
            # value sketches need NO validity bit: a NULL double crosses
            # Arrow as NaN and every value kernel drops NaN — exactly the
            # skip the old flag column implemented
            v = cs[0].cast("double")
        proj.append(v.alias(f"__v_{n}"))
    if mask is not None:
        proj.append(mask.alias("__mask"))
    prepped = df.select(*proj)
    factories = {n: specs[n][1] for n in names}
    hash_keyed = {n: protos[n].HASH_KEYED for n in names}
    full_mask = (1 << next_bit) - 1

    def partials(it: Iterable[pd.DataFrame]):
        sks = {n: factories[n]() for n in names}
        for pdf in it:
            if full_mask:
                m = pdf["__mask"].to_numpy()
                all_ok = bool((m == full_mask).all())
            else:
                all_ok = True
            for n in names:
                raw = pdf[f"__v_{n}"].to_numpy()
                if not all_ok and n in bit_of:
                    raw = raw[(m >> bit_of[n]) & 1 == 1]
                if hash_keyed[n]:
                    sks[n].update(to_u64(raw))
                else:
                    sks[n].update(np.asarray(raw, dtype=np.float64))
        yield pd.DataFrame({"name": names,
                            "sketch": [sks[n].to_bytes() for n in names]})

    parts = prepped.mapInPandas(partials, schema="name string, sketch binary")
    cls_of = {n: type(protos[n]) for n in names}
    # the driver fold collects the same RDD it counts partitions on: an
    # input ending in an exchange runs that map stage once, not twice
    parts_rdd = parts.rdd
    n_parts = parts_rdd.getNumPartitions()
    if n_parts * sum(p.state_nbytes for p in protos.values()) <= _DRIVER_FOLD_BYTES:
        # rows arrive in partition order, so the fold order (and with it
        # KLL's compaction, which depends on merge order) is fixed
        rows = parts_rdd.collect()
    else:
        def merge(pdf: pd.DataFrame) -> pd.DataFrame:
            name = pdf["name"].iloc[0]
            sk = _fold(cls_of[name], pdf["sketch"])
            return pd.DataFrame({"name": [name], "sketch": [sk.to_bytes()]})

        # two-level (treeAggregate-style) merge: P partials per name first
        # reduce in `merge_partitions` parallel tasks (salted by the
        # emitting partition id), so the final per-name task deserializes
        # <= merge_partitions partials instead of P — at P=100k scan splits
        # a big-state Bloom would otherwise fan into one O(state x P) task
        if _needs_level1(n_parts, merge_partitions):
            parts = (parts.withColumn("__m", F.spark_partition_id() % merge_partitions)
                          .groupBy("name", "__m")
                          .applyInPandas(merge, schema="name string, sketch binary"))
        rows = parts.groupBy("name").applyInPandas(
            merge, schema="name string, sketch binary").collect()
    out: dict[str, Sketch] = {}
    for n in names:  # empty input: every spec still yields its zero sketch
        bufs = [r["sketch"] for r in rows if r["name"] == n]
        out[n] = _fold(cls_of[n], bufs) if bufs else factories[n]()
    return out


# --- grouped (per-key) sketches with salted two-phase merge --------------

def grouped_sketch_table(df: DataFrame, keys: Sequence[str], cols,
                         factory: Callable[[], Sketch],
                         seed: int = DEFAULT_SEED, salt: int = 8,
                         pre_partitioned: bool = False) -> DataFrame:
    """Per-key SERIALIZED sketches: (keys..., sketch binary), one row per
    key — the mergeable form. Coarser groupings derive from this table by
    re-grouping + merging (merge_grouped_sketches) WITHOUT rescanning the
    input; grouped_sketch_df / sketch_cube build on it.

    Phase 1 repartitions by (keys, salt) where salt = hash(value) % `salt`,
    so a single hot key is built by up to `salt` parallel tasks, each
    streaming its partition's Arrow batches into per-key partials (memory
    O(keys-in-partition x state), never O(rows) — see phase1 below);
    phase 2 merges the <= salt partials per key. This is the north rule's
    'salted repartitioning and two-level treeAggregate-style partial-sketch
    merge' applied to grouped aggregation.

    ``pre_partitioned=True`` skips the phase-1 shuffle: use when rows of
    the same key are already physically clustered (e.g. keys derived from
    ``input_file_name()``, a sorted/bucketed table) — phase 1 folds each
    natural partition's keys locally and phase 2 still merges the few
    cross-partition partials, so the result is identical by merge
    associativity; only the O(rows) exchange disappears.
    """
    proto = factory()
    keys = list(keys)
    cs = _cols(cols)
    cond = cs[0].isNotNull()
    for c in cs[1:]:
        cond = cond & c.isNotNull()
    if proto.HASH_KEYED:
        val = hash_col(cs, seed).alias("__v")
    else:
        val = cs[0].cast("double").alias("__v")
    prepped = df.where(cond).select(*[F.col(k) for k in keys], val)
    if not pre_partitioned:
        prepped = prepped.withColumn(
            "__salt", F.pmod(F.xxhash64(F.lit(seed + 1).cast("long"), F.col("__v")),
                             F.lit(salt)))

    key_fields = [prepped.schema[k] for k in keys]
    partial_schema = T.StructType(key_fields + [T.StructField("sketch", T.BinaryType())])

    hash_keyed = proto.HASH_KEYED

    # Phase 1 is a repartition by (keys, salt) + mapInPandas that folds
    # Arrow batches into one partial per key seen in the partition — NOT a
    # groupBy().applyInPandas, which would materialize a whole (key, salt)
    # group as a single pandas frame (a hot key's salt-share can be 10^8
    # rows). Streaming over batches keeps peak memory at
    # O(distinct keys in partition x sketch state), independent of row
    # counts; a partition holding several salt-shares of one key merges
    # them early (fewer phase-2 partials, same result by associativity).
    def phase1(it: Iterable[pd.DataFrame]):
        sks: dict[tuple, Sketch] = {}
        for pdf in it:
            for kt, sub in pdf.groupby(keys, sort=False, dropna=False):
                if not isinstance(kt, tuple):
                    kt = (kt,)
                sk = sks.get(kt)
                if sk is None:
                    sk = sks[kt] = factory()
                v = sub["__v"].to_numpy()
                sk.update(to_u64(v) if hash_keyed else np.asarray(v, dtype=np.float64))
        if sks:
            out = {k: [kt[i] for kt in sks] for i, k in enumerate(keys)}
            out["sketch"] = [sk.to_bytes() for sk in sks.values()]
            yield pd.DataFrame(out)

    if pre_partitioned:
        partials = prepped.mapInPandas(phase1, schema=partial_schema)
    else:
        partials = (prepped.repartition(*keys, "__salt")
                           .select(*keys, "__v")
                           .mapInPandas(phase1, schema=partial_schema))
    return merge_grouped_sketches(partials, keys, factory)


def merge_grouped_sketches(sketch_table: DataFrame, keys: Sequence[str],
                           factory: Callable[[], Sketch]) -> DataFrame:
    """Merge a (keys+..., sketch) table down to one sketch row per `keys`
    group (keys may be any subset of the table's non-sketch columns) —
    the rollup step of the single-scan cube: sketches are mergeable, so
    coarser groupings never rescan the input."""
    keys = list(keys)
    cls = type(factory())
    key_fields = [sketch_table.schema[k] for k in keys]
    out_schema = T.StructType(key_fields + [T.StructField("sketch", T.BinaryType())])

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        sk = _fold(cls, pdf["sketch"])
        row = {k: [pdf[k].iloc[0]] for k in keys}
        row["sketch"] = [sk.to_bytes()]
        return pd.DataFrame(row)

    return sketch_table.groupBy(*keys).applyInPandas(merge, schema=out_schema)


def estimate_grouped(sketch_table: DataFrame, keys: Sequence[str],
                     factory: Callable[[], Sketch],
                     estimates: dict[str, Callable[[Sketch], float]]) -> DataFrame:
    """(keys..., <estimate columns...>) from a (keys..., sketch) table."""
    keys = list(keys)
    cls = type(factory())
    key_fields = [sketch_table.schema[k] for k in keys]
    est_fields = [T.StructField(name, T.DoubleType()) for name in estimates]
    out_schema = T.StructType(key_fields + est_fields)

    def est(it: Iterable[pd.DataFrame]):
        for pdf in it:
            row = {k: pdf[k].to_numpy() for k in keys}
            sks = [cls.from_bytes(bytes(b)) for b in pdf["sketch"]]
            for name, fn in estimates.items():
                row[name] = [float(fn(s)) for s in sks]
            yield pd.DataFrame(row)

    return sketch_table.mapInPandas(est, schema=out_schema)


def grouped_sketch_df(df: DataFrame, keys: Sequence[str], cols,
                      factory: Callable[[], Sketch],
                      estimates: dict[str, Callable[[Sketch], float]],
                      seed: int = DEFAULT_SEED, salt: int = 8) -> DataFrame:
    """Per-key sketch estimates: (keys..., <estimate columns...>). See
    grouped_sketch_table for the build topology."""
    table = grouped_sketch_table(df, keys, cols, factory, seed, salt)
    return estimate_grouped(table, keys, factory, estimates)


# --- membership / point queries over a broadcast sketch ------------------

def _broadcast_sketch(df: DataFrame, sketch: Sketch):
    """Broadcast (unique-token, bytes); the token keys the executor cache."""
    import uuid
    sc = df.sparkSession.sparkContext
    return sc.broadcast((uuid.uuid4().hex, sketch.to_bytes()))


def _cached_sketch(bc, cls) -> Sketch:
    token, raw = bc.value
    key = (token, cls)
    sk = _BC_CACHE.get(key)
    if sk is None:
        if len(_BC_CACHE) >= 64:  # long-lived executor: bound the cache
            _BC_CACHE.clear()
        sk = cls.from_bytes(raw)
        _BC_CACHE[key] = sk
    return sk


def with_membership(df: DataFrame, bloom, cols, out_col: str = "is_member",
                    seed: int = DEFAULT_SEED) -> DataFrame:
    """Broadcast-sketch membership column (elem equivalent, §3.2): probe
    hashes computed JVM-side, bit tests vectorized per Arrow batch.

    Accepts any hash-keyed sketch with a vectorized ``contains``
    (BloomFilter, ScalableBloomFilter — the latter ORs across its levels
    inside one probe)."""
    cls = type(bloom)
    bc = _broadcast_sketch(df, bloom)

    @F.pandas_udf("boolean")
    def contains(h: pd.Series) -> pd.Series:
        sk = _cached_sketch(bc, cls)
        return pd.Series(sk.contains(to_u64(h.to_numpy())))

    cs = _cols(cols)
    any_null = cs[0].isNull()
    for c in cs[1:]:
        any_null = any_null | c.isNull()
    # SQL semantics: membership of a NULL key is NULL, not a bit test on
    # the salt (deviation from the reference's Nothing-hashing, SURVEY §2.3)
    member = F.when(any_null, F.lit(None).cast("boolean")) \
              .otherwise(contains(hash_col(cs, seed)))
    return df.withColumn(out_col, member)


def with_cms_count(df: DataFrame, cms, cols, out_col: str = "est_count",
                   seed: int = DEFAULT_SEED) -> DataFrame:
    """Broadcast-CMS point-frequency estimate column."""
    from .sketches.cms import CountMinSketch

    bc = _broadcast_sketch(df, cms)

    @F.pandas_udf("long")
    def est(h: pd.Series) -> pd.Series:
        sk = _cached_sketch(bc, CountMinSketch)
        return pd.Series(sk.query(to_u64(h.to_numpy())))

    return df.withColumn(out_col, est(hash_col(_cols(cols), seed)))


def with_mg_bounds(df: DataFrame, mg, cols, lo_col: str = "mg_lo",
                   hi_col: str = "mg_hi", seed: int = DEFAULT_SEED) -> DataFrame:
    """Broadcast Misra–Gries two-sided frequency bounds: ``lo`` is the
    stored count (never an overcount), ``hi = lo + dec`` (never an
    undercount) — deterministic, no failure probability. The natural
    complement of with_cms_count, whose estimate never undercounts."""
    from .sketches.mg import MisraGries

    bc = _broadcast_sketch(df, mg)

    @F.pandas_udf("long")
    def lo(h: pd.Series) -> pd.Series:
        sk = _cached_sketch(bc, MisraGries)
        return pd.Series(sk.query(to_u64(h.to_numpy())))

    lo_expr = lo(hash_col(_cols(cols), seed))
    return (df.withColumn(lo_col, lo_expr)
              .withColumn(hi_col, F.col(lo_col) + F.lit(int(mg.dec))))
