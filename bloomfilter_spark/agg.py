"""Distributed sketch aggregation driver.

Re-expresses the reference's build lifecycle (create -> insert* ->
unsafeFreeze, /root/reference/Data/BloomFilter.hs:123-131) as Spark's
partial-aggregate model (SURVEY.md §1.4, §3.1):

  scan -> [JVM] xxhash64 hash column -> [Arrow] mapInPandas partial sketch
  per partition -> merge of serialized partials -> final sketch (driver
  object or 1-row DataFrame).

One core (_build) runs build_sketch, sketch_df and multi_sketch_build.
An eager build skips the executor merge while partials x dense state is
at most 64 MB: its own collect() returns the partials (one stage, no
shuffle) and the driver folds them in partition order, so the driver's
fan-in is bounded by that budget. Above it, and always for the lazy
sketch_df, the partials merge on executors (treeAggregate-style: a
level-1 merge only past 4x merge_partitions partials, then one task).

All per-row work is columnar: hashing happens JVM-side via
``F.xxhash64`` (whole-stage codegen), kernels consume numpy arrays from
Arrow batches. No per-row Python (BASELINE.json input_hint).

Grouped sketches use the salted two-phase topology the north rule names:
repartition(keys + salt) partials -> per-key merge, so one hot key
(conv_id skew) fans out across `salt` tasks before the final merge.
Every per-key table — this merge, and every grouped builder in
jvm_build — is assembled by one helper, _assemble_by_key: rows sorted by
key within a partition, one run per key, one pack call per key, no
pandas frame per key.
"""

from __future__ import annotations

from typing import Callable, Iterable, Sequence

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, functions as F, types as T

from .config import DEFAULT_MERGE_PARTITIONS, DEFAULT_SEED
from .sketches.base import Sketch
from .util import U64, to_u64

# rows of the build's partial and merge stages: one serialized sketch per spec
SKETCH_SCHEMA = "name string, sketch binary"

# Most dense partial state (partials x state bytes) an eager build
# folds on the driver: far below the default spark.driver.maxResultSize
# (1 GB); P = 10^5 multi-MB partials still take the executor tree merge.
_DRIVER_FOLD_BYTES = 64 << 20

# Blob bytes after which a grouped assembly sends its output Arrow batch
# before the input batch ends: many keys closing in one input batch with
# large sketches (a grouped Bloom sized for its largest key) would
# otherwise pass the 2 GB offset limit of one binary array.
_OUT_BATCH_BYTES = 64 << 20

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


def _fold(cls: type[Sketch], bufs: Iterable) -> Sketch | None:
    """Merge serialized sketches of one class, in the given order (None
    when there are none)."""
    sk = None
    for buf in bufs:
        s = cls.from_bytes(bytes(buf))
        sk = s if sk is None else sk.merge(s)
    return sk


def _fold_named(cls_of: dict[str, type[Sketch]], pairs: Iterable,
                factories: dict[str, Callable[[], Sketch]] | None = None
                ) -> dict[str, Sketch]:
    """Fold (name, serialized sketch) pairs per name, in the given order.
    With ``factories``, every name gets a sketch: the zero sketch for one
    that never arrived (empty input)."""
    out: dict[str, Sketch] = {}
    for name, buf in pairs:
        s = cls_of[name].from_bytes(bytes(buf))
        out[name] = out[name].merge(s) if name in out else s
    for name, factory in (factories or {}).items():
        if name not in out:
            out[name] = factory()
    return out


def _merge_level(parts: DataFrame, cls_of: dict[str, type[Sketch]], n: int,
                 factories: dict[str, Callable[[], Sketch]] | None = None
                 ) -> DataFrame:
    """One executor merge level: shuffle the (name, sketch) rows into
    ``n`` tasks, each folding every name it receives in arrival order.
    The final level (n=1) passes ``factories`` so it emits every name."""
    def fn(it: Iterable[pd.DataFrame]):
        sks = _fold_named(cls_of, (p for pdf in it
                                   for p in zip(pdf["name"], pdf["sketch"])),
                          factories)
        if sks:
            yield pd.DataFrame({"name": list(sks),
                                "sketch": [s.to_bytes() for s in sks.values()]})

    return parts.repartition(n).mapInPandas(fn, schema=SKETCH_SCHEMA)


def _needs_level1(num_partials: int, merge_partitions: int) -> bool:
    """Whether an executor merge over ``num_partials`` partials gets its
    intermediate ``merge_partitions``-task level: only beyond 4x that fan-in.
    Below it each level-1 task holds about one partial, so the level is a
    shuffle + stage that merges nothing."""
    return num_partials > 4 * merge_partitions


def _bloom_chunked_sketch_df(prepped: DataFrame, name: str,
                             fill: Callable[[Iterable[pd.DataFrame]], dict],
                             factory: Callable[[], Sketch], proto) -> DataFrame:
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
        words = fill(it)[name].words.astype("<u8", copy=False)
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
        yield pd.DataFrame({"name": [name], "sketch": [sk.to_bytes()]})

    parts = prepped.mapInPandas(partials, schema="chunk int, words binary")
    ored = parts.groupBy("chunk").applyInPandas(
        or_chunks, schema="chunk int, words binary")
    return ored.repartition(1).mapInPandas(assemble, schema=SKETCH_SCHEMA)


def _build(df: DataFrame, specs: dict[str, tuple], seed: int,
           merge_partitions: int, eager: bool = True):
    """The one build core under build_sketch, sketch_df and
    multi_sketch_build. ``specs``: {name: (cols, factory, weight_col,
    prehashed)}. Returns {name: Sketch} when ``eager`` (merge paths: see
    multi_sketch_build), else the lazy executor-merged (name, sketch)
    frame, one row per name."""
    names = list(specs)
    factories = {n: specs[n][1] for n in names}
    protos = {n: factories[n]() for n in names}
    cls_of = {n: type(protos[n]) for n in names}
    hash_keyed = {n: protos[n].HASH_KEYED for n in names}
    fields = {f.name: f for f in df.schema.fields}
    proj: list[Column] = []
    weighted: set[str] = set()
    # NULL keys skip only their own spec. One spec filters JVM-side, so
    # skipped rows never cross the pipe. Several specs: value specs need
    # no validity bit (a NULL double crosses Arrow as NaN and every value
    # kernel drops NaN), and the nullable long specs share ONE packed
    # bitmask column — a NULL long must never reach pandas, where it
    # would become lossy float64
    bit_of: dict[str, int] = {}
    mask: Column | None = None
    for n in names:
        raw_cols, _, weight_col, prehashed = specs[n]
        raw_cols = [raw_cols] if isinstance(raw_cols, (str, Column)) else list(raw_cols)
        cs = _cols(raw_cols)
        if prehashed:
            if len(cs) != 1:
                raise ValueError("prehashed input takes exactly one hash column")
            v = cs[0].cast("long")
        elif hash_keyed[n]:
            v = hash_col(cs, seed)
        else:
            if len(cs) != 1:
                raise ValueError("value sketches take exactly one column")
            v = cs[0].cast("double")
        # provably non-nullable named columns need no validity signal
        # (schema-checked; Column expressions are conservatively nullable)
        if not all(isinstance(c, str) and c in fields and not fields[c].nullable
                   for c in raw_cols):
            notnull = cs[0].isNotNull()
            for c in cs[1:]:
                notnull = notnull & c.isNotNull()
            if len(names) == 1:
                df = df.where(notnull)
            elif prehashed or hash_keyed[n]:
                if len(bit_of) > 62:
                    raise ValueError(
                        "multi_sketch_build packs spec validity into one "
                        "long bitmask: at most 63 nullable hash specs")
                bit = (F.when(notnull, F.lit(1 << len(bit_of)).cast("long"))
                        .otherwise(F.lit(0)))
                mask = bit if mask is None else mask.bitwiseOR(bit)
                bit_of[n] = len(bit_of)
                v = F.coalesce(v, F.lit(0).cast("long"))
        proj.append(v.alias(f"__v_{n}"))
        if weight_col is not None:
            weighted.add(n)
            proj.append(_cols(weight_col)[0].cast("double").alias(f"__w_{n}"))
    if mask is not None:
        proj.append(mask.alias("__mask"))
    prepped = df.select(*proj)
    full_mask = (1 << len(bit_of)) - 1

    def fill(it: Iterable[pd.DataFrame]) -> dict[str, Sketch]:
        sks = {n: factories[n]() for n in names}
        for pdf in it:
            m = pdf["__mask"].to_numpy() if full_mask else None
            all_ok = m is None or bool((m == full_mask).all())
            for n in names:
                raw = pdf[f"__v_{n}"].to_numpy()
                w = pdf[f"__w_{n}"].to_numpy() if n in weighted else None
                if not all_ok and n in bit_of:
                    keep = (m >> bit_of[n]) & 1 == 1
                    raw = raw[keep]
                    w = None if w is None else w[keep]
                v = to_u64(raw) if hash_keyed[n] else np.asarray(raw, dtype=np.float64)
                if w is None:
                    sks[n].update(v)
                else:
                    sks[n].update(v, w)
        return sks

    state = sum(p.state_nbytes for p in protos.values())
    final = None
    # Large state: every partial costs O(state) bytes through Arrow +
    # shuffle (or the driver collect) REGARDLESS of its row count, and
    # scan-split counts grow with parallelism — so cap the partial count
    # via a narrow coalesce. state_nbytes, not len(to_bytes()): the sparse
    # wire format makes an empty large-m Bloom serialize to ~20 bytes, but
    # each partial task still allocates and (worst case) ships the dense
    # state. Measured on the 16 MB-state bench Bloom: 32 -> 16 partials
    # took the whole build from ~5.5 s to ~3.9 s; 8 and 4 were flat from
    # there, so scan parallelism is kept instead. Bound the fan-in to
    # ~256 MB of partials, floored at p/4 tasks so a big cluster's scan
    # still spreads.
    if state > (4 << 20):
        p = df.sparkSession.sparkContext.defaultParallelism
        prepped = prepped.coalesce(max(p // 4, min(p, (256 << 20) // state), 1))
        from .sketches.bloom import BloomFilter
        if len(names) == 1 and cls_of[names[0]] is BloomFilter:
            final = _bloom_chunked_sketch_df(prepped, names[0], fill,
                                             factories[names[0]], protos[names[0]])
    if final is None:
        def partials(it: Iterable[pd.DataFrame]):
            sks = fill(it)
            yield pd.DataFrame({"name": names,
                                "sketch": [sks[n].to_bytes() for n in names]})

        parts = prepped.mapInPandas(partials, schema=SKETCH_SCHEMA)
        # the driver fold collects the same RDD it counts partitions on: an
        # input ending in an exchange runs that map stage once, not twice
        parts_rdd = parts.rdd
        n_parts = parts_rdd.getNumPartitions()
        if eager and n_parts * state <= _DRIVER_FOLD_BYTES:
            # rows arrive in partition order, so the fold order (and with
            # it KLL's compaction, which depends on merge order) is fixed
            return _fold_named(cls_of, ((r["name"], r["sketch"])
                                        for r in parts_rdd.collect()), factories)
        # so does the executor merge: it is planned over the counted
        # internal RDD (the one parts.rdd maps), not as a new query of parts
        spark = parts.sparkSession
        parts = DataFrame(spark._jsparkSession.internalCreateDataFrame(
            parts._jdf.queryExecution().toRdd(), parts._jdf.schema(), False),
            spark)
        if _needs_level1(n_parts, merge_partitions):
            parts = _merge_level(parts, cls_of, merge_partitions)
        final = _merge_level(parts, cls_of, 1, factories)
    if not eager:
        return final
    return _fold_named(cls_of, ((r["name"], r["sketch"]) for r in final.collect()),
                       factories)


def sketch_df(df: DataFrame, cols, factory: Callable[[], Sketch],
              seed: int = DEFAULT_SEED, weight_col=None,
              prehashed: bool = False) -> DataFrame:
    """Fully in-plan build: returns a 1-row DataFrame with the final
    serialized sketch (the zero sketch over an empty input). Lazy —
    composable inside larger query plans.

    Topology: P partition partials -> [``DEFAULT_MERGE_PARTITIONS``
    parallel merge tasks, only past 4x that fan-in] -> 1 final merge task,
    all on executors (see ``_build``). The partial count is read when
    this is called, so an input ending in an exchange runs that map stage
    at that point (Spark plans it adaptively), and only then: the
    returned frame reads the RDD that was counted."""
    return _build(df, {"sketch": (cols, factory, weight_col, prehashed)}, seed,
                  DEFAULT_MERGE_PARTITIONS, eager=False).select("sketch")


def build_sketch(df: DataFrame, cols, factory: Callable[[], Sketch],
                 seed: int = DEFAULT_SEED, weight_col=None,
                 prehashed: bool = False) -> Sketch:
    """Eager build: run the plan and return the merged Sketch object.

    Small partial state folds on the driver from the build's own
    collect (one stage, no shuffle); beyond ``_DRIVER_FOLD_BYTES`` of
    partials the executors merge and one row reaches the driver, so the
    driver's fan-in is bounded by that budget. A Bloom filter over 4 MB
    of state ORs its partials by word range on executors instead."""
    return _build(df, {"sketch": (cols, factory, weight_col, prehashed)}, seed,
                  DEFAULT_MERGE_PARTITIONS)["sketch"]


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
    remaining nullable hash specs share ONE packed bitmask column. Worst
    case the pipe carries specs + 1 columns, best case just specs.

    Merge: with P partitions, while P x the specs' summed dense state is
    at most 64 MB (``_DRIVER_FOLD_BYTES``) the P x len(specs) partial rows
    come back in this call's own ``collect()`` and fold on the driver in
    partition order — one Spark stage, no shuffle, and a fold order (so
    KLL bytes) fixed from run to run. Above it the partials merge on
    executors, through ``merge_partitions`` level-1 tasks when P exceeds
    4x that fan-in, so one row per name reaches the driver. Both paths
    give the same Bloom/HLL/CMS bytes (OR, max and add commute).
    """
    return _build(df, {n: (cols, factory, None, False)
                       for n, (cols, factory) in specs.items()},
                  seed, merge_partitions)


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
    phase 2 merges the <= salt partials per key (merge_grouped_sketches,
    through the per-key assembly _assemble_by_key). This is the north rule's
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
    order = [(k, "ascending") for k in keys]

    # Phase 1 is a repartition by (keys, salt) + mapInArrow that folds
    # Arrow batches into one partial per key seen in the partition — NOT a
    # grouped-map UDF, which would materialize a whole (key, salt) group
    # at once (a hot key's salt-share can be 10^8 rows). Streaming over
    # batches keeps peak memory at O(distinct keys in partition x sketch
    # state), independent of row counts; a partition holding several
    # salt-shares of one key merges them early (fewer phase-2 partials,
    # same result by associativity). Each batch is sorted by key and cut
    # into runs (_key_breaks); key values stay Arrow arrays, so they come
    # back exact (a long past 2^53 beside a NULL included). A new key's
    # values are copied out (take), so no input batch outlives its turn.
    def phase1(batches: Iterable[pa.RecordBatch]):
        sks: dict[tuple, tuple[list[pa.Array], Sketch]] = {}
        for rb in batches:
            n = rb.num_rows
            if not n:
                continue
            try:
                rb = rb.take(pc.sort_indices(rb, sort_keys=order))
            except (pa.ArrowNotImplementedError, pa.ArrowTypeError):
                pass  # a list key has no sort kernel: unsorted runs still fold right
            kcols = [rb.column(k) for k in keys]
            v = rb.column("__v").to_numpy(zero_copy_only=False)
            v = to_u64(v) if hash_keyed else np.asarray(v, dtype=np.float64)
            bounds = [0, *(np.flatnonzero(_key_breaks(kcols, n)) + 1).tolist(), n]
            for a, b in zip(bounds, bounds[1:]):
                kt = tuple(_nan_free(c[a].as_py(), hashable=True) for c in kcols)
                entry = sks.get(kt)
                if entry is None:
                    entry = sks[kt] = ([c.take([a]) for c in kcols], factory())
                entry[1].update(v[a:b])
        done, size = [], 0
        for key, sk in sks.values():
            done.append((key, sk.to_bytes()))
            size += len(done[-1][1])
            if size >= _OUT_BATCH_BYTES:
                yield _sketch_batch(done, keys)
                done, size = [], 0
        if done:
            yield _sketch_batch(done, keys)

    if not pre_partitioned:
        prepped = prepped.repartition(*keys, "__salt").select(*keys, "__v")
    partials = prepped.mapInArrow(phase1, schema=partial_schema)
    return merge_grouped_sketches(partials, keys, factory)


def _nan_free(v, hashable: bool = False):
    """A key's Python value with each NaN replaced by one marker, so ==
    treats NaN as equal to NaN (and -0.0 as 0.0) like Spark; with
    ``hashable``, lists become tuples and dicts item tuples."""
    if isinstance(v, float) and v != v:
        return "NaN"
    if isinstance(v, (list, tuple)):
        out = [_nan_free(x, hashable) for x in v]
        return tuple(out) if hashable else out
    if isinstance(v, dict):
        if hashable:
            return tuple((k, _nan_free(x, True)) for k, x in v.items())
        return {k: _nan_free(x) for k, x in v.items()}
    return v


def _key_breaks(cols: list[pa.Array], n: int) -> np.ndarray:
    """One bool per adjacent pair of the ``n`` rows of the key columns:
    True where the key changes. NULL equals NULL and NaN equals NaN, as
    in Spark's grouping. Arrow has no equality kernel for list and struct
    keys; those compare as Python values."""
    out = np.zeros(max(n - 1, 0), dtype=bool)
    for a in cols:
        cur, prev = a.slice(1), a.slice(0, n - 1)
        if pa.types.is_nested(a.type):
            v = [_nan_free(x) for x in a.to_pylist()]
            out |= np.array([x != y for x, y in zip(v[1:], v)], dtype=bool)
            continue
        same = pc.or_(pc.fill_null(pc.equal(cur, prev), False),
                      pc.and_(pc.is_null(cur), pc.is_null(prev)))
        if pa.types.is_floating(a.type):
            same = pc.or_(same, pc.fill_null(
                pc.and_(pc.is_nan(cur), pc.is_nan(prev)), False))
        out |= ~same.to_numpy(zero_copy_only=False)
    return out


def _sketch_batch(done: list[tuple[list[pa.Array], bytes]],
                  keys: list[str]) -> pa.RecordBatch:
    """(keys..., sketch) Arrow batch of (one-row key arrays, blob) pairs."""
    cols = [pa.concat_arrays([k[i] for k, _ in done]) for i in range(len(keys))]
    return pa.RecordBatch.from_arrays(
        cols + [pa.array([blob for _, blob in done], pa.binary())],
        names=keys + ["sketch"])


def _key_runs(batches: Iterable[pa.RecordBatch], keys: list[str],
              pack: Callable[[dict[str, np.ndarray]], Sketch]):
    """(keys..., sketch) batches from key-sorted ``batches``: one row per
    run of equal keys, ``pack(rows)`` called once per run on its non-key
    columns. A run open at a batch's end carries into the next, so its
    rows are concatenated once, when it ends. A batch is sent at each
    input batch's end, or sooner once its blobs pass _OUT_BATCH_BYTES."""
    open_key, pieces = None, []  # the run open at the last batch's end
    done, size = [], 0  # closed (key, blob) runs not yet sent

    def close() -> bytes:
        cols = pieces[0].keys()
        rows = pieces[0] if len(pieces) == 1 else {
            c: np.concatenate([p[c] for p in pieces]) for c in cols}
        try:
            return pack(rows).to_bytes()
        except ValueError as e:
            key = tuple(k[0].as_py() for k in open_key)
            raise ValueError(f"key {key!r}: {e}") from e

    for rb in batches:
        n = rb.num_rows
        if not n:
            continue
        kcols = [rb.column(k) for k in keys]
        cols = {c: rb.column(c).to_numpy(zero_copy_only=False)
                for c in rb.schema.names if c not in keys}
        if open_key is None:
            open_key = [c.slice(0, 1) for c in kcols]
        # row i starts a run where it differs from row i-1 (row -1: the open key)
        starts = np.flatnonzero(_key_breaks(
            [pa.concat_arrays([o, c]) for o, c in zip(open_key, kcols)], n + 1))
        a = 0
        for b in [*starts.tolist(), n]:
            if b > a:
                pieces.append({c: v[a:b] for c, v in cols.items()})
            if b == n:
                break
            done.append((open_key, close()))
            size += len(done[-1][1])
            open_key, pieces, a = [c.slice(b, 1) for c in kcols], [], b
            if size >= _OUT_BATCH_BYTES:
                yield _sketch_batch(done, keys)
                done, size = [], 0
        if done:
            yield _sketch_batch(done, keys)
            done, size = [], 0
    if open_key is not None:
        done.append((open_key, close()))
        yield _sketch_batch(done, keys)


def _assemble_by_key(cells: DataFrame, keys: Sequence[str],
                     pack: Callable[[dict[str, np.ndarray]], Sketch]) -> DataFrame:
    """The one per-key assembly of every grouped sketch table: (keys...,
    sketch binary), one row per distinct ``keys`` value (NULL is a value).

    ``cells`` holds a key's mergeable state as rows; ``pack(rows)`` turns
    one key's rows — its non-key columns as numpy arrays, by name — into
    a Sketch; a ValueError from it is raised again naming the key.
    ``cells`` is repartitioned and sorted by ``keys``, so each key is one
    run of rows inside a partition (_key_runs). One Arrow stream per key
    (a grouped-map UDF) costs far more than the pack itself when keys are
    many and small: over 10,000 small keys, Spark's ``applyInArrow`` took
    about twice as long and ``applyInPandas`` about five times. Key
    columns stay Arrow arrays (``mapInArrow``): their values and types
    come back exactly, NULLs included, with no pandas round trip. An
    input already hash-partitioned by ``keys`` (a per-key window) adds no
    exchange."""
    keys = list(keys)
    schema = T.StructType([cells.schema[k] for k in keys]
                          + [T.StructField("sketch", T.BinaryType())])
    # no keys: all rows are one group, in one task
    cells = (cells.repartition(*keys).sortWithinPartitions(*keys) if keys
             else cells.repartition(1))
    return cells.mapInArrow(lambda batches: _key_runs(batches, keys, pack),
                            schema=schema)


def merge_grouped_sketches(sketch_table: DataFrame, keys: Sequence[str],
                           factory: Callable[[], Sketch]) -> DataFrame:
    """Merge a (keys+..., sketch) table down to one sketch row per `keys`
    group (keys may be any subset of the table's non-sketch columns) —
    the rollup step of the single-scan cube: sketches are mergeable, so
    coarser groupings never rescan the input."""
    keys = list(keys)
    cls = type(factory())
    return _assemble_by_key(sketch_table.select(*keys, "sketch"), keys,
                            lambda rows: _fold(cls, rows["sketch"]))


def estimate_grouped(sketch_table: DataFrame, keys: Sequence[str],
                     factory: Callable[[], Sketch],
                     estimates: dict[str, Callable[[Sketch], float]]) -> DataFrame:
    """(keys..., <estimate columns...>) from a (keys..., sketch) table."""
    keys = list(keys)
    cls = type(factory())
    out_schema = T.StructType([sketch_table.schema[k] for k in keys]
                              + [T.StructField(name, T.DoubleType())
                                 for name in estimates])

    # Arrow in and out: key values pass through untouched (no pandas
    # float64 round trip for a long key column holding a NULL)
    def est(batches: Iterable[pa.RecordBatch]):
        for rb in batches:
            sks = [cls.from_bytes(b) for b in rb.column("sketch").to_pylist()]
            yield pa.RecordBatch.from_arrays(
                [rb.column(k) for k in keys]
                + [pa.array([float(fn(s)) for s in sks], pa.float64())
                   for fn in estimates.values()],
                names=keys + list(estimates))

    return sketch_table.select(*keys, "sketch").mapInArrow(est, schema=out_schema)


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


# Largest driver-local input, in rows, that the read operators answer on
# the driver (see _driver_local): the crossover with the UDF path. Spark
# evaluates the folded lookup per row over up to N literals, so the local
# path grows as N^2 while the UDF path stays near flat. Measured with
# tools/probe_latency.py (4-core host, get_spark(cores=4), all-distinct
# 2-column keys, p50 ms local vs UDF): with_membership 93 vs 231 at 20
# rows, 124 vs 155 at 2,500, 162 vs 156 at 4,000, 479 vs 194 at 10,000;
# with_cms_count (one IN list per distinct count) 127 vs 135 at 2,500
# and 147 vs 145 at 3,000. The bound is the last size where both win.
_LOCAL_PROBE_ROWS = 2500

# the local path's temporary key-hash column, dropped before return
_PROBE_HASH = "__bfs_probe_hash"


def _driver_local(df: DataFrame) -> bool:
    """Whether ``df`` is a small driver-local input: not streaming, every
    leaf of its analyzed plan a LocalRelation (what ``createDataFrame`` of
    a pandas frame or an Arrow table gives), and its optimized plan one
    LocalRelation of at most ``_LOCAL_PROBE_ROWS`` rows. Reads plans only:
    no Spark job, and no optimizer pass over a plan that reads a source."""
    if df.isStreaming:
        return False
    qe = df._jdf.queryExecution()
    leaves = qe.analyzed().collectLeaves()
    if any(leaves.apply(i).getClass().getSimpleName() != "LocalRelation"
           for i in range(leaves.size())):
        return False
    plan = qe.optimizedPlan()
    return (plan.getClass().getSimpleName() == "LocalRelation"
            and plan.maxRows().get() <= _LOCAL_PROBE_ROWS)


def _lookup(hashes: np.ndarray, answers: np.ndarray) -> Column:
    """JVM-only lookup of each row's answer by its ``_PROBE_HASH``: a CASE
    with one ``IN`` list per distinct answer but the most common one,
    which a final branch gives every other row. That branch tests the
    (never NULL) hash, not ``true`` and not ELSE, so the column stays
    nullable like the UDF's. SQL text carries all the literals in one
    py4j call instead of one per value."""
    if not answers.size:
        return F.lit(None).cast("boolean" if answers.dtype == np.bool_ else "long")
    vals, inv, counts = np.unique(answers, return_inverse=True, return_counts=True)
    groups = np.split(hashes[np.argsort(inv, kind="stable")], np.cumsum(counts)[:-1])
    mode = int(counts.argmax())

    def sql(v) -> str:
        return str(v).lower() if isinstance(v, bool) else f"{v}L"

    whens = [f"WHEN {_PROBE_HASH} IN ({','.join(map(sql, g.tolist()))}) THEN {sql(v)}"
             for i, (v, g) in enumerate(zip(vals.tolist(), groups)) if i != mode]
    return F.expr(f"CASE {' '.join(whens)} WHEN {_PROBE_HASH} IS NOT NULL "
                  f"THEN {sql(vals[mode].item())} END")


def _with_answers(df: DataFrame, sketch: Sketch, cols, seed: int, method: str,
                  dtype: str, attach: Callable[[DataFrame, Column], DataFrame]
                  ) -> DataFrame:
    """Shared dispatch of the read operators: ``attach(frame, answer)``
    adds the operator's columns, where ``answer`` is ``sketch.<method>``
    (vectorized over uint64 hashes, result of Spark type ``dtype``) of
    each row's ``hash_col(cols, seed)``.

    A small driver-local input (``_driver_local``) is answered on the
    driver: its distinct key hashes are collected (Spark folds the
    projection into the LocalRelation, so no job runs), ``method`` runs
    once over them, and the answers come back as a literal lookup keyed
    on the same hash expression, which Spark again folds on the driver.
    Any other input gets a broadcast of the sketch and a pandas UDF. Both
    paths read the sketch at call time: a later ``update`` does not
    change the returned frame's answers."""
    h = hash_col(_cols(cols), seed)
    if _driver_local(df):
        rows = df.select(h).collect()
        hashes = np.unique(np.fromiter((r[0] for r in rows), np.int64, len(rows)))
        answers = getattr(sketch, method)(to_u64(hashes))
        return attach(df.withColumn(_PROBE_HASH, h),
                      _lookup(hashes, answers)).drop(_PROBE_HASH)
    cls = type(sketch)
    bc = _broadcast_sketch(df, sketch)

    @F.pandas_udf(dtype)
    def answer(v: pd.Series) -> pd.Series:
        sk = _cached_sketch(bc, cls)
        return pd.Series(getattr(sk, method)(to_u64(v.to_numpy())))

    return attach(df, answer(h))


def with_membership(df: DataFrame, bloom, cols, out_col: str = "is_member",
                    seed: int = DEFAULT_SEED) -> DataFrame:
    """Membership column (elem equivalent, §3.2): probe hashes computed
    JVM-side, bit tests vectorized per Arrow batch over a broadcast of
    the sketch. A driver-local input of at most ``_LOCAL_PROBE_ROWS`` rows
    (``createDataFrame`` of a pandas frame) is answered on the driver
    instead, with no Spark job (``_with_answers``). Either way the answers
    are those of the sketch as it is at call time.

    Accepts any hash-keyed sketch with a vectorized ``contains``
    (BloomFilter, ScalableBloomFilter — the latter ORs across its levels
    inside one probe)."""
    cs = _cols(cols)
    any_null = cs[0].isNull()
    for c in cs[1:]:
        any_null = any_null | c.isNull()
    # SQL semantics: membership of a NULL key is NULL, not a bit test on
    # the salt (deviation from the reference's Nothing-hashing, SURVEY §2.3)
    return _with_answers(df, bloom, cs, seed, "contains", "boolean",
                         lambda frame, hit: frame.withColumn(
                             out_col, F.when(any_null, F.lit(None).cast("boolean"))
                                       .otherwise(hit)))


def with_cms_count(df: DataFrame, cms, cols, out_col: str = "est_count",
                   seed: int = DEFAULT_SEED) -> DataFrame:
    """Point-frequency estimate column from a Count-Min sketch, broadcast
    to a pandas UDF; a driver-local input of at most ``_LOCAL_PROBE_ROWS``
    rows is answered on the driver with no Spark job (``_with_answers``).
    Answers are those of the sketch as it is at call time."""
    return _with_answers(df, cms, cols, seed, "query", "long",
                         lambda frame, est: frame.withColumn(out_col, est))


def with_mg_bounds(df: DataFrame, mg, cols, lo_col: str = "mg_lo",
                   hi_col: str = "mg_hi", seed: int = DEFAULT_SEED) -> DataFrame:
    """Misra–Gries two-sided frequency bounds: ``lo`` is the stored count
    (never an overcount), ``hi = lo + dec`` (never an undercount) —
    deterministic, no failure probability. The natural complement of
    with_cms_count, whose estimate never undercounts. Dispatched like
    with_cms_count (broadcast UDF, or no Spark job for a driver-local
    input of at most ``_LOCAL_PROBE_ROWS`` rows); both bounds are those of
    the summary as it is at call time."""
    dec = F.lit(int(mg.dec))
    return _with_answers(df, mg, cols, seed, "query", "long",
                         lambda frame, lo: frame.withColumn(lo_col, lo)
                                                .withColumn(hi_col, F.col(lo_col) + dec))
