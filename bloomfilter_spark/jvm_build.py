"""JVM-reduced sketch builders: the per-row sketch arithmetic runs inside
whole-stage codegen; Python only materializes O(state) rows.

Motivation (measured in this sandbox, generalizes to any Python-on-Spark
deployment): the JVM->Python Arrow pipe costs ~1-2 us/row/column — for a
30M-row build the pipe alone dwarfs both the JVM hash work (~0.7s) and the
numpy kernel (~1.5 core-s). The mergeable-UDAF path (agg.build_sketch) ships
every row across that pipe; these builders instead push the sketch update
semantics into Spark SQL expressions and aggregate BEFORE crossing into
Python:

  HLL   registers[reg] = max(rho)  ==  groupBy(h >>> (64-p))
                                        .agg(min(rest-in-unsigned-order))
        -> at most 2^p rows cross the pipe (16 KiB of state at p=14),
        whatever n is.

  Bloom bit array OR of k probes   ==  explode k (word, 1<<bit) pairs
        (per key)                       -> groupBy(key, word).agg(bit_or(mask))
        -> at most m/64 rows per key cross the pipe, whatever n is.
        Map-side partial bit_or combines first, so shuffle volume is also
        bounded by words-touched-per-task, not rows.

Both produce BIT-IDENTICAL state to the numpy kernel path (asserted in
tests/test_jvm_build.py), so JVM-built and kernel-built sketches merge
freely, answer the same query paths, and satisfy the same
zero-false-negative / FPR-bound / merge-algebra laws. The sharded Bloom
filter has one build, the kernel's (operators.sharded.build_sharded_bloom):
its hash-only shuffle beat a JVM word-reduced build at 16 and 64 shards.

ANSI note: Kirsch-Mitzenmacher probe derivation needs mod-2^64 wrap
arithmetic (splitmix64's multiplies). Spark 4 defaults to ANSI mode, where
long overflow raises, so the Bloom/CMS/IBLT plans are built inside a
scoped `spark.sql.ansi.enabled=false` window (`_wrap_arithmetic`), restored
afterwards — wrap semantics are exactly what the hash math specifies.
Spark binds the evaluation mode when it analyzes a plan, which building
the DataFrame does, so a grouped table returned from the window runs
later under any ANSI setting. The HLL plan is pure bit-ops and needs no
toggle.

Every grouped table (keys..., sketch binary) goes through one per-key
assembly, `agg._assemble_by_key`, with one pack per family shared by the
family's global, grouped and one-scan builds.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Sequence

import numpy as np
from pyspark.sql import Column, DataFrame, functions as F

from .config import DEFAULT_SEED, WGL_THRESHOLD_LOCK
from .agg import _assemble_by_key, _cols, hash_col
from .sketches.bloom import BloomFilter
from .sketches.hll import HyperLogLog
from .util import U64, clz64

_MIN64 = -(1 << 63)


@contextmanager
def _wrap_arithmetic(spark):
    """Scoped mod-2^64 wrap semantics for hash arithmetic (see module doc).
    Restores the key exactly: unset again if it was unset on entry."""
    key = "spark.sql.ansi.enabled"
    prev = spark.conf.getAll.get(key)
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def _signed(c: int) -> int:
    """uint64 constant -> the int64 with the same bit pattern (for lit())."""
    return c - (1 << 64) if c >= (1 << 63) else c


def _splitmix64_col(c: Column) -> Column:
    """splitmix64 finalizer as Spark expressions — same bit pattern as
    util.splitmix64 (wrap arithmetic must be active)."""
    z = c + F.lit(_signed(0x9E3779B97F4A7C15))
    z = z.bitwiseXOR(F.shiftrightunsigned(z, 30)) * F.lit(_signed(0xBF58476D1CE4E5B9))
    z = z.bitwiseXOR(F.shiftrightunsigned(z, 27)) * F.lit(_signed(0x94D049BB133111EB))
    return z.bitwiseXOR(F.shiftrightunsigned(z, 31))


def _notnull(cs: Sequence[Column]) -> Column:
    cond = cs[0].isNotNull()
    for c in cs[1:]:
        cond = cond & c.isNotNull()
    return cond


# --------------------------------------------------------------------------
# HLL
# --------------------------------------------------------------------------

def _hll_pack(p: int, regs, mins) -> HyperLogLog:
    """(register, min unsigned-order key) rows -> HyperLogLog — shared by
    the global, grouped and one-scan family builds."""
    sk = HyperLogLog(p)
    rest = np.asarray(mins, dtype=np.int64).view(U64) ^ U64(1 << 63)
    sk.registers[np.asarray(regs, dtype=np.int64)] = \
        np.minimum(clz64(rest) + 1, 64 - p + 1).astype(np.uint8)
    return sk


def hll_build_jvm(df: DataFrame, cols, p: int = 14,
                  seed: int = DEFAULT_SEED) -> HyperLogLog:
    """Build an HLL entirely JVM-side; bit-identical to the kernel build.

    max(rho) per register == rho(min(rest)) in unsigned order, because clz
    is non-increasing in its argument; unsigned order on int64 is signed
    order after flipping the sign bit."""
    cs = _cols(cols)
    h = hash_col(cs, seed)
    reg = F.shiftrightunsigned(h, 64 - p)
    key = F.shiftleft(h, p).bitwiseXOR(F.lit(_MIN64))
    pdf = (df.where(_notnull(cs))
             .select(reg.alias("r"), key.alias("k"))
             .groupBy("r").agg(F.min("k").alias("mk"))
             .toPandas())
    return _hll_pack(p, pdf["r"], pdf["mk"])


def _clz64_col(c: Column) -> Column:
    """Exact 64-bit count-leading-zeros as Spark expressions: smear the top
    bit rightward (6 shifted ORs), then 64 - bit_count. Pure codegen bit
    ops — no float log2, whose rounding near powers of two would be off by
    one exactly where rho matters."""
    x = c
    for s in (1, 2, 4, 8, 16, 32):
        x = x.bitwiseOR(F.shiftrightunsigned(x, s))
    return F.lit(64) - F.bit_count(x)


def hll_grouped_estimate_jvm(df: DataFrame, keys, cols, p: int = 14,
                             seed: int = DEFAULT_SEED,
                             out_col: str = "est") -> DataFrame:
    """Per-key HLL distinct estimates with ZERO rows crossing into Python.

    The grouped analog of `hll_build_jvm`: shuffle 1 reduces to one row per
    (key, register) — `groupBy(keys, h >>> (64-p)).agg(min(rest))`, map-side
    combined, ≤ n_keys * 2^p rows; shuffle 2 folds the registers into the
    HLL estimate per key, with Flajolet's alpha_m bias correction and the
    small-range linear-counting branch expressed as SQL aggregates
    (absent registers contribute 2^0 to the harmonic sum and count toward
    the linear-counting zeros). Estimates match the kernel
    (`sketches/hll.py:estimate`) to float-sum reordering (~1e-12 relative,
    tested), so this is the 100 TB path for per-conv_id / per-day distinct
    counts: both shuffles stay in whole-stage codegen and the result is the
    estimate column itself, not sketch blobs.

    Returns df.select(keys..., out_col double). For a *mergeable* per-key
    sketch table (to checkpoint or union across corpora), use
    `agg.grouped_sketch_table`; this function is the terminal fast path."""
    from .sketches.hll import HyperLogLog, _alpha
    HyperLogLog(p)  # validate p
    keys = [keys] if isinstance(keys, str) else list(keys)
    cs = _cols(cols)
    h = hash_col(cs, seed)
    reg = F.shiftrightunsigned(h, 64 - p)
    mapped = F.shiftleft(h, p).bitwiseXOR(F.lit(_MIN64))  # unsigned-order key
    per_reg = (df.where(_notnull(cs))
                 .groupBy(*keys, reg.alias("__reg"))
                 .agg(F.min(mapped).alias("__mk")))
    rest = F.col("__mk").bitwiseXOR(F.lit(_MIN64))  # u64 bits of h << p
    rho = F.least(_clz64_col(rest) + F.lit(1), F.lit(64 - p + 1))
    m = float(1 << p)
    alpha = _alpha(1 << p)
    per_key = (per_reg.select(*keys, rho.alias("__rho"))
                      .groupBy(*keys)
                      .agg(F.sum(F.pow(F.lit(0.5), F.col("__rho"))).alias("__s"),
                           F.count(F.lit(1)).alias("__c")))
    zeros = F.lit(m) - F.col("__c").cast("double")
    raw = F.lit(alpha * m * m) / (F.col("__s") + zeros)
    est = F.when((raw <= F.lit(2.5 * m)) & (zeros > F.lit(0.0)),
                 F.lit(m) * F.log(F.lit(m) / zeros)).otherwise(raw)
    return per_key.select(*keys, est.alias(out_col))


def hll_grouped_build_jvm(df: DataFrame, keys, cols, p: int = 14,
                          seed: int = DEFAULT_SEED) -> DataFrame:
    """Per-key HLL sketch table (keys..., sketch binary), registers
    computed JVM-side — the MERGEABLE counterpart of
    `hll_grouped_estimate_jvm` (which is terminal: it returns estimates,
    not state). Byte-identical per key to the kernel grouped build
    (`agg.grouped_sketch_table`; tested). One map-side-combined
    `groupBy(keys, register).agg(min(rest))` — ≤ |keys| * 2^p rows reach
    assembly, never n — then `agg._assemble_by_key` packs each key's
    registers. Persist (warehouse.save_sketch_table), union across
    corpora, estimate from SQL (sketch_estimate)."""
    HyperLogLog(p)  # validate p
    keys = [keys] if isinstance(keys, str) else list(keys)
    cs = _cols(cols)
    h = hash_col(cs, seed)
    reg = F.shiftrightunsigned(h, 64 - p)
    mapped = F.shiftleft(h, p).bitwiseXOR(F.lit(_MIN64))  # unsigned-order key
    per_reg = (df.where(_notnull(cs))
                 .groupBy(*keys, reg.alias("__reg"))
                 .agg(F.min(mapped).alias("__mk")))
    return _assemble_by_key(per_reg, keys,
                            lambda r: _hll_pack(p, r["__reg"], r["__mk"]))


# --------------------------------------------------------------------------
# one-scan JVM-reduced family build (HLL + CMS)
# --------------------------------------------------------------------------

def multi_sketch_build_jvm(df: DataFrame, specs: dict,
                           seed: int = DEFAULT_SEED,
                           max_buckets: int = 4_000_000) -> dict:
    """Build a FAMILY of HLL/CMS/DDSketch sketches in ONE scan and ONE
    shuffle, entirely JVM-side — bit-identical to the individual
    hll_build_jvm / cms_build_jvm / ddsketch_build_jvm results (tested).

    ``specs``: {name: ("hll", cols, p) | ("cms", cols, eps, delta)
                      | ("ddsketch", col, alpha[, bucket_limit])}.

    Every row explodes into its tagged cell updates — (tag, cell, value)
    for the HLL register minima, d (tag, cell) pairs per CMS, one
    sign-and-bucket-encoded (tag, cell) per DDSketch value (cell =
    bucket*4 + {0:pos, 1:neg, 2:zero}, so the zero bucket never collides
    with bucket index 0) — and a single groupBy(tag, cell) computes
    min(value) AND count(*); each sketch reads its own aggregate.
    Map-side combine bounds the shuffle by cells-touched-per-task and at
    most sum(2^p + d*w + occupied-buckets) rows reach Python, whatever n
    is. At 10^12 rows this is the family build: the (wide, string-heavy)
    transcript scan happens once, and no per-row data ever crosses the
    Arrow pipe. NULL keys skip only their spec (null struct elements are
    filtered after the explode); DDSketch additionally skips NaN/inf
    values, its kernel domain rule."""
    from .sketches.cms import CountMinSketch
    from .sketches.ddsketch import DDSketch
    spark = df.sparkSession
    names = list(specs)
    metas = []
    # driver-collect budget: HLL/CMS cell counts are bounded by geometry;
    # each ddsketch spec can occupy up to its data's bucket span, so it
    # contributes ``max_buckets`` (the same guard ddsketch_build_jvm
    # applies) — the collect is capped and raises instead of OOMing the
    # driver on an extreme-alpha spec over a wide-range column
    cell_budget = 0
    with _wrap_arithmetic(spark):
        base = df
        structs = []
        for tag, name in enumerate(names):
            spec = specs[name]
            kind = spec[0]
            if kind == "hll":
                _, cols, p = spec
                cs = _cols(cols)
                h = hash_col(cs, seed)
                reg = F.shiftrightunsigned(h, 64 - p).cast("long")
                key = F.shiftleft(h, p).bitwiseXOR(F.lit(_MIN64))
                structs.append(F.when(_notnull(cs), F.struct(
                    F.lit(tag).alias("t"), reg.alias("c"), key.alias("v"))))
                metas.append(("hll", p, None))
                cell_budget += 1 << p
            elif kind == "cms":
                _, cols, eps, delta = spec
                proto = CountMinSketch(eps=eps, delta=delta)
                w, d = proto.width, proto.depth
                cs = _cols(cols)
                hname = f"__h_{tag}"
                base = base.withColumn(hname, hash_col(cs, seed))
                h2 = _splitmix64_col(F.col(hname)).bitwiseOR(F.lit(1))
                base = base.withColumn(f"__h2_{tag}", h2)
                for j in range(1, d + 1):
                    g = f"({hname} + {j}L * __h2_{tag})"
                    rem = (f"({g} - (shiftrightunsigned({g}, 1) div {w}L)"
                           f" * {2 * w}L)")
                    col = (f"(CASE WHEN {rem} >= {w}L THEN {rem} - {w}L "
                           f"ELSE {rem} END)")
                    structs.append(F.when(_notnull(cs), F.struct(
                        F.lit(tag).alias("t"),
                        F.expr(f"{(j - 1) * w}L + {col}").alias("c"),
                        F.lit(0).cast("long").alias("v"))))
                metas.append(("cms", w, d))
                cell_budget += w * d
            elif kind == "ddsketch":
                col = spec[1]
                alpha = spec[2]
                limit = spec[3] if len(spec) > 3 else 2048
                proto = DDSketch(alpha, limit)  # validates up front
                c = _cols([col])[0].cast("double")
                finite, sgn, idx = _ddsketch_exprs(c, proto._log_gamma)
                code = (F.when(sgn == 1, F.lit(0)).when(sgn == -1, F.lit(1))
                         .otherwise(F.lit(2)).cast("long"))
                structs.append(F.when(finite, F.struct(
                    F.lit(tag).alias("t"),
                    (idx * F.lit(4) + code).alias("c"),
                    F.lit(0).cast("long").alias("v"))))
                metas.append(("ddsketch", alpha, limit))
                cell_budget += max_buckets
            else:
                raise ValueError(f"unknown family spec kind {kind!r}")
        cells = (base.select(F.explode(F.array(*structs)).alias("p"))
                     .where(F.col("p").isNotNull())
                     .groupBy("p.t", "p.c")
                     .agg(F.min("p.v").alias("mv"), F.count("*").alias("n"))
                     .limit(cell_budget + 1)
                     .toPandas())
    if len(cells) > cell_budget:
        raise ValueError(
            f"family build occupies > {cell_budget} aggregate cells — a "
            f"ddsketch spec's bucket span exceeds max_buckets="
            f"{max_buckets}; raise max_buckets or coarsen its alpha")

    out = {}
    for tag, name in enumerate(names):
        kind, a, b = metas[tag]
        sub = cells[cells["t"] == tag]
        if kind == "hll":
            sk = _hll_pack(a, sub["c"], sub["mv"])
        elif kind == "ddsketch":
            c = sub["c"].to_numpy(dtype=np.int64)
            code = np.mod(c, 4)          # positive for negative c too
            bidx = (c - code) // 4       # floor division: exact decode
            sk = _ddsketch_assemble(
                a, b,
                np.where(code == 2, 0, np.where(code == 1, -1, 1)),
                bidx, sub["n"].to_numpy(dtype=np.int64))
        else:
            flat = sub["c"].to_numpy(dtype=np.int64)
            sk = _cms_pack(a, b, flat // a, flat % a, sub["n"])
        out[name] = sk
    return out


# --------------------------------------------------------------------------
# Bloom (grouped)
# --------------------------------------------------------------------------

def _bloom_pack(m: int, k: int, words, bits) -> BloomFilter:
    """(word index, or-ed word) rows -> BloomFilter(m, k)."""
    bf = BloomFilter(m, k)
    bf.words[np.asarray(words, dtype=np.int64)] = \
        np.asarray(bits, dtype=np.int64).view(U64)
    return bf


def _bloom_word_updates(df: DataFrame, cols, m: int, k: int, seed: int,
                        keys: Sequence[str]) -> DataFrame:
    """(keys..., word index w, or-ed word value bits) updates of a per-key
    BloomFilter(m, k); same K-M/splitmix probe scheme as the kernel."""
    cs = _cols(cols)
    h = hash_col(cs, seed)
    base = df.where(_notnull(cs)).select(*keys, h.alias("__h"))
    h2 = _splitmix64_col(F.col("__h")).bitwiseOR(F.lit(1))
    probes = []
    for i in range(k):
        p_i = (F.col("__h") + F.lit(i) * h2).bitwiseAND(F.lit(m - 1))
        mask = F.expr("shiftleft(1L, CAST(__pb AS INT))")
        probes.append(F.struct(F.shiftrightunsigned(p_i, 6).alias("w"),
                               p_i.bitwiseAND(F.lit(63)).alias("__pb")))
    exploded = (base.select(*keys, F.explode(F.array(*probes)).alias("p"))
                    .select(*keys, F.col("p.w").alias("w"),
                            F.col("p.__pb").alias("__pb"))
                    .select(*keys, "w", mask.alias("m")))
    return exploded.groupBy(*keys, "w").agg(F.bit_or("m").alias("bits"))


def _cms_cells(base: DataFrame, w: int, d: int, extra=()) -> DataFrame:
    """(extra..., p = struct(r, c)) rows: each row of ``base`` (which has
    the key hash ``__h``) explodes into its d counter cells. Wrap
    arithmetic must be active (see cms_build_jvm for the unsigned mod)."""
    base = base.withColumn("__h2",
                           _splitmix64_col(F.col("__h")).bitwiseOR(F.lit(1)))
    structs = []
    for j in range(1, d + 1):
        base = base.withColumn(f"__g{j}", F.expr(f"__h + {j}L * __h2"))
        rem = (f"(__g{j} - (shiftrightunsigned(__g{j}, 1) div {w}L)"
               f" * {2 * w}L)")
        col = f"(CASE WHEN {rem} >= {w}L THEN {rem} - {w}L ELSE {rem} END)"
        structs.append(f"struct({j - 1} AS r, {col} AS c)")
    return base.selectExpr(*extra, f"explode(array({', '.join(structs)})) AS p")


def _cms_pack(w: int, d: int, rows, cols, counts) -> "CountMinSketch":
    """(row, col, count) cells -> CountMinSketch — shared by the global,
    grouped and one-scan family builds. Every input update lands once in
    row 0, so row 0's counts sum to the total."""
    from .sketches.cms import CountMinSketch
    sk = CountMinSketch(width=w, depth=d)
    r = np.asarray(rows, dtype=np.int64)
    n = np.asarray(counts, dtype=np.int64)
    sk.table[r, np.asarray(cols, dtype=np.int64)] = n.view(U64)
    sk.total = int(n[r == 0].sum())
    return sk


def cms_build_jvm(df: DataFrame, cols, width: int | None = None,
                  depth: int | None = None, eps: float | None = None,
                  delta: float | None = None, weight_col: str | None = None,
                  seed: int = DEFAULT_SEED) -> "CountMinSketch":
    """Build a Count-Min sketch with the counting done JVM-side; bit-identical
    to the kernel build (asserted in tests/test_jvm_build.py).

    counter[j][g_j(x)] += 1  ==  explode d (row, col) pairs per input row
    -> groupBy(row, col).count(): at most d*w rows cross the Arrow pipe
    (e.g. 5 x 27183 at eps=1e-4), whatever n is; map-side partial counts
    bound the shuffle by cells-touched-per-task, not rows.

    The K-M column derivation g_j = (h1 + j*h2) mod w needs UNSIGNED mod by
    the (non-power-of-two) width; long division is signed, so it uses the
    halving trick: q = (g >>> 1) div w gives g_unsigned div w in {2q, 2q+1},
    hence rem = g - 2qw lands in [0, 2w) after mod-2^64 wrap cancels, and
    one conditional subtract finishes. Integer `div` throughout — float
    division would lose bits above 2^53.

    ``weight_col``: pre-aggregated counts per key (the map-side-combine
    pattern) — cells accumulate sum(weight) instead of count."""
    from .sketches.cms import CountMinSketch
    proto = CountMinSketch(width=width, depth=depth, eps=eps, delta=delta)
    w, d = proto.width, proto.depth
    cs = _cols(cols)
    with _wrap_arithmetic(df.sparkSession):
        proj = [hash_col(cs, seed).alias("__h")]
        if weight_col is not None:
            proj.append(F.floor(F.col(weight_col)).cast("long").alias("__w"))
        wsel = ["__w"] if weight_col is not None else []
        pdf = (_cms_cells(df.where(_notnull(cs)).select(*proj), w, d, wsel)
                 .groupBy("p.r", "p.c")
                 .agg((F.sum("__w") if weight_col is not None
                       else F.count("*")).alias("n"))
                 .toPandas())
    return _cms_pack(w, d, pdf["r"], pdf["c"], pdf["n"])


def cms_grouped_build_jvm(df: DataFrame, keys, cols,
                          width: int | None = None, depth: int | None = None,
                          eps: float | None = None, delta: float | None = None,
                          seed: int = DEFAULT_SEED) -> DataFrame:
    """Per-key Count-Min sketch table (keys..., sketch binary) with the
    counting done JVM-side — the grouped analog of `cms_build_jvm`,
    byte-identical per key to the kernel grouped build
    (`agg.grouped_sketch_table` with a CMS factory; tested).

    Plan: each row explodes into its d (row, col) cells (same K-M column
    derivation as cms_build_jvm), one codegen `groupBy(keys, r, c).count()`
    with map-side partial aggregation, then `agg._assemble_by_key` packs
    each key's table cells into a blob. Shuffle volume is bounded by
    cells-touched-per-task and at most |keys| * d*w rows reach the
    assembly stage — never n. This is the 100 TB path for per-day /
    per-source heavy-hitter tables that must remain MERGEABLE and
    persistable (warehouse.save_sketch_table); for a terminal per-key
    top-k answer, `operators.topk.cms_heavy_hitters` per partition of the
    key is the query-side consumer."""
    from .sketches.cms import CountMinSketch
    proto = CountMinSketch(width=width, depth=depth, eps=eps, delta=delta)
    w, d = proto.width, proto.depth
    keys = [keys] if isinstance(keys, str) else list(keys)
    cs = _cols(cols)
    # built inside the wrap window, which binds the non-ANSI evaluation
    # mode into the plan: no job runs here
    with _wrap_arithmetic(df.sparkSession):
        base = df.where(_notnull(cs)).select(*keys, hash_col(cs, seed).alias("__h"))
        cells = (_cms_cells(base, w, d, keys)
                   .groupBy(*keys, "p.r", "p.c").agg(F.count("*").alias("n")))
        return _assemble_by_key(cells, keys,
                                lambda r: _cms_pack(w, d, r["r"], r["c"], r["n"]))


def bloom_grouped_build_jvm(df: DataFrame, keys, cols,
                            capacity: int | None = None, fpr: float = 0.01,
                            m: int | None = None, k: int | None = None,
                            seed: int = DEFAULT_SEED) -> DataFrame:
    """Per-key Bloom filter table (keys..., sketch binary) with all probe
    and OR work in codegen, byte-identical per key to the kernel
    grouped build (`agg.grouped_sketch_table` with a Bloom factory;
    tested). The per-day / per-source "seen-set" table: persist it
    (warehouse.save_sketch_table), union it incrementally, probe it from
    SQL (bloom_contains).

    Plan: k (word, bit) probe pairs per row (same K-M derivation as the
    kernel), one map-side-combined
    `groupBy(keys, word).agg(bit_or(mask))`, then `agg._assemble_by_key`
    packs each key's words into a blob — at most |keys| * m/64 rows reach
    assembly, never n.

    Geometry is shared by every key (a mergeable table needs one (m, k)):
    size via ``capacity`` = expected distinct insertions of the LARGEST
    key + ``fpr``, or pass ``m``/``k`` directly. Smaller keys just run
    sparser (sparse wire format absorbs the disk cost)."""
    from .sizing import suggest_sizing
    if m is None or k is None:
        if capacity is None:
            raise ValueError("pass capacity (+ fpr) or explicit m and k")
        m, k = suggest_sizing(capacity, fpr)
    m = BloomFilter(m, k).num_bits      # clamps m to a power of two
    keys = [keys] if isinstance(keys, str) else list(keys)
    # built inside the wrap window, which binds the non-ANSI evaluation
    # mode into the plan: no job runs here
    with _wrap_arithmetic(df.sparkSession):
        words = _bloom_word_updates(df, cols, m, k, seed, keys)
        return _assemble_by_key(words, keys,
                                lambda r: _bloom_pack(m, k, r["w"], r["bits"]))


def quantile_grouped_build_preagg(df: DataFrame, keys, col, factory,
                                  max_cardinality: int = 2_000_000) -> DataFrame:
    """Per-key quantile-sketch table (keys..., sketch binary) via the
    pre-aggregated path — the grouped analog of `quantile_build_preagg`.

    `groupBy(keys, value).count()` runs in codegen with map-side partial
    aggregation, so only (key, distinct-value, count) triples cross the
    Arrow pipe — |keys| * per-key-cardinality rows, never n — and each
    key's sketch absorbs its pairs via one weighted insert. Pairs are
    sorted by value before insertion, making the blob a deterministic
    function of the key's value histogram (partition/cluster invariant —
    tested); the same published rank bounds hold (update_weighted).

    ``max_cardinality`` bounds the per-key distinct-value count (checked
    per key at assembly); beyond it use the kernel grouped build
    (`agg.grouped_sketch_table`), whose cost is per-row but
    unconditional."""
    if factory().HASH_KEYED:
        raise ValueError("quantile_grouped_build_preagg is for value "
                         "sketches (KLL/TDigest), not hash-keyed ones")
    keys = [keys] if isinstance(keys, str) else list(keys)
    c = _cols([col])[0].cast("double")
    cells = (df.where(c.isNotNull() & ~F.isnan(c))
               .groupBy(*keys, c.alias("__v"))
               .agg(F.count(F.lit(1)).alias("__w")))
    return _assemble_by_key(cells, keys, lambda r: _quantile_pack(
        factory, r["__v"], r["__w"], max_cardinality))


# --------------------------------------------------------------------------
# Theta / KMV
# --------------------------------------------------------------------------

def _theta_pack(k: int, hf) -> "ThetaSketch":
    """Distinct unsigned-order hashes (sign bit flipped, any order) ->
    ThetaSketch in eager-trim canonical state: retained = the k smallest,
    theta = the (k+1)-th. Shared by the global and grouped builds."""
    from .sketches.theta import ThetaSketch, _THETA_MAX
    arr = np.sort(np.asarray(hf, dtype=np.int64).view(U64) ^ U64(1 << 63))
    arr = arr[arr < _THETA_MAX]
    sk = ThetaSketch(k)
    if arr.size > k:
        sk.theta = arr[k]
        arr = arr[:k]
    sk.retained = arr
    return sk


def theta_build_jvm(df: DataFrame, cols, k: int = 4096,
                    seed: int = DEFAULT_SEED,
                    expected_n: int | None = None) -> "ThetaSketch":
    """Build a ThetaSketch entirely JVM-side; byte-identical to the kernel.

    The theta state IS the k+1 smallest distinct hashes, so the whole build
    is `distinct + TakeOrderedAndProject`: map-side partial dedup, shuffle
    of distinct hashes only, per-partition top-(k+1), and exactly k+1 rows
    reach the driver whatever n is. Unsigned hash order is signed order
    after flipping the sign bit (same trick as hll_build_jvm).

    ``expected_n``: optional rough distinct-count hint. Rows are
    pre-filtered to hashes below ~8·(k+1)/expected_n of the hash space
    *before* the dedup shuffle, so the shuffle carries ~8k rows instead of
    every distinct hash (the difference between an 8 GB and a 64 KB
    exchange at 10^9 distinct keys). Safe for any hint quality: the result
    is accepted only if k+1 survivors prove the true theta lies below the
    pre-filter threshold; otherwise (hint too high by >8x) the build
    silently falls back to one unfiltered pass. Byte-identical either way
    (tested). When no hint is given the build now speculates with
    expected_n = 2^20 (r6): any corpus with >= 2^17 distinct keys accepts
    the filtered pass (its dedup shuffle shrinks by n/2^20), and a
    smaller corpus pays one extra filtered scan whose dedup is tiny by
    the same bound — cheap exactly when the fallback full pass is also
    cheap."""
    from .sketches.theta import ThetaSketch
    ThetaSketch(k)  # validates k
    cs = _cols(cols)
    hf = hash_col(cs, seed).bitwiseXOR(F.lit(_MIN64))  # unsigned-order key
    base = df.where(_notnull(cs)).select(hf.alias("hf"))

    def smallest(src: DataFrame) -> np.ndarray:
        return src.distinct().orderBy("hf").limit(k + 1).toPandas()["hf"].to_numpy()

    arr = None
    if expected_n is None:
        # Speculate only when the optimizer's size estimate says the
        # input is big enough to plausibly hold >= 2^17 distinct keys
        # (the acceptance bound for the 2^20 guess): for a small input
        # the filtered pass would always fall back, costing one extra
        # (cheap, but job-latency) pass for nothing — measured +0.3 s on
        # q40's two ~150-distinct-user builds. The ANALYZED plan's
        # sizeInBytes is used (no job, ~0.6 ms; optimizedPlan() would run
        # the optimizer eagerly, measured 35 ms/call) and only gates the
        # HINT, never correctness.
        try:
            size = int(df._jdf.queryExecution().analyzed()
                       .stats().sizeInBytes())
        except Exception:  # noqa: BLE001 - py4j/plan-stats unavailable
            size = 0
        if size > (64 << 20):
            expected_n = 1 << 20  # wrong guesses fall back, byte-identical
    if expected_n and expected_n > 0:
        thr_u = min((1 << 64) - 1,
                    ((k + 1) * 8 * (1 << 64)) // max(int(expected_n), 1))
        if thr_u < (1 << 64) - 1:
            cand = smallest(base.where(
                F.col("hf") < F.lit(_signed(thr_u ^ (1 << 63)))))
            # accept only if the (k+1)-th smallest is proven inside the
            # filtered region — i.e. the filter could not have cut the tail
            if cand.size >= k + 1:
                arr = cand
    if arr is None:
        arr = smallest(base)
    return _theta_pack(k, arr)


def theta_grouped_estimate_jvm(df: DataFrame, keys, cols, k: int = 4096,
                               seed: int = DEFAULT_SEED,
                               out_col: str = "est") -> DataFrame:
    """Per-key theta distinct estimates with ZERO rows crossing into Python
    (grouped analog of theta_build_jvm; mirrors hll_grouped_estimate_jvm).

    Plan: distinct (key, hash) -> per-key window rank in unsigned hash
    order, keep rank <= k+1 -> per-key aggregate picks the (k+1)-th
    smallest as theta and counts the k below it. The estimate
    `k / (theta/2^64)` (or the exact count while fewer than k+1 distinct
    values exist) is float-identical to ThetaSketch.estimate(), which
    normalizes theta through the same flipped-int64 arithmetic. Window
    input is one row per distinct (key, hash) — the sort is per-key,
    shuffle-partitioned, never global."""
    from pyspark.sql import Window
    from .sketches.theta import ThetaSketch
    ThetaSketch(k)  # validate k
    keys = [keys] if isinstance(keys, str) else list(keys)
    cs = _cols(cols)
    hf = hash_col(cs, seed).bitwiseXOR(F.lit(_MIN64))
    d = (df.where(_notnull(cs))
           .select(*keys, hf.alias("__hf")).distinct())
    w = Window.partitionBy(*keys).orderBy("__hf")
    ranked = (d.withColumn("__rn", F.row_number().over(w))
               .where(F.col("__rn") <= k + 1))
    per_key = ranked.groupBy(*keys).agg(
        F.max(F.when(F.col("__rn") == k + 1, F.col("__hf"))).alias("__th"),
        F.sum(F.when(F.col("__rn") <= k, 1).otherwise(0)).alias("__n"))
    theta_norm = ((F.col("__th").cast("double") + F.lit(float(1 << 63)))
                  / F.lit(float(1 << 64)))
    est = F.when(F.col("__th").isNull(), F.col("__n").cast("double")) \
           .otherwise(F.lit(float(k)) / theta_norm)
    return per_key.select(*keys, est.alias(out_col))


def theta_grouped_build_jvm(df: DataFrame, keys, cols, k: int = 4096,
                            seed: int = DEFAULT_SEED) -> DataFrame:
    """Per-key theta sketch table (keys..., sketch binary) — the
    MERGEABLE counterpart of `theta_grouped_estimate_jvm`, byte-identical
    per key to the kernel grouped build (eager-trim canonical state:
    retained = the k smallest distinct hashes, theta = the (k+1)-th;
    tested). Plan: distinct (key, hash) -> per-key window rank in
    unsigned order, keep rank <= k+1 (≤ |keys| * (k+1) rows reach
    assembly) -> `agg._assemble_by_key` packs each key's retained set.
    The sort is per-key, shuffle-partitioned, never global."""
    from pyspark.sql import Window
    from .sketches.theta import ThetaSketch
    ThetaSketch(k)  # validate k
    keys = [keys] if isinstance(keys, str) else list(keys)
    cs = _cols(cols)
    hf = hash_col(cs, seed).bitwiseXOR(F.lit(_MIN64))  # unsigned-order key
    d = (df.where(_notnull(cs))
           .select(*keys, hf.alias("__hf")).distinct())
    w = Window.partitionBy(*keys).orderBy("__hf")
    ranked = (d.withColumn("__rn", F.row_number().over(w))
               .where(F.col("__rn") <= k + 1).drop("__rn"))
    return _assemble_by_key(ranked, keys, lambda r: _theta_pack(k, r["__hf"]))


# --------------------------------------------------------------------------
# bottom-k sample builds
# --------------------------------------------------------------------------

def _sample_pack(hf: np.ndarray, pl: np.ndarray, k: int):
    """Pack (unsigned-order hash, payload) rows into a SampleSketch —
    shared by the grouped and global builds. Rows need not be sorted."""
    from .sketches.sample import SampleSketch
    from .sketches.theta import _THETA_MAX
    arr = hf.astype(np.int64).view(U64) ^ U64(1 << 63)
    order = np.argsort(arr)
    arr, pl = arr[order], pl[order]
    keep = arr < _THETA_MAX
    arr, pl = arr[keep], pl[keep]
    sk = SampleSketch(k)
    if arr.size > k:
        sk.theta = arr[k]
        arr, pl = arr[:k], pl[:k]
    sk.hashes = arr
    out = np.empty(arr.size, dtype=object)
    out[:] = [bytes(x) for x in pl]
    sk.payloads = out
    return sk


def sample_grouped_build_jvm(df: DataFrame, keys, cols, payload_col,
                             k: int = 1024,
                             seed: int = DEFAULT_SEED) -> DataFrame:
    """Per-key bottom-k sample table (keys..., sketch binary) — K uniform
    example payloads per key over any corpus size, byte-identical per key
    to the kernel grouped build (sketches/sample.py's eager-trim
    canonical state). The theta_grouped_build_jvm topology with a payload
    riding along: min(payload) per distinct (key, hash) collapses
    duplicates in CODEGEN with map-side partial aggregation, a per-key
    window rank keeps k+1 rows (WindowGroupLimit: per-partition top-k,
    never a global sort), and `agg._assemble_by_key` only PACKS O(k) rows
    per key — Python never sees the corpus.

    Kernel-parity details: payloads are compared as unsigned bytes on
    both sides (Spark's binary/string ordering == python bytes ordering;
    string payloads are cast to binary = their UTF-8 bytes), and NULL
    payloads rank as empty bytes (coalesce), matching the kernel's
    None -> b'' rule."""
    from pyspark.sql import Window
    from .sketches.sample import SampleSketch
    SampleSketch(k)  # validate k
    keys = [keys] if isinstance(keys, str) else list(keys)
    cs = _cols(cols)
    hf = hash_col(cs, seed).bitwiseXOR(F.lit(_MIN64))  # unsigned-order key
    pc = F.coalesce(_cols([payload_col])[0].cast("binary"), F.lit(b""))
    d = (df.where(_notnull(cs))
           .groupBy(*keys, hf.alias("__hf"))
           .agg(F.min(pc).alias("__pl")))
    w = Window.partitionBy(*keys).orderBy("__hf")
    ranked = (d.withColumn("__rn", F.row_number().over(w))
               .where(F.col("__rn") <= k + 1).drop("__rn"))
    return _assemble_by_key(ranked, keys,
                            lambda r: _sample_pack(r["__hf"], r["__pl"], k))


def sample_build_jvm(df: DataFrame, cols, payload_col, k: int = 1024,
                     seed: int = DEFAULT_SEED):
    """Whole-corpus bottom-k sample, JVM-reduced: min(payload) per
    distinct hash in codegen, then a TakeOrdered of k+1 rows — only O(k)
    rows reach the driver. Byte-identical to the kernel build."""
    from .sketches.sample import SampleSketch
    SampleSketch(k)  # validate k
    cs = _cols(cols)
    hf = hash_col(cs, seed).bitwiseXOR(F.lit(_MIN64))
    pc = F.coalesce(_cols([payload_col])[0].cast("binary"), F.lit(b""))
    pdf = (df.where(_notnull(cs))
             .groupBy(hf.alias("__hf"))
             .agg(F.min(pc).alias("__pl"))
             .orderBy("__hf")
             .limit(k + 1)
             .toPandas())
    return _sample_pack(pdf["__hf"].to_numpy(dtype=np.int64),
                        pdf["__pl"].to_numpy(dtype=object), k)


# --------------------------------------------------------------------------
# weighted bottom-k sample builds (exponential-rank / ppswor)
# --------------------------------------------------------------------------

def _wsample_rank_col(hf_col: Column, w_col: Column) -> Column:
    """Exponential rank -ln(u)/w as a codegen expression over the
    XOR-shifted signed hash, term-for-term the kernel's wsample._rank
    (flipped int64 -> double, + 2^63, * 2^-64, floored at 2^-64). Only
    the ORDERING of this column is consumed JVM-side — the packer
    recomputes ranks in numpy from the exact (hash, weight) pairs, so a
    <=1-ulp Math.log/libm divergence cannot alter any RETAINED entry's
    stored rank. Boundary caveat (round-5 ADVICE, documented like
    ddsketch.bucket_index's): when two ranks straddle the k+1 selection
    cut within <=1 ulp, the JVM ordering may select a different (k+1)-th
    row than the kernel build would, changing tau and which single
    boundary entry is retained — byte-parity with the kernel build is
    exact except at such ulp-degenerate cuts (never observed across the
    parity suite's corpora; the estimator's guarantees are unaffected
    either way)."""
    u = F.greatest((hf_col.cast("double") + F.lit(float(1 << 63)))
                   * F.lit(2.0 ** -64), F.lit(2.0 ** -64))
    return -F.log(u) / w_col


def _wsample_pack(hf: np.ndarray, wt: np.ndarray, pl: np.ndarray, k: int):
    """Pack (XOR-shifted hash, weight, payload) rows into a
    WeightedSampleSketch — shared by the grouped and global builds.
    Rows need not be sorted; ranks are recomputed in numpy (kernel
    arithmetic) so the blob is byte-identical to a kernel build."""
    from .sketches.wsample import WeightedSampleSketch, _rank
    arr = hf.astype(np.int64).view(U64) ^ U64(1 << 63)
    wt = wt.astype(np.float64)
    r = _rank(arr, wt)
    order = np.lexsort((arr, r))
    arr, wt, pl, r = arr[order], wt[order], pl[order], r[order]
    sk = WeightedSampleSketch(k)
    if arr.size > k:
        sk.tau = float(r[k])
        keep = r < sk.tau
        arr, wt, pl = arr[keep], wt[keep], pl[keep]
    sk.hashes = arr
    sk.weights = wt
    out = np.empty(arr.size, dtype=object)
    out[:] = [bytes(x) for x in pl]
    sk.payloads = out
    return sk


def _wsample_dedup(df: DataFrame, keys, cs, weight_col, payload_col,
                   seed: int):
    """Shared head of the weighted-sample builds: one codegen groupBy
    collapses duplicate (keys..., hash) occurrences to the kernel's
    canonical entry — MAX weight, then MIN payload (min over the
    (-weight, payload) struct; Spark struct/binary ordering == python
    tuple/bytes ordering) — with map-side partial aggregation, so the
    shuffle carries distinct keys, not occurrences. Rows with NULL key
    columns or NULL/NaN/<=0 weight are excluded (the kernel's rule)."""
    wc = _cols([weight_col])[0].cast("double")
    pc = F.coalesce(_cols([payload_col])[0].cast("binary"), F.lit(b""))
    hf = hash_col(cs, seed).bitwiseXOR(F.lit(_MIN64))  # unsigned-order key
    return (df.where(_notnull(cs) & wc.isNotNull()
                     & ~F.isnan(wc) & (wc > 0))
              .groupBy(*keys, hf.alias("__hf"))
              .agg(F.min(F.struct((-wc).alias("nw"),
                                  pc.alias("pl"))).alias("__mx"))
              .select(*keys, "__hf",
                      (-F.col("__mx.nw")).alias("__w"),
                      F.col("__mx.pl").alias("__pl")))


def wsample_grouped_build_jvm(df: DataFrame, keys, cols, weight_col,
                              payload_col, k: int = 1024,
                              seed: int = DEFAULT_SEED) -> DataFrame:
    """Per-key WEIGHTED bottom-k sample table (keys..., sketch binary):
    K example payloads per key, inclusion probability proportional to
    ``weight_col`` (ppswor — sketches/wsample.py), plus the
    rank-conditioned total-weight estimator over the same retained set.
    Byte-identical per key to the kernel grouped build.

    Plan (the sample_grouped_build_jvm topology with the rank riding
    along): codegen dedup to canonical (key, hash, max-weight,
    min-payload) entries -> exponential rank as a codegen expression ->
    per-key window rank keeps k+1 rows (WindowGroupLimit: per-partition
    top-k, never a global sort) -> `agg._assemble_by_key` packs O(k) rows
    per key. Python never sees the corpus, and the only shuffle rows are
    distinct (key, hash) pairs."""
    from pyspark.sql import Window
    from .sketches.wsample import WeightedSampleSketch
    WeightedSampleSketch(k)  # validate k
    keys = [keys] if isinstance(keys, str) else list(keys)
    cs = _cols(cols)
    d = _wsample_dedup(df, keys, cs, weight_col, payload_col, seed)
    d = d.withColumn("__r", _wsample_rank_col(F.col("__hf"), F.col("__w")))
    w = Window.partitionBy(*keys).orderBy("__r", "__hf")
    ranked = (d.withColumn("__rn", F.row_number().over(w))
               .where(F.col("__rn") <= k + 1).drop("__rn", "__r"))
    return _assemble_by_key(ranked, keys, lambda r: _wsample_pack(
        r["__hf"], r["__w"], r["__pl"], k))


def wsample_build_jvm(df: DataFrame, cols, weight_col, payload_col,
                      k: int = 1024, seed: int = DEFAULT_SEED):
    """Whole-corpus weighted bottom-k sample, JVM-reduced: canonical
    per-hash entry in codegen, exponential rank in codegen, then a
    TakeOrdered of k+1 rows — only O(k) rows reach the driver.
    Byte-identical to the kernel build."""
    from .sketches.wsample import WeightedSampleSketch
    WeightedSampleSketch(k)  # validate k
    cs = _cols(cols)
    d = _wsample_dedup(df, [], cs, weight_col, payload_col, seed)
    d = d.withColumn("__r", _wsample_rank_col(F.col("__hf"), F.col("__w")))
    pdf = d.orderBy("__r", "__hf").limit(k + 1).toPandas()
    return _wsample_pack(pdf["__hf"].to_numpy(dtype=np.int64),
                         pdf["__w"].to_numpy(dtype=np.float64),
                         pdf["__pl"].to_numpy(dtype=object), k)


# --------------------------------------------------------------------------
# IBLT (set-reconciliation) builds
# --------------------------------------------------------------------------

def _iblt_cell_cols(h: Column, num_hashes: int, sub: int) -> list[Column]:
    """Cell index of probe i as codegen expressions — term-for-term the
    kernel's partitioned addressing (sketches/iblt.py:_probe_matrix):
    cell_i = i*sub + (splitmix64(h ^ PROBE_SALTS[i]) & (sub-1)). Wrap
    arithmetic must be active (splitmix64 multiplies)."""
    from .sketches.iblt import PROBE_SALTS
    out = []
    for i in range(num_hashes):
        salted = h.bitwiseXOR(F.lit(_signed(int(PROBE_SALTS[i]))))
        slot = _splitmix64_col(salted).bitwiseAND(F.lit(sub - 1))
        out.append(slot + F.lit(i * sub))
    return out


def _iblt_check_col(h: Column) -> Column:
    """check(h) = splitmix64(h ^ CHECK_SALT) — the kernel's _check as a
    codegen expression (wire contract; sketches/iblt.py)."""
    from .sketches.iblt import CHECK_SALT
    return _splitmix64_col(h.bitwiseXOR(F.lit(_signed(CHECK_SALT))))


def _iblt_scatter(proto, cells: np.ndarray, cnts: np.ndarray,
                  kxs: np.ndarray, cxs: np.ndarray):
    """Scatter aggregated (cell, count, key_xor, check_xor) rows into a
    zero table of ``proto``'s geometry. XOR aggregates arrive as the
    int64 bit patterns Spark's bit_xor produces; view them back."""
    proto.counts[cells] = cnts
    proto.key_xor[cells] = kxs.astype(np.int64).view(U64)
    proto.check_xor[cells] = cxs.astype(np.int64).view(U64)
    return proto


def _iblt_updates(df: DataFrame, cs, num_hashes: int, sub: int,
                  seed: int, extra: Sequence[str] = (),
                  assume_distinct: bool = False) -> DataFrame:
    """(extra..., cell, count, key_xor, check_xor) aggregate table — the
    whole per-row sketch arithmetic in codegen. Rows are deduped to
    DISTINCT keys first (reconciliation semantics: each side contributes
    each key once), then each key explodes into its k (cell, key, check)
    entries and groupBy(cell) folds them with count/bit_xor — map-side
    partial aggregation bounds shuffle volume by cells-touched-per-task,
    and at most min(k·d, m) rows cross into Python, whatever n is.

    ``assume_distinct``: skip the dedup when the key IS the corpus's
    primary key (e.g. (conv_id, turn_idx) on transcripts) — the distinct
    is the only stage whose shuffle scales with the KEY count (8 B/key =
    terabytes at 10^12 keys); without it the only exchange left carries
    map-side-combined cell partials, O(num_cells · tasks) regardless of
    corpus size. Caller's contract: with duplicates present the digest
    represents the multiset (duplicate multiplicities that MATCH across
    two snapshots still cancel in subtract, but a key whose multiplicity
    differs decodes only if the net is ±1 — pass False when unsure)."""
    h = hash_col(cs, seed)
    d = df.where(_notnull(cs)).select(*extra, h.alias("__h"))
    if not assume_distinct:
        d = d.distinct()
    chk = _iblt_check_col(F.col("__h"))
    entries = [F.struct(c.alias("c"), F.col("__h").alias("k"),
                        chk.alias("x"))
               for c in _iblt_cell_cols(F.col("__h"), num_hashes, sub)]
    exploded = (d.select(*extra, F.explode(F.array(*entries)).alias("e"))
                  .select(*extra, F.col("e.c").alias("cell"),
                          F.col("e.k").alias("k"), F.col("e.x").alias("x")))
    return exploded.groupBy(*extra, "cell").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.bit_xor("k").alias("kx"),
        F.bit_xor("x").alias("cx"))


def iblt_build_jvm(df: DataFrame, cols, max_diff: int | None = None,
                   num_cells: int | None = None, num_hashes: int = 4,
                   seed: int = DEFAULT_SEED, assume_distinct: bool = False):
    """Build an IBLT over the DISTINCT keys of ``cols`` entirely
    JVM-side; byte-identical to the kernel build over np.unique'd hashes
    (tested). Size with ``max_diff`` (expected symmetric-difference
    budget, the reconciliation sizing — IBLT.for_diff) or an explicit
    ``num_cells``. Python materializes at most min(k·d, m) aggregated
    cell rows — never the corpus. ``assume_distinct=True`` skips the
    dedup shuffle when ``cols`` is the corpus's primary key (the 100 TB
    fast path — see _iblt_updates for the contract)."""
    from .sketches.iblt import IBLT
    if (max_diff is None) == (num_cells is None):
        raise ValueError("size with exactly one of max_diff= / num_cells=")
    proto = (IBLT.for_diff(max_diff, num_hashes) if max_diff is not None
             else IBLT(num_cells, num_hashes))
    cs = _cols(cols)
    with _wrap_arithmetic(df.sparkSession):
        pdf = _iblt_updates(df, cs, proto.num_hashes, proto.sub, seed,
                            assume_distinct=assume_distinct).toPandas()
    if len(pdf):
        _iblt_scatter(proto,
                      pdf["cell"].to_numpy(dtype=np.int64),
                      pdf["cnt"].to_numpy(dtype=np.int64),
                      pdf["kx"].to_numpy(dtype=np.int64),
                      pdf["cx"].to_numpy(dtype=np.int64))
    return proto


def iblt_grouped_build_jvm(df: DataFrame, keys, cols,
                           max_diff: int | None = None,
                           num_cells: int | None = None,
                           num_hashes: int = 4,
                           seed: int = DEFAULT_SEED) -> DataFrame:
    """Per-key IBLT table (keys..., sketch binary) — one reconciliation
    digest per key (e.g. per ingest day / per shard), byte-identical per
    key to the kernel build over that key's distinct hashes. Same
    topology as the global build with the group keys riding through the
    codegen aggregation; `agg._assemble_by_key` only SCATTERS O(cells)
    rows per key into the blob — Python never sees the corpus. Blobs
    subtract/decode against any same-geometry build (kernel, global JVM,
    or another grouped row)."""
    from .sketches.iblt import IBLT
    if (max_diff is None) == (num_cells is None):
        raise ValueError("size with exactly one of max_diff= / num_cells=")
    proto = (IBLT.for_diff(max_diff, num_hashes) if max_diff is not None
             else IBLT(num_cells, num_hashes))
    keys = [keys] if isinstance(keys, str) else list(keys)
    cs = _cols(cols)
    m, k = proto.num_cells, proto.num_hashes
    # built inside the wrap window, which binds the non-ANSI evaluation
    # mode into the plan: no job runs here
    with _wrap_arithmetic(df.sparkSession):
        updates = _iblt_updates(df, cs, k, proto.sub, seed, extra=keys)
        return _assemble_by_key(updates, keys, lambda r: _iblt_scatter(
            IBLT(m, k), r["cell"], r["cnt"], r["kx"], r["cx"]))


# --------------------------------------------------------------------------
# pre-aggregated quantile builds (KLL / t-digest)
# --------------------------------------------------------------------------

def _quantile_pack(factory, values, counts, max_cardinality: int):
    """Distinct (value, count) pairs -> one weighted insert into
    ``factory()``, in value order, so the blob is a function of the
    value histogram alone. Shared by the global and grouped builds;
    raises past ``max_cardinality`` pairs."""
    if len(values) > max_cardinality:
        raise ValueError(
            f"> {max_cardinality} distinct values; use the kernel build "
            "(agg.build_sketch / agg.grouped_sketch_table) for "
            "high-cardinality columns")
    v = np.asarray(values, dtype=np.float64)
    order = np.argsort(v)
    sk = factory()
    sk.update_weighted(v[order], np.asarray(counts, dtype=np.int64)[order])
    return sk


def quantile_build_preagg(df: DataFrame, col, factory,
                          max_cardinality: int = 2_000_000):
    """JVM-reduced quantile-sketch build for value columns of modest
    DISTINCT cardinality (turn lengths, latency ms, token counts, ...):
    `groupBy(value).count()` runs in codegen with map-side partial
    aggregation, so only (distinct-value, count) pairs — `cardinality`
    rows, not n — cross the Arrow pipe, and the sketch absorbs them via
    weighted insert (KLL binary-decomposed levels / t-digest weighted
    centroids; same published rank bounds, see the sketches'
    update_weighted docstrings). The value-sketch analog of
    hll_build_jvm/cms_build_jvm.

    Raises if the column exceeds ``max_cardinality`` distinct values —
    at that point use the streaming kernel path (agg.build_sketch), whose
    cost is per-row but unconditional."""
    if factory().HASH_KEYED:
        raise ValueError("quantile_build_preagg is for value sketches "
                         "(KLL/TDigest), not hash-keyed ones")
    c = _cols([col])[0].cast("double")
    pdf = (df.where(c.isNotNull() & ~F.isnan(c))
             .groupBy(c.alias("v"))
             .agg(F.count(F.lit(1)).alias("w"))
             .limit(max_cardinality + 1)
             .toPandas())
    return _quantile_pack(factory, pdf["v"], pdf["w"], max_cardinality)


def _mg_pack(k: int, flags, counts, hashes) -> "MisraGries":
    """Rank-ordered (grouping flag, count, item hash) rows — the total
    row (flag 1) first, then the top item counts — -> MisraGries after
    exactly one trim round: t = the (k+1)-th largest count is subtracted
    and becomes dec. Shared by the global and grouped builds."""
    from .sketches.mg import MisraGries
    sk = MisraGries(k)
    if not len(counts):
        return sk
    flags = np.asarray(flags)
    assert int(flags[0]) == 1, "the total row must rank first"
    ct = np.asarray(counts, dtype=np.int64)
    hs = np.asarray(hashes, dtype=np.int64)[1:].view(U64)
    sk.n, ct = int(ct[0]), ct[1:]
    t = int(ct[k]) if ct.size > k else 0  # the (k+1)-th largest count
    kept = ct[:k] - t
    pos = kept > 0
    items, cnts = hs[:k][pos], kept[pos]
    order = np.argsort(items)
    sk.items, sk.counts, sk.dec = items[order], cnts[order], t
    return sk


def mg_build_preagg(df: DataFrame, cols, k: int = 256,
                    seed: int = DEFAULT_SEED) -> "MisraGries":
    """JVM-reduced Misra-Gries build: ONE codegen aggregation, k+2 rows to
    the driver, any key cardinality.

    Only the top k+1 exact counts matter: trimming an exact count table
    subtracts t = the (k+1)-th largest count, which zeroes every item at
    or below t — items outside the top k+1 can never surface. So the
    build is `rollup(key-hash).count()` (map-side partials collapse the
    Zipf head; the rollup's grand-total row IS n, so no second pass over
    the data) + `orderBy(cnt desc, hash asc).limit(k+2)` — a TakeOrdered,
    per-task local top-k, never a global sort. The grand-total row sorts
    first because n >= every per-key count (NULL-hash-first breaks the
    tie when one key holds all rows).

    The result is the BEST summary any arrival order could produce:
    retained items carry exact-count - t, so ``stored + dec == exact``
    with equality (the kernel path's dec accumulates a t per trim round;
    here there is exactly one round over exact counts). All three MG
    invariants hold: stored <= exact; exact <= stored + dec (dropped
    items have exact <= t = dec); dec <= (n - M)/(k+1) since
    n >= sum(top k+1 counts) = M + (k+1)*t. Deterministic: ties broken
    by (cnt desc, hash asc)."""
    cs = _cols(cols)
    pdf = (df.where(_notnull(cs))
             .select(hash_col(cs, seed).alias("__h"))
             .rollup("__h")
             .agg(F.count(F.lit(1)).alias("__c"), F.grouping("__h").alias("__g"))
             .orderBy(F.col("__c").desc(), F.col("__h").asc_nulls_first())
             .limit(k + 2)
             # the total row's NULL __h would turn the column float64
             .withColumn("__h", F.coalesce(F.col("__h"), F.lit(0)))
             .toPandas())
    return _mg_pack(k, pdf["__g"], pdf["__c"], pdf["__h"])


def mg_grouped_build_preagg(df: DataFrame, keys, cols, k: int = 256,
                            seed: int = DEFAULT_SEED) -> DataFrame:
    """Per-key Misra-Gries sketch table (keys..., sketch binary), the
    grouped analog of `mg_build_preagg` and the MG counterpart of
    `hll_grouped_build_jvm`: exact (key, item) counts from ONE
    map-side-combined aggregation, a rank-filtered window that keeps only
    each key's top k+1 counts plus its total (WindowGroupLimit prunes to
    k+2 rows per key on both shuffle sides when k+2 <= the optimizer
    threshold, default 1000), then one trim round in
    `agg._assemble_by_key` — O(|keys| * k) rows ever reach Python, never
    n.

    Grouping levels: `groupingSets([keys+[item], keys])` computes the
    per-(key, item) counts AND the per-key total n in the same
    aggregation pass; `grouping(item)` separates the two row kinds, so a
    genuinely-NULL key value is still a real group (the flag, not NULL,
    marks subtotals). Within each key the total row is forced first in
    the window order (grouping flag desc), mirroring the global build's
    rollup-grand-total-sorts-first invariant.

    Same determinism contract as `mg_build_preagg`: built from exact
    counts with exactly one trim round (t = the (k+1)-th largest count),
    ties broken (count desc, hash asc) — so each key's sketch is
    byte-identical to `mg_build_preagg` run on that key's rows alone
    (tested), is the tightest summary any arrival order could produce,
    and carries the full MG invariants (stored <= exact <= stored + dec,
    dec <= (n - M)/(k+1)). Persist with `warehouse.save_sketch_table`,
    merge across corpora via the kernel merge, and query from SQL via
    `mg_count_lo` / `mg_error_bound`."""
    from pyspark.sql.window import Window
    from .sketches.mg import MisraGries
    MisraGries(k)  # validate k
    keys = [keys] if isinstance(keys, str) else list(keys)
    cs = _cols(cols)
    base = (df.where(_notnull(cs))
              .select(*keys, hash_col(cs, seed).alias("__h")))
    counts = (base.groupingSets([keys + ["__h"], keys], *keys, "__h")
                  .agg(F.count(F.lit(1)).alias("__c"),
                       F.grouping("__h").alias("__g")))
    w = Window.partitionBy(*keys).orderBy(
        F.col("__g").desc(), F.col("__c").desc(), F.col("__h").asc())
    top = (counts.withColumn("__rn", F.row_number().over(w))
                 .where(F.col("__rn") <= k + 2)
                 # the total row's __h is NULL; a null in an int64 column
                 # turns the whole numpy column float64 (53-bit mantissa,
                 # corrupting hashes), so fill it — the pack never reads
                 # the total row's hash
                 .withColumn("__h", F.coalesce(F.col("__h"), F.lit(0))))

    def pack(r):
        o = np.argsort(r["__rn"])
        return _mg_pack(k, r["__g"][o], r["__c"][o], r["__h"][o])

    out = _assemble_by_key(top, keys, pack)
    # the rank<=literal -> WindowGroupLimit rewrite only fires up to the
    # optimizer threshold (default 1000): for larger k, raise it SCOPED —
    # pin the rewrite into this DataFrame's QueryExecution eagerly, then
    # restore the session value (same discipline as
    # operators/quantiles.grouped_extreme_quantiles). The shared lock
    # keeps the raised window invisible to the library's other planning
    # threads (see config.WGL_THRESHOLD_LOCK).
    spark = df.sparkSession
    thr_key = "spark.sql.optimizer.windowGroupLimitThreshold"
    with WGL_THRESHOLD_LOCK:
        prev = spark.conf.get(thr_key, None)
        if int(prev if prev is not None else "1000") < k + 2:
            spark.conf.set(thr_key, str(k + 2))
            try:
                out._jdf.queryExecution().executedPlan()
            finally:
                if prev is None:
                    spark.conf.unset(thr_key)
                else:
                    spark.conf.set(thr_key, prev)
    return out


def _ddsketch_exprs(c: Column, log_gamma: float
                    ) -> tuple[Column, Column, Column]:
    """THE DDSketch domain + bucketing expressions — the single source of
    truth for every JVM-side build (standalone, grouped, one-scan family,
    streaming filter), so a change to the domain rule or the index math
    cannot diverge one path from the kernel's byte-parity contract.
    Returns (finite-predicate, sign in {-1,0,1}, idx =
    ceil(ln(|v|)/ln(gamma)); 0 for the zero bucket; Spark's
    `ceil(double)` returns LONG). NaN/NULL/+-inf fail the predicate, the
    same domain rule as DDSketch.update. A value within 1 ulp of a bucket
    boundary may bucket one off vs the numpy kernel (Math.log vs libm);
    both neighbors' representatives are within alpha of it, so estimates
    are unaffected (sketches/ddsketch.py bucket_index docstring)."""
    finite = c.isNotNull() & ~F.isnan(c) & (F.abs(c) != F.lit(float("inf")))
    sgn = F.when(c > 0, F.lit(1)).when(c < 0, F.lit(-1)).otherwise(F.lit(0))
    idx = F.when(c == 0, F.lit(0).cast("long")).otherwise(
        F.ceil(F.log(F.abs(c)) / F.lit(log_gamma)))
    return finite, sgn, idx


def _ddsketch_cells(df: DataFrame, col, log_gamma: float):
    """(sign, bucket-index) cell projection over the filtered rows — the
    standalone/grouped builds' form of _ddsketch_exprs."""
    c = _cols([col])[0].cast("double")
    finite, sgn, idx = _ddsketch_exprs(c, log_gamma)
    return df.where(finite), sgn.alias("__s"), idx.alias("__i")


def _ddsketch_assemble(proto_alpha: float, proto_limit: int,
                       s: np.ndarray, i: np.ndarray, n: np.ndarray):
    """Histogram rows -> DDSketch, the same _insert_buckets entry point
    update() uses, so the result is byte-identical to the kernel build."""
    from .sketches.ddsketch import DDSketch
    sk = DDSketch(proto_alpha, proto_limit)
    zero = n[s == 0]
    if zero.size:
        sk.zero_count = int(zero.sum())
        sk.n += sk.zero_count
    if (s > 0).any():
        sk._insert_buckets(1, i[s > 0], n[s > 0])
    if (s < 0).any():
        sk._insert_buckets(-1, i[s < 0], n[s < 0])
    return sk


def ddsketch_build_jvm(df: DataFrame, col, alpha: float = 0.01,
                       bucket_limit: int = 2048,
                       max_buckets: int = 4_000_000) -> "object":
    """JVM-reduced DDSketch build: relative-value-error quantiles with the
    ENTIRE per-row work in whole-stage codegen. Because the DDSketch
    state is literally a histogram over log buckets, the build IS
    `groupBy(sign, ceil(ln(|v|)/ln(gamma))).count()` — map-side partial
    counts bound the shuffle by buckets-touched-per-task, and only
    O(occupied buckets) rows cross the Arrow pipe (<= ~2*709/ln(gamma)
    per sign for all finite doubles; ~73k at alpha=0.01), whatever n is.
    Byte-identical to the kernel build up to float-boundary ulps
    (test_ddsketch_jvm byte-parity on continuous data) — unlike
    quantile_build_preagg (KLL/t-digest), there is NO distinct-value
    cardinality requirement: a column of 10^12 unique doubles still
    reduces to the bucket space.

    ``max_buckets`` guards the driver collect for extreme alphas
    (alpha=1e-5 spans up to ~28M buckets over the full double range);
    the default admits any alpha >= ~2e-4 unconditionally."""
    from .sketches.ddsketch import DDSketch
    proto = DDSketch(alpha, bucket_limit)  # validates params up front
    src, sgn, idx = _ddsketch_cells(df, col, proto._log_gamma)
    pdf = (src.groupBy(sgn, idx)
              .agg(F.count(F.lit(1)).alias("__n"))
              .limit(max_buckets + 1)
              .toPandas())
    if len(pdf) > max_buckets:
        raise ValueError(
            f"column occupies > {max_buckets} DDSketch buckets at "
            f"alpha={alpha} — raise max_buckets or coarsen alpha")
    return _ddsketch_assemble(alpha, bucket_limit,
                              pdf["__s"].to_numpy(dtype=np.int64),
                              pdf["__i"].to_numpy(dtype=np.int64),
                              pdf["__n"].to_numpy(dtype=np.int64))


def ddsketch_grouped_build_jvm(df: DataFrame, keys, col,
                               alpha: float = 0.01,
                               bucket_limit: int = 2048) -> DataFrame:
    """Per-key DDSketch table (keys..., sketch binary) — the grouped
    analog of `ddsketch_build_jvm`, byte-identical per key to the kernel
    grouped build (agg.grouped_sketch_table with a DDSketch factory;
    tested). One codegen `groupBy(keys, sign, bucket).count()` with
    map-side combine, then `agg._assemble_by_key` packs each key's
    histogram rows into a blob: |keys| * occupied-buckets rows reach
    assembly —
    never n, at ANY per-key value cardinality (the structural advantage
    over quantile_grouped_build_preagg for continuous columns). The
    10^12-row path for per-day / per-tool latency-SLO tables that must
    stay mergeable and warehouse-persistable."""
    from .sketches.ddsketch import DDSketch
    proto = DDSketch(alpha, bucket_limit)
    keys = [keys] if isinstance(keys, str) else list(keys)
    src, sgn, idx = _ddsketch_cells(df, col, proto._log_gamma)
    cells = (src.select(*keys, sgn, idx)
                .groupBy(*keys, "__s", "__i")
                .agg(F.count(F.lit(1)).alias("__n")))
    return _assemble_by_key(cells, keys, lambda r: _ddsketch_assemble(
        alpha, bucket_limit, r["__s"], r["__i"], r["__n"]))
