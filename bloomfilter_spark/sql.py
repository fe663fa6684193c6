"""SQL surface: query serialized sketch tables from plain ``spark.sql``.

`grouped_sketch_table` / `checkpointed` builds persist sketches as
``(keys..., sketch binary)`` parquet — the mergeable, corpus-union-able
form. This module registers vectorized pandas UDFs so those tables are
first-class SQL citizens:

    register_sketch_sql(spark)
    spark.sql('''
        SELECT event_type, sketch_estimate(sketch) AS approx_users
        FROM user_sketches
    ''')

Registered functions (all Arrow-batched; a bounded per-executor parse
cache means each distinct sketch blob is deserialized once per worker, not
once per row):

  sketch_estimate(sketch) -> double        distinct estimate: HLL / Theta
                                           native, Bloom / scalable Bloom
                                           via Swamidass–Baldi fill ratio
  sketch_quantile(sketch, q) -> double     KLL / t-digest quantile
  sketch_rank(sketch, x) -> double         estimated CDF at x (rank dual)
  sketch_histogram(s, lo, hi, n) -> array<double>  equi-width bucket masses
  sketch_describe(sketch) -> string        JSON introspection of any blob
  sketch_error_bound(sketch) -> double     the blob's current error bound
                                           in its family's native units
                                           (fpp / rel-std / additive / rank)
  kll_ks_distance(a, b) -> double          two-sample KS drift statistic
  cms_count(sketch, key_hash) -> long      Count-Min point estimate
  bloom_contains(sketch, key_hash) -> bool Bloom membership
  theta_intersect_estimate(a, b) -> double |A ∩ B| estimate
  theta_a_not_b_estimate(a, b) -> double   |A \\ B| estimate
  theta_intersect_pair(a, b) -> binary     the |A ∩ B| SKETCH — composable
  theta_a_not_b_pair(a, b) -> binary       the |A \\ B| SKETCH — composable
  bloom_intersect_pair(a, b) -> binary     AND of two Bloom blobs (zero-FN
                                           superset membership of A ∩ B)
  sketch_merge_pair(a, b) -> binary        pairwise merge (same type/params)
  sketch_seed() -> long                    the engine's default hash salt

``key_hash`` must be the engine's salted JVM-side hash: in SQL that is
``xxhash64(sketch_seed(), col...)`` — identical bit-for-bit to what the
builders inserted (agg.hash_col). `sketch_seed()` is registered for
convenience; interpolating `bloomfilter_spark.config.DEFAULT_SEED` as a
literal keeps the hash inside whole-stage codegen and is preferred in hot
paths.

Plus ONE aggregate, so GROUP BY re-aggregation needs no drop out of SQL:

  sketch_merge(sketch) -> binary           merge all of a group's sketches

    SELECT week, sketch_estimate(sketch_merge(sketch)) AS users
    FROM daily_sketches GROUP BY week

Scale note: these are per-row scalar functions over *sketch rows* (one row
per key/day/shard — already aggregated state, usually thousands of rows,
never the raw corpus), so the pandas-UDF hop is off the 100 TB data path
by construction. `sketch_merge` is a grouped-agg pandas UDF: Spark ships
each group's rows to one task with no partial aggregation — fine here
because groups are coarser rollups of already-aggregated rows (days into
a week), i.e. a handful of blobs per group, never raw data. For merging
HUGE sketch-row tables (millions of rows per output group) prefer
agg.merge_grouped_sketches, whose tree merge partial-aggregates.
"""

from __future__ import annotations

from collections import OrderedDict

import numpy as np
import pandas as pd

from .config import DEFAULT_SEED
from .sketches import Sketch, sketch_from_bytes
from .util import to_u64

#: per-executor parse cache, LRU by total serialized bytes (a few large
#: Bloom blobs must not accumulate unboundedly — same discipline as
#: agg._BC_CACHE)
_CACHE_BUDGET_BYTES = 256 << 20
_parse_cache: "OrderedDict[bytes, Sketch]" = OrderedDict()
_cache_bytes = 0


def _parse(buf) -> Sketch:
    global _cache_bytes
    b = bytes(buf)
    sk = _parse_cache.get(b)
    if sk is not None:
        _parse_cache.move_to_end(b)
        return sk
    sk = sketch_from_bytes(b)
    _parse_cache[b] = sk
    _cache_bytes += len(b)
    while _cache_bytes > _CACHE_BUDGET_BYTES and _parse_cache:
        old, _ = _parse_cache.popitem(last=False)
        _cache_bytes -= len(old)
    return sk


def sketch_estimate(sketch: pd.Series) -> pd.Series:
    """Population estimate of a blob: distinct count for HLL/theta/
    sample (native estimators) and Bloom/scalable-Bloom (the
    Swamidass–Baldi fill-ratio inversion); for a WEIGHTED sample blob
    the estimate is the population's total WEIGHT (rank-conditioned
    Horvitz-Thompson — sketches/wsample.py). Frequency/quantile
    families (CMS, KLL, t-digest, MG) carry a total weight `n`, not a
    population estimate — querying one raises with the family name
    instead of returning a number with the wrong meaning
    (`sketch_describe` exposes their `n`)."""
    def one(b):
        if b is None:
            return None
        sk = _parse(b)
        est = getattr(sk, "estimate", None)
        if est is None:
            raise TypeError(
                f"sketch_estimate: {type(sk).__name__} has no distinct-count "
                "estimator (its total weight is in sketch_describe(sketch))")
        return float(est())
    return sketch.map(one)


def sketch_quantile(sketch: pd.Series, q: pd.Series) -> pd.Series:
    return pd.Series(
        [None if (b is None or pd.isna(qq))
         else float(_parse(b).quantile(float(qq)))
         for b, qq in zip(sketch, q)], dtype="object")


def _per_row_hash_query(sketch: pd.Series, key_hash: pd.Series, method: str):
    """Group rows by sketch blob so each distinct sketch answers its rows'
    hashes in ONE vectorized kernel call. NULL sketch rows yield NULL.

    NULL key hashes: Arrow delivers a long column containing NULLs as
    float64, which silently destroys 64-bit hash precision for EVERY row
    in the batch — there is no way to recover the exact hashes, so that
    case raises instead of probing with garbage. (The documented call
    pattern `xxhash64(sketch_seed(), col)` never produces NULL: xxhash64
    skips null children.) An all-NULL batch is answerable: all NULLs."""
    n = len(sketch)
    out: list = [None] * n
    if pd.api.types.is_float_dtype(key_hash):
        if key_hash.isna().all():
            return pd.Series(out, dtype="object")
        raise ValueError(
            "key_hash contains NULLs mixed with values; the Arrow transfer "
            "degrades the column to float64 and 64-bit hashes lose "
            "precision. Filter NULL keys before probing "
            "(xxhash64(sketch_seed(), col) itself never returns NULL).")
    df = pd.DataFrame(
        {"s": sketch.reset_index(drop=True)
                    .map(lambda b: None if b is None else bytes(b)),
         "h": key_hash.reset_index(drop=True)})
    for blob, grp in df[df["s"].notna()].groupby("s", sort=False):
        hs = to_u64(grp["h"].to_numpy(dtype=np.int64))
        sk = _parse(blob)
        if not hasattr(sk, method):
            raise TypeError(
                f"{type(sk).__name__} does not support '{method}' — "
                f"check the sketch column matches the function "
                f"(bloom_contains needs a Bloom, cms_count a Count-Min)")
        res = getattr(sk, method)(hs)
        for i, v in zip(grp.index, res):
            out[i] = v.item() if hasattr(v, "item") else v
    return pd.Series(out, dtype="object")


def cms_count(sketch: pd.Series, key_hash: pd.Series) -> pd.Series:
    return _per_row_hash_query(sketch, key_hash, "query")


def bloom_contains(sketch: pd.Series, key_hash: pd.Series) -> pd.Series:
    return _per_row_hash_query(sketch, key_hash, "contains")


def theta_intersect_estimate(a: pd.Series, b: pd.Series) -> pd.Series:
    from .sketches import theta_intersect
    return pd.Series([
        None if (x is None or y is None)
        else float(theta_intersect(_parse(x), _parse(y)).estimate())
        for x, y in zip(a, b)], dtype="object")


def theta_a_not_b_estimate(a: pd.Series, b: pd.Series) -> pd.Series:
    from .sketches import theta_a_not_b
    return pd.Series([
        None if (x is None or y is None)
        else float(theta_a_not_b(_parse(x), _parse(y)).estimate())
        for x, y in zip(a, b)], dtype="object")


def theta_intersect_pair(a: pd.Series, b: pd.Series) -> pd.Series:
    """Intersection SKETCH of two theta blobs (binary out, not just the
    estimate) — makes set algebra COMPOSABLE in SQL: nest with
    theta_a_not_b_pair / sketch_merge_pair and put sketch_estimate only
    at the top, e.g. new-user churn
    ``sketch_estimate(theta_a_not_b_pair(week2, theta_intersect_pair(
    week1, week2)))``. NULL in → NULL out."""
    from .sketches import ThetaSketch, theta_intersect

    def ip(x, y):
        if x is None or y is None:
            return None
        sa, sb = _parse(bytes(x)), _parse(bytes(y))
        for s in (sa, sb):
            if not isinstance(s, ThetaSketch):
                raise TypeError(f"theta_intersect_pair needs theta blobs, "
                                f"got {type(s).__name__}")
        return theta_intersect(sa, sb).to_bytes()
    return pd.Series([ip(x, y) for x, y in zip(a, b)], dtype="object")


def theta_a_not_b_pair(a: pd.Series, b: pd.Series) -> pd.Series:
    """Difference SKETCH |A \\ B| of two theta blobs (binary out), the
    composable dual of theta_a_not_b_estimate. NULL in → NULL out."""
    from .sketches import ThetaSketch, theta_a_not_b

    def ab(x, y):
        if x is None or y is None:
            return None
        sa, sb = _parse(bytes(x)), _parse(bytes(y))
        for s in (sa, sb):
            if not isinstance(s, ThetaSketch):
                raise TypeError(f"theta_a_not_b_pair needs theta blobs, "
                                f"got {type(s).__name__}")
        return theta_a_not_b(sa, sb).to_bytes()
    return pd.Series([ab(x, y) for x, y in zip(a, b)], dtype="object")


def bloom_intersect_pair(a: pd.Series, b: pd.Series) -> pd.Series:
    """AND of two same-geometry Bloom blobs (binary out) — the membership
    dual of sketch_merge_pair's OR. The result filter answers positive for
    every key present in BOTH inputs (zero false negatives on the true
    intersection) and is a SUPERSET membership test: its FPR is higher
    than a filter built from A∩B directly, because a bit can survive the
    AND via different keys on each side. Use it to pre-filter probes
    against several per-shard/per-day filters at once; for intersection
    CARDINALITY use theta blobs (theta_intersect_pair), whose estimator
    has a published bound. NULL in → NULL out."""
    from .sketches import BloomFilter

    def bi(x, y):
        if x is None or y is None:
            return None
        sa, sb = _parse(bytes(x)), _parse(bytes(y))
        for s in (sa, sb):
            if not isinstance(s, BloomFilter):
                raise TypeError(f"bloom_intersect_pair needs plain Bloom "
                                f"blobs, got {type(s).__name__}")
        return sa.copy().intersect(sb).to_bytes()  # copy: parses are cached
    return pd.Series([bi(x, y) for x, y in zip(a, b)], dtype="object")


def theta_jaccard_estimate(a: pd.Series, b: pd.Series) -> pd.Series:
    """|A ∩ B| / |A ∪ B| from two theta sketches — the set-similarity
    score near-dup pipelines threshold on, computable between any two
    persisted sketch rows without touching raw data."""
    from .sketches import theta_intersect

    def jac(x, y):
        if x is None or y is None:
            return None
        sa, sb = _parse(x), _parse(y)
        u = sa.copy().merge(sb).estimate()  # copy: parses are cached
        if u <= 0.0:
            return 0.0
        return float(theta_intersect(sa, sb).estimate() / u)
    return pd.Series([jac(x, y) for x, y in zip(a, b)], dtype="object")


def sketch_rank(sketch: pd.Series, x: pd.Series) -> pd.Series:
    """Estimated CDF at x — the fraction of the sketched stream <= x —
    the dual of sketch_quantile. KLL and DDSketch blobs answer via
    ``rank`` (KLL: normalized rank error ~1.7/k; DDSketch: exact over its
    step distribution, each step within alpha of its bucket's values);
    t-digest blobs via ``cdf`` (interpolated centroid CDF). Typical
    use: evaluate a fixed SLO threshold against warehoused
    per-epoch latency sketches ("what fraction of turns finished under
    200 ms this week vs last") without touching raw data."""
    def rk(b, xx):
        if b is None or pd.isna(xx):
            return None
        sk = _parse(bytes(b))
        if hasattr(sk, "rank"):
            return float(sk.rank(float(xx)))
        if hasattr(sk, "cdf"):
            return float(sk.cdf(float(xx)))
        raise TypeError(f"sketch_rank needs a value sketch "
                        f"(KLL/TDigest/DDSketch), got {type(sk).__name__}")
    return pd.Series([rk(b, xx) for b, xx in zip(sketch, x)], dtype="object")


def _ks_pair(x, y, require: type | None = None,
             fname: str = "sketch_ks_distance"):
    """Shared KS dispatch: parse both blobs, enforce same family (and
    optionally an exact required class), evaluate the kernel's
    ks_distance. One code path for kll_ks_distance and the generic
    sketch_ks_distance so their behavior cannot drift apart."""
    if x is None or y is None:
        return None
    sa, sb = _parse(bytes(x)), _parse(bytes(y))
    if require is not None:
        for s in (sa, sb):
            if not isinstance(s, require):
                raise TypeError(f"{fname} needs {require.__name__} blobs, "
                                f"got {type(s).__name__}")
    if type(sa) is not type(sb):
        raise TypeError(f"{fname} needs two blobs of the same family, "
                        f"got {type(sa).__name__} vs {type(sb).__name__}")
    if not hasattr(sa, "ks_distance"):
        raise TypeError(f"{fname} needs a value sketch with a CDF "
                        f"(KLL/DDSketch), got {type(sa).__name__}")
    return float(sa.ks_distance(sb))


def kll_ks_distance(a: pd.Series, b: pd.Series) -> pd.Series:
    """Two-sample Kolmogorov–Smirnov statistic between two KLL blobs
    (sup_x |F_a(x) - F_b(x)|, evaluated exactly over the sketch CDFs —
    see sketches.kll.KLL.ks_distance). The distribution-drift signal in
    pure SQL over warehoused/streamed quantile sketches; error vs the
    true-sample KS <= the sum of the two sketches' rank error bounds.
    Strictly KLL-typed (name contract); `sketch_ks_distance` is the
    family-generic form — both share one dispatch path (_ks_pair)."""
    from .sketches.kll import KLL
    return pd.Series([_ks_pair(x, y, require=KLL, fname="kll_ks_distance")
                      for x, y in zip(a, b)], dtype="object")


def sketch_ks_distance(a: pd.Series, b: pd.Series) -> pd.Series:
    """Two-sample KS drift statistic between any two value-sketch blobs
    of the SAME family (KLL or DDSketch — each family's kernel
    ks_distance evaluates the sup over its step CDFs exactly; see the
    kernel docstrings for the error statements). The family-generic form
    of kll_ks_distance: DDSketch pairs may even differ in alpha (rank
    evaluates at arbitrary points); mixed families raise — their step
    supports encode different approximations, so a cross-family sup is
    not a drift measurement."""

    return pd.Series([_ks_pair(x, y) for x, y in zip(a, b)],
                     dtype="object")


def sketch_histogram(sketch: pd.Series, lo: pd.Series, hi: pd.Series,
                     n_buckets: pd.Series) -> pd.Series:
    """Equi-width histogram over [lo, hi) from a value-sketch blob:
    element i is the estimated fraction of the sketched stream in
    [lo + i*w, lo + (i+1)*w), w = (hi-lo)/n_buckets — computed as CDF
    differences (KLL.rank / TDigest.cdf / DDSketch.rank, one vectorized
    call over the n+1 edges), so each bucket mass carries the family's
    published error and the array sums exactly to rank(hi) - rank(lo). The
    dashboard dual of sketch_quantile/sketch_rank: distribution SHAPE
    from warehoused/streamed sketch rows without touching raw data.
    Mass outside [lo, hi) is deliberately excluded (inspect via
    sketch_rank(s, lo) and 1 - sketch_rank(s, hi))."""
    def hist(b, l, h, n):
        if b is None or pd.isna(l) or pd.isna(h) or pd.isna(n):
            return None
        l, h, n = float(l), float(h), int(n)
        if n < 1:
            raise ValueError(f"sketch_histogram: n_buckets must be >= 1, got {n}")
        if not h > l:
            raise ValueError(f"sketch_histogram: need hi > lo, got [{l}, {h})")
        sk = _parse(bytes(b))
        cdf = getattr(sk, "rank", None) or getattr(sk, "cdf", None)
        if cdf is None:
            raise TypeError(f"sketch_histogram needs a value sketch "
                            f"(KLL/TDigest/DDSketch), "
                            f"got {type(sk).__name__}")
        edges = np.linspace(l, h, n + 1)
        return np.diff(np.asarray(cdf(edges), dtype=np.float64))
    return pd.Series([hist(b, l, h, n) for b, l, h, n in
                      zip(sketch, lo, hi, n_buckets)], dtype="object")


def sketch_describe(sketch: pd.Series) -> pd.Series:
    """One JSON string per blob: family, in-memory state bytes, and every
    scalar public parameter/counter the sketch carries (k/n/width/depth/
    p/theta/...; array fields reported as <name>_len). Warehouse
    introspection — audit WHAT is stored in a sketch column (mixed
    params, unexpected growth, family drift) from plain SQL, before
    pointing estimator functions at it. Key set varies by family; keys
    are sorted so equal states compare equal as strings."""
    import json
    import math

    def desc(b):
        if b is None:
            return None
        sk = _parse(bytes(b))
        d: dict = {"family": type(sk).__name__,
                   "state_bytes": int(sk.state_nbytes)}
        for name, val in vars(sk).items():
            if name.startswith("_"):
                continue
            if isinstance(val, (bool, np.bool_)):
                d[name] = bool(val)
            elif isinstance(val, (int, np.integer)):
                d[name] = int(val)
            elif isinstance(val, (float, np.floating)):
                v = float(val)
                d[name] = v if math.isfinite(v) else None
            elif isinstance(val, str):
                d[name] = val
            elif isinstance(val, np.ndarray):
                d[name + "_len"] = int(val.size)
        return json.dumps(d, sort_keys=True)
    return sketch.map(desc)


def sketch_error_bound(sketch: pd.Series) -> pd.Series:
    """The blob's CURRENT error bound, in its family's native units — the
    dual of the `sizing.suggest_*` calculators (target accuracy → params):
    this goes params/state → accuracy, using the SAME formula per family,
    so `suggest_*` then `sketch_error_bound` round-trips. Pair with
    `sketch_estimate`/`cms_count`/`sketch_quantile` to publish an
    estimate WITH its trust radius from plain SQL.

    Per family (what the number means):
      Bloom / scalable Bloom / counting Bloom
                              false-positive PROBABILITY at observed fill
                              ((X/m)^k; 1-Π(1-fpp_i) over levels) — grows
                              as inserts exceed the sized capacity
      HLL / theta / sample /
      weighted sample         RELATIVE std error of the estimate
                              (1.04/√m; 1/√(k−2)) — fixed by geometry
      CMS                     ADDITIVE overcount bound εN = (e/width)·N —
                              grows with stream weight
      Misra–Gries             ADDITIVE undercount (exact decrement total,
                              ≤ n/(k+1)) — deterministic, not probabilistic
      KLL / t-digest          normalized RANK error (1.7/k; π/(2δ) at the
                              median) — fixed by geometry
      DDSketch                relative VALUE error alpha (|answer − exact
                              quantile| ≤ alpha·|exact|) — deterministic,
                              valid over uncollapsed mass

    Units differ by family on purpose — each is the bound that family's
    kernel tests validate; `sketch_describe` gives the family when a
    column is mixed. NULL blob → NULL."""
    from .sketches import (BloomFilter, CountingBloomFilter, CountMinSketch,
                           DDSketch, HyperLogLog, KLL, MisraGries,
                           SampleSketch, ScalableBloomFilter, TDigest,
                           ThetaSketch, WeightedSampleSketch)

    def bound(b):
        if b is None:
            return None
        sk = _parse(bytes(b))
        if isinstance(sk, (BloomFilter, ScalableBloomFilter,
                           CountingBloomFilter)):
            return float(sk.fpp())
        if isinstance(sk, HyperLogLog):
            return float(sk.rse())
        if isinstance(sk, (ThetaSketch, SampleSketch, WeightedSampleSketch)):
            return float(sk.rse())
        if isinstance(sk, (CountMinSketch, MisraGries)):
            return float(sk.error_bound())
        if isinstance(sk, KLL):
            return float(sk.rank_error_bound())
        if isinstance(sk, TDigest):
            return float(sk.rank_error_bound())
        if isinstance(sk, DDSketch):
            return float(sk.value_error_bound())
        raise TypeError(f"sketch_error_bound: no bound formula for "
                        f"{type(sk).__name__}")
    return sketch.map(bound)


def cms_inner_product(a: pd.Series, b: pd.Series) -> pd.Series:
    """Join-size estimate between two CMS blobs: min over rows of the
    row-wise counter dot products (Cormode & Muthukrishnan 2005, Thm 3).
    Never undercounts the true join cardinality sum_k f_a(k)*f_b(k);
    overcount <= cms_inner_product_bound(a, b) with probability
    >= 1 - exp(-depth). Requires same-geometry, same-seed blobs — the
    compatibility metadata the builders/warehouse guarantee per table.
    This is the SQL form of the pre-flight join-size estimation in
    plans/planning.py, usable directly over warehoused or streamed
    sketch rows without touching raw data."""
    from .sketches.cms import CountMinSketch

    def ip(x, y):
        if x is None or y is None:
            return None
        sa, sb = _parse(bytes(x)), _parse(bytes(y))
        for s in (sa, sb):
            if not isinstance(s, CountMinSketch):
                raise TypeError(f"cms_inner_product needs CMS blobs, got "
                                f"{type(s).__name__}")
        return int(sa.inner_product(sb))
    return pd.Series([ip(x, y) for x, y in zip(a, b)], dtype="object")


def cms_inner_product_bound(a: pd.Series, b: pd.Series) -> pd.Series:
    """(e/width)*N_a*N_b — the additive overcount bound paired with
    cms_inner_product (holds with probability >= 1 - exp(-depth))."""
    from .sketches.cms import CountMinSketch

    def bound(x, y):
        if x is None or y is None:
            return None
        sa, sb = _parse(bytes(x)), _parse(bytes(y))
        for s in (sa, sb):
            if not isinstance(s, CountMinSketch):
                raise TypeError(f"cms_inner_product_bound needs CMS blobs, "
                                f"got {type(s).__name__}")
        return float(sa.inner_product_bound(sb))
    return pd.Series([bound(x, y) for x, y in zip(a, b)], dtype="object")


def sketch_fold(sketch: pd.Series, target: pd.Series) -> pd.Series:
    """Geometry downgrade of any foldable blob to ``target``, the family's
    primary size parameter: HLL precision p, Bloom num_bits, theta / MG /
    KLL k, t-digest delta, CMS width (depth kept — cms_fold controls
    both), DDSketch integer gamma-power coarsening factor m. The
    warehouse escape hatch for geometry migrations: two tables
    built at different sizes merge after folding the finer one down —
    exactly for Bloom/HLL/CMS-plain/theta (byte-identical to a direct
    build at the target; kernel fold() docstrings prove each case), with
    published additive error for MG/KLL/t-digest. Folding UP raises, as
    does a scalable-Bloom blob (its levels own their geometry)."""
    def fold_one(b, t):
        if b is None or pd.isna(t):  # Arrow hands a NULL int over as NaN
            return None
        sk = _parse(bytes(b))  # fold never mutates its source
        fold = getattr(sk, "fold", None)
        if fold is None:
            raise TypeError(
                f"sketch_fold: {type(sk).__name__} is not foldable "
                "(scalable Bloom levels each own their geometry — fold "
                "the per-level filters instead)")
        return fold(int(t)).to_bytes()
    return pd.Series([fold_one(b, t) for b, t in zip(sketch, target)])


def cms_fold(sketch: pd.Series, width: pd.Series, depth: pd.Series) -> pd.Series:
    """CMS-specific fold with explicit (width, depth): width must divide
    the blob's width, depth <= the blob's depth (CountMinSketch.fold)."""
    from .sketches.cms import CountMinSketch

    def fold_one(b, w, d):
        if b is None:
            return None
        sk = _parse(bytes(b))
        if not isinstance(sk, CountMinSketch):
            raise TypeError(f"cms_fold needs a CMS blob, got "
                            f"{type(sk).__name__}")
        # a NULL width or depth (NaN from Arrow) keeps the blob's own
        return sk.fold(width=None if pd.isna(w) else int(w),
                       depth=None if pd.isna(d) else int(d)).to_bytes()
    return pd.Series([fold_one(b, w, d)
                      for b, w, d in zip(sketch, width, depth)])


def sample_values(sketch: pd.Series) -> pd.Series:
    """The payloads of a sample-family blob, as array<binary> — K example
    payloads per key straight from SQL (cast elements to string for text
    payloads: ``transform(sample_values(s), x -> string(x))``). For a
    SampleSketch the sample is UNIFORM over the distinct keys the sketch
    saw; for a WeightedSampleSketch inclusion probability is proportional
    to each key's weight (``sample_weights`` gives the aligned weights).
    Pair with sketch_estimate for the population size/weight it was
    drawn from."""
    from .sketches.sample import SampleSketch
    from .sketches.wsample import WeightedSampleSketch

    def vals(b):
        if b is None:
            return None
        sk = _parse(bytes(b))
        if not isinstance(sk, (SampleSketch, WeightedSampleSketch)):
            raise TypeError(f"sample_values needs a sample-family blob, got "
                            f"{type(sk).__name__}")
        return sk.sample()
    return sketch.map(vals)


def sample_weights(sketch: pd.Series) -> pd.Series:
    """The weights of a WeightedSampleSketch blob, as array<double>,
    aligned element-for-element with sample_values(sketch) — e.g.
    ``arrays_zip(transform(sample_values(s), x -> string(x)),
    sample_weights(s))`` rebuilds the (payload, weight) sample table
    from SQL."""
    from .sketches.wsample import WeightedSampleSketch

    def vals(b):
        if b is None:
            return None
        sk = _parse(bytes(b))
        if not isinstance(sk, WeightedSampleSketch):
            raise TypeError(f"sample_weights needs a WeightedSampleSketch "
                            f"blob, got {type(sk).__name__}")
        return sk.sample_weights()
    return sketch.map(vals)


def sketch_merge_pair(a: pd.Series, b: pd.Series) -> pd.Series:
    def m(x, y):
        if x is None:
            return None if y is None else bytes(y)
        if y is None:
            return bytes(x)
        # fresh copies: never mutate cached parses
        return sketch_from_bytes(bytes(x)).merge(sketch_from_bytes(bytes(y))).to_bytes()
    return pd.Series([m(x, y) for x, y in zip(a, b)])


def mg_count_lo(sketch: pd.Series, key_hash: pd.Series) -> pd.Series:
    """Misra-Gries stored count: deterministic LOWER bound on the key's
    true frequency (never overcounts; the complement of cms_count, which
    never undercounts). Upper bound = mg_count_lo + mg_error_bound."""
    return _per_row_hash_query(sketch, key_hash, "query")


def mg_error_bound(sketch: pd.Series) -> pd.Series:
    """The MG summary's carried decrement ``dec``: the max possible
    undercount of any mg_count_lo answer (<= n/(k+1), deterministic)."""
    from .sketches.mg import MisraGries

    def dec(b):
        if b is None:
            return None
        sk = _parse(bytes(b))
        if not isinstance(sk, MisraGries):
            raise TypeError(
                f"mg_error_bound needs a Misra-Gries blob, got "
                f"{type(sk).__name__}")
        return sk.dec
    return sketch.map(dec)


def iblt_subtract_pair(a: pd.Series, b: pd.Series) -> pd.Series:
    """Difference digest of two IBLT blobs (a minus b), blob-returning —
    per-key snapshot reconciliation composes entirely inside one SQL
    projection over two grouped sketch tables (iblt_grouped_build_jvm):
    decode with iblt_decode_json, or take sketch_estimate for the exact
    net count without peeling. NULL if either side is NULL (no digest to
    diff against). Neither input is mutated."""
    from .sketches.iblt import IBLT

    def sub(x, y):
        if x is None or y is None:
            return None
        sa, sb = _parse(bytes(x)), _parse(bytes(y))
        if not isinstance(sa, IBLT) or not isinstance(sb, IBLT):
            raise TypeError(
                f"iblt_subtract_pair needs two IBLT blobs, got "
                f"{type(sa).__name__}/{type(sb).__name__}")
        return IBLT.from_bytes(bytes(x)).subtract(sb).to_bytes()
    return pd.Series([sub(x, y) for x, y in zip(a, b)])


def iblt_decode_json(sketch: pd.Series) -> pd.Series:
    """Peel an IBLT blob: one JSON string per row —
    {"pos": [...], "neg": [...], "complete": bool, "net": float} — with
    the recovered key hashes as SIGNED int64 (the bit patterns hash_col
    / xxhash64 produce, directly joinable against a hashed key column in
    SQL). On a difference digest, pos lists keys only in the minuend and
    neg keys only in the subtrahend; complete=false means the difference
    exceeded the sized capacity and only the verified subset is listed
    (never garbage — sketches/iblt.py decode contract). O(d) work per
    row; digests are O(max_diff) cells by construction."""
    import json

    from .sketches.iblt import IBLT

    def dec(b):
        if b is None:
            return None
        sk = _parse(bytes(b))
        if not isinstance(sk, IBLT):
            raise TypeError(
                f"iblt_decode_json needs an IBLT blob, got "
                f"{type(sk).__name__}")
        pos, neg, complete = sk.decode()
        return json.dumps({
            "pos": pos.astype(np.int64).tolist(),
            "neg": neg.astype(np.int64).tolist(),
            "complete": bool(complete),
            "net": sk.estimate(),
        })
    return sketch.map(dec)


def sketch_merge(sketch: pd.Series) -> bytes:
    """GROUP BY aggregate: merge every non-NULL sketch blob of the group
    (same type/params, as the builders guarantee per table). The
    Series->scalar type hints make pandas_udf infer a grouped-agg UDF, so
    after registration this works directly under spark.sql GROUP BY and
    as an unbounded-window function. Returns NULL for an all-NULL group
    (the merge identity, matching sketch_merge_pair)."""
    acc: Sketch | None = None
    for b in sketch:
        if b is None:
            continue
        sk = sketch_from_bytes(bytes(b))  # fresh parse: acc mutates
        acc = sk if acc is None else acc.merge(sk)
    return None if acc is None else acc.to_bytes()


#: function name -> (python impl, SQL return type). The pandas_udf
#: wrappers are built lazily inside register_sketch_sql because the
#: decorator needs an active SparkSession (return-type resolution).
#: sketch_merge's Series->scalar hints make it the one GROUPED_AGG here.
SQL_FUNCTIONS = {
    "sketch_estimate": (sketch_estimate, "double"),
    "sketch_quantile": (sketch_quantile, "double"),
    "cms_count": (cms_count, "long"),
    "bloom_contains": (bloom_contains, "boolean"),
    "theta_intersect_estimate": (theta_intersect_estimate, "double"),
    "theta_a_not_b_estimate": (theta_a_not_b_estimate, "double"),
    "theta_jaccard_estimate": (theta_jaccard_estimate, "double"),
    "theta_intersect_pair": (theta_intersect_pair, "binary"),
    "theta_a_not_b_pair": (theta_a_not_b_pair, "binary"),
    "bloom_intersect_pair": (bloom_intersect_pair, "binary"),
    "mg_count_lo": (mg_count_lo, "long"),
    "mg_error_bound": (mg_error_bound, "long"),
    "sketch_rank": (sketch_rank, "double"),
    "sketch_histogram": (sketch_histogram, "array<double>"),
    "sketch_describe": (sketch_describe, "string"),
    "sketch_error_bound": (sketch_error_bound, "double"),
    "kll_ks_distance": (kll_ks_distance, "double"),
    "sketch_ks_distance": (sketch_ks_distance, "double"),
    "cms_inner_product": (cms_inner_product, "long"),
    "cms_inner_product_bound": (cms_inner_product_bound, "double"),
    "sketch_merge_pair": (sketch_merge_pair, "binary"),
    "sample_values": (sample_values, "array<binary>"),
    "sample_weights": (sample_weights, "array<double>"),
    "sketch_fold": (sketch_fold, "binary"),
    "cms_fold": (cms_fold, "binary"),
    "iblt_subtract_pair": (iblt_subtract_pair, "binary"),
    "iblt_decode_json": (iblt_decode_json, "string"),
    "sketch_merge": (sketch_merge, "binary"),
}


def register_sketch_sql(spark, seed: int = DEFAULT_SEED) -> list[str]:
    """Register every sketch SQL function on this session; returns the
    registered names. Idempotent."""
    from pyspark.sql.functions import pandas_udf
    for name, (fn, rtype) in SQL_FUNCTIONS.items():
        spark.udf.register(name, pandas_udf(fn, rtype))
    spark.udf.register("sketch_seed", lambda: seed, "long")
    return [*SQL_FUNCTIONS, "sketch_seed"]
