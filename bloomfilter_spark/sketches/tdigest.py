"""t-digest quantile sketch (Dunning & Ertl 2019, merging variant).

State: sorted centroid list (mean, weight) + min/max, compression delta.
Update: buffer values, then a fully vectorized merge pass — sort, compute
cumulative-weight midpoints q, assign each point to a k-scale cluster via
the k1 scale function k(q) = (delta/2) * (asin(2q-1)/pi + 1/2), and
segment-aggregate weighted means with np.*.reduceat. Deterministic: no
randomness anywhere, so resume/associativity tests are stable; merge of two
digests = concat centroids + one compress (estimate-equivalent, not
byte-identical across groupings — documented, SURVEY.md §7 hard parts (b)).

Accuracy: relative rank error ~O(1/delta) in the middle, much tighter at the
tails (k1 scale concentrates clusters near q=0,1). Cross-checked against
exact percentiles in tests.
"""

from __future__ import annotations

import struct

import numpy as np

from .base import Sketch


class TDigest(Sketch):
    TYPE_TAG = 4
    HASH_KEYED = False

    def __init__(self, delta: int = 200, buffer_size: int | None = None):
        self.delta = int(delta)
        self.buffer_size = buffer_size or (10 * self.delta)
        self.means = np.zeros(0, dtype=np.float64)
        self.weights = np.zeros(0, dtype=np.float64)
        self.vmin = np.inf
        self.vmax = -np.inf
        self._buf: list[np.ndarray] = []
        self._buf_n = 0

    # --- k-scale clustering --------------------------------------------
    def _compress(self, means: np.ndarray, weights: np.ndarray) -> None:
        order = np.argsort(means, kind="stable")
        m = means[order]
        w = weights[order]
        total = w.sum()
        if total == 0:
            self.means = np.zeros(0)
            self.weights = np.zeros(0)
            return
        cum = np.cumsum(w)
        qmid = (cum - w / 2.0) / total
        kval = (self.delta / 2.0) * (np.arcsin(2.0 * qmid - 1.0) / np.pi + 0.5)
        cluster = np.floor(kval).astype(np.int64)
        starts = np.flatnonzero(np.concatenate(([True], cluster[1:] != cluster[:-1])))
        wsum = np.add.reduceat(w, starts)
        msum = np.add.reduceat(m * w, starts)
        self.means = msum / wsum
        self.weights = wsum

    def _flush(self) -> None:
        if not self._buf and self.means.size:
            return
        if self._buf:
            vals = np.concatenate(self._buf)
            self._buf = []
            self._buf_n = 0
            if vals.size:
                self.vmin = min(self.vmin, float(vals.min()))
                self.vmax = max(self.vmax, float(vals.max()))
            means = np.concatenate([self.means, vals])
            weights = np.concatenate([self.weights, np.ones(vals.size)])
            self._compress(means, weights)

    def update(self, values: np.ndarray) -> None:
        v = np.ascontiguousarray(values, dtype=np.float64)
        v = v[~np.isnan(v)]
        if v.size == 0:
            return
        self._buf.append(v)
        self._buf_n += v.size
        if self._buf_n >= self.buffer_size:
            self._flush()

    def update_weighted(self, values: np.ndarray, weights: np.ndarray) -> None:
        """Insert values with (possibly fractional) positive weights —
        centroids ARE weighted points, so this is one _compress over the
        concatenation, the same operation merge performs. Pre-aggregated
        build path: see jvm_build.quantile_build_preagg."""
        v = np.ascontiguousarray(values, dtype=np.float64)
        w = np.asarray(weights, dtype=np.float64)
        if np.any(w < 0):
            raise ValueError("t-digest weights must be non-negative "
                             "(a negative weight is a caller sign bug; "
                             "zero-weight rows are dropped)")
        keep = ~np.isnan(v) & (w > 0)
        v, w = v[keep], w[keep]
        if v.size == 0:
            return
        self._flush()
        self.vmin = min(self.vmin, float(v.min()))
        self.vmax = max(self.vmax, float(v.max()))
        self._compress(np.concatenate([self.means, v]),
                       np.concatenate([self.weights, w]))

    def fold(self, delta: int) -> "TDigest":
        """Compression downgrade to ``delta`` <= self.delta: one _compress
        of the existing centroids under the coarser k1 scale — exactly a
        merge into an empty delta'-digest. Centroids are weighted points,
        so re-clustering adds at most one more O(1/delta') rank-error term
        on top of the O(1/delta) already incurred (Dunning & Ertl §2.9,
        repeated-merge bound); rank_error_bound() reports the new delta's
        term. vmin/vmax carry over so tail interpolation stays anchored at
        the true extremes. Source is not mutated."""
        if delta < 10:
            raise ValueError("delta must be >= 10")
        if delta > self.delta:
            raise ValueError(
                f"fold target delta={delta} exceeds this digest's "
                f"delta={self.delta} (can only reduce resolution)")
        self._flush()
        out = TDigest(delta)
        if self.means.size:
            out._compress(self.means.copy(), self.weights.copy())
        out.vmin, out.vmax = self.vmin, self.vmax
        return out

    def merge(self, other: "TDigest") -> "TDigest":
        if self.delta != other.delta:
            raise ValueError("compression mismatch: cannot merge t-digests")
        self._flush()
        other._flush()
        self.vmin = min(self.vmin, other.vmin)
        self.vmax = max(self.vmax, other.vmax)
        if other.means.size:
            self._compress(np.concatenate([self.means, other.means]),
                           np.concatenate([self.weights, other.weights]))
        return self

    # --- queries --------------------------------------------------------
    def rank_error_bound(self, q: float = 0.5) -> float:
        """Predicted k1-scale rank error at quantile q:
        pi*sqrt(q(1-q))/delta — worst at the median, tighter in the tails
        (the arcsine scale spends resolution there). The same formula
        suggest_tdigest_delta inverts; default q=0.5 reports the honest
        worst case."""
        return float(np.pi * np.sqrt(q * (1.0 - q)) / self.delta)

    def quantile(self, q) -> np.ndarray | float:
        """Interpolated quantile estimate(s) for q in [0,1]."""
        self._flush()
        qs = np.atleast_1d(np.asarray(q, dtype=np.float64))
        if self.means.size == 0:
            out = np.full(qs.shape, np.nan)
            return out if np.ndim(q) else float(out[0])
        cum = np.cumsum(self.weights)
        total = cum[-1]
        centers = cum - self.weights / 2.0
        xs = np.concatenate(([0.0], centers, [total]))
        ys = np.concatenate(([self.vmin], self.means, [self.vmax]))
        out = np.interp(qs * total, xs, ys)
        return out if np.ndim(q) else float(out[0])

    def cdf(self, x) -> np.ndarray | float:
        self._flush()
        xs_in = np.atleast_1d(np.asarray(x, dtype=np.float64))
        if self.means.size == 0:
            out = np.full(xs_in.shape, np.nan)
            return out if np.ndim(x) else float(out[0])
        cum = np.cumsum(self.weights)
        total = cum[-1]
        centers = cum - self.weights / 2.0
        xs = np.concatenate(([self.vmin], self.means, [self.vmax]))
        ys = np.concatenate(([0.0], centers / total, [1.0]))
        out = np.interp(xs_in, xs, ys)
        return out if np.ndim(x) else float(out[0])

    @property
    def total_weight(self) -> float:
        self._flush()
        return float(self.weights.sum())

    @property
    def n(self) -> int:
        """Absorbed weight rounded to an integer: the value count after
        unit-weight updates, the same count as KLL/DDSketch ``n``."""
        return int(round(self.total_weight))

    # --- serialization --------------------------------------------------
    def _payload(self) -> tuple[bytes, bytes]:
        self._flush()
        params = struct.pack("<IIdd", self.delta, self.means.size,
                             self.vmin, self.vmax)
        payload = (self.means.astype("<f8").tobytes()
                   + self.weights.astype("<f8").tobytes())
        return params, payload

    @classmethod
    def _from_payload(cls, params: bytes, payload: bytes) -> "TDigest":
        delta, n, vmin, vmax = struct.unpack("<IIdd", params)
        s = cls(delta)
        s.vmin, s.vmax = vmin, vmax
        if len(payload) != 16 * n:
            raise ValueError(
                f"t-digest payload length {len(payload)} != 16*{n} declared "
                f"centroids — truncated blob")
        arr = np.frombuffer(payload, dtype="<f8")
        s.means = arr[:n].astype(np.float64)
        s.weights = arr[n:2 * n].astype(np.float64)
        return s

    def __repr__(self) -> str:
        return f"TDigest(delta={self.delta}, centroids={self.means.size})"
