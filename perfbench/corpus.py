"""Seeded synthetic transcript corpus owned by the benchmark.

Shape (FIXTURES.md section 1): ``transcripts(conv_id string, turn_idx int,
role string, text string, tool string, ts timestamp)`` with Zipf(1.2)
conversation popularity, dense per-conversation ``turn_idx`` in arrival
order, cyclic roles, about 2 % texts copied from a pool of 100 canned
texts, Zipf(1.5) tools over 50 names on ``tool`` turns only, and
timestamps that rise with arrival order (so also with ``turn_idx``).

The generator is the benchmark's own, independent of
``bloomfilter_spark.sources.transcripts``: a change to the library's
generator cannot change the workload. Each (turns, seed) is generated once
into its own directory under the cache, next to a manifest holding a
SHA-256 fingerprint of every file; every load re-hashes the files and
refuses a corpus whose bytes changed.

Besides the corpus files the cache holds the incoming probe batch (half
seen turns sampled from the corpus, half new turns from the disjoint
``new`` conversation namespace) and exact ground truth computed with
pyarrow, so the correctness checks never trust the library under test.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

GENERATOR_VERSION = 1  # part of the cache key: bump it when the output changes
N_TOOLS = 50
N_VOCAB = 4096
DUP_RATE = 0.02
N_POOL = 100
KEEP_CORPORA = 6
ROLES = ("user", "assistant", "tool", "system")
TOOLS = tuple(f"tool_{i:03d}" for i in range(N_TOOLS))
BASE_TS_US = 1_767_225_600_000_000  # 2026-01-01T00:00:00Z
_WORD = 8  # "tok0123 " -- every token is 7 letters plus one separator
_VOCAB = np.frombuffer(
    "".join(f"tok{i:04d} " for i in range(N_VOCAB)).encode(), dtype=np.uint8
).reshape(N_VOCAB, _WORD)


def n_convs_for(n_turns: int) -> int:
    return max(16, min(10_000, n_turns // 8))


def _fixed_strings(prefix: str, nums: np.ndarray, width: int) -> pa.Array:
    """``prefix + zero-padded nums`` as an Arrow string array, built from
    one byte matrix instead of per-row Python strings."""
    n = nums.size
    rows = np.empty((n, len(prefix) + width), dtype=np.uint8)
    rows[:, :len(prefix)] = np.frombuffer(prefix.encode(), dtype=np.uint8)
    v = nums.astype(np.int64)
    for d in range(width - 1, -1, -1):
        rows[:, len(prefix) + d] = 48 + v % 10
        v = v // 10
    offsets = np.arange(n + 1, dtype=np.int32) * rows.shape[1]
    return pa.StringArray.from_buffers(n, pa.py_buffer(offsets),
                                       pa.py_buffer(rows.tobytes()))


def _texts(words: np.ndarray, n_words: np.ndarray) -> pa.Array:
    """Rows of space-separated tokens ending in '.', one flat byte buffer."""
    data = _VOCAB[words].reshape(-1).copy()
    ends = np.cumsum(n_words)
    data[ends * _WORD - 1] = ord(".")
    offsets = np.concatenate(([0], ends * _WORD)).astype(np.int32)
    return pa.StringArray.from_buffers(n_words.size, pa.py_buffer(offsets),
                                       pa.py_buffer(data.tobytes()))


def _word_counts(rng, n: int) -> np.ndarray:
    """Log-normal words per text, 2..250 (16..2000 characters)."""
    return np.clip(np.rint(rng.lognormal(2.2, 0.6, n)), 2, 250).astype(np.int64)


def _random_texts(rng, n: int, pool=None, dup=None):
    """``n`` texts of random tokens; rows flagged in ``dup`` copy a pooled
    text (``pool`` = (word arrays, chosen pool index per dup row))."""
    n_words = _word_counts(rng, n)
    if dup is not None:
        pool_words, pick = pool
        n_words[dup] = [pool_words[p].size for p in pick]
    words = rng.integers(0, N_VOCAB, int(n_words.sum()))
    if dup is not None:
        starts = np.concatenate(([0], np.cumsum(n_words)[:-1]))
        for row, p in zip(np.flatnonzero(dup), pick):
            words[starts[row]:starts[row] + pool_words[p].size] = pool_words[p]
    return _texts(words, n_words)


def generate(n_turns: int, seed: int) -> pa.Table:
    rng = np.random.default_rng([seed, GENERATOR_VERSION])
    n_convs = n_convs_for(n_turns)
    conv = (rng.zipf(1.2, n_turns) - 1) % n_convs
    # dense turn_idx per conversation, in arrival order
    order = np.argsort(conv, kind="stable")
    sorted_conv = conv[order]
    starts = np.flatnonzero(np.concatenate(([True], sorted_conv[1:] != sorted_conv[:-1])))
    lengths = np.diff(np.concatenate((starts, [n_turns])))
    turn_idx = np.empty(n_turns, dtype=np.int32)
    turn_idx[order] = np.arange(n_turns) - np.repeat(starts, lengths)
    role = (conv + turn_idx) % len(ROLES)

    pool = [rng.integers(0, N_VOCAB, int(k)) for k in _word_counts(rng, N_POOL)]
    dup = rng.random(n_turns) < DUP_RATE
    pick = rng.integers(0, N_POOL, int(dup.sum()))
    text = _random_texts(rng, n_turns, (pool, pick), dup)

    tool_idx = ((rng.zipf(1.5, n_turns) - 1) % N_TOOLS).astype(np.int32)
    tool = pa.DictionaryArray.from_arrays(
        pa.array(tool_idx, mask=role != ROLES.index("tool")),
        pa.array(TOOLS)).cast(pa.string())
    ts = BASE_TS_US + np.arange(n_turns, dtype=np.int64) * 1_000_000 \
        + rng.integers(0, 1_000_000, n_turns)
    return pa.table({
        "conv_id": _fixed_strings("conv", conv, 8),
        "turn_idx": pa.array(turn_idx, pa.int32()),
        "role": pa.DictionaryArray.from_arrays(
            pa.array(role.astype(np.int32)), pa.array(ROLES)).cast(pa.string()),
        "text": text,
        "tool": tool,
        "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
    })


def probe_batch(corpus: pa.Table, n_probe: int, seed: int) -> pa.Table:
    """Incoming turns: half sampled from the corpus (seen), half new turns
    from the ``new`` conversation namespace, which the corpus never uses."""
    rng = np.random.default_rng([seed, GENERATOR_VERSION, 1])
    n_seen = n_probe // 2
    n_new = n_probe - n_seen
    seen = corpus.take(pa.array(rng.choice(corpus.num_rows, n_seen, replace=False)))
    tool_idx = ((rng.zipf(1.5, n_new) - 1) % N_TOOLS).astype(np.int32)
    new = pa.table({
        "conv_id": _fixed_strings("new", np.arange(n_new), 9),
        "text": _random_texts(rng, n_new),
        "tool": pa.DictionaryArray.from_arrays(
            pa.array(tool_idx, mask=rng.random(n_new) >= 0.25),
            pa.array(TOOLS)).cast(pa.string()),
    })
    batch = pa.concat_tables([
        seen.select(["conv_id", "text", "tool"]).append_column(
            "seen", pa.array(np.ones(n_seen, dtype=bool))),
        new.append_column("seen", pa.array(np.zeros(n_new, dtype=bool))),
    ])
    return batch.take(pa.array(rng.permutation(batch.num_rows)))


def truth(corpus: pa.Table) -> dict:
    """Exact answers the correctness checks compare sketches against."""
    tools = corpus.group_by("tool").aggregate([("tool", "count")])
    tool_counts = {t: c for t, c in zip(tools["tool"].to_pylist(),
                                        tools["tool_count"].to_pylist())
                   if t is not None}
    per_conv = corpus.group_by("conv_id").aggregate(
        [("text", "count_distinct"), ("text", "count")])
    top = per_conv.sort_by([("text_count", "descending")]).slice(0, 100)
    pairs = (corpus.filter(pc.is_valid(corpus["tool"]))
             .group_by(["tool", "conv_id"]).aggregate([("tool", "count")]))
    return {
        "turns": corpus.num_rows,
        "distinct_conv": len(per_conv),
        "tool_counts": tool_counts,
        "top_conv_distinct_text": dict(zip(top["conv_id"].to_pylist(),
                                           top["text_count_distinct"].to_pylist())),
        "tool_conv_counts": {"tool": pairs["tool"].to_pylist(),
                             "conv_id": pairs["conv_id"].to_pylist(),
                             "count": pairs["tool_count"].to_pylist()},
    }


def _sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


class Corpus:
    """A generated, fingerprint-checked corpus directory."""

    def __init__(self, root: str, manifest: dict):
        self.root = root
        self.manifest = manifest
        self.truth = manifest["truth"]

    @property
    def files_dir(self) -> str:
        return os.path.join(self.root, "transcripts")

    @property
    def probe_path(self) -> str:
        return os.path.join(self.root, "probe_batch.parquet")

    @property
    def fingerprint(self) -> str:
        return self.manifest["fingerprint"]

    def seen_sample(self, n: int, seed: int) -> list[tuple[str, str]]:
        """``n`` (conv_id, text) keys known to be in the corpus, read
        driver-side with pyarrow from the seen half of the probe batch."""
        batch = pq.read_table(self.probe_path)
        seen = batch.filter(batch["seen"])
        rng = np.random.default_rng([seed, GENERATOR_VERSION, 2])
        rows = seen.take(pa.array(rng.permutation(seen.num_rows)[:n]))
        return list(zip(rows["conv_id"].to_pylist(), rows["text"].to_pylist()))


def _fingerprint(root: str, names: list[str], truth_: dict) -> str:
    """SHA-256 over every data file and the ground truth."""
    h = hashlib.sha256(json.dumps(truth_, sort_keys=True).encode())
    for name in names:
        h.update(name.encode() + b"\0" + _sha256(os.path.join(root, name)).encode())
    return h.hexdigest()


def _data_files(root: str) -> list[str]:
    out = []
    for sub, _, files in os.walk(root):
        for f in files:
            if f != "manifest.json":
                out.append(os.path.relpath(os.path.join(sub, f), root))
    return sorted(out)


def ensure(cache: str, n_turns: int, seed: int, n_files: int,
           n_probe: int) -> Corpus:
    """Generate (once) and load the corpus for (n_turns, seed), checking
    the content fingerprint on every load."""
    root = os.path.join(cache, f"v{GENERATOR_VERSION}_t{n_turns}_f{n_files}"
                               f"_p{n_probe}_s{seed}")
    manifest_path = os.path.join(root, "manifest.json")
    if not os.path.exists(manifest_path):
        tmp = root + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(os.path.join(tmp, "transcripts"))
        table = generate(n_turns, seed)
        bounds = np.linspace(0, n_turns, n_files + 1).astype(np.int64)
        for i in range(n_files):
            pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]),
                           os.path.join(tmp, "transcripts", f"part-{i:05d}.parquet"))
        pq.write_table(probe_batch(table, n_probe, seed),
                       os.path.join(tmp, "probe_batch.parquet"))
        manifest = {"n_turns": n_turns, "seed": seed, "n_files": n_files,
                    "n_probe": n_probe, "generator_version": GENERATOR_VERSION,
                    "truth": truth(table)}
        names = _data_files(tmp)
        manifest["files"] = names
        manifest["fingerprint"] = _fingerprint(tmp, names, manifest["truth"])
        with open(os.path.join(tmp, "manifest.json"), "w") as f:
            json.dump(manifest, f)
        shutil.rmtree(root, ignore_errors=True)
        os.rename(tmp, root)
    with open(manifest_path) as f:
        manifest = json.load(f)
    names = _data_files(root)
    if (names != manifest["files"]
            or _fingerprint(root, names, manifest["truth"]) != manifest["fingerprint"]):
        raise RuntimeError(f"corpus fingerprint mismatch in {root}; delete it to regenerate")
    os.utime(manifest_path)
    _prune(cache, keep=KEEP_CORPORA)
    return Corpus(root, manifest)


def _prune(cache: str, keep: int) -> None:
    """Delete all but the ``keep`` most recently loaded corpora: every seed
    gets its own, and a corpus takes about 18 MB."""
    dirs = [os.path.join(cache, d) for d in os.listdir(cache)
            if os.path.exists(os.path.join(cache, d, "manifest.json"))]
    dirs.sort(key=lambda d: os.path.getmtime(os.path.join(d, "manifest.json")), reverse=True)
    for d in dirs[keep:]:
        shutil.rmtree(d, ignore_errors=True)
