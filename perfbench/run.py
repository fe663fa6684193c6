"""Benchmark of the bloomfilter_spark engine: one workload per run.

    python3 perfbench/run.py --workload family_build --seed 1 --seconds 8 --trace 0

Run from the repository root. The run generates (once per turns and seed)
and fingerprints its own synthetic transcript corpus under
``.perfbench/corpus``, starts one SparkSession on ``local[nproc]`` with
``spark.sql.shuffle.partitions = nproc``, builds the state the workload
reads, runs untimed warm-up passes, then timed passes for ``--seconds``
with 50 closed-loop point probes spread over the gaps after the first four
passes (no probes in a traced run). Every output is checked; a failed check
counts as a failed operation. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
run traces the workload's calls, times every layer from outside (see
layers.py), folds Spark's event log into per-span stage metrics and prints
the per-layer ones. ``--smoke`` shrinks every size so that both workloads
and both modes run in about two minutes. ``--fault zero-bloom-word`` zeroes
the Bloom word holding a probe bit of a known-inserted key, which the
checks must report.

Everything the run writes stays under ``.perfbench/`` in the repository
root: the corpus cache, Spark's local and temporary directories, the event
log of a traced run and its spans.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import time


def process_age_s() -> float:
    """Seconds since this process started, interpreter start-up included."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

END_TO_END = [
    ("turns_per_s", "1/s"), ("setup_s", "s"), ("worker_rss_mb", "MB"),
    ("fpr_ratio", "ratio"), ("probe_p50_ms", "ms"), ("probe_p80_ms", "ms"),
]
DRIVER_MEM = "3g"


class Sizes:
    def __init__(self, smoke: bool):
        self.n_turns = 20_000 if smoke else 432_000
        self.n_files = 4 if smoke else 8
        self.n_probe = 10_000 if smoke else 100_000
        self.n_point_probes = 10 if smoke else 50
        self.setup_reps = 2 if smoke else 3
        self.traced_passes = 1 if smoke else 2


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true")
    p.add_argument("--fault", choices=("zero-bloom-word",))
    return p.parse_args(argv)


def pin_environment(work: str, trace_dir: str | None) -> dict:
    """Pin what the library and Spark read from the environment; return
    the record printed with the results."""
    cores = len(os.sched_getaffinity(0))
    os.environ.pop("SPARK_GRAFT_SEED", None)  # it changes the hash salt
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    for d in (local, tmp):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    submit = ["--driver-java-options", f"-Djava.io.tmpdir={tmp}",
              "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"]
    if trace_dir:
        submit += ["--conf", "spark.eventLog.enabled=true",
                   "--conf", f"spark.eventLog.dir=file://{trace_dir}",
                   "--conf", "spark.eventLog.compress=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(shlex.quote(a) for a in submit + ["pyspark-shell"])
    return {"cores": cores, "driver_memory": DRIVER_MEM, "spark_local_dir": local}


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def python_worker_peak_mb(jvm_pid: int) -> float:
    """Largest VmHWM among the Python processes the JVM started."""
    peak = 0.0
    for pid in descendants(jvm_pid):
        try:
            with open(f"/proc/{pid}/comm") as f:
                if not f.read().startswith("python"):
                    continue
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peak = max(peak, int(line.split()[1]) / 1024.0)
        except OSError:
            continue
    return peak


def stop_spark(spark) -> None:
    """Stop the session, the JVM and its Python workers, and wait for all."""
    import signal
    import subprocess
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    kids = descendants(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 20
    for pid in kids:
        while os.path.exists(f"/proc/{pid}"):
            if time.monotonic() > deadline:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            time.sleep(0.05)


def session_state(spark) -> tuple[int, dict]:
    return spark.sparkContext._jsc.getPersistentRDDs().size(), dict(spark.conf.getAll)


def session_delta(before, after) -> tuple[int, list[str]]:
    """Persisted RDDs added, and the session conf keys that changed."""
    (p0, c0), (p1, c1) = before, after
    return p1 - p0, sorted(k for k in set(c0) | set(c1) if c0.get(k) != c1.get(k))


class Context:
    def __init__(self, spark, corpus, seed, work_dir, tracer, checks):
        self.spark, self.corpus, self.seed = spark, corpus, seed
        self.work_dir, self.tracer, self.checks = work_dir, tracer, checks


def zero_bloom_word(ctx, bloom, key) -> None:
    """Zero the word holding the first probe bit of ``key``, an inserted
    key the point probes send: a fault the checks must catch."""
    from bloomfilter_spark.util import km_probes
    from workloads import KEY, hashes_of
    h = hashes_of(ctx.spark, [key], KEY)
    bit = int(km_probes(h, bloom.num_hashes, bloom.mask)[0, 0])
    bloom.words[bit >> 6] = 0


def timed_pass(wl) -> tuple[int, float]:
    """Input turns and seconds of one pass."""
    t0 = time.perf_counter()
    n = wl.run_pass()
    return n, time.perf_counter() - t0


def measure(wl, prober, seconds: float, n_probes: int, fault,
            rounds: int = 4) -> list[tuple[int, float]]:
    """Timed passes for ``seconds``, with the point probes spread over the
    first ``rounds`` gaps between passes, so that both metrics sample the
    same stretch of the run. Returns (turns, seconds) per pass."""
    passes, passes_s = [], 0.0
    per_round = -(-n_probes // rounds)
    while passes_s < seconds or len(prober.latencies_ms) < n_probes:
        n, dt = timed_pass(wl)
        passes.append((n, dt))
        passes_s += dt
        if len(prober.latencies_ms) < n_probes:
            bloom = wl.bloom()
            if fault:
                zero_bloom_word(wl.ctx, bloom, prober.first_key())
            prober.probe(bloom, min(per_round, n_probes - len(prober.latencies_ms)))
    return passes


def p80(values: list[float]) -> float:
    return statistics.quantiles(values, n=5)[3]


class Run:
    """One run of one workload: set-up, passes, checks, and what they measured."""

    def __init__(self, args, sizes: Sizes, work: str, env: dict, corpus, pre_s: float):
        self.args, self.sizes, self.work, self.env = args, sizes, work, env
        self.corpus, self.pre_s = corpus, pre_s
        self.phases: dict[str, float] = {}
        self.traced_rates: list[float] = []
        self.table = None

    def lap(self, name: str, t0: float) -> None:
        self.phases[name] = time.perf_counter() - t0

    def execute(self, spark) -> None:
        from bloomfilter_spark.config import DEFAULT_SEED
        from spans import Tracer
        from workloads import WORKLOADS, Checks, PointProber, fpr_limit
        args, sizes = self.args, self.sizes
        self.checks = Checks()
        self.tracer = tracer = Tracer(spark, args.workload, enabled=False)
        ctx = Context(spark, self.corpus, args.seed, self.work, tracer, self.checks)
        self.wl = wl = WORKLOADS[args.workload](ctx)
        self.setup_reps = []
        for _ in range(1 if args.trace else sizes.setup_reps):  # traced: no setup_s
            t0 = time.perf_counter()
            wl.setup()
            self.setup_reps.append(time.perf_counter() - t0)

        t0 = time.perf_counter()
        tracer.pass_label = "warmup"
        for _ in range(wl.warmup_passes):
            wl.run_pass()
        self.lap("warmup", t0)
        before = session_state(spark)
        t0 = time.perf_counter()
        prober = PointProber(ctx, sizes.n_point_probes)
        if args.trace:  # untraced and traced passes alternate; no probes
            self.passes = []
            for i in range(sizes.traced_passes):
                tracer.enabled = False
                self.passes.append(timed_pass(wl))
                tracer.enabled, tracer.pass_label = True, f"traced-{i}"
                n, dt = timed_pass(wl)
                self.traced_rates.append(n / dt)
        else:
            tracer.pass_label = "timed"
            self.passes = measure(wl, prober, args.seconds, sizes.n_point_probes, args.fault)
        self.rates = [n / dt for n, dt in self.passes]
        self.latencies = prober.latencies_ms
        self.lap("passes_and_probes", t0)

        t0 = time.perf_counter()
        wl.final_checks()
        self.fp, self.n_unseen = wl.unseen_false_positives()
        self.checks.check(f"{wl.name}: broadcast FPR within configured + 3 sigma",
                          self.fp / self.n_unseen <= fpr_limit(self.n_unseen),
                          f"{self.fp}/{self.n_unseen}")
        self.lap("checks", t0)
        self.hygiene = session_delta(before, session_state(spark))
        if args.trace:
            self.layer_table(ctx)
        self.worker_mb = python_worker_peak_mb(spark.sparkContext._gateway.proc.pid)
        conf = spark.conf
        self.env.update({
            "shuffle_partitions": conf.get("spark.sql.shuffle.partitions"),
            "arrow_max_records_per_batch": conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"),
            "arrow_max_bytes_per_batch": conf.get("spark.sql.execution.arrow.maxBytesPerBatch"),
            "hash_seed": DEFAULT_SEED,
            "corpus_fingerprint": self.corpus.fingerprint,
        })

    def layer_table(self, ctx) -> None:
        from layers import LayerTable
        from workloads import DedupProbe
        dedup = self.wl if isinstance(self.wl, DedupProbe) else DedupProbe(ctx)
        if dedup is not self.wl:
            dedup.setup()
        self.tracer.pass_label = "layer"
        before = session_state(ctx.spark)
        self.table = LayerTable(ctx, dedup)
        t0 = time.perf_counter()
        self.table.run()
        self.lap("layer_table", t0)
        self.layer_hygiene = session_delta(before, session_state(ctx.spark))

    def print_header(self, session_s: float, corpus_s: float) -> None:
        leaked, conf = self.hygiene
        print(f"# workload {self.wl.name} seed {self.args.seed} trace {self.args.trace}: "
              f"{self.wl.why}")
        print(f"# environment {json.dumps(self.env, sort_keys=True)}")
        print(f"# corpus {self.corpus.truth['turns']} turns, generated or checked in "
              f"{corpus_s:.2f} s")
        print(f"# setup: before corpus {self.pre_s:.2f} s, session {session_s:.2f} s, "
              f"state builds {' '.join(f'{x:.2f}' for x in self.setup_reps)} s")
        print("# phases: " + ", ".join(f"{k} {v:.2f} s" for k, v in self.phases.items()))
        print(f"# session hygiene over the workload's calls: leaked_persists {leaked}, "
              f"conf_changed {len(conf)} {conf}")
        if self.table is not None:
            leaked, conf = self.layer_hygiene
            print(f"# session hygiene over the layer table: leaked_persists {leaked}, "
                  f"conf_changed {len(conf)} {conf}")
        for f in self.checks.failures[:20]:
            print(f"# FAILED {f}")
        print(f"# checks: {self.checks.failed} failed of {self.checks.attempted} attempted")

    def end_to_end(self, setup_s: float) -> dict:
        from workloads import FPR
        lat = self.latencies
        values = {
            "turns_per_s": (statistics.median(self.rates), len(self.rates)),
            "setup_s": (setup_s, 1),
            "worker_rss_mb": (self.worker_mb, 1),
            "fpr_ratio": (self.fp / (self.n_unseen * FPR), self.n_unseen),
            "probe_p50_ms": (statistics.median(lat), len(lat)),
            "probe_p80_ms": (p80(lat), len(lat)),
        }
        for name, unit in END_TO_END:
            v, n = values[name]
            print(f"metric {name:<14} {v:>14.6g} {unit:<5} samples={n}")
        print(f"# turns_per_s per pass: {' '.join(f'{r:.0f}' for r in self.rates)}")
        print(f"# seconds per pass of {self.passes[0][0]} turns: "
              f"{' '.join(f'{dt:.2f}' for _, dt in self.passes)}")
        print(f"# setup_s = process start to session ready (once) + median of "
              f"{len(self.setup_reps)} state builds {statistics.median(self.setup_reps):.2f} s")
        return {name: {"value": values[name][0], "unit": unit} for name, unit in END_TO_END}

    def per_layer(self, trace_dir: str) -> dict:
        from layers import CALLS, SELF_LAYERS, per_layer_spec
        from spans import combine, fold_event_log
        stages = fold_event_log(trace_dir)
        shutil.rmtree(trace_dir, ignore_errors=True)
        name = f"{self.wl.name}-s{self.args.seed}-{os.getpid()}.json"
        self.tracer.write(os.path.join(self.work, "spans", name))
        values = dict(self.table.values)
        for call, _ in CALLS:
            for key, v in combine(stages, self.table.groups.get(call, [])).items():
                values[f"{call}.{key}"] = v
        self_s = self.tracer.self_times()
        for layer in SELF_LAYERS:
            values[f"self_s.{layer}"] = self_s.get(layer, 0.0)
        values["session.leaked_persists"] = self.hygiene[0]
        values["session.conf_changed"] = len(self.hygiene[1])
        values["session.layer_leaked_persists"] = self.layer_hygiene[0]
        values["session.layer_conf_changed"] = len(self.layer_hygiene[1])
        untraced, traced = statistics.median(self.rates), statistics.median(self.traced_rates)
        values["trace.overhead_ratio"] = untraced / traced
        passes = {f"traced-{i}" for i in range(self.sizes.traced_passes)}
        print(f"# tracing overhead {self.wl.name}: untraced {untraced:.0f} vs traced "
              f"{traced:.0f} turns/s, ratio {untraced / traced:.3f}")
        print("# self time in traced passes: " + ", ".join(
            f"{k} {v:.3f} s" for k, v in sorted(self.tracer.self_times(passes).items())))
        spec = per_layer_spec()
        for m in spec:
            print(f"layer {m['name']:<58} {values[m['name']]:>14.6g} {m['unit']:<6} "
                  f"-> {m['moves']}")
        return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "bloomfilter_spark")):
        print(f"bloomfilter_spark not found under {ROOT}: run from the repository root",
              file=sys.stderr)
        return 2
    import corpus as corpus_mod
    from workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    sizes = Sizes(args.smoke)
    work = os.path.join(ROOT, ".perfbench")
    trace_dir = os.path.join(work, f"eventlog-{os.getpid()}") if args.trace else None
    if trace_dir:
        os.makedirs(trace_dir)
    env = pin_environment(work, trace_dir)
    sys.path.insert(0, ROOT)

    pre_s = process_age_s()
    t0 = time.perf_counter()
    corpus = corpus_mod.ensure(os.path.join(work, "corpus"), sizes.n_turns, args.seed,
                               sizes.n_files, sizes.n_probe)
    corpus_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    from bloomfilter_spark.config import get_spark
    spark = get_spark("perfbench", cores=env["cores"], shuffle_partitions=env["cores"])
    session_s = time.perf_counter() - t0
    run = Run(args, sizes, work, env, corpus, pre_s)
    try:
        run.execute(spark)
    finally:
        t0 = time.perf_counter()
        stop_spark(spark)
    run.lap("stop", t0)

    run.print_header(session_s, corpus_s)
    if args.trace:
        metrics = run.per_layer(trace_dir)
    else:
        metrics = run.end_to_end(pre_s + session_s + statistics.median(run.setup_reps))
    print(json.dumps({"correct": run.checks.failed == 0, "attempted": run.checks.attempted,
                      "failed": run.checks.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
