"""Benchmark of the stored-procedure surface, one workload per run.

    python3 procbench/run.py --workload procedures --seed 1 --seconds 15 --trace 0

Generates its inputs from ``--seed`` under ``procbench/.work``, starts
a ``local[nproc]`` session, sets up (session start, view registration,
one untimed warm-up cycle) and then runs whole cycles of the workload's
call mix with one client within ``--seconds``. Every call's output is
checked after the timed region. The last
stdout line is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (end-to-end metrics with ``--trace 0``, per-layer
metrics with ``--trace 1``). See procbench/README.md for definitions.
"""

from __future__ import annotations

import argparse
import importlib
import json
import math
import os
import platform
import shutil
import statistics
import sys
import threading
import time
from collections import defaultdict

import pyspark

import gen
import spans
from workloads import WORKLOADS, bytes_written, file_stamps

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
PKG = "data_pipelines_snowflake_procedures_spark"
MODULES = (
    "session", "functions.sqltools", "plans.engine", "operators.profile", "operators.dq",
    "operators.security", "operators.scd", "operators.dedup", "operators.similarity",
    "sources.discovery", "sources.office", "sources.sink", "pipelines.codegen",
    "pipelines.interpreter", "pipelines.ingestion", "pipelines.glossary",
    "pipelines.corpus_prep",
)
DRIVER_MEMORY_CAP_MB = 1024
RSS_SAMPLE_S = 1.0

#: (module, function, span): the layer entry points the traced run wraps.
TRACED = (
    ("session", "get_spark", "session.get_spark"),
    ("session", "register_views", "session.register"),
    ("functions.sqltools", "split_statements", "sqltools.split"),
    ("plans.engine", "execute_sql_batch", "engine.batch"),
    ("operators.profile", "profile_table", "profile.table"),
    ("operators.dq", "run_table_dq", "dq.table"),
    ("sources.discovery", "discover_and_run_dq", "discovery.file_dq"),
    ("sources.discovery", "read_any", "discovery.read"),
    ("sources.discovery", "run_file_dq_distributed", "discovery.rules"),
    ("sources.discovery", "file_metadata", "discovery.metadata"),
    ("sources.office", "read_xlsx", "office.parse"),
    ("sources.office", "read_xml", "office.parse"),
    ("operators.security", "pii_masking_report", "security.report"),
    ("operators.security", "detect_pii_columns", "security.detect"),
    ("sources.sink", "write_partitioned", "sink.write"),
    ("sources.sink", "commit_swap", "sink.commit"),
    ("pipelines.codegen", "generate_code", "pipelines.codegen"),
    ("pipelines.interpreter", "interpret_objective", "pipelines.interpret"),
    ("pipelines.ingestion", "ingestion_code_generator", "pipelines.ingestion"),
    ("pipelines.glossary", "generate_business_glossary", "pipelines.glossary"),
)

#: span-name prefix -> package layer, for self time per layer
LAYER_OF = {
    "session": "session", "sqltools": "functions", "engine": "plans",
    "discovery": "sources", "office": "sources", "sink": "sources",
    "profile": "operators", "dq": "operators", "security": "operators",
    "scd": "operators", "corpus": "operators", "dedup": "operators",
    "similarity": "operators", "pipelines": "pipelines",
    "pyspark": "pyspark", "call": "harness",
}

#: every op of every workload, for per-call job counts
OPS = (
    "sql_batch", "table_dq_orders", "ingestion_csv", "file_scan_xlsx", "file_scan_ndjson",
    "file_scan_parquet", "file_scan_xml", "pii_report", "interpret", "codegen_scd1",
    "upsert", "mask_publish", "glossary",
    "prepare_corpus", "exact_dedup", "minhash_lsh", "connected_components", "scrub_text",
    "knn_bruteforce", "knn_ivf",
)

END_TO_END_UNITS = {
    "setup_s": "s", "wall_s": "s", "call_p50_s": "s", "call_p90_s": "s",
    "write_amp": "ratio", "peak_rss_mb": "MB",
}


def fail(code: int, msg: str) -> None:
    print(f"procbench: {msg}", file=sys.stderr)
    sys.exit(code)


def import_package():
    """Import the package from this checkout, never from elsewhere."""
    sys.path.insert(0, ROOT)
    try:
        pkg = importlib.import_module(PKG)
        for m in MODULES:
            importlib.import_module(f"{PKG}.{m}")
    except ImportError as exc:
        fail(2, f"cannot import {PKG} from {ROOT}: {exc}")
    if not os.path.abspath(pkg.__file__).startswith(ROOT + os.sep):
        fail(2, f"{PKG} resolved outside the checkout: {pkg.__file__}")
    return pkg


def _children() -> dict[int, list[int]]:
    """ppid -> child pids, for every process."""
    out: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        out[int(stat[stat.rindex(b")") + 2:].split()[1])].append(int(name))
    return out


def other_spark_jvms() -> list[int]:
    found = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/cmdline", "rb") as f:
                argv = f.read().split(b"\0")
        except OSError:
            continue
        if os.path.basename(argv[0]) == b"java" and any(b"org.apache.spark" in a for a in argv):
            found.append(int(name))
    return found


def total_memory_mb() -> int:
    with open("/proc/meminfo") as f:
        mem = next(int(line.split()[1]) // 1024 for line in f if line.startswith("MemTotal"))
    try:
        with open("/sys/fs/cgroup/memory.max") as f:
            limit = f.read().strip()
        if limit.isdigit():
            mem = min(mem, int(limit) // (1024 * 1024))
    except OSError:
        pass
    return mem


def _hwm_kb(pid: int) -> int:
    """Kernel-tracked peak resident set (VmHWM) of one process."""
    try:
        with open(f"/proc/{pid}/status") as f:
            return next(int(line.split()[1]) for line in f if line.startswith("VmHWM"))
    except (OSError, StopIteration):
        return 0


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, shared ones divided among
    their sharers (forked Python workers share most of their pages)."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            return next(int(line.split()[1]) for line in f if line.startswith("Pss:"))
    except (OSError, StopIteration):
        return 0


class RssSampler(threading.Thread):
    """Peak memory of the run: the JVM's and this process's own
    high-water marks (exact, kept by the kernel) plus the largest
    sampled sum of the Python workers' proportional set sizes."""

    def __init__(self) -> None:
        super().__init__(daemon=True)
        self.workers_peak_kb = 0
        self.jvm_hwm_kb = 0
        self._halt = threading.Event()

    def sample(self) -> None:
        children = _children()
        jvms = children[os.getpid()]
        if jvms:
            self.jvm_hwm_kb = max(self.jvm_hwm_kb, sum(_hwm_kb(p) for p in jvms))
        todo, total = [c for j in jvms for c in children[j]], 0
        while todo:
            pid = todo.pop()
            total += _pss_kb(pid)
            todo.extend(children[pid])
        self.workers_peak_kb = max(self.workers_peak_kb, total)

    def run(self) -> None:
        while not self._halt.wait(RSS_SAMPLE_S):
            self.sample()

    def stop(self) -> dict[str, float]:
        """Call before the JVM exits; returns the parts in MB."""
        self._halt.set()
        self.join()
        self.sample()
        return {"jvm": self.jvm_hwm_kb / 1024, "driver": _hwm_kb(os.getpid()) / 1024,
                "workers": self.workers_peak_kb / 1024}


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all cpus since boot."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def pin_environment(work: str) -> dict:
    cpus = len(os.sched_getaffinity(0))
    mem_mb = total_memory_mb()
    driver_mb = min(DRIVER_MEMORY_CAP_MB, mem_mb // 4)
    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": f"{driver_mb}m",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS":
            f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" pyspark-shell',
    })
    return {"cpus": cpus, "memory_mb": mem_mb, "driver_memory_mb": driver_mb}


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit (it exits when
    its stdin, held by this process, closes)."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


class Runner:
    def __init__(self, pkg, workload, tracer) -> None:
        self.P = pkg
        self.W = workload
        self.tracer = tracer
        self.spark = None
        self.records: list[dict] = []
        self.walls: dict[bool, list[float]] = {False: [], True: []}
        self.jobs: dict[int, dict[str, int]] = {}
        self.start_s = 0.0
        self.warm_latency: dict[str, float] = {}
        self.warmup_s = 0.0

    @property
    def setup_s(self) -> float:
        return self.start_s + self.warmup_s

    def setup(self) -> None:
        """Cold session start (JVM launch included) and input
        registration, then one untimed warm-up cycle."""
        t0 = time.perf_counter()
        self.spark = self.P.session.get_spark()
        self.W.register(self.spark)
        self.start_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        self.W.reset()
        self.run_cycle(0, timed=False)
        self.warmup_s = time.perf_counter() - t0

    def run_call(self, call, k: int, traced: bool) -> dict:
        sc = self.spark.sparkContext
        idx = len(self.records)
        group = f"procbench-{idx}"
        if traced:
            self.install_tracing()
            self.tracer.call_id = idx
            sc.setJobGroup(group, call.op)
        rec = {"call": call, "cycle": k, "traced": traced, "result": None, "error": None}
        stamps = file_stamps(call.outputs())
        t0 = time.perf_counter()
        try:
            if traced:
                with self.tracer.span(call.span or f"call.{call.op}"):
                    rec["result"] = call.fn()
            else:
                rec["result"] = call.fn()
        except Exception as exc:  # noqa: BLE001 — a failing call is a counted failure
            rec["error"] = f"{type(exc).__name__}: {exc}"
        rec["latency"] = time.perf_counter() - t0
        if traced:
            self.tracer.call_id = None
            self.tracer.unwrap_all()
            self.jobs[idx] = spans.job_counts(sc, group)
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        rec["written"] = bytes_written(stamps, file_stamps(call.outputs()))
        return rec

    def run_cycle(self, k: int, timed: bool, trace: bool = False) -> bool:
        """One cycle of calls. With ``trace`` every call runs three times:
        once untraced to absorb the first run's extra cost (a repeated
        call runs faster), then a traced and an untraced run whose order
        alternates from call to call; the pairs give the overhead."""
        calls = self.W.cycle(k)
        if not calls:
            return False
        c0 = time.perf_counter()
        busy = {False: 0.0, True: 0.0}
        for i, call in enumerate(calls):
            # (traced, counted in the overhead pair)
            plan = [(False, False)] + ([(False, True), (True, True)] if i % 2 == 0
                                       else [(True, True), (False, True)])
            for traced, paired in plan if trace else [(False, False)]:
                rec = self.run_call(call, k, traced)
                if paired:
                    busy[traced] += rec["latency"]
                if timed:
                    self.records.append(rec)
                else:
                    self.warm_latency[call.op] = rec["latency"]
        if timed and trace:
            self.walls[False].append(busy[False])
            self.walls[True].append(busy[True])
        elif timed:
            self.walls[False].append(time.perf_counter() - c0)
        return True

    def timed_pass(self, seconds: float, trace: bool) -> int:
        """The whole cycles that fit in ``seconds`` at the workload's
        nominal cycle time, at least one. The count depends on
        ``seconds`` only, so every run and every commit times the same
        calls; a traced cycle runs each call three times."""
        self.W.reset()
        n = max(1, int(seconds // (self.W.cycle_s * (3 if trace else 1))))
        for k in range(n):
            if not self.run_cycle(k, timed=True, trace=trace):
                return k
        return n

    def install_tracing(self) -> None:
        from pyspark.sql import DataFrameWriter

        for mod, fn, name in TRACED:
            self.tracer.wrap(importlib.import_module(f"{PKG}.{mod}"), fn, name, package=PKG)
        self.tracer.wrap(DataFrameWriter, "saveAsTable", "pyspark.save_as_table")

    def check(self, n_cycles: int) -> tuple[int, list[str]]:
        failures = []
        for rec in self.records:
            msg = rec["error"]
            if msg is None:
                try:
                    msg = rec["call"].check(rec["result"])
                except Exception as exc:  # noqa: BLE001 — a malformed result is wrong
                    msg = f"check raised {type(exc).__name__}: {exc}"
            if msg:
                failures.append(f"{rec['call'].op} (cycle {rec['cycle']}): {msg}")
        final = self.W.final_check(n_cycles)
        if final:
            failures.append(final)
        return len(failures), failures


def quantile(values: list[float], q: float) -> float:
    """Harrell-Davis estimate of the ``q`` quantile: the mean of the
    order statistics, each weighted by the Beta((n+1)q, (n+1)(1-q))
    probability of its rank interval. A run holds 13 or 14 calls of
    different ops, so a single order statistic would report one call
    and carry all of that call's run-to-run jitter."""
    x = sorted(values)
    n = len(x)
    if n == 1:
        return x[0]
    a, b = q * (n + 1), (1 - q) * (n + 1)
    log_norm = math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
    steps = 64
    h = 1 / (n * steps)
    # midpoint rule over each rank interval; normalising absorbs its error
    weights = [sum(math.exp(log_norm + (a - 1) * math.log(t) + (b - 1) * math.log1p(-t))
                   for t in ((i * steps + j + 0.5) * h for j in range(steps)))
               for i in range(n)]
    return sum(w * v for w, v in zip(weights, x)) / sum(weights)


def end_to_end(run: Runner, peak_rss_mb: float) -> dict[str, float]:
    lat = [r["latency"] for r in run.records]
    written = sum(r["written"] for r in run.records)
    bytes_in = sum(r["call"].bytes_in for r in run.records)
    return {
        "setup_s": run.setup_s,
        "wall_s": sum(run.walls[False]),
        "call_p50_s": quantile(lat, 0.5),
        "call_p90_s": quantile(lat, 0.9),
        "write_amp": written / bytes_in,
        "peak_rss_mb": peak_rss_mb,
    }


def per_layer(run: Runner, tracer) -> dict[str, float]:
    traced = [r for r in run.records if r["traced"]]
    n = len(run.walls[True])
    ids = {i for i, r in enumerate(run.records) if r["traced"]}
    cycle_spans = [s for s in tracer.spans if s.call_id in ids]
    by_id = {s.id: s for s in tracer.spans}
    tot = defaultdict(float, tracer.totals(cycle_spans))
    self_t = tracer.self_times(cycle_spans)
    setup_spans = [s for s in tracer.spans if s.call_id is None]

    def setup_time(name: str) -> float:
        return sum(s.end - s.start for s in setup_spans if s.name == name)

    counters: dict[str, list[float]] = defaultdict(list)
    for r in traced:
        if r["error"] is None:
            for key, v in r["call"].counters(r["result"]).items():
                counters[key].append(v)

    def counter(key: str) -> float:
        v = counters.get(key, [])
        if key.endswith(("_frac", "_ratio", "_recall")):
            return statistics.mean(v) if v else 0.0
        return sum(v) / n

    publish = sum(s.end - s.start for s in cycle_spans if s.name == "pyspark.save_as_table"
                  and s.parent is not None and by_id[s.parent].name == "security.report")
    m = {
        "session.get_spark_s": setup_time("session.get_spark"),
        "session.register_s": setup_time("session.register"),
    }
    for name in ("sqltools.split", "engine.batch", "profile.table", "dq.table",
                 "discovery.read", "discovery.rules", "discovery.metadata", "office.parse",
                 "security.detect", "scd.merge", "sink.write", "pipelines.codegen",
                 "pipelines.interpret", "pipelines.ingestion", "pipelines.glossary",
                 "corpus.clean", "dedup.exact", "dedup.minhash", "similarity.knn"):
        m[f"{name}_s"] = tot[name] / n
    m["engine.statement_s"] = counter("engine.statement_s")
    m["engine.preview_s"] = m["engine.batch_s"] - m["engine.statement_s"] - m["sqltools.split_s"]
    m["security.mask_s"] = self_t.get("security.report", 0.0) / n
    m["security.publish_s"] = publish / n
    for key in ("engine.statements", "engine.statements_failed", "dq.columns",
                "security.columns_masked", "scd.rows_out", "sink.bytes_written",
                "sink.files_written", "corpus.kept_frac", "corpus.chunks",
                "dedup.lsh_candidates", "dedup.pairs_verified", "dedup.verify_ratio",
                "dedup.planted_recall", "similarity.ivf_recall"):
        m[key] = counter(key)
    jobs = {i: run.jobs[i] for i in ids}
    for key in ("jobs", "stages", "tasks", "tasks_failed"):
        m[f"spark.{key}"] = sum(j[key] for j in jobs.values()) / n
    per_op = defaultdict(list)
    for i in ids:
        per_op[run.records[i]["call"].op].append(jobs[i]["jobs"])
    for op in OPS:
        m[f"spark.jobs.{op}"] = statistics.mean(per_op[op]) if per_op[op] else 0.0
    layer_self = defaultdict(float)
    for name, t in self_t.items():
        layer_self[LAYER_OF[name.split(".")[0]]] += t
    # session work happens in set-up, reported above rather than per cycle
    for layer in sorted(set(LAYER_OF.values()) - {"session"}):
        m[f"self.{layer}_s"] = layer_self[layer] / n
    # busy time per cycle: traced calls minus their untraced pair
    m["trace.overhead_s"] = statistics.median(run.walls[True]) - statistics.median(run.walls[False])
    m["trace.spans"] = len(cycle_spans) / n
    return m


def unit_of(name: str) -> str:
    if name in END_TO_END_UNITS:
        return END_TO_END_UNITS[name]
    if name.endswith("_s"):
        return "s"
    if name.endswith(("_frac", "_ratio", "_recall")):
        return "ratio"
    if name == "sink.bytes_written":
        return "bytes"
    return "count"


def main() -> None:
    ap = argparse.ArgumentParser(description="stored-procedure surface benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    pkg = import_package()
    if args.workload not in WORKLOADS:
        fail(2, f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    others = other_spark_jvms()
    if others:
        fail(3, f"another Spark JVM is running (pids {others}); refusing to measure")

    work = os.path.join(BENCH, ".work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    env = pin_environment(work)
    os.chdir(work)
    ticks0 = cpu_ticks()
    sampler = RssSampler()
    sampler.start()
    run = None
    try:
        inputs = os.path.join(work, "inputs")
        W_cls = WORKLOADS[args.workload]
        manifest = gen.generate(args.seed, inputs, W_cls.parts)
        W = W_cls(pkg, inputs, manifest, work, args.seed)
        tracer = spans.Tracer()
        run = Runner(pkg, W, tracer)
        if args.trace:
            run.install_tracing()
        run.setup()
        tracer.unwrap_all()
        n_cycles = run.timed_pass(args.seconds, bool(args.trace))
        # counters may run extra Spark jobs, so read them after the timed region
        metrics = per_layer(run, tracer) if args.trace else None
        failed, failures = run.check(n_cycles)
    finally:
        mem = sampler.stop()
        if run is not None and run.spark is not None:
            stop_spark(run.spark)
    steal, total = (b - a for a, b in zip(ticks0, cpu_ticks()))
    # cpu time the hypervisor gave to other guests: high values mark a noisy run
    env.update(spark=pyspark.__version__, python=platform.python_version(),
               seed=args.seed, workload=args.workload,
               cpu_steal_frac=round(steal / max(total, 1), 4))
    if args.trace:
        os.makedirs(os.path.join(BENCH, "results"), exist_ok=True)
        tracer.dump(os.path.join(BENCH, "results", f"spans-{args.workload}-seed{args.seed}.json"))
    else:
        metrics = end_to_end(run, sum(mem.values()))
    os.chdir(ROOT)
    shutil.rmtree(work, ignore_errors=True)

    for msg in failures:
        print(f"procbench: FAILED {msg}", file=sys.stderr)
    by_op = defaultdict(list)
    for r in run.records:
        by_op[r["call"].op].append((r["latency"], r["written"]))
    for op, recs in sorted(by_op.items()):
        lat, written = zip(*recs)
        print(f"procbench op {op:22s} n={len(lat):3d} median_s={statistics.median(lat):.4f} "
              f"warmup_s={run.warm_latency.get(op, 0.0):.4f} "
              f"written={','.join(str(w) for w in written)}", file=sys.stderr)
    print("procbench peak_rss_mb: " + " ".join(f"{k}={v:.1f}" for k, v in mem.items()),
          file=sys.stderr)
    print(f"procbench setup: start+register_s={run.start_s:.3f} warmup_s={run.warmup_s:.3f} "
          f"cycle_s={','.join(f'{w:.3f}' for w in run.walls[False])}", file=sys.stderr)
    attempted = len(run.records)
    lat = sorted(r["latency"] for r in run.records)
    print("procbench env: " + " ".join(f"{k}={v}" for k, v in env.items()))
    print(f"procbench calls: attempted={attempted} failed={failed} "
          f"ops_failed_frac={failed / attempted:.4f} cycles={n_cycles} "
          f"samples_above_p90={sum(x > quantile(lat, 0.9) for x in lat)}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
    }))


if __name__ == "__main__":
    main()
