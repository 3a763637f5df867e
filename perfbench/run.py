#!/usr/bin/env python3
"""Watermark benchmark: one workload per call.

    python3 perfbench/run.py --workload embed_tvp --seed 1 --seconds 10 --trace 0

Run from the repository root. It pins the resources it takes from the
host (``local[<cores>]``, a JVM heap of a quarter of ``MemTotal``),
generates the seeded input in a child process, starts Spark through the
package's ``session.get_spark``, prepares and warms up, then times ops
until ``--seconds`` of op time have passed (at least two ops). Each
extracted watermark is checked against the planted one; in a traced
run, each embedding's carrier count is also checked against the one
the generator derived independently.

The last stdout line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. ``--trace 0`` reports the
end-to-end metrics, with op times scaled by a host-speed kernel timed
around each op (``host_kernel_s``); ``--trace 1`` interleaves traced ops between
untraced ones, reports the per-layer metrics and writes the spans to
``.perfbench_out/``. ``--smoke`` shrinks the collection for the
benchmark's own test. perfbench/README.md defines every metric.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass, field
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "vector_database_watermarking_spark"
SETUP_REPS = 3
WARMUP_OPS = 1
MIN_OPS = 2  # timed ops per run, however long each takes
HEAP_FRACTION = 4  # JVM heap = MemTotal / HEAP_FRACTION
KERNEL_REPS = 3
KERNEL_REF_S = 0.08  # the host kernel's time on the idle baseline host (README)
TICK = os.sysconf("SC_CLK_TCK")

sys.path.insert(0, str(HERE))

from spans import EMBEDDERS, SETUP_OP, Tracer  # noqa: E402
from workloads import WATERMARK, WORKLOADS  # noqa: E402

# ------------------------------------------------------------------ /proc


def _stat(pid: int) -> tuple[int, int, str] | None:
    """(ppid, cpu ticks incl. reaped children, state) of a live process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            rest = f.read().rsplit(")", 1)[1].split()
    except (FileNotFoundError, ProcessLookupError, IndexError):
        return None
    return int(rest[1]), sum(int(x) for x in rest[11:15]), rest[0]


def descendants(pid: int) -> list[int]:
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit() and (st := _stat(int(d))) is not None:
            parent[int(d)] = st[0]
    out, frontier = [], {pid}
    while frontier:
        kids = [p for p, pp in parent.items() if pp in frontier]
        out += kids
        frontier = set(kids)
    return out


def _hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0.0


class Procs:
    """The benchmark process (the Spark driver), the Spark JVM and the
    Python workers under the JVM."""

    def __init__(self, jvm_pid: int):
        self.jvm = jvm_pid

    def roles(self) -> dict[str, list[int]]:
        return {"driver": [os.getpid()], "jvm": [self.jvm], "pyworkers": descendants(self.jvm)}

    def reset_peaks(self) -> None:
        for pids in self.roles().values():
            for pid in pids:
                try:
                    with open(f"/proc/{pid}/clear_refs", "w") as f:
                        f.write("5")
                except (FileNotFoundError, ProcessLookupError):
                    pass

    def peaks_mb(self) -> dict[str, float]:
        return {role: sum(_hwm_mb(p) for p in pids) for role, pids in self.roles().items()}

    def cpu(self) -> dict[str, dict[int, int]]:
        out = {}
        for role, pids in self.roles().items():
            out[role] = {p: st[1] for p in pids if (st := _stat(p)) is not None}
        return out

    @staticmethod
    def cpu_delta_s(before: dict, after: dict) -> dict[str, float]:
        return {
            role: sum(t - before[role].get(p, 0) for p, t in after[role].items()) / TICK
            for role in after
        }


# ------------------------------------------------------------------ host


def pin_host(tmp: Path) -> dict:
    """Fix what the run takes from the host, and route every file Spark,
    the JVM and Python write into ``tmp``."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_mb = next(int(l.split()[1]) // 1024 for l in f if l.startswith("MemTotal:"))
    heap_mb = mem_mb // HEAP_FRACTION
    (tmp / "spark-local").mkdir(parents=True)
    submit = [
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.sql.warehouse.dir={tmp / 'warehouse'}",
        # no hsperfdata file in /tmp
        "--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "pyspark-shell",
    ]
    old_path = os.environ.get("PYTHONPATH")
    os.environ.update(
        # Python workers import the package from this checkout
        PYTHONPATH=str(ROOT) + (os.pathsep + old_path if old_path else ""),
        PYSPARK_PYTHON=sys.executable,
        SPARK_DRIVER_MEM=f"{heap_mb}m",
        SPARK_LOCAL_DIRS=str(tmp / "spark-local"),
        TMPDIR=str(tmp),
        PYSPARK_SUBMIT_ARGS=" ".join(shlex.quote(a) for a in submit),
    )
    tempfile.tempdir = None
    return {"cores": cores, "mem_total_mb": mem_mb, "heap_mb": heap_mb}


def stop_spark(spark, procs: Procs) -> None:
    """Stop Spark, the JVM and its Python workers, and wait for each."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    kids = descendants(procs.jvm)
    spark.stop()
    launcher = getattr(gateway, "proc", None)
    gateway.shutdown()
    if launcher is not None:
        launcher.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            launcher.wait(timeout=60)
        except subprocess.TimeoutExpired:
            launcher.kill()
            launcher.wait()
    deadline = time.monotonic() + 30
    for pid in [procs.jvm, *kids]:
        while (st := _stat(pid)) is not None and st[2] != "Z":
            if time.monotonic() > deadline:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    break
            time.sleep(0.05)


def host_kernel_s() -> float:
    """Median time of a fixed CPU-bound kernel that runs none of the
    program: a pure-Python integer loop on one core, then an md5 of
    16 MiB on every core at once. The host's speed drifts by 2-3x over
    minutes; op times move with this kernel's, and scaling by it takes
    that drift out of ``op_s.p50``."""
    buf = bytes(1 << 24)
    cores = len(os.sched_getaffinity(0))
    times = []
    for _ in range(KERNEL_REPS):
        t0 = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc = (acc * 1103515245 + i) & 0x7FFFFFFF
        threads = [threading.Thread(target=hashlib.md5, args=(buf,)) for _ in range(cores)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


# ------------------------------------------------------------------ ops


@dataclass
class Op:
    seconds: float
    ok: bool
    bit_acc: list[float] = field(default_factory=list)


def _timed(spark, fn, scope=None) -> tuple[float, object, bool]:
    """Run ``fn`` after clearing Spark's cache and Python's garbage;
    return (seconds, result, raised-nothing)."""
    spark.catalog.clearCache()
    gc.collect()
    t0 = time.perf_counter()
    try:
        with scope or nullcontext():
            out = fn()
    except Exception:
        traceback.print_exc()
        return time.perf_counter() - t0, None, False
    return time.perf_counter() - t0, out, True


def run_prepare(spark, wl, inp: str, work: str, scope=None) -> Op:
    seconds, _, ok = _timed(spark, lambda: wl.prepare(spark, inp, work), scope)
    return Op(seconds, ok)


def run_op(spark, wl, inp: str, work: str, scope=None) -> Op:
    """One op: time it (inside ``scope`` if given), then check every
    watermark it extracted, outside the timed region."""
    seconds, handle, ok = _timed(spark, lambda: wl.op(spark, inp, work), scope)
    op = Op(seconds, ok)
    if not ok:
        return op
    t0 = time.perf_counter()
    try:
        extracted = wl.check(spark, handle, work)
    except Exception:
        traceback.print_exc()
        op.ok = False
        return op
    print(f"perfbench: op {seconds:.3f} s, check {time.perf_counter() - t0:.3f} s", file=sys.stderr)
    for ex in extracted:
        op.bit_acc.append(sum(a == b for a, b in zip(WATERMARK, ex)) / len(WATERMARK))
        if ex != WATERMARK:
            print(f"perfbench: extracted {ex} != planted {WATERMARK}", file=sys.stderr)
            op.ok = False
    return op


def spark_counts(sc, job_ids: list[int]) -> dict[str, int]:
    tracker = sc.statusTracker()
    stages = set()
    for j in job_ids:
        info = tracker.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    ran = [s for s in map(tracker.getStageInfo, sorted(stages)) if s is not None]
    ran = [s for s in ran if s.numCompletedTasks + s.numFailedTasks > 0]
    return {
        "spark.jobs": len(job_ids),
        "spark.stages": len(ran),
        "spark.tasks": sum(s.numCompletedTasks for s in ran),
        "spark.failed_tasks": sum(s.numFailedTasks for s in ran),
    }


def bench(args, wl, n: int, tmp: Path, host: dict) -> tuple[list[Op], dict, dict]:
    """Set up, warm up and measure; returns (ops, metrics, info)."""
    inp, work = str(tmp / "input.parquet"), str(tmp)
    gen = [sys.executable, str(HERE / "gen.py"), "--n", str(n), "--seed", str(args.seed)]
    setup: dict[str, float] = {}

    t0 = time.perf_counter()
    subprocess.run([*gen, "--out", inp], check=True)
    setup["setup.gen_s"] = time.perf_counter() - t0
    expect = None
    if args.trace:  # the carrier pin, outside every timed region
        expect_path = tmp / "expect.json"
        subprocess.run([*gen, "--expect", str(expect_path)], check=True)
        expect = json.loads(expect_path.read_text())

    from vector_database_watermarking_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus=host["cores"])
    setup["session.start_s"] = time.perf_counter() - t0
    procs = Procs(spark._jvm.java.lang.ProcessHandle.current().pid())
    try:
        ops = [run_prepare(spark, wl, inp, work) for _ in range(SETUP_REPS)]
        setup["setup.prepare_s"] = statistics.median(o.seconds for o in ops)
        tracer = None
        if args.trace:
            tracer = Tracer(spark.sparkContext)
            traced_prep = run_prepare(spark, wl, inp, work, tracer.op_scope(SETUP_OP))
            ops.append(traced_prep)
        warm = [run_op(spark, wl, inp, work) for _ in range(WARMUP_OPS)]
        setup["setup.warmup_s"] = sum(o.seconds for o in warm)
        ops += warm
        if tracer is not None:
            metrics = traced(args, spark, procs, tracer, traced_prep, wl, inp, work, expect, ops)
            metrics.update(setup)
        else:
            metrics, raw = untraced(args, spark, wl, n, inp, work, ops)
            metrics["setup_s"] = sum(setup.values())
        info = {"setup": setup, "samples": sum(o.bit_acc != [] for o in ops) - WARMUP_OPS}
        if tracer is None:
            info.update(raw)
    finally:
        t0 = time.perf_counter()
        stop_spark(spark, procs)
        print(f"perfbench: stop {time.perf_counter() - t0:.3f} s", file=sys.stderr)
    return ops, metrics, info


def untraced(args, spark, wl, n, inp, work, ops) -> tuple[dict, dict]:
    """The end-to-end metrics, and the unscaled figures behind them."""
    timed: list[Op] = []
    kernel = [host_kernel_s()]
    while len(timed) < MIN_OPS or sum(o.seconds for o in timed) < args.seconds:
        timed.append(run_op(spark, wl, inp, work))
        kernel.append(host_kernel_s())
    ops += timed
    # each op in reference-host seconds: its wall time scaled by the host
    # kernel's time just before and just after it
    scaled = [
        o.seconds * KERNEL_REF_S / ((before + after) / 2)
        for o, before, after in zip(timed, kernel, kernel[1:])
    ]
    p50 = statistics.median(scaled)
    accs = [a for o in timed for a in o.bit_acc]
    return {
        "op_s.p50": p50,
        "vectors_per_s": n / p50,
        "bit_acc.mean": statistics.fmean(accs) if accs else 0.0,
    }, {
        "op_wall_s": [o.seconds for o in timed],
        "host_kernel_s": kernel,
    }


def traced(args, spark, procs, tracer, traced_prep, wl, inp, work, expect, ops) -> dict:
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    tracker = sc.statusTracker()
    plain: list[Op] = []
    plain_stats: list[dict[str, float]] = []
    spanned: list[Op] = []

    def untraced_op() -> None:
        """An op with process and Spark counters; no job tags, nothing forced."""
        bus.waitUntilEmpty()
        jobs0 = set(tracker.getJobIdsForGroup(None))
        cpu0 = procs.cpu()
        procs.reset_peaks()
        plain.append(run_op(spark, wl, inp, work))
        cpu = Procs.cpu_delta_s(cpu0, procs.cpu())
        peaks = procs.peaks_mb()
        stats = {f"mem.{r}_mb": v for r, v in peaks.items()}
        stats["mem.peak_rss_mb"] = sum(peaks.values())
        stats.update({f"cpu.{r}_s": v for r, v in cpu.items()})
        stats["cpu.busy_ratio"] = sum(cpu.values()) / (plain[-1].seconds * len(os.sched_getaffinity(0)))
        bus.waitUntilEmpty()
        stats.update(spark_counts(sc, sorted(set(tracker.getJobIdsForGroup(None)) - jobs0)))
        plain_stats.append(stats)

    # untraced, traced, untraced, ...: op times still fall from one op to
    # the next, and a traced op between two untraced ones cancels that
    untraced_op()
    while not spanned or sum(o.seconds for o in plain + spanned) < args.seconds:
        spanned.append(run_op(spark, wl, inp, work, tracer.op_scope(len(spanned))))
        untraced_op()
    ops += plain + spanned
    tracer.attach_jobs()
    out_dir = ROOT / ".perfbench_out"
    out_dir.mkdir(exist_ok=True)
    span_file = out_dir / f"spans-{args.workload}-seed{args.seed}.json"
    tracer.dump(str(span_file))
    print(f"perfbench: spans written to {span_file.relative_to(ROOT)}")

    # the carrier pin: every traced embedding selects the closed-form count
    traced_ops = {SETUP_OP: traced_prep, **dict(enumerate(spanned))}
    carriers = []
    for s in tracer.spans:
        if s.name in EMBEDDERS:
            carriers.append(s.count)
            if s.count != expect["carriers"]:
                print(f"perfbench: {s.count} carriers != pinned {expect['carriers']}", file=sys.stderr)
                traced_ops[s.op].ok = False
    med = statistics.median
    per = tracer.per_op
    attacks = ("random_delete", "random_modify", "gaussian_insertion")
    metrics = {k: med(s[k] for s in plain_stats) for k in plain_stats[0]}
    metrics.update({
        "sources.scan_s": med(per("load_data", "total")),
        "knn.knn_edges_s": med(per("knn_edges", "total")),
        "knn.jobs": med(per("knn_edges", "jobs")),
        "knn.edges": med(per("knn_edges", "count")),
        "graph.accessibility_index_s": med(per("accessibility_index", "total")),
        "graph.jobs": med(per("accessibility_index", "jobs")),
        "tvp.classify_compat_s": med(per("classify_compat", "total")),
        "tvp.embed_self_s": med(per("tvp_embed_with_ai", "self")),
        # the embedding happens in the ops (TVP) or in set-up (RS)
        "tvp.rs_embed_s": max(med(per("rs_embed", "total")), *per("rs_embed", "total", SETUP_OP)),
        "tvp.extract_s": med(per("tvp_extract", "total")),
        "tvp.carriers": med(carriers) if carriers else 0,
        "grouping.majority_decode_s": med(per("majority_decode", "total")),
        "attacks.random_delete_s": med(per("random_delete", "total")),
        "attacks.random_modify_s": med(per("random_modify", "total")),
        "attacks.gaussian_insertion_s": med(per("gaussian_insertion", "total")),
        "attacks.jobs": med([sum(v) for v in zip(*(per(a, "jobs") for a in attacks))]),
        "trace.overhead_s": med(o.seconds for o in spanned) - med(o.seconds for o in plain),
    })
    return metrics


# ------------------------------------------------------------------ main


def main() -> int:
    ap = argparse.ArgumentParser(description="Watermark benchmark (see perfbench/README.md)")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="small collection, for the benchmark's own test")
    args = ap.parse_args()

    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    wl = WORKLOADS[args.workload]
    n = wl.smoke_n if args.smoke else wl.n
    tmp = ROOT / ".perfbench_tmp" / f"run-{os.getpid()}"
    host = pin_host(tmp)
    sys.path.insert(0, str(ROOT))
    try:
        ops, metrics, info = bench(args, wl, n, tmp, host)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            tmp.parent.rmdir()  # only when no other run is using it
        except OSError:
            pass

    kind = "per_layer" if args.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in spec[kind]}
    missing = sorted(set(units) - set(metrics))
    if missing:
        print(f"perfbench: metrics not measured: {missing}", file=sys.stderr)
        return 3
    failed = sum(not o.ok for o in ops)
    print(json.dumps({"host": host, "workload": args.workload, "n": n, "seed": args.seed, **info}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
