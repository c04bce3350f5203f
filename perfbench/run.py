#!/usr/bin/env python3
"""Closed-loop benchmark of the engine's registry keys.

    python3 perfbench/run.py --workload sql_reads --seed 7 --seconds 6 --trace 0

Run from the repository root. One client drives one Spark session and
runs the workload's keys back to back, pass after pass: the first pass
in the fresh process, a settling pass, then measured passes while the
next one is expected to fit in ``--seconds`` (and at least the
workload's minimum number of measured passes). Every result is fetched in full and, after
the timed passes, compared with the key's DuckDB oracle on the same
generated tables.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` prints the
per-layer ones (Spark event log, a streaming listener, timed wrappers
around ``ManifestTable``, ``/proc``), measured on traced passes that
alternate with untraced ones in the same session. The last stdout line
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``.
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
import uuid  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import __spark_entry__ as entrymod  # noqa: E402
from perfbench import eventlog, gen, oracle, probes, stats  # noqa: E402
from perfbench.workloads import LAYERS, PER_LAYER_UNITS, WORKLOADS  # noqa: E402

IMPORTS_DONE = time.time()
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
PROGRAM_SCRATCH = os.path.join(ROOT, ".tmp")
WALL_CHECK = 0.10  # key spans must cover the pass wall within this share
LISTENER_DRAIN_S = 0.5  # lets the listener buses deliver a traced pass's last events
# probes.speed_loop_s() on the quiet reference host (a 4-vCPU VM, Python
# 3.11). Gated times are scaled to this speed: README.md, "Host speed".
REF_LOOP_S = 0.056


@dataclass
class PassResult:
    index: int
    sf_dir: str
    t0: float
    t1: float = 0.0
    wall: float = 0.0
    cpu: float = 0.0
    walls: dict[str, float] = field(default_factory=dict)
    cpus: dict[str, float] = field(default_factory=dict)
    results: dict = field(default_factory=dict)
    errors: dict[str, str] = field(default_factory=dict)


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=6.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


class Bench:
    """One run: its inputs, session, passes and probes."""

    def __init__(self, args: argparse.Namespace, cores: int, fns: dict) -> None:
        self.args = args
        self.cores = cores
        self.wl = WORKLOADS[args.workload]
        self.fns = fns
        self.work = os.path.join(WORK_ROOT, uuid.uuid4().hex[:12])
        self.shared_dir = os.path.join(self.work, "in")
        self.spark = None
        self.tracing = False
        self.passes: list[PassResult] = []
        self.spans = probes.Spans()
        self.rss = probes.RssProbe()
        self.manifest: probes.ManifestProbe | None = None
        self.speed: list[float] = []  # speed loop samples: around the set-up and every pass

    def generate(self) -> None:
        os.makedirs(self.work)
        gen.write_tables(self.shared_dir, self.args.seed)

    # --- session -------------------------------------------------------
    def start_session(self, eventlog_dir: str | None = None) -> tuple[float, float]:
        """Build a session and warm it; returns (build s, warm-up s)."""
        from tinymapreduce_spark.session import get_spark

        if eventlog_dir:
            os.environ["SPARK_GRAFT_EVENTLOG_DIR"] = eventlog_dir
        else:
            os.environ.pop("SPARK_GRAFT_EVENTLOG_DIR", None)
        t0 = time.perf_counter()
        spark = get_spark(app_name="perfbench", cpus=self.cores)
        t1 = time.perf_counter()
        spark.range(1_000_000).selectExpr("sum(id)").collect()
        spark.read.parquet(f"{self.shared_dir}/lineitem.parquet").limit(1).collect()
        t2 = time.perf_counter()
        self.spark = spark
        proc = getattr(spark.sparkContext._gateway, "proc", None)
        self.rss.jvm_pid = proc.pid if proc is not None else None
        return t1 - t0, t2 - t1

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    # --- passes --------------------------------------------------------
    def pass_dir(self, index: int) -> str:
        if not self.wl.fresh_inputs:
            return self.shared_dir
        return gen.write_tables(os.path.join(self.work, f"pass{index}"), [self.args.seed, index])

    def run_pass(self) -> PassResult:
        self.speed.append(probes.speed_loop_s())
        index = len(self.passes)
        res = PassResult(index, self.pass_dir(index), time.time())
        self.spans.pass_index = index
        cpu0 = cpu_start = probes.tree_cpu_s(os.getpid())
        p0 = time.perf_counter()
        for key, fn in self.fns.items():
            self.spans.key = key
            k0, c0 = time.time(), time.perf_counter()
            k1 = k0
            try:
                df = fn(self.spark, res.sf_dir)
                k1 = time.time()
                res.results[key] = df.toPandas()
            except Exception as e:  # noqa: BLE001 - a failing key is a result, not the end of the run
                traceback.print_exc()
                res.errors[key] = f"{type(e).__name__}: {str(e)[:300]}"
            res.walls[key] = time.perf_counter() - c0
            k2 = time.time()
            cpu1 = probes.tree_cpu_s(os.getpid())
            res.cpus[key] = cpu1 - cpu0
            cpu0 = cpu1
            if self.tracing:
                self.spans.add("call", key, k0, k1)
                self.spans.add("fetch", key, k1, k2)
                self.spans.add("key", key, k0, k2)
                self.rss.sample()
        res.wall = time.perf_counter() - p0
        res.t1 = time.time()
        res.cpu = cpu0 - cpu_start
        self.speed.append(probes.speed_loop_s())
        if self.tracing:
            self.spans.add("pass", str(index), res.t0, res.t1)
        self.passes.append(res)
        return res

    def run_steady(self, min_passes: int, before_pass=None, after_pass=None) -> list[PassResult]:
        """Measured passes while the next one is expected to fit in
        ``--seconds``, and at least ``min_passes``. The hooks run around
        each pass, outside its timing."""
        out: list[PassResult] = []
        used = 0.0
        while len(out) < min_passes or used + out[-1].wall <= self.args.seconds:
            if before_pass:
                before_pass(len(out))
            out.append(self.run_pass())
            if after_pass:
                after_pass(len(out) - 1)
            used += out[-1].wall
        return out

    # --- checks and clean-up ---------------------------------------------
    def check(self, oracles: dict) -> list[str]:
        """Compare every fetched result with its oracle; returns failures."""
        failures: list[str] = []
        expected: dict[tuple[str, str], object] = {}
        cons: dict[str, object] = {}
        try:
            for p in self.passes:
                for key in self.fns:
                    if key in p.errors:
                        failures.append(f"pass {p.index} {key}: error {p.errors[key]}")
                        continue
                    if key not in oracles:
                        failures.append(f"pass {p.index} {key}: no oracle")
                        continue
                    if p.sf_dir not in cons:
                        cons[p.sf_dir] = oracle.connect(p.sf_dir)
                    if (p.sf_dir, key) not in expected:
                        expected[(p.sf_dir, key)] = cons[p.sf_dir].execute(oracles[key]).df()
                    why = oracle.mismatch(p.results[key], expected[(p.sf_dir, key)])
                    if why:
                        failures.append(f"pass {p.index} {key}: mismatch {why}")
                p.results.clear()
        finally:
            for con in cons.values():
                con.close()
        return failures

    def cleanup(self, scratch_before: set[str]) -> None:
        """Remove the run's inputs and what the engine created in its scratch."""
        shutil.rmtree(self.work, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)
        except OSError:
            pass  # another run's directory is still there
        if not os.path.isdir(PROGRAM_SCRATCH):
            return
        for name in set(os.listdir(PROGRAM_SCRATCH)) - scratch_before:
            path = os.path.join(PROGRAM_SCRATCH, name)
            if os.path.isdir(path) and not os.path.islink(path):
                shutil.rmtree(path, ignore_errors=True)
            else:
                os.remove(path)
        if not scratch_before and not os.listdir(PROGRAM_SCRATCH):
            os.rmdir(PROGRAM_SCRATCH)


def shutdown_jvm() -> None:
    """Stop the Py4J gateway JVM and wait for it, so no process outlives the run."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may already be gone; waiting below is what matters
        pass
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def end_to_end(bench: Bench) -> tuple[dict, list[str]]:
    """Cold set-up, the first pass, one settling pass and the steady
    passes of one process."""
    wl = bench.wl
    bench.speed.append(probes.speed_loop_s())
    build, warm = bench.start_session()
    setup = IMPORTS_DONE - PROCESS_START + build + warm
    first = bench.run_pass()
    bench.run_pass()  # settling pass, not reported: CPU per pass still falls ~25% after it
    steady = bench.run_steady(wl.min_steady_passes)
    key_walls = [list(p.walls.values()) for p in steady]
    pooled = [w for ws in key_walls for w in ws]
    tail, tail_label = stats.tail(key_walls, len(wl.keys) * wl.min_steady_passes)
    # A shared VM's speed can drift by a factor of two within minutes, with
    # or without steal; the gated times are scaled to the reference speed
    # by the run's median speed loop (README.md, "Host speed").
    pass_cpu = stats.median(p.cpu for p in steady)
    scale = REF_LOOP_S / stats.median(bench.speed)
    metrics = {
        "setup_s": (setup * scale, "s", 1,
                    "cold: process start, imports, JVM launch, session, warm-up; at reference speed"),
        "first_pass_cpu_s": (first.cpu * scale, "s", 1, "single, at reference speed"),
        "pass_cpu_s": (pass_cpu * scale, "s", len(steady), "median, at reference speed"),
    }
    # Pass and per-key walls follow the host's CPU steal more than the
    # program (README.md, "End-to-end metrics"), so they are printed, not gated.
    walls = {
        "first_pass_s": (first.wall, 1, "single"),
        "pass_s": (stats.median(p.wall for p in steady), len(steady), "median"),
        "query_p50_s": (stats.median(pooled), len(pooled), "p50"),
        "query_tail_s": (tail, len(pooled), tail_label),
    }
    lines = [f"{name} = {v:.6g} s (n={n}, {how}; wall, not gated)" for name, (v, n, how) in walls.items()]
    lines += [
        f"set-up (s): imports {IMPORTS_DONE - PROCESS_START:.3f}, session {build:.3f}, warm-up {warm:.3f}",
        f"as measured, before scaling by {scale:.4f}: setup_s {setup:.6g}, first_pass_cpu_s {first.cpu:.6g}, "
        f"pass_cpu_s {pass_cpu:.6g}",
        f"steady passes: wall (s) {', '.join(f'{p.wall:.3f}' for p in steady)}; "
        f"cpu (s) {', '.join(f'{p.cpu:.3f}' for p in steady)}",
    ]
    for key in wl.keys:
        lines.append(
            f"  {key}: first {first.walls[key]:.3f}s wall / {first.cpus[key]:.3f}s cpu; steady wall "
            + ", ".join(f"{p.walls[key]:.3f}" for p in steady)
            + "; steady cpu " + ", ".join(f"{p.cpus[key]:.3f}" for p in steady)
        )
    return metrics, lines


def _span_s(records: list[dict]) -> float:
    return sum(r["t1"] - r["t0"] for r in records)


def per_layer(bench: Bench) -> tuple[dict, list[str], list[str]]:
    """Layer metrics of traced passes, interleaved with untraced ones.

    One session is built with the event log on and runs an untraced
    warm-up pass. The measured passes then alternate, traced first, at
    least three: a traced pass has the event-log listener attached, the
    streaming listener, the ManifestTable wrappers and the spans; an
    untraced pass has none of them. Untraced passes sit between traced
    ones, so JVM warm-up drift mostly cancels out of ``trace.overhead``.
    """
    wl = bench.wl
    evdir = os.path.join(bench.work, "eventlog")
    os.makedirs(evdir)
    build, warm = bench.start_session(eventlog_dir=evdir)
    switch = probes.EventLogSwitch(bench.spark)
    listener = probes.make_stream_listener()
    bench.manifest = probes.ManifestProbe(bench.spans)
    switch.set(False)
    bench.run_pass()  # warm-up, not reported
    manifest_counts: dict[int, tuple[int, int]] = {}  # traced pass -> (commits, conflicts)

    def before(i: int) -> None:
        if i % 2 == 0:  # traced
            switch.set(True)
            bench.spark.streams.addListener(listener)
            bench.manifest.commits = bench.manifest.conflicts = 0
            bench.manifest.install()
            bench.tracing = True

    def after(i: int) -> None:
        if i % 2 == 0:
            bench.tracing = False
            bench.manifest.uninstall()
            manifest_counts[bench.passes[-1].index] = (bench.manifest.commits, bench.manifest.conflicts)
            time.sleep(LISTENER_DRAIN_S)
            bench.spark.streams.removeListener(listener)
            switch.set(False)

    measured = bench.run_steady(max(3, wl.min_steady_passes), before, after)
    traced, untraced = measured[0::2], measured[1::2]
    bench.rss.sample()
    jvm_peak = bench.rss.jvm_peak_mb()
    bench.stop_session()  # closes the event log

    logs = [os.path.join(evdir, f) for f in os.listdir(evdir)]
    log = eventlog.parse(logs[0]) if logs else eventlog.EventLog()

    per_pass: list[dict[str, float]] = []
    gaps, failures = [], []
    for p in traced:
        m = eventlog.window_metrics(log, p.t0, p.t1, bench.cores)
        covered = _span_s(bench.spans.in_pass(p.index, "key"))
        gaps.append(abs(covered / (p.t1 - p.t0) - 1.0))
        if gaps[-1] > WALL_CHECK:
            failures.append(f"trace check: pass {p.index} key spans cover {covered:.3f}s "
                            f"of a {p.t1 - p.t0:.3f}s wall")
        calls = bench.spans.in_pass(p.index, "call")
        for layer in LAYERS:
            mine = [r for r in calls if wl.keys[r["name"]] == layer]
            m[f"{layer}.call_s"] = _span_s(mine)
            m[f"{layer}.calls"] = float(len(mine))
        m["result.fetch_s"] = _span_s(bench.spans.in_pass(p.index, "fetch"))
        m["sources.manifest.commit_s"] = _span_s(bench.spans.in_pass(p.index, "manifest.commit"))
        m["sources.manifest.read_s"] = _span_s(bench.spans.in_pass(p.index, "manifest.read"))
        commits, conflicts = manifest_counts[p.index]
        m["sources.manifest.commits"] = float(commits)
        m["sources.manifest.conflicts"] = conflicts / commits if commits else 0.0
        batches = [b for b in listener.progress if p.t0 <= b[0] <= p.t1]
        durations = [b[1] for b in batches]
        m["streaming.batches"] = float(len(batches))
        m["streaming.trigger_ms_p50"] = stats.median(d.get("triggerExecution", 0) for d in durations)
        for name, phase in (
            ("add_batch_ms", "addBatch"), ("wal_commit_ms", "walCommit"),
            ("commit_offsets_ms", "commitOffsets"), ("query_planning_ms", "queryPlanning"),
            ("latest_offset_ms", "latestOffset"),
        ):
            m[f"streaming.{name}"] = float(sum(d.get(phase, 0) for d in durations))
        m["streaming.input_rows"] = float(sum(b[2] for b in batches))
        m["streaming.empty_frac"] = sum(1 for b in batches if b[2] == 0) / len(batches) if batches else 0.0
        per_pass.append(m)

    metrics: dict[str, tuple] = {
        name: (stats.median(m[name] for m in per_pass), unit, len(per_pass), "median per pass")
        for name, unit in PER_LAYER_UNITS.items()
    }
    u = sum(p.wall for p in untraced) / len(untraced)
    t = sum(p.wall for p in traced) / len(traced)
    metrics.update({
        "session.import_s": (IMPORTS_DONE - PROCESS_START, "s", 1, "cold"),
        "session.start_s": (build, "s", 1, "cold"),
        "session.warmup_s": (warm, "s", 1, "cold"),
        "jvm.peak_rss_mb": (jvm_peak, "MB", 1, "peak"),
        "python.peak_rss_mb": (bench.rss.python_peak_kb / 1024.0, "MB", 1, "peak"),
        "trace.overhead": (t / u - 1.0, "ratio", len(traced),
                           f"mean traced {t:.3f}s / mean untraced {u:.3f}s - 1"),
        "trace.wall_gap": (max(gaps), "ratio", len(gaps), "max per traced pass"),
    })
    lines = [
        "measured pass walls (s), traced first and alternating: "
        + ", ".join(f"{p.wall:.3f}" for p in measured),
        "key spans vs pass wall per traced pass: " + ", ".join(f"{g:.3%}" for g in gaps)
        + (f" (all within {WALL_CHECK:.0%})" if not failures else f" (OUTSIDE {WALL_CHECK:.0%})"),
    ]
    spans_path = os.path.join(ROOT, ".perfbench_out", f"{wl.name}-seed{bench.args.seed}-spans.json")
    os.makedirs(os.path.dirname(spans_path), exist_ok=True)
    with open(spans_path, "w") as f:
        json.dump({"workload": wl.name, "seed": bench.args.seed, "spans": bench.spans.records}, f)
    lines.append(f"spans written to {os.path.relpath(spans_path, ROOT)}")
    return metrics, lines, failures


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")

    registry = entrymod.queries()
    scratch_before = set(os.listdir(PROGRAM_SCRATCH)) if os.path.isdir(PROGRAM_SCRATCH) else set()
    bench = Bench(args, cores, {k: registry[k] for k in WORKLOADS[args.workload].keys})
    ticks0 = probes.host_cpu_ticks()
    failures: list[str] = []
    try:
        bench.generate()
        # Temporary files of the driver, the JVM and the workers stay in the run's directory.
        tmp = os.path.join(bench.work, "tmp")
        os.makedirs(tmp)
        tempfile.tempdir = os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(bench.work, "spark-local")
        java_opts = shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-java-options {java_opts} pyspark-shell"
        if args.trace:
            metrics, lines, failures = per_layer(bench)
        else:
            metrics, lines = end_to_end(bench)
        bench.stop_session()
        passes_done = time.time() - PROCESS_START
        ticks1 = probes.host_cpu_ticks()
        steal = (ticks1[1] - ticks0[1]) / max(1, ticks1[0] - ticks0[0])
        speed = stats.median(bench.speed)
        if args.trace:
            metrics["host.steal_frac"] = (steal, "ratio", 1, "CPU time taken by the hypervisor during the run")
            metrics["host.speed_loop_s"] = (speed, "s", len(bench.speed), "median, before and after each pass")
        else:
            lines.append(f"host.steal_frac = {steal:.4f} (CPU time taken by the hypervisor during the run)")
            lines.append(f"host.speed_loop_s = {speed:.6g} s (n={len(bench.speed)}, median CPU time of a "
                         f"fixed Python loop; reference {REF_LOOP_S} s)")
        failures += bench.check(entrymod.oracle_sql())
    finally:
        bench.stop_session()
        shutdown_jvm()
        bench.cleanup(scratch_before)

    attempted = sum(len(p.walls) for p in bench.passes)
    failed = sum(1 for f in failures if f.startswith("pass "))
    print(f"workload {bench.wl.name}: {len(bench.wl.keys)} keys, seed {args.seed}, "
          f"{len(bench.passes)} passes, local[{cores}], heap {os.environ['SPARK_GRAFT_DRIVER_MEM']}")
    print(f"run phases (s since start): imports {IMPORTS_DONE - PROCESS_START:.1f}, "
          f"passes done {passes_done:.1f}, checked and shut down {time.time() - PROCESS_START:.1f}")
    for line in lines:
        print(line)
    for name, (value, unit, n, how) in metrics.items():
        print(f"{name} = {value:.6g} {unit} (n={n}, {how})")
    print(f"failed_frac = {failed / attempted:.6g} ({failed}/{attempted} key executions)")
    for f in failures:
        print(f"FAILED {f}")
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": failed,
        "metrics": {name: {"value": v[0], "unit": v[1]} for name, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
