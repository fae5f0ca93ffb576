"""Benchmark command: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload graph_queries --seed 1 --seconds 8 --trace 0

Run from the repository root. The engine runs from the source tree next
to this directory on ``local[<cores>]``; Spark's Python workers find it
through ``PYTHONPATH``. All scratch files go to ``.perfbench_work/`` in
the repository root and are removed at exit.

A run is:

1. set-up, timed as ``setup_s``: write the seeded inputs, start a Spark
   session (this launches the JVM), run one checking pass (every output
   digested for the correctness check; also the cold pass) and
   ``WARMUPS`` untimed passes. Each pass's time is printed, so whether
   the timed passes run at steady state can be read off the output;
2. timed passes until ``--seconds`` have gone by, and at least the
   workload's ``passes``; ``run_s`` is their median. With ``--trace 1``,
   traced and untraced passes alternate and each step of a traced pass
   is a span carrying that call's status-store counts;
3. checks, untimed: the checking pass's row counts and digests against
   DuckDB (registry oracles, or queries over the generator's ground
   truth). A call that raises in any pass also counts as failed.

The last line of standard output is the JSON result; the lines before it
give each figure with its unit, the pass times with their percentiles
and each pass's share of foreign CPU load on the box. The exit code is 1
when any output failed its check.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
# The driver JVM's heap is fixed in size (initial = maximum, fixed young
# generation), so resident memory follows the live data rather than the
# collector's run-to-run resizing decisions.
DRIVER_MEMORY = "2g"
YOUNG_GEN = "512m"
# Untimed passes after the cold checking pass, the same for every workload.
WARMUPS = 1


def _prepare_environment() -> None:
    """Point Spark, its Python workers and temp files at the checkout (the
    JVMs' perf-data files, which would go to the system temp directory,
    are switched off)."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    tempfile.tempdir = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Xms{DRIVER_MEMORY} -Xmn{YOUNG_GEN} -XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}" pyspark-shell'
    )


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM the session launched, and wait."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _percentile_report(values: list[float]) -> str:
    """Median plus the highest percentile with at least ten samples above it."""
    vals = sorted(values)
    n = len(vals)
    out = f"median {statistics.median(vals):.4f} (n={n})"
    for p in (99, 95, 90, 75, 50):
        if n * (100 - p) / 100 >= 10:
            out += f", p{p} {vals[min(n - 1, int(n * p / 100))]:.4f}"
            break
    return out


class Runner:
    """Runs one workload's passes on one session and keeps the evidence."""

    def __init__(self, spark, workload, in_dir: str, run_id: str) -> None:
        from perfbench.layers import LAYERS
        from perfbench.probe import ProcTree, StatusProbe

        self.run_id = run_id
        self.spark = spark
        self.workload = workload
        self.in_dir = in_dir
        self.steps = workload.steps(spark, in_dir)
        self.layers = {step.layer for step in self.steps}
        if not self.layers <= set(LAYERS):
            raise ValueError(f"undeclared layers: {sorted(self.layers - set(LAYERS))}")
        self.probe = StatusProbe(spark)
        self.tree = ProcTree()
        self.attempted = 0
        self.failures: list[str] = []
        self.digests: dict[str, tuple[int, int]] = {}
        self.rows: dict[str, int] = {}
        self.n = 0

    def run_pass(self, *, check: bool = False, traced: bool = False) -> dict:
        """One full pass: every step's frames are forced, the checking pass
        through the digest, later passes through a noop sink. Returns wall
        seconds, process-tree CPU seconds, shuffle MB, foreign CPU share
        and, when traced, the steps' spans and the seconds spent reading
        them."""
        from leader_graph_spark.hostload import HostWindow

        self.n += 1
        sc = self.spark.sparkContext
        env: dict = {}
        windows = []
        cpu0 = self.tree.cpu_s()
        self.probe.skip_executions()
        with HostWindow() as host:
            t_pass = time.perf_counter()
            for step in self.steps:
                group = f"perfbench-{self.n}-{step.name}"
                sc.setJobGroup(group, step.name)
                t0 = time.time()
                try:
                    frames = step.build(env)
                    rows = 0
                    for key, df in frames.items():
                        self.attempted += 1
                        if key in step.keep:
                            df = env[key] = df.localCheckpoint(eager=True)
                        if check:
                            self._check_sink(key, df)
                        elif key not in step.keep:
                            df.write.format("noop").mode("overwrite").save()
                        rows += self.rows[key]
                except Exception:  # noqa: BLE001 — a failed call is counted, not fatal
                    self.failures.append(f"pass {self.n} {step.name}: raised\n"
                                         + traceback.format_exc(limit=3))
                    break
                windows.append((step, group, t0, time.time(), rows))
            wall = time.perf_counter() - t_pass
        sc.setJobGroup("perfbench-idle", "")
        spans = []
        t_read = time.perf_counter()
        if traced:
            # spans are read from the status stores after the pass, so the
            # traced pass itself only records wall-clock windows
            stats = self.probe.collect_steps([(g, t0, t1) for _, g, t0, t1, _ in windows])
            for (step, _, t0, t1, rows), st in zip(windows, stats):
                st.rows_out = rows
                spans.append({"name": step.name, "layer": step.layer, "run": self.run_id,
                              "parent": f"pass-{self.n}", "start": t0, "end": t1, "stats": st})
        trace_s = time.perf_counter() - t_read
        return {
            "run_s": wall,
            "trace_s": trace_s,
            "cpu_s": self.tree.cpu_s() - cpu0,
            "shuffle_mb": self.probe.pass_shuffle_mb([w[1] for w in windows]),
            "foreign_frac": host.foreign_frac,
            "spans": spans,
        }

    def _check_sink(self, key: str, df) -> None:
        from perfbench.workloads import spark_digest

        self.digests[key] = spark_digest(df)
        self.rows[key] = self.digests[key][0]

    def check_against_duckdb(self) -> None:
        for key, (rows, digest) in self.workload.expected(self.in_dir).items():
            self.attempted += 1
            got = self.digests.get(key)
            if got is None or got[0] != rows or (digest is not None and got[1] != digest):
                self.failures.append(f"{key}: engine {got} != expected {(rows, digest)}")


def _setup(workload, seed: int, run_id: str):
    """Inputs, session and warm-up; returns (runner, seconds, pass times)."""
    from leader_graph_spark.session import get_spark

    t0 = time.perf_counter()
    in_dir = os.path.join(WORK, "inputs")
    workload.generate(in_dir, seed)
    spark = get_spark("perfbench")
    runner = Runner(spark, workload, in_dir, run_id)
    times = [runner.run_pass(check=True)["run_s"]]
    times += [runner.run_pass()["run_s"] for _ in range(WARMUPS)]
    return runner, time.perf_counter() - t0, times


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    try:
        import leader_graph_spark  # noqa: F401 — the engine under test, from this checkout
        from perfbench.workloads import WORKLOADS
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    workload = WORKLOADS[args.workload]
    run_id = uuid.uuid4().hex[:12]
    _prepare_environment()

    spark = None
    try:
        runner, setup_s, warm = _setup(workload, args.seed, run_id)
        spark = runner.spark
        print(f"setup: {setup_s:.3f} s, passes " + " ".join(f"{t:.3f}" for t in warm))

        from perfbench.probe import RssPeak

        passes = []
        deadline = time.perf_counter() + args.seconds
        with RssPeak(runner.tree) as peak:
            while len(passes) < workload.passes or time.perf_counter() < deadline:
                traced = bool(args.trace) and len(passes) % 2 == 1
                p = runner.run_pass(traced=traced)
                p["traced"] = traced
                passes.append(p)
        runner.check_against_duckdb()
        if args.trace:
            ratios = workload.ratios(spark, runner.in_dir, runner.rows)
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(WORK, ignore_errors=True)

    for i, p in enumerate(passes):
        print(f"pass {i}: run_s {p['run_s']:.4f} s, cpu_s {p['cpu_s']:.3f} s, shuffle_mb "
              f"{p['shuffle_mb']:.3f} MB, foreign_frac {p['foreign_frac']:.3f}"
              + (" (traced)" if p["traced"] else ""))
    plain = [p for p in passes if not p["traced"]]
    run_s = [p["run_s"] for p in plain]
    print(f"run_s: {_percentile_report(run_s)}")
    for f in runner.failures:
        print(f"FAILED {f}")

    if args.trace:
        metrics = _layer_metrics(passes, ratios, runner.layers)
        _print_spans(passes, run_id)
        _write_spans(passes, f"{args.workload}-seed{args.seed}-{run_id}")
    else:
        metrics = {
            "run_s": (statistics.median(run_s), "s"),
            "cpu_s": (statistics.median(p["cpu_s"] for p in plain), "s"),
            "peak_rss_mb": (peak.mb, "MB"),
            "shuffle_mb": (statistics.median(p["shuffle_mb"] for p in plain), "MB"),
            "setup_s": (setup_s, "s"),
        }
    failed = len(runner.failures)
    print(f"failed_frac: {failed / runner.attempted:.6f} ratio ({failed}/{runner.attempted})")
    for name, (value, unit) in metrics.items():
        print(f"{args.workload} {name}: {value:.6g} {unit}")
    result = {
        "correct": failed == 0,
        "attempted": runner.attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0 if failed == 0 else 1


def _layer_metrics(passes: list[dict], ratios: dict[str, float], called: set[str]) -> dict:
    """Per-layer figures, every declared metric.

    For a layer this workload calls, each measure is the median over
    traced passes of that layer's per-pass total, and each ratio comes
    from the workload's ``ratios``. A layer the workload does not call
    reads 0 on every measure, ratios included: no time, no jobs, no
    rows. ``trace.overhead_s`` is the time a traced pass adds, reading
    its spans from the status stores; the work inside the pass is the
    same as in an untraced pass."""
    from perfbench.layers import LAYER_METRICS, layer_of

    traced = [p for p in passes if p["traced"]]
    per_pass = []
    for p in traced:
        totals: dict[str, float] = {}
        for span in p["spans"]:
            for measure, value in span["stats"].as_dict().items():
                key = f"{span['layer']}.{measure}"
                totals[key] = totals.get(key, 0.0) + value
        per_pass.append(totals)
    out = {}
    for name, unit in LAYER_METRICS.items():
        if name == "trace.overhead_s":
            value = statistics.median(p["trace_s"] for p in traced)
        elif unit == "ratio":
            value = ratios.get(name, 0.0)
        elif layer_of(name) in called:
            value = statistics.median(t.get(name, 0.0) for t in per_pass)
        else:
            value = 0.0
        out[name] = (value, unit)
    return out


def _print_spans(passes: list[dict], run_id: str) -> None:
    """Each step's median seconds and share of the traced passes' wall
    time, and the same for its Python-worker time (summed over tasks, so
    it can exceed the step's wall time when tasks run in parallel)."""
    traced = [p for p in passes if p["traced"]]
    run_s = statistics.median(p["run_s"] for p in traced)
    by_step: dict[str, list] = {}
    for p in traced:
        for span in p["spans"]:
            by_step.setdefault(span["name"], []).append(span)
    print(f"traced passes: median {run_s:.3f} s; per step: median s, share of the pass, "
          "py_total_s and its share, jobs, driver_gap_s")
    for name, spans in by_step.items():
        s = statistics.median(sp["stats"].s for sp in spans)
        py = statistics.median(sp["stats"].py_total_s for sp in spans)
        jobs = statistics.median(sp["stats"].jobs for sp in spans)
        gap = statistics.median(sp["stats"].driver_gap_s for sp in spans)
        print(f"span {name} ({spans[0]['layer']}): {s:.3f} s {s / run_s:.1%}, py_total_s "
              f"{py:.3f} {py / run_s:.1%}, {jobs:g} jobs, driver_gap_s {gap:.3f}")
    print(f"trace run {run_id}: {sum(len(p['spans']) for p in traced)} spans over "
          f"{len(traced)} traced passes; median traced minus untraced pass "
          f"{run_s - statistics.median(p['run_s'] for p in passes if not p['traced']):+.3f} s")


def _write_spans(passes: list[dict], stem: str) -> None:
    """Spans are kept in memory during the run and written once at its end."""
    out_dir = os.path.join(ROOT, ".perfbench_traces")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{stem}.jsonl"), "w") as f:
        for p in passes:
            for span in p["spans"]:
                f.write(json.dumps({**span, "stats": span["stats"].as_dict()}) + "\n")


if __name__ == "__main__":
    sys.exit(main())
