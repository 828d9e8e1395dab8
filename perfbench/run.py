"""sparkbloom benchmark: one closed-loop client, one workload per run.

Run from the repository root::

    python3 perfbench/run.py --workload relational_mix --seed 1 --seconds 10 --trace 0

A run generates its inputs from ``--seed`` (perfbench/datagen.py), starts
Spark on ``local[min(4, nproc)]`` with the package shipped to Python
workers, and then:

1. set-up: one warm pass over every operation of the workload, in seeded
   order, whose results are checked against their DuckDB oracles
   (tests/oracle.py). ``setup_s`` runs from process start to the first
   timed operation, less the time the benchmark spends on its own input
   generation and oracle comparisons;
2. the timed window: whole passes, each in a fresh seeded order, until
   ``--seconds`` have elapsed;
3. DuckDB, at the same thread count, times the same oracle SQL after the
   Spark passes (``full_ratio``);
4. with ``--trace 1`` only: as many traced passes as the window had, with
   spans around every layer call (perfbench/spans.py), then as many
   untraced ones; the tracing overhead is the traced time against the mean
   of the untraced windows before and after. The traced run prints
   per-layer metrics (per pass) instead of the end-to-end ones and writes
   its spans to ``.perfbench_traces/<workload>-seed<seed>.json``.

``peak_rss_mb`` is the peak resident memory of the driver JVM plus this
process during the timed window: both peaks restart after a garbage
collection at the end of set-up.

``--scale`` sets the input size (default 0.1); perfbench/selftest.py runs
every workload at 0.001.

The last line of standard output is the result object; the line before it
is the run record (seed, host, versions, percentile of the tail latency,
failed operations).
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402 — the set-up clock starts before any import
import importlib.util
import json
import os
import platform
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402

REQUIRED = ("__spark_entry__.py", "bloomy_etl_spark/__init__.py", "tests/oracle.py")
MAX_CORES = 4
DUCK_REPS = 3


def _now() -> float:
    return time.perf_counter()


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _host_record(spark, duckdb, root: str) -> dict:
    cpu = platform.processor()
    try:
        with open("/proc/cpuinfo") as f:
            cpu = next(ln.split(":", 1)[1].strip() for ln in f if ln.startswith("model name"))
    except (OSError, StopIteration):
        pass
    with open("/proc/meminfo") as f:
        ram_mb = int(next(ln for ln in f if ln.startswith("MemTotal:")).split()[1]) // 1024
    head = None
    if os.path.isdir(os.path.join(root, ".git")):
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                           capture_output=True, text=True, check=False)
        head = r.stdout.strip() or None
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "cpu_model": cpu,
        "ram_mb": ram_mb,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "python": platform.python_version(),
        "git_head": head,
    }


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def _tail(latencies: list[float]) -> tuple[float, float]:
    """Highest percentile with at least ten samples beyond it (the maximum
    when there are fewer than eleven samples): (value, percentile)."""
    xs = sorted(latencies)
    if len(xs) < 11:
        return xs[-1], 100.0
    k = len(xs) - 10
    return xs[k - 1], 100.0 * k / len(xs)


class Bench:
    def __init__(self, args, root: str, work: str):
        self.args, self.root, self.work = args, root, work
        self.own_s = 0.0          # the benchmark's own work, kept out of setup_s
        self.failed_ops: dict[str, str] = {}
        self.phases: dict[str, float] = {}   # wall time of each part of the run
        self.spark = self.wl = None

    # ---- set-up ----
    def start(self):
        t = _now()
        self.data = datagen.generate(os.path.join(self.work, "data"),
                                     self.args.seed, self.args.scale)
        self.phases["inputs"] = _now() - t
        self.own_s += self.phases["inputs"]

        sys.path.insert(0, self.root)
        import bloomy_etl_spark  # noqa: F401 — bind the package to this checkout first
        import duckdb
        from bloomy_etl_spark.session import get_spark

        self.cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
        tmp = tempfile.gettempdir()
        # a fixed-size heap (-Xms = driver memory): a growing one is resized
        # on GC timing, which moved the JVM's peak RSS by ±25 % between runs
        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{self.cores}]",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.memory": "2g",
                "spark.local.dir": os.path.join(self.work, "spark"),
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms2g",
            },
        )
        import __spark_entry__

        __spark_entry__._ship_package(self.spark)

        spec = importlib.util.spec_from_file_location(
            "perfbench_oracle", os.path.join(self.root, "tests", "oracle.py"))
        self.oracle = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(self.oracle)
        self.duckdb = duckdb
        self.duck = duckdb.connect()
        self.duck.execute(f"SET threads={self.cores}")
        self.duck.execute(f"SET temp_directory='{os.path.join(tmp, 'duckdb')}'")
        self.oracle.register_duck_views(self.duck, self.data)

        from workloads import WORKLOADS

        self.wl = WORKLOADS[self.args.workload](self.spark, self.data, self.work, self.oracle)
        self.rng = random.Random(self.args.seed)

    def warm_pass(self) -> None:
        """One checked pass. Also times the per-process memoized builds:
        a build that fills an index memo (ANN index and codebook dirs,
        replay and GDPR builds) counts whole; otherwise each load_table
        call that fills its scan-plan memo counts."""
        from spans import rebind, restore
        from workloads import Checked

        self.index_build_s = 0.0
        plan_fills = [0.0]
        load_table = sys.modules[PLAN_MEMO_MODULE].load_table

        def timed_load_table(*args, **kwargs):
            before, t = _memo_entries(PLAN_MEMO_MODULE), _now()
            try:
                return load_table(*args, **kwargs)
            finally:
                if _memo_entries(PLAN_MEMO_MODULE) > before:
                    plan_fills[0] += _now() - t

        patches = rebind({id(load_table): (load_table, timed_load_table)})
        self.checks: dict[str, Checked] = {}
        try:
            for op in self.wl.pass_ops(self.rng):
                before, plan_fills[0] = _memo_entries(), 0.0
                t = _now()
                try:
                    handle = op.build()
                    built = _now() - t
                    self.index_build_s += (
                        built if _memo_entries() > before else plan_fills[0])
                    c = self.wl.checked_materialize(op, handle, self.duck)
                except Exception as e:  # a failing operation is a measured outcome
                    traceback.print_exc(file=sys.stderr)
                    c = Checked(False, f"{type(e).__name__}: {e}", 0.0)
                self.own_s += c.own_s
                self.checks[op.name] = c
        finally:
            restore(patches)
        for name, c in self.wl.check_pass(self.duck).items():
            self.own_s += c.own_s
            if not c.ok and self.checks[name].ok:
                self.checks[name] = c
        for name, c in self.checks.items():
            if not c.ok:
                self.failed_ops[name] = c.error

    # ---- timed window ----
    def run_op(self, op, tracer=None) -> tuple[float, bool]:
        t = _now()
        try:
            if tracer is None:
                op.materialize(op.build())
            else:
                tracer.run(op)
            ok = True
        except Exception as e:
            traceback.print_exc(file=sys.stderr)
            self.failed_ops.setdefault(op.name, f"{type(e).__name__}: {e}")
            ok = False
        return _now() - t, ok and self.checks[op.name].ok

    def window(self, seconds: float, passes: int | None = None, tracer=None):
        """Whole passes until ``seconds`` elapse (or exactly ``passes``)."""
        samples: list[tuple[str, float, bool]] = []
        t0, n = _now(), 0
        while True:
            for op in self.wl.pass_ops(self.rng):
                lat, ok = self.run_op(op, tracer)
                samples.append((op.name, lat, ok))
            n += 1
            if (passes is None and _now() - t0 >= seconds) or n == passes:
                return samples, _now() - t0, n

    def duck_seconds(self) -> float:
        total = 0.0
        for sql in self.wl.duck_sql():
            reps = []
            for _ in range(DUCK_REPS):
                t = _now()
                self.duck.execute(sql).fetchall()
                reps.append(_now() - t)
            total += statistics.median(reps)
        return total

    def _pids(self) -> dict[str, int]:
        return {"python": os.getpid(),
                "jvm": self.spark._jvm.java.lang.ProcessHandle.current().pid()}

    def reset_peak_rss(self) -> bool:
        """Collect garbage in both processes, then restart their peak
        resident memory from the current one (``clear_refs``), so the peak
        is that of the timed window rather than of set-up's first pass.
        False where the kernel refuses the reset."""
        import gc

        gc.collect()
        self.spark._jvm.java.lang.System.gc()
        try:
            for pid in self._pids().values():
                with open(f"/proc/{pid}/clear_refs", "w") as f:
                    f.write("5")
        except OSError:
            return False
        return True

    def peak_rss_mb(self) -> dict[str, float]:
        """Peak resident memory of this process and of the driver JVM."""
        return {name: _vm_hwm_mb(pid) for name, pid in self._pids().items()}

    def run(self) -> int:
        self.start()
        t = _now()
        self.phases["start"] = t - T_START - self.phases["inputs"]
        self.warm_pass()
        self.phases["warm_pass"] = _now() - t
        setup_s = _now() - T_START - self.own_s

        window_peak = self.reset_peak_rss()
        steal0 = _cpu_ticks()
        samples, window_s, passes = self.window(self.args.seconds)
        steal1 = _cpu_ticks()
        t = _now()
        per_op: dict[str, list[float]] = {}
        for name, lat, _ in samples:
            per_op.setdefault(name, []).append(lat)
        spark_s = sum(statistics.median(v) for v in per_op.values())
        duck_s = self.duck_seconds()
        self.phases["duckdb"] = _now() - t

        lats = [lat for _, lat, _ in samples]
        tail, tail_pct = _tail(lats)
        n_ok = sum(ok for _, _, ok in samples)
        warm_failed = sum(not c.ok for c in self.checks.values())
        attempted = len(samples) + len(self.checks)
        failed = len(samples) - n_ok + warm_failed
        peak_rss = self.peak_rss_mb()
        metrics = {
            "setup_s": (setup_s, "s"),
            "throughput_ops_per_s": (n_ok / window_s, "1/s"),
            "latency_p50_s": (statistics.median(lats), "s"),
            "latency_tail_s": (tail, "s"),
            "full_ratio": (spark_s / duck_s, "ratio"),
            "peak_rss_mb": (sum(peak_rss.values()), "MB"),
        }
        record = {
            "workload": self.args.workload, "seed": self.args.seed,
            "scale": self.args.scale, "cores": self.cores,
            **_host_record(self.spark, self.duckdb, self.root),
            "passes": passes, "window_s": window_s, "operations": len(samples),
            "latency_tail_percentile": tail_pct, "latency_tail_samples": len(lats),
            "full_ratio_spark_s": spark_s, "full_ratio_duckdb_s": duck_s,
            "failed_ratio": failed / attempted, "failed_ops": self.failed_ops,
            # oracle differences accepted as rounding ties (workloads.py)
            "rounding_ties": getattr(self.wl, "rounding_ties", {}),
            "latencies_s": per_op, "phases_s": self.phases,
            "peak_rss_mb": peak_rss, "peak_rss_window_only": window_peak,
            # share of CPU time the hypervisor gave to other guests during
            # the window: a slow run on a shared host shows here
            "window_steal_share": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
            "end_to_end": {k: v for k, (v, _) in metrics.items()},
        }

        if self.args.trace:
            from spans import TracedRun

            # untraced passes before and after the traced ones, so JIT
            # warm-up during the run does not shrink the measured overhead
            traced = TracedRun(self.spark, self.cores)
            traced.start()
            try:
                t_samples, t_window, _ = self.window(0, passes=passes, tracer=traced)
            finally:
                traced.stop()
            u_samples, u_window, _ = self.window(0, passes=passes)
            for s in (t_samples, u_samples):
                attempted += len(s)
                failed += sum(not ok for _, _, ok in s)
            record["failed_ratio"] = failed / attempted
            layer = traced.layer_metrics(passes, t_window, (window_s + u_window) / 2)
            layer["setup.index_build_s"] = (self.index_build_s, "s")
            path = os.path.join(self.root, ".perfbench_traces",
                                f"{self.args.workload}-seed{self.args.seed}.json")
            os.makedirs(os.path.dirname(path), exist_ok=True)
            traced.tracer.dump(path, {"record": record, "per_layer": layer,
                                      "self_s": traced.layer_self_times(passes)})
            record["trace_file"] = os.path.relpath(path, self.root)
            metrics = layer

        print(json.dumps({"record": record}))
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
        return 0

    def close(self) -> None:
        """Stop Spark and wait for the gateway JVM (and with it the Python
        workers it started) to exit."""
        if self.wl is not None:
            self.wl.close()
        if "pyspark" not in sys.modules:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            # the gateway JVM exits on EOF at its stdin
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


PLAN_MEMO_MODULE = "bloomy_etl_spark.sources.tables"


def _memo_entries(module: str | None = None) -> int:
    """Entries in the package's per-process ``*MEMO*`` tables: those of
    ``module`` alone, or else the index memos of every other module (ANN
    index and codebook dirs, replay and GDPR builds)."""
    if module is not None:
        mods = [sys.modules[module]]
    else:
        mods = [m for n, m in list(sys.modules.items())
                if m is not None and n.startswith("bloomy_etl_spark")
                and n != PLAN_MEMO_MODULE]
    n = 0
    for mod in mods:
        for attr, val in vars(mod).items():
            if "MEMO" in attr and isinstance(val, dict):
                n += sum(len(v) if isinstance(v, dict) else 1 for v in val.values())
    return n


def main(argv=None) -> int:
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=0.1,
                   help="input scale factor (0.1 ≈ 600k lineitem rows)")
    args = p.parse_args(argv)

    root = os.getcwd()
    missing = [f for f in REQUIRED if not os.path.isfile(os.path.join(root, f))]
    if missing:
        print(f"perfbench: run from the repository root; missing {missing}",
              file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench_tmp", str(os.getpid()))
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    bench = Bench(args, root, work)
    try:
        return bench.run()
    finally:
        bench.close()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
