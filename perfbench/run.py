"""Repository benchmark: one workload per process.

    python3 perfbench/run.py --workload flat_store --seed 1 --seconds 10 --trace 0

Run from the repository root.  The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the ``end_to_end``
metrics of BENCHMARK.json with ``--trace 0``, the ``per_layer`` ones
with ``--trace 1``.  A ``# env`` line before it records the session
settings.  See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

sys.path.insert(0, os.getcwd())
from perfbench import procfs  # noqa: E402

ROOT = os.getcwd()
REQUIRED = ("skewer_spark/__init__.py", "tests/oracle.py", "tools/check_oracles.py",
            "__spark_entry__.py", "BENCHMARK.json")
PROBE_REPEATS = 2


def log(msg: str) -> None:
    print(f"# {time.strftime('%H:%M:%S')} {msg}", file=sys.stderr, flush=True)


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def driver_mem_gb() -> int:
    """A quarter of physical memory, at most 2 GB: local mode runs every
    task in the one driver JVM, and the machine is shared."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return max(1, min(2, total // 4 // 2**30))


def session(work: str, trace: bool):
    from skewer_spark.session import build_session

    # -Xms = -Xmx: G1 otherwise grows the heap at load-dependent times,
    # which made early runs slow and peak_rss_mb swing by a quarter;
    # -UsePerfData keeps the JVM from writing /tmp/hsperfdata_*; with a
    # fixed set of JIT compiler threads procfs can tell their time apart
    java_opts = (f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                 f"-Xms{os.environ['SKEWER_DRIVER_MEM']} -XX:-UsePerfData "
                 "-XX:-UseDynamicNumberOfCompilerThreads")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": java_opts,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        from perfbench.trace import event_log_conf

        conf.update(event_log_conf(os.path.join(work, "events")))
    spark = build_session(app_name="perfbench", master=f"local[{cpus()}]",
                          extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, conf


def cpu_ticks() -> list[int]:
    """The machine's aggregate CPU counters from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests (field 8)."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(sum(d), 1)


def jvm_peak_rss_mb(spark) -> float:
    return procfs.peak_rss_mb(spark._jvm.java.lang.ProcessHandle.current().pid())


def stop_jvm(spark) -> None:
    """Stop Spark and wait for the JVM and its Python workers to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = procfs.descendants(proc.pid) if proc is not None else set()
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while workers and time.monotonic() < deadline:
        workers = {p for p in workers if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)


class Run:
    def __init__(self, workload_cls, seed: int, seconds: float, trace: bool, work: str):
        self.cls = workload_cls
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.host: dict = {}

    def attempt(self, w, i, samples: list) -> None:
        """One operation plus its correctness check."""
        self.attempted += 1
        try:
            samples.append(w.iterate(i))
            log(f"{i}: {samples[-1]['wall_s']:.3f} s, {samples[-1]['cpu_s']:.2f} cpu-s, "
                f"{samples[-1]['jit_cpu_s']:.2f} jit-s")
            bad = w.check(i)
        except Exception:
            self.failed += 1
            self.errors.append(traceback.format_exc(limit=3))
        else:
            if bad:
                self.failed += 1
                self.errors.extend(bad)
        finally:
            w.cleanup(i)

    def measure(self, w, label: str, n_min: int, seconds: float) -> list[dict]:
        samples: list[dict] = []
        t_end = time.monotonic() + seconds
        i = 0
        while i < n_min or time.monotonic() < t_end:
            self.attempt(w, f"{label}{i}", samples)
            i += 1
        return samples

    def go(self) -> dict:
        t0 = time.monotonic()
        spark, conf = session(self.work, self.trace)
        build_s = time.monotonic() - t0
        log(f"session built: {build_s:.3f} s")
        env = {"master": f"local[{cpus()}]", "SKEWER_DRIVER_MEM": os.environ["SKEWER_DRIVER_MEM"],
               "SKEWER_LOCAL_DIR": os.environ["SKEWER_LOCAL_DIR"], **conf}
        print("# env " + json.dumps(env, sort_keys=True), flush=True)
        try:
            w = self.cls(spark, self.work, self.seed)
            w.prepare()
            log(f"prepared {w.input_rows} input rows")
            # warm-up passes are checked like timed ones, but not timed
            t1 = time.monotonic()
            self.measure(w, "warm", w.warmup_passes, 0)
            warmup_s = time.monotonic() - t1
            if self.trace:
                metrics = self.traced(spark, w, build_s, warmup_s)
            else:
                ticks = cpu_ticks()
                samples = self.measure(w, "it", w.min_iterations, self.seconds)
                # an environment note for reading the figures, never
                # used to adjust them
                self.host = {"steal_share": round(steal_share(ticks, cpu_ticks()), 4)}
                metrics = self.untraced(w, samples, build_s + warmup_s, jvm_peak_rss_mb(spark))
        finally:
            stop_jvm(spark)
        if self.trace:
            from perfbench.trace import engine_metrics

            metrics.update(engine_metrics(os.path.join(self.work, "events"),
                                          self.window_ms, self.n_traced))
        return metrics

    def untraced(self, w, samples, setup_s, rss_mb) -> dict:
        if not samples:
            raise RuntimeError("every iteration failed:\n" + "\n".join(self.errors))
        # wall_s and jit_cpu_s are printed for people, not reported
        return {
            "setup_s": setup_s,
            "cpu_s": statistics.median(s["cpu_s"] for s in samples),
            "wall_s": statistics.median(s["wall_s"] for s in samples),
            "jit_cpu_s": statistics.median(s["jit_cpu_s"] for s in samples),
            "store_mb": statistics.median(s["store_bytes"] for s in samples) / 1e6,
            "peak_rss_mb": rss_mb,
        }

    def traced(self, spark, w, build_s, warmup_s) -> dict:
        """The timed passes again, with Spark's event log on, then the
        workload's layer probes.  ``trace.cpu_s`` against the untraced
        runs' ``cpu_s`` (and ``trace.wall_s`` against their wall time) is
        the overhead of the event log."""
        lo = int(time.time() * 1000)
        traced = self.measure(w, "traced", w.min_iterations, 0)
        self.window_ms = (lo, int(time.time() * 1000))
        self.n_traced = len(traced)
        if not traced:
            raise RuntimeError("traced iterations failed:\n" + "\n".join(self.errors))
        out = {
            "session.build_s": build_s,
            "session.warmup_s": warmup_s,
            "trace.wall_s": statistics.median(s["wall_s"] for s in traced),
            "trace.cpu_s": statistics.median(s["cpu_s"] for s in traced),
            "jvm.jit_cpu_s": statistics.median(s["jit_cpu_s"] for s in traced),
        }
        out.update({k: statistics.median(s[k] for s in traced)
                    for k in traced[0] if k.startswith("cpu.")})
        out.update(w.layers(traced, PROBE_REPEATS))
        return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in REQUIRED if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: run from the repository root; missing {missing}",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    # every scratch file of this run, Spark's and Python's, stays here
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus()),
        "SKEWER_DRIVER_MEM": f"{driver_mem_gb()}g",
        "SKEWER_LOCAL_DIR": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
    })
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        shutil.rmtree(work, ignore_errors=True)
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    run = Run(WORKLOADS[args.workload], args.seed, args.seconds, bool(args.trace), work)
    try:
        metrics = run.go()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run still uses it
            pass
    for e in run.errors:
        print(f"perfbench: FAILED {e}", file=sys.stderr)
    print("# metrics " + json.dumps(metrics, sort_keys=True))
    if run.host:
        print("# host " + json.dumps(run.host))
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        # a layer the workload does not reach reads 0 in a traced run
        "metrics": {m["name"]: {"value": float(metrics[m["name"]] if not args.trace
                                               else metrics.get(m["name"], 0.0)),
                                "unit": m["unit"]}
                    for m in wanted},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
