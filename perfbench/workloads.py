"""The benchmark's workloads.

Each workload generates its inputs from the seed (``prepare``), then
repeats one operation (``iterate``): first as untimed warm-up passes,
then as timed ones.  ``check`` compares the outputs of every pass, warm-up
or timed, with an independent expectation.  ``layers`` adds what only
a traced run can see.

An operation is measured in wall time and in CPU time of the process
tree (``procfs.tree_cpu``): the end-to-end metric is the CPU time, since
on a shared host wall time follows the neighbours more than the program.
"""

from __future__ import annotations

import glob
import os
import shutil
import time
from statistics import median

from perfbench import expect, inputs
from perfbench.procfs import tree_cpu


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in glob.glob(os.path.join(path, "**"), recursive=True)
               if os.path.isfile(f))


def n_files(path: str, suffix: str = ".parquet") -> int:
    return sum(1 for f in glob.glob(os.path.join(path, "**", "*" + suffix), recursive=True))


CPU_PARTS = ("driver", "jvm", "workers")


def measured(fn) -> tuple:
    """``fn()`` and a sample of its cost: ``wall_s``; ``cpu_s``, the CPU
    seconds the process tree spent on it, with its ``cpu.<part>_s``
    split; and ``jit_cpu_s``, the JIT compiler's time, left out of
    ``cpu_s``."""
    c0, t0 = tree_cpu(), time.monotonic()
    res = fn()
    wall = time.monotonic() - t0
    c1 = tree_cpu()
    d = {k: c1[k] - c0[k] for k in c1}
    sample = {"wall_s": wall, "cpu_s": sum(d[k] for k in CPU_PARTS), "jit_cpu_s": d["jit"]}
    sample.update({f"cpu.{k}_s": d[k] for k in CPU_PARTS})
    return res, sample


class Workload:
    name = ""
    warmup_passes = 1
    # timed operations per run, at least; more while --seconds lasts
    min_iterations = 1

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.in_path = os.path.join(work, "input")
        self.input_rows = 0

    def out(self, i) -> str:
        return os.path.join(self.work, f"out-{i}")

    def prepare(self) -> None:
        raise NotImplementedError

    def iterate(self, i) -> dict:
        raise NotImplementedError

    def check(self, i) -> list[str]:
        raise NotImplementedError

    def cleanup(self, i) -> None:
        shutil.rmtree(self.out(i), ignore_errors=True)

    def layers(self, samples: list[dict], probe_repeats: int) -> dict:
        return {}


class FlatStore(Workload):
    """``plans.job.run_flat``: the headline parse → route → store pipeline."""

    name = "flat_store"
    n_turns = 40_000
    warmup_passes = 2
    min_iterations = 3

    def prepare(self):
        rows = inputs.batch_transcripts(self.spark, self.in_path, self.n_turns, self.seed)
        self.input_rows = len(rows)
        self.want = expect.expected_counts(rows)

    def iterate(self, i):
        from skewer_spark.plans.job import run_flat

        out = self.out(i)
        _, sample = measured(lambda: run_flat(self.spark, self.in_path, out))
        return {**sample, "store_bytes": dir_bytes(out), "files": n_files(out)}

    def check(self, i):
        out = self.out(i)
        return (expect.diff("sink", expect.sink_rows(os.path.join(out, "sinks")),
                            self.want["sinks"])
                + expect.diff("filter_counts",
                              expect.filter_counts(os.path.join(out, "agg")),
                              self.want["filter"]))

    def layers(self, samples, probe_repeats):
        from perfbench.trace import probe_stages

        out = probe_stages(self.spark, self.in_path, probe_repeats)
        out["job.files_written"] = median([s["files"] for s in samples])
        return out


# query → (table it reads, rows generated); sizes chosen so that no
# single query dominates a pass on four cores
LIBRARY = {
    "q_setsim_exact": ("documents", 200),
    "q_dedup_apply": ("documents", 500),
    "q_incr_dedup": ("documents", 500),
    "q_dedup_clusters": ("documents", 500),
    "q_encode_protobuf": ("events", 5_000),
}


class LibraryQueries(Workload):
    """Five ``__spark_entry__.queries()`` over seeded library tables.

    Each pass collects every query's result to the driver; ``check``
    compares all five with their DuckDB oracles.  One pass runs as
    warm-up: it starts the Python workers and compiles the plans; the CPU
    time of the passes after it stays within a few percent."""

    name = "library_queries"

    def prepare(self):
        import __spark_entry__ as entry

        self.fns = entry.queries()
        sql = entry.oracle_sql()
        self.dirs = {}
        self.want = {}
        self.got = {}
        for q, (table, n) in LIBRARY.items():
            d = os.path.join(self.in_path, q)
            gen = inputs.documents if table == "documents" else inputs.events
            gen(d, n, self.seed)
            self.dirs[q] = d
            self.want[q] = expect.oracle_frame(sql[q], d)
            self.input_rows += n

    def iterate(self, i):
        total, per_query, got = {}, {}, {}
        for q, d in self.dirs.items():
            got[q], sample = measured(lambda: self.fns[q](self.spark, d).toPandas())
            per_query[q] = sample["cpu_s"]
            total = {k: total.get(k, 0.0) + v for k, v in sample.items()}
        self.got[i] = got
        return {**total, "per_query_cpu": per_query,
                "store_bytes": sum(expect.parquet_bytes(g) for g in got.values())}

    def check(self, i):
        return [f"{q}: {bad}" for q, g in self.got[i].items()
                if (bad := expect.query_mismatch(g, self.want[q]))]

    def cleanup(self, i):
        self.got.pop(i, None)

    def layers(self, samples, probe_repeats):
        return {f"query.{q}_cpu_s": median([s["per_query_cpu"][q] for s in samples])
                for q in self.dirs}


WORKLOADS = {w.name: w for w in (FlatStore, LibraryQueries)}
