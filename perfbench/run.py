#!/usr/bin/env python3
"""Layered benchmark for the span engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Makes the workload's inputs from the seed, starts a Spark session,
runs one warm-up pass over the workload's calls, then repeats whole passes
until ``--seconds`` have elapsed (at least one), and finally checks every
call's output.  A call runs from the registry call until the ``xxhash64``
fold of its result is consumed.  The last line of standard output is one
JSON object; with ``--trace 0`` it holds the end-to-end metrics, with
``--trace 1`` the per-layer ones.  The line before it is the run record:
input sizes, per-call counts and times, host steal and the output checks.
See ``perfbench/README.md`` for the workloads and what each metric should
move.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

import inputs
import probes

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "text_extensions_for_pandas_spark"
CORES = 4  # local[4]: the host's cores, and at most four task threads
STREAM = "stream_extract_consolidated"

WORKLOADS = {
    "registry_floor": {
        "calls": ["tokenize", "overlap_join", "dedup_clusters"],
        "inputs": (inputs.sf001_documents, {}),
    },
    "corpus_spans": {
        "calls": ["tokenize", "extract_regex", "consolidate_rowwise", STREAM],
        "inputs": (inputs.sf01_corpus, {"n_base": 700, "replicas": 2}),
    },
}
# Pairs of calls that compute the same rows by different paths; the second
# of a pair runs once, untimed, when it is not one of the workload's calls.
TWINS = [("extract_regex", "extract_regex_native"),
         ("consolidate_rowwise", "consolidate"),
         (STREAM, "extract_dict")]
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    _SPEC = json.load(_fh)
UNITS = {m["name"]: m["unit"] for m in _SPEC["end_to_end"] + _SPEC["per_layer"]}


class Bench:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.sf_dir = os.path.join(work, "sf")
        self.calls = WORKLOADS[args.workload]["calls"]
        self.tree = probes.ProcessTree()
        self.layer: dict[str, float] = {}
        self.failures: dict[str, str] = {}

    def fail(self, name: str, where: str, e: Exception) -> None:
        """Record the first failure of a call; a failed call is counted,
        not fatal."""
        self.failures.setdefault(name, f"{where}: {type(e).__name__}: {str(e)[:300]}")

    # ---- set-up ---------------------------------------------------------

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from text_extensions_for_pandas_spark import get_spark
        from text_extensions_for_pandas_spark import queries as Q

        self.F, self.Q = F, Q
        self.registry = Q.queries()
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.counters = probes.SparkCounters(self.spark)
        t1 = time.perf_counter()
        write, sizes = WORKLOADS[self.args.workload]["inputs"]
        self.input_sizes = write(self.sf_dir, self.args.seed, **sizes)
        t2 = time.perf_counter()
        self.pinned, self.warm_built = {}, {}
        for name in self.calls:
            try:
                self.pinned[name], self.warm_built[name] = self.call(name, traced=False)
            except Exception as e:  # noqa: BLE001
                self.fail(name, "warm-up", e)
        self.layer.update({"session.get_spark_s": t1 - t0, "setup.inputs_s": t2 - t1,
                           "setup.warm_s": time.perf_counter() - t2})

    # ---- one call -------------------------------------------------------

    def build(self, name: str):
        if name == STREAM:
            return self.stream_writer()
        return self.registry[name](self.spark, self.sf_dir)

    def stream_writer(self):
        """File stream over the corpus, one file per trigger, into a parquet
        sink; a fresh sink and checkpoint per call."""
        from text_extensions_for_pandas_spark.streaming.ops import (
            DOCUMENTS_DDL,
            streaming_extract_consolidated,
        )

        F = self.F
        base = tempfile.mkdtemp(prefix="stream-", dir=self.work)
        docs = (
            self.spark.readStream.schema(DOCUMENTS_DDL)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(self.sf_dir, "documents.parquet"))
        )
        spans = streaming_extract_consolidated(docs, self.Q.DICT_ENTRIES).select(
            "doc_id",
            F.col("span")["begin"].alias("begin"),
            F.col("span")["end"].alias("end"),
            F.col("entry_id").cast("int").alias("entry_id"),
        )
        return (
            spans.writeStream.format("parquet")
            .option("path", os.path.join(base, "out"))
            .option("checkpointLocation", os.path.join(base, "checkpoint"))
            .trigger(availableNow=True)
        ), base

    def call(self, name: str, traced: bool):
        """One call and its sample: times, counts, rows and fold.  Also
        returns the DataFrame the registry built."""
        F = self.F
        j0, s0 = self.counters.ids()
        c0 = self.tree.cpu_s()
        t0 = time.perf_counter()
        built = self.build(name)
        t1 = time.perf_counter()
        j1, _ = self.counters.ids()
        if name == STREAM:
            writer, base = built
            query = writer.start()
            query.awaitTermination()
            df = self.spark.read.parquet(os.path.join(base, "out"))
        else:
            df = built
        agg = df.agg(F.count(F.lit(1)), F.bit_xor(F.xxhash64(*df.columns)))
        rows, fold = agg.collect()[0]
        t2 = time.perf_counter()
        c1 = self.tree.cpu_s()
        j2, s2 = self.counters.ids()
        g0 = time.perf_counter()
        s = {"wall_s": t2 - t0, "build_s": t1 - t0, "action_s": t2 - t1,
             "cpu_s": c1 - c0, "jobs": j2 - j0, "build_jobs": j1 - j0,
             "rows": rows, "fold": fold}
        s.update(self.counters.stages(s0, s2, detail=traced))
        if traced:
            s.update(probes.catalyst_ms(agg._jdf))
            s.update(probes.python_metrics(agg._jdf))
            if name == STREAM:
                s.update(probes.stream_metrics(query, self.input_sizes["bytes"], base))
        if name == STREAM:
            shutil.rmtree(base)
        s["gap_s"] = time.perf_counter() - g0
        return s, built

    # ---- timed phase ----------------------------------------------------

    def timed(self) -> None:
        self.setup_wall_s = probes.process_age_s()
        self.setup_cpu_s = cpu0 = self.tree.cpu_s()
        host = probes.HostCpu()
        t0 = time.perf_counter()
        self.samples: dict[str, list[dict]] = {n: [] for n in self.calls}
        self.passes = 0
        while self.passes == 0 or time.perf_counter() - t0 < self.args.seconds:
            for name in self.calls:
                try:
                    sample, _ = self.call(name, traced=bool(self.args.trace))
                except Exception as e:  # noqa: BLE001
                    self.fail(name, "timed", e)
                    sample = {"error": True}
                self.samples[name].append(sample)
            self.passes += 1
        self.elapsed = time.perf_counter() - t0
        self.core_util = (self.tree.cpu_s() - cpu0) / (self.elapsed * CORES)
        self.steal_pct = host.steal_pct()
        self.peak_rss_mb = self.tree.peak_rss_mb()

    # ---- output checks (untimed) ----------------------------------------

    def check(self) -> dict:
        """Reference checks of the warm-up results, then every timed call
        against its warm-up result."""
        checks = self.oracle_checks()
        for a, b in TWINS:
            if a not in self.calls:
                continue
            try:
                ra = self.pinned[a]
                rb = self.pinned[b] if b in self.pinned else self.call(b, traced=False)[0]
            except Exception as e:  # noqa: BLE001
                checks[f"{a}=={b}"] = f"{type(e).__name__}: {str(e)[:300]}"
                continue
            same = (ra["rows"], ra["fold"]) == (rb["rows"], rb["fold"])
            checks[f"{a}=={b}"] = "ok" if same else (
                f"rows {ra['rows']} vs {rb['rows']}, fold {ra['fold']} vs {rb['fold']}")
        bad = {n for c, v in checks.items() if v != "ok" for n in c.split(":")[-1].split("==")}
        for name, samples in self.samples.items():
            pin = self.pinned.get(name)
            pin = pin and (pin["rows"], pin["fold"])
            for s in samples:
                got = None if s.get("error") else (s["rows"], s["fold"])
                s["ok"] = got is not None and got == pin and name not in bad
                if got is not None and pin and got != pin:
                    self.failures.setdefault(
                        name, f"result changed between calls: {got} vs {pin}")
        return checks

    def oracle_checks(self) -> dict:
        """Compare each call's warm-up rows with the registry's DuckDB
        oracle over the same parquet, using ``scripts/check_oracle.py``'s
        comparison.  Calls without an oracle (the stream) are checked by
        their twins instead."""
        import duckdb

        sys.path.insert(0, os.path.join(ROOT, "scripts"))
        from check_oracle import compare

        oracles = self.Q.oracle_sql()
        docs = os.path.join(self.sf_dir, "documents.parquet")
        if os.path.isdir(docs):
            docs = os.path.join(docs, "*.parquet")
        out = {}
        with duckdb.connect() as con:
            con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs}')")
            for name in self.calls:
                if name not in oracles or name not in self.warm_built:
                    continue
                try:
                    problems = compare(self.warm_built[name].toPandas(),
                                       con.sql(oracles[name]).df())
                except Exception as e:  # noqa: BLE001
                    problems = [f"{type(e).__name__}: {e}"]
                out[f"oracle:{name}"] = "ok" if not problems else "; ".join(problems)[:300]
        return out

    # ---- report ---------------------------------------------------------

    def per_call(self, key: str) -> dict[str, float]:
        """Each call's median over the passes."""
        return {
            name: statistics.median(s.get(key, 0.0) for s in samples if not s.get("error"))
            for name, samples in self.samples.items()
            if any(not s.get("error") for s in samples)
        }

    def per_pass(self, key: str) -> float:
        """One pass over the calls: the sum of each call's median."""
        return float(sum(self.per_call(key).values()))

    def end_to_end(self) -> dict:
        return {
            "setup_s": self.setup_cpu_s,
            "spark_jobs": self.per_pass("jobs"),
            "spark_tasks": self.per_pass("tasks"),
            "peak_rss_mb": self.peak_rss_mb,
        }

    def wall_and_cpu(self) -> dict:
        """Wall-clock and CPU figures.  On a shared host both follow CPU
        steal, so they are reported but carry no bound."""
        walls = self.per_call("wall_s").values()
        return {
            "e2e.setup_wall_s": self.setup_wall_s,
            "e2e.wall_s": self.per_pass("wall_s"),
            "e2e.call_geomean_s": math.exp(statistics.fmean(math.log(w) for w in walls)),
            "e2e.cpu_s": self.per_pass("cpu_s"),
        }

    def per_layer(self) -> dict:
        out = dict(self.layer)
        for key, name in (("build_s", "queries.build_s"), ("build_jobs", "queries.build_jobs"),
                          ("action_s", "queries.action_s"), ("stages", "scheduler.stages"),
                          ("tasks", "scheduler.tasks"),
                          ("stages_skipped", "scheduler.stages_skipped")):
            out[name] = self.per_pass(key)
        for name in UNITS:
            if name.split(".")[0] in ("catalyst", "exec", "python", "stream"):
                out[name] = self.per_pass(name)
        out.update(self.wall_and_cpu())
        out["host.steal_pct"] = self.steal_pct
        out["host.core_util"] = self.core_util
        out["trace.overhead_s"] = self.per_pass("gap_s")
        return out

    def record(self, checks: dict) -> dict:
        attempted = sum(len(v) for v in self.samples.values())
        failed = sum(1 for v in self.samples.values() for s in v if not s["ok"])
        counts = {}
        for name, samples in self.samples.items():
            seen = sorted({(s["jobs"], s["stages"], s["tasks"]) for s in samples if not s.get("error")})
            counts[name] = [dict(zip(("jobs", "stages", "tasks"), c)) for c in seen]
        summary = {**self.end_to_end(), **self.wall_and_cpu()}
        return {
            "workload": self.args.workload, "seed": self.args.seed,
            "trace": self.args.trace, "inputs": self.input_sizes,
            "passes": self.passes, "timed_s": round(self.elapsed, 3),
            "attempted": attempted, "failed": failed,
            "failed_share": failed / attempted,
            "summary": {k: [round(v, 4), UNITS[k]] for k, v in summary.items()},
            "host": {"steal_pct": round(self.steal_pct, 2),
                     "core_util": round(self.core_util, 3)},
            "call_wall_s": {k: round(v, 4) for k, v in self.per_call("wall_s").items()},
            "call_cpu_s": {k: round(v, 3) for k, v in self.per_call("cpu_s").items()},
            "call_counts": counts,
            "count_varies": [n for n, c in counts.items() if len(c) > 1],
            "checks": checks, "failures": self.failures,
        }


def _environment(work: str) -> None:
    """Keep every file the run writes inside ``work`` and make the package
    importable in the Python workers wherever the benchmark is run from."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_DRIVER_MEMORY"] = "1g"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")
    os.chdir(work)


def _stop(bench: Bench | None) -> None:
    """Stop Spark and wait until the JVM and the Python workers it started
    have exited."""
    if getattr(bench, "spark", None) is None:
        return
    from pyspark import SparkContext

    children = bench.tree.pids()[1:]
    bench.spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    # the workers notice the JVM is gone and exit on their own
    deadline = time.monotonic() + 10
    while time.monotonic() < deadline and any(os.path.exists(f"/proc/{p}") for p in children):
        time.sleep(0.1)
    for pid in children:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=3.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: {PACKAGE} not found next to {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.makedirs(os.path.join(HERE, "_work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(HERE, "_work"))
    cwd = os.getcwd()
    bench = None
    try:
        _environment(work)
        bench = Bench(args, work)
        bench.setup()
        bench.timed()
        t0 = time.perf_counter()
        checks = bench.check()
        record = bench.record(checks)
        record["checks_s"] = round(time.perf_counter() - t0, 3)
        metrics = bench.per_layer() if args.trace else bench.end_to_end()
    finally:
        _stop(bench)
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
    correct = record["failed"] == 0 and all(v == "ok" for v in checks.values())
    print(json.dumps(record, sort_keys=True))
    print(json.dumps({
        "correct": correct,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
