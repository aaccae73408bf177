"""Repository benchmark: two seeded user workloads on local[nproc].

Run from the root of a checkout::

    python3 perfbench/run.py --workload validate --seed 1 --seconds 6 --trace 0

Workloads (see README.md in this directory for sizes, planted truth and
the metric definitions):

* ``validate`` - the ``validate`` CLI verb over two generated lakes;
* ``llm_data`` - the ``curate`` CLI verb, MinHash near-duplicate pairs
  and quality-aware survivors; then one ``ann-build`` of an IVF+PQ index
  and single-query searches of the stored codes.

With ``--trace 0`` the last stdout line is a JSON object carrying the
end-to-end metrics; with ``--trace 1`` it carries the per-layer metrics
of a traced run. Every output is checked against the generator's planted
truth; a failed check sets ``correct`` to false and the exit code to 1.
All files go under ``.perfbench_work/`` in the checkout and are removed
at exit; a traced run keeps its spans in ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

import pandas as pd

import host

#: end-to-end metric -> unit (BENCHMARK.json ``end_to_end``)
E2E = {
    "setup_s": "s",
    "rows_per_s": "rows/s",
    "op_p50_ms": "ms",
    "recall": "fraction",
}
#: untimed search requests after the index build
WARM_REQUESTS = 2
#: no new operation starts once a run is this old
RUN_BUDGET_S = 150.0


def _arrow_udf_job(spark) -> None:
    """One Arrow (pandas) UDF task; the UDF is local, so it ships by value."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def plus_one(s: pd.Series) -> pd.Series:
        return s + 1

    spark.range(1, numPartitions=1).select(plus_one("id")).collect()


def setup():
    """The engine's session, one trivial job and one Arrow UDF task;
    returns the session and the process age when they are done."""
    from hive_scripts_spark.session import get_spark

    spark = get_spark()
    spark.range(1).count()
    _arrow_udf_job(spark)
    return spark, host.process_age_s()


def stop(spark) -> None:
    """Stop Spark and its JVM, and wait for every child process."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)
    for pid in host.descendants(os.getpid())[1:]:
        host.reap(pid)


class Tally:
    """Closed-loop bookkeeping: successful op walls, attempts, failures."""

    def __init__(self) -> None:
        self.walls: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def run(self, op) -> float | None:
        self.attempted += 1
        try:
            wall, problems = op()
        except Exception:  # noqa: BLE001 - a failed operation is counted, not fatal
            wall, problems = None, [traceback.format_exc(limit=3)]
        if problems:
            self.failed += 1
            self.problems.extend(problems)
            for p in problems:
                print(f"check failed: {p}", file=sys.stderr)
            return None
        return wall

    def loop(self, op, seconds: float, started: float) -> None:
        """Run ``op`` back to back for ``seconds`` (at least once)."""
        end = time.perf_counter() + seconds
        while True:
            t = time.perf_counter()
            wall = self.run(op)
            if wall is not None:
                self.walls.append(wall)
            now = time.perf_counter()
            if now >= end or (now - started) + (now - t) > RUN_BUDGET_S:
                return

    def absorb(self, other: "Tally") -> None:
        self.attempted += other.attempted
        self.failed += other.failed
        self.problems += other.problems


def run_untraced(w, seconds: float, started: float) -> tuple[dict, Tally, dict]:
    """The workload's untimed warm-up ops, then its batch ops once each
    (a fixed count, however fast the program is), then on llm_data
    untimed warm-up requests and timed requests for ``seconds``."""
    tally = Tally()
    warmup = [tally.run(op) for op in w.warmup_ops()]
    batch = [tally.run(op) for op in w.batch_ops()]
    if None in batch:
        raise RuntimeError("a batch operation failed")
    if hasattr(w, "request"):
        for _ in range(WARM_REQUESTS):  # first request of its plan shape
            tally.run(w.request)
        tally.loop(w.request, seconds, started)
        if not tally.walls:
            raise RuntimeError("no request succeeded")
    metrics = {
        "rows_per_s": w.rows / batch[0],
        "op_p50_ms": 1000 * statistics.median(tally.walls or batch[:1]),
        "recall": w.recall(),
    }
    detail = {"warmup_s": [x and round(x, 3) for x in warmup],
              "batch_s": [round(x, 3) for x in batch]}
    if tally.walls:
        detail["request_ms"] = [round(1000 * x, 3) for x in tally.walls]
    return metrics, tally, detail


def run_traced(w, spark, seconds: float, started: float, cores: int) -> tuple[dict, Tally, dict]:
    """On validate the untraced warm-up op, one untraced and one traced
    op. On llm_data one traced batch from a cold start (curate op and
    index build under one root span, as the untraced run times them),
    warm-up requests, untraced requests for half the window and traced
    requests for the other half. Per-layer metrics are the traced
    batch's; the search metrics are medians over the traced requests."""
    import layers
    from tracing import JobStats, Tracer

    tracer, stats, tally, untraced = Tracer(spark), JobStats(spark.sparkContext), Tally(), Tally()
    corpus_rows = getattr(getattr(w, "ann", None), "rows", 0)
    traced_ops: list[dict] = []

    def traced(ops, name: str):
        def run_one():
            steal0 = host.steal_s()
            root = tracer.begin_op(name)
            try:
                walls, problems = [], []
                for op in ops:
                    wall, found = op()
                    walls.append(wall)
                    problems += found
            finally:
                spans = tracer.end_op(root)
            traced_ops.append(
                layers.op_metrics(spans, stats, cores, host.steal_s() - steal0, corpus_rows)
            )
            return sum(walls), problems
        return run_one

    layers.install(tracer, w.name)
    tracer.uninstall()  # fail before any op if a wrapped name is gone
    first = w.batch_ops()[0]
    if hasattr(w, "request"):
        layers.install(tracer, w.name)
        try:
            tally.run(traced([first, w.ann.build], "batch"))
        finally:
            tracer.uninstall()
        batch = traced_ops.pop() if traced_ops else None
        for _ in range(WARM_REQUESTS):
            tally.run(w.request)
        untraced.loop(w.request, seconds / 2, started)
        layers.install(tracer, w.name)
        try:
            tally.loop(traced([w.request], "request"), seconds / 2, started)
        finally:
            tracer.uninstall()
    else:
        for op in w.warmup_ops():
            tally.run(op)
        wall = untraced.run(first)
        if wall is not None:
            untraced.walls.append(wall)
        layers.install(tracer, w.name)
        try:
            wall = tally.run(traced([first], "op"))
        finally:
            tracer.uninstall()
        if wall is not None:
            tally.walls.append(wall)
        batch = traced_ops[0] if traced_ops else None
    tally.absorb(untraced)
    if batch is None or not traced_ops or not untraced.walls or not tally.walls:
        raise RuntimeError("no traced or untraced operation succeeded")
    metrics = layers.combine(batch, traced_ops if hasattr(w, "request") else [])
    metrics["trace_overhead_frac"] = (
        statistics.median(tally.walls) / statistics.median(untraced.walls) - 1
    )
    return metrics, tally, {"spans": tracer.log, "traced_ops": len(traced_ops)}


def run(args, work: str, root: str) -> tuple[dict, dict]:
    import workloads

    spark, setup_s = setup()
    started = time.perf_counter() - setup_s
    window = host.HostWindow()
    sampler = host.RssSampler().start()
    try:
        w = workloads.WORKLOADS[args.workload](spark, work, args.seed)
        cores = host.nproc()
        if args.trace:
            import layers

            metrics, tally, detail = run_traced(w, spark, args.seconds, started, cores)
            units = layers.PER_LAYER
            os.makedirs(f"{root}/.perfbench_out", exist_ok=True)
            trace_path = f"{root}/.perfbench_out/trace-{args.workload}-seed{args.seed}.json"
            with open(trace_path, "w") as f:
                json.dump(detail.pop("spans"), f)
            detail["trace_file"] = trace_path
        else:
            metrics, tally, detail = run_untraced(w, args.seconds, started)
            metrics["setup_s"] = setup_s
            units = E2E
    finally:
        peak = sampler.stop()
        stop(spark)
    detail.update(
        workload=args.workload, seed=args.seed, gen_s=round(w.gen_s, 3),
        host=window.close(), problems=tally.problems[:5],
    )
    if not args.trace:
        detail["named"] = named_metrics(w, metrics, peak, tally, detail["batch_s"])
    result = {
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    return result, detail


def named_metrics(w, metrics: dict, peak_mb: float, tally: "Tally", batch: list[float]) -> dict:
    """The end-to-end figures under the workload's own names, with those
    that are not gated: peak RSS (G1 heap growth makes it vary by a third
    between runs of identical input), ``failed_frac``, and on llm_data
    the index build throughput, search p90 and near-duplicate recall."""
    def m(value, unit):
        return {"value": value, "unit": unit}

    out = {
        "setup_s": m(metrics["setup_s"], "s"),
        "peak_rss_mb": m(peak_mb, "MB"),
        "failed_frac": m(tally.failed / tally.attempted, "fraction"),
    }
    if w.name == "validate":
        out["rows_per_s"] = m(metrics["rows_per_s"], "rows/s")
        out["faults_found"] = m(metrics["recall"], "fraction")
        return out
    walls = sorted(tally.walls)
    out.update(
        docs_per_s=m(metrics["rows_per_s"], "docs/s"),
        near_dup_recall=m(w.curate.recall(), "fraction"),
        build_vecs_per_s=m(w.ann.rows / batch[1], "vectors/s"),
        search_p50_ms=m(metrics["op_p50_ms"], "ms"),
        # nearest-rank p90; fewer than ten samples lie beyond it at this run length
        search_p90_ms=m(1000 * walls[math.ceil(0.9 * len(walls)) - 1], "ms"),
        search_samples=m(len(walls), "count"),
        recall_at_10=m(metrics["recall"], "fraction"),
    )
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("validate", "llm_data"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "hive_scripts_spark", "__init__.py")):
        print("error: run from the root of a checkout holding hive_scripts_spark/",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    os.environ["SPARK_GRAFT_CPUS"] = str(host.nproc())
    os.makedirs(os.path.join(root, ".perfbench_work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(root, ".perfbench_work"))
    # Spark scratch and warehouse stay inside the run's own directory
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.chdir(work)
    try:
        result, detail = run(args, work, root)
    finally:
        os.chdir(root)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(detail, default=str))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
