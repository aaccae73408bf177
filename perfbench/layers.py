"""Which functions the traced run wraps, and how its spans and job groups
become the per-layer metrics. A layer is named after the module it
covers; ``spark`` is the engine underneath."""

from __future__ import annotations

import statistics

from pyspark.sql import functions as F

from tracing import JobStats, Span, Tracer

PKG = "hive_scripts_spark"

#: (module the caller resolves the name in, attribute, layer)
WRAPS: dict[str, list[tuple[str, str, str]]] = {
    "common": [
        (f"{PKG}.__main__", "main", "cli"),
        (f"{PKG}.__main__", "get_spark", "session"),
    ],
    "validate": [
        (f"{PKG}.__main__", "run_validation", "pipeline"),
        (f"{PKG}.pipeline", "load_table", "sources"),
        (f"{PKG}.pipeline", "schema_diff", "profile"),
        (f"{PKG}.pipeline", "partition_counts", "reconcile"),
        (f"{PKG}.pipeline", "count_reconcile", "reconcile"),
        (f"{PKG}.pipeline", "matched", "reconcile"),
        (f"{PKG}.pipeline", "mismatched", "reconcile"),
        (f"{PKG}.pipeline", "sampled_fingerprint", "fingerprint"),
        (f"{PKG}.pipeline", "fingerprint_reconcile", "fingerprint"),
        (f"{PKG}.pipeline", "write_report_csv", "sinks"),
    ],
    "llm_data": [
        (f"{PKG}.plans.registry", "table", "sources"),
        (f"{PKG}.operators.dedup", "strip_boilerplate", "dedup"),
        (f"{PKG}.operators.curation", "curate_documents", "curation"),
        (f"{PKG}.operators.curation", "curation_report", "curation"),
        (f"{PKG}.operators.dedup", "contamination_overlap", "dedup"),
        (f"{PKG}.operators.dedup", "minhash_lsh_pairs", "dedup"),
        (f"{PKG}.operators.dedup", "near_dup_survivors", "dedup"),
        (f"{PKG}.operators.cluster", "connected_components", "cluster"),
        (f"{PKG}.operators.similarity", "train_ivfpq_model", "similarity"),
        (f"{PKG}.operators.similarity", "ivfpq_encode", "similarity"),
        (f"{PKG}.operators.similarity", "ivfpq_search_codes", "similarity"),
    ],
}

#: per-layer metric -> unit, in report order
PER_LAYER: dict[str, str] = {
    "session.s": "s",
    "cli.self_s": "s", "cli.jobs": "count",
    "pipeline.blocking_s": "s", "pipeline.blocking_jobs": "count",
    "sources.scan_rows": "rows", "sources.scan_bytes": "bytes",
    "sources.scan_task_s": "s",
    "sinks.write_s": "s", "sinks.bytes": "bytes",
    "reconcile.s": "s", "reconcile.partitions": "count",
    "fingerprint.s": "s", "fingerprint.sampled_frac": "fraction",
    "profile.s": "s", "profile.jobs": "count",
    "curation.s": "s", "curation.exact_dropped": "count",
    "curation.contam_dropped": "count", "curation.gate_dropped": "count",
    "dedup.s": "s", "dedup.candidate_pairs": "count",
    "dedup.verified_pairs": "count", "dedup.pair_yield": "fraction",
    "cluster.s": "s", "cluster.rounds": "count", "cluster.jobs": "count",
    "similarity.train_s": "s", "similarity.encode_s": "s",
    "similarity.encode_task_s": "s",
    "similarity.search_build_ms": "ms", "similarity.search_exec_ms": "ms",
    "similarity.search_jobs": "count", "similarity.cells_probed_frac": "fraction",
    "spark.jobs": "count", "spark.stages": "count", "spark.task_s": "s",
    "spark.core_util": "fraction", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.steal_s": "s",
    "trace_overhead_frac": "fraction",
}

#: on llm_data these are per search request (median over the traced
#: requests); every other metric is the traced batch's
SEARCH_METRICS = (
    "similarity.search_build_ms", "similarity.search_exec_ms",
    "similarity.search_jobs", "similarity.cells_probed_frac",
)


def install(tracer: Tracer, workload: str) -> None:
    for module, attr, layer in WRAPS["common"] + WRAPS[workload]:
        tracer.wrap(module, attr, layer)
    tracer.wrap_writer()
    # cluster rounds: one convergence Observation per round
    tracer.count_calls(f"{PKG}.operators.cluster", "Observation", "rounds")
    # MinHash candidates, as handed to the exact-Jaccard verify
    tracer.capture(f"{PKG}.operators.dedup", "_verify_pairs_jaccard", "candidates")


def _named(spans: list[Span], suffix: str) -> list[Span]:
    return [s for s in spans if s.name.endswith(suffix)]


def _count(df) -> int:
    return df.count() if df is not None else 0


def op_metrics(
    spans: list[Span], stats: JobStats, cores: int, steal_s: float, corpus_rows: int
) -> dict[str, float]:
    """Every per-layer metric for one traced operation (0 where the
    operation never entered the layer). Counts that need a Spark job run
    here, after the operation, outside every span."""
    m = dict.fromkeys(PER_LAYER, 0.0)
    root = spans[0]
    layer = {name: [s for s in spans if s.layer == name] for name in
             ("cli", "session", "pipeline", "sinks", "reconcile", "fingerprint",
              "profile", "curation", "dedup", "cluster", "similarity")}
    stats.drain()
    prog = stats.summarize([s.group for s in spans])

    def jobs(layer_spans: list[Span]) -> dict:
        return stats.summarize([s.group for s in layer_spans])

    def layer_s(name: str) -> float:
        return sum(s.layer_s for s in layer[name])

    m["session.s"] = sum(s.wall_s for s in layer["session"])
    m["cli.self_s"] = sum(s.self_s for s in layer["cli"])
    m["cli.jobs"] = jobs(layer["cli"])["jobs"]
    pipe = jobs(layer["pipeline"])
    m["pipeline.blocking_s"], m["pipeline.blocking_jobs"] = pipe["job_s"], pipe["jobs"]
    m["sources.scan_rows"] = prog["input_rows"]
    m["sources.scan_bytes"] = prog["input_bytes"]
    m["sources.scan_task_s"] = prog["input_task_s"]
    m["sinks.write_s"] = sum(s.self_s for s in layer["sinks"])
    m["sinks.bytes"] = sum(s.counters.get("bytes", 0) for s in layer["sinks"])
    for name in ("reconcile", "fingerprint", "profile", "curation", "dedup", "cluster"):
        m[f"{name}.s"] = layer_s(name)
    m["reconcile.partitions"] = sum(_count(s.output) for s in _named(spans, ".count_reconcile"))
    fps = _named(spans, ".sampled_fingerprint")
    scanned = sum(_count(s.args[0]) for s in fps)
    sampled = sum(
        s.output.agg(F.sum("row_count")).first()[0] or 0 for s in fps
    )
    m["fingerprint.sampled_frac"] = sampled / scanned if scanned else 0.0
    m["profile.jobs"] = jobs(layer["profile"])["jobs"]
    for cur in _named(spans, ".curate_documents"):
        n_in, n_out = _count(cur.args[0]), _count(cur.output)
        contam = [s for s in _named(spans, ".contamination_overlap") if s.parent == cur.sid]
        n_dedup = _count(contam[0].args[0]) if contam else n_in
        flagged = _count(contam[0].output.select("doc_id").distinct()) if contam else 0
        m["curation.exact_dropped"] += n_in - n_dedup
        m["curation.contam_dropped"] += flagged
        m["curation.gate_dropped"] += n_dedup - flagged - n_out
    for mh in _named(spans, ".minhash_lsh_pairs"):
        m["dedup.candidate_pairs"] += _count(mh.counters.get("candidates"))
        m["dedup.verified_pairs"] += _count(mh.output)
    if m["dedup.candidate_pairs"]:
        m["dedup.pair_yield"] = m["dedup.verified_pairs"] / m["dedup.candidate_pairs"]
    m["cluster.rounds"] = sum(s.counters.get("rounds", 0) for s in layer["cluster"])
    m["cluster.jobs"] = jobs(layer["cluster"])["jobs"]
    m["similarity.train_s"] = sum(s.layer_s for s in _named(spans, ".train_ivfpq_model"))
    for enc in _named(spans, ".ivfpq_encode"):
        m["similarity.encode_s"] += enc.layer_s
        m["similarity.encode_task_s"] += max(
            0.0,
            stats.summarize([enc.mat_group])["task_s"]
            - stats.summarize(enc.input_groups)["task_s"],
        )
    searches = _named(spans, ".ivfpq_search_codes")
    if searches:
        m["similarity.search_build_ms"] = 1000 * sum(s.self_s for s in searches)
        m["similarity.search_exec_ms"] = 1000 * stats.summarize([root.group])["job_s"]
        m["similarity.search_jobs"] = prog["jobs"]
        m["similarity.cells_probed_frac"] = prog["input_rows"] / corpus_rows
    tracer_s = sum(s.tracer_s for s in spans)
    m["spark.jobs"], m["spark.stages"] = prog["jobs"], prog["stages"]
    m["spark.task_s"] = prog["task_s"]
    m["spark.core_util"] = prog["task_s"] / max(1e-9, (root.wall_s - tracer_s) * cores)
    m["spark.shuffle_write_bytes"] = prog["shuffle_write_bytes"]
    m["spark.spill_bytes"] = prog["spill_bytes"]
    m["spark.steal_s"] = steal_s
    return m


def combine(batch: dict, requests: list[dict]) -> dict[str, float]:
    """The traced batch's metrics, with the search metrics taken as the
    median over the traced requests."""
    out = dict(batch)
    if requests:
        out.update({k: statistics.median(r[k] for r in requests) for k in SEARCH_METRICS})
    return out
