"""Output checks against the truth each generator planted. Every check
returns a list of problems; an empty list is a pass. Pure Python over
the files the program wrote, so the checks also run without Spark."""

from __future__ import annotations

import csv
import glob

import pyarrow.parquet as pq

from gen import (
    BENCH_MOD,
    NEAR_DUP_THRESHOLD,
    AnnTruth,
    CurateTruth,
    ValidateTruth,
)


def _report_rows(run_dir: str, report: str) -> list[dict]:
    rows: list[dict] = []
    for path in sorted(glob.glob(f"{run_dir}/{report}/*.csv")):
        with open(path, newline="") as f:
            rows.extend(csv.DictReader(f))
    return rows


def _planted(truth: ValidateTruth) -> dict[str, set[tuple[str, str]]]:
    return {
        "TableMismatchedData": truth.mismatched,
        "TableDataNotConsistent": truth.inconsistent,
        "SchemaDrift": truth.drifted,
    }


def _named(run_dir: str) -> dict[str, set[tuple[str, str]]]:
    """What the three report CSVs of one dated run directory name."""
    return {
        "TableMismatchedData": {
            (r["table_name"], r["partition_spec"])
            for r in _report_rows(run_dir, "TableMismatchedData")
        },
        "TableDataNotConsistent": {
            (r["table_name"], r["partition_spec"])
            for r in _report_rows(run_dir, "TableDataNotConsistent")
        },
        "SchemaDrift": {
            (r["table_name"], r["column"]) for r in _report_rows(run_dir, "SchemaDrift")
        },
    }


def check_validate(exit_code: int, output: str, truth: ValidateTruth) -> list[str]:
    """The reports name exactly the planted mismatched partition, the
    planted inconsistent partition and the planted drifted column, and
    the exit code says a mismatch was found."""
    problems = []
    if exit_code != 1:
        problems.append(f"validate exit code {exit_code}, want 1")
    runs = glob.glob(f"{output}/*/")
    if len(runs) != 1:
        return problems + [f"want one dated run directory under {output}, found {len(runs)}"]
    want = _planted(truth)
    for report, rows in _named(runs[0]).items():
        if rows != want[report]:
            problems.append(f"{report} names {sorted(rows)}, want {sorted(want[report])}")
    return problems


def faults_found(output: str, truth: ValidateTruth) -> float:
    """Share of the planted faults that the reports under ``output`` name."""
    runs = glob.glob(f"{output}/*/")
    named = _named(runs[0]) if len(runs) == 1 else {}
    want = _planted(truth)
    found = sum(len(named.get(report, set()) & planted) for report, planted in want.items())
    return found / sum(len(planted) for planted in want.values())


def shingles(text: str, n: int = 3) -> set[str]:
    """Word n-gram set of whitespace-normalized text (the engine's
    ``shingle_sets`` definition)."""
    toks = text.split()
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return round(len(sa & sb) / len(sa | sb), 6) if sa | sb else 0.0


def check_curate(curated: str, pairs: str, survivors: str, truth: CurateTruth) -> list[str]:
    """Planted exact duplicates, contaminated docs, short docs and the
    benchmark split are gone; every verified pair meets the Jaccard
    threshold recomputed here; survivors cover every kept doc once."""
    problems = []
    docs = pq.read_table(curated, columns=["doc_id", "text"]).to_pydict()
    text = dict(zip(docs["doc_id"], docs["text"]))
    kept = set(text)
    for label, planted in (
        ("exact duplicate", truth.exact_dups),
        ("contaminated", truth.contaminated),
        ("short", truth.short),
        ("benchmark-split", {i for i in kept if i % BENCH_MOD == 0}),
    ):
        left = planted & kept
        if left:
            problems.append(f"{len(left)} {label} docs kept, e.g. {sorted(left)[:3]}")
    if not kept:
        problems.append("curate kept no documents")
    p = pq.read_table(pairs).to_pydict()
    for a, b, j in zip(p["a_id"], p["b_id"], p["jaccard"]):
        if a not in kept or b not in kept:
            problems.append(f"pair ({a}, {b}) names a doc not in the curated output")
            break
        want = jaccard(text[a], text[b])
        if want < NEAR_DUP_THRESHOLD or abs(want - j) > 1e-6:
            problems.append(f"pair ({a}, {b}) reports jaccard {j}, recomputed {want}")
            break
    s = pq.read_table(survivors).to_pydict()
    if sum(s["n_members"]) != len(kept) or not set(s["survivor_id"]) <= kept:
        problems.append(
            f"survivors cover {sum(s['n_members'])} members, want {len(kept)} kept docs"
        )
    return problems


def chain_recall(pairs: str, truth: CurateTruth, kept: set[int]) -> float:
    """Share of planted near-duplicate edges (both ends kept) that the
    verified pair set contains."""
    p = pq.read_table(pairs, columns=["a_id", "b_id"]).to_pydict()
    found = set(zip(p["a_id"], p["b_id"]))
    edges = {e for e in truth.chain_edges if e[0] in kept and e[1] in kept}
    return len(edges & found) / len(edges) if edges else 1.0


def check_ann_response(rows: list, k: int, truth: AnnTruth) -> list[str]:
    """One search response: ``k`` rows ranked 1..k, distance ascending,
    distinct neighbour ids inside the corpus."""
    if len(rows) != k:
        return [f"response has {len(rows)} rows, want {k}"]
    rows = sorted(rows, key=lambda r: r["rank"])
    problems = []
    if [r["rank"] for r in rows] != list(range(1, k + 1)):
        problems.append("ranks are not 1..k")
    dists = [r["adc_dist"] for r in rows]
    if any(b < a for a, b in zip(dists, dists[1:])):
        problems.append("distances are not ascending")
    ids = [r["neighbor_id"] for r in rows]
    if len(set(ids)) != k or not all(0 <= i < len(truth.corpus) for i in ids):
        problems.append(f"neighbour ids invalid: {ids}")
    return problems
