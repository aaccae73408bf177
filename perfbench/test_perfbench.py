"""Benchmark-side tests: generators are seed-deterministic, and every
output check fails on a deliberately corrupted output. No Spark needed.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import gen  # noqa: E402


def _tables(root: str) -> dict[str, pa.Table]:
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                path = os.path.join(dirpath, f)
                out[os.path.relpath(path, root)] = pq.read_table(path)
    return out


def _same(a: str, b: str) -> bool:
    ta, tb = _tables(a), _tables(b)
    return ta.keys() == tb.keys() and all(ta[k].equals(tb[k]) for k in ta)


@pytest.mark.parametrize("make", [gen.gen_validate, gen.gen_curate, gen.gen_ann])
def test_seed_fixes_content(make, tmp_path):
    one, again, other = (str(tmp_path / d) for d in ("one", "again", "other"))
    t1, t2, t3 = make(7, one), make(7, again), make(8, other)
    assert _same(one, again)
    assert not _same(one, other)
    if isinstance(t1, gen.AnnTruth):
        assert np.array_equal(t1.queries, t2.queries)
        assert not np.array_equal(t1.queries, t3.queries)
    else:
        fields = [f for f in vars(t1) if f not in ("config", "db")]
        assert [getattr(t1, f) for f in fields] == [getattr(t2, f) for f in fields]


def test_planted_rates(tmp_path):
    v = gen.gen_validate(1, str(tmp_path / "v"))
    assert v.source_rows == sum(gen.VALIDATE_TABLES.values())
    assert 0 < v.source_rows - v.target_rows < gen.VALIDATE_TABLES["orders"]
    warm = gen.gen_validate(1, str(tmp_path / "w"), gen.WARMUP_SHRINK)
    assert warm.source_rows == sum(n // gen.WARMUP_SHRINK for n in gen.VALIDATE_TABLES.values())
    assert warm.source_rows > warm.target_rows
    assert (warm.mismatched, warm.inconsistent, warm.drifted) == (
        v.mismatched, v.inconsistent, v.drifted
    )
    c = gen.gen_curate(1, str(tmp_path / "c"))
    n = gen.CURATE_DOCS
    assert len(c.exact_dups) == int(gen.EXACT_DUP_SHARE * n)
    assert len(c.contaminated) == int(gen.CONTAM_SHARE * n)
    assert not (c.exact_dups | c.contaminated | c.short) & set(range(0, n, gen.BENCH_MOD))
    for a, b in c.chain_edges:
        assert a < b
    texts = pq.read_table(f"{c.db}/documents.parquet").column("text").to_pylist()
    assert not any(ch.isdigit() for t in texts for ch in t)
    a = gen.gen_ann(1, str(tmp_path / "a"))
    assert a.corpus.shape == (gen.ANN_VECTORS, gen.ANN_DIM)
    assert len(set(a.query_ids.tolist()) & set(range(gen.ANN_VECTORS))) == 0


# -- validate ---------------------------------------------------------------


def _report(run_dir, name: str, header: str, rows: list[str]) -> None:
    d = run_dir / name
    d.mkdir(parents=True)
    (d / "part-00000.csv").write_text("\n".join([header, *rows]) + "\n")


def _validate_output(tmp_path, mismatched="orders,month=202403,10,9,mismatched"):
    run_dir = tmp_path / "out" / "01-01-2026"
    _report(run_dir, "TableMismatchedData",
            "table_name,partition_spec,src_count,tgt_count,status", [mismatched])
    _report(run_dir, "TableDataNotConsistent",
            "table_name,partition_spec,src_fingerprint,tgt_fingerprint,status",
            ["sales,month=202405,1,2,inconsistent"])
    _report(run_dir, "SchemaDrift", "table_name,column,src_type,tgt_type,status",
            ["customers,qty,int,bigint,type_mismatch"])
    return str(tmp_path / "out")


_VTRUTH = gen.ValidateTruth(
    config="", source_rows=0, target_rows=0,
    mismatched={("orders", "month=202403")},
    inconsistent={("sales", "month=202405")},
    drifted={("customers", "qty")},
)


def test_validate_check_passes_planted_set(tmp_path):
    assert checks.check_validate(1, _validate_output(tmp_path), _VTRUTH) == []


@pytest.mark.parametrize("rc", [0, 2])
def test_validate_check_fails_wrong_exit_code(tmp_path, rc):
    assert checks.check_validate(rc, _validate_output(tmp_path), _VTRUTH)


def test_validate_check_fails_wrong_partition(tmp_path):
    out = _validate_output(tmp_path, mismatched="orders,month=202404,10,9,mismatched")
    assert checks.check_validate(1, out, _VTRUTH)


def test_validate_check_fails_missing_report(tmp_path):
    out = _validate_output(tmp_path)
    for f in (tmp_path / "out" / "01-01-2026" / "SchemaDrift").iterdir():
        f.unlink()
    assert checks.check_validate(1, out, _VTRUTH)
    assert checks.faults_found(out, _VTRUTH) == pytest.approx(2 / 3)


def test_validate_faults_found_counts_planted_faults_named(tmp_path):
    assert checks.faults_found(_validate_output(tmp_path), _VTRUTH) == 1.0
    out = _validate_output(tmp_path / "wrong", mismatched="orders,month=202404,10,9,mismatched")
    assert checks.faults_found(out, _VTRUTH) == pytest.approx(2 / 3)
    assert checks.faults_found(str(tmp_path / "none"), _VTRUTH) == 0.0


# -- curate -----------------------------------------------------------------

_BASE = " ".join(f"w{a}{b}" for a in "abc" for b in "abcdefghij")  # 30 tokens
_EDIT = _BASE.replace("wbe", "zzz")


def _curate_output(tmp_path, ids=(1, 2, 3), jaccard=None, members=None):
    texts = {1: _BASE, 2: _EDIT, 3: "alpha beta gamma delta epsilon zeta eta theta"}
    cur, pairs, surv = (str(tmp_path / d) for d in ("cur", "pairs", "surv"))
    pq.write_table(pa.table({"doc_id": list(ids), "text": [texts.get(i, _BASE) for i in ids]}), cur)
    j = checks.jaccard(_BASE, _EDIT) if jaccard is None else jaccard
    pq.write_table(pa.table({"a_id": [1], "b_id": [2], "jaccard": [j]}), pairs)
    members = [2, 1] if members is None else members
    pq.write_table(pa.table({"component": [1, 3], "survivor_id": [1, 3],
                             "n_members": members}), surv)
    return cur, pairs, surv


_CTRUTH = gen.CurateTruth(db="", n_docs=10, exact_dups={5}, contaminated={7},
                          short={9}, chain_edges={(1, 2)})


def test_curate_check_passes_clean_output(tmp_path):
    assert checks.jaccard(_BASE, _EDIT) >= gen.NEAR_DUP_THRESHOLD
    assert checks.check_curate(*_curate_output(tmp_path), _CTRUTH) == []
    assert checks.chain_recall(str(tmp_path / "pairs"), _CTRUTH, {1, 2, 3}) == 1.0


@pytest.mark.parametrize("planted", [5, 7, 9, 50])
def test_curate_check_fails_planted_doc_kept(tmp_path, planted):
    out = _curate_output(tmp_path, ids=(1, 2, 3, planted), members=[2, 2])
    assert checks.check_curate(*out, _CTRUTH)


def test_curate_check_fails_wrong_jaccard(tmp_path):
    assert checks.check_curate(*_curate_output(tmp_path, jaccard=0.99), _CTRUTH)


def test_curate_check_fails_survivor_cover(tmp_path):
    assert checks.check_curate(*_curate_output(tmp_path, members=[1, 1]), _CTRUTH)


# -- llm_data vectors ------------------------------------------------------

_ATRUTH = gen.AnnTruth(db="", corpus=np.zeros((100, 2), np.float32),
                       queries=np.zeros((1, 2), np.float32),
                       query_ids=np.array([100]))


def _response(k=10, dists=None, ids=None):
    dists = dists or [float(i) for i in range(k)]
    ids = ids or list(range(k))
    return [{"rank": r + 1, "adc_dist": d, "neighbor_id": i}
            for r, (d, i) in enumerate(zip(dists, ids))]


def test_ann_check_passes_ranked_response():
    assert checks.check_ann_response(_response(), 10, _ATRUTH) == []


@pytest.mark.parametrize("rows", [
    _response(k=9),
    _response(dists=[5.0] + [float(i) for i in range(9)]),
    _response(ids=[0] * 10),
    _response(ids=list(range(95, 105))),
])
def test_ann_check_fails_corrupted_response(rows):
    assert checks.check_ann_response(rows, 10, _ATRUTH)
