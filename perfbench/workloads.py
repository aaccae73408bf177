"""The two workloads. Each generates its seeded inputs, then exposes its
batch operations (and on llm_data a search request), each of which runs
the program and checks what it wrote against the planted truth."""

from __future__ import annotations

import contextlib
import io
import json
import shutil
import statistics
import time

import checks
import gen
import pyarrow.parquet as pq

import hive_scripts_spark.__main__ as cli
from hive_scripts_spark.operators import dedup, similarity


def _run_cli(argv: list[str]) -> tuple[int, str]:
    """One in-process CLI call; its console output is kept off stdout,
    whose last line is the benchmark's result."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = cli.main(argv)
    return rc, buf.getvalue()


def _next_dir(w) -> str:
    """A fresh output directory for the next operation; the previous
    one is removed only now, after its post-operation counts."""
    shutil.rmtree(f"{w.work}/op-{w.n}", ignore_errors=True)
    w.n += 1
    return f"{w.work}/op-{w.n}"


class Validate:
    """UC#1 → UC#2 cross-database validation of two lakes. The timed op
    follows one warm-up op on a lake of the same shape at
    1/``gen.WARMUP_SHRINK`` the rows: a cold op's wall swings with JIT
    compilation far more than a warm one's."""

    name = "validate"

    def __init__(self, spark, work: str, seed: int) -> None:
        self.work = work
        t = time.perf_counter()
        self.truth = gen.gen_validate(seed, f"{work}/lake")
        self.warm_truth = gen.gen_validate(seed, f"{work}/warm-lake", gen.WARMUP_SHRINK)
        self.gen_s = time.perf_counter() - t
        self.rows = self.truth.source_rows + self.truth.target_rows
        self.n = 0
        self.recalls: list[float] = []

    def warmup_ops(self) -> list:
        return [self.warmup]

    def batch_ops(self) -> list:
        return [self.op]

    def _validate(self, truth) -> tuple[float, list[str], str]:
        out = _next_dir(self)
        t = time.perf_counter()
        rc, _ = _run_cli(["validate", truth.config, "--output", out])
        wall = time.perf_counter() - t
        return wall, checks.check_validate(rc, out, truth), out

    def warmup(self) -> tuple[float, list[str]]:
        wall, problems, _ = self._validate(self.warm_truth)
        return wall, problems

    def op(self) -> tuple[float, list[str]]:
        wall, problems, out = self._validate(self.truth)
        self.recalls.append(checks.faults_found(out, self.truth))
        return wall, problems

    def recall(self) -> float:
        """Share of the planted faults the reports named (median over ops)."""
        return statistics.median(self.recalls) if self.recalls else 0.0


class Curate:
    """Training-data curation, then MinHash near-duplicate pairs and
    quality-aware survivors over the curated documents."""

    def __init__(self, spark, work: str, seed: int) -> None:
        self.spark = spark
        self.work = work
        t = time.perf_counter()
        self.truth = gen.gen_curate(seed, f"{work}/db")
        self.gen_s = time.perf_counter() - t
        self.rows = self.truth.n_docs
        self.n = 0
        self.recalls: list[float] = []

    def op(self) -> tuple[float, list[str]]:
        base = _next_dir(self)
        curated, pairs_dir, survivors = f"{base}/curated", f"{base}/pairs", f"{base}/survivors"
        t = time.perf_counter()
        rc, _ = _run_cli([
            "curate", "--db", self.truth.db, "--output", curated,
            "--bench-mod", str(gen.BENCH_MOD),
            "--strip-boilerplate", str(gen.STRIP_BOILERPLATE_FREQ),
        ])
        docs = self.spark.read.parquet(curated)
        pairs = dedup.minhash_lsh_pairs(docs, threshold=gen.NEAR_DUP_THRESHOLD)
        pairs.write.mode("overwrite").parquet(pairs_dir)
        dedup.near_dup_survivors(
            docs, self.spark.read.parquet(pairs_dir), quality_col="n_tokens"
        ).write.mode("overwrite").parquet(survivors)
        wall = time.perf_counter() - t
        problems = [f"curate exit code {rc}"] if rc else []
        problems += checks.check_curate(curated, pairs_dir, survivors, self.truth)
        if not problems:
            kept = set(pq.read_table(curated, columns=["doc_id"])["doc_id"].to_pylist())
            self.recalls.append(checks.chain_recall(pairs_dir, self.truth, kept))
        return wall, problems

    def recall(self) -> float:
        """Planted near-duplicate edges found (median over ops)."""
        return statistics.median(self.recalls) if self.recalls else 0.0


class AnnServe:
    """Build an IVF+PQ index once with ``ann-build``, then serve
    held-out single-vector top-k requests from the stored codes."""

    def __init__(self, spark, work: str, seed: int) -> None:
        self.spark = spark
        self.work = work
        t = time.perf_counter()
        self.truth = gen.gen_ann(seed, f"{work}/vectors")
        self.gen_s = time.perf_counter() - t
        self.rows = len(self.truth.corpus)
        self.index = f"{work}/index"
        self.next_query = gen.ANN_RECALL_QUERIES  # the first ones score recall
        self.recalls: list[float] = []
        self.codes = None

    def build(self) -> tuple[float, list[str]]:
        t = time.perf_counter()
        rc, out = _run_cli(["ann-build", self.truth.db, self.index, *gen.ANN_BUILD_FLAGS])
        wall = time.perf_counter() - t
        with open(f"{self.index}/model.json") as f:
            model = json.load(f)
        self.centroids = [(int(c[0]), c[1]) for c in model["centroids"]]
        self.books = model["codebooks"]
        self.codes = self.spark.read.parquet(f"{self.index}/codes")
        problems = [] if rc == 0 else [f"ann-build exit code {rc}"]
        if f"{self.rows} codes" not in out:
            problems.append(f"ann-build did not report {self.rows} codes: {out.strip()!r}")
        return wall, problems

    def _search(self, first: int, n: int) -> list:
        t = self.truth
        return similarity.ivfpq_search_codes(
            self.codes, self.centroids, self.books,
            [(int(t.query_ids[i]), [float(x) for x in t.queries[i]])
             for i in range(first, first + n)],
            k=gen.ANN_K, nprobe=gen.ANN_NPROBE,
        ).collect()

    def build_and_score(self) -> tuple[float, list[str]]:
        """The timed build, then (untimed) the first
        ``gen.ANN_RECALL_QUERIES`` queries searched as one batch: recall
        is their mean |ANN top-k ∩ exact top-k| / k."""
        wall, problems = self.build()
        by_query: dict[int, list] = {
            int(q): [] for q in self.truth.query_ids[: gen.ANN_RECALL_QUERIES]
        }
        for r in self._search(0, gen.ANN_RECALL_QUERIES):
            by_query[r["query_id"]].append(r)
        for i, rows in enumerate(by_query.values()):
            problems += checks.check_ann_response(rows, gen.ANN_K, self.truth)
            exact = set(gen.exact_topk(self.truth.corpus, self.truth.queries[i]).tolist())
            self.recalls.append(len(exact & {r["neighbor_id"] for r in rows}) / gen.ANN_K)
        return wall, problems

    def request(self) -> tuple[float, list[str]]:
        """One single-query search, with a query no earlier search used."""
        i = self.next_query
        if i >= len(self.truth.queries):
            raise RuntimeError("query pool exhausted: raise gen.ANN_QUERIES")
        self.next_query += 1
        t = time.perf_counter()
        rows = self._search(i, 1)
        wall = time.perf_counter() - t
        return wall, checks.check_ann_response(rows, gen.ANN_K, self.truth)

    def recall(self) -> float:
        return sum(self.recalls) / len(self.recalls) if self.recalls else 0.0


class LlmData:
    """The LLM-data path in one process: curation with near-duplicate
    survivors over documents, then an IVF+PQ index built over a vector
    corpus and served one query at a time."""

    name = "llm_data"

    def __init__(self, spark, work: str, seed: int) -> None:
        self.curate = Curate(spark, work, seed)
        self.ann = AnnServe(spark, work, seed)
        self.gen_s = self.curate.gen_s + self.ann.gen_s
        self.rows = self.curate.rows  # rows_per_s is documents per curate op
        self.request = self.ann.request

    def warmup_ops(self) -> list:
        return []

    def batch_ops(self) -> list:
        return [self.curate.op, self.ann.build_and_score]

    def recall(self) -> float:
        return self.ann.recall()


WORKLOADS = {w.name: w for w in (Validate, LlmData)}
