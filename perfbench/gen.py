"""Seeded input generators for the benchmark workloads: the validate
lakes, and the documents and vectors of llm_data.

Each generator writes parquet inputs under a directory it is given and
returns the truth it planted. Sizes and planted rates are fixed module
constants; the seed varies only the content (which rows, which words,
which partitions carry the faults). Pure numpy/pyarrow: no Spark, so
generation time stays apart from every measured metric.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# validate: two month-partitioned lakes with three planted faults
# ---------------------------------------------------------------------------

#: rows per table per side; the three fact tables are partitioned by month
VALIDATE_TABLES: dict[str, int] = {
    "sales": 200_000,
    "orders": 50_000,
    "returns": 10_000,
    "customers": 20_000,
}
VALIDATE_PARTITIONED = ("sales", "orders", "returns")
MONTHS = tuple(202401 + i for i in range(12))
#: share of ``sales`` rows in its one hot month
HOT_SHARE = 0.30
#: share of rows deleted on the target in the count-mismatch partition
DELETED_SHARE = 0.10
SAMPLE_PERCENT = 10
_CUSTOMER_NAMES = 5_000
#: the warm-up lake has the same tables, months and faults at 1/50 the rows
WARMUP_SHRINK = 50


@dataclass
class ValidateTruth:
    config: str  # path of the INI job config
    source_rows: int
    target_rows: int
    mismatched: set[tuple[str, str]]  # (table, partition_spec)
    inconsistent: set[tuple[str, str]]
    drifted: set[tuple[str, str]]  # (table, column)


def _month_sizes(rng: np.random.Generator, n: int, hot: bool) -> np.ndarray:
    """Rows per month: uniform, or one seed-chosen month holding
    ``HOT_SHARE`` of the table."""
    if not hot:
        sizes = np.full(len(MONTHS), n // len(MONTHS))
    else:
        sizes = np.full(len(MONTHS), int(n * (1 - HOT_SHARE)) // (len(MONTHS) - 1))
        sizes[rng.integers(len(MONTHS))] = int(n * HOT_SHARE)
    sizes[-1] += n - sizes.sum()
    return sizes


def _fact_table(rng: np.random.Generator, n: int, id_base: int) -> dict[str, np.ndarray]:
    names = np.array([f"cust_{i:05d}" for i in range(_CUSTOMER_NAMES)], dtype=object)
    return {
        "id": np.arange(id_base, id_base + n, dtype=np.int64),
        "customer": names[rng.integers(_CUSTOMER_NAMES, size=n)],
        "amount": np.round(rng.uniform(1, 1000, size=n), 2),
        "qty": rng.integers(1, 50, size=n).astype(np.int32),
    }


def _write(path: str, cols: dict[str, np.ndarray], schema: pa.Schema) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table(cols, schema=schema), path)


def gen_validate(seed: int, root: str, shrink: int = 1) -> ValidateTruth:
    """Source and target lakes of ``VALIDATE_TABLES`` (each table's rows
    divided by ``shrink``). The target equals
    the source except for one partition with deleted rows (count
    mismatch), one partition with every ``amount`` changed (content
    inconsistent at equal counts) and one column whose type drifted
    (``customers.qty`` int → bigint, same rendered values)."""
    rng = np.random.default_rng([seed, 1])
    fact_schema = pa.schema(
        [("id", pa.int64()), ("customer", pa.string()),
         ("amount", pa.float64()), ("qty", pa.int32())]
    )
    src_root, tgt_root = f"{root}/source", f"{root}/target"
    del_table, chg_table = "orders", "sales"
    del_month, chg_month = (int(m) for m in rng.choice(MONTHS, size=2, replace=False))
    truth = ValidateTruth(
        config=f"{root}/validate.properties",
        source_rows=0,
        target_rows=0,
        mismatched={(del_table, f"month={del_month}")},
        inconsistent={(chg_table, f"month={chg_month}")},
        drifted={("customers", "qty")},
    )
    id_base = 0
    for table in VALIDATE_PARTITIONED:
        n = VALIDATE_TABLES[table] // shrink
        for month, size in zip(MONTHS, _month_sizes(rng, n, hot=table == "sales")):
            cols = _fact_table(rng, int(size), id_base)
            id_base += int(size)
            part = f"{table}.parquet/month={month}/part-00000.parquet"
            _write(f"{src_root}/{part}", cols, fact_schema)
            truth.source_rows += int(size)
            if table == del_table and month == del_month:
                keep = rng.random(int(size)) >= DELETED_SHARE
                cols = {k: v[keep] for k, v in cols.items()}
            elif table == chg_table and month == chg_month:
                cols = dict(cols, amount=np.round(cols["amount"] + 0.01, 2))
            _write(f"{tgt_root}/{part}", cols, fact_schema)
            truth.target_rows += len(cols["id"])
    n = VALIDATE_TABLES["customers"] // shrink
    dim = {
        "id": np.arange(n, dtype=np.int64),
        "name": np.array([f"name_{i}" for i in rng.permutation(n)], dtype=object),
        "region": np.array(["north", "south", "east", "west"], dtype=object)[
            rng.integers(4, size=n)
        ],
        "qty": rng.integers(0, 10_000, size=n).astype(np.int32),
    }
    dim_schema = pa.schema(
        [("id", pa.int64()), ("name", pa.string()), ("region", pa.string()),
         ("qty", pa.int32())]
    )
    _write(f"{src_root}/customers.parquet/part-00000.parquet", dim, dim_schema)
    _write(
        f"{tgt_root}/customers.parquet/part-00000.parquet",
        dict(dim, qty=dim["qty"].astype(np.int64)),
        dim_schema.set(3, pa.field("qty", pa.int64())),
    )
    truth.source_rows += n
    truth.target_rows += n
    with open(truth.config, "w") as f:
        f.write(
            f"[Source]\nPath:{src_root}\n[Target]\nPath:{tgt_root}\n"
            f"[Tables]\n{' '.join(VALIDATE_TABLES)}\n"
            f"[SampleDataPercentage]\n{SAMPLE_PERCENT}\n[Partitions]\n"
            + "".join(f"{t}:month\n" for t in VALIDATE_PARTITIONED)
        )
    return truth


# ---------------------------------------------------------------------------
# llm_data documents: letter-only, two languages, planted duplicates
# ---------------------------------------------------------------------------

CURATE_DOCS = 5_000
BENCH_MOD = 50  # doc_id % BENCH_MOD == 0 is the benchmark split
EXACT_DUP_SHARE = 0.05
CHAIN_SHARE = 0.10
MAX_CHAIN_DEPTH = 8
CONTAM_SHARE = 0.01
SHORT_SHARE = 0.02  # docs under the quality gate's 10-token minimum
BOILERPLATE_LINES = 6
BOILERPLATE_DOC_SHARE = 0.30
STRIP_BOILERPLATE_FREQ = 20  # --strip-boilerplate: above any chain's size
NEAR_DUP_THRESHOLD = 0.75
CHAIN_DOC_TOKENS = 30
CONTAM_SPAN = 8
_STOPWORDS = {
    "en": ("the", "a", "of", "and", "to", "in", "is"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein"),
}
_STOP_SHARE = 0.15
_VOCAB = 20_000  # content words per language
_LINE_TOKENS = 10


@dataclass
class CurateTruth:
    db: str  # directory holding documents.parquet
    n_docs: int
    exact_dups: set[int]  # higher-id copies; must be gone from the output
    contaminated: set[int]  # corpus docs quoting a benchmark doc
    short: set[int]  # docs the quality gate must drop
    chain_edges: set[tuple[int, int]] = field(default_factory=set)  # (a < b)


def _vocab(rng: np.random.Generator, n: int, banned: set[str]) -> np.ndarray:
    """``n`` distinct lower-case letter-only words of 4-9 letters."""
    cons, vows = np.array(list("bcdfghjklmnprstvwz")), np.array(list("aeiou"))
    words: dict[str, None] = {}  # insertion-ordered set
    while len(words) < n:
        m = 2 * n
        syllables = np.char.add(
            cons[rng.integers(len(cons), size=(m, 4))],
            vows[rng.integers(len(vows), size=(m, 4))],
        )
        length = rng.integers(2, 5, size=m)
        tail = np.where(rng.random(m) < 0.5, "", cons[rng.integers(len(cons), size=m)])
        for syl, k, t in zip(syllables.tolist(), length.tolist(), tail.tolist()):
            w = "".join(syl[:k]) + t
            if w not in banned:
                words[w] = None
    return np.array(sorted(list(words)[:n]), dtype=object)


def _lines(tokens: list[str]) -> str:
    return "\n".join(
        " ".join(tokens[i : i + _LINE_TOKENS]) for i in range(0, len(tokens), _LINE_TOKENS)
    )


def gen_curate(seed: int, root: str) -> CurateTruth:
    """``CURATE_DOCS`` documents (``doc_id, text``) with planted exact
    duplicates, near-duplicate chains of depth 1..``MAX_CHAIN_DEPTH``
    made by single-token edits, boilerplate lines shared by many docs,
    short docs under the quality gate, and corpus docs quoting a span of
    a benchmark-split doc."""
    rng = np.random.default_rng([seed, 2])
    banned = {w for ws in _STOPWORDS.values() for w in ws} | {"und", "le", "la", "el"}
    vocab = {lang: _vocab(rng, _VOCAB, banned) for lang in _STOPWORDS}
    langs = sorted(_STOPWORDS)
    n = CURATE_DOCS

    def tokens(lang: str, length: int) -> list[str]:
        stop = np.array(_STOPWORDS[lang], dtype=object)
        words = vocab[lang][rng.integers(_VOCAB, size=length)]
        is_stop = rng.random(length) < _STOP_SHARE
        words[is_stop] = stop[rng.integers(len(stop), size=int(is_stop.sum()))]
        return list(words)

    boiler = [" ".join(tokens(langs[i % 2], 8)) for i in range(BOILERPLATE_LINES)]
    lang_of = [langs[int(i)] for i in rng.integers(len(langs), size=n)]
    texts: list[str | None] = [None] * n
    tok_of: dict[int, list[str]] = {}

    corpus_ids = np.array([i for i in range(n) if i % BENCH_MOD], dtype=np.int64)
    order = rng.permutation(corpus_ids)
    pos = 0

    def take(k: int) -> list[int]:
        nonlocal pos
        out = [int(x) for x in order[pos : pos + k]]
        pos += k
        return out

    truth = CurateTruth(db=root, n_docs=n, exact_dups=set(), contaminated=set(), short=set())
    # near-duplicate chains: doc j+1 is doc j with one more token replaced;
    # edit positions are 3 apart so each edit changes 3 distinct shingles
    n_chain_docs = 0
    while n_chain_docs < CHAIN_SHARE * n:
        depth = int(rng.integers(1, MAX_CHAIN_DEPTH + 1))
        ids = take(depth + 1)
        lang = lang_of[ids[0]]
        toks = tokens(lang, CHAIN_DOC_TOKENS)
        edit_pos = 3 + 3 * rng.permutation(MAX_CHAIN_DEPTH)[:depth]
        for j, doc_id in enumerate(ids):
            if j:
                toks = list(toks)
                toks[int(edit_pos[j - 1])] = vocab[lang][int(rng.integers(_VOCAB))]
                a, b = sorted((ids[j - 1], doc_id))
                truth.chain_edges.add((a, b))
            texts[doc_id] = _lines(toks)
            lang_of[doc_id] = lang
        n_chain_docs += depth + 1
    dup_pairs = [take(2) for _ in range(int(EXACT_DUP_SHARE * n))]
    contam = take(int(CONTAM_SHARE * n))
    short = take(int(SHORT_SHARE * n))
    truth.short = set(short)

    # plain documents: everything not yet written, bench docs included
    for doc_id in range(n):
        if texts[doc_id] is None:
            length = 5 if doc_id in truth.short else int(rng.integers(40, 101))
            toks = tokens(lang_of[doc_id], length)
            tok_of[doc_id] = toks
            text = _lines(toks)
            if doc_id not in truth.short:
                for line in np.array(boiler, dtype=object)[
                    rng.random(BOILERPLATE_LINES) < BOILERPLATE_DOC_SHARE / 2
                ]:
                    text += "\n" + line
            texts[doc_id] = text
    bench_ids = np.arange(0, n, BENCH_MOD)
    for doc_id in contam:
        src = tok_of[int(rng.choice(bench_ids))]
        start = int(rng.integers(0, len(src) - CONTAM_SPAN))
        toks = tok_of[doc_id]
        at = int(rng.integers(0, len(toks)))
        toks = toks[:at] + src[start : start + CONTAM_SPAN] + toks[at:]
        texts[doc_id] = _lines(toks)
        truth.contaminated.add(doc_id)
    for a, b in dup_pairs:
        lo, hi = sorted((a, b))
        texts[hi] = texts[lo]
        truth.exact_dups.add(hi)
    os.makedirs(f"{root}/documents.parquet", exist_ok=True)
    pq.write_table(
        pa.table({"doc_id": pa.array(np.arange(n, dtype=np.int64)),
                  "text": pa.array(texts, pa.string())}),
        f"{root}/documents.parquet/part-00000.parquet",
    )
    return truth


# ---------------------------------------------------------------------------
# llm_data vectors: clustered, a held-out query set, exact neighbours
# ---------------------------------------------------------------------------

ANN_VECTORS = 10_000
ANN_DIM = 64
ANN_REGIONS = 4  # well-separated regions, for the 8 cells to split between them
ANN_GROUP = 10  # tight groups of this many vectors: a query's true top-10
ANN_QUERIES = 400  # more than any run can use: no query repeats
ANN_RECALL_QUERIES = 40  # searched as one untimed batch for recall
ANN_K = 10
#: ann-build model-shape flags
ANN_BUILD_FLAGS = ("--kind", "ivfpq", "--m", "8", "--codes", "8",
                   "--nlist", "8", "--sample", "256")
ANN_NPROBE = 2


@dataclass
class AnnTruth:
    db: str  # directory holding embeddings.parquet
    corpus: np.ndarray  # (ANN_VECTORS, ANN_DIM) float32, row i is vec_id i
    queries: np.ndarray  # (ANN_QUERIES, ANN_DIM) float32
    query_ids: np.ndarray  # ids outside the corpus id range


def gen_ann(seed: int, root: str) -> AnnTruth:
    """``ANN_VECTORS`` corpus vectors in tight groups of ``ANN_GROUP``
    around group centres spread over ``ANN_REGIONS`` regions, written as
    ``embeddings.parquet`` (``vec_id, embedding``; ids shuffled across
    groups), plus ``ANN_QUERIES`` held-out queries drawn next to group
    centres, so a query's exact top-10 is its group."""
    rng = np.random.default_rng([seed, 3])
    regions = rng.normal(scale=4.0, size=(ANN_REGIONS, ANN_DIM))
    n_groups = ANN_VECTORS // ANN_GROUP
    centres = regions[rng.integers(ANN_REGIONS, size=n_groups)] + rng.normal(
        size=(n_groups, ANN_DIM)
    )
    group = rng.permutation(np.repeat(np.arange(n_groups), ANN_GROUP))
    corpus = (centres[group] + rng.normal(scale=0.1, size=(ANN_VECTORS, ANN_DIM))).astype(
        np.float32
    )
    asked = rng.choice(n_groups, size=ANN_QUERIES, replace=False)
    queries = (centres[asked] + rng.normal(scale=0.1, size=(ANN_QUERIES, ANN_DIM))).astype(
        np.float32
    )
    os.makedirs(f"{root}/embeddings.parquet", exist_ok=True)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(corpus.ravel()), ANN_DIM).cast(
        pa.list_(pa.float32())
    )
    pq.write_table(
        pa.table({"vec_id": pa.array(np.arange(ANN_VECTORS, dtype=np.int64)),
                  "embedding": emb}),
        f"{root}/embeddings.parquet/part-00000.parquet",
    )
    return AnnTruth(
        db=root,
        corpus=corpus,
        queries=queries,
        query_ids=np.arange(ANN_VECTORS, ANN_VECTORS + ANN_QUERIES, dtype=np.int64),
    )


def exact_topk(corpus: np.ndarray, query: np.ndarray, k: int = ANN_K) -> np.ndarray:
    """Ids of the ``k`` nearest corpus rows by squared L2, ties to the
    lower id — the brute-force truth for recall."""
    d = ((corpus.astype(np.float64) - query.astype(np.float64)) ** 2).sum(axis=1)
    return np.lexsort((np.arange(len(d)), d))[:k]
