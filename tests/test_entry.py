"""Driver-contract smoke tests: entry() runs, queries()/oracle_sql() keys
line up, every query produces a stable schema at sf0.001."""

import __spark_entry__ as entry_mod


def test_entry_returns_rows(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 1
    assert set(df.columns) == {
        "table_name",
        "partition_spec",
        "src_count",
        "tgt_count",
        "status",
    }


def test_oracle_keys_subset_of_queries():
    q, o = entry_mod.queries(), entry_mod.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) >= 35
    # the reference surface (s/p/j/a/f/q prefixes) must be fully
    # oracle-checked; only extension ops (x_/g_ sketches, LSH blocking,
    # xxhash64 paths) may be rows-only
    unoracled = {k for k in q if k not in o}
    assert all(k.startswith(("x_", "g_")) for k in unoracled), unoracled


def _registry_order(root):
    """``list(QUERIES)`` as imported, in a fresh interpreter, from the
    package copy under ``root``."""
    import json
    import subprocess
    import sys

    code = (
        "import json, sys; sys.path.insert(0, sys.argv[1]); "
        "from hive_scripts_spark.plans.registry import QUERIES; "
        "print(json.dumps(list(QUERIES)))"
    )
    out = subprocess.run(
        [sys.executable, "-c", code, str(root)],
        cwd=root,
        capture_output=True,
        text=True,
        check=True,
    )
    return json.loads(out.stdout.splitlines()[-1])


def test_registry_order_ignores_files_beside_the_package(tmp_path):
    """Registry order is import order: a grading artifact planted next
    to the package (here one that would mark every oracled query fresh
    but the last) must not reorder ``QUERIES``."""
    import json
    import shutil
    from pathlib import Path

    from hive_scripts_spark.plans.registry import ORACLES

    pkg = Path(__file__).resolve().parents[1] / "hive_scripts_spark"
    shutil.copytree(
        pkg,
        tmp_path / "hive_scripts_spark",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    plain = _registry_order(tmp_path)
    green = {"rows_match": True, "schema_match": True, "hash_match": True}
    (tmp_path / "CORRECTNESS_r99.json").write_text(
        json.dumps({n: green for n in list(ORACLES)[:-1]})
    )
    assert _registry_order(tmp_path) == plain
    assert set(plain) == set(entry_mod.queries())


def test_no_query_emits_nested_output_types(spark):
    """The driver's canonicalizer (pandas sort_values + value hash)
    cannot hash list/map/struct cells — that was the r5
    x_embed_quantize harness ERROR. Lock EVERY registered query to flat
    scalar output columns (schema-only check: builds each plan, runs
    nothing)."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    from hive_scripts_spark.plans.registry import QUERIES

    offenders = {}
    for name, fn in QUERIES.items():
        schema = fn(spark, "/root/testdata/sf0.001").schema
        hairy = [
            f.name
            for f in schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
        ]
        if hairy:
            offenders[name] = hairy
    assert not offenders, offenders
