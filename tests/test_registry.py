"""Structural invariants of the __spark_entry__ registry — the driver
contract: the one `QUERIES` table drives all three views, names are
unique and well-formed, no output column is DECIMAL, and the
evidence-rotation window actually front-loads never-driver-checked
queries (round-5 rotation)."""

import json
import re
from pathlib import Path

import pyspark.sql.types as T

import __spark_entry__ as entrymod
from linear_quadtree_spark.cache import release_caches

REPO = Path(__file__).resolve().parent.parent


def test_every_query_is_oracle_paired_and_tagged():
    names = [q.name for q in entrymod.QUERIES]
    # a repeated name would silently drop a row from every view
    assert len(set(names)) == len(names), "duplicate registry name"
    assert list(entrymod.queries()) == names
    assert list(entrymod.oracle_sql()) == names
    assert list(entrymod.query_families()) == names
    assert all(re.fullmatch(r"[a-z0-9_]+", k) for k in names)
    assert all(re.fullmatch(r"[a-z0-9_]+", q.family) for q in entrymod.QUERIES)


def test_oracle_sql_is_nonempty_select():
    for name, sql in entrymod.oracle_sql().items():
        assert isinstance(sql, str) and "SELECT" in sql.upper(), name


def test_rotation_front_loads_unchecked_queries():
    """First 50 registry keys must contain >= 40 queries with no prior
    driver CORRECTNESS row (the round-4 verdict's acceptance bar for
    the evidence rotation)."""
    checked = set()
    for p in sorted(REPO.glob("CORRECTNESS_r0[234].json")):
        checked |= set(json.loads(p.read_text()))
    if not checked:  # fresh clone without driver records
        return
    window = list(entrymod.queries())[:50]
    fresh = [k for k in window if k not in checked]
    assert len(fresh) >= 40, f"only {len(fresh)} never-checked in window"


def test_families_cover_the_advertised_taxonomy():
    fams = set(entrymod.query_families().values())
    for expected in (
        "core", "tiles", "spatial_stats", "spacetime", "altindex",
        "dedup", "ann", "text", "crawl", "graph", "media", "tokenizer",
    ):
        assert expected in fams, expected


def _decimal_paths(dt: T.DataType, path: str):
    """Every nesting path at which ``dt`` holds a DecimalType."""
    if isinstance(dt, T.DecimalType):
        yield path
    elif isinstance(dt, T.ArrayType):
        yield from _decimal_paths(dt.elementType, f"{path}[]")
    elif isinstance(dt, T.MapType):
        yield from _decimal_paths(dt.keyType, f"{path}{{key}}")
        yield from _decimal_paths(dt.valueType, f"{path}{{value}}")
    elif isinstance(dt, T.StructType):
        for f in dt.fields:
            yield from _decimal_paths(f.dataType, f"{path}.{f.name}")


def test_no_decimal_in_any_output_schema(spark, sf_dir):
    """Registry outputs are integers, strings or DOUBLE cast once: a
    DECIMAL column hashes differently from DuckDB's value, so none may
    reach any output schema at any nesting depth. Only schemas are
    resolved; no result is collected."""
    bad = []
    try:
        for name, run in entrymod.queries().items():
            bad += [name + p for p in _decimal_paths(run(spark, sf_dir).schema, "")]
    finally:
        release_caches()
    assert not bad, bad
