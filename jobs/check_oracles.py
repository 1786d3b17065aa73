"""Local replica of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB at sf0.01, compare
row-count + schema + order-insensitive values. Exit 1 on any mismatch.

Also a TYPE-EXACTNESS harness (`--types`): the driver's value hash is
sensitive to the fetched dtype (a DuckDB HUGEINT window-sum hashes
differently from a Spark BIGINT even when every value is equal), while
the local pandas comparison is not (`check_dtype=False`). So we compare
the DuckDB relation's declared types (pre-fetch, pre-normalization)
against the Spark schema per query and FAIL on any family/width drift —
HUGEINT leaks from SUM()/window-SUM//`//`, uncast literals, DECIMAL
scale drift. Both sides bind lazily, so the full-registry sweep costs
seconds. The normal value-check path runs the same type gate per query.
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

import duckdb
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entrymod  # noqa: E402
from linear_quadtree_spark.session import get_spark  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _canon_spark(t) -> tuple:
    """Canonical type family for a Spark DataType (hash-relevant only).

    TOTAL over the engine's composable surface — scalar families plus
    array/struct/map/interval recurse, so the only way to reach the
    ("other", ...) sentinel is a genuinely new type family, which the
    gate treats as a hard failure (fail-closed, never warn-and-pass)."""
    import pyspark.sql.types as T

    if isinstance(t, T.ArrayType):
        return ("arr",) + _canon_spark(t.elementType)
    if isinstance(t, T.StructType):
        return ("struct",) + tuple(
            (f.name, _canon_spark(f.dataType)) for f in t.fields
        )
    if isinstance(t, T.MapType):
        return ("map", _canon_spark(t.keyType), _canon_spark(t.valueType))
    if isinstance(t, (T.DayTimeIntervalType, T.YearMonthIntervalType)):
        return ("interval",)
    s = t.simpleString()
    if s.startswith("decimal("):
        p, sc = s[8:-1].split(",")
        return ("dec", int(sc))
    return {
        "bigint": ("int", 64), "int": ("int", 32),
        "smallint": ("int", 16), "tinyint": ("int", 8),
        "double": ("float", 64), "float": ("float", 32),
        "string": ("str",), "boolean": ("bool",),
        "date": ("date",), "timestamp": ("ts",),
        "timestamp_ntz": ("ts",), "binary": ("bin",),
    }.get(s, ("other", s))


#: DuckDB scalar type-id → canonical family (DuckDBPyType.id spelling).
_DUCK_SCALARS = {
    "bigint": ("int", 64), "integer": ("int", 32), "int": ("int", 32),
    "smallint": ("int", 16), "tinyint": ("int", 8),
    "hugeint": ("int", 128), "ubigint": ("uint", 64),
    "uinteger": ("uint", 32), "usmallint": ("uint", 16),
    "utinyint": ("uint", 8), "double": ("float", 64),
    "float": ("float", 32), "real": ("float", 32),
    "varchar": ("str",), "boolean": ("bool",), "date": ("date",),
    "timestamp": ("ts",), "timestamp with time zone": ("ts",),
    "timestamp_ns": ("ts",), "timestamp_ms": ("ts",), "timestamp_s": ("ts",),
    "blob": ("bin",), "interval": ("interval",),
}


def _canon_duck(t) -> tuple:
    """Canonical type family for a DuckDBPyType — nested families
    (list/struct/map/decimal) via `.id` + `.children`, scalars via the
    id table. Same totality contract as `_canon_spark`."""
    tid = str(getattr(t, "id", str(t))).lower()
    if tid == "list":
        return ("arr",) + _canon_duck(t.children[0][1])
    if tid == "struct":
        return ("struct",) + tuple(
            (name, _canon_duck(ct)) for name, ct in t.children
        )
    if tid == "map":
        kids = dict(t.children)
        return ("map", _canon_duck(kids["key"]), _canon_duck(kids["value"]))
    if tid == "decimal":
        return ("dec", int(dict(t.children)["scale"]))
    return _DUCK_SCALARS.get(tid, ("other", str(t)))


def type_drift(spark_df, con, sql: str) -> list[str]:
    """Return per-column canonical-type mismatches between a (lazy)
    Spark plan and a (lazy) DuckDB relation — the driver-hash-visible
    drift class. Empty list == type-exact. An UNMAPPED family on either
    side is itself drift (the canonical maps are total over the types
    the registry may produce; reaching the sentinel means the map needs
    extending, and the gate fails rather than warns until it is)."""
    rel = con.sql(sql)
    sp = {f.name: _canon_spark(f.dataType) for f in spark_df.schema.fields}
    du = dict(zip(rel.columns, (_canon_duck(t) for t in rel.types)))
    if sorted(sp) != sorted(du):
        return [f"columns {sorted(sp)} vs {sorted(du)}"]
    drift = []
    for c in sorted(sp):
        for side, canon in (("spark", sp[c]), ("duckdb", du[c])):
            if "other" in _flatten_canon(canon):
                drift.append(
                    f"{c}: UNMAPPED {side} type family {canon} — extend the "
                    "canonical map in jobs/check_oracles.py"
                )
        if sp[c] != du[c]:
            drift.append(f"{c}: spark {sp[c]} vs duckdb {du[c]}")
    return drift


def _flatten_canon(canon) -> list:
    """Every atom of a (possibly nested) canonical tuple."""
    out = []
    stack = [canon]
    while stack:
        x = stack.pop()
        if isinstance(x, tuple):
            stack.extend(x)
        else:
            out.append(x)
    return out


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--types"]
    types_only = "--types" in sys.argv[1:]
    families = {
        a.split("=", 1)[1] for a in args if a.startswith("--family=")
    }
    args = [a for a in args if not a.startswith("--family=")]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:]) or None
    fam_map = entrymod.query_families()
    # every requested family must exist — typos fail loudly, never filter to ∅
    unknown = families - set(fam_map.values())
    if unknown:
        raise SystemExit(f"unknown --family values: {sorted(unknown)}")
    if families:
        fam_keys = {k for k, f in fam_map.items() if f in families}
        only = (only & fam_keys) if only else fam_keys
    spark = get_spark(
        app_name="check-oracles", master="local[8]", shuffle_partitions=16,
        extra_conf={"spark.ui.enabled": "false"},
    )
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if types_only:
            try:
                drift = type_drift(fn(spark, sf_dir), con, oracles[name])
            except Exception as ex:  # noqa: BLE001
                drift = [f"bind error: {type(ex).__name__}: {str(ex)[:200]}"]
            if drift:
                failures.append(name)
                print(f"  {name}: TYPE DRIFT — {'; '.join(drift)}")
            else:
                print(f"  {name}: types OK")
            continue
        t0 = time.time()
        spark_df = fn(spark, sf_dir)
        got = spark_df.toPandas()
        t1 = time.time()
        exp = con.execute(oracles[name]).fetch_df()
        g, e = normalize(got), normalize(exp)
        status = []
        drift = type_drift(spark_df, con, oracles[name])
        if drift:
            status.append(f"TYPES {'; '.join(drift)}")
        if len(g) != len(e):
            status.append(f"ROWCOUNT {len(g)} vs {len(e)}")
        if list(g.columns) != list(e.columns):
            status.append(f"COLS {list(g.columns)} vs {list(e.columns)}")
        if not status:
            try:
                pd.testing.assert_frame_equal(g, e, check_dtype=False, check_exact=True)
            except AssertionError as ex:
                status.append(f"VALUES: {str(ex)[:300]}")
        if status:
            failures.append(name)
            print(f"  {name}: FAIL — {'; '.join(status)}")
        else:
            print(f"  {name}: OK ({len(g)} rows, {t1-t0:.1f}s spark, {time.time()-t1:.1f}s duckdb)")
    spark.stop()
    if failures:
        print("FAILURES:", failures)
        return 1
    print("ALL ORACLE CHECKS PASSED")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
