"""Local stand-in for the driver's correctness gate: run each
__spark_entry__.queries() entry on Spark and its oracle_sql() twin on
DuckDB over the same parquet, compare row count + sorted-by-name columns +
order-insensitive values. Each query's line ends with its Spark
build+collect wall seconds; the session has ``SPARK_GRAFT_CPUS`` cores,
as ``get_spark`` sizes it.

Usage: SPARK_GRAFT_CPUS=4 python tools/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys
import time
from pathlib import Path

import duckdb

# the checkout this script sits in, so the driver and the Python workers
# import the same tree
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.9g}"
    if hasattr(v, "isoformat"):
        return v.isoformat().replace("+00:00", "")
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm_cell(r[i]) for i in order) for r in rows)


# Arrow-level type identity: the driver's canonicalizer hashes TYPED
# values, so DuckDB HUGEINT vs Spark BIGINT fails there even when the
# stringified values match (round-3 eval_token_accuracy lesson). Both
# sides normalize into one family name before comparison.
_TYPE_FAMILY = {
    "int8": "long", "int16": "long", "int32": "long", "int64": "long",
    "uint8": "long", "uint16": "long", "uint32": "long", "uint64": "long",
    "halffloat": "double", "float": "double", "double": "double",
    "string": "string", "large_string": "string", "string_view": "string",
    "bool": "bool",
    "date32[day]": "date", "date64[ms]": "date",
}
_SPARK_FAMILY = {
    "tinyint": "long", "smallint": "long", "int": "long", "bigint": "long",
    "float": "double", "double": "double",
    "string": "string", "boolean": "bool", "date": "date",
}


def _family(name: str) -> str:
    name = str(name)
    if name.startswith("timestamp"):
        return "timestamp"
    if name.startswith("decimal"):
        return "decimal"
    return _TYPE_FAMILY.get(name, _SPARK_FAMILY.get(name, name))


def _type_family_mismatch(spark_dtypes, arrow_schema) -> list[str]:
    """Columns whose Arrow-level type FAMILY differs. Driver evidence
    (round 3): int32-vs-int64 width differences hash-match, but an
    integer column surfacing as Arrow decimal128 (DuckDB HUGEINT from
    SUM/`//`) or float does not — that was the eval_token_accuracy red
    cell. Flag the family breaks; widths are advisory only."""
    arrow = {f.name.lower(): str(f.type) for f in arrow_schema}
    bad = []
    for col, st in spark_dtypes:
        at = arrow.get(col.lower())
        if at is None:
            continue
        sf, af = _family(st), _family(at)
        if sf != af:
            bad.append(f"{col}: spark {st} ({sf}) vs duckdb-arrow {at} ({af})")
    return bad


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry_mod
    from nametag3_spark.session import get_spark

    qs = entry_mod.queries()
    unknown = sorted(only - set(qs))
    if unknown:
        # a typo would otherwise check nothing and still pass
        print(f"unknown queries: {unknown}")
        sys.exit(2)

    spark = get_spark(
        shuffle_partitions=8, extra_conf={"spark.driver.memory": "8g"}
    )

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    oracles = entry_mod.oracle_sql()
    failures = []
    checked = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        checked += 1
        t0 = time.perf_counter()
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: spark error: {exc} "
                  f"[spark {time.perf_counter() - t0:.2f} s]")
            continue
        secs = f"[spark {time.perf_counter() - t0:.2f} s]"
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(srows)} rows) {secs}")
            continue
        try:
            arrow_tbl = con.execute(oracles[name]).arrow()
            dcols = arrow_tbl.column_names
            drows = [
                tuple(row[c] for c in dcols) for row in arrow_tbl.to_pylist()
            ]
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {exc} {secs}")
            continue
        if sorted(scols) != sorted(dcols):
            failures.append(name)
            print(
                f"FAIL {name}: columns {sorted(scols)} vs {sorted(dcols)} {secs}"
            )
            continue
        type_bad = _type_family_mismatch(sdf.dtypes, arrow_tbl.schema)
        if type_bad:
            failures.append(name)
            print(f"FAIL {name}: type identity: {type_bad} {secs}")
            continue
        if len(srows) != len(drows):
            failures.append(name)
            print(f"FAIL {name}: rowcount {len(srows)} vs {len(drows)} {secs}")
            continue
        cs, cd = canon(srows, scols), canon(drows, dcols)
        if cs != cd:
            failures.append(name)
            diff = [(a, b) for a, b in zip(cs, cd) if a != b][:3]
            print(f"FAIL {name}: value mismatch, first diffs: {diff} {secs}")
            continue
        print(f"ok   {name}: {len(srows)} rows match {secs}")

    print(f"\n{checked} queries checked")
    print(f"{len(failures)} failures: {failures}" if failures else "ALL OK")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
