#!/usr/bin/env python
"""Diff two TableStore output directories, or two SpatiaLite export
directories, layer by layer — the analog of the
reference's regression-diff tooling (/root/reference/test/compare_sqlite.sh:49-96,
/root/reference/test/create_sqlite_diff.sh:120-146), which dumps each
SpatiaLite table from two runs and diffs row sets.

Per table present in either store: schema comparison + exceptAll row diff in
both directions (order-insensitive, duplicate-preserving — the same
semantics the row-for-row e2e oracle uses). Missing tables count all rows of
the other side as differences.

Usage:
  python tools/diff_layers.py DIR_A DIR_B [--tables t1,t2] [--cores N] [--sample K]

Exit status 0 iff every compared table is identical.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def table_names(root: str) -> set[str]:
    return {
        f[: -len(".manifest.json")]
        for f in os.listdir(root)
        if f.endswith(".manifest.json")
    }


def sqlite_table_names(root: str) -> set[str]:
    """Layers present as exported osmi_addresses_<name>.sqlite files."""
    return {
        f[len("osmi_addresses_"):-len(".sqlite")]
        for f in os.listdir(root)
        if f.startswith("osmi_addresses_") and f.endswith(".sqlite")
    }


def _layer_sqlite_path(root: str, name: str) -> str:
    return os.path.join(root, f"osmi_addresses_{name}.sqlite")


def dir_kind(root: str) -> str:
    """'sqlite' for a directory of exported SpatiaLite files (the
    reference's own output layout, compare_sqlite.sh's input), 'store' for
    a TableStore of parquet layer tables."""
    return "sqlite" if sqlite_table_names(root) else "store"


def _read_sqlite_layer(spark, root: str, name: str):
    """One exported osmi_addresses_<name>.sqlite → DataFrame with the
    attribute columns plus geometry decoded to a canonical WKT-like string
    (geometry equality == string equality, matching the geometry-equality
    inner joins of /root/reference/test/create_sqlite_diff.sh:120-146).
    Exports are last-mile artifacts, so a driver-side read is fine here."""
    import sqlite3

    from osmi_addresses_spark.io.spatialite import decode_blob

    table = f"osmi_addresses_{name}"
    con = sqlite3.connect(_layer_sqlite_path(root, name))
    cols = [
        r[1]
        for r in con.execute(f'PRAGMA table_info("{table}")')
        if r[1] not in ("OGC_FID", "GEOMETRY")
    ]
    sel = ", ".join(f'"{c}"' for c in cols) + (", " if cols else "") + "GEOMETRY"
    rows = []
    for r in con.execute(f'SELECT {sel} FROM "{table}"'):
        blob = r[-1]
        if blob is None:
            wkt = None
        else:
            kind, pts = decode_blob(blob)
            wkt = f"{kind}(" + ",".join(f"{x!r} {y!r}" for x, y in pts) + ")"
        rows.append((*[None if v is None else str(v) for v in r[:-1]], wkt))
    con.close()
    schema = ", ".join(f"`{c}` string" for c in [*cols, "geometry_wkt"])
    return spark.createDataFrame(rows, schema)


def _comparable(df):
    """Set operations reject MAP columns; replace top-level maps with their
    entry list sorted by key (order-canonical, value-equivalent)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    cols = []
    for f in df.schema.fields:
        if isinstance(f.dataType, T.MapType):
            cols.append(
                F.array_sort(F.map_entries(F.col(f.name))).alias(f.name)
            )
        else:
            cols.append(F.col(f.name))
    return df.select(*cols)


def diff_stores(
    spark,
    dir_a: str,
    dir_b: str,
    tables=None,
    sample: int = 3,
    version_a: int | None = None,
    version_b: int | None = None,
) -> dict:
    """→ {table: {"only_a": n, "only_b": n, "schema_match": bool,
    "sample_only_a": [...], "sample_only_b": [...]}}

    Both directories must be the same kind: two TableStores (parquet layer
    tables) or two SpatiaLite export dirs (osmi_addresses_*.sqlite —
    geometry compared by decoded-coordinate equality). For TableStores,
    `version_a`/`version_b` time-travel each side to a committed snapshot
    — pass the SAME directory twice to diff two versions of one store
    (e.g. yesterday's run vs today's re-run into the same --output)."""
    kind_a, kind_b = dir_kind(dir_a), dir_kind(dir_b)
    if kind_a != kind_b:
        raise ValueError(
            f"cannot diff a {kind_a} dir against a {kind_b} dir "
            f"({dir_a!r} vs {dir_b!r})"
        )
    if kind_a == "sqlite":
        if version_a is not None or version_b is not None:
            raise ValueError("snapshot versions apply only to TableStore dirs")
        return _diff_sqlite(spark, dir_a, dir_b, tables, sample)
    from osmi_addresses_spark.io.table import TableStore

    sa, sb = TableStore(dir_a), TableStore(dir_b)
    names = set(tables) if tables else (table_names(dir_a) | table_names(dir_b))
    report: dict[str, dict] = {}
    for name in sorted(names):
        entry: dict = {"schema_match": True, "only_a": 0, "only_b": 0}
        in_a, in_b = sa.exists(name), sb.exists(name)
        if not (in_a and in_b):
            df = (
                sa.read(spark, name, version_a)
                if in_a
                else sb.read(spark, name, version_b)
            )
            n = df.count()
            entry["schema_match"] = False
            entry["only_a" if in_a else "only_b"] = n
            entry["missing_in"] = "b" if in_a else "a"
            report[name] = entry
            continue
        da = sa.read(spark, name, version_a)
        db = sb.read(spark, name, version_b)
        if da.schema != db.schema:
            entry["schema_match"] = False
            entry["schema_a"] = da.schema.simpleString()
            entry["schema_b"] = db.schema.simpleString()
            report[name] = entry
            continue
        da, db = _comparable(da), _comparable(db)
        only_a = da.exceptAll(db)
        only_b = db.exceptAll(da)
        entry["only_a"] = only_a.count()
        entry["only_b"] = only_b.count()
        if entry["only_a"]:
            entry["sample_only_a"] = [r.asDict() for r in only_a.take(sample)]
        if entry["only_b"]:
            entry["sample_only_b"] = [r.asDict() for r in only_b.take(sample)]
        report[name] = entry
    return report


def _diff_sqlite(spark, dir_a: str, dir_b: str, tables=None, sample: int = 3) -> dict:
    """exceptAll row diff over decoded SpatiaLite exports — the workflow of
    /root/reference/test/compare_sqlite.sh:49-96 mapped 1:1 (added/deleted
    rows, geometry equality via the decoded coordinate string)."""
    names = set(tables) if tables else (sqlite_table_names(dir_a) | sqlite_table_names(dir_b))
    report: dict[str, dict] = {}
    for name in sorted(names):
        entry: dict = {"schema_match": True, "only_a": 0, "only_b": 0}
        in_a = os.path.exists(_layer_sqlite_path(dir_a, name))
        in_b = os.path.exists(_layer_sqlite_path(dir_b, name))
        if not in_a and not in_b:
            # Explicitly-requested table present in neither export: report it
            # instead of opening a nonexistent path (sqlite3.connect would
            # create a stray empty .sqlite inside the compared dir).
            entry["schema_match"] = False
            entry["missing_in"] = "both"
            report[name] = entry
            continue
        if not (in_a and in_b):
            df = _read_sqlite_layer(spark, dir_a if in_a else dir_b, name)
            entry["schema_match"] = False
            entry["only_a" if in_a else "only_b"] = df.count()
            entry["missing_in"] = "b" if in_a else "a"
            report[name] = entry
            continue
        da = _read_sqlite_layer(spark, dir_a, name)
        db = _read_sqlite_layer(spark, dir_b, name)
        if da.schema != db.schema:
            entry["schema_match"] = False
            entry["schema_a"] = da.schema.simpleString()
            entry["schema_b"] = db.schema.simpleString()
            report[name] = entry
            continue
        only_a = da.exceptAll(db)
        only_b = db.exceptAll(da)
        entry["only_a"] = only_a.count()
        entry["only_b"] = only_b.count()
        if entry["only_a"]:
            entry["sample_only_a"] = [r.asDict() for r in only_a.take(sample)]
        if entry["only_b"]:
            entry["sample_only_b"] = [r.asDict() for r in only_b.take(sample)]
        report[name] = entry
    return report


def is_clean(report: dict) -> bool:
    return all(
        e["schema_match"] and e["only_a"] == 0 and e["only_b"] == 0
        for e in report.values()
    )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("dir_a")
    ap.add_argument("dir_b")
    ap.add_argument("--tables", default=None, help="comma-separated subset")
    ap.add_argument("--cores", default=os.environ.get("SPARK_GRAFT_CPUS", "8"))
    ap.add_argument("--sample", type=int, default=3)
    ap.add_argument(
        "--version-a", type=int, default=None,
        help="time-travel side A to this committed snapshot (TableStore only)",
    )
    ap.add_argument(
        "--version-b", type=int, default=None,
        help="time-travel side B to this committed snapshot (TableStore only)",
    )
    args = ap.parse_args()

    from osmi_addresses_spark.session import get_spark

    spark = get_spark("diff-layers", cores=args.cores)
    tables = args.tables.split(",") if args.tables else None
    report = diff_stores(
        spark, args.dir_a, args.dir_b, tables, args.sample,
        version_a=args.version_a, version_b=args.version_b,
    )
    print(json.dumps(report, indent=1, default=str))
    clean = is_clean(report)
    print(
        ("IDENTICAL" if clean else "DIFFERENT")
        + f": {len(report)} tables compared",
        file=sys.stderr,
    )
    spark.stop()
    return 0 if clean else 1


if __name__ == "__main__":
    sys.exit(main())
