"""Python DataSource that reads the documents parquet *in the worker* and
emits already-parsed entity batches.

The default path (JVM parquet scan → Arrow IPC → mapInArrow parse → Arrow
IPC back) moves every span string through four representations. This source
collapses the read side: each task opens its row-group range with pyarrow
(C++ parquet reader), runs the same `_parse_batch` kernels in-process, and
hands Spark the finished entity batches — no JVM nested-parquet decode, no
JVM→Python IPC leg. On the virtualized bench box (where total memory
traffic is the scaling ceiling) this measurably reduces kernel time.

Replaces nothing semantically: `parsed_documents(spark, path)` ≡
`parse_documents(spark.read.parquet(path), minimal=True)` row-for-row.
The reference's streaming OSM scan is SURVEY.md §2.1 S1 (osmi/main.cpp:73-97);
partition planning below is the distributed analog of its single sequential
pass: one task per ~`target_bytes` of row groups, every row group covered
exactly once.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from ..schemas import ENTITY_MIN_SCHEMA

_TARGET_BYTES = 32 * 1024 * 1024


class _RowGroupSpan(InputPartition):
    def __init__(self, path: str, row_groups: list[int]):
        self.path = path
        self.row_groups = row_groups


def _plan_partitions(path: str, target_bytes: int) -> list[_RowGroupSpan]:
    """One partition per ~target_bytes of compressed row groups."""
    if os.path.isdir(path):
        files = sorted(
            os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")
        )
    else:
        files = [path]
    from concurrent.futures import ThreadPoolExecutor

    def _file_parts(f: str) -> list[_RowGroupSpan]:
        md = pq.ParquetFile(f).metadata
        out: list[_RowGroupSpan] = []
        cur: list[int] = []
        cur_bytes = 0
        for rg in range(md.num_row_groups):
            cur.append(rg)
            cur_bytes += md.row_group(rg).total_byte_size
            if cur_bytes >= target_bytes:
                out.append(_RowGroupSpan(f, cur))
                cur, cur_bytes = [], 0
        if cur:
            out.append(_RowGroupSpan(f, cur))
        return out

    # footer reads are I/O-bound and independent — serial planning cost a
    # measured 5 s driver-idle gap on a 200-file input
    with ThreadPoolExecutor(max_workers=16) as ex:
        return [p for fp in ex.map(_file_parts, files) for p in fp]


class OsmDocumentsDataSource(DataSource):
    """`spark.read.format("osm_documents").option("path", ...)` →
    parsed minimal entities (entity, osm_id, lat, lon, lastchange, tags,
    refs)."""

    @classmethod
    def name(cls) -> str:
        return "osm_documents"

    def schema(self):
        return ENTITY_MIN_SCHEMA

    def reader(self, schema) -> DataSourceReader:
        return _OsmDocumentsReader(self.options)


class _OsmDocumentsReader(DataSourceReader):
    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("osm_documents source requires .option('path', ...)")
        self.target_bytes = int(options.get("target_bytes", _TARGET_BYTES))
        self.batch_rows = int(options.get("batch_rows", 16384))

    def partitions(self):
        return _plan_partitions(self.path, self.target_bytes)

    def read(self, partition: _RowGroupSpan):
        from .parser import _parse_batch

        pf = pq.ParquetFile(partition.path)
        for batch in pf.iter_batches(
            batch_size=self.batch_rows,
            row_groups=partition.row_groups,
            columns=["doc_id", "spans"],
        ):
            if batch.num_rows:
                yield _parse_batch(batch, minimal=True)


def register(spark) -> None:
    spark.dataSource.register(OsmDocumentsDataSource)


def parsed_documents(spark, path: str):
    """Worker-side read+parse of the documents table (minimal projection)."""
    register(spark)
    return spark.read.format("osm_documents").option("path", path).load()
