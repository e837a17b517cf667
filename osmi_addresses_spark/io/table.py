"""Iceberg-lite table store: partitioned Parquet + JSON manifest with
per-partition lineage and metrics (SURVEY.md §7: no Iceberg runtime jar in
this sandbox; the real `iceberg-spark-runtime` swap-in point is `write`/
`read` below).

Provides the north-rule requirements:
- atomic per-table commit (manifest written last, via tempfile rename),
- per-partition lineage + row-count metrics in the manifest,
- resumable re-runs: `write_once` skips tables whose manifest matches the
  input fingerprint (a re-run after a crash recomputes only missing tables);
  with no input to fingerprint it always writes,
- versioned snapshots (Iceberg's snapshot model in miniature): every write
  lands in a fresh `<table>.snapshots/v000NN` directory and the pointer
  manifest flips to it atomically LAST — the previous committed version is
  never touched, so a crash mid-write leaves the prior snapshot fully
  readable. `read(..., version=N)` time-travels, `versions()`
  lists snapshots, and `vacuum(keep=K)` retires old data dirs.

Wide shared intermediates (parsed entities, assembled way geometries) are
checkpointed here so every downstream consumer gets a column-pruned parquet
scan instead of a racy in-memory cache rebuild.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import time

from pyspark.sql import DataFrame, SparkSession


def _fingerprint(path: str) -> dict:
    """Cheap lineage fingerprint of an input dataset path: size and
    nanosecond mtime of every file under it, keyed by relative path, so a
    change inside a partition subdirectory (`region=a/part-*.parquet`)
    changes the fingerprint too."""
    out = {}
    if os.path.isdir(path):
        for dirpath, _, filenames in os.walk(path):
            for f in filenames:
                fp = os.path.join(dirpath, f)
                st = os.stat(fp)
                out[os.path.relpath(fp, path)] = [st.st_size, st.st_mtime_ns]
    elif os.path.isfile(path):
        st = os.stat(path)
        out[os.path.basename(path)] = [st.st_size, st.st_mtime_ns]
    return out


class TableStore:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _snapdir(self, name: str) -> str:
        """The table's snapshot container, holding one `v000NN` data dir
        per version."""
        return os.path.join(self.root, f"{name}.snapshots")

    def _dir(self, name: str, version: int | None = None) -> str:
        """Data directory of a snapshot (default: the current one)."""
        m = self.manifest(name)
        if version is None:
            if m is None:
                return os.path.join(self.root, name)
            return os.path.join(self.root, m["version_dir"])
        snaps = (m or {}).get("snapshots", {})
        key = str(version)
        if key not in snaps:
            raise KeyError(
                f"{name}: no snapshot v{version} "
                f"(have {sorted(int(k) for k in snaps)})"
            )
        return os.path.join(self.root, snaps[key]["version_dir"])

    def _manifest_path(self, name: str) -> str:
        return os.path.join(self.root, f"{name}.manifest.json")

    def manifest(self, name: str) -> dict | None:
        p = self._manifest_path(name)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def exists(self, name: str, lineage: dict | None = None) -> bool:
        m = self.manifest(name)
        if m is None:
            return False
        if lineage is not None and m.get("lineage") != lineage:
            return False
        return True

    def write(
        self,
        name: str,
        df: DataFrame,
        partition_by: list[str] | None = None,
        lineage: dict | None = None,
        options: dict | None = None,
    ) -> str:
        """Write + commit a new snapshot. The data lands in a fresh
        version directory first; the pointer manifest (the commit point)
        is renamed into place last. The previously committed version is
        never modified or deleted here — a crash at ANY point leaves the
        prior snapshot fully readable (an orphaned half-written version
        dir is reclaimed by the next write attempt or `vacuum`)."""
        prev = self.manifest(name)
        ver = (prev["version"] if prev else 0) + 1
        rel = f"{name}.snapshots/v{ver:05d}"
        path = os.path.join(self.root, rel)
        if os.path.exists(path):  # crashed earlier attempt at this version
            shutil.rmtree(path)
        os.makedirs(self._snapdir(name), exist_ok=True)
        t0 = time.time()
        # v1 committer for committed tables: task attempts write under
        # _temporary/ and only the job commit renames them into place, so a
        # failed/retried task attempt can never leak files into the table
        # (the session default is the faster v2 committer, which is safe
        # only for scratch/shuffle-like output). The option lands in the
        # write job's hadoop conf (newHadoopConfWithOptions).
        w = df.write.mode("errorifexists").option(  # osmi/main.cpp:50-57 semantics
            "mapreduce.fileoutputcommitter.algorithm.version", "1"
        )
        for k, v in (options or {}).items():
            w = w.option(k, v)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(path)
        elapsed = round(time.time() - t0, 3)
        # per-partition metrics from the written files (row counts come from
        # parquet footers — metadata reads only, no data scan)
        import pyarrow.parquet as _pq

        parts: dict[str, dict] = {}
        for dirpath, dirnames, filenames in os.walk(path):
            # never count files from in-flight/aborted task attempts
            dirnames[:] = [d for d in dirnames if not d.startswith("_")]
            rel = os.path.relpath(dirpath, path)
            pfiles = [
                f for f in filenames
                if f.endswith(".parquet") and f.startswith("part-")
            ]
            if not pfiles:
                continue
            nbytes = sum(os.path.getsize(os.path.join(dirpath, f)) for f in pfiles)
            nrows = 0
            for f in pfiles:
                try:
                    nrows += _pq.ParquetFile(os.path.join(dirpath, f)).metadata.num_rows
                except Exception:
                    nrows = -1
                    break
            parts[rel] = {"files": len(pfiles), "bytes": nbytes, "rows": nrows}
        committed_at = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
        rel_posix = f"{name}.snapshots/v{ver:05d}"
        snapshots = dict(prev.get("snapshots", {})) if prev else {}
        snapshots[str(ver)] = {
            "version_dir": rel_posix,
            "committed_at": committed_at,
            "write_seconds": elapsed,
            "partitions": parts,
            "lineage": lineage or {},
        }
        manifest = {
            "table": name,
            "version": ver,
            "version_dir": rel_posix,
            "write_seconds": elapsed,
            "committed_at": committed_at,
            "schema": df.schema.jsonValue(),
            "partition_by": partition_by or [],
            "partitions": parts,
            "lineage": lineage or {},
            "write_options": options or {},
            "snapshots": snapshots,
        }
        fd, tmp = tempfile.mkstemp(dir=self.root, suffix=".manifest.tmp")
        with os.fdopen(fd, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, self._manifest_path(name))
        return path

    def write_once(
        self,
        name: str,
        df_factory,
        source_path: str | None = None,
        partition_by: list[str] | None = None,
    ) -> str:
        """Resumable write: skip if a committed manifest matches the source
        fingerprint; otherwise (re)compute. With no `source_path` there is
        nothing to match, so the table is always rewritten. df_factory is
        called lazily."""
        if not source_path:
            return self.write(name, df_factory(), partition_by=partition_by)
        lineage = {"source": source_path, "inputs": _fingerprint(source_path)}
        if self.exists(name, lineage):
            return self._dir(name)
        return self.write(name, df_factory(), partition_by=partition_by, lineage=lineage)

    def read(
        self, spark: SparkSession, name: str, version: int | None = None
    ) -> DataFrame:
        """Read the current snapshot, or time-travel to `version`."""
        return spark.read.parquet(self._dir(name, version))

    def versions(self, name: str) -> list[int]:
        """Committed snapshot versions, oldest first (data dirs may have
        been vacuumed for all but the retained tail)."""
        m = self.manifest(name) or {}
        return sorted(int(k) for k in m.get("snapshots", {}))

    def vacuum(self, name: str, keep: int = 1) -> list[int]:
        """Retire all but the newest `keep` snapshots: the pointer manifest
        is pruned FIRST (atomic replace), then the retired version dirs are
        deleted — a crash in between leaves unreferenced dirs, which the
        orphan sweep below reclaims on the NEXT vacuum (it deletes any
        v-dir in the snapshot container that no committed snapshot
        references, including half-written dirs from crashed writes). The
        current version always survives. Returns the retired version
        numbers."""
        m = self.manifest(name)
        if not m:
            return []
        snaps = m.get("snapshots", {})
        vers = sorted(int(k) for k in snaps)
        keep_set = set(vers[-max(keep, 1):]) | {m["version"]}
        drop = [v for v in vers if v not in keep_set]
        dirs = [
            os.path.join(self.root, snaps[str(v)]["version_dir"]) for v in drop
        ]
        if drop:
            m["snapshots"] = {
                k: v for k, v in snaps.items() if int(k) not in set(drop)
            }
            fd, tmp = tempfile.mkstemp(dir=self.root, suffix=".manifest.tmp")
            with os.fdopen(fd, "w") as f:
                json.dump(m, f, indent=1)
            os.replace(tmp, self._manifest_path(name))
        for d in dirs:
            shutil.rmtree(d, ignore_errors=True)
        # orphan sweep: v-dirs no committed snapshot references (crashed
        # writes, or dirs whose delete above was interrupted last time)
        sdir = self._snapdir(name)
        referenced = {
            os.path.basename(s["version_dir"]) for s in m["snapshots"].values()
        }
        if os.path.isdir(sdir):
            for entry in os.listdir(sdir):
                if entry.startswith("v") and entry not in referenced:
                    shutil.rmtree(os.path.join(sdir, entry), ignore_errors=True)
        return drop
