"""Native OSM PBF ingestion — completes the reference's input-format front
door (`/root/reference/osmi/main.cpp:73` accepts .osm and .osm.pbf via
`osmium/io/any_input.hpp`). No protobuf runtime ships in this container, so
the wire format is decoded directly (public spec: fileformat.proto /
osmformat.proto — varint/zigzag/packed fields, zlib blobs).

Parallelism model mirrors libosmium's blob-parallel decode, Spark-first:

1. a cheap driver-side scan reads only the 4-byte BlobHeader lengths and
   seeks blob-to-blob (touches ~32 bytes per ~8 MB blob) to build a
   (path, offset, size) blob index, rejecting framing that overruns the
   file;
2. the index parallelizes: one task per blob, each decoding its byte range
   independently (`mapInPandas`) into the same minimal entity rows the
   span parser produces. A planet.pbf (~1500 blobs) therefore decodes with
   full cluster parallelism — not per-file like plain XML.

Decoded per entity: id, lat/lon (granularity + offset applied), tags from
the per-block string table, way refs (delta-coded sint64), timestamp → ISO
string (date_granularity applied). Relations are skipped — the reference
registers no relation handler (`osmi/Writer.hpp:51`).

`write_osm_pbf` is the test-side encoder (dense nodes + ways, zlib blobs).
"""

from __future__ import annotations

import datetime
import struct
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..schemas import ENTITY_MIN_SCHEMA

# Features this decoder understands; an input header declaring anything
# else as *required* is rejected loudly (osmformat spec: readers MUST NOT
# process files whose required_features they don't implement).
SUPPORTED_FEATURES = {"OsmSchema-V0.6", "DenseNodes"}

# -------------------------------------------------------------- wire format

def _uvarint(buf: bytes, i: int) -> tuple[int, int]:
    v = shift = 0
    while True:
        b = buf[i]
        i += 1
        v |= (b & 0x7F) << shift
        if not b & 0x80:
            return v, i
        shift += 7


def _zigzag(v: int) -> int:
    return (v >> 1) ^ -(v & 1)


def _fields(buf: bytes) -> Iterator[tuple[int, int, object]]:
    """Yield (field_no, wire_type, value) over one message's bytes."""
    i, n = 0, len(buf)
    while i < n:
        tag, i = _uvarint(buf, i)
        f, wt = tag >> 3, tag & 7
        if wt == 0:
            v, i = _uvarint(buf, i)
            yield f, 0, v
        elif wt == 2:
            ln, i = _uvarint(buf, i)
            yield f, 2, buf[i : i + ln]
            i += ln
        elif wt == 5:
            yield f, 5, buf[i : i + 4]
            i += 4
        elif wt == 1:
            yield f, 1, buf[i : i + 8]
            i += 8
        else:  # pragma: no cover - groups are absent from OSM PBF
            raise ValueError(f"unsupported wire type {wt}")


def _packed_py(buf: bytes, signed: bool = False, delta: bool = False) -> list[int]:
    """Reference python-loop decoder (kept for the micro-bench and as the
    correctness oracle for the vectorized scanner)."""
    out, i, acc = [], 0, 0
    while i < len(buf):
        v, i = _uvarint(buf, i)
        if signed:
            v = _zigzag(v)
        if delta:
            acc += v
            out.append(acc)
        else:
            out.append(v)
    return out


def _packed(buf: bytes, signed: bool = False, delta: bool = False) -> np.ndarray:
    """numpy-vectorized packed-varint decoder — the hot loop of blob decode
    (ids/lats/lons/refs/kv indexes dominate a planet file's bytes; the
    per-byte python loop capped ingest at ~MB/s/core).

    Continuation bits mark varint boundaries; each byte contributes its low
    7 bits shifted by 7×(position within its varint); `bitwise_or.reduceat`
    over the varint start offsets folds the bytes — no python-level loop.
    Valid OSM varints are ≤10 bytes (64-bit), so shifts stay < 64.
    """
    a = np.frombuffer(buf, dtype=np.uint8)
    if a.size == 0:
        return np.zeros(0, dtype=np.int64)
    ends_idx = np.flatnonzero((a & 0x80) == 0)  # last byte of each varint
    if ends_idx.size == 0 or ends_idx[-1] != a.size - 1:
        raise ValueError("truncated packed field: trailing bytes form no varint")
    starts = np.empty(ends_idx.size, dtype=np.int64)
    starts[0] = 0
    starts[1:] = ends_idx[:-1] + 1
    counts = ends_idx - starts + 1
    if counts.max() > 10:
        # a shift >= 64 on uint64 is undefined in numpy (platform garbage);
        # fail loudly like the python reference path instead of mis-decoding
        raise ValueError(
            f"malformed packed field: varint of {int(counts.max())} bytes (max 10)"
        )
    # byte position within its varint = index - start-of-its-varint
    pos = np.arange(a.size, dtype=np.uint64) - np.repeat(
        starts.astype(np.uint64), counts
    )
    vals = (a.astype(np.uint64) & np.uint64(0x7F)) << (np.uint64(7) * pos)
    out = np.bitwise_or.reduceat(vals, starts)
    if signed:
        out = ((out >> np.uint64(1)) ^ (np.uint64(0) - (out & np.uint64(1)))).astype(
            np.int64
        )
    else:
        out = out.astype(np.int64)
    if delta:
        out = np.cumsum(out)
    return out


def _iso(ts_seconds: float) -> str:
    return datetime.datetime.fromtimestamp(
        int(ts_seconds), tz=datetime.timezone.utc
    ).strftime("%Y-%m-%dT%H:%M:%SZ")


# ---------------------------------------------------------------- blob scan

def _open_ranged(path: str):
    """Seekable binary reader for ``path`` — POSIX open() for plain local
    paths (the fast path), pyarrow.fs for any URI (file://, s3://, gs://,
    hdfs:// where libhdfs is present). pyarrow NativeFile is read/seek/tell
    compatible with a python file object, works in executor Python workers
    (no JVM gateway there, so py4j Hadoop FileSystem is driver-only and
    useless for the per-task fetch), and its object-store readers issue
    true ranged GETs on seek+read. file:// deliberately routes through
    pyarrow.fs so the remote code path is exercised by local tests."""
    if "://" in path:
        from pyarrow import fs as pafs

        fsys, p = pafs.FileSystem.from_uri(path)
        return fsys.open_input_file(p)
    return open(path, "rb")


def scan_blobs(path: str) -> list[tuple[str, int, int, str]]:
    """→ [(path, offset, size, type)] touching only headers (fileformat.proto:
    int32 header_len | BlobHeader{type=1, datasize=3} | blob bytes).

    The framing is checked against the file size, so a truncated or corrupt
    file raises ValueError (naming the path and offset) on the driver,
    before any decode task runs: 1-3 trailing bytes, a BlobHeader length
    <= 0 or past EOF, or a blob whose declared datasize runs past EOF."""
    out = []
    with _open_ranged(path) as f:
        n = f.seek(0, 2)
        i = f.seek(0)
        while i < n:
            if i + 4 > n:
                raise ValueError(
                    f"{path}: truncated .osm.pbf — {n - i} trailing byte(s) "
                    f"where a 4-byte BlobHeader length was expected at offset {i}"
                )
            (hlen,) = struct.unpack(">i", f.read(4))
            i += 4
            if hlen <= 0 or i + hlen > n:
                raise ValueError(
                    f"{path}: corrupt/truncated .osm.pbf — BlobHeader length "
                    f"{hlen} at offset {i - 4} exceeds file of {n} bytes"
                )
            header = f.read(hlen)
            i += hlen
            btype, datasize = "", 0
            for fno, _wt, v in _fields(header):
                if fno == 1:
                    btype = v.decode()
                elif fno == 3:
                    datasize = v
            if i + datasize > n:
                raise ValueError(
                    f"{path}: truncated .osm.pbf — blob '{btype}' declares "
                    f"{datasize} bytes at offset {i} but only {n - i} remain"
                )
            out.append((path, i, datasize, btype))
            i = f.seek(i + datasize)
    return out


def _blob_payload(blob: bytes) -> bytes:
    raw = None
    for fno, _wt, v in _fields(blob):
        if fno == 1:
            raw = v
        elif fno == 3:
            raw = zlib.decompress(v)
    if raw is None:
        raise ValueError("blob carries no raw/zlib payload (unsupported codec)")
    return raw


def _blob_bytes(path: str, offset: int, size: int) -> bytes:
    with _open_ranged(path) as f:
        f.seek(offset)
        blob = f.read(size)
    return _blob_payload(blob)


# ---------------------------------------------------------- block decoding

def _decode_primitive_block(data: bytes) -> list[dict]:
    strings: list[str] = []
    groups: list[bytes] = []
    gran, lat_off, lon_off, date_gran = 100, 0, 0, 1000
    for fno, _wt, v in _fields(data):
        if fno == 1:
            strings = [s.decode() for _f, _w, s in _fields(v) if _f == 1]
        elif fno == 2:
            groups.append(v)
        elif fno == 17:
            gran = v
        elif fno == 18:
            date_gran = v
        elif fno == 19:
            lat_off = v
        elif fno == 20:
            lon_off = v

    rows: list[dict] = []

    def coord(raw: int, off: int) -> float:
        return 1e-9 * (off + gran * raw)

    for g in groups:
        for fno, _wt, v in _fields(g):
            if fno == 2:  # DenseNodes
                ids = lats = lons = kvs = None
                tss: list[int] | None = None
                for f2, _w2, v2 in _fields(v):
                    if f2 == 1:
                        ids = _packed(v2, signed=True, delta=True)
                    elif f2 == 5:  # DenseInfo
                        for f3, _w3, v3 in _fields(v2):
                            if f3 == 2:
                                tss = _packed(v3, signed=True, delta=True)
                    elif f2 == 8:
                        lats = _packed(v2, signed=True, delta=True)
                    elif f2 == 9:
                        lons = _packed(v2, signed=True, delta=True)
                    elif f2 == 10:
                        kvs = _packed(v2)
                ki = 0
                n_kvs = 0 if kvs is None else len(kvs)
                for j, nid in enumerate([] if ids is None else ids):
                    tags = {}
                    while ki < n_kvs and kvs[ki] != 0:
                        tags[strings[kvs[ki]]] = strings[kvs[ki + 1]]
                        ki += 2
                    ki += 1  # skip the 0 terminator
                    rows.append(
                        {
                            "entity": "node",
                            "osm_id": int(nid),
                            "lat": coord(int(lats[j]), lat_off),
                            "lon": coord(int(lons[j]), lon_off),
                            "lastchange": _iso(int(tss[j]) * date_gran / 1000)
                            if tss is not None
                            else "",
                            "tags": tags,
                            "refs": [],
                        }
                    )
            elif fno in (1, 3):  # Node (non-dense) | Way
                ent = {"keys": [], "vals": [], "ts": None}
                wid = lat = lon = None
                refs: list[int] | np.ndarray = []
                for f2, _w2, v2 in _fields(v):
                    if f2 == 1:
                        wid = _zigzag(v2) if fno == 1 else v2
                    elif f2 == 2:
                        ent["keys"] = _packed(v2)
                    elif f2 == 3:
                        ent["vals"] = _packed(v2)
                    elif f2 == 4:  # Info
                        for f3, _w3, v3 in _fields(v2):
                            if f3 == 2:
                                ent["ts"] = v3
                    elif f2 == 8:
                        if fno == 1:
                            lat = _zigzag(v2)
                        else:
                            refs = _packed(v2, signed=True, delta=True)
                    elif f2 == 9:
                        lon = _zigzag(v2)
                tags = {
                    strings[k]: strings[val]
                    for k, val in zip(ent["keys"], ent["vals"])
                }
                ts = _iso(ent["ts"] * date_gran / 1000) if ent["ts"] else ""
                if fno == 1:
                    rows.append(
                        {
                            "entity": "node", "osm_id": wid,
                            "lat": coord(lat, lat_off), "lon": coord(lon, lon_off),
                            "lastchange": ts, "tags": tags, "refs": [],
                        }
                    )
                else:
                    rows.append(
                        {
                            "entity": "way", "osm_id": wid, "lat": None,
                            "lon": None, "lastchange": ts, "tags": tags,
                            "refs": refs.tolist() if isinstance(refs, np.ndarray) else refs,
                        }
                    )
            # fno == 4 (relations) skipped by design
    return rows


# ------------------------------------------------------------------ reader

def _check_header(path: str, offset: int, size: int) -> None:
    """Decode an OSMHeader blob and reject unknown required_features
    (HeaderBlock field 4) — the osmformat contract for readers."""
    data = _blob_bytes(path, offset, size)
    required = [v.decode() for f, _w, v in _fields(data) if f == 4]
    unknown = [f for f in required if f not in SUPPORTED_FEATURES]
    if unknown:
        raise ValueError(
            f"{path}: header requires unsupported features {unknown} "
            f"(supported: {sorted(SUPPORTED_FEATURES)})"
        )


def read_osm_pbf(spark: SparkSession, path: str) -> DataFrame:
    """path (one .osm.pbf file, or a dir/glob of them; plain local path or
    any pyarrow.fs URI — file://, s3://, gs://, hdfs:// with libhdfs) →
    minimal entities DataFrame; one Spark task per OSMData blob.

    Blob ranges are read via `_open_ranged`: POSIX open() for plain paths,
    pyarrow.fs ranged reads for URIs — on both the driver (header scan) and
    the executors (per-task blob fetch), mirroring the reference's
    any-readable-file front door (/root/reference/osmi/main.cpp:73). Each
    file's OSMHeader (when present) is validated: unknown required_features
    fail loudly before any decode work is scheduled.
    """
    import glob as _glob
    import os

    if "://" in path:
        from pyarrow import fs as pafs

        scheme = path.split("://", 1)[0]
        fsys, p = pafs.FileSystem.from_uri(path)
        info = fsys.get_file_info(p)
        if info.type == pafs.FileType.Directory:
            sel = pafs.FileSelector(p, recursive=False)
            paths = sorted(
                f"{scheme}://{fi.path}"
                for fi in fsys.get_file_info(sel)
                if fi.is_file and fi.path.endswith(".pbf")
            )
        else:
            paths = [path]
    elif os.path.isdir(path):
        paths = sorted(_glob.glob(os.path.join(path, "*.pbf")))
    else:
        paths = sorted(_glob.glob(path)) or [path]
    blobs = [b for p in paths for b in scan_blobs(p)]
    for p, off, size, btype in blobs:
        if btype == "OSMHeader":
            _check_header(p, off, size)
    index = [b for b in blobs if b[3] == "OSMData"]
    if not index:
        raise ValueError(f"no OSMData blobs under {path}")
    idx_df = spark.createDataFrame(
        [(p, o, s) for p, o, s, _t in index], "path string, off long, size long"
    ).repartition(min(len(index), 256))

    cols = [f.name for f in ENTITY_MIN_SCHEMA.fields]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for p, off, size in zip(pdf["path"], pdf["off"], pdf["size"]):
                rows = _decode_primitive_block(_blob_bytes(p, int(off), int(size)))
                if rows:
                    yield pd.DataFrame(rows, columns=cols)

    return idx_df.mapInPandas(gen, schema=ENTITY_MIN_SCHEMA)


# ----------------------------------------------------------- test encoder

def _enc_uvarint(v: int) -> bytes:
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _enc_zigzag(v: int) -> int:
    return (v << 1) ^ (v >> 63) if v < 0 else v << 1


def _enc_field(fno: int, wt: int, payload: bytes | int) -> bytes:
    head = _enc_uvarint(fno << 3 | wt)
    if wt == 0:
        return head + _enc_uvarint(payload)
    return head + _enc_uvarint(len(payload)) + payload


def _enc_packed(vals: list[int], signed: bool = False, delta: bool = False) -> bytes:
    out, prev = bytearray(), 0
    for v in vals:
        d = v - prev if delta else v
        if delta:
            prev = v
        out += _enc_uvarint(_enc_zigzag(d) if signed else d)
    return bytes(out)


def write_osm_pbf(path: str, nodes: list[dict], ways: list[dict], blob_nodes: int = 4000) -> str:
    """Minimal OSM PBF encoder (dense nodes + ways, zlib OSMData blobs) for
    tests/fixtures. Timestamps: ISO strings from the fixture world."""

    def ts_epoch(ts: str) -> int:
        return int(
            datetime.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%SZ")
            .replace(tzinfo=datetime.timezone.utc)
            .timestamp()
        )

    def string_table(items: list[str]) -> tuple[bytes, dict[str, int]]:
        table = [""] + items
        idx = {s: i for i, s in enumerate(table)}
        body = b"".join(_enc_field(1, 2, s.encode()) for s in table)
        return _enc_field(1, 2, body), idx

    def node_block(chunk: list[dict]) -> bytes:
        strs, idx = string_table(
            sorted({x for n in chunk for kv in n["tags"].items() for x in kv})
        )
        kvs: list[int] = []
        for n in chunk:
            for k, v in n["tags"].items():
                kvs += [idx[k], idx[v]]
            kvs.append(0)
        dense = (
            _enc_field(1, 2, _enc_packed([n["id"] for n in chunk], True, True))
            + _enc_field(
                5, 2,
                _enc_field(2, 2, _enc_packed([ts_epoch(n["ts"]) for n in chunk], True, True)),
            )
            + _enc_field(8, 2, _enc_packed([int(round(n["lat"] * 1e7)) for n in chunk], True, True))
            + _enc_field(9, 2, _enc_packed([int(round(n["lon"] * 1e7)) for n in chunk], True, True))
            + _enc_field(10, 2, _enc_packed(kvs))
        )
        group = _enc_field(2, 2, dense)
        return strs + _enc_field(2, 2, group) + _enc_field(17, 0, 100) + _enc_field(18, 0, 1000)

    def way_block(chunk: list[dict]) -> bytes:
        strs, idx = string_table(
            sorted({x for w in chunk for kv in w["tags"].items() for x in kv})
        )
        group = b""
        for w in chunk:
            body = (
                _enc_field(1, 0, w["id"])
                + _enc_field(2, 2, _enc_packed([idx[k] for k in w["tags"]]))
                + _enc_field(3, 2, _enc_packed([idx[v] for v in w["tags"].values()]))
                + _enc_field(4, 2, _enc_field(2, 0, ts_epoch(w["ts"])))
                + _enc_field(8, 2, _enc_packed(w["refs"], True, True))
            )
            group += _enc_field(3, 2, body)
        return strs + _enc_field(2, 2, group) + _enc_field(17, 0, 100) + _enc_field(18, 0, 1000)

    def blob(block: bytes, btype: bytes = b"OSMData") -> bytes:
        z = zlib.compress(block)
        b = _enc_field(2, 0, len(block)) + _enc_field(3, 2, z)
        header = _enc_field(1, 2, btype) + _enc_field(3, 0, len(b))
        return struct.pack(">i", len(header)) + header + b

    # leading OSMHeader declaring required_features — spec-conformant files
    # must carry one so external readers (osmium/osmosis) accept them
    header_block = (
        _enc_field(4, 2, b"OsmSchema-V0.6")
        + _enc_field(4, 2, b"DenseNodes")
        + _enc_field(16, 2, b"osmi_addresses_spark")
    )
    with open(path, "wb") as f:
        f.write(blob(header_block, b"OSMHeader"))
        for i in range(0, len(nodes), blob_nodes):
            f.write(blob(node_block(nodes[i : i + blob_nodes])))
        for i in range(0, len(ways), blob_nodes):
            if ways[i : i + blob_nodes]:
                f.write(blob(way_block(ways[i : i + blob_nodes])))
    return path
