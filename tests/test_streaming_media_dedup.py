"""Streaming operators (stateful dedup, interval join), SimHash /
embedding dedup and the bucketed as-of join."""

import os

import numpy as np

from osmi_addresses_spark.operators.dedup import (
    embedding_near_dups,
    simhash,
    simhash_near_dups,
)


def test_simhash_identical_and_different(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "the quick brown fox jumps over the lazy cat"),
            (4, "completely unrelated text about spark engines"),
        ],
        ["doc_id", "text"],
    )
    sigs = {r["doc_id"]: r["simhash"] for r in simhash(df).collect()}
    assert sigs[1] == sigs[2]
    h13 = bin(sigs[1] ^ sigs[3]).count("1")
    h14 = bin(sigs[1] ^ sigs[4]).count("1")
    assert h13 < h14

    pairs = simhash_near_dups(df, max_hamming=3).collect()
    keys = {(r["doc_a"], r["doc_b"]) for r in pairs}
    assert (1, 2) in keys
    assert (1, 4) not in keys


def test_embedding_near_dups(spark):
    rng = np.random.RandomState(0)
    base = rng.randn(4, 16).astype("float32")
    rows = []
    for i, v in enumerate(base):
        rows.append((i * 2, v.tolist()))
        rows.append((i * 2 + 1, (v + rng.randn(16).astype("float32") * 0.001).tolist()))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    pairs = embedding_near_dups(df, threshold=0.999)
    got = {(r["vec_a"], r["vec_b"]) for r in pairs.collect()}
    for i in range(4):
        assert (i * 2, i * 2 + 1) in got
    assert all(b - a == 1 for a, b in got)


def test_embedding_near_dups_dim768_parity(spark):
    """High-dim (768) embeddings — the realistic LLM-pipeline shape that the
    round-2 LSH rejected at dim>256 — against a numpy reference that
    regenerates the identical md5-rule hyperplanes and exact-cosine verify.
    Pair sets must match exactly (same banding, same threshold)."""
    from osmi_addresses_spark.operators.dedup import plane_signs

    dim, bands, rpb = 768, 4, 8
    rng = np.random.RandomState(42)
    base = rng.randn(6, dim)
    rows = []
    vecs = {}
    for i, v in enumerate(base):
        dup = v + rng.randn(dim) * 1e-4
        vecs[i * 2], vecs[i * 2 + 1] = v, dup
        rows.append((i * 2, [float(x) for x in v]))
        rows.append((i * 2 + 1, [float(x) for x in dup]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = {
        (r["vec_a"], r["vec_b"])
        for r in embedding_near_dups(df, threshold=0.999).collect()
    }

    signs = np.array(plane_signs(bands * rpb, max_dim=dim), dtype=np.float64)
    ids = sorted(vecs)
    mat = np.stack([vecs[i] for i in ids])
    bits = (mat @ signs.T) > 0  # (n, 32)
    weights = np.array([1 << r for r in range(rpb)])
    buckets = np.stack(
        [bits[:, b * rpb : (b + 1) * rpb] @ weights for b in range(bands)], axis=1
    )
    want = set()
    for ai in range(len(ids)):
        for bi in range(ai + 1, len(ids)):
            if not (buckets[ai] == buckets[bi]).any():
                continue
            a, b = mat[ai], mat[bi]
            cos = round(float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b))), 6)
            if cos >= 0.999:
                want.add((ids[ai], ids[bi]))
    assert got == want
    for i in range(6):
        assert (i * 2, i * 2 + 1) in got


def test_stream_dedup_exact_stateful_across_batches(spark, tmp_path):
    """applyInPandasWithState cross-batch dedup (round 5): one row per
    digest over the stream's LIFETIME. The second drop contains a dup of a
    batch-1 digest with a SMALLER doc_id — a stateless per-batch dedup (or
    a batch-global min) would emit id 0; the stateful operator must keep
    batch 1's representative (id 1), proving the state store carried the
    seen-set across the restart."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from osmi_addresses_spark.streaming.stateful import stream_dedup_exact

    src = tmp_path / "docs"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    schema = pa.schema([("doc_id", pa.int64()), ("digest", pa.string()),
                        ("text", pa.string())])

    def drop(name, rows):
        pq.write_table(
            pa.Table.from_pylist(rows, schema=schema), str(src / name)
        )

    drop("a.parquet", [
        {"doc_id": 1, "digest": "x", "text": "first-x"},
        {"doc_id": 5, "digest": "y", "text": "first-y"},
        {"doc_id": 7, "digest": "x", "text": "dup-x-same-batch"},
    ])

    sschema = "doc_id long, digest string, text string"
    stream = spark.readStream.schema(sschema).parquet(str(src))
    deduped = stream_dedup_exact(stream, key_col="digest", order_col="doc_id")
    assert deduped.isStreaming

    def drain():
        q = (
            deduped.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    drain()
    got1 = {(r["digest"], r["doc_id"]) for r in spark.read.parquet(out).collect()}
    assert got1 == {("x", 1), ("y", 5)}  # within-batch dup collapsed to min id

    # batch 2: a smaller-id dup of x (must be DROPPED) and a fresh z
    drop("b.parquet", [
        {"doc_id": 0, "digest": "x", "text": "dup-x-later-batch"},
        {"doc_id": 9, "digest": "z", "text": "first-z"},
    ])
    drain()
    got2 = {(r["digest"], r["doc_id"]) for r in spark.read.parquet(out).collect()}
    assert got2 == {("x", 1), ("y", 5), ("z", 9)}, got2


def test_stream_interval_join_across_batches(spark, tmp_path):
    """Stream-stream interval join joins ACROSS micro-batches through join
    state: batch 1 delivers only views (no output possible), batch 2
    delivers the clicks — the (click, view) pairs within the 1-hour horizon
    must then be emitted from the buffered view state, and a view older
    than the horizon must not match."""
    from datetime import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from osmi_addresses_spark.streaming.ingest import stream_interval_join

    src = tmp_path / "events"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    schema = pa.schema([
        ("event_id", pa.int64()), ("user_id", pa.int64()),
        ("ts", pa.timestamp("us")), ("event_type", pa.string()),
    ])

    def drop(name, rows):
        pq.write_table(pa.Table.from_pylist(rows, schema=schema),
                       str(src / name))

    t = lambda h, m: datetime(2024, 1, 1, h, m)  # noqa: E731
    drop("a.parquet", [
        {"event_id": 1, "user_id": 1, "ts": t(10, 0), "event_type": "view"},
        {"event_id": 2, "user_id": 1, "ts": t(8, 0), "event_type": "view"},
        {"event_id": 3, "user_id": 2, "ts": t(10, 15), "event_type": "view"},
    ])

    sschema = "event_id long, user_id long, ts timestamp_ntz, event_type string"
    clicks = (spark.readStream.schema(sschema).parquet(str(src))
              .filter("event_type = 'click'"))
    views = (spark.readStream.schema(sschema).parquet(str(src))
             .filter("event_type = 'view'"))
    joined = stream_interval_join(clicks, views, horizon="1 hour")
    assert joined.isStreaming

    def drain():
        q = (joined.writeStream.format("parquet")
             .option("path", out)
             .option("checkpointLocation", ckpt)
             .outputMode("append")
             .trigger(availableNow=True)
             .start())
        q.awaitTermination(180)

    drain()
    import os
    got1 = (spark.read.parquet(out).collect()
            if any(f.endswith(".parquet") for f in os.listdir(out))
            else [])
    assert got1 == []  # views only — nothing to join yet

    drop("b.parquet", [
        {"event_id": 10, "user_id": 1, "ts": t(10, 30), "event_type": "click"},
        {"event_id": 11, "user_id": 2, "ts": t(10, 20), "event_type": "click"},
    ])
    drain()
    got2 = {(r["click_id"], r["view_id"], r["lag_us"])
            for r in spark.read.parquet(out).collect()}
    # view 2 (08:00) is outside click 10's horizon — must NOT appear
    assert got2 == {(10, 1, 30 * 60 * 1_000_000), (11, 3, 5 * 60 * 1_000_000)}, got2


def test_asof_bucketed_matches_plain_on_skewed_data(spark):
    """asof_join_bucketed == asof_join row-for-row, including on a hot key
    whose history dwarfs every other key's, ties at the bucket boundary,
    equal-timestamp ties, and left rows with no match at all."""
    import datetime as dt

    from osmi_addresses_spark.operators.asof import asof_join, asof_join_bucketed

    rows = []
    eid = 0
    base = dt.datetime(2024, 3, 1)
    # hot key 7: 4000 interleaved rows across ~6 days
    for i in range(4000):
        rows.append((eid, 7, base + dt.timedelta(minutes=2 * i),
                     "click" if i % 3 == 0 else "view"))
        eid += 1
    # cold keys: sparse, some with clicks before any view (no match),
    # some with a view exactly at midnight (bucket boundary) and a click
    # the next instant, plus equal-ts click/view pairs
    for k in range(20):
        rows.append((eid, k, base + dt.timedelta(days=1), "click")); eid += 1
        rows.append((eid, k, base + dt.timedelta(days=2), "view")); eid += 1
        rows.append((eid, k, base + dt.timedelta(days=2), "click")); eid += 1
        rows.append((eid, k, base + dt.timedelta(days=3), "click")); eid += 1
    # boundary: view at exactly day 4 00:00, click one microsecond later
    rows.append((eid, 99, dt.datetime(2024, 3, 4), "view")); eid += 1
    rows.append((eid, 99, dt.datetime(2024, 3, 4, 0, 0, 0, 1), "click")); eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp_ntz, event_type string"
    )
    l = df.filter("event_type = 'click'")
    r = df.filter("event_type = 'view'")
    plain = {tuple(x) for x in
             asof_join(l, r, "user_id", "ts", "event_id").collect()}
    bucketed = {tuple(x) for x in
                asof_join_bucketed(l, r, "user_id", "ts", "event_id").collect()}
    assert plain == bucketed and len(plain) == l.count()
    # the no-match sentinel path is actually exercised, and so is the
    # carry path (cold keys' day-3 clicks match their day-2 views)
    assert any(t[2] == -1 for t in plain)
    assert any(t[1] < 20 and t[3] == 86_400_000_000 for t in plain)
    # bucket-start truncation edge: view exactly at 00:00 is in the same
    # bucket as the click one microsecond later
    boundary = [t for t in plain if t[1] == 99]
    assert boundary and boundary[0][3] == 1  # 1 microsecond lag
