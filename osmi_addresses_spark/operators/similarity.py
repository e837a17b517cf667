"""Similarity search over an embedding column (array<float>).

Two tiers, as a training-data pipeline needs them:

- exact brute-force cosine top-k (driver_queries.s_ann_topk): the oracle-
  checkable baseline — O(Q·N) dot products, all JVM Column expressions.
- `ann_ivf_topk` (here): the scale path — IVF coarse quantization. Vectors
  are assigned to their nearest of `nlist` centroids (one shuffle-free
  Arrow-batched matmul per partition); each query probes its `nprobe`
  closest centroid lists and brute-forces only those buckets. Candidate
  volume drops from Q·N to ~Q·N·(nprobe/nlist).

Centroid construction, two modes:

- seeds (default): the first `nlist` vectors in md5(id)-hash order — fully
  deterministic AND exactly mirrorable in ANSI SQL, which is what makes the
  `ann_ivf` driver query oracle-checkable end-to-end (every similarity is
  rounded half-away-from-zero to 6 dp before any argmax/rank decision, so
  both engines take identical tie-break paths).
- k-means (`refine_iters > 0`): distributed Lloyd refinement — per-partition
  partial sums via mapInArrow, elementwise reduce via posexplode + hash
  aggregate (nlist×dim rows to the driver per iteration, kilobytes), then
  re-broadcast. Used by the scale path where nlist ≈ √N keeps bucket sizes
  ~√N (the recall tests exercise nlist > 256).

At 100 TB the same plan holds: centroids are a broadcast-sized side
(nlist·dim doubles), assignment is a narrow map, and the probe join is an
equi-join on centroid id — shuffle volume scales with the bucketed
candidates only.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _unit_rows(m: np.ndarray) -> np.ndarray:
    n = np.linalg.norm(m, axis=1, keepdims=True)
    n[n == 0] = 1.0
    return m / n


def _round_half_away(x: np.ndarray, digits: int = 6) -> np.ndarray:
    """Half-away-from-zero rounding — the semantics of Spark's F.round and
    DuckDB's round(); np.round is half-to-even and would diverge on exact
    .5 boundaries."""
    p = 10.0**digits
    return np.sign(x) * np.floor(np.abs(x) * p + 0.5) / p


# observability hook for tests: rows collected to the driver by the last
# seed_centroids call, by phase
_seed_stats: dict[str, int] = {}


def _seed_winners(slim: DataFrame, nlist: int, n: int):
    """The adaptive md5-prefix cutoff loop shared by both seeding paths:
    returns the ≤ nlist winning slim (h, i) rows, exactly the head of the
    global (md5, id) order."""
    frac = min(1.0, 4.0 * nlist / n)
    while True:
        if frac >= 1.0:
            return slim.orderBy("h", "i").limit(nlist).collect()
        # md5 hex is 32 lowercase hex chars: lexicographic == numeric order,
        # and comparing against an 8-char prefix thresholds on the top 32
        # bits (an 8-char string never equals a 32-char one, so h < cut iff
        # h[:8] < cut)
        cut = format(min(int(frac * 2**32) + 1, 2**32 - 1), "08x")
        cand = slim.filter(F.col("h") < cut)
        winners = cand.orderBy("h", "i").limit(nlist).collect()
        if len(winners) >= min(nlist, n):
            return winners
        frac *= 2.0


def seed_centroids(
    embeddings: DataFrame,
    nlist: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """First `nlist` vectors in (md5(id-as-string), id) order — a stable
    pseudo-random sample both engines can reproduce (Spark side here,
    ROW_NUMBER OVER the same ordering in the DuckDB oracle). Raw vectors;
    similarity to a centroid is full cosine, so normalization is irrelevant
    to the ordering.

    Driver-bounded: a naive ``orderBy(md5).limit(nlist)`` over the vectors
    plans as TakeOrderedAndProject — every partition ships its own top-nlist
    *vectors* to the driver merge, a multi-GB spike at the documented
    nlist≈√N sizing. Instead the exact nlist-th (md5, id) cutoff is found on
    slim key rows behind an adaptive md5-prefix pre-filter (md5 is uniform,
    so a prefix < ~4·nlist/N keeps the filtered set at ~4·nlist rows;
    doubled and retried on undersample — deterministic either way), and only
    the exact nlist winning vector rows are then fetched. Same selected set
    as the naive form by construction."""
    slim = embeddings.select(
        F.md5(F.col(id_col).cast("string")).alias("h"), F.col(id_col).alias("i")
    )
    n = slim.count()
    if n == 0:
        raise ValueError("seed_centroids: embeddings table is empty")
    winners = _seed_winners(slim, nlist, n)
    _seed_stats.clear()
    _seed_stats["slim_rows"] = len(winners)
    kmax_h, kmax_i = winners[-1]["h"], winners[-1]["i"]
    rows = (
        embeddings.select(
            F.md5(F.col(id_col).cast("string")).alias("h"),
            F.col(id_col).alias("i"),
            F.col(vec_col).alias("v"),
        )
        .filter(
            (F.col("h") < kmax_h)
            | ((F.col("h") == kmax_h) & (F.col("i") <= F.lit(kmax_i)))
        )
        .collect()
    )
    _seed_stats["vec_rows"] = len(rows)
    rows.sort(key=lambda r: (r["h"], r["i"]))
    rows = rows[:nlist]
    return np.array([r["v"] for r in rows], dtype=np.float64)


def _assign_batches(cn: np.ndarray, vec_field: str, out_name: str, top: int):
    """mapInArrow generator: append the argmax-cosine centroid id (top=1)
    or the top-`top` probe list. Similarities are rounded half-away to 6 dp
    before the argmax / sort so ties break identically to the SQL oracle
    (round DESC, centroid id ASC — np.argmax and kind='stable' argsort both
    take the first/lowest index on ties)."""
    cn_unit = _unit_rows(cn)

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if not batch.num_rows:
                continue
            col = batch.column(vec_field)
            if isinstance(col, pa.ChunkedArray):
                col = col.combine_chunks()
            offs = col.offsets.to_numpy().astype(np.int64)
            vals = np.asarray(col.values, dtype=np.float64)
            base = offs[0]
            vals = vals[base : offs[-1]]
            dim = cn.shape[1]
            m = vals.reshape(-1, dim)
            sims = _round_half_away(_unit_rows(m) @ cn_unit.T)  # batch × nlist
            if top == 1:
                out = pa.array(np.argmax(sims, axis=1).astype(np.int32))
                yield pa.RecordBatch.from_arrays(
                    [*batch.columns, out], names=[*batch.schema.names, out_name]
                )
            else:
                idx = np.argsort(-sims, axis=1, kind="stable")[:, :top].astype(
                    np.int32
                )
                lists = pa.FixedSizeListArray.from_arrays(
                    pa.array(idx.ravel()), top
                ).cast(pa.list_(pa.int32()))
                yield pa.RecordBatch.from_arrays(
                    [*batch.columns, lists], names=[*batch.schema.names, out_name]
                )

    return gen


def _assigned(embeddings: DataFrame, cn: np.ndarray, id_col: str, vec_col: str):
    base = embeddings.select(F.col(id_col).alias("n_id"), F.col(vec_col).alias("nv"))
    schema = T.StructType(
        list(base.schema.fields) + [T.StructField("centroid", T.IntegerType())]
    )
    return base.mapInArrow(_assign_batches(cn, "nv", "centroid", 1), schema)


def distributed_kmeans_centroids(
    embeddings: DataFrame,
    nlist: int,
    iters: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Spherical k-means over the FULL table (not a driver sample): each
    Lloyd iteration assigns via the broadcast centroid matrix (mapInArrow
    matmul, no shuffle), emits per-batch partial sums (centroid, count,
    vector-sum), and reduces them with posexplode + one hash aggregate —
    nlist×dim summary rows come back to the driver per iteration, never
    data rows. Empty clusters keep their previous centroid."""
    cn = seed_centroids(embeddings, nlist, id_col, vec_col)
    nlist = cn.shape[0]
    dim = cn.shape[1]
    src = embeddings.select(F.col(id_col).alias("n_id"), F.col(vec_col).alias("nv"))

    partial_schema = T.StructType(
        [
            T.StructField("centroid", T.IntegerType()),
            T.StructField("cnt", T.LongType()),
            T.StructField("vsum", T.ArrayType(T.DoubleType())),
        ]
    )

    for _ in range(iters):
        cn_unit = _unit_rows(cn)

        def partials(batches: Iterator[pa.RecordBatch], _cu=cn_unit):
            for batch in batches:
                if not batch.num_rows:
                    continue
                col = batch.column("nv")
                if isinstance(col, pa.ChunkedArray):
                    col = col.combine_chunks()
                offs = col.offsets.to_numpy().astype(np.int64)
                vals = np.asarray(col.values, dtype=np.float64)
                m = vals[offs[0] : offs[-1]].reshape(-1, dim)
                mu = _unit_rows(m)
                assign = np.argmax(mu @ _cu.T, axis=1)
                ids = np.unique(assign)
                sums = np.zeros((len(ids), dim))
                cnts = np.zeros(len(ids), dtype=np.int64)
                for j, c in enumerate(ids):
                    sel = assign == c
                    sums[j] = mu[sel].sum(axis=0)
                    cnts[j] = int(sel.sum())
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(ids.astype(np.int32)),
                        pa.array(cnts),
                        pa.array(list(sums), pa.list_(pa.float64())),
                    ],
                    names=["centroid", "cnt", "vsum"],
                )

        # two-level reduce: (centroid, pos) hash agg runs distributed, then
        # re-packs into ONE row per centroid (pos-sorted array) before the
        # collect — the driver receives ≤ nlist rows, not nlist×dim
        # (at nlist≈√N sizing, 10⁵ centroids × dim 256 ≈ 205 MB of doubles
        # either way, but nlist×dim Rows added ~100 B/row of overhead — a
        # multi-GB driver spike this packing removes)
        agg = (
            src.mapInArrow(partials, partial_schema)
            .select("centroid", "cnt", F.posexplode("vsum").alias("pos", "x"))
            .groupBy("centroid", "pos")
            .agg(F.sum("cnt").alias("n"), F.sum("x").alias("s"))
            .groupBy("centroid")
            .agg(
                F.max("n").alias("n"),  # n is per-centroid, duplicated per pos
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "s"))),
                    lambda t: t["s"],
                ).alias("vsum"),
            )
            .collect()
        )
        assert len(agg) <= nlist
        new_cn = cn.copy()
        counts = np.zeros(nlist, dtype=np.int64)
        acc = np.zeros((nlist, dim))
        for r in agg:
            acc[r["centroid"]] = np.asarray(r["vsum"], dtype=np.float64)
            counts[r["centroid"]] = r["n"]
        nz = counts > 0
        new_cn[nz] = acc[nz] / counts[nz, None]
        cn = _unit_rows(new_cn)
    return cn


def ann_ivf_topk(
    embeddings: DataFrame,
    k: int = 5,
    nlist: int | None = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_pred=None,
    refine_iters: int = 0,
) -> DataFrame:
    """IVF approximate top-k neighbours: (q_id, n_id, rank, score).

    ``nlist=None`` sizes the index as ~√N (one count job) so both the
    bucket count and the per-bucket candidate volume grow as √N.
    ``refine_iters > 0`` switches from SQL-mirrorable seed centroids to
    distributed k-means (better recall, no SQL oracle).
    ``query_pred``: Column predicate selecting the query rows (default
    ``vec_id < 5`` to mirror the exact baseline).
    """
    if query_pred is None:
        query_pred = F.col(id_col) < 5
    if nlist is None:
        n = embeddings.count()
        nlist = max(16, int(np.sqrt(n)))
    if refine_iters > 0:
        cn = distributed_kmeans_centroids(
            embeddings, nlist, iters=refine_iters, id_col=id_col, vec_col=vec_col
        )
    else:
        cn = seed_centroids(embeddings, nlist, id_col, vec_col)
    nprobe = min(nprobe, cn.shape[0])

    bucketed = _assigned(embeddings, cn, id_col, vec_col)

    q = embeddings.filter(query_pred).select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("qv")
    )
    schema_q = T.StructType(
        list(q.schema.fields)
        + [T.StructField("probes", T.ArrayType(T.IntegerType()))]
    )
    probed = q.mapInArrow(_assign_batches(cn, "qv", "probes", nprobe), schema_q)
    probed = probed.withColumn("centroid", F.explode("probes")).drop("probes")

    j = probed.join(bucketed, "centroid").filter(F.col("q_id") != F.col("n_id"))

    def dot(x, y):
        return F.aggregate(
            F.zip_with(x, y, lambda a, b: a.cast("double") * b.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    cos = dot(F.col("qv"), F.col("nv")) / (
        F.sqrt(dot(F.col("qv"), F.col("qv"))) * F.sqrt(dot(F.col("nv"), F.col("nv")))
    )
    j = j.withColumn("score", F.round(cos, 6))
    w = Window.partitionBy("q_id").orderBy(F.col("score").desc(), F.col("n_id").asc())
    return (
        j.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", "rank", "score")
    )
