"""Driver-contract query suite: every SURVEY.md §2 operator family exposed as
a (spark, sf_dir) → DataFrame callable with a DuckDB-equivalent oracle SQL.

Three families:
- relational parity queries over the driver star schema (the operator shapes
  of SURVEY §2.2-§2.6 re-expressed on region/…/lineitem/events),
- geospatial queries over the committed OSM-document fixture (the engine's
  native input; both Spark and DuckDB read the same parquet). The Spark
  side of each is a select over one memoized `plans.pipeline.run_all` per
  fixture — its layers, MapServer views and shared intermediates — so the
  oracles certify the pipeline that ships; DuckDB re-derives each relation
  independently from the raw spans,
- training-data-pipeline queries (dedup / similarity / text analysis /
  multimodal) over the driver documents/embeddings tables.

Column names are aliased identically on both sides; float outputs are rounded
to fixed digits so value-hashing is stable across engines.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .fixtures.generator import write_fixture
from .functions import geom_sql as G
from .io.table import TableStore
from .operators import layers as L
from .plans.pipeline import run_all
from .sources.parser import parse_documents

# --------------------------------------------------------------------------
# fixture plumbing: map the driver's sf dir to our committed OSM fixture
# --------------------------------------------------------------------------
_RUNS: dict[str, tuple[dict[str, DataFrame], TableStore]] = {}


def sf_of(sf_dir: str) -> float:
    base = os.path.basename(os.path.normpath(sf_dir))
    return float(base.replace("sf", "")) if base.startswith("sf") else 0.01


def fixture_path(sf_dir: str) -> str:
    return write_fixture(sf_of(sf_dir))


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(fixture_path(sf_dir), "documents.parquet"))


def _run(spark: SparkSession, sf_dir: str) -> tuple[dict[str, DataFrame], TableStore]:
    """The shipped pipeline over the fixture, built once per fixture the way
    submit_job builds it (TableStore checkpoints in a temp dir, mapInArrow
    parse of the documents parquet): (run_all's layers, views and shared
    intermediates, the store). Every geo query selects from it."""
    fx = fixture_path(sf_dir)
    if fx not in _RUNS:
        tmp = tempfile.mkdtemp(prefix="osmi_gate_")
        atexit.register(shutil.rmtree, tmp, ignore_errors=True)
        store = TableStore(tmp)
        _RUNS[fx] = (run_all(spark, _docs(spark, sf_dir), store=store, source_path=fx), store)
    return _RUNS[fx]


def _pipeline(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return _run(spark, sf_dir)[0]


# DuckDB prefix that parses the same fixture documents (spans → entities)
def _docs_glob(fx: str) -> str:
    """documents.parquet may be a single file or a directory of part files
    (fixtures/generator.write_fixture writes chunked directories)."""
    docs = f"{fx}/documents.parquet"
    if os.path.isdir(docs):
        docs = f"{docs}/*.parquet"
    return docs


def _fx_prefix(fx: str) -> str:
    return f"""
WITH sp AS (
  SELECT doc_id, UNNEST(spans) AS s
  FROM read_parquet('{_docs_glob(fx)}')
), hdr AS (
  SELECT doc_id, string_split(s.text, ' ') AS p FROM sp WHERE s.kind = 'header'
), nd AS (
  SELECT doc_id, TRY_CAST(p[2] AS BIGINT) AS node_id, TRY_CAST(p[3] AS DOUBLE) AS lat,
         TRY_CAST(p[4] AS DOUBLE) AS lon, p[5] AS lastchange
  FROM hdr WHERE p[1] = 'node'
), wy AS (
  SELECT doc_id, TRY_CAST(p[2] AS BIGINT) AS way_id, p[3] AS lastchange
  FROM hdr WHERE p[1] = 'way'
), tg AS (
  SELECT doc_id, substr(s.text, 1, strpos(s.text, '=') - 1) AS k,
         substr(s.text, strpos(s.text, '=') + 1) AS v
  FROM sp WHERE s.kind = 'tag'
), rf AS (
  SELECT doc_id, TRY_CAST(s.text AS BIGINT) AS ref, s.offset AS off
  FROM sp WHERE s.kind = 'ref'
), wgeo AS (  -- J1 analog: refs joined to node locations, order preserved
  SELECT w.way_id, w.lastchange,
         list(struct_pack(lon := n.lon, lat := n.lat) ORDER BY r.off) AS coords,
         list(r.ref ORDER BY r.off) AS refs,
         bool_or(n.node_id IS NULL) AS dangling
  FROM wy w JOIN rf r USING (doc_id)
  LEFT JOIN nd n ON n.node_id = r.ref
  GROUP BY 1, 2
), wp2 AS (  -- pass-2 eligible: resolvable + nonzero length
  SELECT *, refs[1] = refs[-1] AS closed
  FROM wgeo
  WHERE NOT dangling AND len(coords) >= 2
    AND len(list_filter(coords, c -> c.lon != coords[1].lon OR c.lat != coords[1].lat)) > 0
), wtag AS (
  SELECT w.doc_id, w.way_id, t.k, t.v FROM wy w JOIN tg t USING (doc_id)
), ntag AS (
  SELECT n.node_id, t.k, t.v FROM nd n JOIN tg t USING (doc_id)
)
"""


def _wtag_col(key: str, alias: str) -> str:
    return (
        f"(SELECT v FROM wtag t WHERE t.way_id = w.way_id AND t.k = '{key}') AS {alias}"
    )


def _ntag_col(key: str, alias: str) -> str:
    return (
        f"(SELECT v FROM ntag t WHERE t.node_id = n.node_id AND t.k = '{key}') AS {alias}"
    )


# ==========================================================================
# family 1 — relational parity on the star schema
# ==========================================================================
def q_filter_project(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= "1995-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
        & (F.col("l_discount").between(0.05, 0.07))
        & (F.col("l_quantity") < 24)
    ).select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("l_extendedprice") * F.col("l_discount"), 6).alias("revenue"),
    )


SQL_FILTER_PROJECT = """
SELECT l_orderkey, l_linenumber,
       ROUND(l_extendedprice * l_discount, 6) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
"""


def q_groupby_agg(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


SQL_GROUPBY_AGG = """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2) AS sum_qty,
       ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
       ROUND(AVG(l_discount), 6) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_join_argmin(spark, sf_dir):
    """J5 shape: per-group argmin with deterministic tie-break."""
    li = _t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy(
        F.col("l_extendedprice").asc(), F.col("l_linenumber").asc()
    )
    return (
        li.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "l_orderkey",
            F.col("l_linenumber").alias("cheapest_line"),
            F.round("l_extendedprice", 2).alias("cheapest_price"),
        )
    )


SQL_JOIN_ARGMIN = """
SELECT l_orderkey, l_linenumber AS cheapest_line,
       ROUND(l_extendedprice, 2) AS cheapest_price
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY l_orderkey
            ORDER BY l_extendedprice ASC, l_linenumber ASC) AS rn
  FROM lineitem
) WHERE rn = 1
"""


def q_semi_join(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c["c_custkey"] == o["o_custkey"], "left_semi").select(
        "c_custkey", "c_name"
    )


SQL_SEMI_JOIN = """
SELECT c_custkey, c_name FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""


def q_anti_join(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti").select(
        "c_custkey", "c_mktsegment"
    )


SQL_ANTI_JOIN = """
SELECT c_custkey, c_mktsegment FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""


def q_theta_refine(spark, sf_dir):
    """J4 shape: equi-join + bounded-distance theta refinement."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    j = li.join(p, li["l_partkey"] == p["p_partkey"])
    return (
        j.filter(
            F.abs(F.col("l_extendedprice") / F.col("l_quantity") - F.col("p_retailprice"))
            < 50.0
        )
        .groupBy("p_brand")
        .agg(F.count("*").alias("n_close"))
    )


SQL_THETA_REFINE = """
SELECT p_brand, COUNT(*) AS n_close
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE ABS(l_extendedprice / l_quantity - p_retailprice) < 50.0
GROUP BY p_brand
"""


def q_first_per_group(spark, sf_dir):
    """A3 shape: first-write-wins dedup by scan order."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", F.col("o_orderkey").alias("first_orderkey"))
    )


SQL_FIRST_PER_GROUP = """
SELECT o_custkey, o_orderkey AS first_orderkey
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
            ORDER BY o_orderdate ASC, o_orderkey ASC) AS rn
  FROM orders
) WHERE rn = 1
"""


def q_when_cascade(spark, sf_dir):
    """G15 shape: precedence-ordered classification cascade."""
    o = _t(spark, sf_dir, "orders")
    bucket = (
        F.when(F.col("o_totalprice") > 400000, "huge")
        .when((F.col("o_orderstatus") == "F") & F.col("o_orderpriority").startswith("1"), "urgent-finished")
        .when(F.year("o_orderdate") < 1995, "old")
        .when(F.col("o_totalprice") < 1000, "tiny")
        .otherwise("normal")
    )
    return o.groupBy(bucket.alias("bucket")).agg(F.count("*").alias("n"))


SQL_WHEN_CASCADE = """
SELECT CASE
         WHEN o_totalprice > 400000 THEN 'huge'
         WHEN o_orderstatus = 'F' AND o_orderpriority LIKE '1%' THEN 'urgent-finished'
         WHEN EXTRACT(year FROM o_orderdate) < 1995 THEN 'old'
         WHEN o_totalprice < 1000 THEN 'tiny'
         ELSE 'normal'
       END AS bucket, COUNT(*) AS n
FROM orders GROUP BY 1
"""


def q_distinct_extract(spark, sf_dir):
    return _t(spark, sf_dir, "part").select("p_brand", "p_type").distinct()


SQL_DISTINCT_EXTRACT = "SELECT DISTINCT p_brand, p_type FROM part"


def q_window_topk(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("o_custkey", "o_orderkey", "rank")
    )


SQL_WINDOW_TOPK = """
SELECT o_custkey, o_orderkey, rank FROM (
  SELECT o_custkey, o_orderkey,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
             ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
  FROM orders
) WHERE rank <= 3
"""


def q_groupby_rollup(spark, sf_dir):
    """OLAP ROLLUP over (priority, status): subtotal + grand-total rows
    with null indicators, ANSI semantics in both engines. The money sum is
    carried as cents (exact int64) so the rollup levels are fp-order-free."""
    o = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return o.rollup("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"), F.sum(cents).alias("total_cents")
    )


SQL_GROUPBY_ROLLUP = """
SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n,
       SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS total_cents
FROM orders GROUP BY ROLLUP(o_orderpriority, o_orderstatus)
"""


def q_exceptall_diff(spark, sf_dir):
    """Multiset difference (exceptAll) — the regression-diff primitive
    (tools/diff_layers.py) as a gated relational query."""
    l = _t(spark, sf_dir, "lineitem")
    cols = ["l_orderkey", "l_partkey", "l_linenumber"]
    a = l.filter(F.col("l_quantity") >= 10).select(*cols)
    b = l.filter(F.col("l_returnflag") == "R").select(*cols)
    return a.exceptAll(b)


SQL_EXCEPTALL_DIFF = """
SELECT l_orderkey, l_partkey, l_linenumber FROM lineitem WHERE l_quantity >= 10
EXCEPT ALL
SELECT l_orderkey, l_partkey, l_linenumber FROM lineitem WHERE l_returnflag = 'R'
"""


def q_event_window_agg(spark, sf_dir):
    """Tumbling-window aggregation (batch mirror of the streaming op)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


SQL_EVENT_WINDOW_AGG = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
       event_type, COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
FROM events GROUP BY 1, 2
"""


def q_event_sessionize(spark, sf_dir):
    """Sessionization via Spark's built-in session_window (30-min
    inactivity gap; the same operator runs stateful in Structured
    Streaming). The oracle is the classic gaps-and-islands form: lag +
    cumulative sum of new-session flags. Spark session windows are
    [start, end) with end = last_ts + gap, so a successor event exactly
    30 min after its predecessor starts a NEW session — the oracle flags
    new sessions with >= on the microsecond delta."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "30 minutes"), F.col("user_id"))
        .agg(
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "session_start"
            ),
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "session_end"
            ),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_val"),
        )
        .select("user_id", "session_start", "session_end", "n_events", "sum_val")
    )


SQL_EVENT_SESSIONIZE = """
WITH x AS (
  SELECT user_id, ts, value, epoch_us(ts) AS us,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, us
             ROWS UNBOUNDED PRECEDING) AS sess_idx
  FROM x
)
SELECT user_id,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
       strftime(MAX(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_end,
       COUNT(*) AS n_events, ROUND(SUM(value), 4) AS sum_val
FROM s GROUP BY user_id, sess_idx
"""


def q_window_lag_delta(spark, sf_dir):
    """lag/lead window family (§2.5): per-user consecutive-event deltas —
    previous event id, value delta, inter-event gap in exact integer
    microseconds. One hash exchange on user_id + in-partition sort; first
    events take -1/0 sentinels so no nullable column reaches the hash
    (nullable bigint→float64 through pandas would destabilize it)."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.withColumn("prev_id", F.lag("event_id").over(w))
        .withColumn("prev_val", F.lag("value").over(w))
        .withColumn("prev_ts", F.lag("ts").over(w))
        .select(
            "user_id",
            "event_id",
            F.coalesce(F.col("prev_id"), F.lit(-1).cast("long")).alias(
                "prev_event_id"
            ),
            F.round(
                F.coalesce(F.col("value") - F.col("prev_val"), F.lit(0.0)), 4
            ).alias("value_delta"),
            F.coalesce(
                F.expr("timestampdiff(MICROSECOND, prev_ts, ts)"),
                F.lit(-1).cast("long"),
            ).alias("gap_us"),
        )
    )


SQL_WINDOW_LAG_DELTA = """
WITH x AS (
  SELECT user_id, event_id, value, ts,
         LAG(event_id) OVER w AS prev_id,
         LAG(value) OVER w AS prev_val,
         LAG(ts) OVER w AS prev_ts
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, event_id,
       COALESCE(prev_id, -1) AS prev_event_id,
       ROUND(COALESCE(value - prev_val, 0.0), 4) AS value_delta,
       COALESCE(epoch_us(ts) - epoch_us(prev_ts), -1) AS gap_us
FROM x
"""


_ASOF_OUT = [
    ("left_id", "click_id"),
    ("key", "user_id"),
    ("right_id", "view_id"),
    ("lag_us", "lag_us"),
]


def _asof_events(spark, sf_dir, bucketed: bool):
    from .operators.asof import asof_join, asof_join_bucketed

    e = _t(spark, sf_dir, "events")
    l = e.filter(F.col("event_type") == "click")
    r = e.filter(F.col("event_type") == "view")
    fn = asof_join_bucketed if bucketed else asof_join
    out = fn(l, r, key="user_id", ts="ts", idc="event_id")
    return out.select(*[F.col(a).alias(b) for a, b in _ASOF_OUT])


def q_event_asof_join(spark, sf_dir):
    """As-of join (Spark has no native ASOF): for every 'click' event, the
    most recent 'view' by the same user at or before the click, ties on ts
    broken by largest event_id. operators/asof.asof_join — the sort-merge
    union form: ONE hash exchange on user_id, one in-partition sort by
    (ts, side, event_id), then `last(..., ignorenulls)` over the
    unbounded-preceding frame. No range-predicate join (which Spark would
    plan as a broadcast/cartesian nested loop and explode at scale), no
    per-left-row subquery. Right rows sort BEFORE left rows at equal ts —
    exactly the inclusive <= semantics. -1 sentinels for match-less
    clicks keep both engines' columns integral (nullable BIGINT → float64
    through pandas would make the driver's value hash type-unstable); the
    lag is exact integer microseconds (no float rounding to disagree
    on)."""
    return _asof_events(spark, sf_dir, bucketed=False)


def q_event_asof_join_bucketed(spark, sf_dir):
    """The skew-resilient two-level as-of form
    (operators/asof.asof_join_bucketed): rows resolve within (user, day)
    partitions, misses take the bucket carry — a per-bucket max aggregate
    + running-max window over the bucket spine. Same oracle as
    event_asof_join: the two plans are result-identical by construction,
    and the driver gate hash-proves it."""
    return _asof_events(spark, sf_dir, bucketed=True)


SQL_EVENT_ASOF_JOIN = """
WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
r AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view')
SELECT click_id, user_id, COALESCE(view_id, -1) AS view_id,
       COALESCE(lag_us, -1) AS lag_us FROM (
  SELECT l.event_id AS click_id, l.user_id, r.event_id AS view_id,
         epoch_us(l.ts) - epoch_us(r.ts) AS lag_us,
         ROW_NUMBER() OVER (PARTITION BY l.event_id
                            ORDER BY r.ts DESC, r.event_id DESC) AS rn
  FROM l LEFT JOIN r ON r.user_id = l.user_id AND r.ts <= l.ts
) WHERE rn = 1
"""


# ==========================================================================
# family 2 — geospatial engine queries over the OSM-document fixture
# (both sides read the committed fixture parquet; Spark selects from the
#  memoized run_all, DuckDB re-derives the layer relationally)
# ==========================================================================
def g_entity_counts(spark, sf_dir):
    return _pipeline(spark, sf_dir)["entities"].groupBy("entity").agg(F.count("*").alias("n"))


def sql_entity_counts(fx):
    return _fx_prefix(fx) + "SELECT p[1] AS entity, COUNT(*) AS n FROM hdr GROUP BY 1"


def g_entrances(spark, sf_dir):
    return _pipeline(spark, sf_dir)["entrances"].drop("geom")


def sql_entrances(fx):
    return _fx_prefix(fx) + f"""
SELECT CAST(n.node_id AS VARCHAR) AS node_id, n.lastchange,
       {_ntag_col('entrance', 'entrance')}
FROM nd n
WHERE EXISTS (SELECT 1 FROM ntag t WHERE t.node_id = n.node_id AND
              (t.k = 'entrance' OR (t.k = 'building' AND t.v = 'entrance')))
"""


# bbox window over a committed layer (R-tree window-query analog, the
# reference's test/test_engine.pl:33-57). The run's entrances layer is
# written once into its store (cell-clustered files), then read back through
# the pushdown path.
_WINDOW_BBOX = (8.775, 47.245, 8.845, 47.305)


def g_bbox_window(spark, sf_dir):
    from .io.window import read_layer_bbox
    from .plans.pipeline import write_layers

    layers, store = _run(spark, sf_dir)
    if not store.exists("layer_entrances"):
        write_layers(layers, store, ["entrances"])
    w = read_layer_bbox(spark, store, "entrances", _WINDOW_BBOX)
    return w.select(
        "node_id",
        "lastchange",
        "entrance",
        F.col("geom.lon").alias("lon"),
        F.col("geom.lat").alias("lat"),
    )


def sql_bbox_window(fx):
    w, s, e, n = _WINDOW_BBOX
    return _fx_prefix(fx) + f"""
SELECT CAST(n.node_id AS VARCHAR) AS node_id, n.lastchange,
       {_ntag_col('entrance', 'entrance')}, n.lon, n.lat
FROM nd n
WHERE EXISTS (SELECT 1 FROM ntag t WHERE t.node_id = n.node_id AND
              (t.k = 'entrance' OR (t.k = 'building' AND t.v = 'entrance')))
  AND n.lon >= {w} AND n.lon <= {e} AND n.lat >= {s} AND n.lat <= {n}
"""


def g_postal(spark, sf_dir):
    return _pipeline(spark, sf_dir)["ways_with_postal_code"].drop("geom")


def sql_postal(fx):
    return _fx_prefix(fx) + f"""
SELECT CAST(w.way_id AS VARCHAR) AS way_id, w.lastchange,
       {_wtag_col('postal_code', 'postalcode')}
FROM wp2 w
WHERE EXISTS (SELECT 1 FROM wtag t WHERE t.way_id = w.way_id AND t.k = 'postal_code')
"""


def g_addrx_nonclosed(spark, sf_dir):
    return _pipeline(spark, sf_dir)["addrx_on_nonclosed_way"].drop("geom")


def sql_addrx_nonclosed(fx):
    keys = ", ".join(f"'addr:{k}'" for k in L.ADDRX_KEYS)
    return _fx_prefix(fx) + f"""
SELECT CAST(w.way_id AS VARCHAR) AS way_id, w.lastchange
FROM wp2 w
WHERE NOT w.closed
  AND EXISTS (SELECT 1 FROM wtag t WHERE t.way_id = w.way_id AND t.k IN ({keys}))
"""


def g_ways_with_addresses(spark, sf_dir):
    return _pipeline(spark, sf_dir)["ways_with_addresses"].drop("geom")


def sql_ways_with_addresses(fx):
    return _fx_prefix(fx) + f"""
SELECT CAST(w.way_id AS VARCHAR) AS way_id,
       {_wtag_col('addr:street', 'street')},
       {_wtag_col('addr:housenumber', 'houseno')},
       {_wtag_col('addr:postcode', 'postcode')},
       {_wtag_col('addr:city', 'city')},
       {_wtag_col('addr:country', 'country')},
       {_wtag_col('addr:full', 'fulladdr')},
       {_wtag_col('addr:place', 'place')},
       w.lastchange
FROM wp2 w
WHERE w.closed
  AND EXISTS (SELECT 1 FROM wtag t WHERE t.way_id = w.way_id AND t.k = 'building')
  AND EXISTS (SELECT 1 FROM wtag t WHERE t.way_id = w.way_id AND
              t.k IN ('addr:street', 'addr:housenumber', 'addr:place'))
"""


def g_nwa_nodes(spark, sf_dir):
    """is_ip=0 node rows, tag fields only (match flags tested by g_nwa_defined)."""
    return _pipeline(spark, sf_dir)["nwa"].filter(F.col("node_id").isNotNull()).select(
        "node_id", "street", "houseno", "postcode", "city", "country",
        "fulladdr", "place", "lastchange",
    )


def sql_nwa_nodes(fx):
    keys = ", ".join(
        f"'addr:{k}'" for k in ["street", "housenumber", "postcode", "city", "country", "full", "place"]
    )
    return _fx_prefix(fx) + f"""
SELECT CAST(n.node_id AS VARCHAR) AS node_id,
       {_ntag_col('addr:street', 'street')},
       {_ntag_col('addr:housenumber', 'houseno')},
       {_ntag_col('addr:postcode', 'postcode')},
       {_ntag_col('addr:city', 'city')},
       {_ntag_col('addr:country', 'country')},
       {_ntag_col('addr:full', 'fulladdr')},
       {_ntag_col('addr:place', 'place')},
       n.lastchange
FROM nd n
WHERE EXISTS (SELECT 1 FROM ntag t WHERE t.node_id = n.node_id AND t.k IN ({keys}))
"""


def g_interpolation(spark, sf_dir):
    return _pipeline(spark, sf_dir)["interpolation"].select(
        "way_id", "typename", "firstno", "lastno", "error"
    )


def _interp_ctes(fx):
    """Shared CTE chain: fixture parse + the G13-G15 cascade up to an `err`
    column (osmi/InterpolationWriter.hpp:79-160)."""
    return _fx_prefix(fx) + """
, ipw AS (
  SELECT w.way_id,
         (SELECT v FROM wtag t WHERE t.way_id = w.way_id AND t.k = 'addr:interpolation') AS typ,
         w.refs[1] AS first_ref, w.refs[-1] AS last_ref, w.closed
  FROM wp2 w
  WHERE EXISTS (SELECT 1 FROM wtag t WHERE t.way_id = w.way_id AND t.k = 'addr:interpolation')
), ept AS (
  SELECT i.way_id,
    COALESCE((SELECT v FROM ntag t WHERE t.node_id = i.first_ref AND t.k = 'addr:housenumber'), '') AS fraw,
    COALESCE((SELECT v FROM ntag t WHERE t.node_id = i.last_ref  AND t.k = 'addr:housenumber'), '') AS lraw,
    COALESCE((SELECT v FROM ntag t WHERE t.node_id = i.first_ref AND t.k = 'addr:street'), '') AS fstreet,
    COALESCE((SELECT v FROM ntag t WHERE t.node_id = i.last_ref  AND t.k = 'addr:street'), '') AS lstreet,
    COALESCE((SELECT v FROM ntag t WHERE t.node_id = i.first_ref AND t.k = 'addr:postcode'), '') AS fpost,
    COALESCE((SELECT v FROM ntag t WHERE t.node_id = i.last_ref  AND t.k = 'addr:postcode'), '') AS lpost,
    COALESCE((SELECT v FROM ntag t WHERE t.node_id = i.first_ref AND t.k = 'addr:city'), '') AS fcity,
    COALESCE((SELECT v FROM ntag t WHERE t.node_id = i.last_ref  AND t.k = 'addr:city'), '') AS lcity,
    COALESCE((SELECT v FROM ntag t WHERE t.node_id = i.first_ref AND t.k = 'addr:country'), '') AS fctry,
    COALESCE((SELECT v FROM ntag t WHERE t.node_id = i.last_ref  AND t.k = 'addr:country'), '') AS lctry,
    COALESCE((SELECT v FROM ntag t WHERE t.node_id = i.first_ref AND t.k = 'addr:full'), '') AS ffull,
    COALESCE((SELECT v FROM ntag t WHERE t.node_id = i.last_ref  AND t.k = 'addr:full'), '') AS lfull,
    COALESCE((SELECT v FROM ntag t WHERE t.node_id = i.first_ref AND t.k = 'addr:place'), '') AS fplace,
    COALESCE((SELECT v FROM ntag t WHERE t.node_id = i.last_ref  AND t.k = 'addr:place'), '') AS lplace
  FROM ipw i
), calc AS (
  SELECT i.way_id, i.typ, e.fraw, e.lraw, i.closed,
    COALESCE(TRY_CAST(regexp_extract(e.fraw, '^\\s*([+-]?\\d+)', 1) AS BIGINT), 0) AS atoi_f,
    COALESCE(TRY_CAST(regexp_extract(e.lraw, '^\\s*([+-]?\\d+)', 1) AS BIGINT), 0) AS atoi_l,
    (i.typ = 'alphabetic' AND length(e.fraw) >= 2 AND length(e.lraw) >= 2
     AND NOT regexp_matches(substr(e.fraw, length(e.fraw)-1, 1), '[A-Za-z]')
     AND NOT regexp_matches(substr(e.lraw, length(e.lraw)-1, 1), '[A-Za-z]')) AS alpha_block,
    regexp_matches(substr(e.fraw, length(e.fraw), 1), '[A-Za-z]')
      AND regexp_matches(substr(e.lraw, length(e.lraw), 1), '[A-Za-z]') AS both_alpha,
    substr(e.fraw, 1, length(e.fraw)-1) AS fnum,
    substr(e.lraw, 1, length(e.lraw)-1) AS lnum,
    e.fstreet != e.lstreet OR e.fpost != e.lpost OR e.fcity != e.lcity
      OR e.fctry != e.lctry OR e.ffull != e.lfull OR e.fplace != e.lplace AS diff_tags
  FROM ipw i JOIN ept e USING (way_id)
), calc2 AS (
  SELECT *,
    alpha_block AND both_alpha AND fnum = lnum AS is_correct,
    CASE WHEN alpha_block AND NOT both_alpha THEN 'no alphabetic part in addr:housenumber'
         WHEN alpha_block AND both_alpha AND fnum != lnum THEN 'numeric parts of housenumbers not identical'
    END AS alpha_err,
    CASE WHEN alpha_block AND both_alpha AND fnum = lnum
         THEN ascii(substr(fraw, length(fraw), 1)) ELSE atoi_f END AS fv,
    CASE WHEN alpha_block AND both_alpha AND fnum = lnum
         THEN ascii(substr(lraw, length(lraw), 1)) ELSE atoi_l END AS lv
  FROM calc
), calc3 AS (
  SELECT *,
    CASE
      WHEN typ NOT IN ('all','even','odd','alphabetic') THEN 'unknown interpolation type'
      WHEN typ != 'alphabetic' AND (fv <= 0 OR lv <= 0
           OR length(fraw) != floor(log10(CASE WHEN fv > 0 THEN fv ELSE 1 END)) + 1
           OR length(lraw) != floor(log10(CASE WHEN lv > 0 THEN lv ELSE 1 END)) + 1)
        THEN 'endpoint has wrong format'
      WHEN abs(fv - lv) > 1000 THEN 'range too large'
      WHEN (typ IN ('even','odd') AND abs(fv - lv) = 2) OR (typ = 'all' AND abs(fv - lv) = 1)
        THEN 'needless interpolation'
      WHEN typ = 'even' AND (fv % 2 = 1 OR lv % 2 = 1) THEN 'interpolation even but number odd'
      WHEN typ = 'odd' AND (fv % 2 = 0 OR lv % 2 = 0) THEN 'interpolation odd but number even'
      WHEN diff_tags THEN 'different tags on endpoints'
      WHEN closed THEN 'interpolation is a closed way'
      ELSE alpha_err
    END AS err
  FROM calc2
)
"""


def sql_interpolation(fx):
    return _interp_ctes(fx) + """
SELECT CAST(way_id AS VARCHAR) AS way_id, typ AS typename,
       CASE WHEN fraw != '' THEN fraw END AS firstno,
       CASE WHEN lraw != '' THEN lraw END AS lastno,
       err AS error
FROM calc3
"""


def _node_matches(spark, sf_dir, kind: str) -> DataFrame:
    """The run's street or place matches of node addr points."""
    return _pipeline(spark, sf_dir)[f"{kind}_matches"].filter(F.col("obj_type") == "node")


def g_nearest_street(spark, sf_dir):
    """Flagship join output — node addr points only (SQL-checkable core)."""
    return _node_matches(spark, sf_dir, "street").select(
        G.fmt_id(F.col("obj_id")).alias("node_id"),
        G.fmt_id(F.col("way_id")).alias("way_id"),
        F.col("is_area").cast("int").alias("is_area"),
    )


def _seg_dist_sql(px: str, py: str) -> str:
    """DuckDB mirror of geom_sql.min_segment_dist: GEOS distancePointLine
    per segment pair p = [A, B] (from a list_zip'd `prs` column), min over
    segments. Identical op order to the Spark Column and geom_np mirror."""
    ax, ay, bx, by = "p[1].lon", "p[1].lat", "p[2].lon", "p[2].lat"
    len2 = f"(({bx}-{ax})*({bx}-{ax})+({by}-{ay})*({by}-{ay}))"
    r = f"((({px}-{ax})*({bx}-{ax})+({py}-{ay})*({by}-{ay}))/{len2})"
    da = f"sqrt(({px}-{ax})*({px}-{ax})+({py}-{ay})*({py}-{ay}))"
    db = f"sqrt(({px}-{bx})*({px}-{bx})+({py}-{by})*({py}-{by}))"
    s = f"((({ay}-{py})*({bx}-{ax})-({ax}-{px})*({by}-{ay}))/{len2})"
    return (
        f"list_min(list_transform(prs, p -> "
        f"CASE WHEN {len2} = 0 THEN {da} "
        f"WHEN {r} <= 0 THEN {da} "
        f"WHEN {r} >= 1 THEN {db} "
        f"ELSE abs({s}) * sqrt({len2}) END))"
    )


def _street_cand_ctes(fx):
    """CTE chain ending in `cand` (node_id, lon, lat, way_id, is_area,
    dist): the J3-J4 candidate join + GEOS segment distance, in SQL
    (OGRLineString::Distance is segment-aware — see
    geom_sql.min_segment_dist).

    The bbox prefilter uses the int16-quantized edges in double math (the
    float32 rounding of the engine is ~1e-7 — fixture margins are >1e-4).
    """
    return _fx_prefix(fx) + """
, hw AS (
  SELECT w.way_id, w.coords,
    list_max(list_transform(w.coords, c -> c.lat)) AS bn,
    list_max(list_transform(w.coords, c -> c.lon)) AS be,
    list_min(list_transform(w.coords, c -> c.lat)) AS bs,
    list_min(list_transform(w.coords, c -> c.lon)) AS bw,
    (SELECT t.v FROM wtag t WHERE t.way_id = w.way_id AND t.k = 'area')
        IN ('yes','true') AND w.refs[1] = w.refs[-1] AS is_area
  FROM wgeo w
  WHERE NOT w.dangling AND len(w.refs) >= 2
    AND EXISTS (SELECT 1 FROM wtag t WHERE t.way_id = w.way_id AND t.k = 'highway')
), hwn AS (
  SELECT DISTINCT h.way_id,
    list_zip(h.coords[1:len(h.coords)-1], h.coords[2:len(h.coords)]) AS prs,
    h.is_area, t.v AS street_name,
    ceil(h.bn*32767/90)*90/32767 AS dn, ceil(h.be*32767/180)*180/32767 AS de,
    floor(h.bs*32767/90)*90/32767 AS ds, floor(h.bw*32767/180)*180/32767 AS dw
  FROM hw h JOIN wtag t ON t.way_id = h.way_id
  WHERE t.k IN ('name','name:left','name:right','alt_name','official_name','short_name','ref')
), ad AS (
  SELECT n.node_id, n.lon, n.lat, t.v AS street
  FROM nd n JOIN ntag t ON t.node_id = n.node_id AND t.k = 'addr:street'
), cand AS (
  SELECT a.node_id, a.lon, a.lat, h.way_id, h.is_area,
    """ + _seg_dist_sql("a.lon", "a.lat") + """ AS dist
  FROM ad a JOIN hwn h ON h.street_name = a.street
  WHERE a.lat < h.dn + 0.01 AND a.lat > h.ds - 0.01
    AND a.lon < h.de + 0.01/cos(radians(a.lat))
    AND a.lon > h.dw - 0.01/cos(radians(a.lat))
)
"""


def _street_winner_ctes(fx):
    """`cand` + the J5 argmin with area-first strict-< tie-break → `win`
    (node_id, lon, lat, way_id, is_area)."""
    return _street_cand_ctes(fx) + """
, win AS (
  SELECT node_id, lon, lat, way_id, is_area
  FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY node_id
              ORDER BY dist ASC, is_area DESC, way_id ASC) AS rn
    FROM cand
  ) WHERE rn = 1
)
"""


def sql_nearest_street(fx):
    return _street_winner_ctes(fx) + """
SELECT CAST(node_id AS VARCHAR) AS node_id, CAST(way_id AS VARCHAR) AS way_id,
       CAST(is_area AS INT) AS is_area
FROM win
"""


def g_knn_streets(spark, sf_dir):
    """Top-k (k=3) nearest matching streets per addr node — the general-k
    kNN surface next to the reference's k=1 argmin (J5,
    osmi/ConnectionLinePreprocessor.hpp:163-236 keeps only the minimum).
    Candidate generation is the flagship's: (name, cell) equi-join +
    quantized bbox±tol prefilter (G11/G12) + JVM segment-distance fold; the
    ranking is a row_number window over (dist, ¬area, way_id) — the same
    total order J5 folds with min_by. At scale the window is one hash
    exchange on node_id with a per-group sort whose group size is the
    per-address candidate count (bounded by the street-name frequency in
    one covering cell), and a production run would ride match_streets'
    salted candidate generator; k=1 stays on the cheaper map-side-combined
    min_by. No duplicate candidates by construction: the index is one row
    per (way, DISTINCT name value) × covering cell and an addr point joins
    exactly its own cell. Candidate generation is shared with the flagship
    (operators.nearest_street.street_candidates), mirroring the SQL side's
    shared _street_cand_ctes — the two queries cannot drift."""
    from .operators.nearest_street import street_candidates

    d = _pipeline(spark, sf_dir)
    n = d["nodes"].filter(F.col("tags")["addr:street"].isNotNull()).select(
        F.col("node_id"),
        F.col("tags")["addr:street"].alias("lookup_name"),
        "lon", "lat",
    )
    cand = street_candidates(n, d["streets"])
    w = Window.partitionBy("node_id").orderBy(
        F.col("dist").asc(), F.col("is_area").desc(), F.col("way_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            G.fmt_id(F.col("node_id")).alias("node_id"),
            F.col("rank"),
            G.fmt_id(F.col("way_id")).alias("way_id"),
            F.col("is_area").cast("int").alias("is_area"),
        )
    )


def sql_knn_streets(fx):
    return _street_cand_ctes(fx) + """
SELECT CAST(node_id AS VARCHAR) AS node_id, CAST(rn AS INT) AS rank,
       CAST(way_id AS VARCHAR) AS way_id, CAST(is_area AS INT) AS is_area
FROM (
  SELECT node_id, way_id, is_area,
         ROW_NUMBER() OVER (PARTITION BY node_id
                            ORDER BY dist ASC, is_area DESC, way_id ASC) AS rn
  FROM cand
) WHERE rn <= 3
"""


def g_nearest_place(spark, sf_dir):
    """J6 winner (bug-compatible) for node addr points, both vias."""
    return _node_matches(spark, sf_dir, "place").select(
        G.fmt_id(F.col("obj_id")).alias("node_id"),
        "via",
        F.col("is_nody").cast("int").alias("is_nody"),
    )


def sql_nearest_place(fx):
    return _fx_prefix(fx) + """
, pl_nody AS (
  SELECT n.node_id AS obj_seq, n.lon, n.lat, t.v AS name, TRUE AS is_nody
  FROM nd n JOIN ntag t ON t.node_id = n.node_id AND t.k = 'name'
  WHERE EXISTS (SELECT 1 FROM ntag t2 WHERE t2.node_id = n.node_id AND t2.k = 'place')
), ring AS (
  SELECT w.way_id, w.coords[1].lon AS xr, w.coords[1].lat AS yr,
    list_zip(w.coords[1:len(w.coords)-1], w.coords[2:len(w.coords)]) AS prs
  FROM wgeo w
  WHERE NOT w.dangling AND len(w.refs) >= 2 AND w.refs[1] = w.refs[-1]
    AND EXISTS (SELECT 1 FROM wtag t WHERE t.way_id = w.way_id AND t.k = 'place')
    AND EXISTS (SELECT 1 FROM wtag t WHERE t.way_id = w.way_id AND t.k = 'name')
), cent AS (
  -- shoelace translated to the first vertex (mirrors geom_sql.centroid_cols:
  -- the raw formula cancels catastrophically on tiny far-from-origin rings)
  SELECT way_id, xr, yr,
    list_sum(list_transform(prs, p -> (p[1].lon-xr)*(p[2].lat-yr) - (p[2].lon-xr)*(p[1].lat-yr))) AS a2,
    list_sum(list_transform(prs, p -> ((p[1].lon-xr)+(p[2].lon-xr))*((p[1].lon-xr)*(p[2].lat-yr) - (p[2].lon-xr)*(p[1].lat-yr)))) AS cx,
    list_sum(list_transform(prs, p -> ((p[1].lat-yr)+(p[2].lat-yr))*((p[1].lon-xr)*(p[2].lat-yr) - (p[2].lon-xr)*(p[1].lat-yr)))) AS cy
  FROM ring
), pl_wayy AS (
  SELECT c.way_id AS obj_seq, c.xr + c.cx/(3*c.a2) AS lon, c.yr + c.cy/(3*c.a2) AS lat,
         t.v AS name, FALSE AS is_nody
  FROM cent c JOIN wtag t ON t.way_id = c.way_id AND t.k = 'name'
  WHERE c.a2 != 0
), pl AS (
  SELECT * FROM pl_nody UNION ALL SELECT * FROM pl_wayy
), ad AS (
  SELECT n.node_id, n.lon, n.lat, t.v AS lookup_name,
         CASE t.k WHEN 'addr:street' THEN 'street' ELSE 'place' END AS via
  FROM nd n JOIN ntag t ON t.node_id = n.node_id AND t.k IN ('addr:street','addr:place')
), cand AS (
  SELECT a.node_id, a.via, p.is_nody, p.obj_seq
  FROM ad a JOIN pl p ON p.name = a.lookup_name
  WHERE sqrt((p.lon-a.lon)*(p.lon-a.lon)+(p.lat-a.lat)*(p.lat-a.lat)) < 0.01
)
SELECT CAST(node_id AS VARCHAR) AS node_id, via, CAST(is_nody AS INT) AS is_nody
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY node_id, via
            ORDER BY is_nody ASC, obj_seq DESC) AS rn
  FROM cand
) WHERE rn = 1
"""


def g_interp_points(spark, sf_dir):
    """G16 densification summary: per valid interp way, point count and
    house-number range (SQL-checkable without float positions)."""
    return _pipeline(spark, sf_dir)["ip_points"].groupBy("way_id").agg(
        F.count("*").alias("n_points"),
        F.min("houseno").alias("min_no"),
        F.max("houseno").alias("max_no"),
    ).select(G.fmt_id(F.col("way_id")).alias("way_id"), "n_points", "min_no", "max_no")


def sql_interp_points(fx):
    """Regenerate the house-number sequences with range() + UNNEST."""
    return _interp_ctes(fx) + """
, valid AS (
  SELECT way_id, typ, fv, lv, fnum,
    CASE WHEN typ IN ('even','odd') THEN 2 ELSE 1 END AS inc
  FROM calc3
  WHERE err IS NULL AND (typ IN ('all','even','odd') OR is_correct) AND fv != lv
), seqs AS (
  SELECT v.way_id, v.typ, v.fnum, t.nr
  FROM valid v, LATERAL UNNEST(
    CASE WHEN v.fv < v.lv
         THEN range(v.fv + v.inc, v.lv, v.inc)
         ELSE range(v.fv - v.inc, v.lv, -v.inc) END) AS t(nr)
)
SELECT CAST(way_id AS VARCHAR) AS way_id, COUNT(*) AS n_points,
       MIN(CASE WHEN typ = 'alphabetic' THEN fnum || chr(CAST(nr AS INT)) ELSE CAST(nr AS VARCHAR) END) AS min_no,
       MAX(CASE WHEN typ = 'alphabetic' THEN fnum || chr(CAST(nr AS INT)) ELSE CAST(nr AS VARCHAR) END) AS max_no
FROM seqs GROUP BY 1
"""

# ==========================================================================
# family 3 — training-data pipeline ops (dedup / similarity / text / media)
# ==========================================================================
def d_exact_dedup(spark, sf_dir):
    """Exact dedup via content hash groups (hash-groupBy; scales to any size
    since the shuffle key is the digest)."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5(F.encode("text", "utf-8")).alias("h"))
        .agg(F.count("*").alias("n_dups"), F.min("doc_id").alias("keep_doc"))
    )


SQL_EXACT_DEDUP = """
SELECT md5(text) AS h, COUNT(*) AS n_dups, MIN(doc_id) AS keep_doc
FROM documents GROUP BY 1
"""


def d_ngram_jaccard(spark, sf_dir):
    """Character-3-gram Jaccard near-dup pairs within a language bucket —
    the shuffle key is (gram, lang): LSH-style candidate generation.

    Estimated Jaccard over a deterministic 1/4 hash-sample of the gram space
    (md5 first hex char < '4'), with stop-grams (document frequency > 500
    within a language) removed from the gram sets — both knobs mirrored in
    the DuckDB oracle. The sampling sparsifies; the df cutoff removes the
    quadratic candidate blowup from grams shared by most documents (which
    carry no near-dup signal) — the self-join cost becomes linear in the
    near-dup mass at scale."""
    df_cap = 500
    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    grams = d.select(
        "doc_id",
        "lang",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.greatest(F.length("text") - 2, F.lit(1))),
                    lambda i: F.col("text").substr(i, F.lit(3)),
                )
            )
        ).alias("g"),
    ).filter(F.substring(F.md5(F.encode("g", "utf-8")), 1, 1) < "4")
    # NOTE: no global .distinct() — array_distinct already dedups grams
    # within a doc and doc_id is unique per row, so (doc_id, g) rows are
    # born distinct; the explicit distinct was one full extra shuffle of
    # the gram table (the oracle's SELECT DISTINCT is equally a no-op)
    keep = (
        grams.groupBy("lang", "g")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= df_cap)
        .select("lang", "g")
    )
    grams = grams.join(keep, ["lang", "g"], "left_semi")
    sizes = grams.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = grams.alias("a")
    b = grams.alias("b")
    common = (
        a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.lang") == F.col("b.lang")))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    j = common.join(sa, "doc_a").join(sb, "doc_b")
    jac = F.col("common") / (F.col("sz_a") + F.col("sz_b") - F.col("common"))
    return j.filter(jac >= 0.35).select(
        "doc_a", "doc_b", F.round(jac, 6).alias("jaccard")
    )


SQL_NGRAM_JACCARD = """
WITH grams AS (
  SELECT DISTINCT doc_id, lang, g FROM (
    SELECT doc_id, lang, substr(text, CAST(i AS INT), 3) AS g
    FROM documents, LATERAL UNNEST(range(1, GREATEST(length(text) - 2, 1) + 1)) AS t(i)
  ) WHERE substr(md5(g), 1, 1) < '4'
), keep AS (
  SELECT lang, g FROM grams GROUP BY lang, g HAVING COUNT(*) <= 500
), fgrams AS (
  SELECT gr.doc_id, gr.lang, gr.g FROM grams gr JOIN keep k USING (lang, g)
), sizes AS (
  SELECT doc_id, COUNT(*) AS sz FROM fgrams GROUP BY 1
), common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
  FROM fgrams a JOIN fgrams b ON a.g = b.g AND a.lang = b.lang AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       ROUND(common / (sa.sz + sb.sz - common), 6) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE common / (sa.sz + sb.sz - common) >= 0.35
"""


def d_minhash_lsh(spark, sf_dir):
    """MinHash (16 perms) + banding (4 bands × 4 rows) candidate pairs.

    Permutation family: one md5 per 5-gram yields A (60-bit, hex 1-15) and
    B (56-bit, hex 16-29); perm j minimizes A + j·B — the classic
    one-hash-plus-affine-combinations MinHash family, all arithmetic in
    signed-int64 range (A < 2⁶⁰, 15·B < 2⁶⁰) and exactly mirrorable in the
    DuckDB oracle (round 1 used xxhash64, which DuckDB lacks → no_oracle).
    Band bucket = the 4 min-hashes of the band concatenated — a pure
    equi-join key, uniform by construction.
    """
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    grams = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.greatest(F.length("text") - 4, F.lit(1))),
                    lambda i: F.col("text").substr(i, F.lit(5)),
                )
            )
        ).alias("g"),
    )
    h = F.md5(F.encode("g", "utf-8"))
    ga = F.conv(F.substring(h, 1, 15), 16, 10).cast("long")
    gb = F.conv(F.substring(h, 16, 14), 16, 10).cast("long")
    grams = grams.select("doc_id", ga.alias("ga"), gb.alias("gb"))
    sigs = grams.groupBy("doc_id").agg(
        *[F.min(F.col("ga") + F.lit(j) * F.col("gb")).alias(f"h{j}") for j in range(16)]
    )
    bands = sigs.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.concat_ws(",", *[F.col(f"h{b * 4 + r}") for r in range(4)])
                    for b in range(4)
                ]
            )
        ).alias("band", "bucket"),
    )
    a = bands.alias("a")
    b2 = bands.alias("b")
    pairs = (
        a.join(b2, (F.col("a.band") == F.col("b.band")) & (F.col("a.bucket") == F.col("b.bucket")))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    return pairs


_MINHASH_PAIRS_CTE = """grams AS (
  SELECT DISTINCT doc_id, g FROM (
    SELECT doc_id, substr(text, CAST(i AS INT), 5) AS g
    FROM documents, LATERAL UNNEST(range(1, GREATEST(length(text) - 4, 1) + 1)) AS t(i)
  )
), gh AS (
  SELECT doc_id,
         CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) AS ga,
         CAST('0x' || substr(md5(g), 16, 14) AS BIGINT) AS gb
  FROM grams
), sigs AS (
  SELECT doc_id, j, MIN(ga + j * gb) AS h
  FROM gh, range(16) p(j)
  GROUP BY 1, 2
), bands AS (
  SELECT doc_id, j // 4 AS band,
         string_agg(CAST(h AS VARCHAR), ',' ORDER BY j) AS bucket
  FROM sigs GROUP BY 1, 2
), mh_pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
)"""

SQL_MINHASH_LSH = "WITH " + _MINHASH_PAIRS_CTE + "\nSELECT doc_a, doc_b FROM mh_pairs"

# near-dup clustering: transitive closure over the MinHash candidate pairs →
# per-doc component (= min reachable doc_id) + canonical-representative flag.
# Mirrors operators/graph.connected_components (the recursive CTE is the
# sequential statement of the same min-label fixpoint).
SQL_DEDUP_CLUSTER = "WITH RECURSIVE " + _MINHASH_PAIRS_CTE + """,
e AS (
  SELECT doc_a AS a, doc_b AS b FROM mh_pairs
  UNION ALL
  SELECT doc_b, doc_a FROM mh_pairs
), reach(v, l) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.b, r.l FROM reach r JOIN e ON e.a = r.v
), comp AS (
  SELECT v AS doc_id, MIN(l) AS component FROM reach GROUP BY 1
)
SELECT doc_id, component,
       COUNT(*) OVER (PARTITION BY component) AS n_members,
       CAST(doc_id = component AS INT) AS is_kept
FROM comp
"""


def d_dedup_cluster(spark, sf_dir):
    """Near-dup clustering: MinHash candidate pairs → distributed connected
    components (operators/graph.py) → one canonical doc per component
    (min doc_id). The dedup decision a training pipeline actually executes:
    keep is_kept=1 rows."""
    from .operators.graph import connected_components

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    pairs = d_minhash_lsh(spark, sf_dir)
    cc = connected_components(
        docs, pairs, v_col="doc_id", src_col="doc_a", dst_col="doc_b"
    )
    w = Window.partitionBy("component")
    return cc.select(
        F.col("v").alias("doc_id"),
        "component",
        F.count(F.lit(1)).over(w).alias("n_members"),
        (F.col("v") == F.col("component")).cast("int").alias("is_kept"),
    )


def s_ann_topk(spark, sf_dir):
    """Brute-force cosine top-5 per query vector (the exact baseline; the
    LSH-bucketed variant is q=ann_lsh)."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv")
    )
    c = e.select(F.col("vec_id").alias("n_id"), F.col("embedding").alias("nv"))
    j = q.crossJoin(c).filter(F.col("q_id") != F.col("n_id"))

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
        .filter(F.col("rank") <= 5)
        .select("q_id", "n_id", "rank", "score")
    )


SQL_ANN_TOPK = """
WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id AS n_id, embedding AS nv FROM embeddings),
s AS (
  SELECT q_id, n_id,
    ROUND(
      list_sum(list_transform(list_zip(qv, nv), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
      / (sqrt(list_sum(list_transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
         * sqrt(list_sum(list_transform(nv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS score
  FROM q, c WHERE q_id != n_id
)
SELECT q_id, n_id, rank, score FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, n_id ASC) AS rank
  FROM s
) WHERE rank <= 5
"""


def t_quality(spark, sf_dir):
    """Text-quality scoring: token count, punctuation ratio, bucket."""
    d = _t(spark, sf_dir, "documents")
    toks = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    punct = F.length("text") - F.length(F.regexp_replace("text", r"[.,!?;:]", ""))
    q = (
        F.when(toks < 5, "too_short")
        .when(punct * 4 > toks, "punct_heavy")
        .otherwise("ok")
    )
    return d.select(
        "doc_id",
        toks.alias("n_tokens"),
        punct.alias("n_punct"),
        q.alias("quality"),
    )


SQL_QUALITY = r"""
SELECT doc_id,
  len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
  length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct,
  CASE WHEN len(regexp_split_to_array(trim(text), '\s+')) < 5 THEN 'too_short'
       WHEN (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))) * 4
            > len(regexp_split_to_array(trim(text), '\s+')) THEN 'punct_heavy'
       ELSE 'ok' END AS quality
FROM documents
"""


# GPT-2-style pre-tokenizer pattern: contraction suffixes, space-prefixed
# letter runs, digit runs, symbol runs, whitespace runs. The whitespace
# class is written explicitly ([ \t\n\r\f]) because Java regex (Spark) and
# RE2 (DuckDB) disagree on \s (\x0B); everything else in the pattern is
# engine-portable, and both engines use leftmost-first alternation.
_BPE_PAT = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 \t\n\r\f]+|[ \t\n\r\f]+"
# the same pattern as a DuckDB SQL string literal — derived, not hand-copied,
# so the two engines can never drift
_BPE_PAT_SQL = "'" + _BPE_PAT.replace("'", "''") + "'"


def t_token_bpe(spark, sf_dir):
    """BPE-ish regex token counting — the brief's second tokenizer next to
    t_quality's whitespace split. Entirely JVM-side (regexp_extract_all +
    higher-order array filters; no UDF), shuffle-free: one narrow
    projection over the documents scan, so it scales as a pure map stage."""
    d = _t(spark, sf_dir, "documents")
    toks = F.regexp_extract_all(F.col("text"), F.lit(_BPE_PAT), F.lit(0))
    nonws = F.filter(toks, lambda t: ~t.rlike(r"^[ \t\n\r\f]+$"))
    n_tok = F.size(nonws).cast("long")
    n_word = F.size(
        F.filter(nonws, lambda t: t.rlike(r"^ ?[A-Za-z]+$"))
    ).cast("long")
    n_num = F.size(
        F.filter(nonws, lambda t: t.rlike(r"^ ?[0-9]+$"))
    ).cast("long")
    return d.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        n_word.alias("n_word"),
        n_num.alias("n_num"),
        (n_tok - n_word - n_num).alias("n_other"),
        F.when(n_tok > 0, F.round(F.length("text") / n_tok, 6)).alias(
            "chars_per_token"
        ),
    )


SQL_TOKEN_BPE = r"""
WITH t AS (
  SELECT doc_id, length(text) AS nchars,
    list_filter(
      regexp_extract_all(text, """ + _BPE_PAT_SQL + r"""),
      x -> NOT regexp_matches(x, '^[ \t\n\r\f]+$')) AS toks
  FROM documents
), c AS (
  SELECT doc_id, nchars, len(toks) AS n_tokens,
    len(list_filter(toks, x -> regexp_matches(x, '^ ?[A-Za-z]+$'))) AS n_word,
    len(list_filter(toks, x -> regexp_matches(x, '^ ?[0-9]+$'))) AS n_num
  FROM t
)
SELECT doc_id, n_tokens, n_word, n_num,
  n_tokens - n_word - n_num AS n_other,
  CASE WHEN n_tokens > 0 THEN ROUND(nchars / n_tokens, 6) END AS chars_per_token
FROM c
"""


def t_length_quantiles(spark, sf_dir):
    """Per-language document length distribution: exact interpolated
    p50/p90/p99 of the whitespace token count (t_quality's definition).
    Spark `percentile` and DuckDB `quantile_cont` share percentile_cont
    semantics; values rounded 6 dp. One vocabulary-free aggregation —
    shuffle is language-count-sized after map-side partials."""
    d = _t(spark, sf_dir, "documents")
    toks = F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("double")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.percentile(toks, F.lit(0.5)), 6).alias("p50"),
        F.round(F.percentile(toks, F.lit(0.9)), 6).alias("p90"),
        F.round(F.percentile(toks, F.lit(0.99)), 6).alias("p99"),
    )


SQL_LENGTH_QUANTILES = r"""
WITH t AS (
  SELECT lang,
         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) AS n
  FROM documents
)
SELECT lang, COUNT(*) AS n_docs,
       ROUND(quantile_cont(n, 0.5), 6) AS p50,
       ROUND(quantile_cont(n, 0.9), 6) AS p90,
       ROUND(quantile_cont(n, 0.99), 6) AS p99
FROM t GROUP BY lang
"""


_LANG_MARKERS = {"en": " the ", "de": " und ", "fr": " les ", "es": " que ", "zh": "的"}


def t_lang_id(spark, sf_dir):
    """Marker-token language ID heuristic; ties → marker-key order."""
    d = _t(spark, sf_dir, "documents")
    body = F.concat(F.lit(" "), F.col("text"), F.lit(" "))
    scores = {
        lang: (F.length(body) - F.length(F.replace(body, F.lit(m)))) / len(m)
        for lang, m in _LANG_MARKERS.items()
    }
    best = F.greatest(*scores.values())
    guess = F.lit("unknown")
    for lang in reversed(_LANG_MARKERS):
        guess = F.when((best > 0) & (scores[lang] == best), lang).otherwise(guess)
    return d.select("doc_id", "lang", guess.alias("guess"))


def _sql_lang_scores():
    parts = []
    for lang, m in _LANG_MARKERS.items():
        parts.append(
            f"(length(' ' || text || ' ') - length(replace(' ' || text || ' ', '{m}', ''))) / {len(m)} AS s_{lang}"
        )
    return ", ".join(parts)


SQL_LANG_ID = f"""
WITH s AS (SELECT doc_id, lang, {_sql_lang_scores()} FROM documents),
g AS (SELECT *, GREATEST(s_en, s_de, s_fr, s_es, s_zh) AS best FROM s)
SELECT doc_id, lang,
  CASE WHEN best <= 0 THEN 'unknown'
       WHEN s_en = best THEN 'en'
       WHEN s_de = best THEN 'de'
       WHEN s_fr = best THEN 'fr'
       WHEN s_es = best THEN 'es'
       ELSE 'zh' END AS guess
FROM g
"""


def t_vocab_topk(spark, sf_dir):
    """Corpus vocabulary stats: top-5 tokens per language by document
    frequency (distinct-per-doc whitespace tokens, lowercased; ties →
    lexicographically smallest token). The rank is a per-language window
    over the (lang, tok) aggregate — the shuffle is vocabulary-sized, not
    corpus-sized, and the explode feeds a map-side-combined count."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "lang",
        F.explode(
            F.array_distinct(F.split(F.lower(F.col("text")), " +"))
        ).alias("tok"),
    ).filter(F.col("tok") != "")
    counts = toks.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("df"))
    # two-phase top-k: a single window partitioned by lang would sort each
    # language's WHOLE vocabulary in one task (5 tasks total at any scale).
    # Tokens are complete within their hash bucket after the count, so
    # per-(lang, bucket) top-5 → global top-5 over <= 5*64 candidates is
    # exactly equal and sorts in parallel.
    bucketed = counts.withColumn("b", F.pmod(F.xxhash64("tok"), F.lit(64)))
    order = (F.col("df").desc(), F.col("tok").asc())
    wb = Window.partitionBy("lang", "b").orderBy(*order)
    cand = (
        bucketed.withColumn("r", F.row_number().over(wb))
        .filter(F.col("r") <= 5)
        .drop("b", "r")
    )
    w = Window.partitionBy("lang").orderBy(*order)
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("lang", "rank", "tok", "df")
    )


SQL_VOCAB_TOPK = """
WITH toks AS (
  SELECT lang, UNNEST(list_distinct(string_split_regex(lower(text), ' +'))) AS tok
  FROM documents
), c AS (
  SELECT lang, tok, COUNT(*) AS df FROM toks WHERE tok != '' GROUP BY 1, 2
)
SELECT lang, rank, tok, df FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
             ORDER BY df DESC, tok ASC) AS rank
  FROM c
) WHERE rank <= 5
"""


def t_fingerprint(spark, sf_dir):
    """Polynomial rolling-hash fingerprint of the first 64 chars
    (mod 999999937 so both engines stay in exact int64 range)."""
    d = _t(spark, sf_dir, "documents")
    prefix_len = F.least(F.length("text"), F.lit(64))
    fp = F.aggregate(
        F.transform(
            F.sequence(F.lit(1), F.greatest(prefix_len, F.lit(1))),
            lambda i: F.ascii(F.col("text").substr(i, F.lit(1))).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, c: (acc * 31 + c) % 999999937,
    )
    return d.select("doc_id", fp.alias("fingerprint"))


SQL_FINGERPRINT = """
SELECT doc_id,
  list_reduce(
    list_prepend(CAST(0 AS BIGINT),
      list_transform(range(1, GREATEST(LEAST(length(text), 64), 1) + 1),
                     i -> CAST(ascii(substr(text, CAST(i AS INT), 1)) AS BIGINT))),
    (acc, c) -> (acc * 31 + c) % 999999937) AS fingerprint
FROM documents
"""


def m_media_refs(spark, sf_dir):
    """Multimodal plumbing: per document, the media spans carried losslessly
    through parsing (decode itself is stubbed — see operators/media.py)."""
    e = parse_documents(_docs(spark, sf_dir))
    media = F.filter(F.col("noise"), lambda s: s["kind"] == "media")
    return (
        e.filter(F.size(media) > 0)
        .select(
            "doc_id",
            F.size(media).alias("n_media"),
            F.array_join(F.transform(media, lambda s: s["media_ref"]), ",").alias("refs"),
        )
    )


def sql_media_refs(fx):
    return f"""
WITH sp AS (
  SELECT doc_id, UNNEST(spans) AS s
  FROM read_parquet('{_docs_glob(fx)}')
), m AS (
  SELECT doc_id, s.media_ref, s.offset FROM sp WHERE s.kind = 'media'
)
SELECT doc_id, COUNT(*) AS n_media,
       string_agg(media_ref, ',' ORDER BY "offset") AS refs
FROM m GROUP BY 1
"""


def m_phash_dedup(spark, sf_dir):
    """Perceptual-hash dedup over decoded media: per phash group, how many
    span occurrences / distinct refs it covers and which ref is kept. The
    decode is the deterministic synthetic codec (operators/media.py) — md5
    chain → 64-pixel buffer → average-hash — computed JVM-side on the hot
    path and cross-checked against the Arrow decode path in tests."""
    from .operators.media import media_phash_col, media_spans

    spans = media_spans(parse_documents(_docs(spark, sf_dir)))
    ph = (
        spans.select("media_ref")
        .distinct()
        .withColumn("phash", media_phash_col(F.col("media_ref")))
    )
    return (
        spans.join(ph, "media_ref")
        .groupBy("phash")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("media_ref").alias("n_refs"),
            F.min("media_ref").alias("keep_ref"),
        )
    )


def sql_phash_dedup(fx):
    return f"""
WITH sp AS (
  SELECT doc_id, UNNEST(spans) AS s FROM read_parquet('{_docs_glob(fx)}')
), m AS (
  SELECT doc_id, s.media_ref FROM sp WHERE s.kind = 'media'
), refs AS (
  SELECT DISTINCT media_ref FROM m
), chain AS (
  SELECT media_ref,
         md5(media_ref) || md5(md5(media_ref)) || md5(md5(md5(media_ref)))
           || md5(md5(md5(md5(media_ref)))) AS hexbuf
  FROM refs
), px AS (
  SELECT media_ref, j,
         CAST('0x' || substr(hexbuf, CAST(j * 2 + 1 AS INT), 2) AS INT) AS p
  FROM chain, range(64) r(j)
), tot AS (
  SELECT media_ref, SUM(p) AS total FROM px GROUP BY 1
), ph AS (
  SELECT px.media_ref,
         string_agg(CASE WHEN p * 64 > total THEN '1' ELSE '0' END, '' ORDER BY j) AS phash
  FROM px JOIN tot ON tot.media_ref = px.media_ref
  GROUP BY 1
)
SELECT ph.phash, COUNT(*) AS n_occurrences,
       COUNT(DISTINCT m.media_ref) AS n_refs, MIN(m.media_ref) AS keep_ref
FROM m JOIN ph ON ph.media_ref = m.media_ref
GROUP BY 1
"""


def m_media_resize(spark, sf_dir):
    """Parameterized media resize (brief: decode / feature-extract /
    resize / frame-sample): the synthetic 8×8 buffer of every media_ref
    box-filtered to 4×4 with integer floor-mean semantics, emitted as a
    32-char hex string. This query runs the pure Column-expression mirror
    (whole-stage codegen, no UDF); the Arrow/numpy batch path
    (operators/media.resize_buffers — one reshape-sum per batch) is proven
    bit-identical in tests/test_streaming_media_dedup.py. A real decoder
    feeds the same resize via operators/codecs.file_codec."""
    from .operators.media import media_resize_col, media_spans

    refs = media_spans(parse_documents(_docs(spark, sf_dir))).select("media_ref").distinct()
    return refs.select(
        "media_ref", media_resize_col(F.col("media_ref"), 4).alias("resized_hex")
    )


def sql_media_resize(fx):
    return f"""
WITH sp AS (
  SELECT doc_id, UNNEST(spans) AS s FROM read_parquet('{_docs_glob(fx)}')
), refs AS (
  SELECT DISTINCT s.media_ref FROM sp WHERE s.kind = 'media'
), chain AS (
  SELECT media_ref,
         md5(media_ref) || md5(md5(media_ref)) || md5(md5(md5(media_ref)))
           || md5(md5(md5(md5(media_ref)))) AS hexbuf
  FROM refs
), px AS (
  SELECT media_ref, CAST(j AS INT) AS j,
         CAST('0x' || substr(hexbuf, CAST(j * 2 + 1 AS INT), 2) AS INT) AS p
  FROM chain, range(64) r(j)
), box AS (
  SELECT media_ref, ((j // 8) // 2) * 4 + ((j % 8) // 2) AS i, SUM(p) AS s
  FROM px GROUP BY 1, 2
)
SELECT media_ref,
       string_agg(lpad(lower(to_hex(s // 4)), 2, '0'), '' ORDER BY i)
         AS resized_hex
FROM box GROUP BY media_ref
"""


def m_frame_sample(spark, sf_dir):
    """Frame-sampling plumbing for multimodal media (brief: decode /
    resize / frame-sample): each media_ref is a deterministic synthetic
    "video" of 1..8 frames (count from the first md5 byte of the ref);
    every 2nd frame is sampled and perceptual-hashed, all as Column
    expressions — the per-frame seed feeds the same md5-chain codec as
    media_phash_col, and a real decoder plugs in behind
    operators/codecs.file_codec exactly as for stills. Scale shape: the
    explode factor is the bounded frame count, and everything stays in
    whole-stage codegen."""
    from .operators.media import media_phash_col, media_spans

    refs = media_spans(parse_documents(_docs(spark, sf_dir))).select("media_ref").distinct()
    n_frames = F.lit(1) + F.pmod(
        F.conv(F.substring(F.md5("media_ref"), 1, 2), 16, 10).cast("int"),
        F.lit(8),
    )
    fr = refs.select(
        "media_ref",
        F.explode(F.sequence(F.lit(0), n_frames - 1)).alias("frame_idx"),
    ).filter(F.pmod("frame_idx", F.lit(2)) == 0)
    seed = F.concat(
        F.col("media_ref"), F.lit("#"), F.col("frame_idx").cast("string")
    )
    return fr.select(
        "media_ref", "frame_idx", media_phash_col(seed).alias("frame_phash")
    )


def sql_frame_sample(fx):
    return f"""
WITH sp AS (
  SELECT doc_id, UNNEST(spans) AS s FROM read_parquet('{_docs_glob(fx)}')
), refs AS (
  SELECT DISTINCT s.media_ref FROM sp WHERE s.kind = 'media'
), fr AS (
  SELECT media_ref, CAST(j AS INTEGER) AS frame_idx,
         media_ref || '#' || CAST(j AS VARCHAR) AS seed
  FROM refs, range(8) r(j)
  WHERE j < 1 + (CAST('0x' || substr(md5(media_ref), 1, 2) AS INT) % 8)
    AND j % 2 = 0
), chain AS (
  SELECT media_ref, frame_idx,
         md5(seed) || md5(md5(seed)) || md5(md5(md5(seed)))
           || md5(md5(md5(md5(seed)))) AS hexbuf
  FROM fr
), px AS (
  SELECT media_ref, frame_idx, j,
         CAST('0x' || substr(hexbuf, CAST(j * 2 + 1 AS INT), 2) AS INT) AS p
  FROM chain, range(64) r(j)
), tot AS (
  SELECT media_ref, frame_idx, SUM(p) AS total FROM px GROUP BY 1, 2
), ph AS (
  SELECT px.media_ref, px.frame_idx,
         string_agg(CASE WHEN p * 64 > total THEN '1' ELSE '0' END,
                    '' ORDER BY j) AS frame_phash
  FROM px JOIN tot USING (media_ref, frame_idx)
  GROUP BY 1, 2
)
SELECT media_ref, frame_idx, frame_phash FROM ph
"""


# ==========================================================================
# registry
# ==========================================================================
def all_queries():
    qs = {
        "filter_project": q_filter_project,
        "groupby_agg": q_groupby_agg,
        "join_argmin": q_join_argmin,
        "semi_join": q_semi_join,
        "anti_join": q_anti_join,
        "theta_refine": q_theta_refine,
        "first_per_group": q_first_per_group,
        "when_cascade": q_when_cascade,
        "distinct_extract": q_distinct_extract,
        "window_topk": q_window_topk,
        "event_window_agg": q_event_window_agg,
        "event_sessionize": q_event_sessionize,
        "event_asof_join": q_event_asof_join,
        "event_asof_join_bucketed": q_event_asof_join_bucketed,
        "window_lag_delta": q_window_lag_delta,
        "groupby_rollup": q_groupby_rollup,
        "exceptall_diff": q_exceptall_diff,
        "geo_entity_counts": g_entity_counts,
        "geo_entrances": g_entrances,
        "geo_bbox_window": g_bbox_window,
        "geo_ways_with_postal_code": g_postal,
        "geo_addrx_on_nonclosed_way": g_addrx_nonclosed,
        "geo_ways_with_addresses": g_ways_with_addresses,
        "geo_nwa_nodes": g_nwa_nodes,
        "geo_interpolation": g_interpolation,
        "geo_nearest_street": g_nearest_street,
        "geo_knn_streets": g_knn_streets,
        "geo_nearest_place": g_nearest_place,
        "geo_interp_points": g_interp_points,
        "dedup_exact": d_exact_dedup,
        "dedup_ngram_jaccard": d_ngram_jaccard,
        "dedup_minhash_lsh": d_minhash_lsh,
        "dedup_cluster": d_dedup_cluster,
        "ann_topk": s_ann_topk,
        "text_quality": t_quality,
        "text_lang_id": t_lang_id,
        "text_fingerprint": t_fingerprint,
        "text_vocab_topk": t_vocab_topk,
        "text_length_quantiles": t_length_quantiles,
        "text_token_bpe": t_token_bpe,
        "media_refs": m_media_refs,
        "media_phash_dedup": m_phash_dedup,
        "media_frame_sample": m_frame_sample,
        "media_resize": m_media_resize,
        "geo_pip_assign": g_pip_assign,
        "geo_street_not_found": g_street_not_found,
        "dedup_simhash": d_simhash,
        "dedup_embedding_cosine": d_embedding_near_dup,
        "ann_ivf": s_ann_ivf,
        "geo_rasterize": g_rasterize,
        "geo_polygonize": g_polygonize,
        "geo_tile_rollup": g_tile_rollup,
        "geo_connection_line": g_connection_line,
        "geo_connection_length": g_connection_length,
        "geo_no_addr_street": g_no_addr_street,
        "geo_place_not_found": g_place_not_found,
        "geo_nwa_defined": g_nwa_defined,
        "geo_nwa_interpolated": g_nwa_interpolated,
        "geo_interp_errors": g_interp_errors,
        "dedup_stream_stateful": d_stream_dedup,
        "event_stream_interval_join": q_stream_interval_join,
        "approx_distinct_hll": q_hll_distinct,
        "bloom_semi_join": q_bloom_semi_join,
        "graph_pagerank": q_pagerank,
        "text_tfidf_topk": t_tfidf_topk,
        "sample_stratified": t_sample_stratified,
        "heavy_hitters_cms": d_heavy_hitters,
        "sample_weighted": t_sample_weighted,
        "approx_distinct_stream": q_hll_stream,
        "embed_quantize_int8": s_embed_quantize,
        "geo_zonal_stats": g_zonal_stats,
        "event_funnel": q_event_funnel,
        "text_bigram_lm": t_bigram_lm,
        "dedup_semantic_cluster": d_semantic_cluster,
        "event_retention": q_event_retention,
        "profile_table": q_profile_table,
        "geo_polygon_overlay": g_polygon_overlay,
        "fuzzy_join": q_fuzzy_join,
        "geo_kring_smooth": g_kring_smooth,
        "event_anomaly": q_event_anomaly,
        "event_cumulative_users": q_cumulative_users,
        "heavy_hitters_stream": q_cms_stream,
        "text_curation_pipeline": t_curation_pipeline,
        "event_markov_transitions": q_markov_transitions,
        "market_basket": q_market_basket,
    }
    return qs


def all_oracles(sf_dir: str = "/root/testdata/sf0.01") -> dict[str, str]:
    fx = fixture_path(sf_dir)
    return {
        "filter_project": SQL_FILTER_PROJECT,
        "groupby_agg": SQL_GROUPBY_AGG,
        "join_argmin": SQL_JOIN_ARGMIN,
        "semi_join": SQL_SEMI_JOIN,
        "anti_join": SQL_ANTI_JOIN,
        "theta_refine": SQL_THETA_REFINE,
        "first_per_group": SQL_FIRST_PER_GROUP,
        "when_cascade": SQL_WHEN_CASCADE,
        "distinct_extract": SQL_DISTINCT_EXTRACT,
        "window_topk": SQL_WINDOW_TOPK,
        "event_window_agg": SQL_EVENT_WINDOW_AGG,
        "event_sessionize": SQL_EVENT_SESSIONIZE,
        "event_asof_join": SQL_EVENT_ASOF_JOIN,
        "event_asof_join_bucketed": SQL_EVENT_ASOF_JOIN,
        "window_lag_delta": SQL_WINDOW_LAG_DELTA,
        "groupby_rollup": SQL_GROUPBY_ROLLUP,
        "exceptall_diff": SQL_EXCEPTALL_DIFF,
        "geo_entity_counts": sql_entity_counts(fx),
        "geo_entrances": sql_entrances(fx),
        "geo_bbox_window": sql_bbox_window(fx),
        "geo_ways_with_postal_code": sql_postal(fx),
        "geo_addrx_on_nonclosed_way": sql_addrx_nonclosed(fx),
        "geo_ways_with_addresses": sql_ways_with_addresses(fx),
        "geo_nwa_nodes": sql_nwa_nodes(fx),
        "geo_interpolation": sql_interpolation(fx),
        "geo_nearest_street": sql_nearest_street(fx),
        "geo_knn_streets": sql_knn_streets(fx),
        "geo_nearest_place": sql_nearest_place(fx),
        "geo_interp_points": sql_interp_points(fx),
        "dedup_exact": SQL_EXACT_DEDUP,
        "dedup_ngram_jaccard": SQL_NGRAM_JACCARD,
        "dedup_minhash_lsh": SQL_MINHASH_LSH,
        "dedup_cluster": SQL_DEDUP_CLUSTER,
        "dedup_simhash": SQL_SIMHASH,
        "ann_topk": SQL_ANN_TOPK,
        "text_quality": SQL_QUALITY,
        "text_lang_id": SQL_LANG_ID,
        "text_fingerprint": SQL_FINGERPRINT,
        "text_vocab_topk": SQL_VOCAB_TOPK,
        "text_length_quantiles": SQL_LENGTH_QUANTILES,
        "text_token_bpe": SQL_TOKEN_BPE,
        "media_refs": sql_media_refs(fx),
        "media_phash_dedup": sql_phash_dedup(fx),
        "media_frame_sample": sql_frame_sample(fx),
        "media_resize": sql_media_resize(fx),
        "geo_pip_assign": sql_pip_assign(fx),
        "geo_street_not_found": sql_street_not_found(fx),
        "dedup_embedding_cosine": sql_embedding_near_dup(sf_dir),
        "ann_ivf": sql_ann_ivf(),
        "geo_rasterize": sql_rasterize(fx),
        "geo_polygonize": sql_polygonize(fx),
        "geo_tile_rollup": sql_tile_rollup(fx),
        "geo_connection_line": sql_connection_line(fx),
        "geo_connection_length": sql_connection_length(fx),
        "geo_no_addr_street": sql_no_addr_street(fx),
        "geo_place_not_found": sql_place_not_found(fx),
        "geo_nwa_defined": sql_nwa_defined(fx),
        "geo_nwa_interpolated": sql_nwa_interpolated(fx),
        "geo_interp_errors": sql_interp_errors(fx),
        "dedup_stream_stateful": SQL_STREAM_DEDUP,
        "event_stream_interval_join": SQL_STREAM_INTERVAL_JOIN,
        "approx_distinct_hll": sql_hll_distinct(),
        "bloom_semi_join": sql_bloom_semi_join(),
        "graph_pagerank": sql_pagerank(),
        "text_tfidf_topk": SQL_TFIDF_TOPK,
        "sample_stratified": sql_sample_stratified(),
        "heavy_hitters_cms": sql_heavy_hitters(),
        "sample_weighted": SQL_SAMPLE_WEIGHTED,
        "approx_distinct_stream": sql_hll_stream(),
        "embed_quantize_int8": SQL_EMBED_QUANTIZE,
        "geo_zonal_stats": sql_zonal_stats(fx),
        "event_funnel": SQL_EVENT_FUNNEL,
        "text_bigram_lm": SQL_BIGRAM_LM,
        "dedup_semantic_cluster": sql_semantic_cluster(sf_dir),
        "event_retention": SQL_EVENT_RETENTION,
        "profile_table": sql_profile_table(),
        "geo_polygon_overlay": sql_polygon_overlay(fx),
        "fuzzy_join": SQL_FUZZY_JOIN,
        "geo_kring_smooth": sql_kring_smooth(fx),
        "event_anomaly": SQL_EVENT_ANOMALY,
        "event_cumulative_users": SQL_CUMULATIVE_USERS,
        "heavy_hitters_stream": sql_cms_stream(),
        "text_curation_pipeline": sql_curation_pipeline(),
        "event_markov_transitions": SQL_MARKOV_TRANSITIONS,
        "market_basket": sql_market_basket(),
    }


# -- point-in-polygon assignment (north-rule op) ---------------------------
# -- raster <-> vector (north-rule op family) ------------------------------
def g_rasterize(spark, sf_dir):
    """vector→raster: node density on a 0.05° grid (one hash agg)."""
    from .operators.raster import rasterize_points

    return rasterize_points(_pipeline(spark, sf_dir)["nodes"], res=0.05)


def sql_rasterize(fx):
    return _fx_prefix(fx) + """
SELECT CAST(floor(lon / 0.05) AS BIGINT) AS cx,
       CAST(floor(lat / 0.05) AS BIGINT) AS cy,
       COUNT(*) AS n
FROM nd GROUP BY 1, 2"""


def g_tile_rollup(spark, sf_dir):
    """Slippy-tile zoom-pyramid rollup (north-rule tiling surface): node
    counts per z/x/y tile for zooms 6..16 — tiled ONCE at z16, coarser
    levels rolled up hierarchically (functions/tiles.py), vs the oracle's
    direct per-zoom assignment (bit-identical: floor commutes with >>)."""
    from .functions.tiles import tile_pyramid

    return tile_pyramid(_pipeline(spark, sf_dir)["nodes"], zmin=6, zmax=16)


def sql_tile_rollup(fx):
    per_zoom = "\nUNION ALL\n".join(
        f"""SELECT {z} AS zoom,
  GREATEST(0, LEAST(CAST(FLOOR((lon + 180.0) / 360.0 * {float(1 << z)}) AS BIGINT), {(1 << z) - 1})) AS xt,
  GREATEST(0, LEAST(CAST(FLOOR((1.0 - LN(TAN(RADIANS(lat)) + 1.0 / COS(RADIANS(lat))) / PI()) / 2.0 * {float(1 << z)}) AS BIGINT), {(1 << z) - 1})) AS yt,
  COUNT(*) AS n
FROM nd WHERE lon IS NOT NULL AND lat IS NOT NULL GROUP BY 1, 2, 3"""
        for z in range(6, 17)
    )
    return _fx_prefix(fx) + per_zoom


def g_polygonize(spark, sf_dir):
    """raster→vector: connected components of dense cells (≥5 points) via
    distributed min-label propagation with pointer jumping."""
    from .operators.raster import polygonize_cells, rasterize_points

    nodes = _pipeline(spark, sf_dir)["nodes"]
    return polygonize_cells(rasterize_points(nodes, res=0.05), threshold=5)


def sql_polygonize(fx):
    """Recursive-CTE transitive closure over the same 4-neighbourhood edge
    list → min reachable cell key per cell == the Spark component id."""
    return f"""
WITH RECURSIVE sp AS (
  SELECT doc_id, UNNEST(spans) AS s FROM read_parquet('{_docs_glob(fx)}')
), hdr AS (
  SELECT doc_id, string_split(s.text, ' ') AS p FROM sp WHERE s.kind = 'header'
), nd AS (
  SELECT TRY_CAST(p[3] AS DOUBLE) AS lat, TRY_CAST(p[4] AS DOUBLE) AS lon
  FROM hdr WHERE p[1] = 'node'
), ras AS (
  SELECT CAST(floor(lon / 0.05) AS BIGINT) AS cx,
         CAST(floor(lat / 0.05) AS BIGINT) AS cy, COUNT(*) AS n
  FROM nd GROUP BY 1, 2
), act AS (
  SELECT cx, cy, n, (cx + 1048576) * 2097152 + (cy + 1048576) AS k
  FROM ras WHERE n >= 5
), e AS (
  SELECT a.k AS ka, b.k AS kb
  FROM act a JOIN act b ON abs(a.cx - b.cx) + abs(a.cy - b.cy) = 1
), reach(k, lbl) AS (
  SELECT k, k FROM act
  UNION
  SELECT e.kb, r.lbl FROM reach r JOIN e ON e.ka = r.k
), comp AS (
  SELECT k, MIN(lbl) AS component FROM reach GROUP BY k
)
SELECT component,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(n) AS BIGINT) AS total_n,
       MIN(cx) AS min_cx, MAX(cx) AS max_cx,
       MIN(cy) AS min_cy, MAX(cy) AS max_cy
FROM act JOIN comp USING (k)
GROUP BY 1
"""


def g_pip_assign(spark, sf_dir):
    """addr nodes → containing place polygons (cell covering + ray cast)."""
    from .operators.pip import assign_points_to_polygons

    d = _pipeline(spark, sf_dir)
    pts = d["nodes"].filter(F.col("tags")["addr:housenumber"].isNotNull()).select(
        F.col("node_id").alias("pkey"), "lon", "lat"
    )
    polys = (
        d["ways_geo"]
        .filter(
            F.col("tags")["place"].isNotNull()
            & (F.size("refs") >= 2)
            & (F.element_at("refs", 1) == F.element_at("refs", -1))
            & F.col("coords").isNotNull()
        )
        .select(F.col("way_id").alias("poly_id"), F.col("coords").alias("ring"))
    )
    m = assign_points_to_polygons(pts, polys)
    return m.select(
        G.fmt_id(F.col("pkey")).alias("node_id"), G.fmt_id(F.col("poly_id")).alias("poly_id")
    )


def sql_pip_assign(fx):
    return _fx_prefix(fx) + """
, poly AS (
  SELECT w.way_id AS poly_id, w.coords,
    list_zip(w.coords[1:len(w.coords)-1], w.coords[2:len(w.coords)]) AS prs
  FROM wgeo w
  WHERE NOT w.dangling AND len(w.refs) >= 2 AND w.refs[1] = w.refs[-1]
    AND EXISTS (SELECT 1 FROM wtag t WHERE t.way_id = w.way_id AND t.k = 'place')
), pts AS (
  SELECT n.node_id, n.lon, n.lat FROM nd n
  WHERE EXISTS (SELECT 1 FROM ntag t WHERE t.node_id = n.node_id AND t.k = 'addr:housenumber')
)
SELECT CAST(p.node_id AS VARCHAR) AS node_id, CAST(q.poly_id AS VARCHAR) AS poly_id
FROM pts p, poly q
WHERE (list_sum(list_transform(q.prs, e ->
        CASE WHEN (e[1].lat > p.lat) != (e[2].lat > p.lat)
              AND p.lon < (e[2].lon - e[1].lon) * (p.lat - e[1].lat) / (e[2].lat - e[1].lat) + e[1].lon
             THEN 1 ELSE 0 END)) % 2) = 1
"""


# -- derived anti-join view (F13/J8): street_not_found over node rows ------
def g_street_not_found(spark, sf_dir):
    """The run's street_not_found view (addresses.map:846) restricted to
    node rows (way centroids excluded so the oracle stays node-joined)."""
    return _pipeline(spark, sf_dir)["street_not_found"].filter(
        F.col("node_id").isNotNull()
    ).select("node_id", "street")


def sql_street_not_found(fx):
    return _fx_prefix(fx) + """
, hw AS (
  SELECT w.way_id, w.coords,
    list_max(list_transform(w.coords, c -> c.lat)) AS bn,
    list_max(list_transform(w.coords, c -> c.lon)) AS be,
    list_min(list_transform(w.coords, c -> c.lat)) AS bs,
    list_min(list_transform(w.coords, c -> c.lon)) AS bw
  FROM wgeo w
  WHERE NOT w.dangling AND len(w.refs) >= 2
    AND EXISTS (SELECT 1 FROM wtag t WHERE t.way_id = w.way_id AND t.k = 'highway')
), hwn AS (
  SELECT DISTINCT h.way_id, t.v AS street_name,
    ceil(h.bn*32767/90)*90/32767 AS dn, ceil(h.be*32767/180)*180/32767 AS de,
    floor(h.bs*32767/90)*90/32767 AS ds, floor(h.bw*32767/180)*180/32767 AS dw
  FROM hw h JOIN wtag t ON t.way_id = h.way_id
  WHERE t.k IN ('name','name:left','name:right','alt_name','official_name','short_name','ref')
), ad AS (
  SELECT n.node_id, n.lon, n.lat, t.v AS street
  FROM nd n JOIN ntag t ON t.node_id = n.node_id AND t.k = 'addr:street'
  WHERE t.v != ''
), matched_street AS (
  SELECT DISTINCT a.node_id
  FROM ad a JOIN hwn h ON h.street_name = a.street
  WHERE a.lat < h.dn + 0.01 AND a.lat > h.ds - 0.01
    AND a.lon < h.de + 0.01/cos(radians(a.lat))
    AND a.lon > h.dw - 0.01/cos(radians(a.lat))
), pl_nody AS (
  SELECT n.lon, n.lat, t.v AS name FROM nd n
  JOIN ntag t ON t.node_id = n.node_id AND t.k = 'name'
  WHERE EXISTS (SELECT 1 FROM ntag t2 WHERE t2.node_id = n.node_id AND t2.k = 'place')
), ring AS (
  SELECT w.way_id, w.coords[1].lon AS xr, w.coords[1].lat AS yr,
    list_zip(w.coords[1:len(w.coords)-1], w.coords[2:len(w.coords)]) AS prs
  FROM wgeo w
  WHERE NOT w.dangling AND len(w.refs) >= 2 AND w.refs[1] = w.refs[-1]
    AND EXISTS (SELECT 1 FROM wtag t WHERE t.way_id = w.way_id AND t.k = 'place')
    AND EXISTS (SELECT 1 FROM wtag t WHERE t.way_id = w.way_id AND t.k = 'name')
), cent AS (
  -- shoelace translated to the first vertex (mirrors geom_sql.centroid_cols)
  SELECT way_id, xr, yr,
    list_sum(list_transform(prs, p -> (p[1].lon-xr)*(p[2].lat-yr) - (p[2].lon-xr)*(p[1].lat-yr))) AS a2,
    list_sum(list_transform(prs, p -> ((p[1].lon-xr)+(p[2].lon-xr))*((p[1].lon-xr)*(p[2].lat-yr) - (p[2].lon-xr)*(p[1].lat-yr)))) AS cx,
    list_sum(list_transform(prs, p -> ((p[1].lat-yr)+(p[2].lat-yr))*((p[1].lon-xr)*(p[2].lat-yr) - (p[2].lon-xr)*(p[1].lat-yr)))) AS cy
  FROM ring
), pl AS (
  SELECT lon, lat, name FROM pl_nody
  UNION ALL
  SELECT c.xr + c.cx/(3*c.a2), c.yr + c.cy/(3*c.a2), t.v
  FROM cent c JOIN wtag t ON t.way_id = c.way_id AND t.k = 'name'
  WHERE c.a2 != 0
), adp AS (
  SELECT n.node_id, n.lon, n.lat, t.v AS lookup_name
  FROM nd n JOIN ntag t ON t.node_id = n.node_id AND t.k IN ('addr:street','addr:place')
), matched_place AS (
  SELECT DISTINCT a.node_id
  FROM adp a JOIN pl p ON p.name = a.lookup_name
  WHERE sqrt((p.lon-a.lon)*(p.lon-a.lon)+(p.lat-a.lat)*(p.lat-a.lat)) < 0.01
)
SELECT CAST(a.node_id AS VARCHAR) AS node_id, a.street
FROM ad a
WHERE a.node_id NOT IN (SELECT node_id FROM matched_street)
  AND a.node_id NOT IN (SELECT node_id FROM matched_place)
"""


# -- SimHash / embedding near-dup ------------------------------------------
def d_simhash(spark, sf_dir):
    from .operators.dedup import simhash_near_dups

    return simhash_near_dups(_t(spark, sf_dir, "documents"), max_hamming=3)


# Mirrors operators/dedup.py simhash + banding exactly: md5-based 64-bit
# token hash in two 32-bit halves, per-bit sign sums, 4×16-bit band join,
# exact hamming verify. Arithmetic >> plus & 0xFFFF extracts the same band
# bits as Spark's shiftrightunsigned (shifted-in sign bits land above the
# mask for every band offset).
SQL_SIMHASH = r"""
WITH toks AS (
  SELECT DISTINCT doc_id, t FROM (
    SELECT doc_id, UNNEST(regexp_split_to_array(text, '[ \t\n\r\f]+')) AS t
    FROM documents
  ) WHERE t != ''
), h AS (
  SELECT doc_id,
         CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) AS hi,
         CAST('0x' || substr(md5(t), 9, 8) AS BIGINT) AS lo
  FROM toks
), sums AS (
  SELECT doc_id, i,
         SUM(2 * (((CASE WHEN i < 32 THEN lo ELSE hi END) >> (i % 32)) & 1) - 1) AS s
  FROM h, range(64) r(i)
  GROUP BY 1, 2
), sig0 AS (
  SELECT doc_id,
         SUM(CASE WHEN s > 0 THEN
               CASE WHEN i = 63 THEN -9223372036854775808
                    ELSE (CAST(1 AS BIGINT) << CAST(i AS INT)) END
             ELSE 0 END) AS simhash
  FROM sums GROUP BY 1
), sig AS (
  -- SUM() yields HUGEINT; cast back so xor/bit_count see the 64-bit pattern
  -- (int128 sign extension would add 64 phantom bits to every hamming)
  SELECT d.doc_id, CAST(COALESCE(g.simhash, 0) AS BIGINT) AS simhash
  FROM documents d LEFT JOIN sig0 g USING (doc_id)
), bands AS (
  SELECT doc_id, simhash, b, (simhash >> (b * 16)) & 65535 AS key
  FROM sig, range(4) r(b)
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b,
                  a.simhash AS sa, b2.simhash AS sb
  FROM bands a JOIN bands b2
    ON a.b = b2.b AND a.key = b2.key AND a.doc_id < b2.doc_id
)
SELECT doc_a, doc_b, bit_count(xor(sa, sb)) AS hamming
FROM cand WHERE bit_count(xor(sa, sb)) <= 3
"""


def d_embedding_near_dup(spark, sf_dir):
    from .operators.dedup import embedding_near_dups

    # 0.35 ≈ p99.9 of the pairwise-cosine distribution in the synthetic
    # embeddings (max 0.51) — high enough to be selective, low enough that
    # the oracle comparison is non-vacuous
    return embedding_near_dups(_t(spark, sf_dir, "embeddings"), threshold=0.35)


def sql_embedding_near_dup(sf_dir: str = "/root/testdata/sf0.01") -> str:
    return (
        "WITH "
        + _embedding_pairs_ctes(sf_dir)
        + "\nSELECT vec_a, vec_b, cosine FROM epairs\n"
    )


def _embedding_pairs_ctes(sf_dir: str = "/root/testdata/sf0.01") -> str:
    """DuckDB CTE chain for the embedding near-dup pairs (ends with
    `epairs(vec_a, vec_b, cosine)`): regenerates the identical md5-derived
    ±1 hyperplane entries (operators/dedup.plane_signs), builds the same 4
    band buckets of 8 bits, self-joins per band, verifies exact cosine —
    mirroring the banded LSH plan literally. Shared by the near-dup row and
    the semantic-cluster row."""
    import pyarrow.parquet as pq

    from .operators.dedup import plane_signs

    tbl = pq.read_table(
        os.path.join(sf_dir, "embeddings.parquet"), columns=["embedding"]
    )
    dim = len(tbl.column(0)[0])
    bands, rpb = 4, 8
    signs = plane_signs(bands * rpb, max_dim=dim)
    band_exprs = []
    for b in range(bands):
        terms = []
        for r in range(rpb):
            lits = ", ".join(f"{s}.0" for s in signs[b * rpb + r][:dim])
            terms.append(
                f"(CASE WHEN list_inner_product(v, [{lits}]) > 0 THEN {1 << r} ELSE 0 END)"
            )
        band_exprs.append("(" + " + ".join(terms) + ")")
    buckets = ", ".join(band_exprs)
    band_ids = ", ".join(str(b) for b in range(bands))
    return f"""e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), b AS (
  SELECT vec_id, v,
         UNNEST([{band_ids}]) AS band,
         UNNEST([{buckets}]) AS bucket
  FROM e
), cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b2.vec_id AS vec_b
  FROM b a JOIN b b2
    ON a.band = b2.band AND a.bucket = b2.bucket AND a.vec_id < b2.vec_id
), epairs AS (
  SELECT vec_a, vec_b, round(list_cosine_similarity(ea.v, eb.v), 6) AS cosine
  FROM cand
  JOIN e ea ON ea.vec_id = vec_a
  JOIN e eb ON eb.vec_id = vec_b
  WHERE round(list_cosine_similarity(ea.v, eb.v), 6) >= 0.35
)"""


def s_ann_ivf(spark, sf_dir):
    """IVF-bucketed approximate top-5 (scale path of ann_topk). Seed-mode
    centroids + half-away 6dp rounding before every argmax/rank make the
    whole pipeline — assignment, probe selection, bucket join, ranking —
    exactly reproducible in the DuckDB oracle (round 1 was rows-only)."""
    from .operators.similarity import ann_ivf_topk

    return ann_ivf_topk(_t(spark, sf_dir, "embeddings"), k=5, nlist=16, nprobe=6)


def sql_ann_ivf(nlist: int = 16, nprobe: int = 6, k: int = 5) -> str:
    """DuckDB mirror of s_ann_ivf: same md5-ordered seed centroids, same
    rounded-cosine argmax assignment (ties → lowest centroid id), same
    probe lists, same bucket join and final ranking."""
    return f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), cent AS (
  SELECT rn - 1 AS cid, cv FROM (
    SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn,
           v AS cv
    FROM e
  ) WHERE rn <= {nlist}
), sims AS (
  SELECT e.vec_id, e.v, c.cid,
         round(list_cosine_similarity(e.v, c.cv), 6) AS sim
  FROM e CROSS JOIN cent c
), assigned AS (
  SELECT vec_id AS n_id, v AS nv, cid FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid ASC) AS rn
    FROM sims
  ) WHERE rn = 1
), probes AS (
  SELECT vec_id AS q_id, v AS qv, cid FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid ASC) AS rn
    FROM sims WHERE vec_id < 5
  ) WHERE rn <= {nprobe}
), j AS (
  SELECT p.q_id, a.n_id,
         round(list_cosine_similarity(p.qv, a.nv), 6) AS score
  FROM probes p JOIN assigned a ON a.cid = p.cid AND a.n_id != p.q_id
)
SELECT q_id, n_id, rank, score FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, n_id ASC) AS rank
  FROM j
) WHERE rank <= {k}
"""


# ==========================================================================
# round-5 gate hardening — oracle rows for the refine (G5-G8) and the four
# derived MapServer views that were pytest-only (VERDICT r4 "What's missing")
# ==========================================================================
def g_connection_line(spark, sf_dir):
    """G5-G8 foot point under the driver oracle: for each matched node addr
    the winner way AND the connection-line endpoint (wgs→mercator, closest
    vertex, closest point on the ≤2 adjacent segments, mercator→wgs —
    osmi/ConnectionLinePreprocessor.hpp:147-154, 283-364). Rounded to 6 dp
    (≈0.1 m) on both sides; the refine itself runs in float64 in both
    engines with identical op order."""
    return _node_matches(spark, sf_dir, "street").select(
        G.fmt_id(F.col("obj_id")).alias("node_id"),
        G.fmt_id(F.col("way_id")).alias("way_id"),
        F.round(F.col("foot_lon"), 6).alias("foot_lon"),
        F.round(F.col("foot_lat"), 6).alias("foot_lat"),
    )


_MERC_R = "6378137.0"


def _foot_point_ctes(fx):
    """DuckDB mirror of geom_np.refine_foot_points_batch over the argmin
    winners: same mercator projection (R=6378137), first-minimal closest
    vertex (squared distance — monotonic to the engine's hypot), clamped
    projection on the ≤2 adjacent segments with the degenerate-segment →
    b-endpoint rule, left segment taken unconditionally, right only when
    strictly closer. Ends at `best` (node wgs coords nlon/nlat + mercator
    foot bx/by); callers append their final SELECT."""
    R = _MERC_R
    return _street_winner_ctes(fx) + f"""
, proj AS (
  SELECT v.node_id, v.way_id, v.lon AS nlon, v.lat AS nlat,
    {R} * radians(v.lon) AS px,
    {R} * ln(tan(pi()/4 + radians(v.lat)/2)) AS py,
    list_transform(c.coords, q -> {R} * radians(q.lon)) AS xs,
    list_transform(c.coords, q -> {R} * ln(tan(pi()/4 + radians(q.lat)/2))) AS ys
  FROM win v JOIN wgeo c USING (way_id)
), cv AS (
  SELECT *, list_position(d2, list_min(d2)) AS ci, len(xs) AS n FROM (
    SELECT *, list_transform(list_zip(xs, ys),
              z -> (z[1]-px)*(z[1]-px) + (z[2]-py)*(z[2]-py)) AS d2
    FROM proj)
), seg AS (
  SELECT node_id, way_id, nlon, nlat, px, py, xs[ci] AS cx, ys[ci] AS cy,
    ci > 1 AS has_prev, ci < n AS has_next,
    xs[CASE WHEN ci > 1 THEN ci-1 ELSE ci END] AS lbx,
    ys[CASE WHEN ci > 1 THEN ci-1 ELSE ci END] AS lby,
    xs[CASE WHEN ci < n THEN ci+1 ELSE ci END] AS rbx,
    ys[CASE WHEN ci < n THEN ci+1 ELSE ci END] AS rby
  FROM cv
), pts AS (
  SELECT *,
    (lbx-cx)*(lbx-cx)+(lby-cy)*(lby-cy) AS ld,
    ((px-cx)*(lbx-cx)+(py-cy)*(lby-cy)) AS lt,
    (rbx-cx)*(rbx-cx)+(rby-cy)*(rby-cy) AS rd,
    ((px-cx)*(rbx-cx)+(py-cy)*(rby-cy)) AS rt
  FROM seg
), feet AS (
  SELECT *,
    CASE WHEN ld = 0 THEN lbx WHEN lt/ld < 0 THEN cx
         WHEN lt/ld > 1 THEN lbx ELSE cx + (lt/ld)*(lbx-cx) END AS lfx,
    CASE WHEN ld = 0 THEN lby WHEN lt/ld < 0 THEN cy
         WHEN lt/ld > 1 THEN lby ELSE cy + (lt/ld)*(lby-cy) END AS lfy,
    CASE WHEN rd = 0 THEN rbx WHEN rt/rd < 0 THEN cx
         WHEN rt/rd > 1 THEN rbx ELSE cx + (rt/rd)*(rbx-cx) END AS rfx,
    CASE WHEN rd = 0 THEN rby WHEN rt/rd < 0 THEN cy
         WHEN rt/rd > 1 THEN rby ELSE cy + (rt/rd)*(rby-cy) END AS rfy
  FROM pts
), pick AS (
  SELECT *,
    CASE WHEN has_prev THEN lfx ELSE cx END AS bx0,
    CASE WHEN has_prev THEN lfy ELSE cy END AS by0
  FROM feet
), best AS (
  SELECT node_id, way_id, nlon, nlat,
    CASE WHEN has_next AND (px-rfx)*(px-rfx)+(py-rfy)*(py-rfy)
                         < (px-bx0)*(px-bx0)+(py-by0)*(py-by0)
         THEN rfx ELSE bx0 END AS bx,
    CASE WHEN has_next AND (px-rfx)*(px-rfx)+(py-rfy)*(py-rfy)
                         < (px-bx0)*(px-bx0)+(py-by0)*(py-by0)
         THEN rfy ELSE by0 END AS by
  FROM pick
)"""


def sql_connection_line(fx):
    R = _MERC_R
    return _foot_point_ctes(fx) + f"""
SELECT CAST(node_id AS VARCHAR) AS node_id, CAST(way_id AS VARCHAR) AS way_id,
       round(degrees(bx/{R}), 6) AS foot_lon,
       round(degrees(2*atan(exp(by/{R})) - pi()/2), 6) AS foot_lat
FROM best
"""


def g_connection_length(spark, sf_dir):
    """Metric QA surface on the flagship: haversine length (meters, 3 dp)
    of each connection line — node → adjacent-segment foot point — as a
    pure Column expression (functions/geom_sql.haversine_m; the reference
    ranks candidates in degree space, osmi/ConnectionLinePreprocessor.hpp,
    and this is the vectorized metric refine on the winners)."""
    return _node_matches(spark, sf_dir, "street").select(
        G.fmt_id(F.col("obj_id")).alias("node_id"),
        G.fmt_id(F.col("way_id")).alias("way_id"),
        F.round(
            G.haversine_m(
                F.col("lon"), F.col("lat"), F.col("foot_lon"), F.col("foot_lat")
            ),
            3,
        ).alias("len_m"),
    )


def sql_connection_length(fx):
    R = _MERC_R
    return _foot_point_ctes(fx) + f"""
, wgs AS (
  SELECT node_id, way_id, nlon, nlat,
         degrees(bx/{R}) AS flon,
         degrees(2*atan(exp(by/{R})) - pi()/2) AS flat
  FROM best
)
SELECT CAST(node_id AS VARCHAR) AS node_id, CAST(way_id AS VARCHAR) AS way_id,
       round(2.0 * 6371008.8 * asin(sqrt(least(
         pow(sin(radians(flat - nlat)/2), 2)
         + cos(radians(nlat)) * cos(radians(flat))
           * pow(sin(radians(flon - nlon)/2), 2), 1.0))), 3) AS len_m
FROM wgs
"""


def _obj_rows(view: DataFrame, *cols: str) -> DataFrame:
    """Node + way-centroid rows of an nwa view keyed as (obj_type, id)."""
    return view.select(
        F.when(F.col("node_id").isNotNull(), "node").otherwise("way").alias("obj_type"),
        F.coalesce("node_id", "way_id").alias("id"),
        *cols,
    )


def g_no_addr_street(spark, sf_dir):
    """The run's no_addr_street view (addresses.map:798): nwa members whose
    street, fulladdr AND place are all empty."""
    return _obj_rows(
        _pipeline(spark, sf_dir)["no_addr_street"], "houseno", "postcode", "city", "country"
    )


def sql_no_addr_street(fx):
    return _fx_prefix(fx) + """
, ntg AS (
  SELECT n.node_id,
    MAX(CASE WHEN t.k = 'addr:street' THEN t.v END) AS street,
    MAX(CASE WHEN t.k = 'addr:housenumber' THEN t.v END) AS houseno,
    MAX(CASE WHEN t.k = 'addr:postcode' THEN t.v END) AS postcode,
    MAX(CASE WHEN t.k = 'addr:city' THEN t.v END) AS city,
    MAX(CASE WHEN t.k = 'addr:country' THEN t.v END) AS country,
    MAX(CASE WHEN t.k = 'addr:full' THEN t.v END) AS fulladdr,
    MAX(CASE WHEN t.k = 'addr:place' THEN t.v END) AS place
  FROM nd n JOIN ntag t ON t.node_id = n.node_id
  GROUP BY 1
), wtg AS (
  SELECT w.way_id,
    MAX(CASE WHEN t.k = 'addr:street' THEN t.v END) AS street,
    MAX(CASE WHEN t.k = 'addr:housenumber' THEN t.v END) AS houseno,
    MAX(CASE WHEN t.k = 'addr:postcode' THEN t.v END) AS postcode,
    MAX(CASE WHEN t.k = 'addr:city' THEN t.v END) AS city,
    MAX(CASE WHEN t.k = 'addr:country' THEN t.v END) AS country,
    MAX(CASE WHEN t.k = 'addr:full' THEN t.v END) AS fulladdr,
    MAX(CASE WHEN t.k = 'addr:place' THEN t.v END) AS place,
    MAX(CASE WHEN t.k = 'building' THEN t.v END) AS building
  FROM wp2 w JOIN wtag t ON t.way_id = w.way_id
  WHERE w.closed
  GROUP BY 1
)
SELECT 'node' AS obj_type, CAST(node_id AS VARCHAR) AS id,
       houseno, postcode, city, country
FROM ntg
WHERE (street IS NOT NULL OR houseno IS NOT NULL OR postcode IS NOT NULL
       OR city IS NOT NULL OR country IS NOT NULL OR fulladdr IS NOT NULL
       OR place IS NOT NULL)
  AND COALESCE(street, '') = '' AND COALESCE(fulladdr, '') = ''
  AND COALESCE(place, '') = ''
UNION ALL
SELECT 'way', CAST(way_id AS VARCHAR), houseno, postcode, city, country
FROM wtg
WHERE building IS NOT NULL
  AND (street IS NOT NULL OR houseno IS NOT NULL)
  AND COALESCE(street, '') = '' AND COALESCE(fulladdr, '') = ''
  AND COALESCE(place, '') = ''
"""


def g_place_not_found(spark, sf_dir):
    """The run's place_not_found view (addresses.map:893): nwa members with
    place != '' that matched no place via either the street-name fallback
    or the place name."""
    return _obj_rows(_pipeline(spark, sf_dir)["place_not_found"], "place", "houseno")


def sql_place_not_found(fx):
    """Mirror of g_place_not_found. Way centroids use the translated
    shoelace with a2 != 0 (every closed fixture building has nonzero area;
    the engine's zero-area fallbacks are pytest-covered in test_geom)."""
    return _fx_prefix(fx) + """
, pl_nody AS (
  SELECT n.lon, n.lat, t.v AS name FROM nd n
  JOIN ntag t ON t.node_id = n.node_id AND t.k = 'name'
  WHERE EXISTS (SELECT 1 FROM ntag t2 WHERE t2.node_id = n.node_id AND t2.k = 'place')
), ring AS (
  SELECT w.way_id, w.coords[1].lon AS xr, w.coords[1].lat AS yr,
    list_zip(w.coords[1:len(w.coords)-1], w.coords[2:len(w.coords)]) AS prs
  FROM wgeo w
  WHERE NOT w.dangling AND len(w.refs) >= 2 AND w.refs[1] = w.refs[-1]
    AND EXISTS (SELECT 1 FROM wtag t WHERE t.way_id = w.way_id AND t.k = 'place')
    AND EXISTS (SELECT 1 FROM wtag t WHERE t.way_id = w.way_id AND t.k = 'name')
), cent AS (
  SELECT way_id, xr, yr,
    list_sum(list_transform(prs, p -> (p[1].lon-xr)*(p[2].lat-yr) - (p[2].lon-xr)*(p[1].lat-yr))) AS a2,
    list_sum(list_transform(prs, p -> ((p[1].lon-xr)+(p[2].lon-xr))*((p[1].lon-xr)*(p[2].lat-yr) - (p[2].lon-xr)*(p[1].lat-yr)))) AS cx,
    list_sum(list_transform(prs, p -> ((p[1].lat-yr)+(p[2].lat-yr))*((p[1].lon-xr)*(p[2].lat-yr) - (p[2].lon-xr)*(p[1].lat-yr)))) AS cy
  FROM ring
), pl AS (
  SELECT lon, lat, name FROM pl_nody
  UNION ALL
  SELECT c.xr + c.cx/(3*c.a2), c.yr + c.cy/(3*c.a2), t.v
  FROM cent c JOIN wtag t ON t.way_id = c.way_id AND t.k = 'name'
  WHERE c.a2 != 0
), adp AS (
  SELECT n.node_id, n.lon, n.lat, t.v AS lookup_name
  FROM nd n JOIN ntag t ON t.node_id = n.node_id AND t.k IN ('addr:street','addr:place')
), matched_node AS (
  SELECT DISTINCT a.node_id
  FROM adp a JOIN pl p ON p.name = a.lookup_name
  WHERE sqrt((p.lon-a.lon)*(p.lon-a.lon)+(p.lat-a.lat)*(p.lat-a.lat)) < 0.01
), wring AS (  -- centroid of every closed pass-2 way with addr:place
  SELECT w.way_id, w.coords[1].lon AS xr, w.coords[1].lat AS yr,
    list_zip(w.coords[1:len(w.coords)-1], w.coords[2:len(w.coords)]) AS prs
  FROM wp2 w
  WHERE w.closed
    AND EXISTS (SELECT 1 FROM wtag t WHERE t.way_id = w.way_id AND t.k = 'addr:place')
), wcent AS (
  SELECT way_id, xr, yr,
    list_sum(list_transform(prs, p -> (p[1].lon-xr)*(p[2].lat-yr) - (p[2].lon-xr)*(p[1].lat-yr))) AS a2,
    list_sum(list_transform(prs, p -> ((p[1].lon-xr)+(p[2].lon-xr))*((p[1].lon-xr)*(p[2].lat-yr) - (p[2].lon-xr)*(p[1].lat-yr)))) AS cx,
    list_sum(list_transform(prs, p -> ((p[1].lat-yr)+(p[2].lat-yr))*((p[1].lon-xr)*(p[2].lat-yr) - (p[2].lon-xr)*(p[1].lat-yr)))) AS cy
  FROM wring
), matched_way AS (
  SELECT DISTINCT c.way_id
  FROM wcent c
  JOIN wtag t ON t.way_id = c.way_id AND t.k = 'addr:place'
  JOIN pl p ON p.name = t.v
  WHERE c.a2 != 0
    AND sqrt((p.lon-(c.xr+c.cx/(3*c.a2)))*(p.lon-(c.xr+c.cx/(3*c.a2)))
            +(p.lat-(c.yr+c.cy/(3*c.a2)))*(p.lat-(c.yr+c.cy/(3*c.a2)))) < 0.01
), wtg AS (
  SELECT w.way_id,
    MAX(CASE WHEN t.k = 'addr:street' THEN t.v END) AS street,
    MAX(CASE WHEN t.k = 'addr:housenumber' THEN t.v END) AS houseno,
    MAX(CASE WHEN t.k = 'addr:place' THEN t.v END) AS place,
    MAX(CASE WHEN t.k = 'building' THEN t.v END) AS building
  FROM wp2 w JOIN wtag t ON t.way_id = w.way_id
  WHERE w.closed
  GROUP BY 1
)
SELECT 'node' AS obj_type, CAST(n.node_id AS VARCHAR) AS id,
       tp.v AS place,
       (SELECT v FROM ntag th WHERE th.node_id = n.node_id AND th.k = 'addr:housenumber') AS houseno
FROM nd n
JOIN ntag tp ON tp.node_id = n.node_id AND tp.k = 'addr:place' AND tp.v != ''
WHERE n.node_id NOT IN (SELECT node_id FROM matched_node)
UNION ALL
SELECT 'way', CAST(w.way_id AS VARCHAR), w.place, w.houseno
FROM wtg w
WHERE w.building IS NOT NULL
  AND (w.street IS NOT NULL OR w.houseno IS NOT NULL)
  AND COALESCE(w.place, '') != ''
  AND w.way_id NOT IN (SELECT way_id FROM matched_way)
"""


def g_nwa_defined(spark, sf_dir):
    """The run's nodes_with_addresses_defined view (addresses.map:561 —
    is_ip=0 AND node_id > 0 → the node rows of nwa), WITH the match
    out-params road_id / nody_place_id / wayy_place_id ('1' or NULL,
    osmi/SecondHandler.hpp:45-49)."""
    return _pipeline(spark, sf_dir)["nodes_with_addresses_defined"].select(
        "node_id", "street", "place", "houseno",
        "road_id", "nody_place_id", "wayy_place_id",
    )


def sql_nwa_defined(fx):
    return _street_winner_ctes(fx) + """
, matched_street AS (
  SELECT DISTINCT node_id FROM win
), pl_nody AS (
  SELECT n.node_id AS obj_seq, n.lon, n.lat, t.v AS name, TRUE AS is_nody
  FROM nd n JOIN ntag t ON t.node_id = n.node_id AND t.k = 'name'
  WHERE EXISTS (SELECT 1 FROM ntag t2 WHERE t2.node_id = n.node_id AND t2.k = 'place')
), ring AS (
  SELECT w.way_id, w.coords[1].lon AS xr, w.coords[1].lat AS yr,
    list_zip(w.coords[1:len(w.coords)-1], w.coords[2:len(w.coords)]) AS prs
  FROM wgeo w
  WHERE NOT w.dangling AND len(w.refs) >= 2 AND w.refs[1] = w.refs[-1]
    AND EXISTS (SELECT 1 FROM wtag t WHERE t.way_id = w.way_id AND t.k = 'place')
    AND EXISTS (SELECT 1 FROM wtag t WHERE t.way_id = w.way_id AND t.k = 'name')
), cent AS (
  SELECT way_id, xr, yr,
    list_sum(list_transform(prs, p -> (p[1].lon-xr)*(p[2].lat-yr) - (p[2].lon-xr)*(p[1].lat-yr))) AS a2,
    list_sum(list_transform(prs, p -> ((p[1].lon-xr)+(p[2].lon-xr))*((p[1].lon-xr)*(p[2].lat-yr) - (p[2].lon-xr)*(p[1].lat-yr)))) AS cx,
    list_sum(list_transform(prs, p -> ((p[1].lat-yr)+(p[2].lat-yr))*((p[1].lon-xr)*(p[2].lat-yr) - (p[2].lon-xr)*(p[1].lat-yr)))) AS cy
  FROM ring
), pl AS (
  SELECT obj_seq, lon, lat, name, is_nody FROM pl_nody
  UNION ALL
  SELECT c.way_id, c.xr + c.cx/(3*c.a2), c.yr + c.cy/(3*c.a2), t.v, FALSE
  FROM cent c JOIN wtag t ON t.way_id = c.way_id AND t.k = 'name'
  WHERE c.a2 != 0
), adv AS (
  SELECT n.node_id, n.lon, n.lat, t.v AS lookup_name,
         CASE t.k WHEN 'addr:street' THEN 'street' ELSE 'place' END AS via
  FROM nd n JOIN ntag t ON t.node_id = n.node_id AND t.k IN ('addr:street','addr:place')
), pcand AS (
  SELECT a.node_id, a.via, p.is_nody, p.obj_seq
  FROM adv a JOIN pl p ON p.name = a.lookup_name
  WHERE sqrt((p.lon-a.lon)*(p.lon-a.lon)+(p.lat-a.lat)*(p.lat-a.lat)) < 0.01
), pwin AS (  -- J6 bug-compatible last-wins winner per (node, via)
  SELECT node_id, via, is_nody FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY node_id, via
              ORDER BY is_nody ASC, obj_seq DESC) AS rn
    FROM pcand
  ) WHERE rn = 1
), pflags AS (
  SELECT node_id,
    MAX(CASE WHEN is_nody THEN '1' END) AS nody_place_id,
    MAX(CASE WHEN NOT is_nody THEN '1' END) AS wayy_place_id
  FROM pwin GROUP BY 1
), ntg AS (
  SELECT n.node_id,
    MAX(CASE WHEN t.k = 'addr:street' THEN t.v END) AS street,
    MAX(CASE WHEN t.k = 'addr:place' THEN t.v END) AS place,
    MAX(CASE WHEN t.k = 'addr:housenumber' THEN t.v END) AS houseno,
    COUNT(CASE WHEN t.k IN ('addr:street','addr:housenumber','addr:postcode',
                            'addr:city','addr:country','addr:full','addr:place')
          THEN 1 END) AS n_addr
  FROM nd n JOIN ntag t ON t.node_id = n.node_id
  GROUP BY 1
)
SELECT CAST(g.node_id AS VARCHAR) AS node_id, g.street, g.place, g.houseno,
  CASE WHEN g.node_id IN (SELECT node_id FROM matched_street) THEN '1' END AS road_id,
  f.nody_place_id, f.wayy_place_id
FROM ntg g LEFT JOIN pflags f USING (node_id)
WHERE g.n_addr > 0
"""


def g_nwa_interpolated(spark, sf_dir):
    """F13 nodes_with_addresses_interpolated rows (addresses.map:513 —
    is_ip=1): every densified point with its house number and the
    endpoint-inherited tag fields, read from the run's ip_points (the nwa
    ip rows carry no way_id, as in the reference). road_id (the ip point's
    own street match) is exercised by the e2e oracle; here the gate pins
    row membership + field values."""
    return _pipeline(spark, sf_dir)["ip_points"].select(
        G.fmt_id(F.col("way_id")).alias("way_id"),
        "houseno", "street", "postcode", "city", "country", "fulladdr", "place",
    )


def sql_nwa_interpolated(fx):
    return _interp_ctes(fx) + """
, valid AS (
  SELECT way_id, typ, fv, lv, fnum,
    CASE WHEN typ IN ('even','odd') THEN 2 ELSE 1 END AS inc
  FROM calc3
  WHERE err IS NULL AND (typ IN ('all','even','odd') OR is_correct) AND fv != lv
), seqs AS (
  SELECT v.way_id, v.typ, v.fnum, t.nr
  FROM valid v, LATERAL UNNEST(
    CASE WHEN v.fv < v.lv
         THEN range(v.fv + v.inc, v.lv, v.inc)
         ELSE range(v.fv - v.inc, v.lv, -v.inc) END) AS t(nr)
)
SELECT CAST(s.way_id AS VARCHAR) AS way_id,
  CASE WHEN s.typ = 'alphabetic' THEN s.fnum || chr(CAST(s.nr AS INT))
       ELSE CAST(s.nr AS VARCHAR) END AS houseno,
  e.fstreet AS street, e.fpost AS postcode, e.fcity AS city,
  e.fctry AS country, e.ffull AS fulladdr, e.fplace AS place
FROM seqs s JOIN ept e USING (way_id)
"""


def g_interp_errors(spark, sf_dir):
    """The run's interpolation_errors view (addresses.map:753):
    interpolation rows with a non-empty error, all error-cascade fields."""
    return _pipeline(spark, sf_dir)["interpolation_errors"].select(
        "way_id", "typename", "firstno", "lastno", "error"
    )


def sql_interp_errors(fx):
    return _interp_ctes(fx) + """
SELECT CAST(way_id AS VARCHAR) AS way_id, typ AS typename,
       CASE WHEN fraw != '' THEN fraw END AS firstno,
       CASE WHEN lraw != '' THEN lraw END AS lastno,
       err AS error
FROM calc3
WHERE err IS NOT NULL AND err != ''
"""


def d_stream_dedup(spark, sf_dir):
    """Stateful streaming exact dedup (streaming/stateful.py
    stream_dedup_exact, applyInPandasWithState) driven availableNow over
    the documents table: digest per doc, first-seen (min doc_id)
    representative. At the driver gate the whole table arrives as one
    micro-batch, so this row checks the operator's emission semantics
    against SQL; the cross-batch statefulness (later smaller-id dup
    dropped across a checkpointed restart) is pinned by
    tests/test_streaming_media_dedup.py::test_stream_dedup_exact_stateful_across_batches."""
    import os
    import tempfile

    from .streaming.stateful import stream_dedup_exact

    import atexit
    import shutil

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.md5(F.encode("text", "utf-8")).alias("digest")
    )
    tmp = tempfile.mkdtemp(prefix="osmi_sdq_")
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    src, out, ck = (os.path.join(tmp, x) for x in ("src", "out", "ck"))
    d.write.parquet(src)
    # schema derived from the written file (doc_id's type follows the
    # fixture: int64 in the testdata tables)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    q = (
        stream_dedup_exact(stream, key_col="digest", order_col="doc_id")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError("stream_dedup_exact did not drain within 300s")
    return spark.read.parquet(out).select(
        "digest", F.col("doc_id").alias("keep_doc")
    )


SQL_STREAM_DEDUP = """
SELECT md5(text) AS digest, MIN(doc_id) AS keep_doc
FROM documents GROUP BY 1
"""


def q_stream_interval_join(spark, sf_dir):
    """Stream-stream interval join (streaming/ingest.stream_interval_join)
    driven availableNow over the events table: every (click, view) pair of
    the same user with the view at most 1 hour before the click, via two
    watermarked file-source streams over the same parquet. Inner-join
    emission is exact regardless of micro-batch timing; the cross-batch
    state behavior (a view landing in an earlier batch joining a click
    from a later one) is pinned by
    tests/test_streaming_media_dedup.py::test_stream_interval_join_across_batches."""
    import os
    import tempfile

    from .streaming.ingest import stream_interval_join

    import atexit
    import shutil

    e = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "event_type")
    tmp = tempfile.mkdtemp(prefix="osmi_sij_")
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    src, out, ck = (os.path.join(tmp, x) for x in ("src", "out", "ck"))
    e.write.parquet(src)
    schema = spark.read.parquet(src).schema
    clicks = (
        spark.readStream.schema(schema).parquet(src)
        .filter(F.col("event_type") == "click")
    )
    views = (
        spark.readStream.schema(schema).parquet(src)
        .filter(F.col("event_type") == "view")
    )
    # pin UTC for the run: the fixture's NTZ wall clocks become instants via
    # the session tz inside the operator, and the DuckDB oracle computes
    # pure wall-clock arithmetic — identical only when no DST offset can
    # sneak into the cast
    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        q = (
            stream_interval_join(clicks, views, horizon="1 hour")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError(
                "stream_interval_join did not drain within 300s"
            )
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)
    return spark.read.parquet(out)


SQL_STREAM_INTERVAL_JOIN = """
SELECT c.event_id AS click_id, c.user_id, v.event_id AS view_id,
       epoch_us(c.ts) - epoch_us(v.ts) AS lag_us
FROM events c JOIN events v
  ON v.user_id = c.user_id
 AND c.event_type = 'click' AND v.event_type = 'view'
 AND v.ts <= c.ts AND v.ts >= c.ts - INTERVAL 1 HOUR
"""


# -- deterministic sketches (operators/sketch.py) --------------------------


def q_hll_distinct(spark, sf_dir):
    """Approximate distinct parts per return flag via deterministic
    HyperLogLog (p=8, md5-derived registers) NEXT TO the exact count — the
    rare approximate operator that is still value-hash gateable, because
    the oracle computes the identical registers and estimator arithmetic.
    Scale: sketch state is ≤ groups×256 integer registers regardless of
    input rows, both aggregates map-side combined — one O(256)-row shuffle
    per group where exact COUNT(DISTINCT) shuffles every distinct value."""
    from .operators.sketch import hll_distinct

    li = _t(spark, sf_dir, "lineitem")
    est = hll_distinct(li, ["l_returnflag"], "l_partkey", p=8)
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("exact_cnt")
    )
    return exact.join(est, "l_returnflag").select(
        "l_returnflag",
        "exact_cnt",
        F.round(F.col("hll_est"), 4).alias("hll_est_r"),
    )


def sql_hll_distinct() -> str:
    from .operators.sketch import hll_sql

    return (
        "WITH "
        + hll_sql("lineitem", ["l_returnflag"], "l_partkey", p=8).lstrip()
        + """,
exact AS (
  SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS exact_cnt
  FROM lineitem GROUP BY 1
)
SELECT e.l_returnflag, e.exact_cnt,
       round(CAST(h.hll_est AS DOUBLE), 4) AS hll_est_r
FROM exact e JOIN hll_est h USING (l_returnflag)
"""
    )


def q_bloom_semi_join(spark, sf_dir):
    """Bloom-prefiltered semi-join: lineitem rows whose l_partkey MIGHT be
    in the small-parts build side (p_size ≤ 5), m=8192 bits / k=3 md5
    hashes, aggregated per return flag with the (deterministic) false-
    positive count broken out. The probe table is never shuffled: the
    build side's set bits are collected to the driver and membership is k
    `isin` filters on the probe scan — the build-side-prefilter pattern a
    100 TB scan wants before an expensive join."""
    from .operators.sketch import bloom_semi_join

    li = _t(spark, sf_dir, "lineitem")
    build = _t(spark, sf_dir, "part").filter(F.col("p_size") <= 5)
    passed = bloom_semi_join(li, "l_partkey", build, "p_partkey", m_bits=8192, k=3)
    truth = (
        build.select(F.col("p_partkey").alias("l_partkey"))
        .distinct()
        .withColumn("_in_build", F.lit(1))
    )
    flagged = passed.join(F.broadcast(truth), "l_partkey", "left")
    return flagged.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_pass"),
        F.count(F.when(F.col("_in_build").isNotNull(), 1)).alias("n_member"),
        F.count(F.when(F.col("_in_build").isNull(), 1)).alias("n_false_pos"),
    )


def sql_bloom_semi_join() -> str:
    from .operators.sketch import bloom_sql_ctes

    ctes = bloom_sql_ctes(
        "build", "p_partkey", "lineitem", "l_partkey", m_bits=8192, k=3
    ).lstrip()
    return (
        "WITH build AS (SELECT p_partkey FROM part WHERE p_size <= 5),\n"
        + ctes
        + """
SELECT l_returnflag,
       COUNT(*) AS n_pass,
       COUNT(*) FILTER (WHERE l_partkey IN (SELECT p_partkey FROM build)) AS n_member,
       COUNT(*) FILTER (WHERE l_partkey NOT IN (SELECT p_partkey FROM build)) AS n_false_pos
FROM bloom_pass GROUP BY 1
"""
    )


# -- fixed-iteration PageRank (operators/graph.py) -------------------------


def q_pagerank(spark, sf_dir):
    """PageRank (d=0.85, exactly 5 synchronous iterations from uniform
    init) over the customer↔supplier trade graph: an edge each way per
    distinct (customer, supplier) trading pair from orders⋈lineitem.
    Customers with no orders have no out-edges → the dangling-mass
    redistribution path is exercised. Fixed iteration count makes the
    result a deterministic function of the graph, so the DuckDB oracle
    unrolls the same 5 steps and value-matches at 8 dp."""
    from .operators.graph import pagerank

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.concat(F.lit("c:"), F.col("o_custkey")).alias("cu"),
            F.concat(F.lit("s:"), F.col("l_suppkey")).alias("su"),
        )
        .distinct()
    )
    edges = pairs.selectExpr("cu AS src", "su AS dst").unionByName(
        pairs.selectExpr("su AS src", "cu AS dst")
    )
    verts = (
        _t(spark, sf_dir, "customer")
        .select(F.concat(F.lit("c:"), F.col("c_custkey")).alias("v"))
        .unionByName(
            _t(spark, sf_dir, "supplier").select(
                F.concat(F.lit("s:"), F.col("s_suppkey")).alias("v")
            )
        )
    )
    pr = pagerank(verts, edges, iters=5, damping=0.85)
    out = pr.select("v", F.round("pr", 8).alias("pr_r"))
    return out


def sql_pagerank(iters: int = 5) -> str:
    ctes = [
        """verts AS (
  SELECT 'c:' || c_custkey AS v FROM customer
  UNION ALL SELECT 's:' || s_suppkey FROM supplier
), pairs AS (
  SELECT DISTINCT 'c:' || o_custkey AS cu, 's:' || l_suppkey AS su
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
), edges AS (
  SELECT cu AS src, su AS dst FROM pairs
  UNION ALL SELECT su, cu FROM pairs
), outdeg AS (
  SELECT src, COUNT(*) AS deg FROM edges GROUP BY 1
), nn AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM verts
), r0 AS (
  SELECT v, 1.0 / nn.n AS pr FROM verts, nn
)"""
    ]
    for i in range(1, iters + 1):
        p = f"r{i - 1}"
        ctes.append(
            f"""d{i} AS (
  SELECT COALESCE(SUM(pr), 0.0) AS m FROM {p}
  WHERE v NOT IN (SELECT src FROM outdeg)
), c{i} AS (
  SELECT e.dst AS v, SUM(r.pr / od.deg) AS c
  FROM {p} r JOIN outdeg od ON od.src = r.v JOIN edges e ON e.src = r.v
  GROUP BY 1
), r{i} AS (
  SELECT vv.v,
         (1.0 - 0.85) / nn.n + 0.85 * (COALESCE(c.c, 0.0) + d{i}.m / nn.n) AS pr
  FROM verts vv CROSS JOIN nn CROSS JOIN d{i}
  LEFT JOIN c{i} c ON c.v = vv.v
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT v, round(pr, 8) AS pr_r FROM r{iters}\n"
    )


# -- TF-IDF top terms + deterministic stratified sampling ------------------


def t_tfidf_topk(spark, sf_dir):
    """Top-3 TF-IDF terms per document (terms = [a-z]{3,} runs of the
    lowercased text). The idf is carried in integer micro-units
    (floor(ln((N+1)/(df+1))·1e6 + 0.5) + 1e6) so the ranking key
    tf·idf_micro is an exact cross-engine integer; ties break on term.
    Shuffle profile: two map-side-combined hash aggs (tf per (doc, term),
    df per term) + one per-doc window — nothing holds unbounded state."""
    docs = _t(spark, sf_dir, "documents")
    n_docs = docs.count()
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("term")
    ).filter(F.length("term") >= 3)
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf_micro = (
        F.floor(
            F.log(F.lit(float(n_docs + 1)) / (F.col("df") + F.lit(1))) * F.lit(1e6)
            + F.lit(0.5)
        )
        + F.lit(1000000)
    ).cast("long")
    scored = tf.join(dfreq, "term").select(
        "doc_id", "term", "tf", "df", (F.col("tf") * idf_micro).alias("score_micro")
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score_micro"), F.asc("term")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "rn", "tf", "df", "score_micro")
    )


SQL_TFIDF_TOPK = """
WITH toks AS (
  SELECT doc_id, t AS term FROM (
    SELECT doc_id, UNNEST(string_split_regex(lower(text), '[^a-z]+')) AS t
    FROM documents
  ) WHERE length(t) >= 3
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2
), dfreq AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
), scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
         tf.tf * (CAST(floor(
             ln(((SELECT COUNT(*) FROM documents) + 1.0) / (dfreq.df + 1)) * 1e6
             + 0.5) AS BIGINT) + 1000000) AS score_micro
  FROM tf JOIN dfreq USING (term)
), ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id ORDER BY score_micro DESC, term ASC) AS rn
  FROM scored
)
SELECT doc_id, term, rn, tf, df, score_micro FROM ranked WHERE rn <= 3
"""


_SAMPLE_RATES = {"en": 0.5, "de": 0.25, "fr": 0.25, "es": 0.125, "zh": 0.125}


def t_sample_stratified(spark, sf_dir):
    """Deterministic per-stratum Bernoulli sampling: keep a doc iff the
    first 32 md5 bits of its doc_id fall below rate(lang)·2³² — the
    thresholds are precomputed integer literals, so the decision is pure
    integer compare (no fp, no RNG state), reproducible across engines,
    runs, and cluster sizes, and executes as a JVM scan filter with zero
    shuffle. The training-pipeline staple for downsampling over-represented
    strata while keeping the sample stable under re-runs."""
    docs = _t(spark, sf_dir, "documents")
    u32 = F.conv(
        F.substring(F.md5(F.encode(F.col("doc_id").cast("string"), "utf-8")), 1, 8),
        16,
        10,
    ).cast("long")
    thr = F.lit(0)
    for lang, rate in sorted(_SAMPLE_RATES.items()):
        thr = F.when(F.col("lang") == lang, F.lit(int(rate * 2**32))).otherwise(thr)
    return (
        docs.select("doc_id", "lang", u32.alias("sample_key"))
        .filter(F.col("sample_key") < thr)
    )


def sql_sample_stratified() -> str:
    cases = "\n         ".join(
        f"WHEN '{lang}' THEN {int(rate * 2**32)}"
        for lang, rate in sorted(_SAMPLE_RATES.items())
    )
    return f"""
SELECT doc_id, lang,
       CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS sample_key
FROM documents
WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) <
      CASE lang {cases} ELSE 0 END
"""


_TOKS_CTE = """toks AS (
  SELECT doc_id, t AS term FROM (
    SELECT doc_id, UNNEST(string_split_regex(lower(text), '[^a-z]+')) AS t
    FROM documents
  ) WHERE length(t) >= 3
)"""


def d_heavy_hitters(spark, sf_dir):
    """Heavy hitters via count-min sketch (d=4 rows × w=1024 counters, md5
    row hashes) checked against the exact counts for the true top-20 terms.
    Like the HLL row, the sketch is deterministic: the oracle computes the
    identical counters, so even the over-estimates value-match. Scale: the
    counter state is ≤ 4096 rows regardless of corpus size (map-side
    combined), and point queries broadcast the counter table — the
    streaming-friendly way to track hot keys at 100 TB."""
    from .operators.sketch import cms_counters, cms_estimate

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("term")
    ).filter(F.length("term") >= 3)
    exact = toks.groupBy("term").agg(F.count(F.lit(1)).alias("exact_cnt"))
    top = exact.orderBy(F.desc("exact_cnt"), F.asc("term")).limit(20)
    counters = cms_counters(toks, "term", d=4, w=1024)
    est = cms_estimate(top.select("term"), counters, "term", d=4, w=1024)
    return top.join(est, "term").select("term", "exact_cnt", "cms_est")


def sql_heavy_hitters(d: int = 4, w: int = 1024) -> str:
    from .operators.sketch import cms_sql_ctes

    probes = "\n    UNION ALL\n    ".join(
        f"SELECT term, {r} AS row, (CAST('0x' || substr(md5(CAST(term AS VARCHAR)),"
        f" {1 + 8 * r}, 8) AS BIGINT) % {w}) AS col FROM top"
        for r in range(d)
    )
    return (
        "WITH "
        + _TOKS_CTE
        + ","
        + cms_sql_ctes("toks", "term", d=d, w=w).lstrip().rstrip()
        + f""",
exact AS (
  SELECT term, COUNT(*) AS exact_cnt FROM toks GROUP BY 1
), top AS (
  SELECT * FROM exact ORDER BY exact_cnt DESC, term ASC LIMIT 20
), probes AS (
    {probes}
), est AS (
  SELECT p.term, MIN(COALESCE(c.cnt, 0)) AS cms_est
  FROM probes p LEFT JOIN cms_counters c ON c.row = p.row AND c.col = p.col
  GROUP BY 1
)
SELECT t.term, t.exact_cnt, e.cms_est FROM top t JOIN est e USING (term)
"""
    )


def t_sample_weighted(spark, sf_dir):
    """Deterministic weighted sampling without replacement (Efraimidis–
    Spirakis A-ES): per-language top-5 docs ranked by ln(u)/weight, u = the
    doc's md5-uniform in (0,1], weight = n_chars — selection probability ∝
    weight, md5 replacing the RNG so the draw reproduces across engines,
    runs, and cluster sizes. u is exact in fp (integer / 2³²), the key is
    never output, and ties break on doc_id, so nothing fp-fragile reaches
    the hash gate. One per-stratum window; no driver state."""
    docs = _t(spark, sf_dir, "documents")
    u32 = F.conv(
        F.substring(F.md5(F.encode(F.col("doc_id").cast("string"), "utf-8")), 1, 8),
        16,
        10,
    ).cast("long")
    u = (u32 + F.lit(1.0)) / F.lit(4294967296.0)
    key = F.log(u) / F.col("n_chars")
    w = Window.partitionBy("lang").orderBy(F.desc("key"), F.asc("doc_id"))
    return (
        docs.select("doc_id", "lang", key.alias("key"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("lang", "doc_id", "rn")
    )


SQL_SAMPLE_WEIGHTED = """
WITH keyed AS (
  SELECT lang, doc_id,
         ln((CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS DOUBLE)
             + CAST(1.0 AS DOUBLE)) / CAST(4294967296.0 AS DOUBLE)) / n_chars AS key
  FROM documents
), ranked AS (
  SELECT lang, doc_id,
         row_number() OVER (PARTITION BY lang ORDER BY key DESC, doc_id ASC) AS rn
  FROM keyed
)
SELECT lang, doc_id, rn FROM ranked WHERE rn <= 5
"""


def _drain_complete_stream(spark, src_df, build_agg, prefix):
    """Dump src_df to a scratch dir, stream it back with availableNow, run
    the (pure, streaming-capable) aggregation `build_agg(stream_df)` into a
    complete-mode memory sink, and return the final in-memory table. The
    shared scaffold for the sketch-over-stream driver rows (the dedup and
    interval-join streams have different shapes and keep their own)."""
    import atexit
    import os
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    src, ck = (os.path.join(tmp, x) for x in ("src", "ck"))
    src_df.write.parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    qname = prefix + os.path.basename(tmp).replace(prefix, "")
    q = (
        build_agg(stream)
        .writeStream.format("memory")
        .queryName(qname)
        .option("checkpointLocation", ck)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    try:
        if not q.awaitTermination(300):
            raise TimeoutError(f"{prefix}stream did not drain within 300s")
    finally:
        q.stop()
    return spark.table(qname)


def q_hll_stream(spark, sf_dir):
    """Streaming HLL distinct: the SAME hll_registers operator (pure
    select + groupBy + max — no batch-only constructs) run over an
    availableNow stream of the events table, complete-mode aggregated into
    a memory sink, estimated from the final registers. Because the sketch
    is deterministic and mergeable, the stream's final registers equal the
    batch sketch and the estimate value-matches the same SQL oracle — the
    production shape for 'distinct users per event type, continuously':
    streaming-agg state bounded at groups×256 registers forever.
    Cross-batch state recovery (two file drops, one checkpoint) is pinned
    by tests/test_sketch_graph.py::test_stream_hll_across_batches."""
    from .operators.sketch import hll_estimate_from_registers, hll_registers

    ev = _t(spark, sf_dir, "events").select("event_type", "user_id")
    regs = _drain_complete_stream(
        spark,
        ev,
        lambda s: hll_registers(s, ["event_type"], "user_id", p=8),
        "osmi_shll_",
    )
    est = hll_estimate_from_registers(regs, ["event_type"], p=8)
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return exact.join(est, "event_type").select(
        "event_type", "exact_users", F.round("hll_est", 4).alias("hll_est_r")
    )


def sql_hll_stream() -> str:
    from .operators.sketch import hll_sql

    return (
        "WITH "
        + hll_sql("events", ["event_type"], "user_id", p=8).lstrip()
        + """,
exact AS (
  SELECT event_type, COUNT(DISTINCT user_id) AS exact_users
  FROM events GROUP BY 1
)
SELECT e.event_type, e.exact_users,
       round(CAST(h.hll_est AS DOUBLE), 4) AS hll_est_r
FROM exact e JOIN hll_est h USING (event_type)
"""
    )


def s_embed_quantize(spark, sf_dir):
    """Scalar int8 quantization of the embedding corpus — the index-
    compression step before ANN at scale (4× smaller vectors, cache-
    resident codebooks): per-dimension global [min, max] → 8-bit codes →
    dequantize → per-vector reconstruction MSE. All Column expressions;
    the per-dim stats table (dims rows) broadcasts back to the exploded
    values, and the error sum folds in dim order on BOTH engines (ordered
    list rebuild), so the fp result is bit-identical, not merely close."""
    e = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dims = e.select(
        "vec_id", F.posexplode(F.col("embedding")).alias("dim", "xf")
    ).select("vec_id", "dim", F.col("xf").cast("double").alias("x"))
    stats = dims.groupBy("dim").agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    d = dims.join(F.broadcast(stats), "dim")
    scale = F.col("mx") - F.col("mn")
    qraw = F.round((F.col("x") - F.col("mn")) / scale * F.lit(255.0), 0)
    q = F.when(scale == 0, F.lit(0.0)).otherwise(
        F.least(F.greatest(qraw, F.lit(0.0)), F.lit(255.0))
    )
    deq = F.col("mn") + q / F.lit(255.0) * scale
    err = (F.col("x") - deq) * (F.col("x") - deq)
    per = d.select("vec_id", "dim", q.cast("int").alias("qi"), err.alias("err"))
    agg = per.groupBy("vec_id").agg(
        F.sum("qi").alias("q_sum"),
        F.array_sort(F.collect_list(F.struct("dim", "err"))).alias("errs"),
    )
    sse = F.aggregate(
        F.transform(F.col("errs"), lambda s: s["err"]),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return agg.select(
        "vec_id",
        "q_sum",
        F.round(sse / F.size("errs"), 9).alias("mse"),
    )


SQL_EMBED_QUANTIZE = """
WITH dims AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
         CAST(UNNEST(embedding) AS DOUBLE) AS x
  FROM embeddings
), stats AS (
  SELECT dim, MIN(x) AS mn, MAX(x) AS mx FROM dims GROUP BY 1
), j AS (
  SELECT d.vec_id, d.dim, d.x, s.mn, s.mx - s.mn AS scale
  FROM dims d JOIN stats s USING (dim)
), qd AS (
  SELECT vec_id, dim, x, mn, scale,
    CASE WHEN scale = 0 THEN CAST(0.0 AS DOUBLE)
         ELSE LEAST(GREATEST(round((x - mn) / scale * CAST(255.0 AS DOUBLE), 0),
                             CAST(0.0 AS DOUBLE)), CAST(255.0 AS DOUBLE)) END AS q
  FROM j
), ed AS (
  SELECT vec_id, dim, CAST(q AS INT) AS qi,
         (x - (mn + q / CAST(255.0 AS DOUBLE) * scale))
         * (x - (mn + q / CAST(255.0 AS DOUBLE) * scale)) AS err
  FROM qd
)
SELECT vec_id, CAST(SUM(qi) AS BIGINT) AS q_sum,
       round(list_sum(list(err ORDER BY dim)) / COUNT(*), 9) AS mse
FROM ed GROUP BY 1
"""


def g_zonal_stats(spark, sf_dir):
    """Zonal statistics: per place polygon, aggregate the address points it
    contains — count, point bbox, mean position. The classic vector
    analytics op (population-in-zone), composed from the PIP assignment
    (grid-cell covering + even-odd ray cast, operators/pip.py) and one
    map-side-combined aggregate keyed by polygon. Means rounded 7 dp (the
    only fp whose summation order differs across engines; coords are O(10),
    drift O(1e-13)); bbox min/max are exact parquet doubles."""
    from .operators.pip import assign_points_to_polygons

    d = _pipeline(spark, sf_dir)
    pts = d["nodes"].filter(
        F.col("tags")["addr:housenumber"].isNotNull()
    ).select(F.col("node_id").alias("pkey"), "lon", "lat")
    polys = (
        d["ways_geo"]
        .filter(
            F.col("tags")["place"].isNotNull()
            & (F.size("refs") >= 2)
            & (F.element_at("refs", 1) == F.element_at("refs", -1))
            & F.col("coords").isNotNull()
        )
        .select(F.col("way_id").alias("poly_id"), F.col("coords").alias("ring"))
    )
    m = assign_points_to_polygons(pts, polys)
    return m.groupBy("poly_id").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.min("lon").alias("min_lon"),
        F.max("lon").alias("max_lon"),
        F.min("lat").alias("min_lat"),
        F.max("lat").alias("max_lat"),
        F.round(F.avg("lon"), 7).alias("mean_lon"),
        F.round(F.avg("lat"), 7).alias("mean_lat"),
    ).select(
        G.fmt_id(F.col("poly_id")).alias("poly_id"),
        "n_points", "min_lon", "max_lon", "min_lat", "max_lat",
        "mean_lon", "mean_lat",
    )


def sql_zonal_stats(fx):
    return _fx_prefix(fx) + """
, poly AS (
  SELECT w.way_id AS poly_id,
    list_zip(w.coords[1:len(w.coords)-1], w.coords[2:len(w.coords)]) AS prs
  FROM wgeo w
  WHERE NOT w.dangling AND len(w.refs) >= 2 AND w.refs[1] = w.refs[-1]
    AND EXISTS (SELECT 1 FROM wtag t WHERE t.way_id = w.way_id AND t.k = 'place')
), pts AS (
  SELECT n.node_id, n.lon, n.lat FROM nd n
  WHERE EXISTS (SELECT 1 FROM ntag t WHERE t.node_id = n.node_id AND t.k = 'addr:housenumber')
), hits AS (
  SELECT q.poly_id, p.lon, p.lat
  FROM pts p, poly q
  WHERE (list_sum(list_transform(q.prs, e ->
          CASE WHEN (e[1].lat > p.lat) != (e[2].lat > p.lat)
                AND p.lon < (e[2].lon - e[1].lon) * (p.lat - e[1].lat) / (e[2].lat - e[1].lat) + e[1].lon
               THEN 1 ELSE 0 END)) % 2) = 1
)
SELECT CAST(poly_id AS VARCHAR) AS poly_id,
       COUNT(*) AS n_points,
       MIN(lon) AS min_lon, MAX(lon) AS max_lon,
       MIN(lat) AS min_lat, MAX(lat) AS max_lat,
       round(AVG(lon), 7) AS mean_lon, round(AVG(lat), 7) AS mean_lat
FROM hits GROUP BY 1
"""


def q_event_funnel(spark, sf_dir):
    """Classic funnel analysis: per user, first 'view', first 'click'
    strictly after that view, first 'purchase' strictly after that click;
    emit the step reached (1-3) and the exact integer-µs stage delays.
    Three per-user min-aggregates chained by time predicates — each a
    map-side-combined agg on the same user_id key, so at scale the three
    stages reuse one hash partitioning (no fp anywhere)."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", F.col("ts").cast("timestamp").alias("ts")
    )
    v = ev.filter(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("ts").alias("t1")
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    out = (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id",
            (
                F.lit(1)
                + F.when(F.col("t2").isNotNull(), 1).otherwise(0)
                + F.when(F.col("t3").isNotNull(), 1).otherwise(0)
            ).alias("step_reached"),
            F.coalesce(
                (F.unix_micros("t2") - F.unix_micros("t1")), F.lit(-1)
            ).alias("view_to_click_us"),
            F.coalesce(
                (F.unix_micros("t3") - F.unix_micros("t2")), F.lit(-1)
            ).alias("click_to_purchase_us"),
        )
    )
    return out


SQL_EVENT_FUNNEL = """
WITH v AS (
  SELECT user_id, MIN(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY 1
), c AS (
  SELECT e.user_id, MIN(e.ts) AS t2
  FROM events e JOIN v USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY 1
), p AS (
  SELECT e.user_id, MIN(e.ts) AS t3
  FROM events e JOIN c USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY 1
)
SELECT v.user_id,
       1 + (c.t2 IS NOT NULL)::INT + (p.t3 IS NOT NULL)::INT AS step_reached,
       COALESCE(epoch_us(c.t2) - epoch_us(v.t1), -1) AS view_to_click_us,
       COALESCE(epoch_us(p.t3) - epoch_us(c.t2), -1) AS click_to_purchase_us
FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
"""


def t_bigram_lm(spark, sf_dir):
    """Bigram language-model statistics — the n-gram LM data-prep op: per
    head token (corpus frequency ≥ 5), the top-3 successors by conditional
    probability. Adjacency is computed WITHIN the filtered token sequence
    (tokens = [a-z]{3,} runs; shorter runs removed BEFORE pairing, same on
    both engines), and the probability is exact integer micro-units
    (bigram_cnt·1e6 div head_cnt) so nothing fp reaches the ranking or the
    hash. Two map-side-combined aggs + one per-head window."""
    docs = _t(spark, sf_dir, "documents")
    arr = F.filter(
        F.split(F.lower("text"), "[^a-z]+"), lambda x: F.length(x) >= 3
    )
    n = F.size(arr)
    # n can be 0 (a doc with no [a-z]{3,} run) or 1: slice length must be
    # clamped ≥ 0 — mirrors the oracle's len(a) >= 2 guard
    m = F.greatest(n - 1, F.lit(0))
    pairs = docs.select(
        F.explode(
            F.arrays_zip(
                F.slice(arr, 1, m).alias("head"),
                F.slice(arr, 2, m).alias("next"),
            )
        ).alias("bg")
    ).select(F.col("bg.head").alias("head"), F.col("bg.next").alias("next"))
    bg = pairs.groupBy("head", "next").agg(F.count(F.lit(1)).alias("bigram_cnt"))
    heads = pairs.groupBy("head").agg(F.count(F.lit(1)).alias("head_cnt"))
    j = bg.join(heads, "head").filter(F.col("head_cnt") >= 5)
    p_micro = F.expr("bigram_cnt * 1000000 div head_cnt")
    scored = j.select("head", "next", "bigram_cnt", "head_cnt", p_micro.alias("p_micro"))
    w = Window.partitionBy("head").orderBy(
        F.desc("p_micro"), F.desc("bigram_cnt"), F.asc("next")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("head", "next", "rn", "bigram_cnt", "head_cnt", "p_micro")
    )


SQL_BIGRAM_LM = """
WITH arrs AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z]+'),
                             x -> length(x) >= 3) AS a
  FROM documents
), pairs AS (
  SELECT UNNEST(list_zip(a[1:len(a)-1], a[2:len(a)])) AS bg
  FROM arrs WHERE len(a) >= 2
), flat AS (
  SELECT bg[1] AS head, bg[2] AS next FROM pairs
), bg AS (
  SELECT head, next, COUNT(*) AS bigram_cnt FROM flat GROUP BY 1, 2
), heads AS (
  SELECT head, COUNT(*) AS head_cnt FROM flat GROUP BY 1
), scored AS (
  SELECT bg.head, bg.next, bg.bigram_cnt, heads.head_cnt,
         bg.bigram_cnt * 1000000 // heads.head_cnt AS p_micro
  FROM bg JOIN heads USING (head) WHERE heads.head_cnt >= 5
), ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY head ORDER BY p_micro DESC, bigram_cnt DESC, next ASC) AS rn
  FROM scored
)
SELECT head, next, rn, bigram_cnt, head_cnt, CAST(p_micro AS BIGINT) AS p_micro
FROM ranked WHERE rn <= 3
"""


def d_semantic_cluster(spark, sf_dir):
    """Semantic near-dup clustering: the embedding-cosine LSH pairs
    (operators/dedup.embedding_near_dups) fed through the SAME distributed
    connected-components operator the MinHash path uses — one canonical
    vector per component (min vec_id). Composition row: proves the
    clustering primitive is pair-source-agnostic."""
    from .operators.graph import connected_components

    vecs = _t(spark, sf_dir, "embeddings").select("vec_id")
    pairs = d_embedding_near_dup(spark, sf_dir).select("vec_a", "vec_b")
    cc = connected_components(
        vecs, pairs, v_col="vec_id", src_col="vec_a", dst_col="vec_b"
    )
    w = Window.partitionBy("component")
    return cc.select(
        F.col("v").alias("vec_id"),
        "component",
        F.count(F.lit(1)).over(w).alias("n_members"),
        (F.col("v") == F.col("component")).cast("int").alias("is_kept"),
    )


def sql_semantic_cluster(sf_dir: str = "/root/testdata/sf0.01") -> str:
    return (
        "WITH RECURSIVE "
        + _embedding_pairs_ctes(sf_dir)
        + """,
e2 AS (
  SELECT vec_a AS a, vec_b AS b FROM epairs
  UNION ALL
  SELECT vec_b, vec_a FROM epairs
), reach(v, l) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT e2.b, r.l FROM reach r JOIN e2 ON e2.a = r.v
), comp AS (
  SELECT v AS vec_id, MIN(l) AS component FROM reach GROUP BY 1
)
SELECT vec_id, component,
       COUNT(*) OVER (PARTITION BY component) AS n_members,
       CAST(vec_id = component AS INT) AS is_kept
FROM comp
"""
    )


def q_event_retention(spark, sf_dir):
    """Cohort retention: users grouped by first-active day; for each
    (cohort_day, day_offset), how many of that cohort were active. Days are
    exact integer epoch-µs div 86400e6 (no timezone, no fp); three
    map-side-combined aggs sharing the user_id partitioning. The classic
    growth-analytics table, at 100 TB one shuffle of (user, day) pairs."""
    day = F.expr("unix_micros(cast(ts as timestamp)) div 86400000000")
    ev = _t(spark, sf_dir, "events").select("user_id", day.alias("day"))
    act = ev.distinct()
    cohort = act.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    j = act.join(cohort, "user_id")
    return (
        j.groupBy("cohort_day", (F.col("day") - F.col("cohort_day")).alias("day_offset"))
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


SQL_EVENT_RETENTION = """
WITH act AS (
  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events
), cohort AS (
  SELECT user_id, MIN(day) AS cohort_day FROM act GROUP BY 1
)
SELECT c.cohort_day, a.day - c.cohort_day AS day_offset, COUNT(*) AS n_users
FROM act a JOIN cohort c USING (user_id)
GROUP BY 1, 2
"""


_PROFILE_COLS = [
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
    "l_returnflag", "l_linestatus",
]


def q_profile_table(spark, sf_dir):
    """Data-profiling / quality-report over lineitem's exact-typed columns:
    one row per column with null count, distinct count, and min/max
    (numeric min/max stringified after aggregation — exact for both int
    and varchar columns). The data-validation step every ingest pipeline
    runs before training; all values exact. One pass: a single agg
    computes every column's stats map-side-combined (no per-column
    scans), then unpivots via a stack expr."""
    li = _t(spark, sf_dir, "lineitem")
    aggs = []
    for c in _PROFILE_COLS:
        aggs += [
            F.count(F.when(F.col(c).isNull(), 1)).alias(f"{c}__nulls"),
            F.countDistinct(c).alias(f"{c}__dist"),
            F.min(c).alias(f"{c}__min"),
            F.max(c).alias(f"{c}__max"),
        ]
    row = li.agg(*aggs)
    stacks = [
        f"'{c}', {c}__nulls, {c}__dist, "
        f"cast({c}__min as string), cast({c}__max as string)"
        for c in _PROFILE_COLS
    ]
    return row.selectExpr(
        f"stack({len(_PROFILE_COLS)}, "
        + ", ".join(stacks)
        + ") as (column_name, n_nulls, n_distinct, min_val, max_val)"
    )


def sql_profile_table() -> str:
    rows = []
    for c in _PROFILE_COLS:
        rows.append(
            f"SELECT '{c}' AS column_name,"
            f" COUNT(*) FILTER (WHERE {c} IS NULL) AS n_nulls,"
            f" COUNT(DISTINCT {c}) AS n_distinct,"
            f" CAST(MIN({c}) AS VARCHAR) AS min_val,"
            f" CAST(MAX({c}) AS VARCHAR) AS max_val"
            f" FROM lineitem"
        )
    return "\nUNION ALL\n".join(rows)


_ZONE_SCALE = 200.0  # place-marker ring → ~5 km influence zone


def g_polygon_overlay(spark, sf_dir):
    """Polygon-overlay spatial join: building polygons × place influence
    zones (each place's marker ring scaled ×200 around its vertex
    centroid — the buffer-then-overlay GIS workflow, done as a pure
    deterministic affine transform both engines compute identically).
    Candidates come from the same grid-cell-covering equi-join every other
    spatial op uses (both bboxes explode their covering cells — two
    overlapping bboxes always share a covering cell, so no true pair can
    be lost); the exact predicate is pure Column logic: proper edge
    crossing (orientation sign tests over all edge pairs via nested
    EXISTS higher-order functions, whole-stage codegen) OR first-vertex
    containment either way (even-odd ray cast). The oracle runs the SAME
    fp arithmetic over the full cross join — so a hash match also proves
    the candidate stage loses nothing."""
    from .functions.cells import covering_cells
    from .operators.pip import pip_expr

    d = _pipeline(spark, sf_dir)

    def closed_polys(tag, idc, ringc):
        return (
            d["ways_geo"]
            .filter(
                F.col("tags")[tag].isNotNull()
                & (F.size("refs") >= 2)
                & (F.element_at("refs", 1) == F.element_at("refs", -1))
                & F.col("coords").isNotNull()
            )
            .select(F.col("way_id").alias(idc), F.col("coords").alias(ringc))
        )

    def scaled(ringc):
        """ring scaled ×_ZONE_SCALE around its open-ring vertex centroid
        (last vertex duplicates the first and is excluded from the mean)."""
        n = F.size(F.col(ringc))
        body = F.slice(F.col(ringc), 1, n - 1)
        clon = F.aggregate(
            body, F.lit(0.0), lambda a, v: a + v["lon"]
        ) / (n - 1)
        clat = F.aggregate(
            body, F.lit(0.0), lambda a, v: a + v["lat"]
        ) / (n - 1)
        return F.transform(
            F.col(ringc),
            lambda v: F.struct(
                (clon + F.lit(_ZONE_SCALE) * (v["lon"] - clon)).alias("lon"),
                (clat + F.lit(_ZONE_SCALE) * (v["lat"] - clat)).alias("lat"),
            ),
        )

    def with_cells(df, ringc):
        bw = F.aggregate(F.col(ringc), F.lit(1e308), lambda a, c: F.least(a, c["lon"]))
        be = F.aggregate(F.col(ringc), F.lit(-1e308), lambda a, c: F.greatest(a, c["lon"]))
        bs = F.aggregate(F.col(ringc), F.lit(1e308), lambda a, c: F.least(a, c["lat"]))
        bn = F.aggregate(F.col(ringc), F.lit(-1e308), lambda a, c: F.greatest(a, c["lat"]))
        return df.withColumn("cell", F.explode(covering_cells(bw, be, bs, bn, 0.0)))

    blds = closed_polys("building", "bld_id", "ring_a")
    plcs = closed_polys("place", "plc_id", "ring_b").withColumn(
        "ring_b", scaled("ring_b")
    )
    cand = (
        with_cells(blds, "ring_a")
        .join(with_cells(plcs, "ring_b"), "cell")
        .drop("cell")
        .dropDuplicates(["bld_id", "plc_id"])
    )

    def edges(ringc):
        n = F.size(F.col(ringc))
        return F.zip_with(
            F.slice(F.col(ringc), 1, n - 1),
            F.slice(F.col(ringc), 2, n - 1),
            lambda p, q: F.struct(p.alias("p"), q.alias("q")),
        )

    def ccw(a, b, c):
        return (b["lon"] - a["lon"]) * (c["lat"] - a["lat"]) - (
            b["lat"] - a["lat"]
        ) * (c["lon"] - a["lon"])

    def proper_cross(ea, eb):
        d1 = ccw(eb["p"], eb["q"], ea["p"])
        d2 = ccw(eb["p"], eb["q"], ea["q"])
        d3 = ccw(ea["p"], ea["q"], eb["p"])
        d4 = ccw(ea["p"], ea["q"], eb["q"])
        return (((d1 > 0) & (d2 < 0)) | ((d1 < 0) & (d2 > 0))) & (
            ((d3 > 0) & (d4 < 0)) | ((d3 < 0) & (d4 > 0))
        )

    any_cross = F.exists(
        edges("ring_a"), lambda ea: F.exists(edges("ring_b"), lambda eb: proper_cross(ea, eb))
    )
    fa = F.element_at(F.col("ring_a"), 1)
    fb = F.element_at(F.col("ring_b"), 1)
    a_in_b = pip_expr(F.col("ring_b"), fa["lon"], fa["lat"])
    b_in_a = pip_expr(F.col("ring_a"), fb["lon"], fb["lat"])
    hit = cand.filter(any_cross | a_in_b | b_in_a)
    return hit.select(
        G.fmt_id(F.col("bld_id")).alias("bld_id"),
        G.fmt_id(F.col("plc_id")).alias("plc_id"),
    )


def sql_polygon_overlay(fx):
    ccw = (
        lambda a, b, c: f"(({b}.lon - {a}.lon) * ({c}.lat - {a}.lat)"
        f" - ({b}.lat - {a}.lat) * ({c}.lon - {a}.lon))"
    )
    d1 = ccw("eb[1]", "eb[2]", "ea[1]")
    d2 = ccw("eb[1]", "eb[2]", "ea[2]")
    d3 = ccw("ea[1]", "ea[2]", "eb[1]")
    d4 = ccw("ea[1]", "ea[2]", "eb[2]")
    cross = (
        f"((({d1} > 0 AND {d2} < 0) OR ({d1} < 0 AND {d2} > 0))"
        f" AND (({d3} > 0 AND {d4} < 0) OR ({d3} < 0 AND {d4} > 0)))"
    )
    pip = (
        lambda prs, plon, plat: f"(list_sum(list_transform({prs}, e ->"
        f" CASE WHEN (e[1].lat > {plat}) != (e[2].lat > {plat})"
        f" AND {plon} < (e[2].lon - e[1].lon) * ({plat} - e[1].lat) / (e[2].lat - e[1].lat) + e[1].lon"
        f" THEN 1 ELSE 0 END)) % 2) = 1"
    )
    s = f"CAST({_ZONE_SCALE!r} AS DOUBLE)"
    return _fx_prefix(fx) + f"""
, cpoly AS (
  SELECT w.way_id, w.coords
  FROM wgeo w
  WHERE NOT w.dangling AND len(w.refs) >= 2 AND w.refs[1] = w.refs[-1]
), bld AS (
  SELECT way_id AS bld_id, coords AS ring_a,
    list_zip(coords[1:len(coords)-1], coords[2:len(coords)]) AS prs_a
  FROM cpoly
  WHERE EXISTS (SELECT 1 FROM wtag t WHERE t.way_id = cpoly.way_id AND t.k = 'building')
), plc0 AS (
  SELECT way_id AS plc_id, coords,
    list_sum(list_transform(coords[1:len(coords)-1], v -> v.lon)) / (len(coords) - 1) AS clon,
    list_sum(list_transform(coords[1:len(coords)-1], v -> v.lat)) / (len(coords) - 1) AS clat
  FROM cpoly
  WHERE EXISTS (SELECT 1 FROM wtag t WHERE t.way_id = cpoly.way_id AND t.k = 'place')
), plc1 AS (
  SELECT plc_id,
    list_transform(coords, v -> struct_pack(
      lon := clon + {s} * (v.lon - clon),
      lat := clat + {s} * (v.lat - clat))) AS ring_b
  FROM plc0
), plc AS (
  SELECT plc_id, ring_b,
    list_zip(ring_b[1:len(ring_b)-1], ring_b[2:len(ring_b)]) AS prs_b
  FROM plc1
)
SELECT CAST(b.bld_id AS VARCHAR) AS bld_id, CAST(p.plc_id AS VARCHAR) AS plc_id
FROM bld b, plc p
WHERE len(list_filter(b.prs_a, ea ->
        len(list_filter(p.prs_b, eb -> {cross})) > 0)) > 0
   OR {pip("p.prs_b", "b.ring_a[1].lon", "b.ring_a[1].lat")}
   OR {pip("b.prs_a", "p.ring_b[1].lon", "p.ring_b[1].lat")}
"""


def q_fuzzy_join(spark, sf_dir):
    """Entity-resolution fuzzy self-join over part names: candidate pairs
    from TWO blocking keys (first token ∪ last token — the standard
    multi-pass blocking that survives an edit in either token), refined by
    exact Levenshtein ≤ 3 with a length-band prefilter. Blocking turns the
    O(n²) cross join into two equi-joins (each shuffles on a token key);
    the oracle mirrors the same blocked semantics, so the hash match
    freezes exactly what the blocks do and don't catch. Distances are
    integers — nothing fp in the row."""
    p = _t(spark, sf_dir, "part").select(F.col("p_name").alias("name")).distinct()
    k = p.select(
        "name",
        F.substring_index("name", " ", 1).alias("k1"),
        F.substring_index("name", " ", -1).alias("k2"),
    )
    a = k.select(
        F.col("name").alias("name_a"), F.col("k1").alias("a1"), F.col("k2").alias("a2")
    )
    b = k.select(
        F.col("name").alias("name_b"), F.col("k1").alias("b1"), F.col("k2").alias("b2")
    )
    lt = F.col("name_a") < F.col("name_b")
    c1 = a.join(b, (F.col("a1") == F.col("b1")) & lt).select("name_a", "name_b")
    c2 = a.join(b, (F.col("a2") == F.col("b2")) & lt).select("name_a", "name_b")
    cand = c1.unionByName(c2).distinct()
    return (
        cand.filter(
            F.abs(F.length("name_a") - F.length("name_b")) <= 3
        )
        .withColumn("dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("dist") <= 3)
    )


SQL_FUZZY_JOIN = """
WITH p AS (
  SELECT DISTINCT p_name AS name FROM part
), k AS (
  SELECT name,
         string_split(name, ' ')[1] AS k1,
         string_split(name, ' ')[-1] AS k2
  FROM p
), cand AS (
  SELECT a.name AS name_a, b.name AS name_b
  FROM k a JOIN k b ON a.k1 = b.k1 AND a.name < b.name
  UNION
  SELECT a.name, b.name
  FROM k a JOIN k b ON a.k2 = b.k2 AND a.name < b.name
)
SELECT name_a, name_b, levenshtein(name_a, name_b) AS dist
FROM cand
WHERE abs(length(name_a) - length(name_b)) <= 3
  AND levenshtein(name_a, name_b) <= 3
"""


def g_kring_smooth(spark, sf_dir):
    """K-ring neighborhood aggregation (the north star's H3 k-ring pattern
    on the engine's square grid): per occupied raster cell, the total
    point count over its 3×3 neighborhood (k=1 ring). One raster agg, a
    9-way neighbor explode of the (already tiny) cell table, one second
    agg — the density-smoothing / hot-spot primitive. All integers."""
    from .operators.raster import rasterize_points

    cells = rasterize_points(_pipeline(spark, sf_dir)["nodes"], res=0.02)
    three = F.array(F.lit(-1), F.lit(0), F.lit(1))
    spread = (
        cells.select("cx", "cy", "n", F.explode(three).alias("dx"))
        .select("cx", "cy", "n", "dx", F.explode(three).alias("dy"))
        .select(
            (F.col("cx") + F.col("dx")).alias("tx"),
            (F.col("cy") + F.col("dy")).alias("ty"),
            "n",
        )
    )
    ring = spread.groupBy("tx", "ty").agg(F.sum("n").alias("ring_n"))
    return (
        cells.join(
            ring, (cells.cx == ring.tx) & (cells.cy == ring.ty)
        )
        .select("cx", "cy", "n", F.col("ring_n").cast("long").alias("ring_n"))
    )


def sql_kring_smooth(fx):
    return _fx_prefix(fx) + """
, cells AS (
  SELECT CAST(floor(lon / 0.02) AS BIGINT) AS cx,
         CAST(floor(lat / 0.02) AS BIGINT) AS cy,
         COUNT(*) AS n
  FROM nd GROUP BY 1, 2
), spread AS (
  SELECT c.cx + dx.d AS tx, c.cy + dy.d AS ty, c.n
  FROM cells c, (VALUES (-1), (0), (1)) dx(d), (VALUES (-1), (0), (1)) dy(d)
), ring AS (
  SELECT tx, ty, SUM(n) AS ring_n FROM spread GROUP BY 1, 2
)
SELECT c.cx, c.cy, c.n, CAST(r.ring_n AS BIGINT) AS ring_n
FROM cells c JOIN ring r ON r.tx = c.cx AND r.ty = c.cy
"""


def q_event_anomaly(spark, sf_dir):
    """Daily-volume anomaly detection per event type: flag days whose
    count deviates from the type's mean by more than 2σ. The variance is
    computed from EXACT integer sums (population var = (n·Σx² − (Σx)²)/n²)
    and the z-test is evaluated as a cross-multiplied INTEGER comparison:
    z² > 4 ⟺ (n·x − Σx)² > 4·(n·Σx² − (Σx)²) — no fp anywhere, so the
    flag is bit-exact cross-engine. Exactness bound: the comparison stays
    inside int64 while n·Σx² < 2⁶³ and (n·x−Σx)² < 2⁶³ (e.g. 10⁴ days ×
    daily counts up to ~3×10⁷ per type — DuckDB's int128 SUM keeps going
    further, so beyond that bound pre-aggregate counts into coarser units
    before this query). Shape: one (type, day) count agg, one per-type
    rollup joined back (broadcast — one row per type)."""
    day = F.expr("unix_micros(cast(ts as timestamp)) div 86400000000")
    ev = _t(spark, sf_dir, "events").select("event_type", day.alias("day"))
    daily = ev.groupBy("event_type", "day").agg(F.count(F.lit(1)).alias("x"))
    stats = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    j = daily.join(F.broadcast(stats), "event_type")
    dev = F.col("n") * F.col("x") - F.col("sx")  # n·(x - mean)
    var_n2 = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")  # n²·var
    is_anom = (dev * dev) > (F.lit(4) * var_n2)  # z² > 4, all integer
    return j.select(
        "event_type", "day", "x",
        is_anom.cast("int").alias("is_anomaly"),
    )


SQL_EVENT_ANOMALY = """
WITH daily AS (
  SELECT event_type, epoch_us(ts) // 86400000000 AS day, COUNT(*) AS x
  FROM events GROUP BY 1, 2
), stats AS (
  SELECT event_type, COUNT(*) AS n, SUM(x) AS sx, SUM(x * x) AS sxx
  FROM daily GROUP BY 1
)
SELECT d.event_type, d.day, d.x,
       CAST((s.n * d.x - s.sx) * (s.n * d.x - s.sx)
            > 4 * (s.n * s.sxx - s.sx * s.sx) AS INT) AS is_anomaly
FROM daily d JOIN stats s USING (event_type)
"""


def q_cumulative_users(spark, sf_dir):
    """Growth curve: per event type and day, new users (first-seen that
    day) and the cumulative distinct-user count. Running DISTINCT is
    normally stateful; here it reduces to exact integers: a first-seen
    flag (min day per (type, user)) → daily new-user counts → a running
    sum window ordered by day. Two map-side-combined aggs + one bounded
    window (rows = types × days)."""
    day = F.expr("unix_micros(cast(ts as timestamp)) div 86400000000")
    ev = _t(spark, sf_dir, "events").select(
        "event_type", "user_id", day.alias("day")
    )
    first = ev.groupBy("event_type", "user_id").agg(F.min("day").alias("day"))
    daily = first.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).alias("new_users")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return daily.select(
        "event_type", "day", "new_users",
        F.sum("new_users").over(w).alias("cum_users"),
    )


SQL_CUMULATIVE_USERS = """
WITH first AS (
  SELECT event_type, user_id, MIN(epoch_us(ts) // 86400000000) AS day
  FROM events GROUP BY 1, 2
), daily AS (
  SELECT event_type, day, COUNT(*) AS new_users FROM first GROUP BY 1, 2
)
SELECT event_type, day, new_users,
       SUM(new_users) OVER (
         PARTITION BY event_type ORDER BY day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_users
FROM daily
"""


def q_cms_stream(spark, sf_dir):
    """Streaming CMS: like approx_distinct_stream, the count-min counter
    operator is pure select+groupBy+sum, so it runs UNCHANGED over an
    availableNow stream with complete-mode aggregation (state bounded at
    d·w counters forever). CMS add-mergeability makes the stream's final
    counters equal the batch sketch, so the point-query estimates for the
    10 most frequent user_ids value-match the batch SQL oracle."""
    from .operators.sketch import cms_estimate, cms_counters

    ev = _t(spark, sf_dir, "events").select("user_id")
    counters = _drain_complete_stream(
        spark,
        ev,
        lambda s: cms_counters(s, "user_id", d=4, w=1024),
        "osmi_scms_",
    )
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_cnt"))
    top = exact.orderBy(F.desc("exact_cnt"), F.asc("user_id")).limit(10)
    est = cms_estimate(top.select("user_id"), counters, "user_id", d=4, w=1024)
    return top.join(est, "user_id").select("user_id", "exact_cnt", "cms_est")


def sql_cms_stream(d: int = 4, w: int = 1024) -> str:
    from .operators.sketch import cms_sql_ctes

    probes = "\n    UNION ALL\n    ".join(
        f"SELECT user_id, {r} AS row, (CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)),"
        f" {1 + 8 * r}, 8) AS BIGINT) % {w}) AS col FROM top"
        for r in range(d)
    )
    return (
        "WITH src AS (SELECT user_id FROM events),"
        + cms_sql_ctes("src", "user_id", d=d, w=w).lstrip().rstrip()
        + f""",
exact AS (
  SELECT user_id, COUNT(*) AS exact_cnt FROM events GROUP BY 1
), top AS (
  SELECT * FROM exact ORDER BY exact_cnt DESC, user_id ASC LIMIT 10
), probes AS (
    {probes}
), est AS (
  SELECT p.user_id, MIN(COALESCE(c.cnt, 0)) AS cms_est
  FROM probes p LEFT JOIN cms_counters c ON c.row = p.row AND c.col = p.col
  GROUP BY 1
)
SELECT t.user_id, t.exact_cnt, e.cms_est FROM top t JOIN est e USING (user_id)
"""
    )


def t_curation_pipeline(spark, sf_dir):
    """The end-to-end training-data curation funnel as ONE query: exact
    dedup (md5 digest, min-doc_id representative) → quality filter (the
    text_quality 'ok' bucket) → deterministic stratified sampling (the
    sample_stratified thresholds) → per-language stage counts + sampled
    token volume. Every stage reuses the exact semantics of its
    standalone oracle-gated query; this row freezes the COMPOSITION — the
    pipeline a real curation run executes. All integers; stage joins
    coalesce to 0 so languages dropped mid-funnel still report."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    w = Window.partitionBy(F.md5(F.encode("text", "utf-8")))
    deduped = (
        d.withColumn("keep_id", F.min("doc_id").over(w))
        .filter(F.col("doc_id") == F.col("keep_id"))
        .drop("keep_id")
    )
    toks = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    punct = F.length("text") - F.length(F.regexp_replace("text", r"[.,!?;:]", ""))
    quality = deduped.filter(~(toks < 5) & ~(punct * 4 > toks))
    u32 = F.conv(
        F.substring(F.md5(F.encode(F.col("doc_id").cast("string"), "utf-8")), 1, 8),
        16,
        10,
    ).cast("long")
    thr = F.lit(0)
    for lang, rate in sorted(_SAMPLE_RATES.items()):
        thr = F.when(F.col("lang") == lang, F.lit(int(rate * 2**32))).otherwise(thr)
    sampled = quality.filter(u32 < thr)

    def cnt(df, name, extra=None):
        aggs = [F.count(F.lit(1)).alias(name)]
        if extra is not None:
            aggs.append(extra)
        return df.groupBy("lang").agg(*aggs)

    out = (
        cnt(d, "n_raw")
        .join(cnt(deduped, "n_dedup"), "lang", "left")
        .join(cnt(quality, "n_quality"), "lang", "left")
        .join(
            cnt(sampled, "n_sampled", F.sum(toks).alias("sampled_tokens")),
            "lang",
            "left",
        )
        .select(
            "lang",
            "n_raw",
            F.coalesce("n_dedup", F.lit(0)).alias("n_dedup"),
            F.coalesce("n_quality", F.lit(0)).alias("n_quality"),
            F.coalesce("n_sampled", F.lit(0)).alias("n_sampled"),
            F.coalesce("sampled_tokens", F.lit(0)).alias("sampled_tokens"),
        )
    )
    return out


def sql_curation_pipeline() -> str:
    cases = "\n             ".join(
        f"WHEN '{lang}' THEN {int(rate * 2**32)}"
        for lang, rate in sorted(_SAMPLE_RATES.items())
    )
    return rf"""
WITH deduped AS (
  SELECT doc_id, lang, text FROM (
    SELECT doc_id, lang, text,
           MIN(doc_id) OVER (PARTITION BY md5(text)) AS keep_id
    FROM documents
  ) WHERE doc_id = keep_id
), quality AS (
  SELECT * FROM deduped
  WHERE NOT (len(regexp_split_to_array(trim(text), '\s+')) < 5)
    AND NOT ((length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))) * 4
             > len(regexp_split_to_array(trim(text), '\s+')))
), sampled AS (
  SELECT * FROM quality
  WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) <
        CASE lang {cases} ELSE 0 END
), raw_c AS (
  SELECT lang, COUNT(*) AS n_raw FROM documents GROUP BY 1
), ded_c AS (
  SELECT lang, COUNT(*) AS n_dedup FROM deduped GROUP BY 1
), qua_c AS (
  SELECT lang, COUNT(*) AS n_quality FROM quality GROUP BY 1
), sam_c AS (
  SELECT lang, COUNT(*) AS n_sampled,
         CAST(SUM(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS sampled_tokens
  FROM sampled GROUP BY 1
)
SELECT r.lang, r.n_raw,
       COALESCE(d.n_dedup, 0) AS n_dedup,
       COALESCE(q.n_quality, 0) AS n_quality,
       COALESCE(s.n_sampled, 0) AS n_sampled,
       COALESCE(s.sampled_tokens, 0) AS sampled_tokens
FROM raw_c r
LEFT JOIN ded_c d USING (lang)
LEFT JOIN qua_c q USING (lang)
LEFT JOIN sam_c s USING (lang)
"""


def q_markov_transitions(spark, sf_dir):
    """First-order Markov transition matrix over each user's event
    sequence (ordered by ts, event_id tiebreak): counts and exact integer
    micro-probabilities per (from, to) event-type pair. The path-analysis
    primitive behind "what do users do next"; one per-user window (lag) +
    two map-side-combined aggs, all integers."""
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = ev.select(
        F.col("event_type").alias("to_type"),
        F.lag("event_type").over(w).alias("from_type"),
    ).filter(F.col("from_type").isNotNull())
    pair = steps.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n_pair")
    )
    outc = steps.groupBy("from_type").agg(F.count(F.lit(1)).alias("n_from"))
    return pair.join(outc, "from_type").select(
        "from_type", "to_type", "n_pair", "n_from",
        F.expr("n_pair * 1000000 div n_from").alias("p_micro"),
    )


SQL_MARKOV_TRANSITIONS = """
WITH steps AS (
  SELECT event_type AS to_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS from_type
  FROM events
), flt AS (
  SELECT * FROM steps WHERE from_type IS NOT NULL
), pair AS (
  SELECT from_type, to_type, COUNT(*) AS n_pair FROM flt GROUP BY 1, 2
), outc AS (
  SELECT from_type, COUNT(*) AS n_from FROM flt GROUP BY 1
)
SELECT p.from_type, p.to_type, p.n_pair, o.n_from,
       CAST(p.n_pair * 1000000 // o.n_from AS BIGINT) AS p_micro
FROM pair p JOIN outc o USING (from_type)
"""


def q_market_basket(spark, sf_dir):
    """Market-basket co-occurrence: part pairs appearing in the same
    order, with support counts and integer micro-lift
    (lift = N·n_ab / (n_a·n_b), carried as 1e6·… div …). The frequent-
    itemset primitive; the pair self-join is keyed on l_orderkey (small
    per-order item lists bound the blowup), everything else is counting.
    Pairs with support < 2 are cut to keep the output meaningful.
    Exactness bound: both engines evaluate lift_micro in int64, so it is
    exact while n_ab·N·10⁶ < 2⁶³, i.e. n_ab·N < ~9.2×10¹². Since
    n_ab ≤ N, every input with N ≤ 3×10⁶ orders is inside it. Past the
    bound both engines raise an overflow error (Spark's ANSI arithmetic,
    DuckDB's checked BIGINT) instead of returning a wrong lift."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    n_orders = _t(spark, sf_dir, "orders").select("o_orderkey").distinct().count()
    a = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("pa"))
    b = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("pb"))
    pairs = (
        a.join(b, "o")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= 2)
    )
    cnt = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n"))
    ca = cnt.select(F.col("l_partkey").alias("pa"), F.col("n").alias("n_a"))
    cb = cnt.select(F.col("l_partkey").alias("pb"), F.col("n").alias("n_b"))
    return (
        pairs.join(F.broadcast(ca), "pa")
        .join(F.broadcast(cb), "pb")
        .select(
            "pa", "pb", "n_ab", "n_a", "n_b",
            F.expr(f"n_ab * {n_orders}L * 1000000L div (n_a * n_b)").alias(
                "lift_micro"
            ),
        )
    )


def sql_market_basket() -> str:
    return """
WITH li AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
), n_orders AS (
  SELECT COUNT(DISTINCT o_orderkey) AS n FROM orders
), pairs AS (
  SELECT a.p AS pa, b.p AS pb, COUNT(*) AS n_ab
  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
), cnt AS (
  SELECT p, COUNT(*) AS n FROM li GROUP BY 1
)
SELECT pr.pa, pr.pb, pr.n_ab, ca.n AS n_a, cb.n AS n_b,
       CAST(pr.n_ab * no.n * 1000000 // (ca.n * cb.n) AS BIGINT) AS lift_micro
FROM pairs pr
JOIN cnt ca ON ca.p = pr.pa
JOIN cnt cb ON cb.p = pr.pb
CROSS JOIN n_orders no
"""
