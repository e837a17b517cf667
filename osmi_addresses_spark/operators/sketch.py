"""Deterministic distributed sketches — HyperLogLog approximate distinct
counting and a Bloom-filter semi-join prefilter.

Both sketches derive every hash from md5, so the identical register / bit
values are computable in ANSI SQL: the DuckDB oracle reproduces not just a
statistically-close answer but the exact same estimate, making these the
rare *approximate* operators that are still value-hash gateable.

Scale properties (the reason a 100 TB pipeline wants sketches at all):

- HLL: the aggregation state is bounded by (groups × 2^p) integer registers
  regardless of input row count, and both aggregates (per-bucket register
  max, per-group register fold) are map-side combined — one shuffle of
  O(2^p) rows per group where exact COUNT(DISTINCT) shuffles every distinct
  value.
- Bloom: the build side collapses to ≤ min(k·|build|, m_bits) distinct bit
  positions, collected to the driver, and the probe side is filtered by k
  `isin` membership tests in one scan, so the big table is never shuffled.
  False positives are deterministic (same md5 bits in engine and oracle).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# --------------------------------------------------------------------------
# HyperLogLog (Flajolet et al. 2007), md5-derived hash, p-bit bucket index.
# --------------------------------------------------------------------------


def _hll_hash_cols(value: Column, p: int) -> tuple[Column, Column]:
    """(bucket, rho): bucket = first p bits of md5 (taken from leading hex
    chars, p must be a multiple of 4); rho = 1 + number of leading zeros in
    the next 48 hash bits (so rho ∈ [1, 49]; the all-zero tail maps to 49).

    `length(bin(v))` is the portable bit-length idiom: Spark's `bin` and
    DuckDB's `bin` both render without leading zeros."""
    if p % 4 != 0 or not 4 <= p <= 16:
        raise ValueError("p must be a multiple of 4 in [4, 16]")
    h = F.md5(F.encode(value.cast("string"), "utf-8"))
    bucket = F.conv(F.substring(h, 1, p // 4), 16, 10).cast("int")
    v48 = F.conv(F.substring(h, p // 4 + 1, 12), 16, 10).cast("long")
    rho = F.when(v48 == 0, F.lit(49)).otherwise(F.lit(49) - F.length(F.bin(v48)))
    return bucket, rho


def hll_registers(
    df: DataFrame, group_cols: list[str], value_col: str, p: int = 8
) -> DataFrame:
    """Per-(group, bucket) register values: max rho seen in the bucket.
    Absent buckets (register 0) are NOT materialized — `hll_estimate`
    accounts for them arithmetically."""
    bucket, rho = _hll_hash_cols(F.col(value_col), p)
    return (
        df.select(*group_cols, bucket.alias("bucket"), rho.alias("rho"))
        .groupBy(*group_cols, "bucket")
        .agg(F.max("rho").alias("reg"))
    )


def hll_distinct(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    p: int = 8,
    alias: str = "hll_est",
) -> DataFrame:
    """Per-group HLL distinct-count estimate (double, un-rounded).

    Standard estimator: E = α_m · m² / Σ_j 2^(−M_j) over all m = 2^p
    buckets (absent bucket ⇒ M_j = 0 ⇒ term 1), with the linear-counting
    small-range correction E ≤ 2.5m ∧ V>0 ⇒ m·ln(m/V) where V = number of
    zero registers. Every fp term is a power of two (exact), so the only
    cross-engine nondeterminism is last-ulp summation order — callers round
    the estimate (4 dp is far coarser than the ~1e-12 drift)."""
    regs = hll_registers(df, group_cols, value_col, p)
    return hll_estimate_from_registers(regs, group_cols, p, alias)


def hll_estimate_from_registers(
    regs: DataFrame, group_cols: list[str], p: int = 8, alias: str = "hll_est"
) -> DataFrame:
    """The hll_distinct estimator applied to an existing register
    DataFrame (group cols, bucket, reg)."""
    m = 1 << p
    alpha = 0.7213 / (1 + 1.079 / m)
    agg = regs.groupBy(*group_cols).agg(
        F.sum(F.pow(F.lit(2.0), -F.col("reg"))).alias("_zsum_present"),
        F.count(F.lit(1)).alias("_n_present"),
    )
    zsum = F.col("_zsum_present") + (F.lit(m) - F.col("_n_present"))
    zeros = F.lit(m) - F.col("_n_present")
    raw = F.lit(alpha) * F.lit(float(m * m)) / zsum
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros),
    ).otherwise(raw)
    return agg.select(*group_cols, est.alias(alias))


def hll_sql(
    table_expr: str, group_cols: list[str], value_expr: str, p: int = 8
) -> str:
    """DuckDB CTE chain mirroring hll_distinct exactly (same md5 bits, same
    estimator arithmetic). Returns SQL selecting group_cols + hll_est."""
    m = 1 << p
    alpha = 0.7213 / (1 + 1.079 / m)
    g = ", ".join(group_cols)
    # bare fp literals bind as DECIMAL in DuckDB (overflowing decimal
    # multiplies); force the same IEEE-double arithmetic the engine uses
    a = f"CAST({alpha!r} AS DOUBLE)"
    m2 = f"CAST({float(m * m)!r} AS DOUBLE)"
    c25 = f"CAST({2.5 * m!r} AS DOUBLE)"
    md = f"CAST({float(m)!r} AS DOUBLE)"
    return f"""
hll_h AS (
  SELECT {g}, md5(CAST({value_expr} AS VARCHAR)) AS h FROM {table_expr}
), hll_regs AS (
  SELECT {g},
         CAST('0x' || substr(h, 1, {p // 4}) AS INT) AS bucket,
         MAX(CASE WHEN CAST('0x' || substr(h, {p // 4 + 1}, 12) AS BIGINT) = 0
                  THEN 49
                  ELSE 49 - length(bin(CAST('0x' || substr(h, {p // 4 + 1}, 12) AS BIGINT)))
             END) AS reg
  FROM hll_h GROUP BY {g}, bucket
), hll_est AS (
  SELECT {g},
         CASE WHEN ({a} * {m2} / (SUM(pow(2.0, -reg)) + ({m} - COUNT(*)))) <= {c25}
                   AND ({m} - COUNT(*)) > 0
              THEN {md} * ln({md} / ({m} - COUNT(*)))
              ELSE {a} * {m2} / (SUM(pow(2.0, -reg)) + ({m} - COUNT(*)))
         END AS hll_est
  FROM hll_regs GROUP BY {g}
)"""


# --------------------------------------------------------------------------
# Count-min sketch (Cormode & Muthukrishnan 2005), md5-derived row hashes.
# --------------------------------------------------------------------------


def _cms_col(value: Column, row: int, w: int) -> Column:
    """Column index of `value` in CMS row `row`: the row-th disjoint 32-bit
    md5 slice mod w (requires d ≤ 4 rows)."""
    h = F.md5(F.encode(value.cast("string"), "utf-8"))
    return F.conv(F.substring(h, 1 + 8 * row, 8), 16, 10).cast("long") % w


def cms_counters(
    df: DataFrame, value_col: str, d: int = 4, w: int = 1024
) -> DataFrame:
    """The full count-min sketch as a (row, col, cnt) DataFrame: each input
    occurrence increments one counter per row. State is ≤ d·w rows no
    matter the input size (the whole point of a sketch at 100 TB), and the
    count aggregate is map-side combined — one O(d·w) shuffle total."""
    if not 1 <= d <= 4:
        raise ValueError("d must be in [1, 4] (md5 yields four 32-bit slices)")
    rows = None
    for r in range(d):
        part = df.select(
            F.lit(r).alias("row"), _cms_col(F.col(value_col), r, w).alias("col")
        )
        rows = part if rows is None else rows.unionByName(part)
    return rows.groupBy("row", "col").agg(F.count(F.lit(1)).alias("cnt"))


def cms_estimate(
    items: DataFrame,
    counters: DataFrame,
    value_col: str,
    d: int = 4,
    w: int = 1024,
    alias: str = "cms_est",
) -> DataFrame:
    """Point-query the sketch for each row of `items`: est = min over the d
    rows of that value's counter (≥ true count, never under). The counter
    table (≤ d·w rows) is broadcast, so querying any number of items costs
    no shuffle of the items themselves beyond the final per-item min agg."""
    probes = None
    for r in range(d):
        part = items.select(
            F.col(value_col),
            F.lit(r).alias("row"),
            _cms_col(F.col(value_col), r, w).alias("col"),
        )
        probes = part if probes is None else probes.unionByName(part)
    joined = probes.join(F.broadcast(counters), ["row", "col"], "left")
    return joined.groupBy(value_col).agg(
        F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias(alias)
    )


def cms_sql_ctes(
    source_cte: str, value_expr: str, d: int = 4, w: int = 1024
) -> str:
    """DuckDB CTEs mirroring cms_counters exactly: `cms_counters(row, col,
    cnt)` over the rows of `source_cte` (one value per row via
    `value_expr`)."""
    slices = "\n    UNION ALL\n    ".join(
        f"SELECT {r} AS row, (CAST('0x' || substr(md5(CAST({value_expr} AS VARCHAR)),"
        f" {1 + 8 * r}, 8) AS BIGINT) % {w}) AS col FROM {source_cte}"
        for r in range(d)
    )
    return f"""
cms_counters AS (
  SELECT row, col, COUNT(*) AS cnt FROM (
    {slices}
  ) GROUP BY 1, 2
)"""


# --------------------------------------------------------------------------
# Bloom-filter semi-join prefilter.
# --------------------------------------------------------------------------


def bloom_positions(value: Column, m_bits: int, k: int) -> list[Column]:
    """k bit positions for a value: k disjoint 32-bit slices of its md5,
    each reduced mod m_bits (needs k ≤ 4 slices of the 128-bit digest)."""
    if not 1 <= k <= 4:
        raise ValueError("k must be in [1, 4] (md5 yields four 32-bit slices)")
    h = F.md5(F.encode(value.cast("string"), "utf-8"))
    return [
        (F.conv(F.substring(h, 1 + 8 * i, 8), 16, 10).cast("long") % m_bits)
        for i in range(k)
    ]


def bloom_semi_join(
    probe: DataFrame,
    probe_key: str,
    build: DataFrame,
    build_key: str,
    m_bits: int = 8192,
    k: int = 3,
) -> DataFrame:
    """Rows of `probe` whose key MIGHT be in `build` (classic Bloom
    semantics: no false negatives; deterministic md5 false positives).

    The filter is materialized the way a Bloom filter is meant to be —
    as a VALUE, not a relation: ONE distributed pass unions the build
    side's k position sets, and the ≤ min(k·|build|, m_bits) set bits
    come back to the driver (bounded by m_bits by construction — 8 KB at
    the default size). The probe is then a single scan with k `InSet`
    membership tests (hash-set lookups in codegen): no shuffle, no joins,
    no repeated build-side computation. Eager on the build side (it runs
    the one collect when called)."""
    if m_bits > (1 << 22):
        raise ValueError("m_bits > 2^22: the bit set is no longer driver-safe")
    bits = None
    for pos in bloom_positions(F.col(build_key), m_bits, k):
        part = build.select(pos.alias("bit"))
        bits = part if bits is None else bits.unionByName(part)
    set_bits = [r["bit"] for r in bits.distinct().collect()]
    if not set_bits:
        return probe.filter(F.lit(False))
    cond = None
    for pos in bloom_positions(F.col(probe_key), m_bits, k):
        test = pos.isin(set_bits)
        cond = test if cond is None else cond & test
    return probe.filter(cond)


def bloom_sql_ctes(
    build_table: str, build_key: str, probe_table: str, probe_key: str,
    m_bits: int = 8192, k: int = 3,
) -> str:
    """DuckDB CTEs mirroring bloom_semi_join: `bloom_bits` (set bits) and
    `bloom_pass` (probe rows passing all k membership tests)."""

    def pos(key: str, i: int) -> str:
        return (
            f"(CAST('0x' || substr(md5(CAST({key} AS VARCHAR)), {1 + 8 * i}, 8)"
            f" AS BIGINT) % {m_bits})"
        )

    bits = "\n    UNION\n    ".join(
        f"SELECT {pos(build_key, i)} AS bit FROM {build_table}" for i in range(k)
    )
    tests = " AND ".join(
        f"{pos(probe_key, i)} IN (SELECT bit FROM bloom_bits)" for i in range(k)
    )
    return f"""
bloom_bits AS (
    {bits}
), bloom_pass AS (
  SELECT * FROM {probe_table} WHERE {tests}
)"""
