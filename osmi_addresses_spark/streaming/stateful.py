"""Custom stateful streaming operator (SURVEY.md §2.7): cross-batch exact
deduplication via ``applyInPandasWithState``.

The watermarked interval join in `ingest.py` covers the built-in
stateful surface; this module is the CUSTOM-state pattern — per-key
state that Spark's built-ins can't express: "emit each content digest's first-seen
row once, ever, across the whole life of the stream". `dropDuplicates`
on a stream needs a watermark and forgets keys past it; training-data
ingest wants the opposite (a document seen last week is still a dup).

State is one boolean cell per digest in the state store (checkpointed,
recovered on restart — the test exercises a stop/restart across file
drops). Scale shape: state size is O(distinct keys) in the store (RocksDB
at cluster scale), per-batch work is a hash partition by digest, and the
emitted representative is deterministic (order_col-minimal row of the
key's first batch), so re-runs from the same checkpoint are stable.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

STATE_SCHEMA = T.StructType([T.StructField("seen", T.BooleanType())])


def stream_dedup_exact(
    stream: DataFrame, key_col: str = "digest", order_col: str = "doc_id"
) -> DataFrame:
    """First-seen-wins exact dedup across ALL micro-batches.

    Emits exactly one row per distinct ``key_col`` over the stream's whole
    lifetime: the ``order_col``-minimal row of the FIRST batch in which the
    key appears. Rows of later batches with a seen key are dropped — state
    never expires (GroupStateTimeout.NoTimeout), which is the semantics a
    dedup-for-training pipeline needs (a watermarKed dropDuplicates would
    re-admit old content once the watermark passes it).
    """
    out_schema = stream.schema

    def fn(key, pdfs, state: GroupState):
        if state.exists:
            for _ in pdfs:  # drain; this key already emitted
                pass
            return
        best: pd.DataFrame | None = None
        for pdf in pdfs:
            if not len(pdf):
                continue
            cand = pdf.loc[[pdf[order_col].idxmin()]]
            if best is None or cand.iloc[0][order_col] < best.iloc[0][order_col]:
                best = cand
        state.update((True,))
        if best is not None:
            yield best

    return stream.groupBy(F.col(key_col)).applyInPandasWithState(
        fn, out_schema, STATE_SCHEMA, "append", GroupStateTimeout.NoTimeout
    )
