"""Stateful streaming rolling statistics — applyInPandasWithState over
the batch window kernels.

The batch engine's Arrow path evaluates a whole series per task; a LIVE
transcript stream instead delivers each conversation's turns
incrementally across micro-batches. Per (series) group, each
micro-batch is folded through the SAME ``conv_*`` kernel the batch
Arrow path runs, with the series' last width-1 raw values carried in
front (``kernels.carry_step``). Every window op shares one state
layout, ``{tail, rows}``: the trailing raw values and the row count,
persisted in the Structured Streaming state store between batches. A
window never reaches further back than width-1 rows, so the streamed
output equals the whole-series batch kernel on every row (mean/sum up
to the last bits of np.convolve's alignment-dependent summation). The
exception is 'ewma', whose decay has no window: its carry is three
numbers (see ``kernels.online_ewma_time``).

Correctness contract: rows must arrive IN (series, order) ORDER across
micro-batches (append-only transcript tails — turn k+1 never lands in
an earlier batch than turn k). Within a micro-batch rows are sorted by
the order column before folding, so any intra-batch shuffling is fine;
cross-batch disorder is the caller's watermarking problem, the same
contract run_stream_to_tier enforces for tier buckets. The streamed
output is checked against the batch kernels in
tests/test_streaming_rolling.py.

Scale shape: state per key is O(width) floats (the trailing window),
partitioned by the series key across executors by the state store —
10^9 conversations at width 100 is ~800 GB of state spread over the
cluster, the same order as any per-key windowed aggregation.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as TT
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from roll_spark.operators import kernels as K
from roll_spark.operators.base import Cols, _as_list

# A numeric order column is interpreted as epoch-SECONDS (the engine-wide
# _epoch_micros convention, time_windows.py:40). This CHANGED from
# epoch-microseconds in 0.3.0 — a caller still passing epoch-µs would get
# t*1e6 values past int64 range and silent garbage event times, so reject
# anything implausibly large for seconds: 1e12 s is year ~33658, while
# today's epoch-µs values are ~1.7e15. Documented in README (breaking
# changes, 0.4.0).
_MAX_PLAUSIBLE_EPOCH_SECONDS = 1e12


def _numeric_order_to_us(o: pd.Series) -> np.ndarray:
    v = o.to_numpy(dtype=np.float64, na_value=np.nan)
    if np.isnan(v).any():
        raise ValueError(
            "numeric order column holds NaN/NULL values; every streamed "
            "row needs an event time"
        )
    if v.size and np.abs(v).max() > _MAX_PLAUSIBLE_EPOCH_SECONDS:
        raise ValueError(
            "numeric order column looks like epoch-microseconds (max "
            f"|value| {np.abs(v).max():.3g} > {_MAX_PLAUSIBLE_EPOCH_SECONDS:g}); "
            "since 0.4.0 numeric order values are epoch-SECONDS — divide "
            "by 1e6 or pass a timestamp column"
        )
    return np.round(v * 1e6).astype(np.int64)

# op name -> the batch Arrow path's window kernel; 'ewma' has no window
_KERNEL = {"mean": K.conv_mean, "sum": K.conv_sum, "var": K.conv_var,
           "quantile": K.conv_quantile, "cov": K.conv_cov,
           "min": K.conv_min, "max": K.conv_max,
           "idxmin": K.conv_idxmin, "idxmax": K.conv_idxmax,
           "scale": K.conv_scale, "prod": K.conv_nanprod}
_OPS = (*_KERNEL, "ewma")


def stream_roll(
    sdf: DataFrame,
    value: str,
    by: Cols,
    order: Cols,
    width: int,
    *,
    op: str = "mean",
    p: float = 0.5,
    y: str | None = None,
    min_obs: int = 1,
    halflife_s: float | None = None,
    out: str = "roll_out",
) -> DataFrame:
    """Rolling ``op`` over a streaming DataFrame, one output row per
    input row, state carried per series across micro-batches.

    op: 'mean' | 'sum' | 'var' | 'quantile' (HF2 at ``p``) | 'cov'
    (pairwise-complete, over ``value`` and ``y``) | 'scale' (z-score of
    the most recent non-NA window value) | 'min' | 'max' | 'prod'
    (direct product: exact zeros and signs; streaming any/all are
    stream min/max over a derived 0/1 column) | 'idxmin' | 'idxmax'
    (window-relative extreme index, most-recent ties, series position
    while the series is still expanding) — each the batch window kernel
    folded over the carried tail (``kernels.carry_step``) | 'ewma'
    (time-decay EWMA over the ORDER column's event time at
    ``halflife_s`` — expanding, so ``width`` is ignored).
    """
    if op not in _OPS:
        raise ValueError(f"op must be one of {_OPS}")
    if op == "cov" and y is None:
        raise ValueError("op='cov' needs the second series column y")
    if op == "ewma" and halflife_s is None:
        raise ValueError("op='ewma' needs halflife_s")
    by_l = _as_list(by)
    order_l = _as_list(order)
    if len(order_l) != 1:
        raise ValueError("stream_roll needs exactly one order column")
    ocol = order_l[0]
    cols = [value, y] if op == "cov" else [value]
    kw = {"p": p} if op == "quantile" else {}

    by_fields = [f for f in sdf.schema if f.name in by_l]
    order_field = [f for f in sdf.schema if f.name == ocol][0]
    out_schema = TT.StructType(
        by_fields + [order_field, TT.StructField(out, TT.DoubleType())]
    )
    # window ops: the carried tail (flattened column by column; NaN for
    # missing turns) and the series row count. 'ewma': the decay carry
    # (num, den, t) and the observed count.
    state_schema = TT.StructType([
        TT.StructField("tail", TT.ArrayType(TT.DoubleType())),
        TT.StructField("rows", TT.LongType()),
    ])

    def fold(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        frames = [pdf for pdf in pdfs if len(pdf)]
        if not frames:
            # same guard as streaming/sessions.py: an empty group batch
            # (possible under future timeout modes) yields nothing and
            # leaves state untouched instead of crashing on concat.
            return
        batch = pd.concat(frames, ignore_index=True)
        batch = batch.sort_values(ocol, kind="stable")
        xs = [batch[c].to_numpy(dtype=np.float64, na_value=np.nan) for c in cols]
        carry = state.get if state.exists else None
        if op == "ewma":
            o = batch[ocol]
            if str(o.dtype).startswith("datetime64"):
                t_us = o.astype("int64").to_numpy() // 1000  # ns -> us
            else:
                # numeric order column: SECONDS, the same convention as
                # the batch engine's _epoch_micros (time_windows.py:40) —
                # a batch ewma_time pipeline ported to streaming keeps
                # its decay rate unchanged. Guarded against epoch-µs
                # callers (int64 overflow) — see _numeric_order_to_us.
                t_us = _numeric_order_to_us(o)
            if carry is not None:
                (num, den, t), n_obs = carry
                carry = {"num": num, "den": den, "t": t, "n_obs": n_obs}
            res, st = K.online_ewma_time(xs[0], t_us, halflife_s,
                                         min_obs=min_obs, state=carry)
            tail, rows = [st["num"], st["den"], st["t"]], st["n_obs"]
        else:
            if carry is not None:
                carry = {"tail": carry[0], "rows": carry[1]}
            res, st = K.carry_step(_KERNEL[op], xs, width, carry,
                                   min_obs=min_obs, **kw)
            tail, rows = st["tail"].ravel(), st["rows"]
        # plain python floats/ints only: the state tuple is pickled into
        # the JVM state store, which rejects numpy scalar types
        state.update(([float(v) for v in tail], int(rows)))
        data = {c: batch[c].to_numpy() for c in by_l + [ocol]}
        data[out] = res
        yield pd.DataFrame(data)

    return sdf.groupBy(*by_l).applyInPandasWithState(
        fold, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )
