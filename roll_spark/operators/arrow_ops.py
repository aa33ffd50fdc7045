"""Arrow (applyInArrow) execution of the roll_* surface — the scale
path for weighted / exponential-decay inputs, exact quantiles at large
widths, and k-regressor roll_lm.

Physical shape: one hash exchange on a series BUCKET,
``pmod(xxhash64(*by), n)`` with n = ``spark.sql.shuffle.partitions``,
then one grouped-map Arrow UDF call per bucket. Each call stable-sorts
its bucket once on (by, order), walks the series segments and runs the
vectorized numpy kernel of roll_spark.operators.kernels once per
series — the reference's per-series loop (src/roll.cpp:384) with the
Python dispatch paid per bucket, not per series. Per-row Python never
happens, and pandas is not on the path: columns cross the JVM<->Python
boundary as Arrow and leave it as Arrow built from numpy.

Memory: one call holds one bucket, about one shuffle partition of the
input, in Python memory. A skewed series (one conversation with 10^9
turns) still pins its bucket; it goes through
roll_spark.operators.chunked, which splits a series into overlap-padded
chunks that this module's kernels evaluate independently.

DATA CONTRACT (all roll_* entry points, both paths): the (by, order)
key tuple — e.g. (conv_id, turn_idx) / (user_id, ts) — must be UNIQUE
and NON-NULL per row. The wide-frame join-back rejoins kernel outputs
on exactly these keys, where a NULL order key would never match (its
outputs silently NULL) and duplicate keys would fan out; the join-back
therefore checks both on every sorted bucket and raises ValueError.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as TT
from pyspark.sql.pandas.types import to_arrow_schema

from roll_spark.config import RollSpec
from roll_spark.operators import kernels as K
from roll_spark.operators.base import Cols, _as_list

_WIDE_TYPES = (TT.StringType, TT.BinaryType)


def _same_as_prev(t: pa.Table, cols: list[str]) -> np.ndarray:
    """Row i+1 equals row i on every column of ``cols`` (length n-1) of
    a single-chunk table; NULL equals NULL, as in groupBy."""
    same = np.ones(t.num_rows - 1, dtype=bool)
    for c in cols:
        enc = pc.dictionary_encode(t.column(c), null_encoding="encode")
        k = enc.chunk(0).indices.to_numpy()
        same &= k[1:] == k[:-1]
    return same


def _as_numpy(col) -> np.ndarray:
    """Kernel input: numeric columns as float64 with NaN for NULL, other
    types (entropy's strings, timestamps) as numpy objects/NaT."""
    a = col.to_numpy()
    t = col.type
    if pa.types.is_integer(t) or pa.types.is_floating(t) or \
            pa.types.is_decimal(t) or pa.types.is_boolean(t):
        return a.astype(np.float64)
    return a


def _to_arrow(a: np.ndarray) -> pa.Array:
    """Kernel output -> Arrow. 1-D: double, NaN -> NULL. 2-D (n, k):
    array<double> rows, an all-NaN row -> NULL array, a NaN element ->
    NULL element."""
    nan = np.isnan(a)
    if a.ndim == 1:
        return pa.array(a, mask=nan)
    n, k = a.shape
    return pa.ListArray.from_arrays(
        pa.array(np.arange(0, n * k + 1, k, dtype=np.int32)),
        pa.array(a.ravel(), mask=nan.ravel()),
        mask=pa.array(nan.all(axis=1)),
    )


def _bucket_fn(by_l, order_l, in_cols, keep, out_fields, kernel, schema,
               check_keys):
    """The per-bucket UDF: sort once, run ``kernel`` per series segment,
    return ``keep`` columns + outputs as an Arrow table of ``schema``."""
    arrow_schema = to_arrow_schema(schema)
    sort_keys = [(c, "ascending") for c in by_l + order_l]

    def fn(table: pa.Table) -> pa.Table:
        t = table.take(pc.sort_indices(table, sort_keys=sort_keys)).combine_chunks()
        n = t.num_rows
        same = _same_as_prev(t, by_l)
        if check_keys:
            if any(t.column(c).null_count for c in order_l):
                raise ValueError(
                    "roll_spark data contract violated: NULL order key in "
                    f"series group (order cols {order_l}); NULL keys "
                    "never match the join-back and would silently NULL "
                    "their kernel outputs"
                )
            if (same & _same_as_prev(t, order_l)).any():
                raise ValueError(
                    "roll_spark data contract violated: duplicate "
                    f"(by, order) key in series group (order cols "
                    f"{order_l}); duplicates fan out in the join-back"
                )
        cuts = np.flatnonzero(~same) + 1
        full = {c: _as_numpy(t.column(c)) for c in in_cols}
        outs: dict[str, np.ndarray] = {}
        for s, e in zip(np.append(0, cuts), np.append(cuts, n)):
            res = kernel({c: a[s:e].copy() for c, a in full.items()})
            for name, v in res.items():
                if name not in outs:
                    outs[name] = np.empty((n,) + np.shape(v)[1:])
                outs[name][s:e] = v
        arrays = [t.column(c) for c in keep] + [_to_arrow(outs[o]) for o, _ in out_fields]
        names = keep + [o for o, _ in out_fields]
        return pa.Table.from_arrays(arrays, names=names).cast(arrow_schema)

    return fn


def _apply_kernel(
    df: DataFrame,
    in_cols: list[str],
    by: Cols,
    order: Cols,
    out_fields: list[tuple[str, str]],
    kernel,
    spec: RollSpec | None = None,
) -> DataFrame:
    """Run ``kernel(cols) -> dict[out_col, np.ndarray]`` once per series.

    ``cols`` maps each of ``in_cols`` to one series' values in order
    (see ``_as_numpy``); a 1-D output becomes a ``double`` column, an
    (n, k) output an ``array<double>`` column.

    Grouping: rows are grouped by the series bucket
    ``pmod(xxhash64(*by), spark.sql.shuffle.partitions)``, so a pass
    makes one applyInArrow call per non-empty bucket rather than one
    per series, and a call holds its whole bucket — about one shuffle
    partition, not one series — in Python memory. Inside a call the bucket is stable-sorted on
    (by, order) with ``pyarrow.compute.sort_indices`` (string keys,
    timestamps and NULLs included) and the kernel runs on a fresh
    contiguous copy of each series segment — the same input array a
    one-series-per-call executor would hand it, hence the same outputs.

    Skew auto-dispatch: when ``spec.max_group_rows`` is set, EVERY
    series is routed through the overlap-padded chunk layout
    (operators.chunked) with that bound as the chunk size — a series
    at or under the bound lands entirely in chunk 0 with zero pad rows
    (only its grouping key widens), while a 10^9-turn conversation
    becomes ceil(n / bound) segments, hashed to buckets independently,
    whose padded windows reproduce the unchunked outputs exactly. The
    cost of the guard is one extra row_number window pass + keying on
    (series, chunk) instead of (series).

    Two physical strategies:

    - PASSTHROUGH (narrow frames): every column rides through the Arrow
      batch and the UDF appends the outputs — ONE shuffle (the groupBy),
      no join. Chosen when no non-key column is a string/binary wider
      than the keys (typical derived-series frames).
    - JOIN-BACK (wide frames, e.g. raw transcripts with full text):
      only (keys, order, inputs) cross the Python boundary; results join
      back on the (by, order) key columns so megabyte text/binary
      payloads never serialize through Arrow twice. This relies on the
      engine's data contract — (series key, order key) uniquely
      identifies a row, e.g. (conv_id, turn_idx) — which every bucket
      checks on its sorted keys (a NULL order key or an adjacent equal
      (by, order) pair raises ValueError). It is deterministic under
      recomputation, unlike a synthetic monotonically_increasing_id
      (whose values are partition-layout-dependent: the two sides of the
      self-join may recompute the upstream plan with different physical
      layouts and disagree on every id).
    """
    if spec is not None and spec.max_group_rows is not None:
        from roll_spark.operators.chunked import chunk_pad, drop_pads

        padded, keys = chunk_pad(df, by, order, spec.width, spec.max_group_rows)
        return drop_pads(
            _apply_kernel(padded, in_cols, keys, order, out_fields, kernel)
        )
    by_l, order_l = _as_list(by), _as_list(order)
    key_cols = set(by_l) | set(order_l) | set(in_cols)
    wide = [
        f.name
        for f in df.schema
        if f.name not in key_cols and isinstance(f.dataType, _WIDE_TYPES)
    ]
    n_buckets = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    bucket = [F.pmod(F.xxhash64(*by_l), F.lit(n_buckets))] if by_l else []
    outs = [TT.StructField(n, TT._parse_datatype_string(t)) for n, t in out_fields]

    if not wide:
        schema = TT.StructType(list(df.schema) + outs)
        fn = _bucket_fn(by_l, order_l, in_cols, df.columns, out_fields,
                        kernel, schema, check_keys=False)
        return df.groupBy(*bucket).applyInArrow(fn, schema=schema)

    field_by_name = {f.name: f for f in df.schema}
    keys = by_l + order_l
    slim = df.select(*keys, *in_cols)
    schema = TT.StructType([field_by_name[c] for c in keys] + outs)
    fn = _bucket_fn(by_l, order_l, in_cols, keys, out_fields, kernel, schema,
                    check_keys=True)
    res = slim.groupBy(*bucket).applyInArrow(fn, schema=schema)
    return df.join(res, on=keys, how="left")


def _series_kernel_1(value: str, spec: RollSpec, fn, out: str, **kw):
    weights = None if spec.weights is None else np.asarray(spec.weights)

    def kernel(cols):
        arr = fn(
            cols[value],
            spec.width,
            weights=weights,
            min_obs=spec.effective_min_obs,
            na_restore=spec.na_restore,
            **kw,
        )
        return {out: arr}

    return kernel


def _series_kernel_2(x_col: str, y_col: str, spec: RollSpec, fn, out: str, **kw):
    weights = None if spec.weights is None else np.asarray(spec.weights)

    def kernel(cols):
        arr = fn(
            cols[x_col], cols[y_col],
            spec.width,
            weights=weights,
            min_obs=spec.effective_min_obs,
            na_restore=spec.na_restore,
            **kw,
        )
        return {out: arr}

    return kernel


def _one(df, value, by, order, spec, fn, out, **kw):
    return _apply_kernel(
        df, [value], by, order, [(out, "double")],
        _series_kernel_1(value, spec, fn, out, **kw), spec=spec,
    )


def _two(df, x, y, by, order, spec, fn, out, **kw):
    return _apply_kernel(
        df, [x, y], by, order, [(out, "double")],
        _series_kernel_2(x, y, spec, fn, out, **kw), spec=spec,
    )


def roll_sum(df, value, by, order, spec: RollSpec, *, out="roll_sum"):
    return _one(df, value, by, order, spec, K.conv_sum, out)


def roll_mean(df, value, by, order, spec: RollSpec, *, out="roll_mean"):
    return _one(df, value, by, order, spec, K.conv_mean, out)


def roll_prod(df, value, by, order, spec: RollSpec, *, out="roll_prod"):
    return _one(df, value, by, order, spec, K.conv_prod, out)


def roll_var(df, value, by, order, spec: RollSpec, *, out="roll_var"):
    return _one(df, value, by, order, spec, K.conv_var, out, center=spec.center)


def roll_sd(df, value, by, order, spec: RollSpec, *, out="roll_sd"):
    return _one(df, value, by, order, spec, K.conv_sd, out, center=spec.center)


def roll_quantile(df, value, by, order, spec: RollSpec, *, out="roll_quantile"):
    return _one(df, value, by, order, spec, K.conv_quantile, out, p=spec.p)


def roll_quantiles(df, value, by, order, spec: RollSpec, ps, outs):
    """Fused multi-p quantile: ONE grouped-map pass, one shared
    sort/partition per window block (K.conv_quantiles), one output
    column per probability."""
    weights = None if spec.weights is None else np.asarray(spec.weights)
    ps = list(ps)

    def kernel(cols):
        arr = K.conv_quantiles(
            cols[value], spec.width, ps, weights=weights,
            min_obs=spec.effective_min_obs, na_restore=spec.na_restore,
        )
        return {o: arr[:, j] for j, o in enumerate(outs)}

    return _apply_kernel(
        df, [value], by, order, [(o, "double") for o in outs], kernel, spec=spec
    )


def roll_scale(df, value, by, order, spec: RollSpec, *, out="roll_scale"):
    return _one(df, value, by, order, spec, K.conv_scale, out,
                center=spec.center, scale=spec.scale)


def roll_cov(df, x, by, order, spec: RollSpec, *, y, out="roll_cov"):
    return _two(df, x, y, by, order, spec, K.conv_cov, out, center=spec.center)


def roll_cor(df, x, by, order, spec: RollSpec, *, y, out="roll_cor"):
    return _two(df, x, y, by, order, spec, K.conv_cor, out)


def roll_crossprod(df, x, by, order, spec: RollSpec, *, y, out="roll_crossprod"):
    return _two(df, x, y, by, order, spec, K.conv_crossprod, out)


def roll_lm(df, x, y, by, order, spec: RollSpec, *, intercept=True, out_prefix="lm_"):
    """Weighted single-regressor lm via the k-kernel (k=1)."""
    return roll_lm_k(df, [x], y, by, order, spec, intercept=intercept,
                     out_prefix=out_prefix, flat=True)


def roll_lm_k(
    df: DataFrame,
    x_cols: Sequence[str],
    y: str,
    by: Cols,
    order: Cols,
    spec: RollSpec,
    *,
    intercept: bool = True,
    out_prefix: str = "lm_",
    flat: bool = False,
) -> DataFrame:
    """k-regressor rolling OLS: rolling XtX/Xty + batched np.linalg.solve
    (the reference's two-phase roll_lm, src/roll.cpp:2069-2117).

    Output: ``{p}coef array<double>, {p}intercept, {p}r2, {p}se
    array<double>, {p}se_intercept`` — or flat scalar columns matching
    the native path when ``flat=True`` (k must be 1).
    """
    weights = None if spec.weights is None else np.asarray(spec.weights)
    x_cols = list(x_cols)
    p = out_prefix

    fields = [
        (p + "coef", "array<double>"),
        (p + "r2", "double"),
        (p + "se", "array<double>"),
    ]
    if intercept:
        fields += [(p + "intercept", "double"), (p + "se_intercept", "double")]

    def kernel(cols):
        X = np.column_stack([cols[c] for c in x_cols])
        res = K.conv_lm_k(
            X, cols[y], spec.width, weights=weights,
            min_obs=spec.effective_min_obs, intercept=intercept,
        )
        out = {
            p + "coef": res["coef"],
            p + "r2": res["r2"],
            p + "se": res["se"],
        }
        if intercept:
            out[p + "intercept"] = res["intercept"]
            out[p + "se_intercept"] = res["se_intercept"]
        return out

    res = _apply_kernel(df, x_cols + [y], by, order, fields, kernel, spec=spec)
    if flat:
        if len(x_cols) != 1:
            raise ValueError("flat=True requires exactly one regressor")
        res = (
            res.withColumn(p + "coef_x", F.col(p + "coef")[0])
            .withColumn(p + "se_x", F.col(p + "se")[0])
            .drop(p + "coef", p + "se")
        )
    return res


def roll_lm_multi(
    df: DataFrame,
    x_cols: Sequence[str],
    y_cols: Sequence[str],
    by: Cols,
    order: Cols,
    spec: RollSpec,
    *,
    intercept: bool = True,
    out_prefix: str = "lm_",
) -> DataFrame:
    """Multi-response rolling OLS: one INDEPENDENT fit per y column,
    the reference's z-matrix loop (src/roll.cpp:2280-2325 runs roll_lm
    once per y column and returns a list).

    Each fit applies its own complete-obs mask over (x_cols, that y) —
    exactly what the reference's per-column loop does — but all fits for
    a series run inside ONE grouped-map UDF call, so the Arrow exchange
    and the window materialization cost is paid once, not len(y_cols)
    times. Output columns: ``{prefix}{y}_coef array<double>,
    {prefix}{y}_r2, {prefix}{y}_se array<double>`` (+ ``_intercept``,
    ``_se_intercept`` when intercept=True) per y column.
    """
    weights = None if spec.weights is None else np.asarray(spec.weights)
    x_cols = list(x_cols)
    y_cols = list(y_cols)
    p = out_prefix

    fields = []
    for yc in y_cols:
        fields += [
            (f"{p}{yc}_coef", "array<double>"),
            (f"{p}{yc}_r2", "double"),
            (f"{p}{yc}_se", "array<double>"),
        ]
        if intercept:
            fields += [
                (f"{p}{yc}_intercept", "double"),
                (f"{p}{yc}_se_intercept", "double"),
            ]

    def kernel(cols):
        X = np.column_stack([cols[c] for c in x_cols])
        out = {}
        for yc in y_cols:
            res = K.conv_lm_k(
                X, cols[yc], spec.width, weights=weights,
                min_obs=spec.effective_min_obs, intercept=intercept,
            )
            out[f"{p}{yc}_coef"] = res["coef"]
            out[f"{p}{yc}_r2"] = res["r2"]
            out[f"{p}{yc}_se"] = res["se"]
            if intercept:
                out[f"{p}{yc}_intercept"] = res["intercept"]
                out[f"{p}{yc}_se_intercept"] = res["se_intercept"]
        return out

    return _apply_kernel(df, x_cols + y_cols, by, order, fields, kernel, spec=spec)


def roll_cov_xy_matrix(
    df: DataFrame,
    x_cols: Sequence[str],
    y_cols: Sequence[str],
    by: Cols,
    order: Cols,
    spec: RollSpec,
    *,
    complete_obs: bool = True,
    out: str = "roll_cov_xy",
) -> DataFrame:
    """Rolling k_x x k_y CROSS-covariance cube for an (x, y) matrix pair,
    flattened row-major into ``array<double>`` of length k_x*k_y — the
    reference's non-symmetric cube when roll_cov gets two matrices
    (src/roll.cpp:1661-1679, roll_mat.h:3659). complete_obs=True masks
    rows missing ANY column of either matrix; False computes each cross
    pair over its own pairwise-complete windows."""
    weights = None if spec.weights is None else np.asarray(spec.weights)
    x_cols = list(x_cols)
    y_cols = list(y_cols)

    def kernel(cols):
        X = np.column_stack([cols[c] for c in x_cols])
        Y = np.column_stack([cols[c] for c in y_cols])
        cube = K.conv_cov_xy_matrix(
            X, Y, spec.width, weights=weights, min_obs=spec.effective_min_obs,
            center=spec.center, complete_obs=complete_obs,
        ).reshape(len(X), -1)
        return {out: cube}

    return _apply_kernel(df, x_cols + y_cols, by, order, [(out, "array<double>")], kernel, spec=spec)


def roll_cov_matrix(
    df: DataFrame,
    x_cols: Sequence[str],
    by: Cols,
    order: Cols,
    spec: RollSpec,
    *,
    scale: bool = False,
    complete_obs: bool = True,
    out: str = "roll_cov_matrix",
) -> DataFrame:
    """Rolling k x k covariance/correlation matrix per row, flattened
    row-major into ``array<double>`` of length k*k (the reference's cube
    slice per timestamp, inst/include/roll_attr.h:56-70). scale=True
    gives the correlation matrix (reference roll_cor on matrix input).

    ``complete_obs`` is an explicit keyword (not read off the spec)
    because its reference default differs by op: TRUE for matrix
    cov/cor (R/roll.R:712), FALSE elsewhere. complete_obs=False gives
    per-pair pairwise-complete windows (src/roll.cpp:103-155 masks)."""
    weights = None if spec.weights is None else np.asarray(spec.weights)
    x_cols = list(x_cols)

    def kernel(cols):
        X = np.column_stack([cols[c] for c in x_cols])
        cube = K.conv_cov_matrix(
            X, spec.width, weights=weights, min_obs=spec.effective_min_obs,
            center=spec.center, scale=scale, complete_obs=complete_obs,
        ).reshape(len(X), -1)
        return {out: cube}

    return _apply_kernel(df, x_cols, by, order, [(out, "array<double>")], kernel, spec=spec)


def roll_mad(df, value, by, order, width, *, min_obs=None, na_restore=False,
             max_group_rows=None, out="roll_mad"):
    """Rolling median absolute deviation (robust dispersion for
    heavy-tailed transcript series — latency spikes, token bursts).
    Arrow-only: the inner median-of-deviations re-centers per window, so
    there is no single-Window Catalyst form; the kernel is the same
    strided-block shape as conv_quantile (kernels.conv_mad)."""
    spec = RollSpec(width=width, min_obs=min_obs, na_restore=na_restore,
                    max_group_rows=max_group_rows)

    def kernel(cols):
        return {out: K.conv_mad(cols[value], width, min_obs=spec.effective_min_obs,
                                na_restore=na_restore)}

    return _apply_kernel(df, [value], by, order, [(out, "double")], kernel, spec=spec)
