"""The one runner for per-row Arrow lanes.

A lane is a per-row function plus an output schema. ``map_lane`` runs it
as one ``mapInPandas`` over the input frame; ``apply_rows`` is the batch
body — it owns the loop over rows, the passthrough columns and the
output frame build, so no lane hand-rolls them.

Fail-soft: in a lane whose output has a ``status`` column, a row whose
function raises an ``Exception`` gets the lane's empty-input row (the
row function called with every input ``None``) with its key restored
(the first input goes to the first output column, ``url`` in every
such lane) and ``status='error'``; the rest of the batch is unaffected.
Lanes without ``status`` let the exception fail the task.
"""

from __future__ import annotations

from typing import Callable, List, Sequence, Tuple

import pandas as pd
from pyspark.sql import DataFrame, types as T

RowFn = Callable[..., Sequence[tuple]]


def apply_rows(
    pdf: pd.DataFrame,
    row_fn: RowFn,
    cols: Sequence[str],
    inputs: Sequence[str],
    passthrough: Tuple[str, ...] = (),
) -> pd.DataFrame:
    """One pandas batch → output frame. ``row_fn(*input_values)`` returns
    a sequence of 0..N output tuples (ordered like ``cols``) for each
    input row; every output row repeats its input row's ``passthrough``
    values."""
    status = cols.index("status") if "status" in cols else None
    out: List[list] = [[] for _ in cols]
    take: List[int] = []
    for i, vals in enumerate(zip(*(pdf[c].tolist() for c in inputs))):
        try:
            rows = row_fn(*vals)
        except Exception:
            if status is None:
                raise
            (err,) = row_fn(*[None] * len(vals))
            rows = ((vals[0], *err[1:status], "error", *err[status + 1 :]),)
        # appended field by field: holding whole row tuples until a
        # transpose keeps one more live container per row and makes the
        # cyclic GC markedly slower on large batches
        for r in rows:
            for col, v in zip(out, r):
                col.append(v)
            take.append(i)
    res = pd.DataFrame(dict(zip(cols, out)))
    for c in passthrough:
        res[c] = pdf[c].values.take(take)
    return res


def map_lane(
    df: DataFrame,
    row_fn: RowFn,
    schema: T.StructType,
    inputs: Sequence[str],
    passthrough: Tuple[str, ...] = (),
) -> DataFrame:
    """``df.mapInPandas`` over ``apply_rows``: output is ``schema`` plus
    the ``passthrough`` columns of ``df``, typed as in ``df``."""
    cols = schema.fieldNames()
    out = T.StructType(list(schema) + [df.schema[c] for c in passthrough])

    def fn(batches):
        for pdf in batches:
            yield apply_rows(pdf, row_fn, cols, inputs, passthrough)

    return df.mapInPandas(fn, schema=out)
