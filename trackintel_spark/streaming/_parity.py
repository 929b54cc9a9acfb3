"""Shared batch-parity shim for the stateful streaming kernels.

Every stateful operator in this package (staypoints, triplegs, trips,
tours, locations, near-dup) is written as ONE ``(key, batches, state)``
kernel and exposed through a unified API that accepts a streaming OR a
batch DataFrame. The streaming path is ``applyInPandasWithState``; the
batch path drives the SAME kernel through ``applyInPandas`` with a
trivial never-existing state (batch mode sees each group exactly once,
so state carry-over is vacuous). Routing both through this helper keeps
the batch == stream guarantee a property of ONE code path instead of
six hand-copied shims.
"""

from __future__ import annotations

from typing import Any, Callable, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupStateTimeout


class _InnerState:
    """``GroupState`` stand-in for a state the runtime does not hold:
    reads come from ``vals`` (``None``: the state does not exist),
    writes are captured in ``updated``/``removed`` for the caller to
    use. The batch path hands the kernel ``_InnerState(None)`` (each
    group is seen once, so there is nothing to carry);
    :func:`~trackintel_spark.streaming.reorder.apply_with_reorder`
    hands it the kernel's slice of its combined state."""

    hasTimedOut = False

    def __init__(self, vals: tuple | None):
        self._vals = vals
        self.exists = vals is not None
        self.updated: tuple | None = None
        self.removed = False

    @property
    def get(self) -> tuple:
        if self._vals is None:
            raise ValueError("state does not exist")
        return self._vals

    def update(self, v) -> None:
        self.updated = tuple(v)
        self.removed = False

    def remove(self) -> None:
        self.removed = True
        self.updated = None

    def setTimeoutDuration(self, ms) -> None:
        # no runtime holds this state, so a timeout is vacuous
        pass


def apply_with_batch_parity(
    df: DataFrame,
    key_cols: tuple[str, ...],
    fn: Callable[[Tuple[Any, ...], Iterator[pd.DataFrame], Any], Iterator[pd.DataFrame]],
    out_schema: T.StructType,
    state_schema: T.StructType,
    timeout: str = GroupStateTimeout.NoTimeout,
) -> DataFrame:
    """Run a stateful kernel on ``df`` grouped by ``key_cols`` —
    ``applyInPandasWithState`` (append mode) when ``df`` is streaming,
    the same kernel via ``applyInPandas`` + ``_InnerState(None)`` when it
    is a batch frame. All current keys are integral columns; the batch
    key is coerced to python ints to match the streaming runtime's key
    tuples. Kernels that opt into a ``timeout`` other than ``NoTimeout``
    must handle ``state.hasTimedOut`` themselves (batch mode never times
    out)."""
    grouped = df.groupBy(*key_cols)
    if df.isStreaming:
        return grouped.applyInPandasWithState(
            fn, out_schema, state_schema, "append", timeout
        )

    def batch_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        key = tuple(int(pdf[c].iloc[0]) for c in key_cols)
        frames = list(fn(key, iter([pdf]), _InnerState(None)))
        return (
            pd.concat(frames, ignore_index=True)
            if frames
            else pd.DataFrame(
                {f.name: pd.Series(dtype="object") for f in out_schema.fields}
            )
        )

    return grouped.applyInPandas(batch_fn, schema=out_schema)
