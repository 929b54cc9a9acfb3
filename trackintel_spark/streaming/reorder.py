"""Bounded-disorder tolerance for the stateful streaming chain.

Real GPS streams deliver per-user out-of-order events routinely, but
the exact streaming kernels in this package require per-user event-time
order across micro-batches (each batch is sorted internally): the scan
state is a frontier, and folding an older event into it would corrupt
it — which is why ``tours_stream_exact`` raises on disorder and the
positionfix kernels drop fixes behind their retained floor.

``apply_with_reorder`` adds the standard streaming remedy as an OPT-IN
wrapper around any ``(key, batches, state)`` kernel: a per-user
hold-and-sort buffer. Rows are held in state until the per-user
event-time high-water mark has advanced ``max_disorder_s`` past them,
then released into the exact kernel in sorted order. The release
frontier (``max_seen - max_disorder_s``) is monotone, so the kernel
still sees an ordered stream; an arrival OLDER than the already-
released frontier exceeded the declared disorder bound and raises
(``late='raise'``, the default) or is counted and dropped
(``late='drop'``, the watermark convention of the positionfix kernels).

Semantics and trade-offs:

* With ``max_disorder_s = D``, any input whose per-user disorder is
  bounded by D (every event arrives before the user's clock advances
  more than D past its event time) produces EXACTLY the in-order
  results — stream ≡ batch still holds (pinned by
  tests/test_streaming_reorder.py under random within-bound shuffles).
* Emission latency increases by up to D: an event is not processed
  until the high-water mark passes it. Events within D of the user's
  latest event wait in the buffer — on a finite test stream the tail
  stays pending until a later event (or the batch path, which has the
  whole history) flushes it.
* State grows by the buffered rows: bounded by the user's event rate ×
  D, the classic disorder/state trade-off.

The buffered rows ride in the state tuple as a pickled pandas frame
(an opaque ``BinaryType`` column next to the kernel's own fields).
Pickles are process-local by design here — a checkpoint written by one
pandas version is NOT guaranteed readable by another, so treat a
pandas upgrade like a state-schema change (fresh checkpoint dir, the
standard Structured Streaming evolution procedure; see the note on
``tours_state._STATE_SCHEMA``).

The reference is batch-only (it sorts the full history up front —
reference trackintel preprocessing/positionfixes.py:243), so this is
an extension surface, not a parity one.
"""

from __future__ import annotations

import pickle
from typing import Any, Callable, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupStateTimeout

from trackintel_spark.streaming._parity import _InnerState, apply_with_batch_parity

# sentinel "no frontier yet" — below any real epoch-µs
_NEG = -(1 << 62)


def apply_with_reorder(
    df: DataFrame,
    key_cols: tuple[str, ...],
    fn: Callable[[Tuple[Any, ...], Iterator[pd.DataFrame], Any], Iterator[pd.DataFrame]],
    out_schema: T.StructType,
    state_schema: T.StructType,
    time_col: str,
    max_disorder_s: float = 0.0,
    late: str = "raise",
) -> DataFrame:
    """Route a stateful kernel through the hold-and-sort buffer when
    ``max_disorder_s > 0`` and ``df`` is streaming; otherwise defer to
    :func:`apply_with_batch_parity` unchanged (a batch frame carries
    the full history per group, so the kernels' own internal sort makes
    the buffer vacuous — batch results are identical either way)."""
    if late not in ("raise", "drop"):
        raise ValueError(f"late must be 'raise' or 'drop', got {late!r}")
    if max_disorder_s < 0:
        raise ValueError(f"max_disorder_s must be >= 0, got {max_disorder_s}")
    if max_disorder_s == 0 or not df.isStreaming:
        return apply_with_batch_parity(df, key_cols, fn, out_schema, state_schema)

    n_inner = len(state_schema.fields)
    disorder_us = int(max_disorder_s * 1_000_000)
    combined = T.StructType(
        state_schema.fields
        + [
            T.StructField("__rb_buf", T.BinaryType()),
            T.StructField("__rb_frontier_us", T.LongType()),
            T.StructField("__rb_inner_exists", T.BooleanType()),
        ]
    )

    def wrapped(
        key: Tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            vals = state.get
            inner_vals = tuple(vals[:n_inner]) if vals[n_inner + 2] else None
            buf = pickle.loads(vals[n_inner]) if vals[n_inner] is not None else None
            frontier_us = vals[n_inner + 1]
        else:
            inner_vals, buf, frontier_us = None, None, _NEG

        frames = [pdf for pdf in batches if len(pdf)]
        new = pd.concat(frames, ignore_index=True) if frames else None

        if new is not None:
            ts_new = new[time_col].to_numpy(dtype="datetime64[ns]").astype("int64") // 1000
            if frontier_us > _NEG:
                late_mask = ts_new < frontier_us
                if late_mask.any():
                    if late == "raise":
                        worst = int(ts_new[late_mask].min())
                        raise ValueError(
                            f"bounded-disorder violation for key {key}: event at "
                            f"{worst} µs arrived after the release frontier "
                            f"{frontier_us} µs (= per-user max event time minus "
                            f"max_disorder); raise max_disorder or use "
                            f"late='drop'"
                        )
                    new = new[~late_mask]
                    ts_new = ts_new[~late_mask]
            if len(new):
                frontier_us = max(frontier_us, int(ts_new.max()) - disorder_us)

        parts = [p for p in (buf, new) if p is not None and len(p)]
        pending = pd.concat(parts, ignore_index=True) if parts else None

        released = None
        if pending is not None:
            ts_all = (
                pending[time_col].to_numpy(dtype="datetime64[ns]").astype("int64") // 1000
            )
            mask = ts_all <= frontier_us
            if mask.any():
                released = pending[mask].sort_values(time_col, kind="stable").reset_index(
                    drop=True
                )
            pending = pending[~mask].reset_index(drop=True)
            if not len(pending):
                pending = None

        proxy = _InnerState(inner_vals)
        if released is not None or inner_vals is not None:
            if released is None:
                # nothing newly released; leave the kernel state untouched
                proxy.updated = inner_vals
            else:
                for frame in fn(key, iter([released]), proxy):
                    yield frame

        inner_out = proxy.updated
        if inner_out is None and pending is None:
            if state.exists:
                state.remove()
            return
        blank = (None,) * n_inner
        state.update(
            (
                *(inner_out if inner_out is not None else blank),
                pickle.dumps(pending) if pending is not None else None,
                int(frontier_us),
                inner_out is not None,
            )
        )

    grouped = df.groupBy(*key_cols)
    return grouped.applyInPandasWithState(
        wrapped, out_schema, combined, "append", GroupStateTimeout.NoTimeout
    )
