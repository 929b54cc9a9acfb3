"""Dataset assembly utilities: deterministic splits and sequence packing.

The last mile of a training-data pipeline after dedup/filtering:

* ``split_by_hash`` — stable train/val/test assignment from a key hash.
  Unlike ``randomSplit`` it is reproducible across runs, clusters, and
  data re-orderings, and keeps all rows of a key together when the key
  is a group id (e.g. domain or document cluster).
* ``pack_sequences`` — greedy first-fit packing of documents into
  fixed-token-budget bins, the standard pretraining sequence-packing
  step. Packing runs independently per partition (embarrassingly
  parallel, no shuffle beyond an optional repartition); bin ids embed
  the partition id so they are globally unique without coordination.
  Per-partition greedy is the scalable approximation — a global
  first-fit-decreasing would serialize 100 TB through one node for a
  ~1% packing-density win.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_BUCKETS = 1_000_000


def split_by_hash(
    df: DataFrame,
    key_col: str | Column,
    fractions: dict[str, float],
    salt: str = "",
    split_col: str = "split",
) -> DataFrame:
    """Assign each row a split label with probability proportional to
    ``fractions`` (must sum to ~1), deterministically from
    ``xxhash64(key, salt)``. Changing ``salt`` re-deals the assignment."""
    total = sum(fractions.values())
    if not 0.999 <= total <= 1.001:
        raise ValueError(f"fractions must sum to 1, got {total}")
    key = F.col(key_col) if isinstance(key_col, str) else key_col
    bucket = F.pmod(F.xxhash64(key.cast("string"), F.lit(salt)), F.lit(_BUCKETS))
    expr = None
    acc = 0.0
    for name, frac in fractions.items():
        acc += frac
        cond = bucket < int(round(acc * _BUCKETS))
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    # float-rounding tail falls into the last split
    last = list(fractions)[-1]
    return df.withColumn(split_col, expr.otherwise(F.lit(last)))


def shuffle_deterministic(
    df: DataFrame,
    key_col: str | Column,
    salt: str = "",
    hash_fn: str = "xxhash64",
    out_col: str = "shuffle_pos",
) -> DataFrame:
    """Assign each row its position in a reproducible global training
    order: ``out_col`` = 0-based rank of ``xxhash64(key, salt)`` (or
    the engine-portable md5-prefix hash with ``hash_fn='md5'``), ties
    broken by the key string.

    The standard pretraining shuffle, but deterministic — unchanged
    across runs, clusters, partition counts and input orderings, and
    re-dealt by changing ``salt``. Write the result partitioned/sorted
    by ``out_col`` and a training reader streams the epoch order
    directly.

    Scale shape: the rank comes from the range-partitioned exclusive
    prefix count (plans/ids.py) — one range exchange + per-partition
    window + a broadcast of the p-row partition bases, never a
    single-task global window.
    """
    if hash_fn not in ("xxhash64", "md5"):
        raise ValueError(f"hash_fn must be xxhash64/md5, got {hash_fn!r}")
    from trackintel_spark.plans.ids import exclusive_prefix_sum

    key = F.col(key_col) if isinstance(key_col, str) else key_col
    ks = key.cast("string")
    if hash_fn == "md5":
        h = F.conv(F.substring(F.md5(F.concat(ks, F.lit(salt))), 1, 15), 16, 10).cast("long")
    else:
        h = F.xxhash64(ks, F.lit(salt))
    # one string order key: zero-padded hash then the key as tie-break,
    # so equal keys (duplicate rows) still order deterministically
    order = F.concat(F.lpad(F.conv(h.cast("string"), 10, 16), 16, "0"), F.lit("|"), ks)
    d = df.withColumn("__shuffle_k", order).withColumn("__one", F.lit(1))
    out = exclusive_prefix_sum(d, "__shuffle_k", "__one", out_col=out_col)
    return out.drop("__shuffle_k", "__one")


def pack_sequences(
    df: DataFrame,
    token_col: str = "n_tokens",
    max_tokens: int = 4096,
    id_col: str = "doc_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """Greedy first-fit bin packing per partition; returns
    (id, n_tokens, pack_id, pack_pos).

    Documents larger than ``max_tokens`` get a bin of their own (the
    caller decides whether to chunk them upstream). ``pack_pos`` is the
    document's position inside its bin, so downstream concatenation is
    order-stable.
    """
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("n_tokens", T.LongType()),
            T.StructField("pack_id", T.LongType()),
            T.StructField("pack_pos", T.IntegerType()),
        ]
    )

    base = df.select(F.col(id_col).alias("id"), F.col(token_col).cast("long").alias("n_tokens"))
    if num_partitions:
        base = base.repartition(num_partitions, "id")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        # open bins: list of [remaining, pack_idx, next_pos]
        bins: list[list[int]] = []
        n_packs = 0
        for pdf in batches:
            # largest-first within the batch improves density (FFD-ish)
            pdf = pdf.sort_values("n_tokens", ascending=False, kind="stable")
            out_pack, out_pos = [], []
            for tok in pdf["n_tokens"]:
                placed = False
                for b in bins:
                    if b[0] >= tok:
                        out_pack.append(b[1])
                        out_pos.append(b[2])
                        b[0] -= tok
                        b[2] += 1
                        placed = True
                        break
                if not placed:
                    bins.append([max(0, max_tokens - tok), n_packs, 1])
                    out_pack.append(n_packs)
                    out_pos.append(0)
                    n_packs += 1
                if len(bins) > 256:  # bound open-bin scan cost
                    bins = [b for b in bins if b[0] > 0][-128:]
            yield pd.DataFrame(
                {
                    "id": pdf["id"].values,
                    "n_tokens": pdf["n_tokens"].values,
                    # partition-prefixed ids: unique without coordination
                    "pack_id": [pid * (1 << 40) + p for p in out_pack],
                    "pack_pos": pd.Series(out_pos, dtype="int32").values,
                }
            )

    return base.mapInPandas(kernel, schema=schema)


def sample_by_weight(
    df: DataFrame,
    key_col: str | Column,
    weight: Column | float,
    salt: str = "",
    replicate: bool = False,
) -> DataFrame:
    """Deterministic per-row sampling with row-dependent expected copy
    count — the quality-weighted downsampling / temperature-resampling
    step of data-mixing pipelines.

    Default (``replicate=False``): Bernoulli — a row survives iff
    ``uniform(xxhash64(key, salt)) < weight`` for ``weight`` in [0, 1]
    (e.g. a quality score, or ``pow(score, 1/T)`` for temperature T);
    weights >= 1 always keep, <= 0 always drop.

    ``replicate=True`` also UPSAMPLES: a row yields
    ``floor(weight) + Bernoulli(frac(weight))`` copies (``__copy``
    numbers them), so weight 2.3 means 2 or 3 copies with expectation
    2.3 — the oversampling half of epoch-mixing recipes. Implemented
    as one ``explode(sequence(...))``, still map-side.

    Purely map-side either way, no shuffle; reproducible across runs
    and partitionings (unlike ``df.sample``); re-deal with a different
    ``salt``.
    """
    key = F.col(key_col) if isinstance(key_col, str) else key_col
    w = F.lit(float(weight)) if isinstance(weight, (int, float)) else weight
    u = (
        F.pmod(F.xxhash64(key.cast("string"), F.lit(salt)), F.lit(_BUCKETS)).cast("double")
        / _BUCKETS
    )
    if not replicate:
        return df.filter(u < w)
    n_copies = (F.floor(w) + F.when(u < w - F.floor(w), 1).otherwise(0)).cast("int")
    return (
        df.withColumn("__n", F.greatest(n_copies, F.lit(0)))
        .filter(F.col("__n") > 0)
        .withColumn("__copy", F.explode(F.sequence(F.lit(1), F.col("__n"))))
        .drop("__n")
    )


def chunk_documents(
    df: DataFrame,
    max_tokens: int = 512,
    overlap: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into token-budget chunks with optional overlap —
    the "chunk long documents upstream" step :func:`pack_sequences`
    defers to its caller (and the unit RAG/embedding pipelines index).

    Each chunk holds ``max_tokens`` whitespace tokens; consecutive
    chunks share ``overlap`` tokens (stride = max_tokens - overlap).
    Whitespace-token boundaries only — this pairs with the engine's
    whitespace ``token_count``; re-chunk downstream if a real BPE
    tokenizer's budget must be exact.

    Returns one row per chunk: all input columns with ``text_col``
    replaced by the chunk text, plus ``chunk_id`` (0-based, in order),
    ``n_chunks`` and ``chunk_n_tokens``. Documents with no tokens yield
    one empty chunk (row preserved). Pure expressions — a ``sequence``
    of chunk starts, ``slice`` + ``array_join`` per chunk, one
    ``posexplode`` — no shuffle at all.
    """
    if max_tokens <= 0:
        raise ValueError("max_tokens must be positive")
    if not 0 <= overlap < max_tokens:
        raise ValueError("overlap must satisfy 0 <= overlap < max_tokens")
    stride = max_tokens - overlap
    # split but KEEP original whitespace semantics for reconstruction:
    # chunks rejoin with single spaces (normalizing intra-chunk runs)
    toks = F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != "")
    n_ = F.size(toks)
    # chunk starts: 0, stride, 2*stride, ... while start < n (at least
    # one chunk even when empty); last chunk may be short
    last_start = F.greatest(
        (F.ceil((n_ - F.lit(max_tokens)).cast("double") / stride)).cast("long") * stride,
        F.lit(0),
    )
    starts = F.sequence(F.lit(0).cast("long"), last_start, F.lit(stride).cast("long"))
    chunks = F.transform(
        starts, lambda s: F.array_join(F.slice(toks, s + 1, max_tokens), " ")
    )
    ex = df.withColumn("__toks_n", n_).select(
        "*", F.posexplode(chunks).alias("chunk_id", "__chunk")
    )
    n_chunks = F.greatest(
        F.ceil(
            F.greatest(F.col("__toks_n") - F.lit(overlap), F.lit(1)).cast("double") / stride
        ).cast("int"),
        F.lit(1),
    )
    return (
        ex.withColumn(text_col, F.col("__chunk"))
        .withColumn("n_chunks", n_chunks)
        .withColumn(
            "chunk_n_tokens",
            F.size(F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != "")),
        )
        .drop("__chunk", "__toks_n")
    )


def mix_corpora(
    corpora: dict[str, tuple[DataFrame, float]],
    id_col: str = "doc_id",
    salt: str = "",
    source_col: str = "mix_source",
) -> DataFrame:
    """Deterministic dataset mixing: union several corpora, each
    independently down/up-sampled by its weight (expected-copies
    semantics of :func:`sample_by_weight`, so weight 0.3 keeps ~30%
    and weight 2.5 yields ~2.5 copies) — the epoch-mixture step of
    training-data recipes, reproducible across runs and partitionings.

    All frames must share a schema (missing columns NULL via
    ``unionByName(allowMissingColumns=True)``); rows are tagged with
    ``source_col``. Weights are exact in expectation, not row-exact —
    use :func:`trackintel_spark.scale.mixing.dsir_select` for exact-k
    selection.
    """
    if not corpora:
        raise ValueError("no corpora given")
    parts = []
    for name, (df, w) in corpora.items():
        sampled = sample_by_weight(
            df, id_col, float(w), salt=f"{salt}|{name}", replicate=True
        )
        parts.append(sampled.withColumn(source_col, F.lit(name)))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    return out
