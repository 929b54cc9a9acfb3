"""get_spark's two shuffle partition counts.

Streaming runs with AQE off and reads ``spark.sql.shuffle.partitions``
raw, so that conf (the session's core count) sizes the tasks and state
partitions of stateful streaming stages. Under AQE every batch exchange
plans from ``spark.sql.adaptive.coalescePartitions.initialPartitionNum``
instead. These tests change both confs on the shared session only
inside ``try/finally``.
"""

from __future__ import annotations

import json
import os
import re
import time
from contextlib import contextmanager

from pyspark.sql import functions as F

from test_streaming_trips import PARAMS, _mk_rows, _norm, _pfs_df
from trackintel_spark.session import get_spark
from trackintel_spark.streaming import trips_stream_exact

SHUFFLE = "spark.sql.shuffle.partitions"
INITIAL = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
SCHEMA = "id long, user_id long, tracked_at timestamp, lon double, lat double"


@contextmanager
def _partition_confs(spark):
    """Restore both partition confs of the shared session on exit."""
    saved = {k: spark.conf.get(k, None) for k in (SHUFFLE, INITIAL)}
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _add_files(spark, src, chunks, start_idx=0):
    os.makedirs(src, exist_ok=True)
    for i, chunk in enumerate(chunks, start=start_idx):
        d = os.path.join(src, f"f{i}")
        _pfs_df(spark, chunk).coalesce(1).write.parquet(d)
        now = time.time() + i  # file-source order follows modification time
        for f in os.listdir(d):
            os.utime(os.path.join(d, f), (now, now))


def _run_trips(spark, src, out, ckpt):
    """One availableNow pass of the trips stream into a parquet sink,
    restarting from ``ckpt`` if it exists. Returns the sink's trips."""
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    q = (
        trips_stream_exact(stream, **PARAMS)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    q.stop()
    return _norm(spark.read.parquet(out).collect())


def _state_partitions(ckpt):
    """State partitions the stateful operator wrote to ``ckpt``."""
    return sorted(int(p) for p in os.listdir(os.path.join(ckpt, "state", "0")) if p.isdigit())


def _logged_shuffle_partitions(ckpt):
    """``spark.sql.shuffle.partitions`` as the latest offset log entry records it."""
    offsets = os.path.join(ckpt, "offsets")
    last = max((f for f in os.listdir(offsets) if f.isdigit()), key=int)
    with open(os.path.join(offsets, last)) as fh:
        return json.loads(fh.read().splitlines()[1])["conf"][SHUFFLE]


def test_batch_exchange_and_stream_state_read_their_own_conf(spark, tmp_path):
    rows = _mk_rows(n_users=2, cycles=4)
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    _add_files(spark, src, [rows])
    with _partition_confs(spark):
        spark.conf.set(SHUFFLE, "3")
        spark.conf.set(INITIAL, "5")
        counts = spark.range(100).select((F.col("id") % 7).alias("k")).groupBy("k").count()
        plan = counts._jdf.queryExecution().executedPlan().toString()
        assert set(re.findall(r"hashpartitioning\(k#\d+L?, (\d+)\)", plan)) == {"5"}, plan
        assert counts.count() == 7

        _run_trips(spark, src, str(tmp_path / "out"), ckpt)
        assert _state_partitions(ckpt) == [0, 1, 2]
        assert _logged_shuffle_partitions(ckpt) == "3"


def test_restarted_trips_stream_keeps_its_state_partitions(spark, tmp_path):
    rows = _mk_rows(n_users=3)
    cut1, cut2 = len(rows) // 3 + 5, 2 * len(rows) // 3 + 11
    chunks = [rows[:cut1], rows[cut1:cut2], rows[cut2:]]
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    whole_src = str(tmp_path / "whole_src")
    _add_files(spark, whole_src, chunks)
    with _partition_confs(spark):
        spark.conf.set(SHUFFLE, "2")
        _add_files(spark, src, chunks[:2])
        first = _run_trips(spark, src, out, ckpt)
        assert _state_partitions(ckpt) == [0, 1]

        spark.conf.set(SHUFFLE, "4")
        _add_files(spark, src, chunks[2:], start_idx=2)
        restarted = _run_trips(spark, src, out, ckpt)
        # the offset log, not the session conf, sizes a restarted stream
        assert _state_partitions(ckpt) == [0, 1]
        assert _logged_shuffle_partitions(ckpt) == "2"

        whole = _run_trips(spark, whole_src, str(tmp_path / "whole_out"), str(tmp_path / "whole_ckpt"))
        assert _state_partitions(str(tmp_path / "whole_ckpt")) == [0, 1, 2, 3]
    assert first < restarted  # non-vacuous: the restart emitted trips
    assert restarted == whole
    assert len(whole) >= 6


def test_get_spark_sizes_stream_state_by_cores_and_batch_by_argument(spark, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_SHUFFLE", raising=False)
    kw = dict(app_name="trackintel_spark_tests", master="local[4]")
    cores = str(spark.sparkContext.defaultParallelism)
    with _partition_confs(spark):
        s = get_spark(shuffle_partitions=7, **kw)
        assert s is spark
        assert (s.conf.get(SHUFFLE), s.conf.get(INITIAL)) == (cores, "7")

        get_spark(**kw)
        assert (spark.conf.get(SHUFFLE), spark.conf.get(INITIAL)) == (cores, "32")

        monkeypatch.setenv("SPARK_GRAFT_SHUFFLE", "6")
        get_spark(**kw)
        assert (spark.conf.get(SHUFFLE), spark.conf.get(INITIAL)) == (cores, "6")

        # a key named in extra_conf wins over the derived value
        get_spark(shuffle_partitions=7, extra_conf={SHUFFLE: "3"}, **kw)
        assert (spark.conf.get(SHUFFLE), spark.conf.get(INITIAL)) == ("3", "7")
        get_spark(shuffle_partitions=7, extra_conf={INITIAL: "9"}, **kw)
        assert (spark.conf.get(SHUFFLE), spark.conf.get(INITIAL)) == (cores, "9")
