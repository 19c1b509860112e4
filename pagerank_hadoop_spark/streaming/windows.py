"""Structured Streaming operators ([EXT] E6).

True ``readStream`` forms of the batch window queries in
``queries.py`` (events_tumbling / events_sliding / events_session):
the aggregation bodies are shared Column expressions, so the batch
oracle check covers the semantics and the streaming tests cover the
plumbing (watermark, late-data drop, output modes, availableNow).

Scale posture: event-time windows + watermark bound state; session
windows use Spark's built-in ``session_window`` state merge. For
custom stateful logic beyond these, ``applyInPandasWithState`` is the
escape hatch (see ``stateful_dedup_stream``).
"""

from __future__ import annotations

import atexit

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# staging dirs created by punctuated_events_dir, reaped at exit so
# repeated registry runs don't accumulate /tmp litter (the dirs must
# outlive the function call — the stream reads them lazily)
_STAGING_DIRS: list[str] = []


def _reap_staging_dirs() -> None:
    import shutil

    while _STAGING_DIRS:
        shutil.rmtree(_STAGING_DIRS.pop(), ignore_errors=True)


atexit.register(_reap_staging_dirs)

EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", StringType()),
        StructField("props", StringType()),
    ]
)


def read_events_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source stream over event JSON/parquet drops.

    On a cluster this is the same code against a cloud-storage bucket
    or Kafka (swap ``format``); the file source gives deterministic
    replayable tests.
    """
    return (
        spark.readStream.format("json")
        .schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(path)
    )


def tumbling_agg(events: DataFrame, width: str = "10 minutes", watermark: str = "30 minutes") -> DataFrame:
    """Tumbling event-time window counts with late-data drop."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("w.start").alias("wstart"), "event_type", "cnt")
    )


def windowed_distinct_users(
    events: DataFrame, width: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Distinct users per tumbling window on a STREAM. Streaming
    aggregation forbids COUNT(DISTINCT) (unbounded per-group state
    with no eviction contract), so this is the production pattern:
    watermark → ``dropDuplicates`` on (window, user) — keyed state
    the watermark CAN evict — then a plain count per window. Two
    stateful operators, both watermark-bounded; on drained bounded
    input the result equals batch ``COUNT(DISTINCT)``, which is the
    oracle."""
    bucketed = (
        events.withWatermark("ts", watermark)
        .select(F.window("ts", width).alias("w"), "user_id", "ts")
        .dropDuplicates(["w", "user_id"])
    )
    return (
        bucketed.groupBy("w")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .select(F.col("w.start").alias("wstart"), "n_users")
    )


def sliding_agg(
    events: DataFrame,
    width: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width, slide).alias("w"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("w.start").alias("wstart"), "cnt")
    )


def session_agg(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "30 minutes"
) -> DataFrame:
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("session_start"), "user_id", "n_events")
    )


def run_to_memory(stream_df: DataFrame, name: str, output_mode: str = "append"):
    """Drain a stream into an in-memory table with availableNow (test
    harness; production would writeStream to a sink with checkpointing)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def stream_stream_band_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    left_ts: str,
    right_ts: str,
    band: str = "2 hours",
    watermark: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream join: right rows within
    ``[left_ts, left_ts + band]`` for the same key.

    Both sides carry a watermark and the join condition bounds event
    time on BOTH ends — that pair is what lets Spark evict join state:
    buffered left rows older than (watermark + band) can never match a
    future right row, so state stays O(band x rate) instead of
    unbounded. Key/ts column names must differ across sides
    (pre-rename) so the joined schema is unambiguous.

    ``how="leftOuter"`` additionally emits each unmatched left row
    (nulls on the right) — but only once the watermark passes the
    row's match window, because until then a matching right row may
    still arrive. Consequence: rows younger than (watermark + band) at
    end-of-stream stay buffered forever; a drain that must flush them
    needs a watermark-advancing punctuation event (see
    ``stream_left_outer_band_join`` in queries.py).
    """
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    cond = F.expr(
        f"{left_key} = {right_key} AND {right_ts} >= {left_ts} "
        f"AND {right_ts} <= {left_ts} + interval {band}"
    )
    return lw.join(rw, cond, how)


def stream_to_parquet_idempotent(
    stream_df: DataFrame, path: str, checkpoint_dir: str
):
    """Production stream sink: foreachBatch writing each micro-batch to
    a ``batch_id=N`` parquet partition with overwrite — re-processing
    a batch after failure rewrites the same directory, so the sink is
    exactly-once end-to-end (checkpoint tracks offsets, the overwrite
    makes the write idempotent). availableNow-triggered; returns the
    drained query.
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            f"{path}/batch_id={batch_id}"
        )

    q = (
        stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def chained_windowed_agg(
    events: DataFrame,
    width: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Two stateful aggregations CHAINED in one streaming query
    (Spark 4 multi-stateful-operator support): per (window, user)
    event counts, re-aggregated per window into active-user count and
    max per-user burst. Pre-3.4 engines force an intermediate sink +
    second query here; chaining keeps it one lineage, one checkpoint,
    exactly-once end to end.

    The second groupBy keys on the first's ``window`` struct column —
    the event-time column the engine propagates through the first
    aggregate — so watermark semantics survive into the second state
    store and both stores evict together.
    """
    per_user = (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        per_user.groupBy("w")
        .agg(
            F.count(F.lit(1)).alias("active_users"),
            F.max("n").alias("max_user_burst"),
        )
        .select(F.col("w.start").alias("wstart"), "active_users", "max_user_burst")
    )


from contextlib import contextmanager  # noqa: E402


@contextmanager
def stream_shuffle_partitions(spark: SparkSession, source_bytes: int):
    """Right-size streaming state partitioning to the source, for the
    duration of one stream start+drain.

    A streaming aggregation's shuffle partition count is frozen into
    the state store at the first checkpoint, and every micro-batch
    then pays per-partition state-store open/commit overhead — with
    the session's batch-oriented 32 partitions over a small stream,
    that fixed cost dominates (measured 3.9 s → 0.9 s on the sf0.1
    tumbling query at 8 partitions). Same principle as the graph
    loops' ``_edge_partitions``: task count follows data, floor 8 so
    the test shape keeps real parallelism, session default as the
    ceiling for big sources. Production sizing tracks sustained
    events/sec instead of a file size — state-store count is the
    knob that does NOT resize later without a state rebuild, so pick
    for peak.
    """
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    # floor 8 — but never ABOVE the session default (a session already
    # configured below 8 keeps its own, smaller, setting)
    floor = min(8, int(prev))
    need = max(floor, min(int(prev), -(-source_bytes // (16 << 20))))
    spark.conf.set("spark.sql.shuffle.partitions", str(need))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def punctuated_events_dir(sf_dir: str, ts_dtype: str) -> str:
    """Stage a streaming source directory: the real events file plus
    two far-future PUNCTUATION files (one purchase + one error row
    each, ``user_id = -1``).

    Outer stream-stream join results are watermark-gated: an unmatched
    left row emits only after the watermark passes its match window,
    and the watermark only moves between micro-batches — so a drained
    bounded stream withholds every row younger than
    (watermark + band) forever. The operational fix is this
    punctuation pattern: append sentinel events far past the real
    range; with ``maxFilesPerTrigger=1`` they land in their own
    micro-batches, each advancing the watermark committed by the
    previous one, and the final (empty) batch flushes all remaining
    state. Two sentinels → two advances → robust to the one-batch lag
    between watermark computation and outer-result emission.

    The real file is symlinked (no copy; its old mtime orders it
    first); sentinels are written with pyarrow — no ``_SUCCESS``
    markers, whose zero-row batches would otherwise burn the
    per-trigger file budget — with explicit mtimes, matching the
    physical ``ts`` encoding of the main file (``ts_dtype`` from the
    batch read: int64-nanos, micros-NTZ, or micros-UTC).

    TRAP: filter the sentinels out of the DRAINED result, never
    inside the streaming plan. A ``where(user_id >= 0)`` upstream of
    the sink is pushed by Catalyst into the source scan, so the
    punctuation rows are deleted before they ever reach the
    watermark operator — and the flush silently stops happening.
    """
    import os
    import tempfile
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    base = tempfile.mkdtemp(prefix="spark_graft_punct_")
    _STAGING_DIRS.append(base)  # reaped at interpreter exit
    # abspath: the symlink target string is stored verbatim, so a
    # relative sf_dir would dangle when resolved from inside /tmp.
    # A Spark-WRITTEN events table is a DIRECTORY of part files; a
    # directory symlink is invisible to the streaming file source
    # (non-key=value subdirectories are skipped by its listing), so
    # the real rows would silently vanish and only the sentinels
    # stream — found at 10x scale: /tmp/sf1_synth drained 0 rows.
    # Per-file symlinks would surface the rows but split the real
    # data across micro-batches (maxFilesPerTrigger=1), and the part
    # files of the replicated fixture INTERLEAVE in event time, so
    # batch k+1's rows would arrive below the watermark batch k
    # committed and be dropped. The real data must land in ONE
    # micro-batch: consolidate a directory into a single staged file
    # (this staging dir is the local bounded-drain harness, not a
    # production path — in production the sentinels append to the
    # live stream and no re-staging exists).
    events_path = os.path.abspath(os.path.join(sf_dir, "events.parquet"))
    staged = os.path.join(base, "events.parquet")
    if os.path.isdir(events_path):
        pq.write_table(pq.read_table(events_path), staged)
        os.utime(staged, (time.time(), time.time()))
    else:
        os.symlink(events_path, staged)
    if ts_dtype in ("bigint", "long"):
        ts_type, ts_val = pa.int64(), lambda us: us * 1000
    elif ts_dtype == "timestamp_ntz":
        ts_type, ts_val = pa.timestamp("us"), lambda us: us
    else:
        ts_type, ts_val = pa.timestamp("us", tz="UTC"), lambda us: us
    schema = pa.schema(
        [
            ("event_id", pa.int64()),
            ("ts", ts_type),
            ("user_id", pa.int64()),
            ("event_type", pa.string()),
            ("value", pa.float64()),
            ("props", pa.string()),
        ]
    )
    # 2124-01-01 / 2124-07-01 in epoch-µs: a century past the data
    now = time.time()
    for i, us in enumerate((4859827200_000_000, 4875552000_000_000)):
        rows = {
            "event_id": [-1, -2],
            "ts": [ts_val(us)] * 2,
            "user_id": [-1, -1],
            "event_type": ["purchase", "error"],
            "value": [0.0, 0.0],
            "props": [None, None],
        }
        path = os.path.join(base, f"zz_punctuation_{i}.parquet")
        pq.write_table(pa.table(rows, schema=schema), path)
        os.utime(path, (now + 10 * (i + 1), now + 10 * (i + 1)))
    return base


def ts_split_events_dir(sf_dir: str, n_files: int = 3) -> str:
    """Stage the events table as ``n_files`` parquet files covering
    contiguous, globally sorted ``ts`` ranges, mtime-ordered so the
    file stream source (with ``maxFilesPerTrigger=1``) replays them
    as deterministic, time-ordered micro-batches — the harness for
    value-checking CROSS-batch state semantics (TTL re-admission,
    eviction): batch k+1's events are all >= batch k's, so
    event-time state pruning is exact, and the drained result is a
    pure function of the data, not of file-listing order.

    Same pyarrow write path as :func:`punctuated_events_dir` (no
    ``_SUCCESS`` markers burning trigger file budget); the staging
    dir is reaped at interpreter exit."""
    import os
    import tempfile
    import time

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    base = tempfile.mkdtemp(prefix="spark_graft_tsplit_")
    _STAGING_DIRS.append(base)
    tbl = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    tbl = tbl.take(pc.sort_indices(tbl, sort_keys=[("ts", "ascending")]))
    n = tbl.num_rows
    now = time.time()
    for i in range(n_files):
        lo, hi = i * n // n_files, (i + 1) * n // n_files
        path = os.path.join(base, f"part_{i:02d}.parquet")
        pq.write_table(tbl.slice(lo, hi - lo), path)
        os.utime(path, (now + 10 * (i + 1),) * 2)
    return base


def cdc_apply_to_parquet(
    changes: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    key_cols: list[str],
    order_cols: list[str],
):
    """Streaming CDC apply: fold a change stream into a keyed state
    table, keeping the latest row per key (total order given by
    ``order_cols``). The foreachBatch MERGE pattern — what a Delta/
    Iceberg ``MERGE INTO`` does on a cluster, expressed against plain
    parquet for a dependency-free engine.

    Per micro-batch: collapse the batch to its latest row per key
    (window row_number), union with the current state version, keep
    latest again, and write state version ``v{batch_id}`` (a marker
    file names the newest version). Versioned writes make replay
    idempotent — re-running a batch after failure rewrites ITS version
    from its predecessor, never corrupting newer state — and the
    keep-latest fold is associative/commutative over a total order, so
    the final state is independent of how the stream was batched
    (the oracle-checkable property). State is read back lazily from
    parquet each batch: no driver-side accumulation, keys shard by the
    window's hash partitioning.

    Scale note: rewriting full state per batch is the poor-man's
    merge — O(|state|) I/O per batch. On a real deployment swap the
    body for MERGE INTO against a table format with file-level
    pruning; the batch-collapse window and idempotency contract stay
    identical.
    """
    import os

    from pyspark.sql.window import Window

    def latest(df: DataFrame) -> DataFrame:
        w = Window.partitionBy(*key_cols).orderBy(
            *[F.desc(c) for c in order_cols]
        )
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn")
        )

    marker = os.path.join(state_dir, "_LATEST")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        import shutil

        spark = batch_df.sparkSession
        new = latest(batch_df)
        prev = -1
        if os.path.exists(marker):
            with open(marker) as fh:
                prev = int(fh.read().strip())
            if prev >= batch_id:
                prev = batch_id - 1  # replay: fold from the predecessor
            if prev >= 0:
                state = spark.read.parquet(
                    os.path.join(state_dir, f"v{prev}")
                )
                new = latest(state.unionByName(new))
        new.write.mode("overwrite").parquet(
            os.path.join(state_dir, f"v{batch_id}")
        )
        # atomic marker flip: a crash mid-write must never leave an
        # empty/partial _LATEST (read_cdc_state would fail on int()
        # with no recovery); write-then-rename is atomic on POSIX
        tmp = marker + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(str(batch_id))
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, marker)
        # prune versions older than the predecessor still needed for
        # replay of THIS batch — without this, state dirs accumulate
        # one full copy per batch forever
        for name in os.listdir(state_dir):
            if name.startswith("v") and name[1:].isdigit():
                if int(name[1:]) < max(prev, 0):
                    shutil.rmtree(
                        os.path.join(state_dir, name), ignore_errors=True
                    )

    q = (
        changes.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(120):
        # a silent timeout would hand the caller stale mid-run state
        q.stop()
        raise TimeoutError("CDC drain did not finish within 120s")
    return q


def read_cdc_state(spark: SparkSession, state_dir: str) -> DataFrame:
    import os

    marker = os.path.join(state_dir, "_LATEST")
    with open(marker) as fh:
        latest_v = fh.read().strip()
    return spark.read.parquet(os.path.join(state_dir, f"v{latest_v}"))
