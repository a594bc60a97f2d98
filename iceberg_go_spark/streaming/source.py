"""Streaming over table snapshots + event-time operators.

The reference has no streaming runtime (SURVEY §2.9); its incremental
snapshot ancestry (table/snapshot_ancestry.go:103 AncestorsBetween) is the
natural basis for one.  This module provides:

- incremental batch reads between snapshots (CDC-style append diffs);
- a Structured Streaming source over the table's data directory (appends
  write new parquet files -> Spark's file stream source tails them);
- watermarked tumbling-window aggregation and gap-based sessionization
  (batch formulation is deterministic; streaming variant keeps state with
  applyInPandasWithState).
"""

from __future__ import annotations

import os
from typing import Iterator, List, Optional, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
import pyspark.sql.types as ST

from ..meta import manifests as M
from ..session import local_frame
from ..table.scan import read_data_files


def added_files_between(table, from_snapshot_id: Optional[int],
                        to_snapshot_id: Optional[int] = None) -> List[str]:
    """Data files added by append/overwrite snapshots in
    (from_snapshot_id, to_snapshot_id] (snapshot_ancestry.go:103).

    Physical rewrites do NOT count as new data: replace (compaction)
    and delete (CoW survivor rewrite) snapshots re-add files whose rows
    a consumer has already seen — emitting them would duplicate the
    stream (same rule as the changelog scan)."""
    md = table.metadata
    to_id = to_snapshot_id if to_snapshot_id is not None \
        else md.current_snapshot_id
    if to_id is None:
        return []
    if from_snapshot_id is not None:
        # base must be a REACHABLE ancestor: after a rollback / expiry
        # re-rooting, silently returning the whole history would make
        # the consumer reprocess the entire table (ancestors_between
        # contract: refuse when base_found is False)
        _between, base_found = md.ancestors_between(to_id,
                                                    from_snapshot_id)
        if not base_found:
            raise ValueError(
                f"snapshot {from_snapshot_id} is not an ancestor of "
                f"{to_id} (rolled back, expired, or diverged branch) — "
                f"re-anchor the incremental read")
    out: List[str] = []
    for snap in md.ancestors_of(to_id):
        if from_snapshot_id is not None and \
                snap.snapshot_id == from_snapshot_id:
            break
        op = (snap.summary or {}).get("operation", "append")
        if op not in ("append", "overwrite"):
            continue  # replace/delete: rewritten rows, not new ones
        for mf in M.read_manifest_list(snap.manifest_list):
            if mf.added_snapshot_id != snap.snapshot_id:
                continue
            if mf.content != M.MANIFEST_DATA:
                continue
            entries, _, _ = M.read_manifest(mf.manifest_path)
            for e in entries:
                if e.status == M.STATUS_ADDED and \
                        e.data_file.content == M.CONTENT_DATA:
                    out.append(e.data_file.file_path)
    return out


def incremental_append_df(spark: SparkSession, table,
                          from_snapshot_id: Optional[int],
                          to_snapshot_id: Optional[int] = None) -> DataFrame:
    """Batch DataFrame of the rows that append and overwrite commits in
    (``from_snapshot_id``, ``to_snapshot_id``] wrote, in the current
    schema.  The files are read as written, through the scan's reader
    (``scan.read_data_files``: field ids, else the name mapping, and
    initial defaults); deletes committed since are not applied."""
    files = added_files_between(table, from_snapshot_id, to_snapshot_id)
    if not files:
        return local_frame(spark, [], table.schema().to_spark())
    return read_data_files(spark, table, files, identity=False)


def read_stream(spark: SparkSession, table,
                max_files_per_trigger: int = 64) -> DataFrame:
    """Structured Streaming source over the table: every append commit adds
    parquet files under data/, which the file stream source tails.

    Delete files (pos/eq/DV) are written under deletes/, outside this
    glob, so MoR commits never inject delete-schema rows into the stream.
    Caveats (inherent to file tailing — anchor to snapshot ids via
    ``incremental_append_df`` when any of these bite): compaction
    rewrites land under the data path and re-emit their rows; data
    files become visible BEFORE the Iceberg commit and stay visible if
    it fails (uncommitted/orphaned rows are emitted and cannot be
    retracted); write.object-storage.enabled post-write moves can race
    a trigger (pre-move path read once, moved copy listed again)."""
    schema = table.schema().to_spark()
    # honor write.data.path / object-store layout: the writer resolves
    # its output dir through the location provider, so tailing a
    # hardcoded {location}/data would silently stream NOTHING for
    # custom-path tables
    from ..locations import load_location_provider
    data_dir = load_location_provider(
        table.location(), table.metadata.properties).data_path
    return (spark.readStream
            .schema(schema)
            .option("maxFilesPerTrigger", str(max_files_per_trigger))
            .option("pathGlobFilter", "*.parquet")
            .option("recursiveFileLookup", "true")
            .parquet(data_dir))


def windowed_counts(stream_df: DataFrame, ts_col: str = "ts",
                    window: str = "1 hour", watermark: str = "2 hours",
                    group_col: Optional[str] = "event_type",
                    value_col: Optional[str] = "value") -> DataFrame:
    """Watermarked tumbling-window aggregation (late rows beyond the
    watermark are dropped by the state store).

    Event time must be TIMESTAMP for the watermark; a TIMESTAMP_NTZ
    column (parquet without isAdjustedToUTC) is cast — epoch-exact under
    the session's pinned UTC zone, identity (eliminated) otherwise.
    """
    stream_df = stream_df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    groups = [F.window(F.col(ts_col), window)]
    if group_col:
        groups.append(F.col(group_col))
    aggs = [F.count(F.lit(1)).alias("n_events")]
    if value_col and value_col in stream_df.columns:
        aggs.append(F.sum(value_col).alias("total_value"))
    return (stream_df
            .withWatermark(ts_col, watermark)
            .groupBy(*groups)
            .agg(*aggs))


def sessionize_batch(df: DataFrame, user_col: str = "user_id",
                     ts_col: str = "ts", gap_minutes: int = 30) -> DataFrame:
    """Gap-based sessionization, batch formulation: a new session starts
    when the gap to the previous event exceeds ``gap_minutes``.  Pure
    window functions — one shuffle on user_col."""
    from pyspark.sql import Window as W
    w = W.partitionBy(user_col).orderBy(ts_col)
    ts_ltz = F.col(ts_col).cast("timestamp")  # NTZ-tolerant (UTC session)
    gap = F.unix_timestamp(ts_ltz) - F.unix_timestamp(
        F.lag(ts_ltz).over(w))
    df2 = (df
           .withColumn("__new_session",
                       F.when(gap.isNull() | (gap > gap_minutes * 60), 1)
                       .otherwise(0))
           .withColumn("session_seq",
                       F.sum("__new_session").over(
                           w.rowsBetween(W.unboundedPreceding, 0))))
    aggs = [F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.count(F.lit(1)).alias("n_events")]
    if "value" in df.columns:
        aggs.append(F.sum("value").alias("total_value"))
    return df2.groupBy(user_col, "session_seq").agg(*aggs)


SESSION_STATE_SCHEMA = "last_ts long, session_seq long"


def sessionize_stream(stream_df: DataFrame, gap_minutes: int = 30,
                      ts_col: str = "ts",
                      user_col: str = "user_id") -> DataFrame:
    """Streaming sessionization with explicit keyed state
    (applyInPandasWithState): state = (last event ts, session counter).

    Emits one row PER SESSION TOUCHED in the micro-batch (a batch
    spanning a session boundary used to fold everything into the final
    session's count).  n_events counts THIS batch's events for the
    session — update-mode semantics; consumers aggregate by
    (user, session_seq).  Per-user state is evicted after 2x the gap
    with no activity (ProcessingTimeTimeout): a closed session's state
    can never change the next session id, so eviction is lossless
    modulo the counter restarting at 1 — without it state grows with
    every user ever seen and an unbounded stream OOMs the state store.

    availableNow caveat: pending processing-time timeouts keep the
    drain alive with no-data cleanup batches until they expire (2x the
    gap of wall clock) — bounded backfills should
    ``q.processAllAvailable(); q.stop()`` instead of awaiting
    termination."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    gap_s = gap_minutes * 60
    # key column type follows the input schema (a string user id used
    # to crash Arrow conversion against a hardcoded LongType)
    out_schema = ST.StructType([
        stream_df.schema[user_col],
        ST.StructField("session_seq", ST.LongType()),
        ST.StructField("n_events", ST.LongType()),
    ])

    def fn(key, pdf_iter: Iterator[pd.DataFrame], state):
        (user_id,) = key
        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            last_ts, seq = state.get
        else:
            last_ts, seq = None, 0
        # sort across ALL Arrow chunks: per-chunk sorting broke session
        # counting whenever one group spanned multiple batches
        chunks = [pdf[ts_col].astype("int64") // 1_000_000_000
                  for pdf in pdf_iter]
        if not chunks:
            state.update((last_ts if last_ts is not None else -1, seq))
            return
        counts: dict = {}
        for t in sorted(pd.concat(chunks)):
            if last_ts is None or t - last_ts > gap_s:
                seq += 1
            last_ts = int(t)
            counts[seq] = counts.get(seq, 0) + 1
        state.update((last_ts, seq))
        state.setTimeoutDuration(2 * gap_s * 1000)
        yield pd.DataFrame({user_col: [user_id] * len(counts),
                            "session_seq": list(counts.keys()),
                            "n_events": list(counts.values())})

    return (stream_df.groupBy(user_col)
            .applyInPandasWithState(fn, out_schema,
                                    SESSION_STATE_SCHEMA, "update",
                                    GroupStateTimeout.ProcessingTimeTimeout))


def dedup_stream(stream_df: DataFrame, key_cols=("event_id",),
                 ts_col: str = "ts", watermark: str = "2 hours",
                 exact: bool = False) -> DataFrame:
    """Streaming exactly-once-per-key deduplication for event ingestion
    (at-least-once sources redeliver; training pipelines must not count
    a document twice).

    Default mode bounds state with the watermark
    (``dropDuplicatesWithinWatermark``): a duplicate arriving within the
    watermark horizon of its first copy is dropped, and per-key state is
    evicted once the key's event time falls behind the watermark — state
    is O(keys per horizon), not O(all keys ever), which is what survives
    an unbounded stream.  ``exact=True`` keeps state forever
    (``dropDuplicates``) for short-lived backfills where global
    uniqueness matters more than state growth."""
    stream_df = stream_df.withColumn(ts_col,
                                     F.col(ts_col).cast("timestamp"))
    marked = stream_df.withWatermark(ts_col, watermark)
    cols = list(key_cols)
    if exact:
        return marked.dropDuplicates(cols)
    return marked.dropDuplicatesWithinWatermark(cols)
