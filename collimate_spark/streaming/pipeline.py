"""Streaming ingestion + event-time analytics (Structured Streaming).

The reference is a batch converter whose streaming transport is delegated
to the un-vendored `beam` project (README.md:3-4); these pipelines define
that role Spark-first:

- ``stream_ingest``: file-source stream → the SAME normalization the batch
  path applies (null tokens → NULL, sanitized names) → Parquet sink with
  checkpointing. Schema is frozen per stream (inference is a batch-time
  decision — SURVEY.md §7 hard-part 5); rows that defy the frozen schema
  surface as NULLs in typed columns, auditable downstream, never silent
  sentinel corruption.
- ``windowed_counts``: tumbling event-time windows + watermark for late
  data — the streaming twin of operators/events.tumbling_window_agg.
- ``sessionized``: gap-based session windows (session_window) — streaming
  twin of sessionization_gap.
- ``deduped_stream``: dropDuplicatesWithinWatermark — streaming exact
  dedup bounded by the watermark horizon (state stays finite at 100 TB/day
  because expired keys age out).

All stateful ops carry watermarks so state store size is bounded — the
non-negotiable at production scale.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame, SparkSession, Window

from collimate_spark.ingest import _null_normalized, exact_col, sanitize
from collimate_spark.sources.storage import replace_directory


def _frozen_projection(schema: T.StructType) -> list:
    """The batch path's normalization over a frozen schema: null tokens
    → NULL in string columns, sanitized names."""
    cols = []
    for f_ in schema.fields:
        c = exact_col(f_.name)
        if isinstance(f_.dataType, T.StringType):
            c = _null_normalized(c)
        cols.append(c.alias(sanitize(f_.name)))
    return cols


def stream_ingest(spark: SparkSession, indir: str, schema: T.StructType) -> DataFrame:
    """CSV file-source streaming read with a frozen schema +
    batch-identical normalization. Returns the streaming DataFrame;
    attach a sink with ``to_parquet_sink``."""
    raw = spark.readStream.schema(schema).option("header", True).csv(indir)
    return raw.select(*_frozen_projection(schema))


def stream_ingest_with_quarantine(
    spark: SparkSession,
    indir: str,
    schema: T.StructType,
) -> DataFrame:
    """Streaming ingest with schema-drift quarantine (SURVEY.md §7
    hard-part 5): the stream's schema is frozen, and rows that do not
    conform (extra columns, type violations, malformed lines) are captured
    whole in a ``_quarantine`` column instead of being dropped or silently
    nulled. Downstream: ``filter(_quarantine IS NULL)`` is the clean feed;
    the quarantine rows go to a dead-letter table for re-ingestion after a
    schema migration."""
    full = T.StructType(
        list(schema.fields) + [T.StructField("_quarantine", T.StringType())]
    )
    raw = (
        spark.readStream.schema(full)
        .option("header", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_quarantine")
        .csv(indir)
    )
    return raw.select(*_frozen_projection(schema), F.col("_quarantine"))


def to_parquet_sink(df: DataFrame, outdir: str, checkpoint: str):
    """Attach the columnar-store sink: exactly-once Parquet append via
    checkpointed file sink, draining what is available now."""
    return (
        df.writeStream.format("parquet")
        .option("path", outdir)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def _start_batches(stream: DataFrame, body, checkpoint: str):
    """Run ``body(batch, epoch_id)`` on each micro-batch of ``stream``,
    checkpointed at ``checkpoint``, draining what is available now."""
    return (
        stream.writeStream.foreachBatch(body)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def _write_epoch(df: DataFrame, base: str, epoch_id: int) -> None:
    """Write one micro-batch's output to ``base/epoch=N`` with overwrite:
    a replayed epoch replaces its own directory, never duplicates it."""
    df.write.mode("overwrite").parquet(os.path.join(base, f"epoch={epoch_id}"))


def _read_epochs(spark: SparkSession, base: str, last: int) -> DataFrame | None:
    """The ``base/epoch=N`` directories with N ≤ ``last`` as one frame
    carrying an ``epoch`` column; None when there is no such epoch."""
    if not os.path.isdir(base) or not any(
        e.startswith("epoch=") and int(e.split("=", 1)[1]) <= last
        for e in os.listdir(base)
    ):
        return None
    return (
        spark.read.option("basePath", base).parquet(base).filter(F.col("epoch") <= last)
    )


def windowed_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "30 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Tumbling event-time window counts with late-data watermark."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value")
    )


def sessionized(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    ts_col: str = "ts",
) -> DataFrame:
    """Gap-based session windows per user (state bounded by watermark)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("s"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


USER_STATS_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events_total", T.LongType()),
        T.StructField("sum_value_total", T.DoubleType()),
        T.StructField("batch_events", T.LongType()),
    ]
)

_USER_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("s", T.DoubleType()),
    ]
)


def _update_user_stats(key, pdfs, state):
    """Custom stateful operator body: fold this micro-batch's rows for one
    user into (count, sum) state, emit the running totals. State is two
    scalars per user — bounded regardless of stream length."""
    import pandas as pd  # executor-side import

    n_batch = 0
    s_batch = 0.0
    for pdf in pdfs:
        n_batch += len(pdf)
        s_batch += float(pdf["value"].sum())
    if state.exists:
        n_prev, s_prev = state.get
    else:
        n_prev, s_prev = 0, 0.0
    n_total, s_total = n_prev + n_batch, s_prev + s_batch
    state.update((n_total, s_total))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events_total": [n_total],
            "sum_value_total": [round(s_total, 6)],
            "batch_events": [n_batch],
        }
    )


def user_running_stats(events: DataFrame) -> DataFrame:
    """Arbitrary stateful streaming aggregation via applyInPandasWithState:
    per-user running (count, sum) emitted as an update row each micro-batch
    the user appears in. The pattern for custom operators Structured
    Streaming lacks as built-ins (CEP, custom decay counters, per-entity
    models): keyed scalar state + Arrow-batched per-group updates."""
    return events.groupBy("user_id").applyInPandasWithState(
        _update_user_stats,
        outputStructType=USER_STATS_SCHEMA,
        stateStructType=_USER_STATE_SCHEMA,
        outputMode="append",
        timeoutConf="NoTimeout",
    )


def deduped_stream(
    events: DataFrame,
    keys: list[str],
    watermark: str = "1 hour",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming exact dedup within the watermark horizon — finite state."""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def stream_stream_join(
    events: DataFrame,
    orders: DataFrame,
    lookback: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked stream-stream inner join: each event matches the same
    user's orders placed at most ``lookback`` before it. BOTH sides carry
    event-time watermarks and the join condition bounds the time skew, so
    the join state store retires rows once the watermark passes — the
    only way a stream×stream join stays finite at production volume.
    Output columns: user_id, e_ts, event_type, o_ts, o_amount."""
    ev = events.withWatermark("ts", watermark).select(
        F.col("user_id"),
        F.col("ts").alias("e_ts"),
        F.col("event_type"),
    )
    od = orders.withWatermark("o_ts", watermark).select(
        F.col("o_user"),
        F.col("o_ts"),
        F.col("o_amount"),
    )
    return ev.join(
        od,
        (ev.user_id == od.o_user)
        & (od.o_ts <= ev.e_ts)
        & (od.o_ts >= ev.e_ts - F.expr(f"INTERVAL {lookback}")),
        "inner",
    ).drop("o_user")


def near_dup_candidates_batch(
    batch: DataFrame, index_dir: str, epoch_id: int
) -> DataFrame:
    """One micro-batch of streaming near-dup detection: MinHash-band the
    new documents, probe the accumulated band index for collisions with
    every PREVIOUS epoch, and generate within-batch candidates with the
    same capped bucket-pair routine the batch operator uses. Returns
    (doc_a, doc_b, kind) with kind ∈ {'within_batch', 'cross_batch'}.

    Idempotent under foreachBatch retries: this epoch's bands land in
    ``index_dir/epoch=N`` via overwrite (a re-run replaces, never
    duplicates), and the probe reads only epochs < N — so a replayed
    batch can neither collide with its own half-written index nor
    double-count. The index is the stream's global state made explicit
    (a parquet table instead of a state store) because near-dup needs
    ALL history, not a watermark horizon; at scale store it bucketed by
    (band, band_hash) so each probe is a bucket-local join, and compact
    epochs periodically."""
    from collimate_spark.functions import fast_text
    from collimate_spark.functions.pairs import bucket_pairs

    bands = (
        batch.select("doc_id", "text")
        .mapInPandas(fast_text.minhash_bands, fast_text.BAND_SCHEMA)
        .localCheckpoint(eager=True)  # probe + append + pair-gen reuse it
    )
    within = bucket_pairs(bands, "band", "band_hash").select(
        "doc_a", "doc_b", F.lit("within_batch").alias("kind")
    )
    prior = _read_epochs(batch.sparkSession, index_dir, epoch_id - 1)
    if prior is not None:
        cross = (
            bands.join(
                prior.select(
                    "band", "band_hash", F.col("doc_id").alias("old_doc_id")
                ),
                ["band", "band_hash"],
            )
            .filter(F.col("doc_id") != F.col("old_doc_id"))
            .select(
                F.col("doc_id").alias("doc_a"),
                F.col("old_doc_id").alias("doc_b"),
                F.lit("cross_batch").alias("kind"),
            )
            .distinct()
        )
        out = within.unionByName(cross)
    else:
        out = within
    _write_epoch(bands, index_dir, epoch_id)
    return out


def near_dup_stream(
    docs: DataFrame, index_dir: str, out_dir: str, checkpoint: str
):
    """Streaming near-dup detection: foreachBatch wiring of
    ``near_dup_candidates_batch``. Each micro-batch's candidate pairs
    land in ``out_dir/epoch=N`` via OVERWRITE — epoch-partitioned like
    the band index, so a foreachBatch retry after a crash REPLACES the
    half-written epoch instead of appending duplicate pairs (blind
    ``append`` is not exactly-once under replay; the crash-recovery
    test pins this). The band index accumulates under ``index_dir``.
    The streaming twin of ``dedup_minhash_lsh`` — same kernel, same
    banding, same bucket cap."""

    def _body(batch: DataFrame, epoch_id: int) -> None:
        _write_epoch(near_dup_candidates_batch(batch, index_dir, epoch_id), out_dir, epoch_id)

    return _start_batches(docs, _body, checkpoint)


def rate_source_events(
    spark: SparkSession, rows_per_second: int = 100, n_users: int = 7
) -> DataFrame:
    """Synthetic event stream from Spark's built-in ``rate`` connector —
    the non-file source (generator connector, same DataSourceV2 surface a
    Kafka reader presents: readStream.format(...).option(...).load()).
    Used to exercise connector-based streaming without external services;
    swapping ``rate`` for ``kafka`` + ``subscribe`` options is the only
    change a real deployment makes."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", str(rows_per_second))
        .load()
        .select(
            F.col("value").alias("event_id"),
            F.col("timestamp").alias("ts"),
            (F.col("value") % n_users).alias("user_id"),
            (F.col("value") % 100).cast("double").alias("value"),
        )
    )


def stream_static_enrich(events: DataFrame, dim: DataFrame, key: str = "user_id") -> DataFrame:
    """Stream-static enrichment join: each micro-batch joins the static
    dimension snapshot — stateless (no watermark needed; only the stream
    side is unbounded). Spark broadcasts the dim per micro-batch when it
    fits; at scale pin it with F.broadcast or pre-bucket both sides.
    The standard pattern for attaching user/item attributes to an event
    stream before windowed aggregation."""
    return events.join(F.broadcast(dim), key, "left")


def heavy_hitter_counts_batch(
    batch: DataFrame, counts_dir: str, epoch_id: int
) -> DataFrame:
    """One micro-batch of streaming heavy-hitter tracking over a document
    stream: tokenize the batch, write THIS epoch's per-word counts under
    ``counts_dir/epoch=N`` (overwrite → replay-idempotent, same device as
    near_dup_candidates_batch), then return the merged word totals over
    all epochs ≤ N. The merged view is a sum over per-epoch partial
    counts — the mergeable-sketch property made explicit as a parquet
    layout: each epoch's state is vocabulary-sized (bounded), never
    corpus-sized, and compaction is a trivial re-aggregation of epoch
    partitions. The streaming twin of operators/stats.heavy_hitters_words
    (which adds the in-task Misra-Gries bound; here the per-epoch agg
    plays that role since a micro-batch IS a bounded slice)."""
    words = batch.select(
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("word")
    ).filter(F.col("word") != "")
    epoch_counts = words.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    _write_epoch(epoch_counts, counts_dir, epoch_id)
    return (
        _read_epochs(batch.sparkSession, counts_dir, epoch_id)
        .groupBy("word")
        .agg(F.sum("cnt").alias("cnt"))
    )


def heavy_hitters_stream(
    docs: DataFrame, counts_dir: str, out_dir: str, checkpoint: str, phi: float = 1.0 / 30.0
):
    """Streaming phi-heavy-hitters: after each micro-batch, emit the words
    whose cumulative frequency exceeds phi of the cumulative total, tagged
    with the epoch — a per-epoch snapshot of the hot vocabulary under
    ``out_dir/epoch=N``. Restarts resume from the persisted epoch
    partitions; a replayed epoch overwrites its own counts and snapshot
    partitions, so the snapshot is never duplicated."""

    def _body(batch: DataFrame, epoch_id: int) -> None:
        merged = heavy_hitter_counts_batch(batch, counts_dir, epoch_id)
        total = merged.agg(F.sum("cnt").alias("n_total"))
        hot = (
            merged.crossJoin(F.broadcast(total))
            .filter(F.col("cnt") > phi * F.col("n_total"))
            .select("word", "cnt")
        )
        _write_epoch(hot, out_dir, epoch_id)

    return _start_batches(docs, _body, checkpoint)


def cdc_apply_stream(changes: DataFrame, table_dir: str, checkpoint: str):
    """Streaming CDC apply: a change stream of (op ∈ {upsert, delete},
    key, value, seq) folds into a keyed table via foreachBatch MERGE —
    the streaming twin of dataeng.merge_upsert_orders. Per micro-batch:
    collapse the batch to its LAST change per key (max seq — a batch may
    carry several changes for one key), full-outer-join onto the current
    table, apply upserts/deletes, swap the table directory in
    (``storage.replace_directory``).

    Idempotent under replay: applying the same collapsed batch to the
    post-merge table is a fixpoint (upserts re-write identical rows,
    deletes re-delete absent keys), so a foreachBatch retry cannot
    corrupt state — tests/test_streaming.py kills a run mid-stream and
    restarts it from the checkpoint to pin this. Like any MERGE-based
    CDC apply (Debezium→Kafka→MERGE INTO), it assumes in-order delivery
    per key ACROSS micro-batches (the source's epoch order follows file
    modification time; checkpoint replay preserves it) — out-of-order
    sources need a seq-aware merge plus delete tombstones instead. On a
    real deployment the swap is a MERGE INTO on an ACID table format;
    the join shape — one co-partitioned merge on the table's key — is
    identical."""

    def _body(batch: DataFrame, epoch_id: int) -> None:
        spark = batch.sparkSession
        w = Window.partitionBy("key").orderBy(F.col("seq").desc())
        last = (
            batch.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") == 1)
            .drop("_rk")
        )
        if os.path.isdir(table_dir):
            current = spark.read.parquet(table_dir)
        else:
            current = spark.createDataFrame([], "key long, value double")
        merged = (
            current.alias("t")
            .join(last.alias("c"), F.col("t.key") == F.col("c.key"), "full_outer")
            .filter(F.coalesce(F.col("c.op"), F.lit("keep")) != "delete")
            .select(
                F.coalesce(F.col("c.key"), F.col("t.key")).alias("key"),
                F.coalesce(F.col("c.value"), F.col("t.value")).alias("value"),
            )
        )
        replace_directory(merged, table_dir)

    return _start_batches(changes, _body, checkpoint)


def ivf_index_stream(
    vectors: DataFrame, centroids, index_dir: str, checkpoint: str
):
    """Streaming ANN-index maintenance: arriving embeddings are assigned
    to their IVF cell per micro-batch (the same Arrow argmax kernel the
    batch operator uses, centroids broadcast via closure — in production
    a persisted offline artifact) and appended to the cell-partitioned
    index under ``index_dir/cell=K/epoch=N``. Epoch-partitioned
    overwrite makes replays idempotent (same device as the near-dup band
    index); queries then prune to their probed cells by PARTITION
    directory — the streaming half of ann_ivf_topk's scan-pruning story.
    State is zero (assignment is stateless); the index IS the output."""
    import numpy as np
    import pandas as pd
    import pyspark.sql.types as T

    from collimate_spark.functions import fast_vec

    def _assign(batch: DataFrame, epoch_id: int) -> None:
        def kernel(pdfs):
            for pdf in pdfs:
                if len(pdf) == 0:
                    continue
                mat = np.vstack(pdf["embedding"].to_numpy())
                out = pd.DataFrame(
                    {
                        "vec_id": pdf["vec_id"],
                        "embedding": pdf["embedding"],
                        "cell": fast_vec.assign_clusters(mat, centroids).astype("int32"),
                    }
                )
                yield out

        assigned = batch.mapInPandas(
            kernel,
            T.StructType(
                [
                    T.StructField("vec_id", T.LongType()),
                    T.StructField("embedding", T.ArrayType(T.FloatType())),
                    T.StructField("cell", T.IntegerType()),
                ]
            ),
        )
        (
            assigned.withColumn("epoch", F.lit(epoch_id))
            .write.mode("overwrite")
            .partitionBy("cell", "epoch")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(index_dir)
        )

    return _start_batches(vectors, _assign, checkpoint)
