"""Structured Streaming ingestion: the feeder stage of the reference's
``live`` module.

The reference's live extraction consumes Wikimedia EventStreams SSE with a
priority queue (live/.../feeder/EventStreamsHelper.scala:22-40,
queue/LiveQueuePriority.java:7-24) and re-extracts changed pages. This
module is the feeder half: a streaming source of corpus rows
(``stream_corpus``), the SSE adapter, the newest-revision gate and ingest
dedup. The re-extraction, diff and publish are ``live.start_live_stream``,
which reads its input through ``stream_corpus``.

``stream_event_counts`` is the watermark/windowed-aggregation hook for late
data (events table shape).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .schema import CORPUS_SCHEMA


def stream_corpus(spark: SparkSession, input_dir: str) -> DataFrame:
    """File-based streaming source of corpus rows (new parquet files under
    ``input_dir`` are picked up incrementally)."""
    return spark.readStream.schema(CORPUS_SCHEMA).parquet(input_dir)


def stream_latest_revisions(
    corpus_stream: DataFrame,
    key_cols: tuple[str, ...] = ("repo", "path"),
    seq_col: str = "revision_id",
) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-page
    newest-revision gate — the Spark-first analog of the reference live
    module's priority queue (queue/LiveQueuePriority.java:7-24), which
    collapses repeated change events for a page and re-extracts it once at
    its newest revision.

    State per key = the highest ``seq_col`` seen; each micro-batch emits AT
    MOST ONE row per page (its newest), and only when it is newer than the
    stored state — stale/duplicate change events are dropped exactly-once
    across restarts via the stream checkpoint."""
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = corpus_stream.schema
    state_schema = T.StructType([T.StructField("max_seq", T.LongType())])
    cols = [f.name for f in out_schema.fields]

    def newest_only(key, pdfs, state):
        max_seen = state.get[0] if state.exists else None
        best: pd.DataFrame | None = None
        for pdf in pdfs:
            cand = pdf.loc[pdf[seq_col].idxmax()].to_frame().T if len(pdf) else None
            if cand is None:
                continue
            if best is None or int(cand[seq_col].iloc[0]) > int(best[seq_col].iloc[0]):
                best = cand
        if best is not None:
            seq = int(best[seq_col].iloc[0])
            if max_seen is None or seq > max_seen:
                state.update((seq,))
                yield best[cols]

    return corpus_stream.groupBy(*key_cols).applyInPandasWithState(
        newest_only, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def stream_dedup_corpus(
    corpus_stream: DataFrame,
    watermark: str = "1 hour",
    event_time_col: str | None = None,
) -> DataFrame:
    """Streaming exact dedup for corpus ingestion: a page whose content
    sha256 was already seen inside the watermark horizon is suppressed.

    This is the streaming twin of the batch ``dedup_exact`` training-data
    op — crawl/ingest feeds re-deliver identical documents (retries,
    mirrors, re-crawls), and suppressing them BEFORE parse+extract saves
    the whole downstream pipeline cost. State is the fingerprint set,
    bounded by the watermark TTL (``dropDuplicatesWithinWatermark``), so
    it cannot grow monotonically over an unbounded stream — the property
    that makes this safe at 100-TB ingest, where an unbounded
    dropDuplicates state would OOM the state store.

    ``event_time_col``: an existing event-time column; when absent the
    processing-time arrival stamp is used (ingest dedup semantics)."""
    if event_time_col is None:
        stream = corpus_stream.withColumn("_ingest_ts", F.current_timestamp())
        event_time_col = "_ingest_ts"
    else:
        stream = corpus_stream
    deduped = (
        stream.withColumn("_fp", F.sha2(F.col("content"), 256))
        .withWatermark(event_time_col, watermark)
        .dropDuplicatesWithinWatermark(["_fp"])
    )
    return deduped.drop("_fp", "_ingest_ts")


# --- EventStreams SSE adapter ------------------------------------------------
#
# The reference's live feeder consumes the Wikimedia EventStreams API
# (SSE, mediawiki.recentchange) and turns each event into a queue item
# (live/.../feeder/EventStreamsHelper.scala:22-40 + its
# filterNamespaceAndLanguage). The Spark-first counterpart is a LINE-stream
# adapter: any text-line source (socket source against an SSE proxy, or a
# text-file stream in tests — the transport is swappable) → SSE framing
# stripped → pruned recentchange JSON parse → namespace/language filter →
# change records keyed like the engine corpus, ready for the
# stream_latest_revisions newest-revision gate.

from pyspark.sql import types as _T

RECENT_CHANGE_SCHEMA = _T.StructType(
    [
        _T.StructField("title", _T.StringType()),
        _T.StructField("namespace", _T.IntegerType()),
        _T.StructField("wiki", _T.StringType()),
        _T.StructField("server_name", _T.StringType()),
        _T.StructField("type", _T.StringType()),
        _T.StructField("timestamp", _T.LongType()),
        _T.StructField(
            "revision",
            _T.StructType(
                [_T.StructField("new", _T.LongType()), _T.StructField("old", _T.LongType())]
            ),
        ),
    ]
)


def sse_recent_changes(lines: DataFrame, value_col: str = "value") -> DataFrame:
    """SSE frame lines → parsed recentchange events. Drops non-payload
    frames (``event:``/``id:``/comment/keep-alive blanks), strips the
    ``data:`` prefix and parses the JSON with the pruned recentchange
    schema; unparseable payloads drop (the reference's unmarshaller skips
    them the same way)."""
    v = F.col(value_col)
    payload = F.when(
        v.startswith("data:"), F.ltrim(v.substr(F.lit(6), F.length(v)))
    )
    ev = lines.select(F.from_json(payload, RECENT_CHANGE_SCHEMA).alias("e"))
    return ev.filter(F.col("e.title").isNotNull()).select("e.*")


def change_events_to_corpus_rows(
    events: DataFrame,
    language: str = "en",
    namespaces: tuple[int, ...] = (0,),
) -> DataFrame:
    """filterNamespaceAndLanguage + LiveQueueItem analog: keep edit/new
    events of the configured namespaces on ``<language>wiki``, and emit
    change records keyed like the engine corpus — (repo, path) key +
    ``revision_id`` sequence for the newest-revision gate. ``content`` is
    NULL: the reference refetches the page body by title at extraction
    time (a separate fetch concern for an offline engine)."""
    # wiki DBNAMES use underscores where language codes use hyphens
    # (zh-yue → zh_yuewiki) — the reverse of the sitelink mapping in
    # wikidata.py
    dbname = language.replace("-", "_") + "wiki"
    keep = (
        (F.col("wiki") == dbname)
        & F.col("namespace").isin(*namespaces)
        & F.col("type").isin("edit", "new")
        & F.col("revision.new").isNotNull()
    )
    path = F.concat(F.lit("live/"), F.regexp_replace(F.col("title"), r"\s+", "_"), F.lit(".wiki"))
    return events.filter(keep).select(
        F.col("wiki").alias("repo"),
        path.alias("path"),
        F.col("revision.new").cast("string").alias("commit"),
        F.lit(language).alias("lang"),
        F.lit(None).cast("string").alias("content"),
        F.col("revision.new").alias("revision_id"),
    )


def stream_recent_changes(
    lines: DataFrame, language: str = "en", namespaces: tuple[int, ...] = (0,)
) -> DataFrame:
    """SSE line stream → deduplicated newest-revision change records (the
    full EventStreamsHelper → LiveQueuePriority path, composed)."""
    return stream_latest_revisions(
        change_events_to_corpus_rows(sse_recent_changes(lines), language, namespaces)
    )


def stream_event_counts(events_stream: DataFrame, watermark: str = "1 hour", window: str = "1 hour") -> DataFrame:
    """Watermarked tumbling-window counts per event_type (late-data design
    hook; events schema: event_id, ts, user_id, event_type, value, props)."""
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value")
    )
