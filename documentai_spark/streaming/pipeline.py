"""Streaming extraction: the batch operators under readStream.

Use case at scale: transcripts land continuously in the Iceberg table (or
a file/Kafka source); extraction + quality + verdict run per micro-batch
with exactly-once file sinks. The per-turn stages are stateless, so the
only streaming-specific pieces are:

- watermark on ``ts`` for the optional windowed rollup (late turns beyond
  the watermark are dropped from aggregates, never from extraction);
- checkpointLocation for exactly-once progress (the streaming analog of
  plans/checkpoint.py's per-partition manifests).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from documentai_spark.functions.verdict import with_verdict
from documentai_spark.operators.extraction import with_extraction_and_quality
from documentai_spark.plans.pipeline import TRANSCRIPT_DDL

_INTERVAL_UNITS = {
    "millisecond": 1, "milliseconds": 1, "ms": 1,
    "second": 1000, "seconds": 1000, "sec": 1000, "secs": 1000,
    "minute": 60_000, "minutes": 60_000, "min": 60_000, "mins": 60_000,
    "hour": 3_600_000, "hours": 3_600_000,
    "day": 86_400_000, "days": 86_400_000,
}


def _interval_ms(interval: str) -> int:
    """'30 minutes' / '1 hour' -> milliseconds (the subset of Spark's
    interval syntax the streaming operators need)."""
    parts = interval.strip().split()
    if len(parts) != 2 or not parts[0].lstrip("-").isdigit() \
            or parts[1].lower() not in _INTERVAL_UNITS:
        raise ValueError(f"unsupported interval {interval!r} "
                         "(want e.g. '30 minutes')")
    ms = int(parts[0]) * _INTERVAL_UNITS[parts[1].lower()]
    if ms <= 0:
        raise ValueError(f"interval must be positive: {interval!r}")
    return ms


def _event_ms(series) -> int:
    """Max event time of a pandas timestamp series as epoch ms. Arrow
    hands the ts column over tz-naive in the session timezone (UTC in
    this engine's sessions); pandas' naive ``.timestamp()`` is
    epoch-UTC, matching GroupState's watermark clock.

    ``Series.max()`` skips NaT rows; a group whose ts values are ALL
    null yields NaT, which must not crash the stream — such rows carry
    no event-time information, so they contribute epoch 0 (callers fold
    with ``max(last, ...)``, so prior knowledge wins) (ADVICE r5)."""
    import pandas as pd

    m = series.max()
    if pd.isna(m):
        return 0
    return int(m.timestamp() * 1000)


def read_transcript_stream(spark: SparkSession, path: str,
                           max_files_per_trigger: int = 8) -> DataFrame:
    """File-source stream over a transcripts directory (parquet)."""
    return (spark.readStream.schema(TRANSCRIPT_DDL)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(path))


def streaming_extraction(stream: DataFrame) -> DataFrame:
    """Stateless per-turn extraction + quality + verdict on a stream."""
    return with_verdict(with_extraction_and_quality(stream))


def streaming_verdict_rollup(stream: DataFrame,
                             window: str = "5 minutes",
                             watermark: str = "10 minutes") -> DataFrame:
    """Windowed verdict counts with late-data handling (watermark)."""
    out = streaming_extraction(stream)
    return (out.withWatermark("ts", watermark)
               .groupBy(F.window("ts", window), "verdict")
               .agg(F.count(F.lit(1)).alias("n_turns")))


def streaming_classified(stream: DataFrame, cfg) -> DataFrame:
    """Stateless per-turn classification on a stream: extraction +
    quality + the 3-technique vote (row-local, so trivially streamable).
    Consecutive grouping is a batch concern — the reference groups per
    uploaded document; the streaming analog is the per-turn category
    plus the windowed rollup below."""
    from documentai_spark.operators.classify import classify_with_vote
    return classify_with_vote(streaming_extraction(stream), cfg)


def streaming_category_rollup(stream: DataFrame, cfg,
                              window: str = "5 minutes",
                              watermark: str = "10 minutes") -> DataFrame:
    """Windowed per-category turn counts with late-data handling."""
    out = streaming_classified(stream, cfg)
    return (out.withWatermark("ts", watermark)
               .groupBy(F.window("ts", window), "category")
               .agg(F.count(F.lit(1)).alias("n_turns")))


def streaming_conversation_totals(stream: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: running
    per-conversation totals that survive across micro-batches.

    This is the streaming form of the batch per-conversation rollup
    (q_t_conv_stats): state = (n_turns, total_chars, max_turn_idx) per
    conv_id; every micro-batch that touches a conversation emits its
    updated totals (outputMode=update). At 10^12-turn scale the state
    store shards by conv_id with the shuffle, so a conversation's state
    lives on exactly one executor; mega-conversations are a single hot
    key only for this aggregate's tiny fixed-size state, not for the
    extraction work. A production variant would add EventTimeTimeout to
    emit-and-evict closed conversations (state.setTimeoutTimestamp on the
    watermark + gap); the fixture drain is one-shot, so the test pins the
    no-timeout running-total semantics.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_type = ("conv_id string, n_turns bigint, total_chars bigint, "
                "max_turn_idx int")
    state_type = "n_turns bigint, total_chars bigint, max_turn_idx int"

    def update(key, pdfs, state):
        n, chars, mx = state.get if state.exists else (0, 0, -1)
        for pdf in pdfs:
            n += len(pdf)
            chars += int(pdf["text"].str.len().sum())
            tm = pdf["turn_idx"].max()        # NaN when all-null (r7
            if not pd.isna(tm):               # review): int(NaN) would
                mx = max(mx, int(tm))         # kill the stream
        state.update((n, chars, mx))
        yield pd.DataFrame([{"conv_id": key[0], "n_turns": n,
                             "total_chars": chars, "max_turn_idx": mx}])

    return (stream.groupBy("conv_id")
            .applyInPandasWithState(update, out_type, state_type,
                                    "update", GroupStateTimeout.NoTimeout))


def streaming_conversation_totals_final(stream: DataFrame,
                                        gap: str = "30 minutes",
                                        watermark: str = "10 minutes",
                                        ts_col: str = "ts") -> DataFrame:
    """Emit-and-evict variant of ``streaming_conversation_totals``: a
    conversation's totals are emitted exactly ONCE, when the event-time
    watermark passes its last activity + ``gap`` (the conversation is
    closed), and its state is evicted. Append output — every emission is
    final, so file sinks work directly.

    This is the bounded-state production shape: state size is the number
    of OPEN conversations, not all conversations ever seen. The timeout
    timestamp is re-armed on every batch that touches the conversation
    (last activity + gap), so long-running conversations stay open; the
    stored ``last_ms`` makes re-arming monotone even when a later batch
    carries earlier event times.

    Null event times: rows with a NULL ``ts`` update the totals but
    carry no event-time information. A conversation whose EVERY row so
    far is null-ts anchors its gap at the current WATERMARK (r7 review
    — anchoring at epoch 0 closed it on the very next watermark
    advance, and a later row then emitted a SECOND final row). The
    exactly-once guarantee is therefore per admission window for
    all-null-ts conversations — a null-ts row arriving after such a
    close re-opens the conversation (the same windowed tradeoff as the
    ttl'd dedup); rows with REAL event times past the close are dropped
    by the watermark, keeping the strict exactly-once for timestamped
    data.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    gap_ms = _interval_ms(gap)
    out_type = ("conv_id string, n_turns bigint, total_chars bigint, "
                "max_turn_idx int")
    state_type = ("n_turns bigint, total_chars bigint, max_turn_idx int, "
                  "last_ms bigint")

    def update(key, pdfs, state):
        if state.hasTimedOut:
            n, chars, mx, _last = state.get
            state.remove()
            yield pd.DataFrame([{"conv_id": key[0], "n_turns": n,
                                 "total_chars": chars,
                                 "max_turn_idx": mx}])
            return
        n, chars, mx, last = state.get if state.exists else (0, 0, -1, 0)
        for pdf in pdfs:
            n += len(pdf)
            chars += int(pdf["text"].str.len().sum())
            tm = pdf["turn_idx"].max()
            if not pd.isna(tm):
                mx = max(mx, int(tm))
            last = max(last, _event_ms(pdf[ts_col]))
        state.update((n, chars, mx, last))
        # must be strictly past the current watermark or Spark rejects
        # it. A conversation with NO observed event time (last == 0 —
        # every ts null so far) anchors the gap at the WATERMARK, not
        # epoch 0 (r7 review): anchoring at 0 armed the timeout at
        # wm+1, so the conversation closed on the next watermark
        # advance and a later row re-created state and emitted a
        # SECOND 'final' row — violating the emitted-exactly-once
        # contract this append-mode operator exists for.
        anchor = last if last > 0 else state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp(
            max(anchor + gap_ms, state.getCurrentWatermarkMs() + 1))
        return  # nothing emitted until the conversation closes

    return (stream.withWatermark(ts_col, watermark)
            .groupBy("conv_id")
            .applyInPandasWithState(update, out_type, state_type,
                                    "append",
                                    GroupStateTimeout.EventTimeTimeout))


def streaming_first_wins_dedup(stream: DataFrame,
                               text_col: str = "text",
                               id_cols: tuple[str, ...] = ("conv_id",
                                                           "turn_idx"),
                               ttl: str | None = None,
                               ts_col: str = "ts",
                               watermark: str = "10 minutes",
                               ) -> DataFrame:
    """Streaming exact dedup, first-wins: the streaming form of the
    batch U2 operator (dedup.exact_dedup) for continuously-landing
    training data. Keyed state on the normalized md5 fingerprint — the
    FIRST row of a fingerprint ever seen (across micro-batches) passes;
    every later exact duplicate is dropped.

    Scale shape: state is one small record per distinct fingerprint,
    sharded by the groupBy shuffle, so each fingerprint's state lives on
    exactly one executor; within a batch the earliest (id_cols)-ordered
    row wins deterministically.

    ``ttl=None`` keeps state forever (exact global dedup; unbounded
    state — at a 10^12-turn stream the store grows one record per
    distinct fingerprint). Passing ``ttl`` (e.g. ``'1 hour'``) bounds
    state with an EventTimeTimeout: a fingerprint's state is evicted
    once the watermark passes its first sighting's event time + ttl,
    after which a later duplicate RE-ADMITS and is emitted again — the
    standard windowed-dedup tradeoff (``dropDuplicates`` + watermark
    semantics, but on the pipeline's OWN fingerprint normalization
    instead of raw-column equality). The expiry is fixed at first
    sighting (not slid by duplicates), and re-admission is decided
    against the stored expiry — correct even when the duplicate lands in
    the same batch whose watermark advance would have fired the timeout.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    # the batch operator's own fingerprint, imported not re-spelled
    # (r7 review): an inline copy matched only by luck of md5's
    # implicit string->binary cast and would silently drift from the
    # batch dedup key on any future normalization change
    from documentai_spark.operators.dedup import fingerprint_col

    if "_fp" in stream.columns:
        # same guard as batch exact_dedup (r7 review): withColumn below
        # would silently overwrite the caller's column
        raise ValueError("input column '_fp' collides with "
                         "streaming_first_wins_dedup internals")
    fp = fingerprint_col(F.col(text_col))
    out_cols = list(dict.fromkeys([*id_cols, text_col]))
    # derive output field types from the input schema (a caller passing
    # e.g. id_cols=('doc_id',) with bigint ids must not get strings)
    from pyspark.sql.types import StructType
    out_type = StructType([stream.schema[c] for c in out_cols])
    ttl_ms = None if ttl is None else _interval_ms(ttl)
    state_type = "seen boolean, expiry bigint"

    def first_wins(key, pdfs, state):
        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            _seen, expiry = state.get
            if ttl_ms is None or state.getCurrentWatermarkMs() < expiry:
                return  # still-covered duplicate: drop
            # expired but data raced the timeout in this batch: re-admit
        # winner selection via a pandas sort, never python tuple
        # comparison (r7 review): a NULL id in one chunk made
        # `tuple < tuple` compare None against str and the TypeError
        # killed the stream; sort_values handles nulls (na_position
        # last) and kind=mergesort keeps ties deterministic. Sorting by
        # ALL out_cols makes the winner total-order determined even for
        # duplicate id pairs with different payloads.
        heads = []
        max_ts = 0
        for pdf in pdfs:
            heads.append(pdf.sort_values(out_cols, kind="mergesort",
                                         na_position="last").head(1))
            if ttl_ms is not None:
                max_ts = max(max_ts, _event_ms(pdf[ts_col]))
        first = (pd.concat(heads, ignore_index=True)
                 .sort_values(out_cols, kind="mergesort",
                              na_position="last")
                 .head(1)[out_cols])
        if ttl_ms is None:
            expiry = 0
        else:
            # all-null event times anchor the ttl at the WATERMARK, not
            # epoch 0 (r7 review): a 0-anchored expiry is already in
            # the past, so every later duplicate re-admitted each batch
            anchor = max_ts if max_ts > 0 \
                else state.getCurrentWatermarkMs()
            expiry = anchor + ttl_ms
        state.update((True, expiry))
        if ttl_ms is not None:
            state.setTimeoutTimestamp(
                max(expiry, state.getCurrentWatermarkMs() + 1))
        yield first

    timeout = (GroupStateTimeout.NoTimeout if ttl_ms is None
               else GroupStateTimeout.EventTimeTimeout)
    keyed = stream if ttl_ms is None \
        else stream.withWatermark(ts_col, watermark)
    keyed = keyed.withColumn("_fp", fp)
    # "append" output: every emission is final (a key emits at most once
    # per admission window), which is what file sinks require
    return (keyed.groupBy("_fp")
            .applyInPandasWithState(first_wins, out_type, state_type,
                                    "append", timeout))


def streaming_curate(stream: DataFrame,
                     text_col: str = "text",
                     id_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
                     ttl: str | None = None,
                     ts_col: str = "ts",
                     watermark: str = "10 minutes",
                     lm_model: dict | None = None,
                     lm_threshold: float | None = None,
                     **flag_kw) -> DataFrame:
    """Streaming corpus curation: the continuously-landing training-data
    shape. Composes the stateful first-wins dedup (cross-batch exact
    duplicates never reach extraction — the cheap-first ordering that
    matters at 10^12 turns) with the stateless extraction + quality +
    verdict stack and the row-local curation flags
    (``curation.with_stateless_flags``).

    Emissions are per-fingerprint-final (append from the dedup state
    op; everything downstream is stateless), so
    :func:`start_to_parquet` gives an exactly-once curated sink.
    Survivors carry the same flag columns as the batch
    ``curate_documents`` output: ``is_dup`` is literally false here —
    duplicates were dropped by state, not flagged — plus
    bad_lang / bad_len / low_conf / keep byte-identical to the batch
    formulation on the same rows. ``flag_kw`` forwards thresholds
    (min_tokens / max_tokens / min_confidence / min_stopword_ratio).

    ``lm_model`` + ``lm_threshold`` (r8): also score survivors under
    the frozen bigram LM (see :func:`curation_tail`).
    """
    survivors = streaming_first_wins_dedup(
        stream, text_col=text_col, id_cols=id_cols, ttl=ttl,
        ts_col=ts_col, watermark=watermark)
    # UnsafeRow barrier: FlatMapGroupsInPandasWithState emits
    # non-Unsafe rows, and EvalPythonExec's pass-through row queue casts
    # its child's rows to UnsafeRow — a directly-downstream Arrow UDF
    # dies with ClassCastException. A codegen'd FilterExec in between
    # materializes UnsafeRows with NO shuffle; the predicate is
    # nondeterministic (spark_partition_id) so the optimizer can neither
    # constant-fold it away nor push it below the state op, and
    # always-true so it drops nothing.
    survivors = survivors.filter(F.spark_partition_id() >= 0)
    return curation_tail(survivors, text_col=text_col, lm_model=lm_model,
                         lm_threshold=lm_threshold, **flag_kw)


def curation_tail(df: DataFrame, *, text_col: str = "text",
                  lm_model: dict | None = None,
                  lm_threshold: float | None = None,
                  **flag_kw) -> DataFrame:
    """The stateless curation both streaming drivers run on their dedup
    survivors (:func:`streaming_curate` in the stream,
    ``near_dedup.near_curate_finish`` in the sink's batch domain):
    extraction + quality + verdict, then — with ``lm_model`` +
    ``lm_threshold`` — the frozen bigram LM score
    (``curation.with_lm_perplexity``, pure map-side), then
    ``curation.with_stateless_flags``, whose one keep rule folds every
    flag present (``is_near_dup``, ``high_perplexity``). ``flag_kw``
    forwards thresholds (min_tokens / max_tokens / min_confidence /
    min_stopword_ratio)."""
    from documentai_spark.operators.curation import (
        with_lm_perplexity, with_stateless_flags,
    )

    out = with_verdict(with_extraction_and_quality(df, text_col=text_col))
    if lm_model is not None and lm_threshold is not None:
        out = with_lm_perplexity(out, lm_model, text_col=text_col,
                                 threshold=lm_threshold)
    return with_stateless_flags(out, text_col=text_col, **flag_kw)


def start_to_parquet(stream_df: DataFrame, out_path: str,
                     checkpoint: str, trigger_once: bool = True):
    """Exactly-once parquet sink; availableNow drains existing input."""
    w = (stream_df.writeStream.format("parquet")
         .option("path", out_path)
         .option("checkpointLocation", checkpoint))
    if trigger_once:
        w = w.trigger(availableNow=True)
    return w.start()
