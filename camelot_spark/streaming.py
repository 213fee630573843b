"""Structured Streaming front-end for the extraction pipeline.

The reference has no streaming surface (SURVEY.md §2.9); this is the
Spark-native continuous-ingest shape for the same kernel: new document
files landing in a directory (or an Iceberg/Kafka source in
production) flow through the identical ``mapInArrow`` extraction and
append to the output sink, with the streaming checkpoint providing
exactly-once resumability — a stronger form of the batch path's
anti-join resume (`pipeline.run_extraction`).

The extraction kernel is stateless per document, so no watermarks or
stateful operators are needed: one doc in → one extracted row out,
regardless of arrival order.
"""

from __future__ import annotations

from .pipeline import extract
from .schema import DOCUMENTS_SCHEMA


def read_document_stream(spark, input_path: str, max_files_per_trigger: int | None = None):
    """Stream of documents rows: a catalog TABLE identifier reads
    through the DSv2 incremental micro-batch source (the `snap`
    catalog streams snapshot-by-snapshot — the Iceberg streaming-read
    shape; see java/SnapshotCatalog), a PATH reads the parquet file
    source. Both resume exactly-once from the stream checkpoint."""
    from .pipeline import is_table_identifier

    if is_table_identifier(input_path):
        if max_files_per_trigger is not None:
            # the snapshot source batches per snapshot version, not per
            # file — silently ignoring the cap would defeat the
            # backpressure the caller asked for
            raise ValueError(
                "max_files_per_trigger applies to file sources; the "
                "catalog streaming source batches per snapshot")
        return spark.readStream.table(input_path)
    reader = spark.readStream.schema(DOCUMENTS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_path)


def dedup_stream(docs, watermark_delay: str = "1 hour"):
    """Cross-micro-batch exact dedup for continuous ingest: at-least-once
    sources (file re-delivery, Kafka replays) re-ship documents, and a
    re-extracted doc_id would double rows in the sink. State is keyed on
    doc_id and bounded by the watermark (``dropDuplicatesWithinWatermark``):
    a duplicate arriving within ``watermark_delay`` of first sight is
    dropped; state older than the watermark is evicted, so the state
    store never grows with the corpus — the 100 TB-stream shape (an
    unbounded ``dropDuplicates`` would hold every key forever).
    """
    from pyspark.sql import functions as F

    return (
        docs.withColumn("ingest_ts", F.current_timestamp())
        .withWatermark("ingest_ts", watermark_delay)
        .dropDuplicatesWithinWatermark(["doc_id"])
        .drop("ingest_ts")
    )


def windowed_ingest_metrics(df, event_ts_col: str = "event_ts",
                            window_size: str = "1 minute",
                            watermark_delay: str = "2 minutes"):
    """Event-time windowed ingest metrics with bounded late-data state —
    the watermark + windowed-agg shape for continuous monitoring of a
    document stream: per tumbling window, arriving docs and span
    volume. In append output mode a window emits exactly once, when the
    watermark passes its end; rows later than ``watermark_delay`` are
    dropped (the state store stays bounded: open windows only, never
    the stream's history). Feed any streaming DataFrame carrying an
    event-time column and a ``n_spans`` count column."""
    from pyspark.sql import functions as F

    return (
        df.withWatermark(event_ts_col, watermark_delay)
        .groupBy(F.window(F.col(event_ts_col), window_size))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_spans").cast("bigint").alias("n_spans"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "n_docs", "n_spans",
        )
    )


def streaming_session_rollup(events, gap_s: int = 1800,
                             watermark_delay: str = "10 minutes"):
    """STREAMING form of ``tdp.relational.session_rollup`` — the same
    native ``session_window`` expression over an unbounded event
    stream: per (user, session) one row with start/count/span, a
    session emitting exactly once in append mode when the watermark
    passes ``gap_s`` beyond its last event (the window can no longer
    grow). State per key = OPEN sessions only — closed sessions leave
    the store with their emission, so state is bounded by concurrent
    activity, never stream history; events later than
    ``watermark_delay`` are dropped. Identical merge semantics to the
    batch operator (exactly-gap merges, ``> gap`` splits), pinned by
    the batch-equivalence e2e in tests/test_streaming_session.py.

    Implementation IS the batch operator: ``session_window`` plans the
    same MergingSessions aggregation in both modes, so the streaming
    form is exactly the batch rollup over a watermarked input — one
    definition, no drift."""
    from .tdp.relational import session_rollup

    return session_rollup(
        events.withWatermark("ts", watermark_delay), gap_s=gap_s)


ASSEMBLE_OUT_SCHEMA = ("doc_id string, text string, n_parts int, "
                       "n_received int, complete int")
ASSEMBLE_STATE_SCHEMA = ("idxs array<int>, chunks array<string>, "
                         "n_parts int, max_ts_ms bigint")


def assemble_multipart_stream(parts, timeout_ms: int = 0,
                              timeout_mode: str = "processing"):
    """Custom stateful operator (``applyInPandasWithState``): assemble
    documents that arrive as out-of-order PARTS across micro-batches —
    the continuous-ingest shape for interleaved multi-part web
    documents (a crawler ships page chunks as it fetches them; the
    extractor needs whole documents).

    Input stream rows: (doc_id, part_idx, n_parts, payload, …). Per
    doc_id the operator accumulates first-seen parts in the state store
    (re-delivered part_idxs are dropped — at-least-once sources replay);
    when all ``n_parts`` are present it emits ONE assembled row
    (payloads concatenated in part order, ``complete=1``) and clears
    the state. With ``timeout_ms`` > 0, a doc idle that long emits its
    partial assembly with ``complete=0`` instead of leaking state
    forever — the bounded-state requirement of a 100 TB stream.
    A part header declaring ``n_parts <= 0`` is corrupt (the doc could
    never satisfy the completeness check): the doc is flushed
    immediately with ``complete=0`` and its state cleared, so corrupt
    headers cannot leak state even with no timeout configured.

    ``timeout_mode`` picks the idleness clock:

    - ``"processing"`` (default): wall-clock between triggers. Simple,
      but a paused/backfilled stream flushes everything mid-replay —
      wall-clock idleness says nothing about the DATA during replay.
    - ``"event"``: the timeout fires only when the stream's WATERMARK
      passes (doc's max event time + timeout_ms) — replay-safe, the
      production option. Requires the input stream to carry a ``ts``
      timestamp column and a ``withWatermark`` on it (Spark enforces
      the watermark; this operator reads per-doc max event time).

    Built-ins cannot express this: ``dropDuplicatesWithinWatermark``
    dedups whole rows, windowed aggs cannot emit-on-condition mid-
    window; this is exactly the arbitrary-stateful-processing seam.
    State per key is O(parts of one doc), never O(stream).

    .. warning:: state-schema change — ``ASSEMBLE_STATE_SCHEMA`` gained
       a 4th field (``max_ts_ms``, for event-time timeouts). Spark does
       NOT migrate ``applyInPandasWithState`` state schemas: a query
       resuming from a checkpoint written before that change will fail
       or misparse its 3-tuple state. Restart such streams with a FRESH
       checkpoint directory (replay the source; the operator's
       first-seen dedup makes replay safe)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def _emit(doc_id, idxs, chunks, n, complete):
        parts = dict(zip(idxs, chunks))  # idxs unique by the `have` guard
        # a complete doc concatenates exactly parts 0..n-1; stray
        # out-of-range indices (corrupt part headers) are excluded from
        # the assembled text but still counted in n_received
        keep = sorted(i for i in parts if not complete or 0 <= i < n)
        return pd.DataFrame([{
            "doc_id": doc_id, "text": "".join(parts[i] for i in keep),
            "n_parts": n, "n_received": len(parts), "complete": complete,
        }])

    if timeout_mode not in ("processing", "event"):
        raise ValueError("timeout_mode must be 'processing' or 'event'")
    event_mode = timeout_mode == "event"

    def assemble(key, pdfs, state):
        (doc_id,) = key
        if state.hasTimedOut:
            idxs, chunks, n, _ = state.get
            state.remove()
            yield _emit(doc_id, idxs, chunks, n, 0)
            return
        idxs, chunks, n, max_ts = (state.get if state.exists
                                   else ((), (), 0, 0))
        idxs, chunks = list(idxs), list(chunks)
        have = set(idxs)
        for pdf in pdfs:
            if event_mode and len(pdf):
                ts_max = pdf["ts"].max()
                if not pd.isna(ts_max):
                    max_ts = max(int(max_ts), int(ts_max.value) // 1_000_000)
            for r in pdf.itertuples(index=False):
                i = int(r.part_idx)
                if i in have:            # at-least-once re-delivery
                    continue
                have.add(i)
                idxs.append(i)
                chunks.append("" if r.payload is None else str(r.payload))
                hdr = int(r.n_parts)
                if hdr > 0:
                    # only a VALID header may set n: a stray corrupt
                    # row (n_parts<=0) must not overwrite a known-good
                    # count and force-flush a mid-assembly doc
                    n = hdr
        # complete only when parts 0..n-1 are ALL present — a count
        # check would let a stray out-of-range index mask a missing part
        if n > 0 and all(i in have for i in range(n)):
            state.remove()
            yield _emit(doc_id, idxs, chunks, n, 1)
        elif n <= 0:
            # NO row of this doc has ever carried a valid header:
            # n_parts<=0 can never satisfy the completeness check, so
            # with timeout_ms=0 its state entry would be retained
            # forever — flush NOW instead of leaking
            state.remove()
            yield _emit(doc_id, idxs, chunks, n, 0)
        else:
            state.update((idxs, chunks, n, max_ts))
            if timeout_ms and event_mode:
                # fires only when the WATERMARK passes the doc's last
                # event time + timeout — a paused or replayed stream
                # (watermark frozen) flushes NOTHING, unlike wall-clock.
                # A doc whose rows all carry null ts anchors to the
                # CURRENT watermark (not 0, which would fire on the
                # very next watermark advance — a zero timeout)
                wm = state.getCurrentWatermarkMs()
                anchor = max_ts if max_ts > 0 else wm
                state.setTimeoutTimestamp(
                    max(anchor + timeout_ms, wm + 1))
            elif timeout_ms:
                state.setTimeoutDuration(timeout_ms)

    if not timeout_ms:
        timeout_conf = GroupStateTimeout.NoTimeout
    elif event_mode:
        timeout_conf = GroupStateTimeout.EventTimeTimeout
    else:
        timeout_conf = GroupStateTimeout.ProcessingTimeTimeout
    return parts.groupBy("doc_id").applyInPandasWithState(
        assemble, ASSEMBLE_OUT_SCHEMA, ASSEMBLE_STATE_SCHEMA,
        "append", timeout_conf)


def start_extraction_stream(
    spark,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    flavor: str = "lattice",
    available_now: bool = True,
    salt_partitions: int | None = None,
    fail_fast: bool = False,
    dedup_within: str | None = None,
    **kwargs,
):
    """documents files → (optional cross-batch dedup) → extract →
    sink append, checkpointed.

    Sink: a catalog TABLE identifier streams through the DSv2 streaming
    write (the `snap` snapshot catalog commits ONE idempotent snapshot
    per micro-batch epoch — the Iceberg streaming-sink shape; see
    java/SnapshotCatalog); a PATH appends parquet files. Both get
    exactly-once from the streaming checkpoint.

    ``available_now=True`` drains the current backlog and stops (batch
    catch-up semantics); ``False`` runs continuously per micro-batch.
    ``dedup_within``: watermark delay for cross-batch doc_id dedup
    (None = off). Returns the StreamingQuery.
    """
    from .pipeline import is_table_identifier

    docs = read_document_stream(spark, input_path)
    if dedup_within is not None:
        docs = dedup_stream(docs, watermark_delay=dedup_within)
    extracted = extract(
        docs, flavor=flavor, salt_partitions=salt_partitions, fail_fast=fail_fast, **kwargs
    )
    writer = extracted.writeStream.option(
        "checkpointLocation", checkpoint_path
    ).outputMode("append")
    if available_now:
        writer = writer.trigger(availableNow=True)
    if is_table_identifier(output_path):
        return writer.toTable(output_path)
    return writer.format("parquet").option("path", output_path).start()


def streaming_neardup_pairs(documents, num_hashes: int = 32, bands: int = 8,
                            n: int = 3, portable: bool = False,
                            bucket_cap: int = 64, timeout_ms: int = 0):
    """Cross-batch NEAR-duplicate candidate pairs over a document
    stream — the streaming counterpart of ``dedup.minhash_lsh_pairs``
    (exact streaming dedup is ``dedup_stream``; this catches fuzzy
    duplicates arriving in different micro-batches).

    Each doc's MinHash signature bands are computed statelessly on the
    stream by the batch plan itself (``dedup.minhash_signatures`` — the
    same expressions and Arrow seam for both hash families — then
    ``dedup.banded_signatures``); the stateful step keys on
    (band, band_sig) and keeps the CAPPED list of doc ids seen in that
    bucket, emitting (a_id, b_id) the moment a new member meets the
    bucket — so a duplicate pair is reported in the micro-batch its
    second member arrives, regardless of how many batches separate
    them.

    Scale/state bounds, mirroring the batch operator's skew guards:
    - state per bucket is at most ``bucket_cap`` longs; a hot bucket
      (non-discriminative signature) stops BOTH pairing and growing at
      the cap — bounded recall loss for a hard state/runtime bound;
    - re-delivered doc ids are dropped (at-least-once safe);
    - ``timeout_ms`` > 0 expires idle buckets (processing-time), i.e.
      the stream "forgets" docs not seen near a duplicate for that
      long — the knob that makes indefinite streams bounded-state;
      0 keeps buckets forever (exact cross-batch memory).

    A pair can emit once per band it collides in; consumers treat the
    output as a candidate stream (dedupe downstream / verify with
    exact Jaccard), exactly like the batch LSH candidates.

    Shingle-less docs (< ``n`` tokens, band_sig='') are dropped before
    the stateful step — same short-doc guard as ``dedup_incremental``.
    (Batch ``minhash_lsh_pairs`` emits those degenerate pairs and lets
    the Jaccard verify kill them; a stream has no downstream verify
    before state, so the '' bucket would accumulate every short doc
    ever seen and saturate ``bucket_cap``.)"""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    from .tdp import dedup as tdp_dedup

    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by bands ({bands})")
    sigs = tdp_dedup.minhash_signatures(documents, num_hashes, n,
                                        portable=portable)
    banded = tdp_dedup.banded_signatures(sigs, bands, num_hashes // bands)

    def pair_up(key, pdfs, state):
        if state.hasTimedOut:
            state.remove()
            return
        ids = list(state.get[0]) if state.exists else []
        known = set(ids)
        n_before = len(ids)
        out_a, out_b = [], []
        for pdf in pdfs:
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                if d in known or len(known) >= bucket_cap:
                    continue
                for other in ids:
                    lo, hi = (other, d) if other < d else (d, other)
                    out_a.append(lo)
                    out_b.append(hi)
                known.add(d)
                ids.append(d)
        # skip the no-op state-store write when a redelivery-heavy
        # batch added nothing; the timeout refresh below still resets
        # the bucket's idle clock without rewriting the ids array
        if len(ids) != n_before:
            state.update((ids,))
        if timeout_ms and ids:  # needs defined state (existing or just set)
            state.setTimeoutDuration(timeout_ms)
        if out_a:
            yield pd.DataFrame({"a_id": out_a, "b_id": out_b})

    timeout_conf = (GroupStateTimeout.ProcessingTimeTimeout if timeout_ms
                    else GroupStateTimeout.NoTimeout)
    # shingle-less (<n tokens) docs bucket to band_sig='' under both
    # hash families; without this guard every short doc across all
    # batches lands in the (band, '') bucket — spurious pairs that
    # saturate bucket_cap and then suppress real collisions. Same
    # short-doc guard as batch dedup_incremental (dedup.py real_bucket).
    banded = banded.where(F.col("band_sig") != "")
    return banded.groupBy("band", "band_sig").applyInPandasWithState(
        pair_up, "a_id bigint, b_id bigint", "ids array<bigint>",
        "append", timeout_conf)
