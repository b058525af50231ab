"""Custom stateful streaming operators (applyInPandasWithState).

Two Structured-Streaming surfaces the batch pipeline can't express:

- ``assemble_docs_stream``: span rows for a document arrive spread
  across micro-batches (pages of a huge doc land at different times in
  a real ingest); per-doc state accumulates them and the doc is emitted
  EXACTLY when its last span arrives — a session-like custom operator
  over arbitrary keyed state, not a time window.
- ``windowed_event_counts``: watermarked tumbling-window counts over an
  event stream — the built-in late-data path (no custom state): events
  later than the watermark delay are dropped, windows finalize once the
  watermark passes their end.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import StructType

from onnxtr_spark.functions.dedup import _norm_text, band_keys
from onnxtr_spark.queries.relational import SESSION_GAP_MIN

SPAN_INPUT_DDL = (
    "doc_id string, offset int, kind string, text string, media_ref string, n_total int"
)
SPAN_OUTPUT_DDL = "doc_id string, offset int, kind string, text string, media_ref string"
_STATE_DDL = "offsets array<int>, kinds array<string>, texts array<string>, media_refs array<string>"


def _assemble_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    offsets: list[int] = []
    kinds: list[str] = []
    texts: list[str] = []
    media_refs: list[str] = []
    if state.exists:
        o, k, t, m = state.get
        offsets, kinds, texts, media_refs = list(o), list(k), list(t), list(m)
    n_total = None
    for pdf in pdfs:
        if len(pdf):
            n_total = int(pdf["n_total"].iloc[0])
        offsets.extend(int(x) for x in pdf["offset"])
        kinds.extend(str(x) for x in pdf["kind"])
        texts.extend(str(x) for x in pdf["text"])
        media_refs.extend(str(x) for x in pdf["media_ref"])
    if n_total is not None and len(offsets) >= n_total:
        # complete: emit the doc's spans in offset order, clear state
        order = sorted(range(len(offsets)), key=lambda i: offsets[i])
        state.remove()
        yield pd.DataFrame({
            "doc_id": [key[0]] * len(order),
            "offset": [offsets[i] for i in order],
            "kind": [kinds[i] for i in order],
            "text": [texts[i] for i in order],
            "media_ref": [media_refs[i] for i in order],
        })
    else:
        state.update((offsets, kinds, texts, media_refs))
        yield pd.DataFrame(columns=["doc_id", "offset", "kind", "text", "media_ref"])


def assemble_docs_stream(span_stream: DataFrame) -> DataFrame:
    """Keyed-state doc assembly over a stream of span rows carrying
    ``n_total`` (the doc's expected span count): emits each document's
    complete, offset-ordered span set in the micro-batch where its last
    span arrives. State is four parallel arrays per doc (bounded by doc
    size); completed docs clear their state immediately."""
    return span_stream.groupBy("doc_id").applyInPandasWithState(
        _assemble_fn,
        outputStructType=SPAN_OUTPUT_DDL,
        stateStructType=_STATE_DDL,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def windowed_event_counts(
    events_stream: DataFrame, window: str = "10 minutes", watermark: str = "5 minutes"
) -> DataFrame:
    """Watermarked tumbling-window counts per event_type: late events
    (older than ``watermark`` behind the max seen ts) are dropped, and
    a window's row finalizes (appears in append output) once the
    watermark passes its end."""
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


DEDUP_INPUT_DDL = "doc_id string, text string"
DEDUP_OUTPUT_DDL = "doc_id string, fp string"
_SEEN_STATE_DDL = "seen boolean"


def _first_sighting(id_col: str, key_col: str):
    """State function over groups keyed on ``key_col``: the group's
    smallest ``id_col`` (lexical for strings, numeric for numbers) is
    emitted once, in the micro-batch where the key first appears; the
    state is then one boolean, and every later sighting — same batch,
    later batch, or after a restart (state lives in the stream
    checkpoint) — is suppressed."""

    def fn(key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        ids = [pdf[id_col].min() for pdf in pdfs if len(pdf)]
        if state.exists or not ids:
            yield pd.DataFrame(columns=[id_col, key_col])
        else:
            state.update((True,))
            yield pd.DataFrame({id_col: [min(ids)], key_col: [key[0]]})

    return fn


def dedup_stream(docs_stream: DataFrame) -> DataFrame:
    """Streaming exact dedup: emit each content fingerprint's FIRST
    document (smallest doc_id inside its first micro-batch), suppress
    every later duplicate ACROSS micro-batches — the ingest-time twin
    of functions/dedup.exact_dedup, as a custom stateful operator.

    The fingerprint is the same whitespace-normalized md5 the batch
    operator uses (JVM-side); per-fingerprint state is one boolean, so
    at 10^12 docs the state store holds one bit-ish row per distinct
    document — the smallest state any cross-batch dedup can carry.
    State lives in the stream checkpoint: a restarted query keeps
    suppressing duplicates of everything emitted before the crash.
    """
    with_fp = docs_stream.select("doc_id", F.md5(_norm_text()).alias("fp"))
    return with_fp.groupBy("fp").applyInPandasWithState(
        _first_sighting("doc_id", "fp"),
        outputStructType=DEDUP_OUTPUT_DDL,
        stateStructType=_SEEN_STATE_DDL,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_FUNNEL_STATE_DDL = "stage INT, t_view LONG, t_click LONG"
FUNNEL_INPUT_DDL = "user_id long, event_type string, ts timestamp"
FUNNEL_OUTPUT_DDL = "user_id long, t_view long, t_click long, t_purchase long"


def _funnel_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    stage, t_view, t_click = state.get if state.exists else (0, 0, 0)
    rows = pd.concat(list(pdfs), ignore_index=True)
    done: list[tuple] = []
    if stage < 3 and len(rows):
        # within a micro-batch the file source gives no order promise:
        # replay this user's slice in event-time order
        for et, t in sorted(zip(rows["event_type"], rows["t_us"]), key=lambda r: int(r[1])):
            t = int(t)
            if stage == 0 and et == "view":
                stage, t_view = 1, t
            elif stage == 1 and et == "click" and t > t_view:
                stage, t_click = 2, t
            elif stage == 2 and et == "purchase" and t > t_click:
                stage = 3
                done.append((int(key[0]), t_view, t_click, t))
                break  # funnel complete; later events are irrelevant
    state.update((stage, t_view, t_click))
    if done:
        yield pd.DataFrame(done, columns=["user_id", "t_view", "t_click", "t_purchase"])
    else:
        yield pd.DataFrame(columns=["user_id", "t_view", "t_click", "t_purchase"])


def funnel_stream(events_stream: DataFrame) -> DataFrame:
    """Streaming ordered-funnel state machine: per user, advance
    view → click → purchase strictly forward in event time and emit ONE
    row (user_id, t_view, t_click, t_purchase microseconds) when the
    funnel completes — the ingest-time twin of
    queries/relational.events_funnel, as a custom stateful operator.

    State is three integers per user (stage + two timestamps) in the
    stream checkpoint: transitions survive micro-batch boundaries and
    restarts; a completed user's state pins at stage 3 so duplicates
    never re-emit. At 10^12 events the state store holds one tiny row
    per ACTIVE user — completed users could be evicted with a TTL
    timeout in a production variant."""
    ev = events_stream.select(
        F.col("user_id").cast("long").alias("user_id"),
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp_ltz")).alias("t_us"),
    )
    return ev.groupBy("user_id").applyInPandasWithState(
        _funnel_fn,
        outputStructType=FUNNEL_OUTPUT_DDL,
        stateStructType=_FUNNEL_STATE_DDL,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- streaming MinHash near-dup -------------------------------------------

NEARDUP_INPUT_DDL = "doc_id string, text string"
NEARDUP_OUTPUT_DDL = "doc_id string, dup_of string, band int"
_NEARDUP_STATE_DDL = "first string"


def _neardup_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    ids = sorted({str(d) for pdf in pdfs for d in pdf["doc_id"]})
    if not ids:
        yield pd.DataFrame(columns=["doc_id", "dup_of", "band"])
        return
    band = int(key[0])
    if state.exists:
        first = state.get[0]
        dups = [d for d in ids if d != first]
    else:
        first = ids[0]
        state.update((first,))
        dups = ids[1:]
    yield pd.DataFrame({
        "doc_id": dups,
        "dup_of": [first] * len(dups),
        "band": [band] * len(dups),
    })


def neardup_stream(docs_stream: DataFrame) -> DataFrame:
    """Streaming MinHash-LSH near-dup: each (band, band_key) bucket
    remembers its FIRST document (one string of state per non-empty
    bucket); any later arrival in the same bucket — same micro-batch or
    weeks later — emits (doc_id, dup_of, band). The band keys are
    ``dedup.band_keys``, the fold behind the batch ``minhash_bands``,
    so a stream and a batch run bucket a document alike. A doc
    colliding in several bands emits once per band, so downstream
    takes ``distinct(doc_id, dup_of)``. State survives restarts via
    the stream checkpoint; size is one row per OCCUPIED bucket,
    independent of corpus length."""
    bands = band_keys(docs_stream.select("doc_id", "text"))
    return bands.groupBy("band", "band_key").applyInPandasWithState(
        _neardup_fn,
        outputStructType=NEARDUP_OUTPUT_DDL,
        stateStructType=_NEARDUP_STATE_DDL,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- streaming session windows ---------------------------------------------

SESSION_INPUT_DDL = "user_id long, ts timestamp"
SESSION_OUTPUT_DDL = "user_id long, start_us long, end_us long, n_events long"
_SESSION_STATE_DDL = "start long, last long, n long"
SESSION_GAP_US = SESSION_GAP_MIN * 60 * 1_000_000


def _session_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    cols = ["user_id", "start_us", "end_us", "n_events"]
    out: list[tuple] = []
    if state.hasTimedOut:
        s, last, n = state.get
        out.append((int(key[0]), s, last, n))
        state.remove()
    else:
        rows = pd.concat(list(pdfs), ignore_index=True)
        ts = sorted(int(t) for t in rows["t_us"])
        s = last = n = None
        if state.exists:
            s, last, n = state.get
        for t in ts:
            if s is None:
                s, last, n = t, t, 1
            elif t - last <= SESSION_GAP_US:
                last, n = t, n + 1
            else:
                out.append((int(key[0]), s, last, n))
                s, last, n = t, t, 1
        if s is not None:
            state.update((s, last, n))
            # close the open session once the watermark passes its gap
            # (must stay strictly ahead of the current watermark)
            wm = state.getCurrentWatermarkMs()
            state.setTimeoutTimestamp(max(wm + 1, (last + SESSION_GAP_US) // 1000))
    yield pd.DataFrame(out, columns=cols) if out else pd.DataFrame(columns=cols)


def session_stream(events_stream: DataFrame, watermark: str = "1 minute") -> DataFrame:
    """Streaming session windows: per user, events closer than the
    30-min gap merge into one session; a session emits
    (user_id, start_us, end_us, n_events) when it CLOSES — either
    because a later event of the same user opens the next session
    (cross-batch, via the 3-int state) or because the event-time
    watermark passes session_end + gap (EventTimeTimeout, so idle
    users' sessions drain without waiting for their next visit, and
    state for dormant users is removed — bounded by ACTIVE users, the
    scale requirement). The ingest-time twin of
    queries/relational.events_sessionize."""
    ev = events_stream.withWatermark("ts", watermark).select(
        "ts",
        F.col("user_id").cast("long").alias("user_id"),
        F.unix_micros(F.col("ts").cast("timestamp_ltz")).alias("t_us"),
    )
    return ev.groupBy("user_id").applyInPandasWithState(
        _session_fn,
        outputStructType=SESSION_OUTPUT_DDL,
        stateStructType=_SESSION_STATE_DDL,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


ATTR_JOIN_INPUT_DDL = "event_id long, ts timestamp, user_id long, event_type string"
ATTR_JOIN_OUTPUT_DDL = "event_id long, user_id long, purchase_ts timestamp, click_ts timestamp"


def attributed_purchases_stream(
    events_stream: DataFrame, window: str = "1 hour", watermark: str = "30 minutes"
) -> DataFrame:
    """Stream-stream interval join: every purchase paired with each
    click by the same user inside the preceding ``window`` — the
    ingest-time twin of ``queries.relational.events_range_join``
    (there: two-probe-key bucketed equi-join; here: Spark's native
    watermarked stream-stream join). Both sides carry event-time
    watermarks and the join predicate bounds click age relative to the
    purchase, which is what lets Spark EVICT buffered click state once
    the watermark passes click_ts + window — state is bounded by
    rate x (watermark + window), never by stream length. Inner join:
    pairs emit as soon as both sides arrive (no watermark latency);
    swap to leftOuter for the zero-click rows at the cost of emitting
    them only after the watermark closes the purchase's window."""
    clicks = (
        events_stream.where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        events_stream.where(F.col("event_type") == "purchase")
        .select("event_id", "user_id", F.col("ts").alias("purchase_ts"))
        .withWatermark("purchase_ts", watermark)
    )
    return purchases.join(
        clicks,
        F.expr(
            f"""
            user_id = c_user_id
            AND click_ts <= purchase_ts
            AND click_ts > purchase_ts - INTERVAL {window}
            """
        ),
        "inner",
    ).select("event_id", "user_id", "purchase_ts", "click_ts")


# --- streaming crawl-frontier URL dedup -------------------------------------

FRONTIER_INPUT_DDL = "url_id long, raw_url string"
FRONTIER_OUTPUT_DDL = "url_id long, canonical_url string"


def frontier_dedup_stream(url_stream: DataFrame) -> DataFrame:
    """Streaming crawl-frontier dedup — the ingest-time twin of
    ``crawl_url_dedup``: canonicalize each incoming raw URL with the
    SAME stateless column algebra the batch operator uses
    (functions/urls.canonicalize_url, JVM split_part/filter — stateless
    transforms compose freely into streams), then emit only the FIRST
    sighting of each canonical form across micro-batches. Different
    spellings of one resource arriving hours apart in different batches
    collapse to one frontier entry.

    State is one boolean per canonical URL (the floor for cross-batch
    dedup) and lives in the stream checkpoint, so a restarted crawler
    keeps suppressing everything already enqueued before the crash.
    """
    from onnxtr_spark.functions.urls import canonicalize_url

    canon = url_stream.select(
        "url_id", canonicalize_url(F.col("raw_url")).alias("canonical_url")
    )
    return canon.groupBy("canonical_url").applyInPandasWithState(
        _first_sighting("url_id", "canonical_url"),
        outputStructType=FRONTIER_OUTPUT_DDL,
        stateStructType=_SEEN_STATE_DDL,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
