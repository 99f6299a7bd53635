"""Custom stateful streaming operators via applyInPandasWithState —
the Spark analog of Flink's KeyedProcessFunction + keyed state +
timers (a surface the reference never uses; its only state is the
sink buffer, SrSink.java:159-185).

Operators:

- `first_seen_filter`: emit each key's first row exactly once across
  all micro-batches (state = a seen-marker per key). Generalizes the
  reference's Stream-Load label dedup (K4) from batch-level to
  row-level: replayed delete events archive once, no matter how often
  the source re-delivers them.
- `sessionize`: event-time session aggregation with a gap timeout,
  built on event-time timers + watermarks. Emits one row per closed
  session; sessions close when the watermark passes last_ts + gap.
- `latest_state_stream`: streaming changelog compaction to an upsert
  view, with CDC delete-op tombstones.
- `dedup_within_watermark`: bounded-state streaming exact dedup.
- `kmv_distinct_stream`: incremental KMV distinct-count sketch per
  group (the streaming form of the batch `agg_kmv_distinct` query),
  idempotent under replayed batches.
- `ewma_stream`: the bounded-tail fixed-point EWMA fold (streaming
  form of `events_ewma_fixedpoint`) — converges to the batch answer
  under out-of-order and duplicated delivery.
- `codebook_drift_stream`: per-group count-codebook distribution
  monitor emitting quantized entropy and KL-vs-reference (streaming
  forms of `events_entropy_by_type` / `text_kl_source_drift`),
  bit-exact with the batch queries after any prefix; at-least-once
  inputs absorbed by a bounded dedup-within-watermark stage.
- `pattern_quantified_stream`: bounded-tail CEP — the run-algebra
  `view+ click? purchase` matcher (streaming form of
  `events_pattern_quantified`) over the last-N event tail per key,
  delivery-order invariant by the ewma merge argument.

State is kept per key, partitioned by the groupBy hash shuffle — at
cluster scale state shards across executors and lives in the state
store behind the checkpoint dir.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

_FIRST_SEEN_STATE = "seen byte"


def first_seen_filter(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    payload_cols: list[str],
) -> DataFrame:
    """Streaming exactly-once-per-key filter: the first row (by
    ``ts_col``, then input order) for each ``key_col`` passes;
    every later duplicate — same batch or any later batch — drops.
    """
    out_schema = ", ".join(
        [f"{key_col} string", f"{ts_col} long"]
        + [f"{c} string" for c in payload_cols]
    )

    def fn(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            return
        first = None
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            cand = pdf.sort_values(ts_col, kind="stable").iloc[:1]
            if first is None or cand[ts_col].iloc[0] < first[ts_col].iloc[0]:
                first = cand
        if first is not None:
            state.update((1,))
            yield first[[key_col, ts_col, *payload_cols]]

    return df.groupBy(key_col).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=_FIRST_SEEN_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_SESSION_STATE = (
    "starts array<long>, lasts array<long>, "
    "ns array<long>, qsums array<long>"
)


def sessionize(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    gap_seconds: int,
    watermark: str = "10 seconds",
    quant: int = 10_000,
) -> DataFrame:
    """Event-time sessionization: one output row per closed session
    `(key, session_start, session_end, n_events, q_sum)`.

    A session closes ONLY when the event-time watermark passes
    ``last_ts + gap`` — exactly the batch `session_window()`
    semantics. The state therefore holds a LIST of open candidate
    sessions, not one: an in-batch gap larger than `gap` starts a new
    candidate but must NOT emit the earlier one (a late-but-in-
    watermark event may still extend it — or bridge two candidates
    into one), and an event more than `gap` BEFORE every candidate
    opens its own candidate instead of being glued to a session it
    does not belong to. Candidates are interval-merged (sorted by
    start; neighbors with `next.start − cur.last ≤ gap` coalesce), so
    arrival order never changes the result — only the watermark does,
    which is the same guarantee `session_window()` gives batch data.
    ``q_sum`` is the quantized integer sum of ``value_col``
    (floor(v·quant)), keeping stream and batch results bit-identical.
    State per key is O(open candidates), bounded by the watermark
    delay / gap ratio."""
    if gap_seconds <= 0:
        raise ValueError(
            f"sessionize requires gap_seconds > 0, got {gap_seconds}: "
            "with a zero gap every event closes instantly and the "
            "operator degenerates to per-event rows — use a plain "
            "projection instead"
        )
    gap_ms = gap_seconds * 1000

    out_schema = (
        f"{key_col} long, session_start long, session_end long, "
        "n_events long, q_sum long"
    )

    def _emit(key, sessions):
        return pd.DataFrame(
            {
                key_col: [key[0]] * len(sessions),
                "session_start": [s[0] for s in sessions],
                "session_end": [s[1] for s in sessions],
                "n_events": [s[2] for s in sessions],
                "q_sum": [s[3] for s in sessions],
            }
        )

    def _split_ready(sessions, wm_ms):
        """(closed, still_open) by whether the watermark passed
        last+gap. Close STRICTLY (last + gap < wm): the merge rule is
        inclusive (ts - last <= gap), and the late filter keeps events
        with ts >= wm, so an event at exactly ts == last + gap == wm
        can still arrive and must merge into the candidate — closing
        at <= would have already emitted it, splitting the session.
        Sessions are kept sorted by start."""
        closed = [s for s in sessions if s[1] + gap_ms < wm_ms]
        kept = [s for s in sessions if s[1] + gap_ms >= wm_ms]
        return closed, kept

    def fn(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        wm_ms = state.getCurrentWatermarkMs()

        if state.hasTimedOut:
            starts, lasts, ns, qsums = state.get
            sessions = sorted(zip(starts, lasts, ns, qsums))
            closed, kept = _split_ready(sessions, wm_ms)
            if kept:
                state.update(tuple(map(list, zip(*kept))))
                state.setTimeoutTimestamp(
                    max(min(s[1] for s in kept) + gap_ms, wm_ms + 1)
                )
            else:
                state.remove()
            if closed:
                yield _emit(key, closed)
            return

        rows = pd.concat(list(pdfs), ignore_index=True)
        if len(rows) == 0:
            return
        ts_ms = (
            rows[ts_col].astype("int64") // 1_000_000
        )  # pandas datetime64[ns] → epoch ms
        import numpy as np

        qv = np.floor(rows[value_col].to_numpy() * quant).astype("int64")

        sessions = []
        if state.exists:
            starts, lasts, ns, qsums = state.get
            sessions = [list(s) for s in zip(starts, lasts, ns, qsums)]
        sessions += [
            [int(t), int(t), 1, int(v)] for t, v in zip(ts_ms, qv)
        ]
        # interval-merge: new events extend, bridge, or precede the
        # open candidates purely by event time — arrival order is
        # irrelevant by construction
        sessions.sort()
        merged = [sessions[0]]
        for s in sessions[1:]:
            cur = merged[-1]
            if s[0] - cur[1] <= gap_ms:
                cur[1] = max(cur[1], s[1])
                cur[2] += s[2]
                cur[3] += s[3]
            else:
                merged.append(s)

        closed, kept = _split_ready(merged, wm_ms)
        # Every new event is at/after the watermark and gap > 0, so
        # the candidate holding the newest event normally stays open —
        # but mirror the timed-out branch anyway instead of assuming:
        # writing zip(*[]) state would corrupt the state row and
        # min() over it would kill the streaming query.
        if kept:
            state.update(tuple(map(list, zip(*kept))))
            # Clamp strictly above the current watermark:
            # setTimeoutTimestamp at/below the watermark is invalid.
            state.setTimeoutTimestamp(
                max(min(s[1] for s in kept) + gap_ms, wm_ms + 1)
            )
        elif state.exists:
            state.remove()
        if closed:
            yield _emit(key, closed)

    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(key_col)
        .applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType=_SESSION_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


_LATEST_STATE = "ts long, tie long, val string, deleted boolean"


def latest_state_stream(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    tie_col: str,
    value_col: str,
    op_col: str | None = None,
    delete_op: str = "d",
    eventtime_col: str | None = None,
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Streaming changelog compaction to latest state per key — the
    incremental form of the batch `cdc_latest_state_compaction` query
    (row_number()=1 by (ts, tie) desc) and the classic CDC upsert
    materialization: each micro-batch emits one row per key whose
    latest value CHANGED, so a downstream upsert sink (JDBC merge,
    compacted topic, `foreachBatch` overwrite-by-key) maintains the
    current-state view without ever reprocessing history.

    Ordering is (ts, tie) lexicographic — `tie` (e.g. event_id) makes
    last-wins deterministic under equal timestamps, exactly matching
    the batch query's ORDER BY ts DESC, tie DESC. A late event older
    than the key's current state produces NO emission (stale update
    suppressed). State per key is one (ts, tie, value, deleted)
    tuple — the materialized view itself, sharded by the groupBy hash
    shuffle; unbounded only in the number of KEYS, like any upsert
    view (use a TTL timeout variant if keys churn forever).

    Deletes (CDC op codes per the reference's ChangeType.java i/d/u):
    pass `op_col` and rows whose op equals `delete_op` become
    TOMBSTONES — when a delete is the key's latest record the output
    gains `op='d'` with a NULL value, telling the upsert sink to
    remove the key. The tombstone stays in state (it holds the
    (ts, tie) high-water mark), so a late pre-delete update cannot
    resurrect the key — only a genuinely newer insert/update can,
    which then emits op='u' again. Without `op_col` the output schema
    is unchanged (pure upsert compaction).

    Tombstone state is BOUNDED when `eventtime_col` is passed (a
    timestamp column consistent with `ts_col`'s epoch-millis, e.g.
    `timestamp_millis(ts)`): the stream gets
    `withWatermark(eventtime_col, watermark_delay)`, input rows with
    `ts` BELOW the watermark are dropped by the operator itself
    (Spark does NOT pre-filter late rows for
    applyInPandasWithState — the watermark only drives timers, so the
    event-time contract is enforced here), and a tombstone is EVICTED
    once the watermark passes its `ts` — by then every pre-delete
    straggler is below the watermark and the late-row drop discards
    it before it reaches state, so eviction cannot re-open the
    resurrection window the tombstone guarded against. State then
    grows with LIVE keys plus the tombstones of at most one
    watermark-delay of recent deletes, instead of with the all-time
    deleted-key universe — the difference between an upsert view and
    a leak at CDC scale. Without `eventtime_col` behavior is
    unchanged (no late drop, tombstones pinned forever: correct,
    unbounded — for sources that cannot carry a watermark)."""
    has_op = op_col is not None
    with_ttl = eventtime_col is not None
    out_schema = (
        f"{key_col} long, last_ts long, last_tie long, "
        f"{value_col} string" + (", op string" if has_op else "")
    )

    def fn(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        wm = state.getCurrentWatermarkMs() if with_ttl else 0
        if with_ttl and state.hasTimedOut:
            # timer only ever armed on a tombstone, and re-armed on
            # every later delete, so at firing the armed timestamp
            # matches the stored tombstone; the ts < wm guard keeps a
            # stale timer from evicting a newer tombstone anyway
            if state.exists:
                st = tuple(state.get)
                if st[3] and st[0] < wm:
                    state.remove()
            return
        best = tuple(state.get) if state.exists else None
        changed = False
        for pdf in pdfs:
            ops = (
                pdf[op_col]
                if has_op
                else pd.Series(["u"] * len(pdf), dtype="object")
            )
            for ts, tie, val, op in zip(
                pdf[ts_col], pdf[tie_col], pdf[value_col], ops
            ):
                if with_ttl and int(ts) < wm:
                    # event-time contract: rows below the watermark
                    # are droppable — and MUST drop here, or a
                    # pre-delete straggler arriving after its
                    # tombstone's eviction would resurrect the key
                    continue
                is_del = has_op and str(op) == delete_op
                cand = (
                    int(ts),
                    int(tie),
                    None if is_del else str(val),
                    is_del,
                )
                if best is None or cand[:2] > best[:2]:
                    best, changed = cand, True
        if changed:
            state.update(best)
            row = {
                key_col: [key[0]],
                "last_ts": [best[0]],
                "last_tie": [best[1]],
                value_col: [best[2]],
            }
            if has_op:
                row["op"] = ["d" if best[3] else "u"]
            yield pd.DataFrame(row)
        if with_ttl and best is not None and best[3]:
            if best[0] < wm:
                # watermark already passed the tombstone (this key
                # was invoked by data, so no timer would fire this
                # batch): every pre-delete straggler is now dropped
                # above — evict immediately
                state.remove()
            else:
                # (re-)arm the eviction timer (GroupState timers
                # reset per call): fire once the watermark passes the
                # tombstone's ts; the timestamp must sit strictly
                # above the current watermark or it is rejected
                state.setTimeoutTimestamp(max(int(best[0]), wm + 1))

    src = (
        df.withWatermark(eventtime_col, watermark_delay)
        if with_ttl
        else df
    )
    return src.groupBy(key_col).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=_LATEST_STATE,
        outputMode="update",
        timeoutConf=(
            GroupStateTimeout.EventTimeTimeout
            if with_ttl
            else GroupStateTimeout.NoTimeout
        ),
    )


def dedup_within_watermark(
    sdf: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    delay: str = "10 minutes",
) -> DataFrame:
    """Streaming deduplication with bounded state:
    ``dropDuplicatesWithinWatermark`` keeps one row per key among all
    rows whose event times fall within the watermark delay of each
    other, and — unlike plain ``dropDuplicates`` on a stream — EVICTS
    key state once the watermark passes, so state size is bounded by
    the key arrival rate × delay instead of growing forever.

    This is the built-in answer to streaming exactly-once dedup when
    duplicates arrive close together (CDC redelivery, at-least-once
    sources); `first_seen_filter` above is the unbounded-state custom
    variant for keys that can reappear arbitrarily late.
    """
    return sdf.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(
        keys
    )


_KMV_STATE = "mins array<long>"


def kmv_distinct_stream(
    sdf: DataFrame,
    group_col: str,
    hash_col: str,
    k: int = 128,
    hash_space: int = 16**14,
    group_type: str = "string",
) -> DataFrame:
    """Streaming KMV distinct-count sketch per group — the incremental
    form of the batch `agg_kmv_distinct` query: state per group is the
    K smallest hashes seen so far (the sketch itself), each
    micro-batch merges its hashes in, and a row
    (group, kmv_estimate, kd) is emitted only when the sketch CHANGED.

    `hash_col` must carry the SAME md5-derived integer the batch query
    uses (compute it with the identical Spark expression before the
    groupBy), so the streaming estimate after N batches equals the
    batch estimate over their union exactly — integer arithmetic end
    to end, same (K-1)·H // mk estimator.

    Operationally this is the at-least-once-friendly sketch: merging
    is a set union, so REPLAYED batches (failure recovery, Kafka
    rewinds) are absorbed idempotently — the estimate never drifts
    under duplicate delivery, unlike additive counters. State is
    bounded at K longs per group regardless of stream length."""
    if k < 2:
        raise ValueError("k must be >= 2")
    out_schema = (
        f"{group_col} {group_type}, kmv_estimate long, kd long"
    )

    def fn(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        mins = list(state.get[0]) if state.exists else []
        seen = set(mins)
        for pdf in pdfs:
            for h in pdf[hash_col]:
                seen.add(int(h))
        merged = sorted(seen)[:k]
        if merged != mins:
            state.update((merged,))
            if len(merged) < k:
                est = len(merged)
            else:
                # merged[-1] >= 1 when the k>=2 distinct hashes are
                # the md5-derived non-negative ints the batch twin
                # uses; the max() guards caller-supplied hash columns
                # that include negatives/zero so a pathological group
                # degrades the estimate instead of killing the query.
                est = (k - 1) * hash_space // max(merged[-1], 1)
            yield pd.DataFrame(
                {
                    group_col: [key[0]],
                    "kmv_estimate": [est],
                    "kd": [len(merged)],
                }
            )

    return sdf.groupBy(group_col).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=_KMV_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_QSK_STATE = "hs array<long>, ids array<long>, qvs array<long>"


def quantile_sketch_stream(
    sdf: DataFrame,
    group_col: str,
    hash_col: str,
    id_col: str,
    qv_col: str,
    k: int = 256,
    group_type: str = "string",
) -> DataFrame:
    """Streaming bottom-k-by-hash quantile sketch per group — the
    incremental form of the batch `agg_quantile_sketch` query: state
    per group is the K rows with the smallest (hash, id) keys seen so
    far (the deterministic uniform sample), each micro-batch merges
    its rows in, and (group, n_sample, q25, q50, q90) is emitted only
    when the sample CHANGED.

    `hash_col`/`id_col`/`qv_col` must carry the same md5-derived
    integer, unique row id, and 1e4-quantized value the batch query
    computes, so the streaming estimates after N batches equal the
    batch estimates over their union exactly: the sample is the same
    set, and the interpolation below is the same q·(n-1) linear rule
    (double arithmetic on exact integers) Spark's `percentile` and
    DuckDB's `quantile_cont` use.

    Like the KMV sketch, merging is a set union on (hash, id) keys —
    REPLAYED batches are absorbed idempotently, and state is bounded
    at K (hash, id, qv) triples per group regardless of stream
    length."""
    if k < 2:
        raise ValueError("k must be >= 2")
    out_schema = (
        f"{group_col} {group_type}, n_sample long,"
        " q25 double, q50 double, q90 double"
    )

    def _interp(vals: list, q: float) -> float:
        # Spark's Percentile interpolation is the WEIGHTED form
        # lower·(hi−pos) + higher·(pos−lo) — NOT lower + frac·delta,
        # which differs in the last ulp (caught by the bit-parity
        # test). Same double ops here, so streaming == batch exactly.
        pos = q * (len(vals) - 1)
        lo = int(pos)
        if pos == lo:
            return float(vals[lo])
        hi = lo + 1
        return vals[lo] * (hi - pos) + vals[hi] * (pos - lo)

    def fn(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            hs, ids, qvs = (list(c) for c in state.get)
        else:
            hs, ids, qvs = [], [], []
        sample = {
            (int(h), int(i)): int(v) for h, i, v in zip(hs, ids, qvs)
        }
        for pdf in pdfs:
            for h, i, v in zip(
                pdf[hash_col], pdf[id_col], pdf[qv_col]
            ):
                sample[(int(h), int(i))] = int(v)
        kept = sorted(sample)[:k]
        new = (
            [h for h, _ in kept],
            [i for _, i in kept],
            [sample[key_] for key_ in kept],
        )
        if new != (hs, ids, qvs):
            state.update(new)
            vals = sorted(new[2])
            yield pd.DataFrame(
                {
                    group_col: [key[0]],
                    "n_sample": [len(vals)],
                    "q25": [_interp(vals, 0.25)],
                    "q50": [_interp(vals, 0.50)],
                    "q90": [_interp(vals, 0.90)],
                }
            )

    return sdf.groupBy(group_col).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=_QSK_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_EWMA_STATE = "ks array<long>, ids array<long>, vqs array<long>"


def ewma_fold(vals: list) -> int:
    """The batch query's fold: ew := (ew + v) >> 1 in event order.
    ONE definition shared by the stream operator and its tests."""
    ew = vals[0]
    for v in vals[1:]:
        ew = (ew + v) >> 1
    return ew


def _merge_tail(state, rows, tail: int, coerce):
    """The bounded-tail merge behind `ewma_step` and `pattern_step`:
    fold the (ts, id, value) `rows` into the (ks, ids, values)
    `state` (or None), last write winning per (ts, id), and keep the
    (ts, id)-sorted last `tail` entries. Returns the new state, or
    None when the tail's MEMBERSHIP and VALUES are unchanged — a
    re-delivered (ts, id) carrying a rewritten value must update
    state and re-emit, not be silently dropped because the key set
    is unchanged."""
    seen = {}
    if state is not None:
        seen = {(int(k), int(i)): coerce(v) for k, i, v in zip(*state)}
    before = [(t, seen[t]) for t in sorted(seen)]
    for k, i, v in rows:
        seen[(int(k), int(i))] = coerce(v)
    kept = [(t, seen[t]) for t in sorted(seen)[-tail:]]
    if kept == before:
        return None
    return (
        [k for (k, _), _ in kept],
        [i for (_, i), _ in kept],
        [v for _, v in kept],
    )


def ewma_step(state, rows, tail: int = 64):
    """Pure per-batch state transition of `ewma_stream` for one key:
    `state` is the (ks, ids, vqs) tuple (or None), `rows` an iterable
    of (ts, id, vq). Returns (new_state, emit) where emit is
    (ewma, n_tail) when the tail changed, else None and the state is
    unchanged. Extracted so the schedule-fuzz property test drives
    the EXACT operator logic without streaming machinery."""
    new_state = _merge_tail(state, rows, tail, int)
    if new_state is None:
        return state, None
    vals = new_state[2]
    return new_state, (ewma_fold(vals), len(vals))


def ewma_stream(
    sdf: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts_ms",
    id_col: str = "event_id",
    vq_col: str = "vq",
    tail: int = 64,
) -> DataFrame:
    """Streaming form of the batch `events_ewma_fixedpoint` fold:
    per key, state is the (ts, event_id, vq)-sorted tail of the last
    `tail` events, and every batch that changes the tail re-emits the
    bit-shift EWMA over it — ew := (ew + v) >> 1 in event order.

    Exactness and replay story: membership in the last-`tail` window
    is a deterministic function of the (ts, id) order, so merging is
    idempotent under replayed/duplicated delivery (a dict keyed by
    (ts, id) absorbs duplicates) and OUT-OF-ORDER arrivals converge
    to the batch answer — a late event either still belongs to the
    tail (it displaces the evicted minimum exactly as the batch sort
    would) or sorts before a full tail's minimum, where the batch
    fold would not include it either. After any prefix of the stream,
    the emitted value equals the batch query on the same rows —
    `tests/test_stateful_streaming.py` pins this against the
    registry query. State is bounded at 3·`tail` longs per key."""

    out_schema = f"{key_col} long, ewma_milli long, n_tail long"

    def fn(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        rows = [
            (k, i, v)
            for pdf in pdfs
            for k, i, v in zip(pdf[ts_col], pdf[id_col], pdf[vq_col])
        ]
        new_state, emit = ewma_step(
            state.get if state.exists else None, rows, tail
        )
        if emit is not None:
            state.update(new_state)
            yield pd.DataFrame(
                {
                    key_col: [key[0]],
                    "ewma_milli": [emit[0]],
                    "n_tail": [emit[1]],
                }
            )

    return sdf.groupBy(key_col).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=_EWMA_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# Streaming distribution monitors: per-group count codebook → entropy
# and KL-vs-reference drift (the incremental forms of the batch
# `events_entropy_by_type` / `text_kl_source_drift` queries)
# ---------------------------------------------------------------------------

_CODEBOOK_STATE = "counts array<long>"


def _qln(x: int) -> int:
    """round(ln(x)·1e6) with HALF-UP ties for x >= 1 — the identical
    quantization the batch information-theory queries use (Spark
    F.round / DuckDB round are half-up; Python round() is half-even,
    so this must NOT be `round()`)."""
    import math

    return math.floor(math.log(x) * 1e6 + 0.5)


def _trunc_div(a: int, n: int) -> int:
    """Truncate-toward-zero integer division — Spark `div` / DuckDB
    `//` semantics (Python // floors, which differs for negative
    numerators; the quantized KL sum can dip below zero)."""
    return a // n if a >= 0 else -((-a) // n)


def codebook_measures(
    counts: list[int],
    reference: "list[int] | None" = None,
) -> tuple[int, int, int, "int | None"]:
    """(n_obs, n_buckets_used, entropy_micro, kl_micro) of a count
    codebook, in the batch queries' exact integer discipline:
    entropy = qln(N) − (Σ c·qln(c)) div N (events_entropy_by_type),
    KL vs the reference distribution = (Σ c·(qln(c) − qln(N) −
    qln(r) + qln(M))) div N (text_kl_source_drift — observed support
    must be inside reference support, the unigram-LM no-smoothing
    contract; a bucket observed with zero reference raises).
    Extracted pure so tests drive the arithmetic without streaming
    machinery."""
    n = sum(counts)
    if n == 0:
        return 0, 0, 0, None
    used = sum(1 for c in counts if c > 0)
    s_clnc = sum(c * _qln(c) for c in counts if c > 0)
    entropy = _qln(n) - s_clnc // n  # both non-negative: floor == trunc
    kl = None
    if reference is not None:
        m = sum(reference)
        q_n, q_m = _qln(n), _qln(m)
        acc = 0
        for b, c in enumerate(counts):
            if c == 0:
                continue
            if reference[b] <= 0:
                raise ValueError(
                    f"bucket {b} observed but reference count is 0 — "
                    "the KL contract needs reference support to cover "
                    "observed support (build the reference from the "
                    "corpus mixture)"
                )
            acc += c * (_qln(c) - q_n - _qln(reference[b]) + q_m)
        kl = _trunc_div(acc, n)
    return n, used, entropy, kl


def codebook_drift_stream(
    sdf: DataFrame,
    group_col: str,
    bucket_col: str,
    id_col: str,
    eventtime_col: str,
    n_buckets: int,
    reference: "list[int] | None" = None,
    dedup_delay: str = "10 minutes",
    group_type: str = "string",
) -> DataFrame:
    """Streaming distribution monitor — the incremental form of the
    batch information-theory tier: per group, state is a dense
    ``n_buckets`` count codebook (bounded: n_buckets longs per group,
    stream-length-independent); every micro-batch folds its
    pre-bucketed observations in and emits

        (group, n_obs, n_buckets_used, entropy_micro, kl_micro)

    where entropy is the group's own distribution entropy
    (`events_entropy_by_type`'s exact integer discipline) and
    kl_micro — when a ``reference`` codebook is given (model state,
    e.g. the corpus mixture the batch `text_kl_source_drift` query
    compares against) — is the quantized KL(group ‖ reference). After
    any prefix of the stream the emitted values equal the batch
    queries on the same observations (bit-exact; pinned in
    tests/test_stateful_streaming.py).

    Delivery contract: counts are additive, so at-least-once inputs
    are absorbed by the `dropDuplicatesWithinWatermark` stage this
    operator prepends on ``id_col`` (one row per observation id) —
    replays and duplicates inside the ``dedup_delay`` horizon count
    once, the same horizon contract as `exact_dedup_stream`; a
    duplicate arriving after its original's dedup state was evicted
    double-counts, so size the delay to the pipeline's real replay
    horizon. ``bucket_col`` must be computed BEFORE this operator
    with the batch query's identical expression (the `kmv` hash-col
    contract). Late rows are never dropped — a drift monitor wants
    every observation; the watermark only bounds dedup state."""
    out_schema = (
        f"{group_col} {group_type}, n_obs long, n_buckets long, "
        "entropy_micro long, kl_micro long"
    )
    if reference is not None and len(reference) != n_buckets:
        raise ValueError("reference length must equal n_buckets")

    deduped = sdf.withWatermark(
        eventtime_col, dedup_delay
    ).dropDuplicatesWithinWatermark([id_col])

    def fn(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        counts = list(state.get[0]) if state.exists else [0] * n_buckets
        changed = False
        for pdf in pdfs:
            for b in pdf[bucket_col]:
                counts[int(b)] += 1
                changed = True
        if not changed:
            return
        state.update((counts,))
        n, used, entropy, kl = codebook_measures(counts, reference)
        yield pd.DataFrame(
            {
                group_col: [key[0]],
                "n_obs": [n],
                "n_buckets": [used],
                "entropy_micro": [entropy],
                "kl_micro": pd.array([kl], dtype="Int64"),
            }
        )

    return deduped.groupBy(group_col).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=_CODEBOOK_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# Streaming quantified row-pattern matching (bounded-history CEP)
# ---------------------------------------------------------------------------

_PATTERN_STATE = "ks array<long>, ids array<long>, tps array<string>"


def pattern_count_runs(types: list) -> tuple[int, int, int]:
    """(n_matches, n_views_consumed, n_with_click) of
    `view+ click? purchase` (greedy, skip past last row) over an
    ordered type sequence, via the SAME run-algebra reduction the
    batch `events_pattern_quantified` query uses: compress maximal
    runs, then a match is a view-run followed by purchase, or by a
    length-1 click-run then purchase. ONE definition drives the
    stream operator and its tests."""
    runs: list[tuple[str, int]] = []
    for t in types:
        if runs and runs[-1][0] == t:
            runs[-1] = (t, runs[-1][1] + 1)
        else:
            runs.append((t, 1))
    n_m = n_v = n_c = 0
    for i, (t, ln) in enumerate(runs):
        if t != "view":
            continue
        nxt = runs[i + 1] if i + 1 < len(runs) else None
        nxt2 = runs[i + 2] if i + 2 < len(runs) else None
        if nxt and nxt[0] == "purchase":
            n_m += 1
            n_v += ln
        elif (
            nxt
            and nxt[0] == "click"
            and nxt[1] == 1
            and nxt2
            and nxt2[0] == "purchase"
        ):
            n_m += 1
            n_v += ln
            n_c += 1
    return n_m, n_v, n_c


def pattern_step(state, rows, tail: int = 256):
    """Pure per-batch state transition of `pattern_quantified_stream`
    for one key: `state` is the (ks, ids, tps) tuple (or None),
    `rows` an iterable of (ts, id, type). Returns (new_state, emit)
    where emit is (n_matches, n_views, n_with_click, n_tail) when
    the tail changed. Same bounded-(ts, id)-sorted-tail merge as
    `ewma_step`, so replays/out-of-order deliveries converge to the
    batch answer over the retained window."""
    new_state = _merge_tail(state, rows, tail, str)
    if new_state is None:
        return state, None
    tps = new_state[2]
    return new_state, (*pattern_count_runs(tps), len(tps))


def pattern_quantified_stream(
    sdf: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts_ms",
    id_col: str = "event_id",
    type_col: str = "event_type",
    tail: int = 256,
) -> DataFrame:
    """Streaming form of the batch `events_pattern_quantified` run-
    algebra matcher: per key, state is the (ts, id)-sorted tail of
    the last ``tail`` events' types, and every batch that changes the
    tail re-emits the quantified-pattern counts over it —
    `view+ click? purchase`, greedy, skip past last row, the exact
    reduction the batch query runs.

    Bounded-history semantics (the contract every production CEP
    engine has in some form): matches are found within the retained
    tail, so a key with MORE than ``tail`` events can lose matches
    that straddle the eviction boundary — size ``tail`` to the
    pattern horizon. For keys within the bound, the emitted counts
    equal the batch query on the same rows after any prefix, under
    replayed, duplicated and out-of-order delivery (the ewma_stream
    merge argument: tail membership is a deterministic function of
    the (ts, id) order; pinned in tests). State is bounded at
    3·``tail`` entries per key."""
    out_schema = (
        f"{key_col} long, n_matches long, n_views long, "
        "n_with_click long, n_tail long"
    )

    def fn(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        rows = [
            (k, i, t)
            for pdf in pdfs
            for k, i, t in zip(
                pdf[ts_col], pdf[id_col], pdf[type_col]
            )
        ]
        new_state, emit = pattern_step(
            state.get if state.exists else None, rows, tail
        )
        if emit is not None:
            state.update(new_state)
            yield pd.DataFrame(
                {
                    key_col: [key[0]],
                    "n_matches": [emit[0]],
                    "n_views": [emit[1]],
                    "n_with_click": [emit[2]],
                    "n_tail": [emit[3]],
                }
            )

    return sdf.groupBy(key_col).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=_PATTERN_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# Streaming CUSUM drift alarm (the incremental form of the batch
# events_changepoint_cusum query)
# ---------------------------------------------------------------------------

_CUSUM_STATE = "days array<long>, counts array<long>"


def cusum_fold(
    day_counts: dict, mu_micro: int, slack_micro: int, alarm_micro: int
) -> tuple:
    """(peak_micro, first_alarm_day, n_alarm_days, n_days) of the
    one-sided CUSUM S_d = max(0, S_{d-1} + (n_d·1e6 − μ − slack))
    over the day→count map in day order — ONE definition shared by
    the stream operator, its tests, and (algebraically: the
    running-sum-minus-running-min identity) the batch query."""
    s = 0
    peak = 0
    first_alarm = None
    n_alarms = 0
    for day in sorted(day_counts):
        dev = day_counts[day] * 1_000_000 - mu_micro - slack_micro
        s = max(0, s + dev)
        peak = max(peak, s)
        if s >= alarm_micro:
            n_alarms += 1
            if first_alarm is None:
                first_alarm = day
    return peak, first_alarm, n_alarms, len(day_counts)


def cusum_step(
    state,
    rows,
    mu_micro: int,
    slack_micro: int = 250_000,
    alarm_micro: int = 3_000_000,
):
    """Pure per-batch transition for one key: `state` is the
    (days, counts) pair (or None), `rows` an iterable of (day, count)
    TILES with last-write-wins per day. Returns (new_state, emit)
    where emit is the `cusum_fold` tuple when any day's count
    changed, else None. A pure function of the final day→count map,
    so ANY delivery schedule — split, late, duplicated, re-ordered —
    converges to the batch answer once the tiles converge."""
    seen = (
        {int(d): int(c) for d, c in zip(state[0], state[1])}
        if state is not None
        else {}
    )
    changed = False
    for d, c in rows:
        d, c = int(d), int(c)
        if seen.get(d) != c:
            seen[d] = c
            changed = True
    if not changed:
        return state, None
    days = sorted(seen)
    new_state = (days, [seen[d] for d in days])
    return new_state, cusum_fold(
        seen, mu_micro, slack_micro, alarm_micro
    )


def cusum_stream(
    sdf: DataFrame,
    mu_micro_by_key: dict,
    key_col: str = "event_type",
    day_col: str = "day",
    count_col: str = "n",
    slack_micro: int = 250_000,
    alarm_micro: int = 3_000_000,
) -> DataFrame:
    """Streaming one-sided CUSUM drift alarm over per-(key, day)
    count TILES — the monitor half of the train/serve split: the
    in-control reference mean per key (``mu_micro_by_key``, model
    state — the batch query derives it from history) is frozen, the
    stream delivers evolving daily-count tiles (e.g. the IVM rollup's
    output, last-write-wins per day), and every change re-emits

        (key, peak_micro, first_alarm_day, n_alarm_days, n_days)

    computed by the exact integer fold of the batch
    `events_changepoint_cusum` query. State per key is the day→count
    map — bounded by the CALENDAR (one entry per day the key was
    ever active), not by stream volume, and the emit is a pure
    function of it, so replays/late/out-of-order tiles converge to
    the batch answer (pinned under schedule fuzz in
    tests/test_stateful_streaming.py). Keys missing from the
    reference dict are ignored (an unmonitored source)."""
    out_schema = (
        f"{key_col} string, peak_micro long, first_alarm_day long, "
        "n_alarm_days long, n_days long"
    )

    def fn(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        mu = mu_micro_by_key.get(key[0])
        if mu is None:
            return
        rows = [
            (d, c)
            for pdf in pdfs
            for d, c in zip(pdf[day_col], pdf[count_col])
        ]
        new_state, emit = cusum_step(
            state.get if state.exists else None,
            rows,
            int(mu),
            slack_micro,
            alarm_micro,
        )
        if emit is not None:
            state.update(new_state)
            peak, first_alarm, n_alarms, n_days = emit
            yield pd.DataFrame(
                {
                    key_col: [key[0]],
                    "peak_micro": [peak],
                    "first_alarm_day": pd.array(
                        [first_alarm], dtype="Int64"
                    ),
                    "n_alarm_days": [n_alarms],
                    "n_days": [n_days],
                }
            )

    return sdf.groupBy(key_col).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=_CUSUM_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
