"""Custom stateful streaming operator via ``applyInPandasWithState``.

The reference has no stateful processing; this is the engine's
extension point for operators Spark's built-in windows can't express
(SURVEY §7 step 8). The example operator maintains per-user lifetime
counters (event count, value sum, last-seen timestamp) across
micro-batches and emits the updated profile each time a user appears —
a CDC-style running rollup.

State is partitioned by the group key, so it scales horizontally with
executors; per-group state is O(1) (the rolling-window operator's is
O(window seconds)). All operators here run ``NoTimeout``: the key
population in this corpus is bounded (users), so state never needs
eviction. For unbounded key spaces (e.g. session ids) switch to
``GroupStateTimeout.EventTimeTimeout`` + ``state.setTimeoutTimestamp``
and emit/clear on ``state.hasTimedOut`` — the operators' fold logic is
unchanged; only the eviction branch is added.
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
        StructField("last_seen", TimestampType()),
    ]
)

STATE_SCHEMA = StructType(
    [
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
        StructField("last_seen_us", LongType()),
    ]
)


def running_user_profile(events: DataFrame) -> DataFrame:
    """Per-user lifetime rollup, updated per micro-batch.

    ``events`` must be a streaming DataFrame with (user_id, ts, value).

    The update function is defined as a closure so cloudpickle ships it
    BY VALUE to executor Python workers — a module-level function would
    be pickled by reference and require this package on every worker's
    PYTHONPATH (true of all Pandas-UDF-backed operators in this engine).
    """

    def update_user_profile(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        import pandas as pd  # noqa: F811 — resolved on the worker

        (user_id,) = key
        # money accumulates as integer CENTS in state — a float running
        # total would drift across millions of micro-batches and diverge
        # from the exact decimal rollups elsewhere in the engine
        n, total_cents, last_us = state.get if state.exists else (0, 0, 0)
        for pdf in pdfs:
            n += len(pdf)
            total_cents += int((pdf["value"] * 100).round().astype("int64").sum())
            if len(pdf):
                last_us = max(last_us, int(pdf["ts"].astype("int64").max() // 1000))
        state.update((n, total_cents, last_us))
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "n_events": [n],
                "total_value": [total_cents / 100.0],
                "last_seen": [pd.Timestamp(last_us, unit="us")],
            }
        )

    return (
        events.select("user_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update_user_profile,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


INTERVAL_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("valid_from", TimestampType()),
        StructField("valid_to", TimestampType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)

INTERVAL_STATE_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("from_us", LongType()),
        StructField("to_us", LongType()),
        StructField("n_events", LongType()),
        StructField("value_cents", LongType()),
    ]
)


def change_interval_stream(events: DataFrame) -> DataFrame:
    """Streaming twin of the batch ``e13_change_intervals`` operator:
    run-length encodes each user's event-type stream into effective-
    dated intervals, emitting an interval the moment the state CHANGES
    (append mode). The currently-open run lives in per-key state — the
    streaming-native form of an SCD-2 dimension feed, where the closed
    interval is what gets merged into the dim table.

    Correct under in-order delivery per key (the micro-batch is sorted
    on (ts, event_id); cross-batch reordering would need an event-time
    buffer — the standard caveat for stream run-length encoding).
    Money accumulates as integer cents in state, matching the engine's
    exact-decimal discipline, so emitted totals equal the batch twin's
    bit-for-bit. Per-key state is one open run: O(1).
    """

    def update_intervals(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        import pandas as pd  # noqa: F811 — resolved on the worker
        from decimal import Decimal as _Decimal
        from decimal import ROUND_HALF_UP as _ROUND_HALF_UP

        (user_id,) = key
        cur = tuple(state.get) if state.exists else None
        out: dict[str, list] = {
            "user_id": [],
            "event_type": [],
            "valid_from": [],
            "valid_to": [],
            "n_events": [],
            "total_value": [],
        }

        def close(run: tuple) -> None:
            etype, from_us, to_us, n, cents = run
            out["user_id"].append(user_id)
            out["event_type"].append(etype)
            out["valid_from"].append(pd.Timestamp(from_us, unit="us"))
            out["valid_to"].append(pd.Timestamp(to_us, unit="us"))
            out["n_events"].append(n)
            out["total_value"].append(cents / 100.0)

        for pdf in pdfs:
            for r in pdf.sort_values(["ts", "event_id"]).itertuples():
                ts_us = int(pd.Timestamp(r.ts).value // 1000)
                # HALF_UP via Decimal, matching batch e13's CAST to
                # DECIMAL(18,2): float round() is banker's and would
                # diverge on inputs carrying >2 decimals (0.125 -> 12
                # vs 13 cents)
                cents = int(
                    _Decimal(str(r.value)).quantize(
                        _Decimal("0.01"), rounding=_ROUND_HALF_UP
                    )
                    * 100
                )
                if cur is None:
                    cur = (r.event_type, ts_us, ts_us, 1, cents)
                elif cur[0] == r.event_type:
                    cur = (cur[0], cur[1], ts_us, cur[3] + 1, cur[4] + cents)
                else:
                    close(cur)
                    cur = (r.event_type, ts_us, ts_us, 1, cents)
        if cur is not None:
            state.update(cur)
        yield pd.DataFrame(out)

    return (
        events.select("user_id", "ts", "event_id", "event_type", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update_intervals,
            outputStructType=INTERVAL_OUTPUT_SCHEMA,
            stateStructType=INTERVAL_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


ROLLING_OUTPUT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("user_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("n_1h", LongType()),
        StructField("value_1h", DoubleType()),
    ]
)

ROLLING_STATE_SCHEMA = StructType(
    [
        StructField("secs", ArrayType(LongType())),
        StructField("ns", ArrayType(LongType())),
        StructField("cents", ArrayType(LongType())),
    ]
)


def rolling_window_stream(events: DataFrame) -> DataFrame:
    """Streaming twin of the batch ``e16_rolling_1h`` RANGE-frame
    window: per event, the trailing-hour count and exact money
    sum for its user — the per-event rolling baseline behind rate
    limits and anomaly scores, which Structured Streaming's built-in
    (bucketed) windows cannot express. State per user is the deque of
    per-SECOND aggregates inside the trailing window (≤ 3601
    entries — bounded, independent of event rate within a second).

    Events are folded second-at-a-time: all events of one event-time
    second enter the deque BEFORE any of them emits, reproducing the
    batch RANGE frame's peers-inclusive semantics, and money
    accumulates as integer cents (HALF_UP, the batch decimal cast's
    rounding) — so emitted rows equal the batch twin's bit-for-bit.
    Correct under in-order delivery per key, with the second-boundary
    caveat: a micro-batch split mid-second would emit the first part
    of that second without its later peers (same in-order caveat as
    ``change_interval_stream``; an event-time buffer is the general
    fix).
    """

    def update_rolling(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        import pandas as pd  # noqa: F811 — resolved on the worker
        from decimal import Decimal as _Decimal
        from decimal import ROUND_HALF_UP as _ROUND_HALF_UP

        (user_id,) = key
        if state.exists:
            secs, ns, cents = (list(x) for x in state.get)
        else:
            secs, ns, cents = [], [], []
        rows: list = []
        for pdf in pdfs:
            for r in pdf.itertuples():
                rows.append(r)
        rows.sort(key=lambda r: (pd.Timestamp(r.ts).value, r.event_id))
        out: dict[str, list] = {
            k: [] for k in ("event_id", "user_id", "ts", "n_1h", "value_1h")
        }
        i = 0
        while i < len(rows):
            sec = pd.Timestamp(rows[i].ts).value // 1_000_000_000
            j, n, c = i, 0, 0
            while (
                j < len(rows)
                and pd.Timestamp(rows[j].ts).value // 1_000_000_000 == sec
            ):
                n += 1
                c += int(
                    _Decimal(str(rows[j].value)).quantize(
                        _Decimal("0.01"), rounding=_ROUND_HALF_UP
                    )
                    * 100
                )
                j += 1
            if secs and secs[-1] == sec:
                ns[-1] += n
                cents[-1] += c
            else:
                secs.append(sec)
                ns.append(n)
                cents.append(c)
            while secs and secs[0] < sec - 3600:
                secs.pop(0)
                ns.pop(0)
                cents.pop(0)
            tot_n, tot_c = sum(ns), sum(cents)
            for kk in range(i, j):
                out["event_id"].append(rows[kk].event_id)
                out["user_id"].append(user_id)
                out["ts"].append(pd.Timestamp(rows[kk].ts))
                out["n_1h"].append(tot_n)
                out["value_1h"].append(tot_c / 100.0)
            i = j
        state.update((secs, ns, cents))
        yield pd.DataFrame(out)

    return (
        events.select("user_id", "ts", "event_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update_rolling,
            outputStructType=ROLLING_OUTPUT_SCHEMA,
            stateStructType=ROLLING_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Streaming EWMA (ordered-fold twin of batch e22)
# ---------------------------------------------------------------------------

EWMA_OUTPUT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("user_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("n_events", LongType()),
        StructField("ewma_value", DoubleType()),
    ]
)

EWMA_STATE_SCHEMA = StructType(
    [StructField("n", LongType()), StructField("ewma", DoubleType())]
)


def ewma_stream(events: DataFrame) -> DataFrame:
    """Streaming twin of batch ``e22_ewma``: per event, the running
    exponentially-weighted average of the user's values —
    s_i = (1-α)·s_{i-1} + α·x_i, s_1 = x_1, α = 0.5 — maintained as TWO
    scalars of per-user state (the whole point of EWMA at scale: the
    batch twin's collected sequence becomes O(1) state here).

    At α = 0.5 every multiply is exact in binary floating point, so
    the stream's row for a user's latest event equals the batch fold
    bit-for-bit (pinned by the batch≡stream test). Same in-order-per-key
    caveat as the other stateful operators; the fold itself sorts each
    micro-batch by (event-time, event_id)."""

    def update_ewma(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        import pandas as pd  # noqa: F811 — resolved on the worker

        (user_id,) = key
        if state.exists:
            n, s = state.get
        else:
            n, s = 0, 0.0
        rows: list = []
        for pdf in pdfs:
            rows.extend(pdf.itertuples())
        rows.sort(key=lambda r: (pd.Timestamp(r.ts).value, r.event_id))
        out: dict[str, list] = {
            k: [] for k in ("event_id", "user_id", "ts", "n_events", "ewma_value")
        }
        for r in rows:
            v = float(r.value)
            # identical operation order to the batch/oracle fold:
            # acc*(1-α) + x*α, seeded with the first value
            s = v if n == 0 else s * (1.0 - 0.5) + v * 0.5
            n += 1
            out["event_id"].append(r.event_id)
            out["user_id"].append(user_id)
            out["ts"].append(pd.Timestamp(r.ts))
            out["n_events"].append(n)
            out["ewma_value"].append(s)
        state.update((n, s))
        yield pd.DataFrame(out)

    return (
        events.select("user_id", "ts", "event_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update_ewma,
            outputStructType=EWMA_OUTPUT_SCHEMA,
            stateStructType=EWMA_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Streaming burst detection (stateful trailing-window twin of batch e33)
# ---------------------------------------------------------------------------

BURST_OUTPUT_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("minute_idx", LongType()),
        StructField("n_events", LongType()),
        StructField("trailing_avg", DoubleType()),
        StructField("is_burst", BooleanType()),
    ]
)

BURST_STATE_SCHEMA = StructType(
    [
        StructField("minutes", ArrayType(LongType())),
        StructField("counts", ArrayType(LongType())),
    ]
)


def burst_stream(events: DataFrame) -> DataFrame:
    """Streaming twin of batch ``e33_burst_detection``: per event type,
    a minute is a burst when its event count reaches 2x the trailing-
    hour per-active-minute average (PRECEDING minutes only, >=
    5 active trailing minutes to keep cold starts quiet).
    The online form of the rate-anomaly gate — ``anomaly_score_stream``
    scores against an OFFLINE-fitted baseline; this one maintains the
    trailing baseline IN STATE, which Structured Streaming's built-in
    windows cannot express (the frame is over ACTIVE minutes, not wall
    time).

    State per event type is the (minute, count) deque of the trailing
    window — bounded at 61 entries regardless of
    event rate. Minutes are floor(epoch_us/60e6) — the e33/e28/e30
    discipline: exact integer bucketing, identical to the batch form on
    every input including fractional pre-epoch timestamps. The trailing
    average is the same single IEEE division the batch window computes,
    so closed minutes are bit-equal to e33's rows.

    Correct under in-order delivery per key at MINUTE granularity: all
    events of one (type, minute) must arrive before a later minute's
    (the rolling_window_stream caveat one level up — a micro-batch
    split mid-minute emits that minute's partial count; an event-time
    buffer keyed on the watermark is the general fix). Un-timestamped
    events are dropped explicitly, as in the batch twin.
    """

    def update_bursts(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        import pandas as pd  # noqa: F811 — resolved on the worker

        (event_type,) = key
        if state.exists:
            minutes, counts = (list(x) for x in state.get)
        else:
            minutes, counts = [], []
        per_minute: dict[int, int] = {}
        for pdf in pdfs:
            us = pdf["ts"].astype("int64") // 1000  # ns -> us, exact ints
            for m, c in (us // 60_000_000).value_counts().items():
                per_minute[int(m)] = per_minute.get(int(m), 0) + int(c)
        out: dict[str, list] = {
            k: []
            for k in ("event_type", "minute_idx", "n_events", "trailing_avg", "is_burst")
        }
        for m in sorted(per_minute):
            n = per_minute[m]
            if minutes and minutes[-1] == m:
                # continuation of a minute already emitted (mid-minute
                # micro-batch split): fold into state so LATER minutes
                # see the full count in their trailing average; the
                # documented caveat is the partial emit, not state rot
                counts[-1] += n
                n = counts[-1]
            else:
                minutes.append(m)
                counts.append(n)
            while minutes and minutes[0] < m - 60:
                minutes.pop(0)
                counts.pop(0)
            trail_n = [c for mm, c in zip(minutes, counts) if mm < m]
            if trail_n:
                avg = float(sum(trail_n)) / float(len(trail_n))
                burst = len(trail_n) >= 5 and float(n) >= 2.0 * avg
            else:
                avg, burst = None, False
            out["event_type"].append(event_type)
            out["minute_idx"].append(m)
            out["n_events"].append(n)
            out["trailing_avg"].append(avg)
            out["is_burst"].append(burst)
        state.update((minutes, counts))
        yield pd.DataFrame(out)

    return (
        events.filter("ts IS NOT NULL")
        .select("event_type", "ts")
        .groupBy("event_type")
        .applyInPandasWithState(
            update_bursts,
            outputStructType=BURST_OUTPUT_SCHEMA,
            stateStructType=BURST_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
