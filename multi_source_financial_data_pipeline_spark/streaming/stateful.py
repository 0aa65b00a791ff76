"""Custom stateful streaming operator via ``applyInPandasWithState``
(SURVEY.md §2.9 extension — the reference has no streaming at all).

Running per-key totals across micro-batches: the canonical shape for live
per-ticker statistics (count / sum / min / max maintained incrementally as
batches drain). State is one fixed-size tuple per key — memory is O(keys),
not O(events) — and each batch's update emits the key's new totals, so the
sink always holds the latest value per key.

Exactness note: the running sum is kept in integer cents (the feed sits on a
2-decimal grid), so totals are associative and bit-reproducible regardless of
batch boundaries — the same trick the batch layer's DECIMAL sums use.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING, Any

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

if TYPE_CHECKING:
    import pandas as pd

STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("sum_cents", T.LongType()),
        T.StructField("min_value", T.DoubleType()),
        T.StructField("max_value", T.DoubleType()),
    ]
)

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("key", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("sum_value", T.DoubleType()),
        T.StructField("min_value", T.DoubleType()),
        T.StructField("max_value", T.DoubleType()),
    ]
)


def running_totals(stream: DataFrame) -> DataFrame:
    """Per-key running (count, sum, min, max) maintained in group state;
    emits the updated totals for every key seen in each micro-batch."""

    def update(
        key: tuple[Any, ...],
        batches: Iterator["pd.DataFrame"],
        state: GroupState,
    ) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        n, sum_cents, mn, mx = (
            state.get if state.exists else (0, 0, None, None)
        )
        for pdf in batches:
            vals = pdf["value"]
            n += len(vals)
            # per-value integer cents: exact and associative across
            # arbitrary batch splits
            sum_cents += int((vals * 100).round().astype("int64").sum())
            bmn, bmx = float(vals.min()), float(vals.max())
            mn = bmn if mn is None else min(mn, bmn)
            mx = bmx if mx is None else max(mx, bmx)
        state.update((n, sum_cents, mn, mx))
        yield pd.DataFrame(
            {
                "key": [key[0]],
                "n_events": [n],
                "sum_value": [sum_cents / 100.0],
                "min_value": [mn],
                "max_value": [mx],
            }
        )

    return (
        stream.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


SCD2_STATE_SCHEMA = T.StructType(
    [
        T.StructField("cur_state", T.StringType()),
        T.StructField("cur_from_us", T.LongType()),
        T.StructField("cur_from_event", T.LongType()),
    ]
)

SCD2_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("key", T.LongType()),
        T.StructField("state_value", T.StringType()),
        T.StructField("valid_from_us", T.LongType()),
        T.StructField("valid_to_us", T.LongType()),
    ]
)


def scd2_closed_intervals(stream: DataFrame) -> DataFrame:
    """Live type-2 SCD maintenance: per key, group state holds the OPEN
    interval (current attribute value + its start); each arriving change
    CLOSES the previous interval, which is emitted immediately — the sink
    accumulates exactly the closed dimension history while memory stays
    O(keys). The streaming twin of `plans/eventstream.q_scd2_intervals`
    (whose lead-window close needs the future — here the future arrives
    one batch at a time, so the close is event-driven instead).

    Ordering contract: rows are sorted (ts, tiebreak) INSIDE each batch;
    across batches the source must deliver in event-time order (true for
    replay/availableNow drains and for any exactly-once cursor source) —
    the same contract every per-key fold in this repo states."""

    def update(
        key: tuple[Any, ...],
        batches: Iterator["pd.DataFrame"],
        state: GroupState,
    ) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        cur_state, cur_from_us, cur_from_event = (
            state.get if state.exists else (None, None, None)
        )
        closed: list[tuple] = []
        # Drain ALL Arrow chunks and sort the group ONCE: Spark splits a
        # group's micro-batch rows into ~arrow.maxRecordsPerBatch-sized
        # chunks whose relative order after the hash shuffle is arbitrary,
        # so sorting each chunk independently folds events out of time
        # order for any key with more rows than one chunk. Materializing
        # the group's batch is the same per-(key, micro-batch) memory
        # bound the batch applyInPandas folds already carry.
        chunks = [c for c in batches if len(c)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True).sort_values(["ts", "event_id"])
            for row in pdf.itertuples(index=False):
                st = getattr(row, "event_type")
                ts_us = int(getattr(row, "ts").value // 1000)
                if cur_state is None:
                    cur_state, cur_from_us = st, ts_us
                    cur_from_event = int(getattr(row, "event_id"))
                elif st != cur_state:
                    closed.append((key[0], cur_state, cur_from_us, ts_us))
                    cur_state, cur_from_us = st, ts_us
                    cur_from_event = int(getattr(row, "event_id"))
        state.update((cur_state, cur_from_us, cur_from_event))
        yield pd.DataFrame(
            closed,
            columns=["key", "state_value", "valid_from_us", "valid_to_us"],
        )

    return (
        stream.select("user_id", "ts", "event_id", "event_type")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=SCD2_OUTPUT_SCHEMA,
            stateStructType=SCD2_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


DEDUP_STATE_SCHEMA = T.StructType(
    [T.StructField("n_seen", T.LongType())]
)

DEDUP_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("fp", T.StringType()),
        T.StructField("row_id", T.LongType()),
        T.StructField("carry", T.StringType()),
        T.StructField("dedup_class", T.StringType()),
    ]
)


def incremental_dedup_classes(
    stream: DataFrame,
    horizon_ms: int,
) -> DataFrame:
    """Streaming incremental dedup (the streaming twin of
    `plans/llmdata.q_incremental_dedup`): each
    arriving row classifies against (a) a STATIC fingerprint index the
    caller joins on beforehand (``in_index`` — the carried corpus's
    fps, the batch classifier's ``existing`` side) and (b) per-fp group
    state tracking whether the fp was already seen IN the stream:

    - ``dup_of_existing``: fp in the static index — stateless verdict,
      and the fp never allocates a state row (state stays O(new fps),
      not O(stream fps));
    - ``new_unique``: first stream arrival of an un-indexed fp (within a
      batch, first by (ts, event_id) — the deterministic within-batch canon);
    - ``dup_within_delta``: any later arrival of that fp.

    State is one counter per un-indexed fp with an EVENT-TIME timeout at
    ``last seen ts + horizon_ms``: once the watermark passes it, the
    state row is EVICTED, so memory is bounded by the horizon's fp churn
    rather than growing with the stream — the
    `dropDuplicatesWithinWatermark` contract, here with the
    non-survivors classified instead of dropped. The documented price is
    the same as that operator's: a duplicate arriving LATER than the
    horizon re-classifies as new_unique (its state is gone); the eviction
    test pins both directions. The caller must put a ``withWatermark`` on
    the stream (EventTimeTimeout requires one; its delay is the lateness
    tolerance, ``horizon_ms`` the dedup memory); rows are emitted
    append-mode in the batch they arrive (emission never waits on the
    watermark — only eviction uses it).

    Ordering contract (same as `scd2_closed_intervals`): in-order
    delivery across batches; within a batch the group sorts on
    (ts, event_id) before classifying. The stream carries ``fp``, ``ts``,
    ``event_id``, ``carry`` and ``in_index``."""

    def update(
        key: tuple[Any, ...],
        batches: Iterator["pd.DataFrame"],
        state: GroupState,
    ) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        if state.hasTimedOut:
            state.remove()
            return
        chunks = [c for c in batches if len(c)]
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True).sort_values(["ts", "event_id"])
        n_rows = len(pdf)
        # in_index is a property of the fp — constant across the group
        if bool(pdf["in_index"].iloc[0]):
            classes = ["dup_of_existing"] * n_rows
        else:
            (n_seen,) = state.get if state.exists else (0,)
            classes = [
                "new_unique" if n_seen + i == 0 else "dup_within_delta"
                for i in range(n_rows)
            ]
            state.update((n_seen + n_rows,))
            # evict once the watermark passes last-seen + horizon; the
            # max() guard keeps the timeout legal (> current watermark)
            # even if a straggler group's newest event already trails it
            last_ms = int(pdf["ts"].max().value // 1_000_000)
            state.setTimeoutTimestamp(
                max(
                    last_ms + horizon_ms,
                    state.getCurrentWatermarkMs() + 1,
                )
            )
        yield pd.DataFrame(
            {
                "fp": pdf["fp"].to_numpy(),
                "row_id": pdf["event_id"].to_numpy(),
                "carry": pdf["carry"].to_numpy(),
                "dedup_class": classes,
            }
        )

    return (
        stream.select("fp", "ts", "event_id", "carry", "in_index")
        .groupBy("fp")
        .applyInPandasWithState(
            update,
            outputStructType=DEDUP_OUTPUT_SCHEMA,
            stateStructType=DEDUP_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
