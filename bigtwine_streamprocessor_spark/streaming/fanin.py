"""Stateful per-tweet fan-in with completion-or-timeout semantics.

The reference correlates four asynchronous enrichment streams per tweet with a
keyed global window + custom trigger (SURVEY.md §2.5):

* keep a per-key set of which stream types arrived
  (`TwitterStreamTypeWindowTrigger.java:39-66`);
* register a processing-time timer ONCE at the first element (+timeout)
  (`:44-48`) — later fragments must NOT push the deadline forward. Spark's
  ``GroupState`` clears its timeout on every invocation unless re-set, so the
  first-arrival deadline is persisted in state and each invocation re-arms
  with the REMAINING time, preserving the reference's one-shot semantics;
* FIRE_AND_PURGE the instant all four types are present (`:60-62`);
* on the timer: fire a partial result iff the ``status`` fragment arrived,
  else purge the orphan fragments silently (`:69-78`);
* duplicate fragments: the type-set ignores duplicates but entity arrays
  concatenate (`NeelProcessedTweetWindowFunction.java:57-61`) — preserved.

Spark mapping: ``groupBy(tag).applyInPandasWithState`` with
``GroupStateTimeout.ProcessingTimeTimeout``; the opt-in event-time mode runs
the same state function with a data-determined deadline and
``EventTimeTimeout`` (``make_fanin_fn``). The state holds raw fragment JSON
(small, per-key); assembly back to typed columns happens AFTER the stateful
operator with the same JVM-side expressions as the batch path, so batch and
stream produce identical output on bounded input (parity test).

Scale: state is keyed by tweet id — the same single shuffle the reference's
``keyBy`` does (`TwitterStreamJob.java:347`) — and each key's state is O(its
own fragments). With RocksDB state store
(``spark.sql.streaming.stateStore.providerClass``) this runs at cluster scale;
completion-purge keeps the store bounded by the in-flight window, not the
stream length.
"""

from __future__ import annotations

import json
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..schemas import STREAM_TYPES

# Input grain expected by the fan-in: one row per fragment.
FRAGMENT_IN = T.StructType(
    [
        T.StructField("tag", T.StringType(), False),
        T.StructField("stream_type", T.StringType(), False),
        T.StructField("payload_json", T.StringType(), True),
    ]
)

# State: accumulated fragments + arrival bookkeeping.
STATE_SCHEMA = T.StructType(
    [
        T.StructField("status_json", T.StringType(), True),
        T.StructField("entities_json", T.ArrayType(T.StringType()), True),
        T.StructField("resources_json", T.ArrayType(T.StringType()), True),
        T.StructField("location_json", T.StringType(), True),
        T.StructField("received", T.ArrayType(T.StringType()), True),
        # first-arrival deadline (epoch ms): fixed at first element + timeout
        T.StructField("deadline_ms", T.LongType(), True),
    ]
)

# Output: one row per completed (or timed-out partial) tweet.
ASSEMBLED_OUT = T.StructType(
    [
        T.StructField("tag", T.StringType(), False),
        T.StructField("status_json", T.StringType(), True),
        T.StructField("entities_json", T.ArrayType(T.StringType()), True),
        T.StructField("resources_json", T.ArrayType(T.StringType()), True),
        T.StructField("location_json", T.StringType(), True),
        T.StructField("is_partial", T.BooleanType(), False),
    ]
)

COMPLETE_SET = frozenset(STREAM_TYPES)


_STATE_FIELDS = tuple(STATE_SCHEMA.fieldNames())
# the state fields an output row carries, between its tag and is_partial
_ROW_FIELDS = _STATE_FIELDS[:4]
_EMPTY = (None, (), (), None, (), None)  # a key's state before its first fragment


def _emit(tag: str, s: dict[str, Any], partial: bool) -> pd.DataFrame:
    return pd.DataFrame(
        [{"tag": tag, **{k: s[k] for k in _ROW_FIELDS}, "is_partial": partial}]
    )


def _absorb(s: dict[str, Any], st: str, pj) -> None:
    """Fold one fragment row into the accumulating state dict."""
    s["received"].add(st)
    if st == "status":
        s["status_json"] = pj  # last write wins (single status)
    elif st == "linkedTweet":
        # entity arrays CONCAT on duplicates, like the reference
        ents = json.loads(pj) if pj else []
        s["entities_json"].extend(json.dumps(e) for e in ents)
    elif st == "resource":
        res = json.loads(pj) if pj else []
        s["resources_json"].extend(json.dumps(r) for r in res)
    elif st == "decodedLocation":
        s["location_json"] = pj


def make_fanin_fn(timeout_ms: int, event_time: bool = False):
    """Build the applyInPandasWithState function for a given timeout.

    The two deadline kinds differ only in the deadline rule and in how the
    timer is armed:

    * processing time (the reference's trigger): the deadline is the FIRST
      arrival + timeout and never moves; Spark clears the timeout on every
      invocation, so each one re-arms with the REMAINING time;
    * event time (``event_time=True``, input carries ``ts``): the deadline
      is min(fragment event time) + timeout, a DETERMINISTIC function of
      the data, so a replay emits identical partials regardless of arrival
      order, cluster speed or wall clock. The timer fires when the
      WATERMARK passes it (``setTimeoutTimestamp``)."""

    def fanin(
        key: tuple[str], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        tag = key[0]
        s = dict(zip(_STATE_FIELDS, state.get if state.exists else _EMPTY))
        if state.hasTimedOut:
            # timer path: partial emit iff status arrived, else silent purge
            # (`TwitterStreamTypeWindowTrigger.java:69-78`)
            state.remove()
            if s["status_json"] is not None:
                yield _emit(tag, s, True)
            return

        if s["deadline_ms"] is None and not event_time:
            # one-shot timer: the deadline fixes at the FIRST element +
            # timeout (`TwitterStreamTypeWindowTrigger.java:44-48`)
            s["deadline_ms"] = state.getCurrentProcessingTimeMs() + timeout_ms
        s["entities_json"] = list(s["entities_json"])
        s["resources_json"] = list(s["resources_json"])
        s["received"] = set(s["received"])

        for pdf in pdfs:
            for row in pdf.itertuples(index=False):
                if event_time:
                    # EARLIEST event time + timeout: a late-arriving earlier
                    # fragment pulls the deadline back, keeping it
                    # deterministic on the data
                    cand = row.ts.value // 1_000_000 + timeout_ms
                    if s["deadline_ms"] is None or cand < s["deadline_ms"]:
                        s["deadline_ms"] = cand
                _absorb(s, row.stream_type, row.payload_json)

        if s["received"] >= COMPLETE_SET:
            # FIRE_AND_PURGE (`TwitterStreamTypeWindowTrigger.java:60-62`)
            state.remove()
            yield _emit(tag, s, False)
            return
        s["received"] = sorted(s["received"])
        state.update(tuple(s[k] for k in _STATE_FIELDS))
        # the timeout is cleared on every invocation: re-arm the SAME stored
        # deadline (no roll-forward)
        if event_time:
            # Spark rejects timestamps at/below the watermark: clamp above
            state.setTimeoutTimestamp(
                max(s["deadline_ms"], state.getCurrentWatermarkMs() + 1)
            )
        else:
            remaining = s["deadline_ms"] - state.getCurrentProcessingTimeMs()
            state.setTimeoutDuration(max(1, remaining))

    return fanin


def _fanin(fragments: DataFrame, timeout_ms: int, event_time: bool) -> DataFrame:
    timeout = (
        GroupStateTimeout.EventTimeTimeout
        if event_time
        else GroupStateTimeout.ProcessingTimeTimeout
    )
    return fragments.groupBy("tag").applyInPandasWithState(
        make_fanin_fn(timeout_ms, event_time),
        outputStructType=ASSEMBLED_OUT,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=timeout,
    )


def fanin_stream(fragments: DataFrame, timeout_ms: int = 15_000) -> DataFrame:
    """Streaming fan-in: fragments (tag, stream_type, payload_json) ->
    assembled rows. 15 s default timeout = the reference's stream mode
    (`Constants.java:30`); pass 30 s for dataset mode (`:33`).
    """
    return _fanin(fragments, timeout_ms, event_time=False)


# Event-time input grain: fragments carry an event timestamp.
FRAGMENT_IN_TS = T.StructType(
    FRAGMENT_IN.fields + [T.StructField("ts", T.TimestampType(), False)]
)


def fanin_stream_event_time(
    fragments: DataFrame,
    timeout_ms: int = 15_000,
    watermark_delay: str = "10 seconds",
) -> DataFrame:
    """Opt-in event-time fan-in: ``fragments`` must carry an event timestamp
    column ``ts`` (FRAGMENT_IN_TS grain). Completion fires exactly like the
    processing-time mode; the partial-emit timeout is evaluated against the
    WATERMARK (max seen ts - ``watermark_delay``), giving deterministic
    replay semantics for bounded/backfill runs at scale."""
    return _fanin(
        fragments.withWatermark("ts", watermark_delay), timeout_ms, event_time=True
    )


def parse_assembled(assembled: DataFrame) -> DataFrame:
    """Fan-in output -> typed columns (JVM-side from_json, deterministic sort).

    Works on the streaming fan-in's JSON-string output; the batch twin emits
    this typed shape directly, so both paths land on the identical frame.
    """
    from ..schemas import DECODED_LOCATION, LINKED_ENTITY, RESOURCE, TWITTER_STATUS

    ents = F.array_sort(
        F.transform(
            F.col("entities_json"), lambda j: F.from_json(j, LINKED_ENTITY)
        )
    )
    res = F.array_sort(
        F.transform(F.col("resources_json"), lambda j: F.from_json(j, RESOURCE))
    )
    return assembled.select(
        "tag",
        F.from_json("status_json", TWITTER_STATUS).alias("status"),
        ents.alias("entities"),
        res.alias("resources"),
        F.from_json("location_json", DECODED_LOCATION).alias("decoded_location"),
        "is_partial",
    )


def fanin_batch(fragments: DataFrame) -> DataFrame:
    """Batch twin of the streaming fan-in: identical output contract on a
    bounded frame. Pure built-in aggregation + from_json — no Python state.

    Bounded-input semantics of the trigger: complete keys fire; incomplete
    keys hit end-of-input (== the timeout) and emit partial iff status
    present; orphans drop (`TwitterStreamTypeWindowTrigger.java:60-78`).
    """
    from ..schemas import DECODED_LOCATION, LINKED_ENTITY, RESOURCE, TWITTER_STATUS

    agg = (
        fragments.groupBy("tag")
        .agg(
            F.max(
                F.when(F.col("stream_type") == "status", F.col("payload_json"))
            ).alias("status_json"),
            F.array_sort(
                F.flatten(
                    F.collect_list(
                        F.when(
                            F.col("stream_type") == "linkedTweet",
                            F.from_json(
                                F.col("payload_json"), T.ArrayType(LINKED_ENTITY)
                            ),
                        )
                    )
                )
            ).alias("entities"),
            F.array_sort(
                F.flatten(
                    F.collect_list(
                        F.when(
                            F.col("stream_type") == "resource",
                            F.from_json(
                                F.col("payload_json"), T.ArrayType(RESOURCE)
                            ),
                        )
                    )
                )
            ).alias("resources"),
            F.max(
                F.when(
                    F.col("stream_type") == "decodedLocation", F.col("payload_json")
                )
            ).alias("location_json"),
            F.collect_set("stream_type").alias("received"),
        )
        .filter(F.col("status_json").isNotNull())
        .select(
            "tag",
            F.from_json("status_json", TWITTER_STATUS).alias("status"),
            "entities",
            "resources",
            F.from_json("location_json", DECODED_LOCATION).alias("decoded_location"),
            (F.size(F.col("received")) < len(STREAM_TYPES)).alias("is_partial"),
        )
    )
    return agg
