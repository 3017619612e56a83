"""Streaming fan-in: completion firing, timeout partials, orphan purge, and
batch/stream parity (`TwitterStreamTypeWindowTrigger` semantics)."""

import json
import time

import pytest
from pyspark.sql import functions as F

from bigtwine_streamprocessor_spark.streaming import fanin

ENT = {
    "position": {"start": 0, "end": 5},
    "value": None,
    "link": "http://dbpedia.org/resource/spark",
    "isNil": False,
    "nilCluster": None,
    "confidence": 0.9,
    "category": "product",
    "resource": None,
}
RES = {
    "url": "http://dbpedia.org/resource/spark",
    "tag": "1",
    "name": "SPARK",
    "shortDesc": None,
    "thumb": "https://img.example/spark.png",
    "thumbLarger": None,
    "coordinates": None,
}
LOC = {"address": "city_3", "coordinates": {"lat": -5.5, "lng": 24.75}, "tag": "1"}


def _status(tag, text="spark is here"):
    return {
        "id": tag,
        "text": text,
        "retweet": False,
        "lang": "en",
        "coordinates": None,
        "user": None,
    }


def frag(tag, stream_type, payload):
    return {
        "tag": tag,
        "stream_type": stream_type,
        "payload_json": json.dumps(payload) if payload is not None else None,
    }


FRAGMENTS = [
    # tweet 1: complete (4 types, duplicate linkedTweet -> entities concat)
    frag("1", "status", _status("1")),
    frag("1", "linkedTweet", [ENT]),
    frag("1", "linkedTweet", [ENT]),
    frag("1", "resource", [RES]),
    frag("1", "decodedLocation", LOC),
    # tweet 2: status only -> timeout partial
    frag("2", "status", _status("2", "no enrichments arrived")),
    # tweet 3: orphan fragments without status -> purged silently
    frag("3", "linkedTweet", [ENT]),
    frag("3", "resource", []),
]


class _FakeState:
    """Minimal GroupState stand-in to drive make_fanin_fn deterministically
    (processing time, or watermark + absolute timestamps)."""

    def __init__(self, now_ms=1_000_000, watermark_ms=0):
        self.now_ms = now_ms
        self.watermark_ms = watermark_ms
        self._state = None
        self.hasTimedOut = False
        self.armed_ms = None  # last setTimeoutDuration argument
        self.timeout_ts = None  # last setTimeoutTimestamp argument

    @property
    def exists(self):
        return self._state is not None

    @property
    def get(self):
        return self._state

    def update(self, t):
        self._state = tuple(t)

    def remove(self):
        self._state = None

    def setTimeoutDuration(self, ms):
        self.armed_ms = ms

    def getCurrentProcessingTimeMs(self):
        return self.now_ms

    def setTimeoutTimestamp(self, ms):
        self.timeout_ts = ms

    def getCurrentWatermarkMs(self):
        return self.watermark_ms


def _pdf(frs):
    import pandas as pd

    return iter([pd.DataFrame([frag(**f) for f in frs])])


def test_fanin_timeout_is_one_shot_not_rolling():
    """The partial-emit timer must fire at FIRST-element + period even while
    later (duplicate / non-status) fragments keep arriving
    (`TwitterStreamTypeWindowTrigger.java:44-48`: timer registered once)."""
    fn = fanin.make_fanin_fn(timeout_ms=10_000)
    st = _FakeState(now_ms=1_000_000)

    # first fragment arrives at t=1_000_000 -> armed for the full 10s
    list(fn(("7",), _pdf([dict(tag="7", stream_type="linkedTweet", payload=[ENT])]), st))
    assert st.armed_ms == 10_000
    deadline = st._state[5]
    assert deadline == 1_010_000

    # 6s later another non-status fragment trickles in: deadline must NOT
    # move -> re-armed with the REMAINING 4s, not a fresh 10s
    st.now_ms = 1_006_000
    list(fn(("7",), _pdf([dict(tag="7", stream_type="resource", payload=[])]), st))
    assert st._state[5] == deadline, "deadline must stay at first arrival + period"
    assert st.armed_ms == 4_000

    # past the deadline: remaining clamps to the 1ms minimum (fires next tick)
    st.now_ms = 1_011_000
    list(fn(("7",), _pdf([dict(tag="7", stream_type="resource", payload=[])]), st))
    assert st.armed_ms == 1

    # timer fires: no status arrived -> orphan purge, no emit
    st.hasTimedOut = True
    out = list(fn(("7",), iter([]), st))
    assert out == [] and not st.exists


def test_fanin_duplicate_status_last_write_wins_no_double_emit():
    """Duplicate STATUS fragments: the accumulator keeps the LAST status
    (single-slot overwrite, `NeelProcessedTweetWindowFunction.java:57-61`)
    and completion still fires exactly once — the duplicate must not
    double-emit or resurrect state. Entities concat (the already-tested
    duplicate class) is unaffected by the status overwrite."""
    fn = fanin.make_fanin_fn(timeout_ms=10_000)

    # same-batch duplicates: status A then status B + the 3 other types
    st = _FakeState(now_ms=1_000_000)
    out = list(
        fn(
            ("9",),
            _pdf(
                [
                    dict(tag="9", stream_type="status", payload=_status("9", "first")),
                    dict(tag="9", stream_type="linkedTweet", payload=[ENT]),
                    dict(tag="9", stream_type="status", payload=_status("9", "second")),
                    dict(tag="9", stream_type="resource", payload=[RES]),
                    dict(tag="9", stream_type="decodedLocation", payload=LOC),
                ]
            ),
            st,
        )
    )
    assert len(out) == 1 and len(out[0]) == 1  # ONE emitted row
    row = out[0].iloc[0]
    assert json.loads(row["status_json"])["text"] == "second"  # last wins
    assert len(row["entities_json"]) == 1
    assert bool(row["is_partial"]) is False
    assert not st.exists  # FIRE_AND_PURGE: no state left to re-emit

    # cross-invocation duplicates: A arrives, then B + the rest later
    st = _FakeState(now_ms=1_000_000)
    list(
        fn(
            ("10",),
            _pdf([dict(tag="10", stream_type="status", payload=_status("10", "early"))]),
            st,
        )
    )
    assert st.exists and not st.hasTimedOut
    st.now_ms = 1_004_000
    out = list(
        fn(
            ("10",),
            _pdf(
                [
                    dict(tag="10", stream_type="status", payload=_status("10", "late")),
                    dict(tag="10", stream_type="linkedTweet", payload=[ENT]),
                    dict(tag="10", stream_type="resource", payload=[]),
                    dict(tag="10", stream_type="decodedLocation", payload=LOC),
                ]
            ),
            st,
        )
    )
    assert len(out) == 1 and len(out[0]) == 1
    assert json.loads(out[0].iloc[0]["status_json"])["text"] == "late"
    assert not st.exists


def _pdf_ts(frs, ts_ms):
    import pandas as pd

    rows = [
        {**frag(**f), "ts": pd.Timestamp(t, unit="ms")}
        for f, t in zip(frs, ts_ms)
    ]
    return iter([pd.DataFrame(rows)])


def test_fanin_event_time_deadline_is_data_determined():
    """Event-time mode: deadline = min(fragment event time) + timeout — a
    pure function of the data. Late-arriving EARLIER fragments pull the
    deadline back; wall clock never enters."""
    fn = fanin.make_fanin_fn(timeout_ms=10_000, event_time=True)
    st = _FakeState()

    list(fn(("7",), _pdf_ts(
        [dict(tag="7", stream_type="linkedTweet", payload=[ENT])], [50_000]
    ), st))
    assert st._state[5] == 60_000 and st.timeout_ts == 60_000

    # an out-of-order fragment with EARLIER event time (44s) arrives later:
    # the deadline moves BACK to 54s (deterministic on data, not arrival)
    list(fn(("7",), _pdf_ts(
        [dict(tag="7", stream_type="resource", payload=[])], [44_000]
    ), st))
    assert st._state[5] == 54_000 and st.timeout_ts == 54_000

    # Spark rejects timeout timestamps at/below the watermark -> clamp above
    st.watermark_ms = 60_000
    list(fn(("7",), _pdf_ts(
        [dict(tag="7", stream_type="resource", payload=[])], [45_000]
    ), st))
    assert st._state[5] == 54_000, "stored deadline keeps the data value"
    assert st.timeout_ts == 60_001, "armed timestamp clamps past watermark"

    # timer fires without a status fragment -> orphan purge, no emit
    st.hasTimedOut = True
    assert list(fn(("7",), iter([]), st)) == [] and not st.exists


@pytest.mark.parametrize("event_time", [False, True], ids=["processing_time", "event_time"])
def test_fanin_partial_emit_on_timeout(event_time):
    """A status-only key emits one partial when its timer fires, under
    either deadline kind, and leaves no state behind."""
    fn = fanin.make_fanin_fn(timeout_ms=10_000, event_time=event_time)
    st = _FakeState(now_ms=30_000)
    list(fn(("8",), _pdf_ts(
        [dict(tag="8", stream_type="status", payload=_status("8"))], [30_000]
    ), st))
    assert st._state[5] == 40_000
    if event_time:
        assert st.timeout_ts == 40_000
    else:
        assert st.armed_ms == 10_000
    st.hasTimedOut = True
    out = list(fn(("8",), iter([]), st))
    assert len(out) == 1 and bool(out[0].iloc[0]["is_partial"]) is True
    assert json.loads(out[0].iloc[0]["status_json"])["id"] == "8"
    assert not st.exists


def test_fanin_batch_semantics(spark):
    df = spark.createDataFrame(
        [(f["tag"], f["stream_type"], f["payload_json"]) for f in FRAGMENTS],
        schema=fanin.FRAGMENT_IN,
    )
    out = fanin.fanin_batch(df).orderBy("tag").collect()
    assert [r["tag"] for r in out] == ["1", "2"]  # orphan "3" purged
    t1, t2 = out
    assert t1["is_partial"] is False
    assert len(t1["entities"]) == 2  # duplicate fragment -> concat
    assert len(t1["resources"]) == 1
    assert t1["decoded_location"]["coordinates"]["lat"] == -5.5
    assert t2["is_partial"] is True
    assert t2["entities"] == []


@pytest.mark.slow
def test_fanin_event_time_stream_parity_on_replay_corpus(spark, sf_dir, tmp_path):
    """Event-time mode vs fanin_batch on the replay corpus: completions are
    watermark-independent (fire on arrival of the 4th type), incomplete keys
    time out when the watermark passes first-event + timeout. Output must
    equal the batch twin on the emitted keys."""
    from bigtwine_streamprocessor_spark import corpus, fragments as frag_mod
    from bigtwine_streamprocessor_spark.operators.parse import parse_tweets

    parsed = (
        parse_tweets(corpus.tweets_df(spark, sf_dir), skip_retweets=True)
        .orderBy("id")
        .limit(25)
        .cache()
    )
    frags = frag_mod.build_fragments(parsed).collect()

    base = "2026-01-01T00:00:00Z"
    indir = tmp_path / "frags_et"
    indir.mkdir()
    with open(indir / "b1.json", "w") as f:
        for r in frags:
            f.write(json.dumps({**r.asDict(), "ts": base}) + "\n")
        # plus one status-only straggler that must emit partial on timeout
        f.write(
            json.dumps({**frag("straggler", "status", _status("straggler")),
                        "ts": base}) + "\n"
        )

    stream = (
        spark.readStream.schema(fanin.FRAGMENT_IN_TS)
        .option("maxFilesPerTrigger", 1)
        .json(str(indir))
    )
    q = (
        fanin.fanin_stream_event_time(
            stream, timeout_ms=5_000, watermark_delay="2 seconds"
        )
        .writeStream.format("memory")
        .queryName("fanin_et")
        .outputMode("append")
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        n = parsed.count()
        deadline = time.time() + 60
        while time.time() < deadline:
            if spark.sql("SELECT count(*) c FROM fanin_et").first()["c"] >= n:
                break
            time.sleep(0.5)
        # push the watermark past the straggler's deadline (base + 5s):
        # a sentinel fragment 60s later moves wm to base+58s
        with open(indir / "b2.json", "w") as f:
            f.write(
                json.dumps({**frag("sentinel", "status", _status("sentinel")),
                            "ts": "2026-01-01T00:01:00Z"}) + "\n"
            )
        while time.time() < deadline:
            tags = {
                r["tag"] for r in spark.sql("SELECT tag FROM fanin_et").collect()
            }
            if "straggler" in tags:
                break
            time.sleep(0.5)
    finally:
        q.stop()

    rows = {r["tag"]: r for r in spark.sql("SELECT * FROM fanin_et").collect()}
    assert rows["straggler"]["is_partial"] is True, "watermark-driven partial"
    emitted_complete = [t for t, r in rows.items() if not r["is_partial"]]
    assert len(emitted_complete) == n, "every corpus tweet completes"

    stream_typed = fanin.parse_assembled(
        spark.createDataFrame(
            [rows[t] for t in emitted_complete], schema=fanin.ASSEMBLED_OUT
        )
    )
    batch_typed = fanin.fanin_batch(
        frag_mod.build_fragments(parsed)
    )
    canon = lambda df: sorted(
        df.select(F.to_json(F.struct(*sorted(df.columns))).alias("j")).collect()
    )
    assert canon(stream_typed) == canon(batch_typed)
    parsed.unpersist()


@pytest.mark.slow
def test_fanin_stream_completion_timeout_and_parity(spark, tmp_path):
    indir = tmp_path / "frags"
    indir.mkdir()
    # batch 1: everything except tweet 2/3 completions
    with open(indir / "b1.json", "w") as f:
        for fr in FRAGMENTS:
            f.write(json.dumps(fr) + "\n")

    stream = (
        spark.readStream.schema(fanin.FRAGMENT_IN)
        .option("maxFilesPerTrigger", 1)
        .json(str(indir))
    )
    q = (
        fanin.fanin_stream(stream, timeout_ms=1500)
        .writeStream.format("memory")
        .queryName("fanin_out")
        .outputMode("append")
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 30
        while time.time() < deadline:
            done = {
                r["tag"]
                for r in spark.sql("SELECT tag FROM fanin_out").collect()
            }
            if "1" in done:
                break
            time.sleep(0.5)
        assert "1" in done, "complete tweet should fire as soon as all 4 arrive"

        # let the timeout elapse, then feed a new batch so timers evaluate
        time.sleep(2.0)
        with open(indir / "b2.json", "w") as f:
            f.write(json.dumps(frag("9", "status", _status("9"))) + "\n")

        while time.time() < deadline:
            rows = spark.sql("SELECT * FROM fanin_out").collect()
            if {"1", "2"} <= {r["tag"] for r in rows}:
                break
            time.sleep(0.5)
    finally:
        q.stop()

    rows = {r["tag"]: r for r in spark.sql("SELECT * FROM fanin_out").collect()}
    assert rows["1"]["is_partial"] is False
    assert rows["2"]["is_partial"] is True
    assert "3" not in rows, "orphans (no status) must purge without emitting"

    # ---- batch/stream parity on the emitted keys ----
    stream_typed = fanin.parse_assembled(
        spark.createDataFrame(
            [rows["1"], rows["2"]], schema=fanin.ASSEMBLED_OUT
        )
    )
    batch_typed = fanin.fanin_batch(
        spark.createDataFrame(
            [(f["tag"], f["stream_type"], f["payload_json"]) for f in FRAGMENTS],
            schema=fanin.FRAGMENT_IN,
        )
    ).filter(F.col("tag").isin("1", "2"))
    canon = lambda df: sorted(
        df.select(F.to_json(F.struct(*sorted(df.columns))).alias("j")).collect()
    )
    assert canon(stream_typed) == canon(batch_typed)


def _start_fanin(spark, indir, outdir, chk, *, event_time=False, timeout_ms=300_000):
    """Start one fan-in query over ``indir`` into a json file sink with a
    checkpoint. A fresh query object per call: restarting from the same
    ``checkpointLocation`` is exactly the failure-recovery path a long-lived
    cluster job takes, so the state store (not the query object) must carry
    the half-assembled conversations."""
    schema = fanin.FRAGMENT_IN_TS if event_time else fanin.FRAGMENT_IN
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(indir))
    )
    out = (
        fanin.fanin_stream_event_time(stream, timeout_ms=timeout_ms,
                                      watermark_delay="10 seconds")
        if event_time
        else fanin.fanin_stream(stream, timeout_ms=timeout_ms)
    )
    return (
        out.writeStream.format("json")
        .option("path", str(outdir))
        .option("checkpointLocation", str(chk))
        .outputMode("append")
        .trigger(processingTime="500 milliseconds")
        .start()
    )


def _read_out(spark, outdir):
    return {
        r["tag"]: r
        for r in spark.read.schema(fanin.ASSEMBLED_OUT).json(str(outdir)).collect()
    }


def _wait_for_tags(spark, outdir, want, deadline_s=60):
    end = time.time() + deadline_s
    while time.time() < end:
        got = set(_read_out(spark, outdir))
        if want <= got:
            return
        time.sleep(0.5)
    raise AssertionError(f"tags {want} never reached the sink (got {got})")


def _wait_input_committed(q, n_rows, deadline_s=60):
    """Wait until >= n_rows have been READ and a later (empty) batch has
    completed — at that point the data batch's state + sink commit is
    durable in the checkpoint, so a hard stop cannot lose it."""
    end = time.time() + deadline_s
    while time.time() < end:
        progresses = q.recentProgress
        total = sum(p["numInputRows"] for p in progresses)
        if total >= n_rows and progresses and progresses[-1]["numInputRows"] == 0:
            return
        time.sleep(0.5)
    raise AssertionError(f"{n_rows} input rows never committed")


def test_fanin_state_survives_checkpoint_restart(spark, tmp_path):
    """Half-assembled per-key state must survive a stop/restart from the
    checkpoint, and the file sink's commit log must keep output exactly-once
    across the restart. The reference holds this state in Flink's
    checkpointed keyed window backend (`TwitterStreamTypeWindowTrigger`
    state lives in the job's checkpoint); the Spark equivalent is the state
    store under ``checkpointLocation``. At cluster scale restarts are
    routine, so this is a scale-correctness property, not an edge case."""
    indir = tmp_path / "frags"
    indir.mkdir()
    outdir = tmp_path / "out"
    chk = tmp_path / "chk"

    # phase A: tag 10 incomplete (status + linkedTweet), tag 11 complete
    with open(indir / "a.json", "w") as f:
        for fr in [
            frag("10", "status", _status("10")),
            frag("10", "linkedTweet", [ENT]),
            frag("11", "status", _status("11")),
            frag("11", "linkedTweet", [ENT]),
            frag("11", "resource", [RES]),
            frag("11", "decodedLocation", LOC),
        ]:
            f.write(json.dumps(fr) + "\n")
    q = _start_fanin(spark, indir, outdir, chk)
    try:
        _wait_for_tags(spark, outdir, {"11"})
    finally:
        q.stop()
    assert set(_read_out(spark, outdir)) == {"11"}, (
        "incomplete tag must stay in state, not emit"
    )

    # phase B: restart from the same checkpoint; the REST of tag 10 arrives
    with open(indir / "b.json", "w") as f:
        for fr in [
            frag("10", "linkedTweet", [ENT]),
            frag("10", "resource", [RES]),
            frag("10", "decodedLocation", LOC),
        ]:
            f.write(json.dumps(fr) + "\n")
    q = _start_fanin(spark, indir, outdir, chk)
    try:
        _wait_for_tags(spark, outdir, {"10"})
    finally:
        q.stop()
    out = _read_out(spark, outdir)
    assert sorted(out) == ["10", "11"], (
        "each tag exactly once across the restart (sink commit log + "
        "completion purge)"
    )
    assert out["10"]["is_partial"] is False
    # one entity arrived BEFORE the restart, one after: both present proves
    # the accumulated fragments crossed the restart via the state store
    assert len(out["10"]["entities_json"]) == 2


def _frag_ts(tag, stream_type, payload, ts_iso):
    d = frag(tag, stream_type, payload)
    d["ts"] = ts_iso
    return d


def test_fanin_deadline_survives_checkpoint_restart(spark, tmp_path):
    """The one-shot deadline must survive a restart. Event-time mode makes
    this deterministic on the DATA (no wall-clock races): the deadline is
    min(ts)+timeout, the timer fires when the checkpointed WATERMARK passes
    it, so a key whose deadline is crossed by data arriving after recovery
    emits its partial exactly once — and orphans purge without emitting."""
    indir = tmp_path / "frags"
    indir.mkdir()
    outdir = tmp_path / "out"
    chk = tmp_path / "chk"

    t0 = "2026-01-01T00:00:00.000Z"
    # tag 20: status only; tag 21: orphan (no status). timeout 15 s,
    # watermark delay 10 s -> timer fires once watermark > t0+15s,
    # i.e. once max seen ts > t0+25s.
    with open(indir / "a.json", "w") as f:
        f.write(json.dumps(_frag_ts("20", "status", _status("20"), t0)) + "\n")
        f.write(json.dumps(_frag_ts("21", "linkedTweet", [ENT], t0)) + "\n")
    q = _start_fanin(spark, indir, outdir, chk, event_time=True, timeout_ms=15_000)
    try:
        _wait_input_committed(q, 2)
    finally:
        q.stop()
    assert _read_out(spark, outdir) == {}, (
        "watermark has not passed the deadline: nothing may emit yet"
    )

    # restart; a fragment 100 s later pushes the watermark past the deadline
    with open(indir / "b.json", "w") as f:
        f.write(
            json.dumps(
                _frag_ts("22", "status", _status("22"), "2026-01-01T00:01:40.000Z")
            )
            + "\n"
        )
    q = _start_fanin(spark, indir, outdir, chk, event_time=True, timeout_ms=15_000)
    try:
        _wait_for_tags(spark, outdir, {"20"})
    finally:
        q.stop()
    out = _read_out(spark, outdir)
    assert out["20"]["is_partial"] is True, (
        "deadline crossed after recovery must fire the partial"
    )
    assert "21" not in out, "orphan must purge silently after restart too"
