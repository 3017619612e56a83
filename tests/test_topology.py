"""End-to-end async RPC topology: 6 streaming queries + 4 service simulators
over file topics, golden-compared against the in-process batch pipeline."""

import pytest

from bigtwine_streamprocessor_spark.streaming import topology
from tests.topology_drive import (
    assert_matches_batch,
    parsed_batch,
    wait_results,
    write_feed,
)

N_TWEETS = 30


def test_topology_source_has_no_driver_collects():
    """Scale guard: every hop (including the Q2-Q5 response parsers) must
    shape messages on executors — no collect()/toPandas()/toLocalIterator of
    item-bearing data anywhere in the topology module."""
    import inspect

    from bigtwine_streamprocessor_spark.streaming import topology as topo_mod

    src = inspect.getsource(topo_mod)
    for banned in (".collect(", ".toPandas(", ".toLocalIterator("):
        assert banned not in src, f"driver-side drain found: {banned}"


@pytest.mark.slow
def test_async_topology_matches_batch(spark, sf_dir, tmp_path):
    batch = parsed_batch(spark, sf_dir, N_TWEETS)
    n = batch.count()
    # feed the tweet stream as one json-lines file
    stream = write_feed(spark, batch, tmp_path / "tweets_in")()
    with topology.start_topology(
        spark, str(tmp_path / "topics"), stream, "a-topo", timeout_ms=20_000
    ) as run:
        results = wait_results(run, n, 120)
    # golden-compare against the in-process batch pipeline on the same tweets
    assert_matches_batch(results, batch)


# ---------------------------------------------------------------------------
# Idempotent epoch-replay publish (transport-level exactly-once)
# ---------------------------------------------------------------------------

def test_named_publish_is_idempotent(tmp_path):
    """A replayed micro-batch must land exactly once — the file-transport
    analog of a transactional Kafka producer. The reference restarts its
    Flink job from checkpoints and relies on broker-side semantics
    (`TwitterStreamJob.java:227-229`); here the unit of commitment is the
    EPOCH: writes stage (invisible to readers) until commit_epoch promotes
    them atomically, a committed epoch's replay is skipped wholesale, and a
    retried task within one attempt collapses onto its partition name."""
    import os

    from bigtwine_streamprocessor_spark.streaming import transport

    topic = transport.FileTopic(str(tmp_path), "requests")
    writer = topic.line_writer(fname_prefix="q1-e7")
    rows = [{"value": "a"}, {"value": "b"}]
    writer(iter(rows))          # original attempt (staged)
    writer(iter(rows))          # task retry within the attempt: same name
    assert topic.read_all() == []  # staged = invisible until commit
    topic.commit_epoch("q1-e7")
    assert topic.read_all() == ["a", "b"]
    # committed epoch: the whole replay is skipped by the driver guard...
    assert topic.epoch_committed("q1-e7")
    # ...and even a stray late write cannot disturb the committed files
    topic.begin_epoch("q1-e7")
    writer(iter([{"value": "DIFFERENT"}]))
    topic.commit_epoch("q1-e7")  # no-op: already committed
    assert topic.read_all() == ["a", "b"]
    files = [f for f in os.listdir(os.path.join(topic.dir, "q1-e7"))]
    assert files == ["p0.json"]


def test_replayed_epoch_with_different_partitioning_is_exact(tmp_path):
    """The r8-advisor hole: a crash mid-epoch followed by a restart that
    REPARTITIONS the batch (different parallelism) must neither lose rows
    nor duplicate them. Partition-name dedup alone fails both ways; the
    stage-discard-rerun discipline recovers exactly the replay's rows."""
    from bigtwine_streamprocessor_spark.streaming import transport

    topic = transport.FileTopic(str(tmp_path), "t")
    # attempt 1: two partitions, crash before commit (p1 never ran)
    transport.append_lines_to_dir(
        topic.dir, ["a"], fname=f"{transport.STAGING}/q1-e3/p0"
    )
    assert topic.read_all() == []  # nothing visible
    # restart: the SAME epoch arrives repacked as ONE partition with a
    # different row order; the driver guard discards the stale staging
    assert not topic.epoch_committed("q1-e3")
    topic.begin_epoch("q1-e3")
    transport.append_lines_to_dir(
        topic.dir, ["b", "a"], fname=f"{transport.STAGING}/q1-e3/p0"
    )
    topic.commit_epoch("q1-e3")
    assert topic.read_all() == ["b", "a"]  # replay's rows, exactly once


def test_empty_epoch_commits_a_skip_marker(tmp_path):
    from bigtwine_streamprocessor_spark.streaming import transport

    topic = transport.FileTopic(str(tmp_path), "t")
    topic.begin_epoch("q2-e0")
    topic.commit_epoch("q2-e0")  # no partition published anything
    assert topic.epoch_committed("q2-e0")
    assert topic.read_all() == []


def test_unnamed_publish_stays_at_least_once(tmp_path):
    """Without a name the uuid path appends every call (the shape
    ``SpoolTxnProducer.commit_transaction`` relies on)."""
    from bigtwine_streamprocessor_spark.streaming import transport

    topic = transport.FileTopic(str(tmp_path), "t")
    transport.append_lines_to_dir(topic.dir, ["x"])
    transport.append_lines_to_dir(topic.dir, ["x"])
    assert topic.read_all() == ["x", "x"]


def test_distinct_epochs_and_partitions_do_not_collide(tmp_path):
    from bigtwine_streamprocessor_spark.streaming import transport

    topic = transport.FileTopic(str(tmp_path), "t")
    st = transport.STAGING
    transport.append_lines_to_dir(topic.dir, ["e0"], fname=f"{st}/q3-e0/p0")
    transport.append_lines_to_dir(topic.dir, ["e1"], fname=f"{st}/q3-e1/p0")
    transport.append_lines_to_dir(topic.dir, ["p1"], fname=f"{st}/q3-e1/p1")
    topic.commit_epoch("q3-e0")
    topic.commit_epoch("q3-e1")
    assert sorted(topic.read_all()) == ["e0", "e1", "p1"]


def test_envelope_writer_replay_single_shot(tmp_path):
    """Envelopes mint a fresh requestId per attempt, so name-level dedup is
    what keeps a replayed request batch single-shot."""
    import json as _json

    from bigtwine_streamprocessor_spark.streaming import transport

    topic = transport.FileTopic(str(tmp_path), "reqs")
    writer = topic.envelope_writer("reply.topic", chunk=None, fname_prefix="q2-e3")
    rows = [{"item": _json.dumps({"tag": "t1", "text": "hi"})}]
    writer(iter(rows))
    writer(iter(rows))  # task retry: new requestId inside, same staged name
    topic.commit_epoch("q2-e3")
    lines = topic.read_all()
    assert len(lines) == 1
    env = _json.loads(lines[0])
    assert env["outputTopic"] == "reply.topic"


@pytest.mark.slow
def test_topology_restart_is_exactly_once(spark, sf_dir, tmp_path):
    """Hard-stop the live topology mid-stream, restart it from the same
    checkpoints/topics, and require the final result set to be EXACTLY the
    batch golden — no lost tweets, no duplicates, no concat-doubled
    entities. This is the integration proof of the three recovery pieces:
    idempotent epoch-replay publish names (writers), durable service
    "consumer offsets" (simulators), and checkpointed fan-in state
    (`test_fanin_state_survives_checkpoint_restart` covers the unit). The
    reference gets the analogous guarantee from Flink checkpoints plus
    broker semantics (`TwitterStreamJob.java:227-229`)."""
    batch = parsed_batch(spark, sf_dir, N_TWEETS)
    n = batch.count()
    # several input files so the stop lands between epochs with work in
    # flight (maxFilesPerTrigger=1 -> one epoch per file)
    make_stream = write_feed(spark, batch, tmp_path / "tweets_in", files=6)
    root = str(tmp_path / "topics")

    # ---- first life: run until SOME results exist, then hard-stop --------
    with topology.start_topology(
        spark, root, make_stream(), "a-topo", timeout_ms=60_000
    ) as run:
        wait_results(run, 1, 90)
    mid = len(run.topics["results"].read_all())
    assert mid < n, "stop landed after completion; nothing left to recover"

    # ---- second life: same root (checkpoints + topics + svc offsets) -----
    with topology.start_topology(
        spark, root, make_stream(), "a-topo", timeout_ms=60_000
    ) as run:
        results = wait_results(run, n, 150)

    # exactly-once: n results, one per tweet, none partial, each equal to
    # the in-process batch pipeline's
    assert_matches_batch(results, batch)


def test_topic_counter_matches_read_all(tmp_path):
    """Incremental polling counter must agree with a full re-read at every
    point, including across named and unnamed publishes."""
    from bigtwine_streamprocessor_spark.streaming import transport

    topic = transport.FileTopic(str(tmp_path), "t")
    counter = transport.TopicCounter(topic)
    assert counter.count() == 0
    transport.append_lines_to_dir(topic.dir, ["a", "b"])
    assert counter.count() == len(topic.read_all()) == 2
    st = transport.STAGING
    transport.append_lines_to_dir(topic.dir, ["c"], fname=f"{st}/q1-e0/p0")
    assert counter.count() == 2  # staged files are invisible to pollers too
    transport.append_lines_to_dir(
        topic.dir, ["dup"], fname=f"{st}/q1-e0/p0"
    )  # skipped
    topic.commit_epoch("q1-e0")
    assert counter.count() == len(topic.read_all()) == 3
    transport.append_lines_to_dir(topic.dir, ["d", "e", "f"])
    assert counter.count() == len(topic.read_all()) == 6
    assert counter.count() == 6  # idempotent poll


@pytest.mark.filterwarnings("ignore::pytest.PytestUnhandledThreadExceptionWarning")
def test_dead_simulator_names_its_request_file(tmp_path):
    """A simulator that dies on a request file records the file and the
    error, leaves that file's offset uncommitted (a restart retries it),
    and TopologyRun.check() reports the cause. One that dies partway
    through a file publishes nothing for it; the next life answers the
    whole file in one response file, and the life after answers nothing."""
    import json as _json
    import os
    import time

    from bigtwine_streamprocessor_spark.streaming import transport

    req = transport.FileTopic(str(tmp_path), "ner-requests")
    resp = transport.FileTopic(str(tmp_path), "ner-responses")
    transport.append_lines_to_dir(req.dir, ["not json"], fname="bad")
    offsets = str(tmp_path / "offsets.log")
    sim = transport.ServiceSimulator(
        req, resp, transport.ner_service, poll_s=0.05, offsets_path=offsets
    )
    sim.start()
    sim.join(5)
    assert not sim.is_alive(), "the simulator must die on a bad request"
    assert "bad.json" in sim.error and "JSONDecodeError" in sim.error
    logged = open(offsets).read() if os.path.exists(offsets) else ""
    assert "bad.json" not in logged
    assert resp.read_all() == []
    with pytest.raises(
        RuntimeError, match=r"service simulator ner died: .*bad\.json.*JSONDecodeError"
    ):
        topology.TopologyRun([], [sim], {}).check()

    # ---- killed mid-file: the second of two envelopes raises ------------
    req = transport.FileTopic(str(tmp_path / "mid"), "ner-requests")
    resp = transport.FileTopic(str(tmp_path / "mid"), "ner-responses")
    envs = [
        transport.make_envelope([{"tag": "1", "text": "spark"}], "ner-responses.a"),
        transport.make_envelope([{"tag": "2", "text": "join"}], "ner-responses.a"),
    ]
    transport.append_lines_to_dir(req.dir, envs, fname="two")
    offsets = str(tmp_path / "mid" / "offsets.log")
    calls = []

    def dies_on_second(items):
        calls.append(items)
        if len(calls) == 2:
            raise RuntimeError("killed mid-file")
        return transport.ner_service(items)

    def life(fn):
        s = transport.ServiceSimulator(
            req, resp, fn, poll_s=0.05, offsets_path=offsets
        )
        s.start()
        return s

    first = life(dies_on_second)
    first.join(5)
    assert not first.is_alive() and len(calls) == 2
    assert "two.json" in first.error and "killed mid-file" in first.error
    assert not os.path.exists(offsets) or "two.json" not in open(offsets).read()
    assert transport._visible_json_files(resp.dir) == []

    second = life(transport.ner_service)
    deadline = time.time() + 10
    while second.answered < 1 and time.time() < deadline:
        time.sleep(0.05)
    second.stop()
    second.join(5)
    assert not second.is_alive() and second.error is None
    assert transport._visible_json_files(resp.dir) == ["r-two.json"]
    answers = [_json.loads(ln) for ln in resp.read_all()]
    assert [a["requestId"] for a in answers] == [
        _json.loads(e)["requestId"] for e in envs
    ]
    assert [a["items"][0]["tag"] for a in answers] == ["1", "2"]
    assert "two.json" in open(offsets).read()

    third_calls = []
    third = life(lambda items: third_calls.append(items) or [])
    time.sleep(0.5)
    third.stop()
    third.join(5)
    assert not third.is_alive() and third.error is None and third_calls == []
    assert transport._visible_json_files(resp.dir) == ["r-two.json"]



def _idle_query(rows, ago_s, busy=False, state_rows=0):
    """StreamingQuery stand-in between triggers: its last batch read
    ``rows`` rows and ended ``ago_s`` seconds ago."""
    import datetime
    import time
    from types import SimpleNamespace

    start = datetime.datetime.fromtimestamp(
        time.time() - ago_s - 1, datetime.timezone.utc
    )
    lp = {
        "batchId": 3,
        "numInputRows": rows,
        "timestamp": start.isoformat(),
        "durationMs": {"triggerExecution": 1000},
        "stateOperators": [{"numRowsTotal": state_rows}],
    }
    status = {"isTriggerActive": busy, "isDataAvailable": busy}
    return SimpleNamespace(
        isActive=True, lastProgress=lp, recentProgress=[lp], status=status
    )


def test_idle_topology_stops_short_and_describes_itself(tmp_path):
    """wait_results(idle_s=...) gives up once no query has read input for
    idle_s, but not while a query is busy on data or holds fan-in state;
    describe() names each hop's last batch and each topic's file count."""
    import time

    from bigtwine_streamprocessor_spark.streaming import transport

    results = transport.FileTopic(str(tmp_path), "results")
    transport.append_lines_to_dir(results.dir, ["r1", "r2"])
    run = topology.TopologyRun(
        [_idle_query(6, 0.0), _idle_query(0, 0.0)], [], {"results": results}
    )
    t = time.time()
    assert run.wait_results(6, timeout_s=30, idle_s=1.0) == 2
    assert 1.0 <= time.time() - t < 10
    text = run.describe()
    assert "q1: batch 3, 6 rows in, last input" in text
    assert "q2: batch 3, 0 rows in, last input never" in text
    assert "topic results: 1 files" in text

    for busy in (_idle_query(0, 60, busy=True), _idle_query(0, 60, state_rows=4)):
        run = topology.TopologyRun([busy], [], {"results": results})
        t = time.time()
        assert run.wait_results(6, timeout_s=2.0, idle_s=0.5) == 2
        assert time.time() - t >= 2.0, "a busy query must hold the wait"
