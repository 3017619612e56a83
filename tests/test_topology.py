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
    """Without a name the legacy uuid path appends every call (the shape
    service simulators rely on)."""
    from bigtwine_streamprocessor_spark.streaming import transport

    topic = transport.FileTopic(str(tmp_path), "t")
    topic.append_lines(["x"])
    topic.append_lines(["x"])
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
    writer = topic.envelope_writer("reply.topic", fname_prefix="q2-e3")
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
    topic.append_lines(["a", "b"])
    assert counter.count() == len(topic.read_all()) == 2
    st = transport.STAGING
    transport.append_lines_to_dir(topic.dir, ["c"], fname=f"{st}/q1-e0/p0")
    assert counter.count() == 2  # staged files are invisible to pollers too
    transport.append_lines_to_dir(
        topic.dir, ["dup"], fname=f"{st}/q1-e0/p0"
    )  # skipped
    topic.commit_epoch("q1-e0")
    assert counter.count() == len(topic.read_all()) == 3
    topic.append_lines(["d", "e", "f"])
    assert counter.count() == len(topic.read_all()) == 6
    assert counter.count() == 6  # idempotent poll


@pytest.mark.filterwarnings("ignore::pytest.PytestUnhandledThreadExceptionWarning")
def test_dead_simulator_names_its_request_file(tmp_path):
    """A simulator that dies on a request file records the file and the
    error, leaves that file's offset uncommitted (a restart retries it),
    and TopologyRun.check() reports the cause."""
    import os

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
