"""Kafka transport seam: the one commit path (executor-side staging,
``commit_epoch`` producing each epoch in one transaction with its marker
record) exercised with spool and fake-broker transactional factories; the
real-broker topology run skips without one."""

import json
import os

import pytest

from bigtwine_streamprocessor_spark.streaming import kafka_transport as kt
from bigtwine_streamprocessor_spark.streaming.transport import read_lines
from tests.topology_drive import (
    assert_matches_batch,
    parsed_batch,
    wait_results,
    write_feed,
)


def _topic(tmp_path, name="t", factory=None, stage_root=None):
    """KafkaTopic staging under ``tmp_path/stage`` (or ``stage_root``) whose
    commits go through ``factory`` — by default a SpoolTxnFactory landing
    them under ``tmp_path/spool`` (read back with ``_spool_lines``)."""
    return kt.KafkaTopic(
        "fake:9092",
        name,
        stage_root=stage_root or str(tmp_path / "stage"),
        transactional_factory=factory or kt.SpoolTxnFactory(str(tmp_path / "spool")),
    )


def _spool_lines(tmp_path, topic):
    return read_lines(str(tmp_path / "spool" / topic))


@pytest.mark.skipif(
    not os.environ.get("KAFKA_BOOTSTRAP"),
    reason="no Kafka broker in this environment (set KAFKA_BOOTSTRAP to run)",
)
def test_topology_runs_on_kafka(spark, sf_dir, tmp_path):
    """Config-switch check against a real broker: same dataflow, Kafka topics."""
    from bigtwine_streamprocessor_spark import corpus
    from bigtwine_streamprocessor_spark.operators.parse import parse_tweets
    from bigtwine_streamprocessor_spark.streaming import topology

    bootstrap = os.environ["KAFKA_BOOTSTRAP"]
    topics = kt.make_kafka_topics(bootstrap, topology.TOPIC_NAMES)
    parsed = parse_tweets(corpus.tweets_df(spark, sf_dir)).limit(5)
    stream = (
        spark.readStream.schema(parsed.schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(tmp_path / "in"))
    )
    topology.start_topology(
        spark, str(tmp_path / "chk"), stream, "a-kafka", topics=topics
    ).stop()


class _Rows:
    """Minimal foreachPartition-shaped iterable of {'value': ...} rows."""

    def __init__(self, values):
        self.values = values

    def __iter__(self):
        return iter({"value": v} for v in self.values)


def test_staged_epoch_through_foreachpartition(spark, tmp_path):
    """The staged writer is executor-side (separate Python worker
    processes in local mode): partitions stage via the shared filesystem,
    the driver's commit_epoch drains them — nothing reaches the producer
    until then, across process boundaries."""
    topic = _topic(tmp_path, name="results")
    df = spark.range(40).repartition(4).selectExpr("concat('v-', id) AS value")
    topic.begin_epoch("q1-e0")
    df.foreachPartition(topic.line_writer(fname_prefix="q1-e0"))
    assert _spool_lines(tmp_path, "results") == []
    topic.commit_epoch("q1-e0")
    assert sorted(_spool_lines(tmp_path, "results")) == sorted(
        f"v-{i}" for i in range(40)
    )
    # replayed epoch (repartitioned): epoch_committed short-circuits
    assert topic.epoch_committed("q1-e0") is True
    topic.commit_epoch("q1-e0")
    assert len(_spool_lines(tmp_path, "results")) == 40


def test_staged_epoch_invisible_until_commit(tmp_path):
    """Staged writes produce NOTHING; commit_epoch is the only produce
    (transactional-producer shape, r9 verdict task 4)."""
    topic = _topic(tmp_path)
    topic.begin_epoch("q1-e0")
    topic.line_writer(fname_prefix="q1-e0")(_Rows(["a", "b"]))
    assert _spool_lines(tmp_path, "t") == [], "staged lines leaked to the broker"
    assert topic.epoch_committed("q1-e0") is False
    topic.commit_epoch("q1-e0")
    assert topic.epoch_committed("q1-e0") is True
    assert sorted(_spool_lines(tmp_path, "t")) == ["a", "b"]


def test_committed_epoch_replay_produces_zero_duplicates(tmp_path):
    """A replayed committed epoch — even one whose rerun repartitions the
    batch — publishes nothing: epoch_committed short-circuits the topology's
    _epoch_publish, and a manual re-commit is a no-op."""
    topic = _topic(tmp_path)
    topic.begin_epoch("q1-e7")
    topic.line_writer(fname_prefix="q1-e7")(_Rows(["x", "y", "z"]))
    topic.commit_epoch("q1-e7")
    assert sorted(_spool_lines(tmp_path, "t")) == ["x", "y", "z"]
    # replay: the topology checks epoch_committed first and skips wholesale
    assert topic.epoch_committed("q1-e7") is True
    # even a defensive direct re-commit must not re-produce
    topic.commit_epoch("q1-e7")
    assert sorted(_spool_lines(tmp_path, "t")) == ["x", "y", "z"]


def test_repartitioned_replay_of_uncommitted_epoch_restages(tmp_path):
    """A crash BEFORE commit leaves only invisible staging; the rerun's
    begin_epoch discards it wholesale, so a replay that packs the batch into
    DIFFERENT partitions produces exactly the rerun's content once (the
    repartitioned-replay hole per-name dedup could not close)."""
    from bigtwine_streamprocessor_spark.streaming import transport

    topic = _topic(tmp_path)
    # first attempt: two partitions' worth staged, then crash (no commit)
    topic.begin_epoch("q2-e3")
    transport.dir_line_writer(topic._topic_stage(), "q2-e3")(_Rows(["a", "b"]))
    assert _spool_lines(tmp_path, "t") == []
    # rerun repartitions: one partition, overlapping-but-different content
    topic.begin_epoch("q2-e3")
    topic.line_writer(fname_prefix="q2-e3")(_Rows(["a", "b", "c"]))
    topic.commit_epoch("q2-e3")
    assert sorted(_spool_lines(tmp_path, "t")) == ["a", "b", "c"]


def test_staged_envelope_writer_and_empty_epoch_marker(tmp_path):
    """Envelope staging rides the same discipline; an epoch that staged
    nothing still commits an empty marker so its replay is skipped."""
    topic = _topic(tmp_path, name="geo-req")
    topic.begin_epoch("q3-e0")
    rows = [{"item": json.dumps({"tag": str(i)})} for i in range(5)]
    topic.envelope_writer("geo-resp.a1", chunk=3, fname_prefix="q3-e0")(
        iter(rows)
    )
    assert _spool_lines(tmp_path, "geo-req") == []
    topic.commit_epoch("q3-e0")
    envs = [json.loads(ln) for ln in _spool_lines(tmp_path, "geo-req")]
    assert len(envs) == 2  # 3 + 2
    assert all(e["outputTopic"] == "geo-resp.a1" for e in envs)
    assert all("requestId" in e and "expiration" in e for e in envs)
    assert max(len(e["items"]) for e in envs) <= 3
    assert sorted(it["tag"] for e in envs for it in e["items"]) == [
        str(i) for i in range(5)
    ]
    # empty epoch: nothing staged, commit still lands the marker
    topic.begin_epoch("q3-e1")
    topic.commit_epoch("q3-e1")
    assert topic.epoch_committed("q3-e1") is True
    assert len(_spool_lines(tmp_path, "geo-req")) == 2


def test_staged_ops_require_stage_root(tmp_path):
    """No implicit stage_root (advisor r10, high): a stable /tmp default
    keyed by bootstrap let a fresh-checkpoint run (epoch ids restarting at
    q1-e0) meet a previous run's markers and silently publish nothing.
    Staged-epoch operations must fail loudly until a root is bound."""
    topic = kt.KafkaTopic("b:9092", "t")
    with pytest.raises(RuntimeError, match="stage_root"):
        topic.epoch_committed("q1-e0")
    with pytest.raises(RuntimeError, match="stage_root"):
        topic.line_writer(fname_prefix="q1-e0")


def test_bind_stage_root_adopts_and_respects_explicit(tmp_path):
    explicit = kt.KafkaTopic("b:9092", "t", stage_root=str(tmp_path / "mine"))
    explicit.bind_stage_root(str(tmp_path / "theirs"))
    assert explicit.stage_root == str(tmp_path / "mine")
    unset = kt.KafkaTopic("b:9092", "t")
    unset.bind_stage_root(str(tmp_path / "theirs"))
    assert unset.stage_root == str(tmp_path / "theirs")


def test_fresh_checkpoint_purges_stale_markers(tmp_path):
    """A dead run's commit markers must not survive into a run whose epoch
    numbering restarts — epoch_committed on a stale marker publishes
    NOTHING for the new epoch (silent loss)."""
    topic = _topic(tmp_path, name="results")
    # previous run committed q1-e0
    topic.begin_epoch("q1-e0")
    topic.line_writer(fname_prefix="q1-e0")(_Rows(["old"]))
    topic.commit_epoch("q1-e0")
    assert topic.epoch_committed("q1-e0") is True
    # new run, fresh checkpoint: same stage_root, epoch ids restart; the
    # dead run's marker RECORD stays in the marker topic and must not match
    assert _spool_lines(tmp_path, topic.marker_topic())
    topic.bind_stage_root(topic.stage_root, fresh_checkpoint=True)
    assert topic.epoch_committed("q1-e0") is False
    topic.begin_epoch("q1-e0")
    topic.line_writer(fname_prefix="q1-e0")(_Rows(["new"]))
    topic.commit_epoch("q1-e0")
    assert "new" in _spool_lines(tmp_path, "results")


def test_bind_stage_roots_namespaces_under_topology_root(tmp_path):
    """start_topology's binding: unset stage roots land under
    <root>/_kafka_stage; an existing checkpoint dir means resume (no
    purge), a missing one means fresh (purge)."""
    from bigtwine_streamprocessor_spark.streaming import topology

    root = str(tmp_path / "run")
    topics = kt.make_kafka_topics(
        "b:9092", ["a", "b"],
        transactional_factory=kt.SpoolTxnFactory(str(tmp_path / "spool")),
    )
    topology.bind_stage_roots(topics, root)
    for t in topics.values():
        assert t.stage_root == os.path.join(root, "_kafka_stage")
    # resume case: _chk exists -> a committed marker SURVIVES rebinding
    topics["a"].begin_epoch("q1-e0")
    topics["a"].commit_epoch("q1-e0")
    os.makedirs(os.path.join(root, "_chk"))
    topology.bind_stage_roots(topics, root)
    assert topics["a"].epoch_committed("q1-e0") is True


def test_epoch_publish_cross_checks_driver_visibility(spark, tmp_path):
    """_epoch_publish compares executor-counted non-empty partitions with
    the staged files the driver sees (advisor r10, medium): a stage dir on
    storage the driver can't read must fail loudly, not commit an empty
    marker that drops the epoch forever."""
    from bigtwine_streamprocessor_spark.streaming import topology

    topic = _topic(tmp_path, name="results")
    df = spark.range(20).repartition(4).selectExpr("concat('v-', id) AS value")
    # healthy path: counts agree, epoch commits, lines produced once
    topology._epoch_publish(
        df, [(topic, "q9-e0", "value", "value", topic.line_writer("q9-e0"))]
    )
    assert sorted(_spool_lines(tmp_path, "results")) == sorted(
        f"v-{i}" for i in range(20)
    )

    class BlindTopic(kt.KafkaTopic):
        """Simulates a driver that cannot see executor-staged files."""

        def staged_partition_count(self, prefix):
            return 0

    blind = BlindTopic(
        "fake:9092",
        "results2",
        stage_root=str(tmp_path / "stage"),
        transactional_factory=kt.SpoolTxnFactory(str(tmp_path / "spool")),
    )
    with pytest.raises(RuntimeError, match="shared storage"):
        topology._epoch_publish(
            df, [(blind, "q9-e1", "value", "value", blind.line_writer("q9-e1"))]
        )
    assert blind.epoch_committed("q9-e1") is False, "must not mark committed"
    assert _spool_lines(tmp_path, "results2") == []


def test_fresh_checkpoint_over_published_file_epochs_refused(tmp_path):
    """FileTopic twin of the stale-marker hazard: committed epoch dirs ARE
    the published data, so they can't be purged — a fresh-checkpoint run
    over them must be refused loudly, not silently skip its epochs."""
    from bigtwine_streamprocessor_spark.streaming import topology
    from bigtwine_streamprocessor_spark.streaming.transport import FileTopic

    root = str(tmp_path / "run")
    t = FileTopic(root, "results")
    t.begin_epoch("q1-e0")
    t.line_writer(fname_prefix="q1-e0")(_Rows(["old"]))
    t.commit_epoch("q1-e0")
    # dead run's data present, no checkpoints -> refuse
    with pytest.raises(RuntimeError, match="fresh run"):
        topology.bind_stage_roots({"results": t}, root)
    # with the checkpoint dir present this is a RESUME: allowed
    os.makedirs(os.path.join(root, "_chk"))
    topology.bind_stage_roots({"results": t}, root)


@pytest.fixture(scope="module")
def kafka_topology_drive(spark, sf_dir, tmp_path_factory):
    """The broker-less Kafka e2e, driven once for the tests below: the FULL
    async topology (6 queries + 4 service simulators) runs with every epoch
    publish going through the KafkaTopic commit path — staged epochs,
    commit_epoch as the only produce, one transaction per epoch with its
    marker record — with SpoolTxnFactory as the broker stand-in landing
    commits in FileTopic layout for the read side."""
    from bigtwine_streamprocessor_spark.streaming import topology

    tmp_path = tmp_path_factory.mktemp("kafka_topology")
    batch = parsed_batch(spark, sf_dir, 25)
    n = batch.count()
    stream = write_feed(spark, batch, tmp_path / "tweets_in")()
    root = str(tmp_path / "run")
    topics = {
        name: kt.SpoolBackedKafkaTopic(os.path.join(root, "spool"), name)
        for name in topology.TOPIC_NAMES
    }
    assert all(isinstance(t._txn_factory, kt.SpoolTxnFactory) for t in topics.values())
    with topology.start_topology(
        spark, root, stream, "a-kspool", timeout_ms=20_000, topics=topics
    ) as run:
        results = wait_results(run, n, 120)
    return root, topics, results, batch


@pytest.mark.slow
def test_full_topology_over_kafka_producer_path(kafka_topology_drive):
    """Results of the Kafka-committed topology equal the in-process batch
    golden exactly: the config-switch parity check the broker-gated test
    can't run here. Stage roots are bound under the topology root."""
    root, topics, results, batch = kafka_topology_drive
    # stage roots were bound under the topology root (not /tmp ambient)
    assert topics["results"].stage_root == os.path.join(root, "_kafka_stage")
    assert_matches_batch(results, batch)


@pytest.mark.slow
def test_full_topology_over_transactional_commits(kafka_topology_drive):
    """Every committed epoch of the same drive also landed its marker RECORD
    atomically, and epoch_committed resolves from the marker stream even
    with the local cache wiped (the crash-before-cache-write recovery
    path)."""
    import shutil

    _, topics, results, batch = kafka_topology_drive
    assert_matches_batch(results, batch)
    markers = topics["results"]._txn_factory.committed_markers(
        topics["results"].bootstrap, topics["results"].marker_topic()
    )
    assert markers, "transactional commits must land marker records"
    committed = {json.loads(m)["epoch"] for m in markers}
    some_epoch = next(iter(committed))
    shutil.rmtree(
        os.path.join(topics["results"]._topic_stage(), "_committed"),
        ignore_errors=True,
    )
    assert topics["results"].epoch_committed(some_epoch) is True


@pytest.mark.slow
def test_topology_restart_over_kafka_path_is_exactly_once(
    spark, sf_dir, tmp_path
):
    """Hard-stop the topology mid-stream and restart it — with every epoch
    publish going through the KafkaTopic staged-epoch path and its
    transactional spool commit. The second
    life's replayed epochs must find their commit MARKERS (fresh topic
    objects, same stage root bound from the same topology root) and
    publish nothing, while unfinished epochs restage and commit once: the
    advisor-r10 stale-marker scenario exercised through a REAL streaming
    restart rather than unit fakes. Final results must equal the batch
    golden exactly."""
    from bigtwine_streamprocessor_spark.streaming import topology

    batch = parsed_batch(spark, sf_dir, 30)
    n = batch.count()
    make_stream = write_feed(spark, batch, tmp_path / "tweets_in", files=6)
    root = str(tmp_path / "run")
    spool = os.path.join(root, "spool")

    def make_topics():
        # fresh topic OBJECTS each life — only the on-disk state (spool,
        # stage markers, checkpoints, svc offsets) carries over, exactly
        # like a restarted driver process
        return {
            name: kt.SpoolBackedKafkaTopic(spool, name)
            for name in topology.TOPIC_NAMES
        }

    # ---- first life: run until SOME results exist, then hard-stop --------
    # generous deadlines: passing runs break out as soon as results land;
    # the budget only matters when the host is contended (the two r12
    # in-suite flakes both coincided with a concurrent 15 GB replica
    # build), and a load-induced timeout must not read as an exactly-once
    # failure
    with topology.start_topology(
        spark, root, make_stream(), "a-krs", timeout_ms=60_000,
        topics=make_topics(),
    ) as run:
        wait_results(run, 1, 180)
    mid = len(run.topics["results"].read_all())
    assert mid < n, "stop landed after completion; nothing left to recover"

    # ---- second life: same root; markers must gate the replay -----------
    with topology.start_topology(
        spark, root, make_stream(), "a-krs", timeout_ms=60_000,
        topics=make_topics(),
    ) as run:
        results = wait_results(run, n, 300)
    assert_matches_batch(results, batch)


def test_shared_explicit_stage_root_not_purged_on_fresh_checkpoint(tmp_path):
    """advisor r11: an EXPLICIT stage_root may be shared across topologies
    (stage state is namespaced per topic name only). Topology B's fresh
    start must not rmtree topology A's in-flight staged epochs — with
    surviving commit markers under a shared root, rebinding to a DIFFERENT
    topology root refuses loudly instead of purging or silently keeping."""
    shared = str(tmp_path / "shared_stage")
    # topology A: explicit shared root, commits an epoch + leaves staging
    a = _topic(tmp_path, "results", stage_root=shared)
    a.begin_epoch("q1-e0")
    a.line_writer(fname_prefix="q1-e0")(_Rows(["a0"]))
    a.commit_epoch("q1-e0")
    a.line_writer(fname_prefix="q1-e1")(_Rows(["a1-inflight"]))
    # topology B: same explicit root + topic name, fresh checkpoint
    b = _topic(tmp_path, "results", stage_root=shared)
    with pytest.raises(RuntimeError, match="unique to this topology"):
        b.bind_stage_root(
            str(tmp_path / "rootB" / "_kafka_stage"), fresh_checkpoint=True
        )
    # A's state untouched by the refusal
    assert a.epoch_committed("q1-e0") is True
    assert a.staged_partition_count("q1-e1") == 1
    # a clean shared root (no markers) binds fine — nothing to mistake
    c = _topic(tmp_path, "other", stage_root=shared)
    c.bind_stage_root(
        str(tmp_path / "rootC" / "_kafka_stage"), fresh_checkpoint=True
    )
    assert c.stage_root == shared


# ---------------------------------------------------------------------------
# Transactional commit path (r11 verdict task 1): fake broker with Kafka's
# transaction + zombie-fencing semantics, driven through the REAL
# KafkaTopic.commit_epoch.
# ---------------------------------------------------------------------------


class _TxnBroker:
    """In-memory broker exposing exactly the transactional semantics the
    commit path relies on: records sent inside a transaction are invisible
    until commit_transaction; init_transactions bumps the producer epoch
    for a transactional.id, fencing every older instance and discarding
    any in-flight (uncommitted) transaction they left."""

    def __init__(self):
        self.committed: dict[str, list[bytes]] = {}
        self.producer_epochs: dict[str, int] = {}

    def lines(self, topic):
        return sorted(v.decode() for v in self.committed.get(topic, []))


class _FakeTxnProducer:
    def __init__(self, broker, txn_id):
        self.broker, self.txn_id = broker, txn_id
        self.epoch = None
        self.buf: list[tuple[str, bytes]] = []
        self.closed = False

    def init_transactions(self):
        self.epoch = self.broker.producer_epochs.get(self.txn_id, 0) + 1
        self.broker.producer_epochs[self.txn_id] = self.epoch

    def _check_fenced(self):
        if self.broker.producer_epochs.get(self.txn_id) != self.epoch:
            raise kt.ProducerFenced(self.txn_id)

    def begin_transaction(self):
        self._check_fenced()
        self.buf = []

    def send(self, topic, value):
        self._check_fenced()
        self.buf.append((topic, value))

    def commit_transaction(self):
        self._check_fenced()
        for t, v in self.buf:
            self.broker.committed.setdefault(t, []).append(v)
        self.buf = []

    def abort_transaction(self):
        self.buf = []

    def close(self):
        self.closed = True


class _FakeTxnFactory:
    def __init__(self, broker):
        self.broker = broker

    def __call__(self, bootstrap, txn_id):
        return _FakeTxnProducer(self.broker, txn_id)

    def committed_markers(self, bootstrap, marker_topic):
        return [v.decode() for v in self.broker.committed.get(marker_topic, [])]


def test_txn_commit_lands_records_and_marker_atomically(tmp_path):
    broker = _TxnBroker()
    topic = _topic(tmp_path, "results", _FakeTxnFactory(broker))
    topic.begin_epoch("q1-e0")
    topic.line_writer(fname_prefix="q1-e0")(_Rows(["a", "b"]))
    topic.commit_epoch("q1-e0")
    assert broker.lines("results") == ["a", "b"]
    marker = json.loads(broker.committed["results.epoch-markers"][0])
    assert marker == {"epoch": "q1-e0", "run": topic._run_id(), "lines": 2}
    assert topic.epoch_committed("q1-e0") is True
    # replay is a clean no-op (marker-file cache hit)
    topic.commit_epoch("q1-e0")
    assert broker.lines("results") == ["a", "b"]


def test_txn_crash_before_commit_replays_without_duplicate(tmp_path):
    """(a) A crash between send and commit_transaction leaves the
    transaction uncommitted — its records invisible — so the replay
    re-produces with NO duplicate."""
    broker = _TxnBroker()
    topic = _topic(tmp_path, "results", _FakeTxnFactory(broker))
    topic.begin_epoch("q1-e5")
    topic.line_writer(fname_prefix="q1-e5")(_Rows(["a", "b"]))

    crashing = _FakeTxnFactory(broker)
    real_call = _FakeTxnFactory.__call__

    class _CrashingFactory(_FakeTxnFactory):
        def __call__(self, bootstrap, txn_id):
            p = real_call(self, bootstrap, txn_id)
            def boom():
                raise OSError("simulated crash inside commit_transaction")
            p.commit_transaction = boom
            return p

    topic._txn_factory = _CrashingFactory(broker)
    with pytest.raises(OSError, match="simulated crash"):
        topic.commit_epoch("q1-e5")
    # nothing visible: no data records, no marker record, no marker file
    assert broker.lines("results") == []
    assert "results.epoch-markers" not in broker.committed
    assert topic.epoch_committed("q1-e5") is False

    # replay: restage + commit through a healthy producer — exactly once
    topic._txn_factory = crashing  # healthy factory, same broker
    topic.begin_epoch("q1-e5")
    topic.line_writer(fname_prefix="q1-e5")(_Rows(["a", "b"]))
    topic.commit_epoch("q1-e5")
    assert broker.lines("results") == ["a", "b"]
    assert len(broker.committed["results.epoch-markers"]) == 1


def test_txn_fenced_replay_is_noop(tmp_path):
    """(b) Two replays race the same epoch: the one whose producer gets
    fenced must treat its commit as a no-op (no raise, no duplicate) —
    the winner's transaction is the only one visible."""
    broker = _TxnBroker()
    topic = _topic(tmp_path, "results", _FakeTxnFactory(broker))
    topic.begin_epoch("q1-e0")
    topic.line_writer(fname_prefix="q1-e0")(_Rows(["x"]))

    winner = _topic(tmp_path, "results", _FakeTxnFactory(broker))

    class _InterleavedFactory(_FakeTxnFactory):
        """After the loser stages its sends, the winner replays the whole
        epoch (init_transactions bumps the producer epoch -> loser fenced)."""

        def __call__(self, bootstrap, txn_id):
            p = _FakeTxnProducer(self.broker, txn_id)
            orig_commit = p.commit_transaction

            def commit_with_race():
                winner.commit_epoch("q1-e0")  # fences p before its commit
                orig_commit()

            p.commit_transaction = commit_with_race
            return p

    topic._txn_factory = _InterleavedFactory(broker)
    topic.commit_epoch("q1-e0")  # must NOT raise
    assert broker.lines("results") == ["x"]  # exactly one copy
    assert len(broker.committed["results.epoch-markers"]) == 1
    assert topic.epoch_committed("q1-e0") is True  # winner's marker visible


def test_txn_marker_reader_closes_cache_write_window(tmp_path, monkeypatch):
    """Crash AFTER commit_transaction but BEFORE the marker-file cache
    lands: epoch_committed consults the read-committed marker stream and
    the replay is a no-op — no duplicate even in the last window."""
    broker = _TxnBroker()
    topic = _topic(tmp_path, "results", _FakeTxnFactory(broker))
    topic.begin_epoch("q1-e0")
    topic.line_writer(fname_prefix="q1-e0")(_Rows(["a"]))

    real_replace = os.replace

    def crashing_replace(src, dst):
        if "_committed" in dst:
            raise OSError("simulated crash before marker cache write")
        return real_replace(src, dst)

    monkeypatch.setattr(os, "replace", crashing_replace)
    with pytest.raises(OSError, match="marker cache"):
        topic.commit_epoch("q1-e0")
    monkeypatch.undo()
    # the transaction committed; the local cache did not land
    assert broker.lines("results") == ["a"]
    assert not os.path.exists(topic._marker("q1-e0"))
    # replay consults the marker stream, re-caches, produces nothing
    assert topic.epoch_committed("q1-e0") is True
    assert os.path.exists(topic._marker("q1-e0"))
    topic.begin_epoch("q1-e0")
    topic.line_writer(fname_prefix="q1-e0")(_Rows(["a"]))
    topic.commit_epoch("q1-e0")
    assert broker.lines("results") == ["a"]


def test_spool_txn_commit_lands_data_before_markers(tmp_path, monkeypatch):
    """The spool txn stand-in's one irreducible window (a crash between
    the two per-topic files of a multi-topic commit) must degrade to
    at-least-once, never silent loss: data topics land BEFORE marker
    topics, so a partial commit reads as uncommitted and replays."""
    from bigtwine_streamprocessor_spark.streaming import transport

    landed = []
    real = transport.append_lines_to_dir

    def spy(d, lines):
        landed.append(os.path.basename(d))
        return real(d, lines)

    monkeypatch.setattr(transport, "append_lines_to_dir", spy)
    p = kt.SpoolTxnProducer(str(tmp_path / "spool"))
    p.init_transactions()
    p.begin_transaction()
    # send the marker FIRST to prove ordering comes from commit, not send
    p.send("results.epoch-markers", b'{"epoch":"q1-e0","lines":1}')
    p.send("results", b"row")
    p.commit_transaction()
    assert landed == ["results", "results.epoch-markers"]


def test_spool_txn_read_committed_never_sees_aborted_records(tmp_path):
    """Read-committed contract of the spool stand-in (r12 verdict task 7):
    a consumer reading the spool via the transactional factory must never
    observe records from an aborted or crashed transaction — on either the
    data topic (file reader) or the marker stream (``committed_markers``).
    The data-file-before-marker ordering makes a violation observable: if
    sends landed eagerly (or markers landed first), the abort/crash below
    would leak records or read as committed."""
    from bigtwine_streamprocessor_spark.streaming.transport import FileTopic

    spool = str(tmp_path / "spool")
    factory = kt.SpoolTxnFactory(spool)
    topic = _topic(tmp_path, "results", factory)
    reader = FileTopic(spool, "results")

    # (1) explicit abort: sends to BOTH topics buffered, then discarded
    p = factory(topic.bootstrap, topic._txn_id("q1-e0"))
    p.init_transactions()
    p.begin_transaction()
    p.send("results", b"aborted-row")
    p.send("results.epoch-markers", b'{"epoch":"q1-e0","lines":1}')
    p.abort_transaction()
    assert reader.read_all() == []
    assert factory.committed_markers(topic.bootstrap, topic.marker_topic()) == []
    assert topic.epoch_committed("q1-e0") is False

    # (2) crash before commit: producer dropped mid-transaction
    p = factory(topic.bootstrap, topic._txn_id("q1-e0"))
    p.init_transactions()
    p.begin_transaction()
    p.send("results", b"crashed-row")
    del p  # simulated process death — nothing was ever flushed to disk
    assert reader.read_all() == []
    assert topic.epoch_committed("q1-e0") is False

    # (3) commit_epoch whose commit_transaction raises (non-fenced broker
    # error): the abort path must leave the spool clean, and the healthy
    # replay of the SAME epoch then lands exactly one copy of each record
    topic.begin_epoch("q1-e0")
    topic.line_writer(fname_prefix="q1-e0")(_Rows(["a", "b"]))

    class _FailingCommitProducer(kt.SpoolTxnProducer):
        def commit_transaction(self):
            raise RuntimeError("broker went away mid-commit")

    class _FailingFactory(kt.SpoolTxnFactory):
        def __call__(self, bootstrap, txn_id):
            return _FailingCommitProducer(self.spool)

    topic._txn_factory = _FailingFactory(spool)
    with pytest.raises(RuntimeError, match="mid-commit"):
        topic.commit_epoch("q1-e0")
    assert reader.read_all() == []  # aborted txn invisible to consumers
    assert topic.epoch_committed("q1-e0") is False

    topic._txn_factory = factory  # healthy replay, same epoch
    topic.commit_epoch("q1-e0")
    assert sorted(reader.read_all()) == ["a", "b"]
    assert topic.epoch_committed("q1-e0") is True
