"""Kafka twin of the FileTopic transport — deployment is a config switch.

The topology touches topics through three methods (``line_writer``,
``envelope_writer``, ``read_stream``) and the epoch lifecycle
(``epoch_committed``, ``begin_epoch``, ``staged_partition_count``,
``commit_epoch``); this module provides the Kafka implementation of that
contract, mirroring the reference's producer/consumer wiring
(`TwitterStreamJob.java:227-246`, topics `Constants.java:15-25`).

Every write stages: executor-side ``foreachPartition`` writers land their
partition's lines under a shared ``stage_root`` and produce nothing, and the
driver's ``commit_epoch`` is the only produce — one Kafka transaction per
query epoch carrying the staged lines plus a marker record, so a topology
swapped onto Kafka keeps the file transport's exactly-once replay (see
``KafkaTopic``).

No broker ships in this sandbox, so:

* unit tests inject a fake transactional factory (staged-epoch replay
  dedup, fencing and marker recovery are fully exercised);
* ``SpoolBackedKafkaTopic`` commits through ``SpoolTxnFactory`` into a
  spool in FileTopic layout, so the full topology runs the commit path end
  to end;
* ``read_stream`` builds the standard ``format("kafka")`` source
  (construct-only here — needs the spark-sql-kafka package + a broker);
* the end-to-end topology test skips unless ``KAFKA_BOOTSTRAP`` is set.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession

from .transport import FileTopic, _visible_json_files, read_lines


class ProducerFenced(RuntimeError):
    """A newer transactional producer with the same ``transactional.id``
    has been started (Kafka's zombie fencing). The fenced instance's
    commit attempt is a no-op — the newer instance owns the epoch."""


# Real client libraries raise their own fencing exception types; match by
# name so a kafka-python / confluent-kafka factory needs no adapter.
_FENCED_TYPE_NAMES = frozenset(
    {"ProducerFenced", "ProducerFencedError", "FencedInstanceIdError"}
)


def _is_fenced(exc: BaseException) -> bool:
    return type(exc).__name__ in _FENCED_TYPE_NAMES


def default_transactional_factory(bootstrap: str, transactional_id: str):
    """kafka-python transactional producer; import-gated (no client lib in
    this image). The factory contract ``commit_epoch`` relies on:
    ``factory(bootstrap, transactional_id)`` returns a producer with
    ``init_transactions`` / ``begin_transaction`` / ``send(topic, bytes)`` /
    ``commit_transaction`` / ``abort_transaction`` / ``close``, raising a
    fencing error (matched by type name) when a newer instance with the
    same id exists. Optionally the factory exposes
    ``committed_markers(bootstrap, marker_topic) -> list[str]`` — a
    read-committed consumer over the marker topic — which closes the last
    replay window (crash after ``commit_transaction`` but before the local
    marker-file cache lands)."""
    try:
        from kafka import KafkaProducer  # type: ignore[import-not-found]
    except ImportError as e:  # pragma: no cover - no client lib in sandbox
        raise ImportError(
            "no Kafka client library available; install kafka-python or pass "
            "a transactional_factory"
        ) from e
    return KafkaProducer(
        bootstrap_servers=bootstrap,
        acks="all",
        transactional_id=transactional_id,
        enable_idempotence=True,
    )


class KafkaTopic:
    """Same contract as transport.FileTopic, over a Kafka broker.

    Epoch publishes follow FileTopic's stage-then-promote discipline,
    through a ``FileTopic(stage_root, name)`` that is the staged-epoch
    store: writers buffer their partition's lines under
    ``<stage_root>/<topic>/.staging/<epoch>/`` and produce nothing, and
    ``commit_epoch`` produces the staged epoch and a marker record in one
    Kafka transaction keyed by query+epoch. A replayed epoch (however Spark
    repartitions the rerun) either finds its marker and publishes NOTHING,
    or discards the partial staging and re-stages from scratch.

    ``stage_root`` must be visible to executors and the driver and survive
    restarts — the same storage-class requirement as the streaming
    checkpoint itself, which is why ``start_topology`` binds an unset
    ``stage_root`` UNDER the topology's checkpoint root (``<root>/
    _kafka_stage``). There is deliberately no ambient default: a stable
    ``/tmp`` path keyed by bootstrap (the pre-r11 behavior) let a NEW run
    with a fresh checkpoint — whose epoch prefixes restart at ``q1-e0`` —
    find a previous run's commit markers, report ``epoch_committed`` and
    publish NOTHING (silent loss), and on a multi-node cluster a node-local
    default hid executor-staged files from the committing driver. Staged
    operations fail loudly until ``stage_root`` is set (constructor /
    ``bind_stage_root``); ``bind_stage_root(fresh_checkpoint=True)`` purges
    the topic's stage state, run id included (see ``_run_id``), so
    restarted epoch numbering can never meet a stale marker file or record.

    ``transactional_factory(bootstrap, transactional_id)`` builds the
    producer of one commit (see ``default_transactional_factory`` for the
    contract)."""

    def __init__(
        self,
        bootstrap: str,
        name: str,
        stage_root: str | None = None,
        transactional_factory=default_transactional_factory,
    ):
        self.bootstrap = bootstrap
        self.name = name
        self.stage_root = stage_root
        self._stage_topic: FileTopic | None = None  # see _stage()
        self._run: str | None = None  # see _run_id()
        self._txn_factory = transactional_factory

    # ---- staged-epoch layout ----------------------------------------------

    def bind_stage_root(
        self, stage_root: str, fresh_checkpoint: bool = False
    ) -> None:
        """Adopt ``stage_root`` unless the constructor already set one
        (explicit wins). With ``fresh_checkpoint=True`` — the caller saw no
        existing streaming checkpoint, so epoch ids restart at 0 — any
        surviving stage state (markers included) belongs to a DEAD run and
        is purged wholesale; keeping it is the silent-skip hazard this
        method exists to close.

        The purge only applies to a root this topology OWNS: one we are
        adopting here (start_topology's ``<root>/_kafka_stage`` is
        per-topology by construction) or an explicit root that equals the
        provided one. An explicit root that DIFFERS may be shared across
        topologies with the same topic names — stage state is namespaced
        per topic only — and rmtree'ing it would destroy another
        topology's in-flight staged epochs (advisor r11). There, stale
        markers are refused loudly instead of purged or silently kept:
        an explicit ``stage_root`` must be unique per topology and clean
        at fresh start."""
        import shutil

        adopted = self.stage_root is None
        if adopted:
            self.stage_root = stage_root
        if not fresh_checkpoint:
            return
        if adopted or os.path.realpath(self.stage_root) == os.path.realpath(
            stage_root
        ):
            shutil.rmtree(self._topic_stage(), ignore_errors=True)
            self._run = None
            return
        stale = _visible_json_files(os.path.join(self._topic_stage(), "_committed"))
        if stale:
            raise RuntimeError(
                f"KafkaTopic({self.name!r}): fresh checkpoint (epoch ids "
                "restart at 0) but the explicit stage_root "
                f"{self.stage_root!r} already holds commit markers "
                f"{stale[:3]}{'...' if len(stale) > 3 else ''}. They may "
                "belong to ANOTHER topology sharing this root (stage state "
                "is namespaced per topic name only), so they are neither "
                "purged (would destroy its in-flight epochs) nor kept "
                "(epoch_committed on a stale marker silently publishes "
                "nothing). Use a stage_root unique to this topology, or "
                "clear it before a fresh start."
            )

    def _stage(self) -> FileTopic:
        """The staged-epoch store: FileTopic's layout under
        ``<stage_root>/<name>``, created once ``stage_root`` is bound. Its
        staging dirs hold the epochs not yet produced; its own commit
        rename is never used (see ``commit_epoch``)."""
        if self.stage_root is None:
            raise RuntimeError(
                f"KafkaTopic({self.name!r}): staged-epoch publish needs a "
                "stage_root on driver+executor-visible storage (same class "
                "as the streaming checkpoint). Pass stage_root= to the "
                "constructor / make_kafka_topics, or let start_topology "
                "bind it under the topology root. There is no implicit "
                "default: a stable node-local path silently skips or "
                "loses replayed epochs."
            )
        if self._stage_topic is None:
            self._stage_topic = FileTopic(self.stage_root, self.name)
        return self._stage_topic

    def _topic_stage(self) -> str:
        return self._stage().dir

    def _marker(self, prefix: str) -> str:
        return os.path.join(self._topic_stage(), "_committed", f"{prefix}.json")

    def _run_id(self) -> str:
        """Identity of this stage's epoch numbering, kept in ``<stage>/_run``
        and renewed by the fresh-checkpoint purge. Marker records carry it:
        a dead run's records stay in the marker topic (no purge reaches a
        broker), and must not match a restarted run's ``q1-e0``."""
        if self._run is None:
            path = os.path.join(self._topic_stage(), "_run")
            if not os.path.exists(path):
                os.makedirs(os.path.dirname(path), exist_ok=True)
                tmp = f"{path}.tmp-{uuid.uuid4().hex}"
                with open(tmp, "w") as f:
                    f.write(uuid.uuid4().hex)
                try:
                    os.link(tmp, path)  # the first writer wins
                except FileExistsError:
                    pass
                finally:
                    os.remove(tmp)
            with open(path) as f:
                self._run = f.read()
        return self._run

    # ---- epoch lifecycle (driver side, inside foreachBatch) ---------------

    def marker_topic(self) -> str:
        """Per-topic control topic carrying one marker record per committed
        epoch (the record commits atomically with the epoch's data
        records)."""
        return f"{self.name}.epoch-markers"

    def _txn_id(self, prefix: str) -> str:
        return f"{self.name}:{prefix}"

    def epoch_committed(self, prefix: str) -> bool:
        if os.path.exists(self._marker(prefix)):
            return True
        # the marker file is only a CACHE — a crash after commit_transaction
        # but before the file landed must not re-produce, so consult the
        # read-committed marker stream when the factory provides one
        reader = getattr(self._txn_factory, "committed_markers", None)
        if callable(reader):
            for raw in reader(self.bootstrap, self.marker_topic()):
                try:
                    rec = json.loads(raw)
                except (TypeError, ValueError):
                    continue
                if rec.get("epoch") == prefix and rec.get("run") == self._run_id():
                    self._cache_marker(prefix, rec)
                    return True
        return False

    def _cache_marker(self, prefix: str, payload: dict) -> None:
        marker = self._marker(prefix)
        os.makedirs(os.path.dirname(marker), exist_ok=True)
        tmp = f"{marker}.tmp-{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(payload, f)
        os.replace(tmp, marker)

    def begin_epoch(self, prefix: str) -> None:
        """Discard staging left by a crashed prior attempt (FileTopic's
        rule: nothing staged was ever produced)."""
        self._stage().begin_epoch(prefix)

    def staged_partition_count(self, prefix: str) -> int:
        """Staged partition files VISIBLE TO THE DRIVER for this epoch.
        ``_epoch_publish`` cross-checks this against an accumulator of
        non-empty partitions counted on the executors — a shortfall means
        ``stage_root`` is not actually shared storage (node-local tmp on a
        cluster) and committing would silently drop rows (advisor r10)."""
        return self._stage().staged_partition_count(prefix)

    def commit_epoch(self, prefix: str) -> None:
        """Produce the staged epoch and commit it. An epoch that staged
        nothing still commits (an empty marker) so its replay is skipped —
        FileTopic parity. (The guard against "staged nothing because the
        stage is on storage the driver can't see" lives in
        ``topology._epoch_publish``, which knows the executor-side truth
        via an accumulator.)

        The staged lines and a marker RECORD on ``marker_topic()`` commit in
        ONE Kafka transaction whose ``transactional.id`` is query+epoch (the
        results-producer contract, `TwitterStreamJob.java:353-376`, made
        atomic):

        * crash between send and commit_transaction → the transaction is
          never committed; a replay's ``init_transactions`` aborts it, so
          the aborted records stay invisible to read-committed consumers
          and the re-produce lands exactly once;
        * a FENCED producer (a newer instance took the same id) treats its
          commit attempt as a no-op — the newer instance owns the epoch;
        * the marker FILE is a cache of the marker record;
          ``epoch_committed`` falls back to the factory's read-committed
          ``committed_markers`` reader, closing even the crash between
          commit_transaction and the cache write.

        The stage topic's own ``commit_epoch`` rename is NOT the marker: a
        crash between that rename and the produce would read as committed
        and lose the epoch."""
        if self.epoch_committed(prefix):
            return
        lines = self._stage().staged_lines(prefix)
        payload = {"epoch": prefix, "run": self._run_id(), "lines": len(lines)}
        # per-epoch transactional.id: one-shot producer
        p = self._txn_factory(self.bootstrap, self._txn_id(prefix))
        try:
            p.init_transactions()
            p.begin_transaction()
            for ln in lines:
                p.send(self.name, ln.encode("utf-8"))
            p.send(self.marker_topic(), json.dumps(payload).encode("utf-8"))
            p.commit_transaction()
        except Exception as e:
            if _is_fenced(e):
                # the newer instance commits (or aborts) this epoch;
                # leave staging/markers for it — our attempt is void
                return
            try:
                p.abort_transaction()
            except Exception:
                pass
            raise
        finally:
            close = getattr(p, "close", None)
            if callable(close):
                close()
        self._cache_marker(prefix, payload)
        self._stage().begin_epoch(prefix)  # drop the drained staging

    # ---- writers (executor side, picklable) --------------------------------

    def line_writer(self, fname_prefix: str):
        """Picklable foreachPartition sink: rows with a ``value`` column.
        The partition STAGES its lines for ``commit_epoch`` under the
        query+epoch ``fname_prefix`` — the same ``.staging/<epoch>/p<id>``
        discipline as the file transport (the writer is the stage topic's
        own)."""
        return self._stage().line_writer(fname_prefix)

    def envelope_writer(self, out_topic: str, chunk: int | None, fname_prefix: str):
        """Picklable foreachPartition sink: rows with an ``item`` JSON column
        -> one request envelope per partition (or per ``chunk`` items),
        staged for ``commit_epoch`` like ``line_writer`` (envelopes carry a
        fresh requestId per attempt, so epoch-level — not content-level —
        dedup is what keeps a replayed request batch single-shot)."""
        return self._stage().envelope_writer(out_topic, chunk, fname_prefix)

    def read_stream(self, spark: SparkSession) -> DataFrame:
        """Structured Streaming Kafka source exposing the same one-column
        (value STRING) frame as FileTopic.read_stream."""
        return (
            spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", self.bootstrap)
            .option("subscribe", self.name)
            .option("startingOffsets", "earliest")
            .load()
            .selectExpr("CAST(value AS STRING) AS value")
        )


class SpoolTxnProducer:
    """Broker-less transactional producer: sends buffer invisibly until
    ``commit_transaction`` lands them into the spool's FileTopic layout —
    the visibility contract a Kafka transaction gives read-committed
    consumers, realized over the shared filesystem. No fencing state: the
    spool path is exercised single-committer (the fencing semantics are
    pinned by the fake-broker unit tests); real brokers get fencing from
    the client library.

    Honest atomicity bound of the stand-in: each TOPIC's lines land as
    one atomic file, but a multi-topic commit (data + the
    ``.epoch-markers`` record) is two files — a crash BETWEEN them is the
    one window a real broker transaction closes and a filesystem cannot.
    Data topics land FIRST, marker topics LAST, so that window degrades
    to at-least-once (data without marker -> the replay re-stages and
    re-produces) and never to silent loss (marker without data would
    read as committed-with-nothing-published)."""

    def __init__(self, spool: str):
        self.spool = spool
        self._buf: list[tuple[str, str]] = []

    def init_transactions(self) -> None:
        self._buf = []

    def begin_transaction(self) -> None:
        self._buf = []

    def send(self, topic: str, value: bytes) -> None:
        self._buf.append((topic, value.decode("utf-8")))

    def commit_transaction(self) -> None:
        from .transport import append_lines_to_dir

        by_topic: dict[str, list[str]] = {}
        for t, v in self._buf:
            by_topic.setdefault(t, []).append(v)
        # data before markers — see class docstring
        ordered = sorted(
            by_topic.items(), key=lambda kv: kv[0].endswith(".epoch-markers")
        )
        for t, lines in ordered:
            d = os.path.join(self.spool, t)
            os.makedirs(d, exist_ok=True)
            append_lines_to_dir(d, lines)
        self._buf = []

    def abort_transaction(self) -> None:
        self._buf = []

    def close(self) -> None:
        self._buf = []


class SpoolTxnFactory:
    """Transactional factory over a spool dir, with the optional
    ``committed_markers`` reader (the marker topic is just another spool
    dir), so the WHOLE transactional contract — atomic drain+marker,
    marker-stream recovery — runs broker-less end to end."""

    def __init__(self, spool: str):
        self.spool = spool

    def __call__(self, bootstrap: str, transactional_id: str) -> SpoolTxnProducer:
        return SpoolTxnProducer(self.spool)

    def committed_markers(self, bootstrap: str, marker_topic: str) -> list[str]:
        return read_lines(os.path.join(self.spool, marker_topic))


class SpoolBackedKafkaTopic(KafkaTopic):
    """Broker-less KafkaTopic for dev and end-to-end tests: the commit path
    runs exactly as against a real broker (staged epochs, one transaction
    per epoch with its marker record, marker-stream recovery, envelope
    chunking), but the "broker" is a ``SpoolTxnFactory`` landing each
    committed transaction as atomic json files under ``<root>/<name>/`` —
    FileTopic's on-disk layout — so the read side (``read_stream``, service
    simulators polling ``.dir``) is the file transport. The full async
    topology therefore drives the Kafka commit path end-to-end without a
    broker (``test_kafka_transport.py::test_full_topology_over_kafka_producer_path``);
    only ``format("kafka")`` consumption still needs the real thing."""

    def __init__(self, root: str, name: str, stage_root: str | None = None):
        super().__init__(
            f"spool:{root}",
            name,
            stage_root=stage_root,
            transactional_factory=SpoolTxnFactory(root),
        )
        self._file = FileTopic(root, name)
        self.dir = self._file.dir

    def read_stream(self, spark: SparkSession) -> DataFrame:
        return self._file.read_stream(spark)

    def read_all(self) -> list[str]:
        return self._file.read_all()


def make_kafka_topics(
    bootstrap: str,
    names: list[str],
    stage_root: str | None = None,
    transactional_factory=default_transactional_factory,
) -> dict[str, KafkaTopic]:
    """Build the topology's topic dict. ``stage_root`` (driver+executor-
    shared storage) namespaces every topic's staged-epoch state; leave it
    None to let ``start_topology`` bind it under the topology's checkpoint
    root, which carries the right storage class by construction. Every
    epoch commits through a ``transactional_factory`` producer (see
    ``KafkaTopic.commit_epoch``)."""
    return {
        n: KafkaTopic(
            bootstrap,
            n,
            stage_root=stage_root,
            transactional_factory=transactional_factory,
        )
        for n in names
    }
