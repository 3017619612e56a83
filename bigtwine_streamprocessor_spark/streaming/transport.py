"""Async enrichment transport: the reference's full Kafka request/response
topology (SURVEY.md §2.10) over pluggable topics.

The reference runs each enrichment hop as an independent Kafka round-trip:
the job produces request envelopes to a service's shared topic and separately
consumes a per-analysis reply topic; NEL requests are built from NER
*responses*, the link-resolver from NEL responses with links, the geo-decoder
from raw tweets (`TwitterStreamJob.java:227-307`). This module reproduces that
topology as N concurrent Structured Streaming queries connected by **topics**.

``FileTopic`` is the broker stand-in for this environment (no Kafka broker is
available): a directory of atomically-renamed JSON-line files, readable as a
file stream. The engine-side topology is broker-agnostic — on a real cluster
pass ``kafka_transport.make_kafka_topics(bootstrap, TOPIC_NAMES)`` as the
topology's topics; every transform in between is unchanged.

Scale note: everything row-proportional (fragment lines, request items,
response-envelope parsing, result lines) is built with DataFrame expressions
and written from EXECUTORS via ``foreachPartition`` — the topology holds no
driver-side collect of stream-proportional data at all. A batch read from
topic files alone is written from one task (a Kafka source's batch keeps
its partitioning). Request envelopes are emitted one-per-partition
(15-item chunks for geo), which the reply-topic consumers are agnostic to.
Pollers (service simulators, result counters) list only the top-level topic
entries they have not walked before (``NewTopicFiles``), so a poll costs the
same at epoch 10 and at epoch 10,000.
"""

from __future__ import annotations

import json
import os
import threading
import time
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..services_local import CATEGORIES, LEXICON, LINK_PREFIX, THUMB_PREFIX


STAGING = ".staging"  # hidden from Spark file listings (dot-prefix rule)


def append_lines_to_dir(
    topic_dir: str, lines: list[str], fname: str | None = None
) -> None:
    """Atomically publish JSON lines into a topic directory.

    Module-level and lock-free (uuid filenames cannot collide) so it is
    picklable into ``foreachPartition`` closures and safe to call
    concurrently from many executor Python workers.

    With ``fname`` (a name or relative subpath, no ``.json``) the publish is
    IDEMPOTENT: the caller supplies a name deterministic for its unit of
    work, so a retried task — or a replayed service handler — republishes
    onto the SAME name and is skipped if it already landed. (The temp name
    stays unique per attempt; ``os.replace`` is atomic, so a lost race
    leaves exactly one complete file with one attempt's bytes.)

    Per-name dedup alone is NOT enough for epoch replays whose partitioning
    can change across a restart (file-source batch packing depends on
    parallelism/maxSplitBytes config): a replayed epoch with different
    row-to-partition assignment would skip a p0 whose content differs
    (silent row loss) or publish extra pN names (duplicates). Epoch
    publishes therefore stage under ``.staging/<epoch>/`` — invisible to
    every reader — and are atomically promoted as a WHOLE epoch by
    ``FileTopic.commit_epoch`` (one dir rename); an incomplete attempt is
    discarded wholesale and rerun. See ``FileTopic.begin_epoch``.
    """
    if not lines:
        return
    target = os.path.join(topic_dir, f"{fname}.json") if fname else None
    if target and os.path.exists(target):
        return  # retried task / replayed handler: already published
    tmp_dir = os.path.join(
        os.path.dirname(topic_dir), f".tmp-{os.path.basename(topic_dir)}"
    )
    os.makedirs(tmp_dir, exist_ok=True)
    attempt = f"{os.getpid()}-{uuid.uuid4().hex}.json"
    tmp = os.path.join(tmp_dir, attempt)
    with open(tmp, "w") as f:
        f.write("\n".join(lines) + "\n")
    if target is None:
        target = os.path.join(topic_dir, attempt)
    else:
        os.makedirs(os.path.dirname(target), exist_ok=True)
    os.replace(tmp, target)


def _partition_fname(fname_prefix: str) -> str:
    """Deterministic per-partition STAGING subpath (inside a Spark task):
    ``.staging/<prefix>/p<id>``. Stable within one attempt (task retries and
    speculative twins collapse onto one name); the whole staged epoch is
    promoted atomically by the driver after the action completes."""
    from pyspark import TaskContext

    tc = TaskContext.get()
    pid = tc.partitionId() if tc is not None else 0
    return f"{STAGING}/{fname_prefix}/p{pid}"


def dir_line_writer(topic_dir: str, fname_prefix: str):
    """foreachPartition sink: rows with a ``value`` column -> lines staged
    under the query+epoch ``fname_prefix`` (e.g. ``q3-e17``), which makes
    epoch replays idempotent — see ``append_lines_to_dir``."""

    def write(rows) -> None:
        append_lines_to_dir(
            topic_dir,
            [r["value"] for r in rows],
            fname=_partition_fname(fname_prefix),
        )

    return write


def dir_envelope_writer(
    topic_dir: str, out_topic: str, chunk: int | None, fname_prefix: str
):
    """foreachPartition sink: rows with an ``item`` JSON column -> request
    envelopes (see ``envelopes``) staged under ``fname_prefix``, which
    dedupes epoch replays by publish name (envelopes carry a fresh
    requestId per attempt, so name-level — not content-level — dedup is
    what keeps a replayed request batch single-shot)."""

    def write(rows) -> None:
        append_lines_to_dir(
            topic_dir,
            envelopes(rows, out_topic, chunk),
            fname=_partition_fname(fname_prefix),
        )

    return write


def _visible_json_files(topic_dir: str) -> list[str]:
    """Relative paths of every published .json file, recursing into
    committed epoch dirs, skipping hidden (dot/underscore) entries — the
    same visibility rule Spark's file listing applies, so the Python-side
    readers (``read_all``, simulators, counters) and the streaming readers
    agree on what exists."""
    out: list[str] = []
    for base, dirs, files in os.walk(topic_dir):
        dirs[:] = sorted(
            d for d in dirs if not d.startswith((".", "_"))
        )
        rel = os.path.relpath(base, topic_dir)
        for fn in sorted(files):
            if fn.endswith(".json") and not fn.startswith((".", "_")):
                out.append(fn if rel == "." else f"{rel}/{fn}")
    return sorted(out)


class NewTopicFiles:
    """The visible files of a topic dir that are new since the last call.

    A top-level entry only ever arrives whole: a committed epoch dir by one
    rename of its staged dir (it never changes after), a file by
    ``os.replace``. So each call lists the top level once and walks only
    the entries it has not walked before: a poll of a topic holding N
    committed epochs opens none of them. Not thread-safe; one per poller.
    """

    def __init__(self, topic_dir: str):
        self._dir = topic_dir
        self._walked: set[str] = set()

    def __call__(self) -> list[str]:
        try:
            names = os.listdir(self._dir)
        except FileNotFoundError:
            return []
        out: list[str] = []
        for name in set(names) - self._walked:
            if name.startswith((".", "_")):
                continue  # staging and tmp dirs change; readers never see them
            path = os.path.join(self._dir, name)
            if os.path.isdir(path):
                out += [f"{name}/{rel}" for rel in _visible_json_files(path)]
            elif name.endswith(".json"):
                out.append(name)
            self._walked.add(name)
        return sorted(out)


def read_lines(topic_dir: str) -> list[str]:
    """The non-blank lines of every visible file under ``topic_dir``, in
    file-name order (nothing when the dir does not exist)."""
    out: list[str] = []
    for rel in _visible_json_files(topic_dir):
        with open(os.path.join(topic_dir, rel)) as f:
            out += [ln for ln in f.read().splitlines() if ln.strip()]
    return out


class FileTopic:
    """Append-only JSON-lines topic backed by a directory (atomic renames).

    Epoch publishes follow a stage-then-promote discipline (the transport's
    exactly-once contract): executors write partition files under
    ``.staging/<epoch>/`` (invisible to all readers), and the driver
    promotes the COMPLETE epoch with one atomic dir rename
    (``commit_epoch``). A replayed epoch either finds its committed dir
    (skip — nothing republished, regardless of how the replay repartitions
    the batch) or a partial staging dir (discarded and rewritten — no
    reader ever saw it). The Kafka twin stages the same way and produces
    only on commit — same guarantee; see ``KafkaTopic``."""

    def __init__(self, root: str, name: str):
        self.name = name
        self.dir = os.path.join(root, name)
        os.makedirs(self.dir, exist_ok=True)

    def line_writer(self, fname_prefix: str):
        """Picklable executor-side writer (captures only the dir path).
        ``fname_prefix`` (unique per query+epoch) stages the partition
        files for ``commit_epoch`` — see ``append_lines_to_dir``."""
        return dir_line_writer(self.dir, fname_prefix)

    def envelope_writer(self, out_topic: str, chunk: int | None, fname_prefix: str):
        return dir_envelope_writer(self.dir, out_topic, chunk, fname_prefix)

    # ---- epoch lifecycle (driver side, inside foreachBatch) --------------

    def epoch_committed(self, prefix: str) -> bool:
        return os.path.isdir(os.path.join(self.dir, prefix))

    def begin_epoch(self, prefix: str) -> None:
        """Discard any staging left by a crashed prior attempt of this
        epoch — its partitioning may differ from the rerun's, and no reader
        ever saw the staged files, so wholesale removal is safe."""
        import shutil

        shutil.rmtree(
            os.path.join(self.dir, STAGING, prefix), ignore_errors=True
        )

    def staged_partition_count(self, prefix: str) -> int:
        """Staged partition files visible to the driver for this epoch —
        cross-checked by ``topology._epoch_publish`` against the executor-
        side non-empty-partition count to catch a stage dir that is not
        actually on driver+executor-shared storage."""
        return len(_visible_json_files(os.path.join(self.dir, STAGING, prefix)))

    def staged_lines(self, prefix: str) -> list[str]:
        """The lines staged for this epoch and not yet committed."""
        return read_lines(os.path.join(self.dir, STAGING, prefix))

    def commit_epoch(self, prefix: str) -> None:
        """Atomically promote the staged epoch: one dir rename makes every
        partition file visible at once. An epoch that published nothing
        still commits (empty marker dir) so its replay is skipped."""
        dst = os.path.join(self.dir, prefix)
        if os.path.isdir(dst):
            return
        staged = os.path.join(self.dir, STAGING, prefix)
        if os.path.isdir(staged):
            os.rename(staged, dst)
        else:
            os.makedirs(dst, exist_ok=True)

    # ---- readers ----------------------------------------------------------

    def read_stream(self, spark: SparkSession) -> DataFrame:
        # recursive: committed epochs are subdirectories; .staging and the
        # .tmp dirs are dot-prefixed, which Spark's listing skips at every
        # level
        return (
            spark.readStream.schema("value STRING")
            .option("recursiveFileLookup", "true")
            .text(self.dir)
        )

    def read_all(self) -> list[str]:
        return read_lines(self.dir)


# ---------------------------------------------------------------------------
# External service simulators (plain Python — these model the OUT-OF-REPO
# microservices; semantics identical to services_local so the async topology
# golden-compares against the in-process pipeline)
# ---------------------------------------------------------------------------

def _ner_entities(text: str) -> list[dict]:
    ents, off = [], 0
    for idx, tok in enumerate(text.split(" ")):
        if tok in LEXICON:
            ents.append(
                {"token": tok, "pos": idx, "start": off, "end": off + len(tok)}
            )
        off += len(tok) + 1
    return ents


def _nel_link(e: dict) -> dict:
    tl = len(e["token"])
    nil = (e["pos"] + tl) % 3 == 0
    return {
        **e,
        "isNil": nil,
        "link": None if nil else LINK_PREFIX + e["token"],
        "nilCluster": f"nil-{tl % 5}" if nil else None,
        "confidence": ((e["pos"] * 7 + tl * 13) % 100) / 100.0,
        "category": CATEGORIES[tl % 3],
    }


def ner_service(items: list[dict]) -> list[dict]:
    return [{**it, "entities": _ner_entities(it["text"])} for it in items]


def nel_service(items: list[dict]) -> list[dict]:
    return [
        {**it, "entities": [_nel_link(e) for e in it["entities"]]} for it in items
    ]


def resolver_service(items: list[dict]) -> list[dict]:
    out = []
    for it in items:
        res = [
            {
                "url": LINK_PREFIX + tok,
                "name": tok.upper(),
                "thumb": f"{THUMB_PREFIX}{tok}.png",
            }
            for tok in it["tokens"]
            if len(tok) % 2 == 0
        ]
        out.append({"tag": it["tag"], "resources": res})
    return out


def geo_service(items: list[dict]) -> list[dict]:
    out = []
    for it in items:
        try:
            k = int(it["address"].split("_")[1])
            coords = {"lat": k * 1.5 - 10.0, "lng": 27.0 - k * 0.75}
        except (IndexError, ValueError):
            coords = None
        out.append({"tag": it["tag"], "address": it["address"], "coordinates": coords})
    return out


class ServiceSimulator(threading.Thread):
    """Polls a request topic, applies the service fn, produces responses —
    the stand-in for one external enrichment microservice.

    ``offsets_path`` persists the set of processed request files across
    simulator restarts — the file-transport analog of a Kafka consumer
    group's committed offsets. Without it a restarted simulator re-answers
    every request file it has ever seen, and those duplicate responses
    arrive downstream as NEW epochs (new publish names), defeating the
    topology's idempotent-replay guarantee.

    The offset commits AFTER the file's responses are produced, and each
    response publishes under a name DERIVED FROM its request file+line —
    so a crash mid-handling re-processes the file on restart and the
    re-produced responses land on their already-published names (skipped):
    exactly-once under hard crashes at any point, not just graceful stops.
    (The r8 shape committed BEFORE producing, which silently dropped a
    request on a crash between commit and publish — at-most-once, flagged
    by the r8 advisor; the deterministic response naming is what makes the
    commit-after ordering safe.) Pinned by
    ``test_topology_restart_is_exactly_once``."""

    def __init__(
        self,
        req: FileTopic,
        resp: FileTopic,
        fn: Callable,
        poll_s=0.2,
        offsets_path: str | None = None,
    ):
        super().__init__(daemon=True)
        self.req, self.resp, self.fn, self.poll_s = req, resp, fn, poll_s
        self._offsets_path = offsets_path
        self._seen: set[str] = set()
        if offsets_path and os.path.exists(offsets_path):
            with open(offsets_path) as f:
                self._seen = {ln.strip() for ln in f if ln.strip()}
        # NOT named _stop: Thread.join() calls an internal self._stop()
        self._halt = threading.Event()
        self._new_requests = NewTopicFiles(req.dir)
        self.error: str | None = None  # set when run() dies on a request file

    @property
    def answered(self) -> int:
        """Request files answered, earlier lives included."""
        return len(self._seen)

    def stop(self):
        self._halt.set()

    def run(self):
        while not self._halt.is_set():
            self.poll()
            time.sleep(self.poll_s)

    def poll(self) -> None:
        """Answer the request files that are new since the last poll and
        not answered in an earlier life."""
        for fn_ in self._new_requests():
            if fn_ in self._seen:
                continue
            try:
                self._answer(fn_)
            except Exception as exc:
                # the thread still dies (its offset stays uncommitted,
                # so a restart retries the file); the error names the
                # request file for TopologyRun.check()
                self.error = f"request file {fn_}: {type(exc).__name__}: {exc}"
                raise
            self._seen.add(fn_)
            if self._offsets_path:
                with open(self._offsets_path, "a") as f:
                    f.write(fn_ + "\n")
                    f.flush()

    def _answer(self, fn_: str) -> None:
        # ONE response file per request FILE (r15; was one per request
        # line): the response name derives from the request file, so a
        # re-handled file re-lands on the same name and dedups, and the
        # offset can still safely commit AFTER producing. The write is
        # atomic (tmp + rename), so a crash mid-file re-produces the whole
        # file — same exactly-once guarantee at file granularity, and the
        # downstream topic accumulates per-FILE not per-LINE files (the geo
        # hop's getBatch was 15.4 s of a 43 s drive listing/planning
        # thousands of 1-line response files; per-hop getBatch times come
        # from `perfbench/run.py --workload stream_light --trace 1`).
        tag = fn_[: -len(".json")].replace("/", "_")
        lines = []
        with open(os.path.join(self.req.dir, fn_)) as f:
            for line in f.read().splitlines():
                if not line.strip():
                    continue
                env = json.loads(line)
                items = self.fn(env["items"])
                lines.append(
                    json.dumps({"requestId": env["requestId"], "items": items})
                )
        append_lines_to_dir(self.resp.dir, lines, fname=f"r-{tag}")


def make_envelope(items: list, out_topic: str, timeout_s: int = 15) -> str:
    """Request envelope (`AbstractRequestMessageBuilder.java:44-50`)."""
    return json.dumps(
        {
            "requestId": uuid.uuid4().hex,
            "outputTopic": out_topic,
            "expiration": int(time.time() * 1000) + timeout_s * 1000,
            "items": items,
        }
    )


def envelopes(rows, out_topic: str, chunk: int | None = None) -> list[str]:
    """Rows with an ``item`` JSON column -> request envelope lines: one for
    all the items, or one per ``chunk`` items (15 for the geo-decoder,
    `TwitterStreamJob.java:300`); none without items."""
    items = [json.loads(r["item"]) for r in rows]
    step = chunk or len(items) or 1
    return [
        make_envelope(items[i : i + step], out_topic)
        for i in range(0, len(items), step)
    ]


class TopicCounter:
    """Incremental line counter over a FileTopic for pollers.

    ``read_all()`` in a sampling loop re-reads every file on every poll —
    O(files^2) I/O across a run, enough to perturb the throughput being
    measured once a topic holds ~1000 files. Topic files are immutable once
    atomically renamed in, so counting only the files new since the last
    poll (``NewTopicFiles``) is exact. Not thread-safe; one counter per
    polling loop.
    """

    def __init__(self, topic: FileTopic):
        self._dir = topic.dir
        self._new = NewTopicFiles(topic.dir)
        self._total = 0

    def count(self) -> int:
        for fn in self._new():
            with open(os.path.join(self._dir, fn)) as f:
                self._total += sum(1 for ln in f if ln.strip())
        return self._total
