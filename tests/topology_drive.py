"""Shared drive of the async topology tests: feed a parsed tweet batch as
JSON-lines files, wait for its results, and compare them with the
in-process batch pipeline on the same tweets."""

import contextlib
import itertools
import json
import threading

import pytest
from pyspark.sql import functions as F

from bigtwine_streamprocessor_spark import corpus, fragments
from bigtwine_streamprocessor_spark.operators.parse import parse_tweets
from bigtwine_streamprocessor_spark.streaming import fanin, topology, transport


def parsed_batch(spark, sf_dir, n):
    """The first ``n`` analysed tweets of the corpus, by id (cached)."""
    return (
        parse_tweets(corpus.tweets_df(spark, sf_dir), skip_retweets=True)
        .orderBy("id")
        .limit(n)
        .cache()
    )


def write_feed(spark, batch, indir, files=1):
    """Write ``batch`` as ``files`` JSON-lines files under ``indir`` and
    return a factory of fresh streams over them, one file per trigger
    (several files let a stop land between epochs with work in flight)."""
    indir.mkdir()
    rows = batch.collect()
    per_file = max(1, len(rows) // files)
    for i in range(0, len(rows), per_file):
        with open(indir / f"batch{i:04d}.json", "w") as f:
            for r in rows[i : i + per_file]:
                f.write(json.dumps(r.asDict()) + "\n")

    def make_stream():
        return (
            spark.readStream.schema(batch.schema)
            .option("maxFilesPerTrigger", 1)
            .json(str(indir))
        )

    return make_stream


def wait_results(run, n, timeout_s):
    """The result lines of ``run`` once at least ``n`` landed. A dead query
    or simulator fails the wait at once, named by ``run.check()``; a
    timeout fails with the count reached and where each hop stands."""
    got = run.wait_results(n, timeout_s)
    assert got >= n, (
        f"expected {n} results, got {got} after {timeout_s} s "
        f"with every query and simulator alive:\n{run.describe()}"
    )
    return run.topics["results"].read_all()


@contextlib.contextmanager
def ner_held_after_first():
    """Answer the first NER request of the topologies started inside and
    hold every later one. Every tweet needs a NER answer to complete, and
    the first request carries only the tweets of Q1's first epoch (one
    input file under ``maxFilesPerTrigger=1``, one request file with one
    envelope), so those results can land while the rest of the stream
    stays in flight: a stop after the first result never races
    completion. A held call goes on once its simulator is told to stop,
    which ``TopologyRun.stop()`` does after every query has stopped, so
    its answers land while the topology is down."""
    calls = itertools.count()

    def held(items):
        if next(calls):
            threading.current_thread()._halt.wait()  # the simulator's stop flag
        return transport.ner_service(items)

    with pytest.MonkeyPatch.context() as mp:
        # start_topology looks the service up when it builds its simulators
        mp.setattr(topology, "ner_service", held)
        yield


def assert_matches_batch(results, batch):
    """Exactly once and equal to the batch golden: one complete result per
    tweet, payloads equal to the in-process pipeline's (duplicate fragments
    would concat-double entities and fail here)."""
    n = batch.count()
    assert len(results) == n, f"expected {n} results, got {len(results)}"
    parsed = [json.loads(r) for r in results]
    got = {r["payload"]["status"]["id"]: r for r in parsed}
    assert len(got) == n, "duplicate result for some tweet"
    assert not any(r["is_partial"] for r in parsed), "all should complete"
    want_df = fragments.finalize_results(
        fanin.fanin_batch(fragments.build_fragments(batch))
    )
    want = {
        r["tag"]: json.loads(r["value"])
        for r in want_df.select(
            F.col("tag"), F.to_json(F.struct(F.col("payload"))).alias("value")
        ).collect()
    }
    assert set(got) == set(want)
    for tag in want:
        g = json.dumps(got[tag]["payload"], sort_keys=True)
        w = json.dumps(want[tag]["payload"], sort_keys=True)
        assert g == w, f"payload mismatch for tweet {tag}:\n  async={g}\n  batch={w}"
