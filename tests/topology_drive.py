"""Shared drive of the async topology tests: feed a parsed tweet batch as
JSON-lines files, wait for its results, and compare them with the
in-process batch pipeline on the same tweets."""

import json

from pyspark.sql import functions as F

from bigtwine_streamprocessor_spark import corpus, fragments
from bigtwine_streamprocessor_spark.operators.parse import parse_tweets
from bigtwine_streamprocessor_spark.streaming import fanin


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
