"""The NEEL analysis job (lifecycle `TwitterStreamJob.main`, SURVEY.md §3.1).

Input selector mirrors the reference's validation (`TwitterStreamJob.java:
103-112`): exactly one of ``--dataset-path`` (TSV dataset) or
``--tweet-json-path`` (tweet-JSON replay of the live stream). Enrichment runs
through the local deterministic services (``--transport local``; the Kafka
transport wires through sources/streams.py when a broker exists).

Modes:

* ``batch``  — bounded input, join-free fragment topology + batch fan-in;
* ``stream`` — Structured Streaming with the stateful fan-in
  (completion-or-timeout per tweet), micro-batched by
  ``--trigger-seconds`` (default 3 s = the reference's request window,
  `TwitterStreamJob.java:242`).

Results are `AnalysisResultProducedEvent` JSON lines
(`TwitterStreamJob.java:356-374`); heartbeats via the progress listener.
"""

from __future__ import annotations

import argparse
import os
import sys

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..fragments import build_fragments, finalize_results
from ..operators.parse import parse_tweets
from ..schemas import NEEL_PROCESSED_TWEET
from ..session import get_spark
from ..sources.dataset import read_dataset_tsv
from ..streaming import fanin
from ..streaming.progress import ProgressHeartbeatListener, run_until_idle

DEFAULT_STREAM_TIMEOUT_S = 15  # `Constants.java:30`
DEFAULT_DATASET_TIMEOUT_S = 30  # `Constants.java:33`
# one line of the async topology's results topic
Q6_RESULT = T.StructType(
    [
        T.StructField("payload", NEEL_PROCESSED_TWEET),
        T.StructField("is_partial", T.BooleanType()),
    ]
)


def _result_events(final: DataFrame, analysis_id: str) -> DataFrame:
    return final.select(
        F.to_json(
            F.struct(
                F.lit(analysis_id).alias("analysisId"),
                F.date_format(
                    F.current_timestamp(), "yyyy-MM-dd'T'HH:mm:ssXXX"
                ).alias("processDate"),
                F.col("payload"),
            )
        ).alias("value")
    )


def normalize_dataset(df: DataFrame) -> DataFrame:
    """Dataset TSV -> corpus shape: fill optional columns, derive retweet flag
    (text prefix heuristic — the dataset path has no twitter4j flag)."""
    for c, default in [
        ("lang", None),
        ("user__name", None),
        ("user__screen_name", None),
        ("user__location", None),
    ]:
        if c not in df.columns:
            df = df.withColumn(c, F.lit(default).cast("string"))
    return df.withColumn("is_retweet", F.col("text").startswith("RT @"))


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="twitter-stream-job")
    p.add_argument("--job-id", required=True)
    p.add_argument("--analysis-id", required=True)
    p.add_argument("--dataset-path")
    p.add_argument("--tweet-json-path")
    p.add_argument("--output-path", required=True)
    p.add_argument("--mode", choices=["batch", "stream"], default="batch")
    p.add_argument(
        "--transport",
        choices=["local", "async"],
        default="local",
        help="local = in-process Column-transform services (fused plan); "
        "async = full request/response topology over file topics with "
        "service simulators (stream mode only)",
    )
    p.add_argument("--skip-retweets", action="store_true")
    p.add_argument("--lang", default=None, help="comma-separated language filter")
    p.add_argument("--processing-timeout", type=int, default=None)
    p.add_argument("--trigger-seconds", type=int, default=3)
    p.add_argument("--heartbeat-interval", type=int, default=1)
    p.add_argument(
        "--continuous",
        action="store_true",
        help="run indefinitely (default: stop after input idles past the "
        "processing timeout, flushing pending partials first)",
    )
    p.add_argument(
        "--max-runtime",
        type=int,
        default=None,
        help="seconds to run in --continuous mode before stopping",
    )
    return p


def _analysed_tweets(spark, args, streaming: bool) -> DataFrame:
    """The tweets the job analyses: the selected input source, parsed, with
    the retweet and language filters applied (a stream, or the batch form
    of the same input)."""
    if args.dataset_path:
        raw = read_dataset_tsv(spark, args.dataset_path, streaming=streaming)
        raw = normalize_dataset(raw)
    else:
        from ..sources.streams import tweet_replay_source

        if streaming:
            parsed_src = tweet_replay_source(spark, args.tweet_json_path)
        else:
            parsed_src = spark.read.schema("value STRING").text(
                args.tweet_json_path
            )
            from ..operators.parse import parse_tweet_json

            parsed_src = parse_tweet_json(parsed_src)
        raw = parsed_src.select(
            F.col("status.id").alias("id"),
            F.col("status.text").alias("text"),
            F.col("status.lang").alias("lang"),
            F.col("status.user.id").alias("user__id"),
            F.col("status.user.name").alias("user__name"),
            F.col("status.user.screenName").alias("user__screen_name"),
            F.col("status.user.location").alias("user__location"),
            F.coalesce(F.col("status.retweet"), F.lit(False)).alias("is_retweet"),
        )
    langs = args.lang.split(",") if args.lang else None
    return parse_tweets(raw, skip_retweets=args.skip_retweets, languages=langs)


def run(argv: list[str] | None = None) -> None:
    args = build_parser().parse_args(argv)
    if bool(args.dataset_path) == bool(args.tweet_json_path):
        # exactly-one-input validation (`TwitterStreamJob.java:103-112`)
        print("exactly one of --dataset-path / --tweet-json-path required",
              file=sys.stderr)
        sys.exit(2)

    timeout_s = args.processing_timeout or (
        DEFAULT_DATASET_TIMEOUT_S if args.dataset_path else DEFAULT_STREAM_TIMEOUT_S
    )
    spark = get_spark(app_name=f"neel-{args.job_id}")

    streaming = args.mode == "stream"
    parsed = _analysed_tweets(spark, args, streaming)
    frags = build_fragments(parsed)

    if not streaming:
        final = finalize_results(fanin.fanin_batch(frags))
        # the count rides on the write (above the fan-in shuffle, so it
        # reads 0 rather than vanishing when the input has no valid tweet)
        written = Observation("results")
        events = _result_events(final, args.analysis_id).observe(
            written, F.count(F.lit(1)).alias("n")
        )
        events.coalesce(1).write.mode("overwrite").text(args.output_path)
        print(f"job={args.job_id} mode=batch results={written.get['n']}")
        spark.stop()
        return

    listener = ProgressHeartbeatListener(
        args.job_id, min_interval_s=args.heartbeat_interval
    )
    spark.streams.addListener(listener)

    if args.transport == "async":
        from ..streaming import topology

        # every analysed tweet gets exactly one result (complete or
        # partial), so the batch form of the input says how many to wait for
        expected = _analysed_tweets(spark, args, streaming=False).count()
        topo = topology.start_topology(
            spark,
            args.output_path + "_topics",
            parsed,
            args.analysis_id,
            timeout_ms=timeout_s * 1000,
            trigger_s=args.trigger_seconds,
        )
        # a pending partial fires within the fan-in timeout plus a trigger,
        # so a topology idle for longer has stopped short
        idle_s = timeout_s + 2 * args.trigger_seconds
        with topo:
            topo.wait_results(expected, idle_s=idle_s)
            results = topo.topics["results"].read_all()
            stopped_at = topo.describe() if len(results) < expected else None
        # q6 lines are {"payload", "is_partial"}; the job writes the same
        # result events as the other modes
        final = spark.createDataFrame([(r,) for r in results], "value STRING")
        final = final.select(F.from_json("value", Q6_RESULT).alias("r")).select("r.*")
        lines = [r.value for r in _result_events(final, args.analysis_id).collect()]
        os.makedirs(args.output_path, exist_ok=True)
        with open(os.path.join(args.output_path, "results.json"), "w") as f:
            f.write("\n".join(lines) + ("\n" if lines else ""))
        print(
            f"job={args.job_id} mode=stream transport=async "
            f"results={len(lines)} expected={expected}"
        )
        spark.stop()
        if stopped_at is not None:
            sys.exit(
                f"results={len(lines)} expected={expected}: every hop read "
                f"no input for {idle_s} s first\n{stopped_at}"
            )
        return

    assembled = fanin.fanin_stream(frags, timeout_ms=timeout_s * 1000)
    final = finalize_results(fanin.parse_assembled(assembled))
    events = _result_events(final, args.analysis_id)
    writer = (
        events.writeStream.format("text")  # events are already JSON lines
        .option("path", args.output_path)
        .option("checkpointLocation", args.output_path + "_chk")
        .outputMode("append")
    )
    q = writer.trigger(processingTime=f"{args.trigger_seconds} seconds").start()
    if args.continuous:
        # indefinite run; --max-runtime bounds test runs
        q.awaitTermination(args.max_runtime)
        q.stop()
        q.awaitTermination()
    else:
        # bounded run: stop once idle longer than the fan-in timeout so
        # pending timers flush their partials first (the reference's
        # idle-past-timeout end condition). availableNow is unusable here:
        # stateful timers keep it scheduling batches forever (Spark 4.1).
        run_until_idle(q, idle_timeout_s=timeout_s + 2 * args.trigger_seconds)
    print(f"job={args.job_id} mode=stream heartbeats={len(listener.sent)}")
    spark.stop()


if __name__ == "__main__":
    run()
