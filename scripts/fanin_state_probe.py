#!/usr/bin/env python
"""r15 fan-in state-size probe: measured bytes/key of the checkpointed state.

Builds a synthetic in-flight population shaped like the 1M-key soak's
(status + decodedLocation arrived, waiting on linkedTweet/resource), drives
it through the REAL ``fanin_stream`` on RocksDB + changelog checkpointing,
and reports the checkpoint footprint per key, split into snapshot (.zip)
vs changelog bytes — the decomposition the r14 round lacked when its blob
experiment went backwards. ``--waves`` controls how many separate
micro-batches deliver each key's fragments (every extra wave rewrites the
FULL state value into the changelog — the update-count dimension).

Usage:
    python scripts/fanin_state_probe.py [--keys 100000] [--waves 1|2]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bigtwine_streamprocessor_spark.session import get_spark  # noqa: E402


def _du_split(path: str) -> dict:
    sst = changelog = other = 0
    for base, _dirs, files in os.walk(path):
        for fn in files:
            try:
                sz = os.path.getsize(os.path.join(base, fn))
            except OSError:
                continue
            if fn.endswith(".changelog"):
                changelog += sz
            elif fn.endswith(".zip"):
                sst += sz
            else:
                other += sz
    return {"snapshot_zip": sst, "changelog": changelog, "other": other}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--keys", type=int, default=100_000)
    ap.add_argument("--waves", type=int, default=2, choices=(1, 2))
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--shuffle-partitions", type=int, default=64)
    args = ap.parse_args()

    spark = get_spark(
        app_name="fanin-state-probe",
        shuffle_partitions=args.shuffle_partitions,
        rocksdb_state=True,
        rocksdb_changelog=True,
    )
    import pyspark.sql.functions as F

    from bigtwine_streamprocessor_spark import corpus, fragments
    from bigtwine_streamprocessor_spark.operators.parse import parse_tweets
    from bigtwine_streamprocessor_spark.sources.streams import replay_feed
    from bigtwine_streamprocessor_spark.streaming import fanin

    root = tempfile.mkdtemp(prefix="fanin-state-probe-")
    try:
        base = parse_tweets(
            corpus.tweets_df(spark, args.sf_dir), skip_retweets=True
        )
        n_base = base.count()
        amplify = max(1, args.keys // n_base)
        parsed = replay_feed(base, amplify)
        # the mid-flight fragment set: status for every key, decodedLocation
        # for every key (synth or geo — payload shape matches the topology's)
        frags = fragments.build_fragments(parsed).filter(
            F.col("stream_type").isin("status", "decodedLocation")
        )
        n_keys = parsed.count()

        indir = os.path.join(root, "in")
        if args.waves == 1:
            frags.coalesce(8).write.json(indir)
        else:
            os.makedirs(indir)
            frags.filter(F.col("stream_type") == "status").coalesce(
                8
            ).write.json(os.path.join(indir, "w1"))

        # Drain-and-stop by WATCHING input progress: ProcessingTimeTimeout
        # state marks every execution as requiring another batch, so the
        # query never self-terminates (even under availableNow) — it spins
        # empty batches forever, churning RocksDB versions. Stop explicitly
        # once the source backlog is consumed and one further (empty) batch
        # has committed the state.
        import time

        def _drain(expect_rows: int):
            stream = (
                spark.readStream.schema(
                    "tag string, stream_type string, payload_json string"
                )
                .option("recursiveFileLookup", "true")
                .option("maxFilesPerTrigger", 1024)
                .json(indir)
            )
            out = fanin.fanin_stream(stream, timeout_ms=3_600_000)
            q = (
                out.writeStream.foreachBatch(lambda df, eid: df.count())
                .option("checkpointLocation", os.path.join(root, "chk"))
                .trigger(processingTime="1 seconds")
                .start()
            )
            deadline = time.time() + 600
            while time.time() < deadline:
                ps = q.recentProgress
                total = sum(p["numInputRows"] for p in ps if p)
                if (
                    total >= expect_rows
                    and ps
                    and ps[-1]["numInputRows"] == 0
                ):
                    break
                time.sleep(1.0)
            q.stop()

        _drain(n_keys * (2 if args.waves == 1 else 1))
        if args.waves == 2:
            frags.filter(
                F.col("stream_type") == "decodedLocation"
            ).coalesce(8).write.json(os.path.join(indir, "w2"))
            _drain(n_keys)

        du = _du_split(os.path.join(root, "chk"))
        total = sum(du.values())
        report = {
            "metric": "fanin_state_bytes_per_key",
            "keys": n_keys,
            "waves": args.waves,
            "shuffle_partitions": args.shuffle_partitions,
            "bytes_total": total,
            "bytes_per_key": round(total / n_keys, 1),
            "split": du,
            "split_per_key": {
                k: round(v / n_keys, 1) for k, v in du.items()
            },
        }
        print(json.dumps(report), flush=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
