#!/usr/bin/env python
"""Streaming-topology throughput scaling curve: rate vs trigger size.

The batch sweeps prove 10x-1000x scale for every batch operator, but the
stateful streaming path (6-hop async topology + 4-way fan-in) can't be
scale-swept that way — its 100x evidence is THIS curve: hold the corpus
and file layout fixed, raise rows-per-trigger (maxFilesPerTrigger 8 ->
16 -> 32), and measure the steady-slope rate. If throughput rises with
batch size, the pipeline is trigger-latency-bound (bigger batches = more
parallel work per fixed per-trigger overhead — exactly what a real
cluster-scale feed looks like); if it flattens, the bottleneck is
per-row work and the knob is shuffle partitions instead (the 4th point
doubles them at the largest trigger to separate the two).

Run on an IDLE machine (loaded-machine streaming timings lie — PERF.md r6).

Usage:
    python scripts/topology_scaling.py [--points 8 16 32] [--sf-dir ...]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import bench_topology  # noqa: E402
from bigtwine_streamprocessor_spark.session import get_spark  # noqa: E402


def _du_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        for fn in files:
            try:
                total += os.path.getsize(os.path.join(base, fn))
            except OSError:
                pass
    return total


def restart_soak(
    spark,
    sf_dir: str,
    amplify: int = 80,
    n_files: int = 256,
    max_files_per_trigger: int = 8,
    min_inflight: int = 10_000,
    timeout_s: int = 900,
    fanin_timeout_ms: int = 120_000,
) -> dict:
    """Restart-under-load soak (r8 verdict task 8): hard-kill the x80 bench
    feed mid-stream with >= ``min_inflight`` keys in flight, restart the
    topology from the same root (checkpoints + topics + service offsets),
    and require the final result set to EQUAL the in-process batch golden —
    the `test_topology_restart_is_exactly_once` proof at bench scale
    instead of unit scale. The kill is q.stop() on every live query without
    draining (tasks are interrupted mid-epoch; staged epochs are left
    partial on purpose)."""
    import shutil
    import tempfile
    import time as _time

    import pyspark.sql.functions as F

    from bigtwine_streamprocessor_spark import corpus, fragments
    from bigtwine_streamprocessor_spark.operators.parse import parse_tweets
    from bigtwine_streamprocessor_spark.sources.streams import replay_feed
    from bigtwine_streamprocessor_spark.streaming import fanin, topology
    from bigtwine_streamprocessor_spark.streaming.transport import TopicCounter

    root = tempfile.mkdtemp(prefix="soak-")
    try:
        base = parse_tweets(corpus.tweets_df(spark, sf_dir), skip_retweets=True)
        parsed = replay_feed(base, amplify).cache()
        n = parsed.count()
        indir = os.path.join(root, "in")
        parsed.repartition(n_files).write.json(indir)

        # batch golden BEFORE any streaming work (driver-held: this is the
        # verification script, not the engine). Held as per-tag md5 DIGESTS
        # of the canonical payload, not the payload strings: at the x240 /
        # 1.13M-key point the string maps were ~28 GB of small objects and
        # the final compare sat in CPython's cyclic GC for ~45 minutes
        # (r14; clocks were unaffected — they stop before the compare —
        # but the wall cost was absurd and the in-run heap pressure real).
        import hashlib

        def _digest(payload) -> bytes:
            return hashlib.md5(
                json.dumps(payload, sort_keys=True).encode()
            ).digest()

        want_df = fragments.finalize_results(
            fanin.fanin_batch(fragments.build_fragments(parsed))
        )
        want = {
            r["tag"]: _digest(json.loads(r["value"])["payload"])
            for r in want_df.select(
                F.col("tag"),
                F.to_json(F.struct(F.col("payload"))).alias("value"),
            ).collect()
        }

        def make_stream():
            return (
                spark.readStream.schema(parsed.schema)
                .option("maxFilesPerTrigger", max_files_per_trigger)
                .json(indir)
            )

        topics_root = os.path.join(root, "topics")

        # ---- first life: run until the pipeline is warm with a big ------
        # ---- in-flight population, then hard-kill ------------------------
        run = topology.start_topology(
            spark, topics_root, make_stream(), "soak",
            timeout_ms=fanin_timeout_ms,
        )
        counter = TopicCounter(run.topics["results"])
        t0 = _time.perf_counter()
        mid = 0
        with run:
            deadline = _time.time() + timeout_s
            last_note = _time.time()
            while _time.time() < deadline:
                mid = counter.count()
                if mid >= n // 8 and (n - mid) >= min_inflight:
                    break  # warm AND loaded: kill here
                if n - mid < min_inflight:
                    break  # corpus too small for the requested in-flight
                # a dead query can never complete more keys — spinning to
                # the timeout hides the failure (r14: a stream thread died
                # mid-life and the loop sat silent for 19 minutes)
                run.check()
                if _time.time() - last_note >= 30:
                    last_note = _time.time()
                    print(
                        f"life1 t={_time.perf_counter() - t0:.0f}s "
                        f"completed={mid} inflight={n - mid}",
                        flush=True,
                    )
                _time.sleep(0.25)
        kill_at = _time.perf_counter() - t0
        inflight = n - mid
        # state-store footprint AT the kill: the checkpointed state the
        # second life must reload before it can make progress (task 7's
        # recovery-SLO denominator)
        state_bytes = _du_bytes(os.path.join(topics_root, "_chk"))

        # ---- second life: same root, run to completion -------------------
        life1_stats = topology.reset_publish_stats()
        t1 = _time.perf_counter()
        run = topology.start_topology(
            spark, topics_root, make_stream(), "soak",
            timeout_ms=fanin_timeout_ms,
        )
        counter2 = TopicCounter(run.topics["results"])
        got = 0
        first_new_result_s = None  # replay-stall: restart -> first NEW result
        with run:
            deadline = _time.time() + timeout_s
            last_note = _time.time()
            while _time.time() < deadline and got < n:
                got = counter2.count()
                if first_new_result_s is None and got > mid:
                    first_new_result_s = round(_time.perf_counter() - t1, 1)
                run.check()
                if _time.time() - last_note >= 30:
                    last_note = _time.time()
                    print(
                        f"life2 t={_time.perf_counter() - t1:.0f}s "
                        f"completed={got}/{n}",
                        flush=True,
                    )
                _time.sleep(0.5)
        recovery_s = _time.perf_counter() - t1
        life2_stats = topology.reset_publish_stats()
        parsed.unpersist()

        # streaming one-pass compare against the digest golden: constant
        # small state per result line, no 10M-object dicts (see the golden
        # construction note above)
        n_results = 0
        partial_count = 0
        seen_tags: set[str] = set()
        matched_tags: set[str] = set()
        for line in run.topics["results"].read_all():
            r = json.loads(line)
            n_results += 1
            tag = r["payload"]["status"]["id"]
            seen_tags.add(tag)
            if r["is_partial"]:
                partial_count += 1
            if want.get(tag) == _digest(r["payload"]):
                matched_tags.add(tag)
        mismatches = len(want) - len(matched_tags)
        return {
            "metric": "topology_restart_soak",
            "tweets": n,
            "killed_at_completed": mid,
            "keys_in_flight_at_kill": inflight,
            "kill_at_s": round(kill_at, 1),
            "state_bytes_at_kill": state_bytes,
            "recovery_to_complete_s": round(recovery_s, 1),
            # replay-waste split (r12 verdict task 1): epoch publishes in
            # life 2 that were SKIPPED as already-committed vs run fresh,
            # plus life 1's counts and the restart->first-NEW-result stall
            "life1_epoch_publishes": life1_stats,
            "life2_epoch_publishes": life2_stats,
            "first_new_result_s": first_new_result_s,
            "fanin_timeout_ms": fanin_timeout_ms,
            "max_files_per_trigger": max_files_per_trigger,
            "shuffle_partitions": int(
                spark.conf.get("spark.sql.shuffle.partitions")
            ),
            "results": n_results,
            "unique_tags": len(seen_tags),
            "partials": partial_count,
            "payload_mismatches_vs_batch_golden": mismatches,
            "exactly_once": (
                n_results == n
                and len(seen_tags) == n
                and mismatches == 0
                and partial_count == 0
            ),
        }
    finally:
        shutil.rmtree(root, ignore_errors=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--points", type=int, nargs="*", default=[8, 16, 32])
    ap.add_argument(
        "--state-wall",
        action="store_true",
        help="measure the bounded-state ceiling: one x240 long-feed run at "
        "the capacity knee (trigger 64 / 2x shuffle), recording the "
        "half-window decay as in-flight fan-in state grows toward ~1M "
        "keys; prints the point as one JSON line",
    )
    ap.add_argument(
        "--restart-soak",
        action="store_true",
        help="instead of the scaling curve: hard-kill the x80 feed "
        "mid-stream (>=10k keys in flight) and verify exactly-once "
        "recovery against the batch golden",
    )
    ap.add_argument("--min-inflight", type=int, default=10_000)
    ap.add_argument(
        "--amplify",
        type=int,
        default=80,
        help="replay amplification for the soak feed (x80 ~ 376k tweets "
        "at sf0.1; x240 ~ 1.13M for the second recovery-curve point)",
    )
    ap.add_argument(
        "--soak-n-files",
        type=int,
        default=256,
        help="feed file count (scale with --amplify to hold rows/trigger)",
    )
    ap.add_argument(
        "--soak-timeout",
        type=int,
        default=900,
        help="per-life timeout seconds (the 1M-key recovery needs ~3600)",
    )
    ap.add_argument(
        "--rocksdb",
        action="store_true",
        help="RocksDB state store for the soak session (the >=1M-key "
        "point needs state off-heap)",
    )
    ap.add_argument(
        "--soak-timeout-ms",
        type=int,
        default=120_000,
        help="soak: fan-in one-shot deadline. The deadline exists in the "
        "soak only to NEVER fire (partials would diverge from the batch "
        "golden by design, masking the loss/duplicate check) — size it "
        "above the worst-case key latency of the chosen trigger (120 s "
        "holds for 8-file triggers; 32-file batches at ~1M keys in "
        "flight need ~420 s)",
    )
    ap.add_argument(
        "--soak-trigger",
        type=int,
        default=8,
        help="soak: maxFilesPerTrigger for both lives (the recovery clock "
        "is throughput-dominated — run the soak at the measured capacity "
        "knee, see --points sweep)",
    )
    ap.add_argument(
        "--shuffle-partitions",
        type=int,
        default=None,
        help="session shuffle partitions (stateful-op partition count; "
        "soak lives share one checkpoint so it must not change between "
        "them — set it here, not mid-run)",
    )
    ap.add_argument(
        "--changelog",
        action="store_true",
        help="with --rocksdb: changelog checkpointing (per-batch deltas "
        "instead of full SST snapshots) — the recovery-SLO knob",
    )
    ap.add_argument(
        "--double-shuffle-at-max",
        action=argparse.BooleanOptionalAction,
        default=True,
        help="add a 4th point: largest trigger with 2x shuffle partitions "
        "(disable with --no-double-shuffle-at-max)",
    )
    args = ap.parse_args()

    spark = get_spark(
        app_name="topology-scaling",
        shuffle_partitions=args.shuffle_partitions,
        rocksdb_state=getattr(args, "rocksdb", False),
        rocksdb_changelog=getattr(args, "changelog", False),
    )
    if args.state_wall:
        base_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
        # --soak-trigger defaults to 8 for the soak; the wall point runs at
        # the measured knee (64) unless explicitly overridden
        wall_trigger = args.soak_trigger if args.soak_trigger != 8 else 64
        wall_shuffle = args.shuffle_partitions or base_shuffle * 2
        r = bench_topology(
            spark,
            args.sf_dir,
            timeout_s=900,
            max_files_per_trigger=wall_trigger,
            shuffle_partitions=wall_shuffle,
            amplify=args.amplify if args.amplify != 80 else 240,
            n_files=args.soak_n_files if args.soak_n_files != 256 else 768,
        )
        subs = r.get("steady_subwindow_rates") or []
        report = {
            "metric": "state_wall",
            # the SECOND half-window rate is the wall: by then the
            # in-flight fan-in population has grown to its peak and the
            # per-batch state maintenance dominates (PERF.md round-13)
            "sustained_tweets_per_s": subs[-1] if subs else None,
            "first_half_tweets_per_s": subs[0] if subs else None,
            "one_shot_tweets_per_s": r.get("tweets_per_s"),
            "tweets": r.get("tweets"),
            "elapsed_s": r.get("elapsed_s"),
            "max_files_per_trigger": wall_trigger,
            "shuffle_partitions": wall_shuffle,
            "source": "scripts/topology_scaling.py --state-wall (x240 feed)",
        }
        print(json.dumps(report), flush=True)
        spark.stop()
        return
    if args.restart_soak:
        report = restart_soak(
            spark,
            args.sf_dir,
            amplify=args.amplify,
            n_files=args.soak_n_files,
            max_files_per_trigger=args.soak_trigger,
            min_inflight=args.min_inflight,
            timeout_s=args.soak_timeout,
            fanin_timeout_ms=args.soak_timeout_ms,
        )
        print(json.dumps(report), flush=True)
        spark.stop()
        return
    base_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    curve = []
    runs = [(p, None) for p in args.points]
    if args.double_shuffle_at_max:
        runs.append((max(args.points), base_shuffle * 2))
    for trigger, shuffle in runs:
        r = bench_topology(
            spark,
            args.sf_dir,
            timeout_s=420,
            max_files_per_trigger=trigger,
            shuffle_partitions=shuffle,
        )
        point = {
            "max_files_per_trigger": trigger,
            "shuffle_partitions": shuffle or base_shuffle,
            "rows_per_trigger": r.get("rows_per_trigger"),
            "steady_tweets_per_s": r.get("steady_tweets_per_s"),
            "steady_window_s": r.get("steady_window_s"),
            "steady_consistency": r.get("steady_consistency"),
            "one_shot_s": r.get("elapsed_s"),
            "completed": r.get("completed"),
            "tweets": r.get("tweets"),
            "load1": round(os.getloadavg()[0], 2),
        }
        curve.append(point)
        print(json.dumps(point), flush=True)
        # restore the baseline for the next point
        spark.conf.set("spark.sql.shuffle.partitions", str(base_shuffle))

    base = curve[0]["steady_tweets_per_s"] or 1.0
    print(
        json.dumps(
            {
                "metric": "topology_rate_vs_trigger",
                "curve": [
                    {
                        "trigger": c["max_files_per_trigger"],
                        "shuffle": c["shuffle_partitions"],
                        "rate": c["steady_tweets_per_s"],
                        "vs_base": round((c["steady_tweets_per_s"] or 0) / base, 2),
                    }
                    for c in curve
                ],
            }
        ),
        flush=True,
    )
    spark.stop()


if __name__ == "__main__":
    main()
