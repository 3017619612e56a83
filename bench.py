#!/usr/bin/env python
"""Benchmark harness: run the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE JSON line.

Each query is forced end-to-end with the noop sink (full computation, no
driver-side collect). First a warmup touch of each input file primes the OS
page cache so timings measure the engine, not cold disk.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bigtwine_streamprocessor_spark import registry  # noqa: E402
from bigtwine_streamprocessor_spark.session import get_spark  # noqa: E402

HEADLINE = [
    "neel_assembled",
    "neel_export_challenge",
    "neel_export_extended",
    "agg_pricing_summary",
    "join_fact_fact",
    "join_broadcast_dims",
    "window_topk_per_group",
    "window_tumbling_events",
    "chunked_requests",
    "group_collect_entities",
]


def steady_estimate(
    samples: list[tuple[float, int]], n: int, warm_frac: float = 0.25
) -> tuple[float, float, list[float], float | None, float | None]:
    """Step-aligned steady-rate estimator over a (time, completed-count)
    sample series. Returns (rate, window_s, sub_rates, band, consistency).

    Results land in ATOMIC whole-epoch bursts (the staged-epoch transport
    promotes an epoch's results with one dir rename), so the completion
    series is a step function and any WALL-CLOCK sub-window boundary cuts
    mid-plateau: a window that happens to end just before a promotion
    under-counts by a whole epoch (the r9 official capacity record read
    band_frac 0.224 with halves 976 vs 1221/s — ramp quantization, not
    drift). Align everything to the STEP POINTS (the commit timestamps as
    the sampler observed them): the slope runs first-step..last-step, and
    the two halves split at a step index, so every window begins and ends
    exactly at an epoch promotion and burst packing cancels out of the
    rate. Steps are extracted from the FULL sample series before the
    warm-threshold cut (advisor r11 fix): seeding with the first
    over-threshold sample unconditionally kept a mid-plateau repeat
    observation as the left endpoint, inflating the window and biasing the
    slope low by a sampler-phase-dependent amount.

    ``consistency`` is the fraction of sub-window rates within +/-20% of
    the slope rate — 1.0 means every sub-window agrees with the headline
    number, so a real regression (slope shift > 20%) is distinguishable
    from burst noise. Round-over-round target >= 0.8.
    """
    steady_rate = 0.0
    steady_window = 0.0
    sub_rates: list[float] = []
    warm_floor = max(1, int(n * warm_frac))
    steps = [
        (t, c)
        for i, (t, c) in enumerate(samples)
        if c >= warm_floor and (i == 0 or c > samples[i - 1][1])
    ]
    if len(steps) >= 2:
        (t_a, c_a), (t_b, c_b) = steps[0], steps[-1]
        if t_b > t_a and c_b > c_a:
            steady_window = t_b - t_a
            steady_rate = (c_b - c_a) / steady_window
            mid = len(steps) // 2
            for half in (steps[: mid + 1], steps[mid:]):
                if len(half) >= 2 and half[-1][0] > half[0][0]:
                    r = (half[-1][1] - half[0][1]) / (
                        half[-1][0] - half[0][0]
                    )
                    if r > 0:
                        sub_rates.append(r)
    band = (
        round((max(sub_rates) - min(sub_rates)) / steady_rate, 3)
        if sub_rates and steady_rate > 0
        else None
    )
    consistency = (
        round(
            sum(
                1
                for r in sub_rates
                if abs(r - steady_rate) <= 0.2 * steady_rate
            )
            / len(sub_rates),
            2,
        )
        if sub_rates and steady_rate > 0
        else None
    )
    return steady_rate, steady_window, sub_rates, band, consistency


def bench_topology(
    spark,
    stream_sf_dir: str,
    timeout_s: int = 300,
    max_files_per_trigger: int = 8,
    shuffle_partitions: int | None = None,
    amplify: int = 80,
    n_files: int = 256,
    warm_frac: float = 0.25,
) -> dict:
    """End-to-end async topology throughput, measured two ways:

    * ``elapsed_s`` / ``tweets_per_s`` — one-shot wall clock from start to the
      last assembled result. Dominated by trigger latency across the 6 hops
      at small corpora; kept for continuity with earlier rounds.
    * ``steady_tweets_per_s`` — the CONTINUOUS-FEED number: the corpus streams
      in as many files (maxFilesPerTrigger keeps batches flowing), completion
      counts are sampled on a fine interval, and the rate is fit over the
      window AFTER the first quarter of results landed (pipeline warm, every
      hop busy) until the last result. This is the round-over-round
      comparable throughput; the one-shot number mixes in startup latency.
    """
    import shutil
    import tempfile

    from bigtwine_streamprocessor_spark import corpus
    from bigtwine_streamprocessor_spark.operators.parse import parse_tweets
    from bigtwine_streamprocessor_spark.sources.streams import replay_feed
    from bigtwine_streamprocessor_spark.streaming import topology
    from bigtwine_streamprocessor_spark.streaming.transport import TopicCounter

    root = tempfile.mkdtemp(prefix="bench-topo-")
    try:
        base = parse_tweets(
            corpus.tweets_df(spark, stream_sf_dir), skip_retweets=True
        )
        # replay amplification: x80 copies under distinct ids — batches must
        # carry enough rows that the steady rate measures per-batch CAPACITY
        # of the hops, not the feed's drip latency (470-row total corpus ->
        # ~60-row batches -> a number dominated by 1 s trigger waits). x40
        # (r5, was x20) stretched the steady region to ~40 s; x80 (r6)
        # doubles it to ~80 s so each of the 5 sub-windows averages ~16
        # trigger spurts — at x40 the fan-in completion bursts still swung
        # sub-window rates 376-910 tweets/s (band_frac 0.91), too wide to
        # detect a real round-over-round regression.
        parsed = replay_feed(base, amplify).cache()
        n = parsed.count()
        indir = os.path.join(root, "in")
        # many small files -> a continuous stream of micro-batches rather
        # than one giant batch followed by idle triggers (x80 corpus -> 256
        # files keeps ~1175 rows/trigger, same per-trigger load as r5)
        parsed.repartition(n_files).write.json(indir)
        if shuffle_partitions is not None:
            # fresh checkpoints per run, so the stateful-op partition count
            # is free to change between bench points
            spark.conf.set(
                "spark.sql.shuffle.partitions", str(shuffle_partitions)
            )
        stream = (
            spark.readStream.schema(parsed.schema)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .json(indir)
        )

        t0 = time.perf_counter()
        run = topology.start_topology(
            spark, os.path.join(root, "topics"), stream, "bench",
            timeout_ms=120_000,
        )
        # incremental counter: read_all() re-reads every result file per
        # poll (O(files^2) over the run — the sampler itself was burning a
        # core next to the queries it measures by the ~1200-file mark)
        results_counter = TopicCounter(run.topics["results"])
        samples: list[tuple[float, int]] = []
        got = 0
        # teardown stack-traces into stderr, which is why main() prints the
        # JSON line strictly LAST
        with run:
            deadline = time.time() + timeout_s
            while time.time() < deadline and got < n:
                got = results_counter.count()
                samples.append((time.perf_counter() - t0, got))
                time.sleep(0.25)
            elapsed = time.perf_counter() - t0
        parsed.unpersist()

        # steady region: first sample at >= 25% completed -> last sample.
        # The headline steady rate is the SLOPE over the whole region:
        # throughput through the 6-hop topology genuinely oscillates
        # trigger-to-trigger (fan-in completions land in bursts), so any
        # sub-window sample swings 2x run-to-run (r5 measured 279-734
        # tweets/s sub-windows within ONE run); the ~40 s full-region slope
        # averages the oscillation and is the round-over-round comparable
        # number. Sub-window rates stay as the variance diagnostic.
        steady_rate, steady_window, sub_rates, band, consistency = (
            steady_estimate(samples, n, warm_frac)
        )
        return {
            "tweets": n,
            "completed": got,
            "elapsed_s": round(elapsed, 3),
            "tweets_per_s": round(got / elapsed, 1) if elapsed > 0 else 0.0,
            "steady_tweets_per_s": round(steady_rate, 1),
            "steady_window_s": round(steady_window, 3),
            "steady_subwindow_rates": [round(r, 1) for r in sub_rates],
            "steady_band_frac": band,
            "steady_consistency": consistency,
            "max_files_per_trigger": max_files_per_trigger,
            "rows_per_trigger": round(n / n_files * max_files_per_trigger),
            "method": "slope over epoch-commit step points in the"
            " 25%-complete..last-result region (half-windows split at a"
            " step index so no boundary cuts a promotion burst), continuous"
            f" feed (x{amplify} replay-amplified corpus, {n_files} files,"
            f" maxFilesPerTrigger={max_files_per_trigger})",
        }
    finally:
        shutil.rmtree(root, ignore_errors=True)


# Load gate for the OFFICIAL record (r8 verdict task 2; tightened r11 per
# verdict task 3): the r7/r8 official runs started under heavy external load
# (load1 4.76 / 7.13) and the r9/r10 ones landed at 1.43/1.47 — under the
# old <1.5 bar but contended enough to manufacture a ~16-query phantom
# regression list of sub-second entries each round. The bench now waits for
# a genuinely idle window (load1 < 0.5) first; if that never arrives within
# the budget it falls back to the old <1.5 bar, and only past THAT does the
# run proceed stamped "loaded": true. The recorded load1 makes every record
# self-identifying either way. Sub-second entries additionally take the min
# of 2 passes (see _MIN2_THRESHOLD_S) so a single scheduler hiccup cannot
# read as a regression.
LOAD1_IDLE_TARGET = float(os.environ.get("SPARK_GRAFT_BENCH_LOAD1_TARGET", "0.5"))
LOAD1_IDLE_MAX = float(os.environ.get("SPARK_GRAFT_BENCH_LOAD1_MAX", "1.5"))
LOAD_WAIT_BUDGET_S = float(os.environ.get("SPARK_GRAFT_BENCH_LOAD_WAIT_S", "600"))
# 8 s covers the whole phantom-regression band observed across r9-r12
# records: at matched idle load the 72-entry TOTAL is stable to 0.1% while
# individual 2-4.5 s entries still swing 1.2-1.4x run-to-run; one retry per
# such entry (~1 min across the suite) converts that swing into a stable
# min. The r11->r12 threshold raise (5 -> 8) closes a borderline artifact:
# the session's FIRST neel_assembled execution pays ~3.5 s of one-time
# plan/codegen cost and straddled the old 5 s bar — r11's first pass read
# 4.92 s (under -> retried -> 1.5 s recorded) while r12's read 5.07 s
# (over -> recorded raw), manufacturing a 3.6x phantom on an unchanged
# plan (warm run 1.43 vs 1.46 s, verified against the r11 tree). Entries
# >= 8 s (topology, the 1M-key soaks) are long enough to be
# self-averaging; dedup_incremental's decomposed composite times its own
# parts and is unaffected.
_MIN2_THRESHOLD_S = float(os.environ.get("SPARK_GRAFT_BENCH_MIN2_S", "8.0"))


# --- host-contention calibration probe (r11 verdict task 2) -----------------
#
# Three same-day idle-gated r11 runs spanned 163.8/176.0/251.4 s with clean
# guest telemetry: the load1 gate sees THIS guest's runnable queue, not the
# host's, so co-tenant contention inflated whole sweeps invisibly. The probe
# is a fixed pure-CPU Spark job (codegen'd xxhash64 chain over a generated
# range — zero I/O, zero shuffle beyond the final 64-row aggregate, fully
# parallel over local[N]) run in the SAME session immediately before and
# after the timed sweep. Its wall time moves only with CPU availability, so
# probe_s / CALIB_REFERENCE_S is a direct contention multiplier for the
# surrounding entries: ratio ~1.0 on both probes = the sweep is an engine
# number; uniformly inflated probes = environment, read per-query deltas
# against the calibration-normalized total (PERF.md r12 protocol).

CALIB_ROWS = 800_000_000
CALIB_PARTITIONS = 64
_CALIB_CHAIN = "id"
for _ in range(12):
    _CALIB_CHAIN = f"xxhash64({_CALIB_CHAIN})"
# reference median of the probe (r12, best-available window at load1 2.6
# guest-side: samples 2.31-2.38 across two probes; lowest repeatable
# median). The ratio probe_s / CALIB_REFERENCE_S is the contention
# multiplier; re-pin only from a lower repeatable median, never higher.
CALIB_REFERENCE_S = 2.35


def calibration_probe(spark) -> dict:
    """Median-of-3 wall time of the fixed CPU job (median, not min: the
    probe exists to SEE sustained contention, which min would hide), plus
    the individual samples for the detail record."""
    samples = []
    for _ in range(3):
        t0 = time.perf_counter()
        (
            spark.range(0, CALIB_ROWS, 1, CALIB_PARTITIONS)
            .selectExpr(f"sum(({_CALIB_CHAIN}) % 1000000) AS s")
            .collect()
        )
        samples.append(round(time.perf_counter() - t0, 3))
    med = sorted(samples)[1]
    return {
        "median_s": med,
        "samples_s": samples,
        "ratio": round(med / CALIB_REFERENCE_S, 3),
    }


# --- scheduling/IO calibration probe (r12 verdict task 5) -------------------
#
# The pure-CPU probe held ~1.0 across r12 runs while streaming entries moved
# 13-21% and the dedup LSH family drifted 25-30% round-over-round with NO
# code change (round-13 tree A/B, PERF.md) — contention in the stage-launch /
# scheduler / shuffle-file / micro-batch-trigger dimension is invisible to a
# single-stage compute job. This probe is that dimension, isolated: a fixed
# backlog of tiny json files drained through a real Structured Streaming
# query at maxFilesPerTrigger=1, each micro-batch running a small shuffle
# (groupBy over 8 keys) — SCHED_FILES triggers x 2 stages of sub-ms tasks,
# so wall time is almost entirely fixed per-trigger/per-stage/per-shuffle
# overhead. Paired before/after like the CPU probe: flat sched probes + a
# moved entry = engine; uniformly inflated sched probes = environment, read
# the many-short-stage entries (LSH dedup, streaming) against sched_ratio.

SCHED_FILES = 16
SCHED_ROWS_PER_FILE = 100
# reference median (r13, idle box, load1 0.5: five consecutive warmed
# probes read medians 3.67/3.68/3.79/3.99/4.44 -> lowest repeatable
# 3.67). Re-pin only from a lower repeatable median, never higher.
SCHED_REFERENCE_S = 3.67


def scheduling_probe(spark) -> dict:
    """Median-of-3 wall time of the fixed micro-batch drain (median, not
    min — sustained contention must stay visible), plus samples."""
    import shutil
    import tempfile

    samples = []
    # indexes -2/-1 are UNTIMED warmups: the session's first streaming
    # query pays one-time machinery init (~7 s extra, measured) and the
    # second still carries ~15% JIT tail — either would misread as
    # contention on the "before" probe
    for it in range(-2, 3):
        root = tempfile.mkdtemp(prefix="bench_sched_probe_")
        indir = os.path.join(root, "in")
        os.makedirs(indir)
        for i in range(SCHED_FILES):
            with open(os.path.join(indir, f"f{i:03d}.json"), "w") as f:
                for r in range(SCHED_ROWS_PER_FILE):
                    f.write('{"k": %d, "v": %d}\n' % (r % 8, r))
        stream = (
            spark.readStream.schema("k long, v long")
            .option("maxFilesPerTrigger", 1)
            .json(indir)
        )

        def _sink(batch_df, _eid) -> None:
            batch_df.groupBy("k").count().collect()

        t0 = time.perf_counter()
        q = (
            stream.writeStream.foreachBatch(_sink)
            .option("checkpointLocation", os.path.join(root, "ck"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        if it >= 0:
            samples.append(round(time.perf_counter() - t0, 3))
        shutil.rmtree(root, ignore_errors=True)
    med = sorted(samples)[1]
    return {
        "median_s": med,
        "samples_s": samples,
        "ratio": round(med / SCHED_REFERENCE_S, 3),
    }


def _wait_for_idle() -> float:
    """Poll load1 until it drops under LOAD1_IDLE_TARGET (preferred) or, once
    the budget runs out, accept anything under LOAD1_IDLE_MAX.

    Returns the load1 observed at the moment the bench actually starts.
    """
    deadline = time.monotonic() + LOAD_WAIT_BUDGET_S
    load1 = os.getloadavg()[0]
    while load1 > LOAD1_IDLE_TARGET and time.monotonic() < deadline:
        print(
            f"WARN: load1 {load1:.2f} > target {LOAD1_IDLE_TARGET} — waiting "
            f"for an idle window (budget "
            f"{int(deadline - time.monotonic())}s left)",
            file=sys.stderr,
            flush=True,
        )
        time.sleep(20.0)
        load1 = os.getloadavg()[0]
    return round(load1, 2)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").split("sf")[-1]) if "sf" in sf_dir else -1.0
    load1 = _wait_for_idle()
    loaded = load1 > LOAD1_IDLE_MAX
    if loaded:
        print(
            f"WARN: starting LOADED (load1 {load1} after "
            f"{int(LOAD_WAIT_BUDGET_S)}s wait budget) — record will carry "
            '"loaded": true; rerun idle for a comparable number',
            file=sys.stderr,
            flush=True,
        )
    spark = get_spark(app_name="bench")

    names = [n for n in HEADLINE if n in registry.QUERIES]
    # include any extension headliners registered later
    names += [n for n in registry.BENCH_EXTRA if n in registry.QUERIES and n not in names]

    # warm up the JVM/codegen paths so query timings measure the engine
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    # prime the OS page cache over EVERY input table (17 MB at sf0.1 —
    # milliseconds), so the first-touched entries don't absorb whatever
    # cold-read state the machine is in (the r10 agg_pricing_summary
    # "regression" was exactly this: first entry in the loop, cold scan)
    for fn in sorted(os.listdir(sf_dir)):
        if fn.endswith(".parquet"):
            p = os.path.join(sf_dir, fn)
            paths = (
                [os.path.join(p, f) for f in os.listdir(p)]
                if os.path.isdir(p)
                else [p]
            )
            for f in paths:
                if os.path.isfile(f):
                    with open(f, "rb") as fh:
                        while fh.read(1 << 22):
                            pass

    # paired contention probe: before the sweep (after warmup so JVM state
    # is comparable), and again after capacity mode — see calibration_probe
    calib_before = calibration_probe(spark)
    sched_before = scheduling_probe(spark)

    from bigtwine_streamprocessor_spark.operators import dedup, similarity
    from pyspark.sql import functions as F

    def _emb_edges():
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        e = (
            similarity.embedding_neardup_pairs(emb, 0.2, n_bits=8)
            .select("doc_a", "doc_b")
            .localCheckpoint(eager=True)
        )
        return emb, e

    timings: dict[str, float] = {}
    subtimings: dict[str, dict] = {}

    def _timed(run) -> float:
        """Time run(); sub-second-ish entries take the MIN of 2 passes
        (r10 verdict task 3): at these durations a single scheduler hiccup
        or page-cache miss reads as a 1.2-1.6x 'regression', and two
        consecutive official records manufactured a 16-entry phantom list
        that way. The min of two passes is the engine cost; the retry adds
        under a second per affected entry."""
        t0 = time.perf_counter()
        run()
        t = time.perf_counter() - t0
        if t < _MIN2_THRESHOLD_S:
            t0 = time.perf_counter()
            run()
            t = min(t, time.perf_counter() - t0)
        return round(t, 3)

    for name in names:
        # Production shape for the clustering family: connected components
        # consume CACHED near-dup pairs — the candidate chains are timed
        # under their own entries (dedup_ngram_jaccard for the text chain,
        # similarity_embedding_neardup for the embedding chain); these
        # entries time the label-propagation rounds (+ the keep join).
        if name == "dedup_clusters":
            docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
            edges = (
                dedup.ngram_jaccard_pairs(docs, 0.5)
                .select("doc_a", "doc_b")
                .persist()
            )
            edges.count()  # materialize outside the timed window
            timings[name] = _timed(
                lambda: dedup.dedup_clusters(docs, edges=edges)
                .write.format("noop")
                .mode("overwrite")
                .save()
            )
            edges.unpersist()
            continue
        if name == "dedup_embedding_clusters":
            _, edges = _emb_edges()
            timings[name] = _timed(
                lambda: dedup.connected_components(edges)
                .write.format("noop")
                .mode("overwrite")
                .save()
            )
            continue
        if name == "dedup_semantic_keep":
            emb, edges = _emb_edges()

            def _semantic_keep(emb=emb, edges=edges):
                cc = dedup.connected_components(edges)
                (
                    emb.join(cc, emb["vec_id"] == cc["doc_id"], "left")
                    .filter(
                        F.col("cluster_id").isNull()
                        | (F.col("cluster_id") == F.col("vec_id"))
                    )
                    .select("vec_id")
                    .write.format("noop")
                    .mode("overwrite")
                    .save()
                )

            timings[name] = _timed(_semantic_keep)
            continue
        if name == "dedup_incremental":
            # Decomposed (r9 verdict task 2): the gate composite is
            # build-the-index + O(delta) scan; the total is the honest
            # ingest->index->serve cost, but the SCAN half is what a
            # steady-state deployment pays per batch — record both. The
            # build/scan thunks come from the SAME helper the gate callable
            # runs (registry.dedup_incremental_parts) so the timed path and
            # the oracle-gated path cannot drift apart (advisor r10).
            build, scan = registry.dedup_incremental_parts(spark, sf_dir)
            t0 = time.perf_counter()
            build()
            t1 = time.perf_counter()
            scan().write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            timings[name] = round(t2 - t0, 3)
            subtimings[name] = {
                "build_index_s": round(t1 - t0, 3),
                "scan_delta_s": round(t2 - t1, 3),
            }
            continue
        timings[name] = _timed(
            lambda name=name: registry.QUERIES[name](spark, sf_dir)
            .write.format("noop")
            .mode("overwrite")
            .save()
        )

    # steady-state throughput of the flagship (second run: plan + codegen
    # warm) — the "matches-or-beats single-node throughput" number
    t0 = time.perf_counter()
    registry.QUERIES["neel_assembled"](spark, sf_dir).write.format(
        "noop"
    ).mode("overwrite").save()
    steady_s = time.perf_counter() - t0
    n_tweets = registry.QUERIES["neel_parsed"](spark, sf_dir).count()
    steady = {
        "neel_assembled_s": round(steady_s, 3),
        "tweets": n_tweets,
        "tweets_per_s": round(n_tweets / steady_s, 1),
    }

    # streaming path: fixed at sf0.01 so the number is comparable per round
    stream_sf = os.environ.get(
        "SPARK_GRAFT_STREAM_SF_DIR", "/root/testdata/sf0.01"
    )
    try:
        streaming = bench_topology(spark, stream_sf)
        timings["topology_stream"] = streaming["elapsed_s"]
        # Streaming regression band (PERF.md round-10 refresh): the r9 band
        # was 440-600/s under the wall-clock sub-window estimator; the r10
        # step-aligned estimator (slopes over epoch-commit points) reads
        # ~5-10% higher because it no longer cuts promotion bursts at
        # window boundaries — 7 samples under it landed 540-639/s at
        # consistency 1.0 (plus the 508.3 first post-fix check). Band is
        # now 500-650/s; floor raised 400 -> 450. A single sub-450 reading
        # that load1 can't explain is a real regression signal (the pre-r9
        # 1-in-3 slow mode stays retired). Warn-level so the run records.
        if 0 < streaming.get("steady_tweets_per_s", 0) < 450:
            streaming["below_450_floor"] = True
            print(
                "WARN: latency-mode steady rate "
                f"{streaming['steady_tweets_per_s']}/s is below the 450/s "
                "floor. Check load1 first; if idle, treat as a REAL "
                "regression (PERF.md round-10 band refresh: 500-650/s "
                "under the step-aligned estimator)",
                file=sys.stderr,
            )
    except Exception as exc:  # still emit the JSON line on a streaming crash
        streaming = {"error": f"{type(exc).__name__}: {exc}"[:500]}

    # CAPACITY mode (r7 scaling-curve point promoted to the official record):
    # 32 files/trigger + 2x shuffle partitions — same topology, batches sized
    # for throughput instead of trigger latency (r7 measured 4,521-5,786
    # tweets/s here vs ~550/s in the 8-file latency mode above). Runs LAST so
    # the shuffle-partition override can't leak into any timed entry.
    try:
        cap_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions")) * 2
        # x240/768 files -> 24 epochs of 32 files (the x80/256 feed gave
        # capacity mode only 8 epochs: the run was all ramp, consistency 0.0
        # in every record). Same ~4,700 rows/trigger as before.
        streaming_cap = bench_topology(
            spark,
            stream_sf,
            max_files_per_trigger=32,
            shuffle_partitions=cap_shuffle,
            amplify=240,
            n_files=768,
        )
        streaming_cap["shuffle_partitions"] = cap_shuffle
        # Capacity mode's comparable number is the ONE-SHOT plateau
        # (877/844/833 across r8-r9 records; r10 step-aligned reruns 913/857):
        # even with the estimator aligned to epoch-commit steps, a 24-epoch
        # run's half-window slopes swing up to 50% run-to-run (epoch
        # durations vary with GC/burst packing), so the steady slope fails
        # its own band check more often than not. The steady fields stay in
        # BENCH_DETAIL as variance diagnostics; the compact record carries
        # only the one-shot plateau (r9 verdict task 5).
        streaming_cap["steady_note"] = (
            "diagnostic only — capacity headline is the one-shot plateau"
            " (tweets_per_s); steady slope is epoch-quantized at 24 epochs"
        )
        # KNEE run (r13 verdict task 4): the r13 trigger sweep put the
        # small-state knee at maxFilesPerTrigger=64 (~7,000 tweets/s steady
        # vs 668/s one-shot at trigger 32) — the number a cluster sizing
        # extrapolates from. Record the knee config alongside the
        # trigger-32 run (kept for round-over-round continuity).
        cap_knee = bench_topology(
            spark,
            stream_sf,
            max_files_per_trigger=64,
            shuffle_partitions=cap_shuffle,
            amplify=240,
            n_files=768,
        )
        streaming_cap["knee"] = {
            "max_files_per_trigger": 64,
            "shuffle_partitions": cap_shuffle,
            "tweets_per_s": cap_knee.get("tweets_per_s"),
            "elapsed_s": cap_knee.get("elapsed_s"),
            "steady_tweets_per_s": cap_knee.get("steady_tweets_per_s"),
            "steady_consistency": cap_knee.get("steady_consistency"),
        }
        # STATE-WALL point (r13 verdict task 4): sustained rate at ~1M
        # in-flight fan-in keys is a soak-scale measurement (minutes of
        # feed build + run) — re-measured by scripts/topology_scaling.py
        # per round, not inside every bench. Surface the stored point with
        # its provenance so the capacity block answers both sizing
        # questions (warm small-state knee vs bounded-state ceiling).
        wall_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "STATE_WALL.json"
        )
        if os.path.isfile(wall_path):
            with open(wall_path) as fh:
                streaming_cap["state_wall"] = json.load(fh)
    except Exception as exc:
        streaming_cap = {"error": f"{type(exc).__name__}: {exc}"[:300]}

    calib_after = calibration_probe(spark)
    sched_after = scheduling_probe(spark)

    # Append the probe medians to a PERMANENT per-run series (r13 verdict
    # task 1: the SCHED_REFERENCE_S pin was taken on a box that had already
    # drifted, so the ratio alone can't see pre-pin drift — the archived
    # series is the auditable record a future adjudication diffs against).
    hist_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "SCHED_HISTORY.jsonl"
    )
    with open(hist_path, "a") as fh:
        fh.write(
            json.dumps(
                {
                    "ts": round(time.time(), 1),
                    "sf": sf,
                    "load1": load1,
                    "sched_before_s": sched_before["median_s"],
                    "sched_after_s": sched_after["median_s"],
                    "calib_before_s": calib_before["median_s"],
                    "calib_after_s": calib_after["median_s"],
                    "sched_reference_s": SCHED_REFERENCE_S,
                }
            )
            + "\n"
        )

    total = round(sum(timings.values()), 3)
    # contention multiplier across the sweep: mean of the paired probes'
    # ratios; calibrated total = total / multiplier (what the sweep would
    # have cost at reference CPU availability)
    calib_mult = round((calib_before["ratio"] + calib_after["ratio"]) / 2, 3)
    total_calibrated = round(total / calib_mult, 3) if calib_mult > 0 else None
    sched_mult = round(
        (sched_before["ratio"] + sched_after["ratio"]) / 2, 3
    )
    # Per-query calibrated values (r14 verdict task 2): the box's scheduling
    # dimension swings 0.92-1.52x BETWEEN records while the CPU probe stays
    # near 1.0, and two consecutive PERF comparisons painted untouched
    # sub-second queries as regressed by exactly that swing. First-order
    # correction: divide every entry by the mean of this run's two probe
    # multipliers (CPU + scheduling — short entries are mostly stage-launch
    # overhead, long ones mostly compute, so the blend under-corrects both
    # rather than over-correcting either). Additions-only: the raw block is
    # unchanged and stays the primary record; compare queries_calibrated
    # across rounds before flagging a regression.
    query_mult = round((calib_mult + sched_mult) / 2, 3)
    queries_calibrated = (
        {k: round(v / query_mult, 3) for k, v in timings.items()}
        if query_mult > 0
        else {}
    )

    # Full per-query detail goes to a separate artifact (and an EARLIER
    # stdout line): the driver captures only the last ~2000 chars of output,
    # and r5's 3.5 kB all-inclusive final line truncated mid-JSON and failed
    # to parse (BENCH_r05.json parsed: null). The final line itself stays
    # compact (headline subset + steady + streaming headline, ~1 kB).
    detail = {
        "metric": "headline_queries_total_wall_detail",
        "value": total,
        "unit": "sec",
        "load1": load1,
        "loaded": loaded,
        "min2_threshold_s": _MIN2_THRESHOLD_S,
        "calibration_before": calib_before,
        "calibration_after": calib_after,
        "calibration_multiplier": calib_mult,
        "calibration_reference_s": CALIB_REFERENCE_S,
        "sched_probe_before": sched_before,
        "sched_probe_after": sched_after,
        "sched_multiplier": sched_mult,
        "sched_reference_s": SCHED_REFERENCE_S,
        "value_calibrated": total_calibrated,
        "query_calibration_multiplier": query_mult,
        "queries_calibrated": queries_calibrated,
        "queries": timings,
        "subtimings": subtimings,
        "steady": steady,
        "streaming": streaming,
        "streaming_capacity": streaming_cap,
        "sf": sf,
    }
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    with open(detail_path, "w") as fh:
        json.dump(detail, fh, indent=2, sort_keys=True)
    # pointer only — printing the full detail JSON here left a truncated
    # fragment inside the driver's ~2000-char output-tail capture (the
    # stale mid-record blob in BENCH_r13.json's "tail"; r13 verdict task 8)
    print(
        json.dumps({"metric": "detail_written", "path": detail_path,
                    "n_queries": len(timings)}),
        flush=True,
    )

    streaming_compact = {
        k: streaming[k]
        for k in (
            "tweets",
            "completed",
            "elapsed_s",
            "tweets_per_s",
            "steady_tweets_per_s",
            "steady_window_s",
            "steady_consistency",
            "below_450_floor",
            "error",
        )
        if k in streaming
    }
    cap_compact = {
        k: streaming_cap[k]
        for k in (
            "tweets_per_s",
            "max_files_per_trigger",
            "shuffle_partitions",
            "error",
        )
        if k in streaming_cap
    }
    if "knee" in streaming_cap:
        cap_compact["knee_tweets_per_s"] = streaming_cap["knee"].get(
            "tweets_per_s"
        )
        cap_compact["knee_steady_tweets_per_s"] = streaming_cap["knee"].get(
            "steady_tweets_per_s"
        )
    if "state_wall" in streaming_cap:
        cap_compact["state_wall_tweets_per_s"] = streaming_cap[
            "state_wall"
        ].get("sustained_tweets_per_s")
    compact = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        # 1-min load average at the START of the run (captured in main()
        # before Spark spins up, AFTER the idle-wait gate): a load-skewed
        # official run is self-identifying in the permanent BENCH_r{N}.json
        # record via both the value and the "loaded" flag.
        "load1": load1,
        "loaded": loaded,
        # paired pure-CPU probe medians (see calibration_probe): host
        # contention the load1 gate can't see, and the total normalized to
        # reference CPU availability
        "calibration_before_s": calib_before["median_s"],
        "calibration_after_s": calib_after["median_s"],
        "calibration_multiplier": calib_mult,
        # paired scheduling/IO probe medians (see scheduling_probe): the
        # stage-launch/shuffle/trigger-overhead dimension the CPU probe
        # is blind to — streaming and LSH-dedup deltas read against this
        "sched_before_s": sched_before["median_s"],
        "sched_after_s": sched_after["median_s"],
        "sched_multiplier": sched_mult,
        "value_calibrated": total_calibrated,
        "query_calibration_multiplier": query_mult,
        "queries": {
            k: timings[k]
            for k in HEADLINE + ["topology_stream"]
            if k in timings
        },
        # per-entry calibrated twins of "queries" (r14 verdict task 2);
        # additions-only — the raw block above is unchanged
        "queries_calibrated": {
            k: queries_calibrated[k]
            for k in HEADLINE + ["topology_stream"]
            if k in queries_calibrated
        },
        "steady": steady,
        "streaming": streaming_compact,
        "streaming_capacity": cap_compact,
        "sf": sf,
        "detail": "BENCH_DETAIL.json",
    }
    line = json.dumps(compact)
    # hard guard on the driver's ~2000-char output-tail capture: drop keys
    # until the line fits with margin (calibrated twins go first — the raw
    # block is the primary record and BENCH_DETAIL always holds both)
    for drop in (
        "queries_calibrated",
        "queries",
        "streaming_capacity",
        "streaming",
        "steady",
    ):
        # 1700: the calibrated block lifted the expected line to ~1.5 kB;
        # the driver's tail capture is ~2000 chars and the JSON prints last,
        # so 1700 keeps 300 chars of margin before anything is dropped
        if len(line) <= 1700:
            break
        compact.pop(drop, None)
        line = json.dumps(compact)

    # The driver parses the LAST line of combined output. Spark's JVM logs to
    # stderr asynchronously (executor-thread stack traces on streaming stop
    # landed AFTER the JSON line in r4 and broke the parse), so: stop Spark
    # first, give the JVM a moment to flush its final log lines, then print
    # the JSON as the absolute last output.
    spark.stop()
    sys.stderr.flush()
    sys.stdout.flush()
    time.sleep(2.0)
    print(line, flush=True)


if __name__ == "__main__":
    main()
