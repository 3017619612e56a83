"""One benchmark run of one workload, in a fresh process (run.py starts it).

Drives only the package's public entry points on inputs staged from the
seed before the process starts (``stage_inputs``), checks every output, and
writes one JSON record to ``--out``:
``{"correct", "attempted", "failed", "e2e": {...}, "layers": {...}}``.

A fatal fault (a dead streaming query or service simulator, a percentile
the samples cannot support) raises; the process then exits 3 with the cause
on stderr instead of waiting out a deadline.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402

# stream_light: open loop at a fixed rate, latency set by per-epoch cost
RATE = 25.0  # tweets/s
TICK_S = 0.1  # generator and result-poll period
# The tweets due in the first WARMUP_S are untimed load that carries the
# topology through its warm-up; the tweets due in the next --seconds are
# timed. The generator keeps the same rate after them until their last
# result shows, so no timed tweet rides a draining (lighter) topology.
WARMUP_S = 15.0
DRAIN_S = 60.0  # longest wait for the timed tweets' results
FANIN_TIMEOUT_MS = 120_000  # far above the run's latency: a partial is a fault
FEED_FILE = "feed.jsonl"
# batch_analysis_export
BATCH_TWEETS = 30_000
BATCH_FILES = 8
BATCH_DIR = "dataset"
ANALYSIS_ID = "perfbench"
SERVICES = ("ner", "nel", "linkresolver", "geodecoder")


class BenchFailure(RuntimeError):
    pass


# ---------------------------------------------------------------- shared ---


def stage_inputs(workload: str, seed: int, seconds: float, directory: str) -> None:
    """Write a run's inputs before its process starts, so that generating
    them is not timed: the stream feed as one tweet-JSON line per tweet, the
    batch dataset as the files the job reads."""
    os.makedirs(directory, exist_ok=True)
    if workload == "stream_light":
        n = int(RATE * (WARMUP_S + seconds + DRAIN_S))
        with open(os.path.join(directory, FEED_FILE), "w") as fh:
            fh.write("\n".join(gen.lines(seed, 0, n)) + "\n")
    else:
        gen.write_dataset(os.path.join(directory, BATCH_DIR), seed, BATCH_TWEETS, BATCH_FILES)


_thread_errors: dict = {}  # thread name -> its uncaught error (see main)


def _record_thread_error(hook_args):
    _thread_errors[hook_args.thread.name] = (
        f"{hook_args.exc_type.__name__}: {hook_args.exc_value}"
    )
    sys.__excepthook__(hook_args.exc_type, hook_args.exc_value, hook_args.exc_traceback)


def _cause(exc) -> str:
    """The most specific error line of a (possibly Java-wrapped) exception."""
    text = str(exc)
    named = re.findall(r"^\s*([\w.]+(?:Error|Exception): .*)$", text, re.M)
    return (named[-1] if named else text.splitlines()[0] if text else repr(exc))[:500]


def start_session():
    from bigtwine_streamprocessor_spark.session import get_spark

    t = time.time()
    spark = get_spark(app_name="perfbench")
    spark.range(1).count()
    return spark, time.time() - t


def project(status_df):
    """``status`` struct rows -> the corpus columns the parse reads (the
    projection the stream job applies to its tweet-JSON input)."""
    from pyspark.sql import functions as F

    from bigtwine_streamprocessor_spark.operators.parse import parse_tweets

    return parse_tweets(
        status_df.select(
            F.col("status.id").alias("id"),
            F.col("status.text").alias("text"),
            F.col("status.lang").alias("lang"),
            F.col("status.user.id").alias("user__id"),
            F.col("status.user.name").alias("user__name"),
            F.col("status.user.screenName").alias("user__screen_name"),
            F.col("status.user.location").alias("user__location"),
            F.coalesce(F.col("status.retweet"), F.lit(False)).alias("is_retweet"),
        ),
        skip_retweets=True,
    )


def digest(payload) -> bytes:
    return hashlib.md5(json.dumps(payload, sort_keys=True).encode()).digest()


def noop(df) -> float:
    """Seconds to force ``df`` into the noop sink."""
    t = time.time()
    df.write.format("noop").mode("overwrite").save()
    return time.time() - t


# ---------------------------------------------------------- stream_light ---


class Topology:
    """The async topology started on a replay feed, with fail-fast health."""

    def __init__(self, spark, root: str):
        from bigtwine_streamprocessor_spark.sources.streams import tweet_replay_source
        from bigtwine_streamprocessor_spark.streaming import topology

        self.indir = os.path.join(root, "in")
        os.makedirs(self.indir)
        feed = tweet_replay_source(spark, self.indir, max_files_per_trigger=100_000)
        topology.reset_publish_stats()
        self.queries, self.sims, self.topics = topology.start_topology(
            spark,
            os.path.join(root, "topics"),
            project(feed),
            ANALYSIS_ID,
            timeout_ms=FANIN_TIMEOUT_MS,
        )
        self.spark = spark

    def check(self) -> None:
        for n, q in enumerate(self.queries, start=1):
            if not q.isActive:
                raise BenchFailure(f"topology query q{n} died: {_cause(q.exception())}")
        for svc, sim in zip(SERVICES, self.sims):
            if not sim.is_alive():
                why = _thread_errors.get(sim.name, "thread ended without an error")
                raise BenchFailure(f"service simulator {svc} died: {why}")

    def stop(self) -> None:
        self.spark.sparkContext.setLogLevel("OFF")  # teardown aborts are noise
        for q in self.queries:
            try:
                q.stop()
            except Exception:  # a query that already died; its cause was reported
                pass
        for s in self.sims:
            s.stop()
        for s in self.sims:
            s.join(timeout=5)
        self.spark.sparkContext.setLogLevel("WARN")


def _inject(topo: Topology, fault: str) -> None:
    """Fault injection for checking the fail-fast path (PERFBENCH_INJECT)."""
    if fault == "dead_service":
        gen.publish(topo.topics["ner-requests"].dir, "bad", ["not json"])
    elif fault == "dead_query":
        frag = {"tag": "1", "stream_type": "linkedTweet", "payload_json": "{not json"}
        gen.publish(topo.topics["fragments"].dir, "bad", [json.dumps(frag)])
    elif fault:
        raise BenchFailure(f"unknown PERFBENCH_INJECT {fault!r}")


def _scan_results(topic_dir: str, files_seen: set, seen: dict, now: float) -> None:
    """Stamp ``now`` on the tweets of result files not read before."""
    from probes import visible_files

    for rel in visible_files(topic_dir):
        if rel in files_seen:
            continue
        files_seen.add(rel)
        with open(os.path.join(topic_dir, rel)) as fh:
            for line in fh:
                if line.strip():
                    seen.setdefault(json.loads(line)["payload"]["status"]["id"], now)


def _golden(spark, indir: str) -> dict:
    """tag -> payload digest from the batch path on the same input."""
    from pyspark.sql import functions as F

    from bigtwine_streamprocessor_spark.fragments import build_fragments, finalize_results
    from bigtwine_streamprocessor_spark.operators.parse import parse_tweet_json
    from bigtwine_streamprocessor_spark.streaming.fanin import fanin_batch

    parsed = project(parse_tweet_json(spark.read.schema("value STRING").text(indir)))
    want = finalize_results(fanin_batch(build_fragments(parsed)))
    rows = want.select("tag", F.to_json(F.struct("payload")).alias("v")).collect()
    return {r["tag"]: digest(json.loads(r["v"])["payload"]) for r in rows}


def _verify_stream(
    result_lines: list[str], want: dict, expected: set, load: set
) -> tuple[int, dict]:
    """Failed-tweet count: missing, duplicate, partial or mismatched results
    for the ``expected`` tweets; duplicate, partial or mismatched results
    for the ``load`` tweets sent after them (which may still be in flight);
    results for tweets not sent; and golden tweets the generator did not
    send (a parse that silently drops everything fails here)."""
    count: dict = {}
    good: set = set()
    partials = 0
    for line in result_lines:
        r = json.loads(line)
        tag = r["payload"]["status"]["id"]
        count[tag] = count.get(tag, 0) + 1
        partials += bool(r["is_partial"])
        if not r["is_partial"] and want.get(tag) == digest(r["payload"]):
            good.add(tag)
    ok = {t for t in expected if count.get(t) == 1 and t in good}
    bad_load = {t for t in load if t in count and (count[t] > 1 or t not in good)}
    unexpected = set(count) - expected - load
    sent = expected | load
    detail = {
        "missing": len(expected - set(count)),
        "duplicate": sum(1 for t in sent if count.get(t, 0) > 1),
        "mismatched": len({t for t in sent if t in count} - good),
        "unexpected": len(unexpected),
        "golden_vs_generator": len(set(want) ^ sent),
        "partials": partials,
        "load_results": sum(1 for t in load if t in count),
    }
    failed = len(expected - ok) + len(bad_load) + len(unexpected)
    if set(want) != sent:
        failed = max(failed, len(set(want) ^ sent))
    return failed, detail


def stream_light(args, t_proc: float) -> dict:
    from bigtwine_streamprocessor_spark.streaming import topology
    from probes import HopListener, scan_topics, service_lags

    with open(os.path.join(args.input, FEED_FILE)) as fh:
        feed = fh.read().splitlines()
    spark, session_s = start_session()
    n_timed = int(RATE * (WARMUP_S + args.seconds))
    listener = None
    if args.trace:
        listener = HopListener()
        spark.streams.addListener(listener)
    root = os.path.join(args.work, "light")
    topo = Topology(spark, root)
    _inject(topo, os.environ.get("PERFBENCH_INJECT", ""))

    due: dict = {}  # warm-up and timed analysed tweet -> due time
    load: set = set()  # analysed tweets sent after the timed ones
    late: list = []
    seen: dict = {}
    files_seen: set = set()
    results_dir = topo.topics["results"].dir
    t_start = time.time() + TICK_S  # tweet 0 is due here: set-up ends
    setup_s = t_start - t_proc
    feed_end = t_start + WARMUP_S + args.seconds
    deadline = feed_end + DRAIN_S
    sent = 0
    next_check = 0.0
    try:
        while True:
            now = time.time()
            upto = min(len(feed), int((now - t_start) * RATE) + 1)
            if upto > sent:
                gen.publish(topo.indir, f"t{sent:07d}", feed[sent:upto])
                written = time.time()
                dues = [t_start + j / RATE for j in range(sent, upto)]
                late += stats.lateness(dues, [written] * len(dues))
                for j, d in zip(range(sent, upto), dues):
                    if gen.is_analysed(j):
                        tid = gen.tweet_id(args.seed, j)
                        if j < n_timed:
                            due[tid] = d
                        else:
                            load.add(tid)
                sent = upto
            _scan_results(results_dir, files_seen, seen, time.time())
            if now >= next_check:
                topo.check()
                next_check = now + 0.5
            if sent >= n_timed and due.keys() <= seen.keys():
                break
            if now > deadline:
                break
            time.sleep(max(0.0, TICK_S - (time.time() - now)))
        layers: dict = {}
        if args.trace:
            layers.update(
                service_lags(
                    {
                        svc: (topo.topics[f"{svc}-requests"].dir, topo.topics[f"{svc}-responses"].dir)
                        for svc in SERVICES
                    }
                )
            )
            for svc, sim in zip(SERVICES, topo.sims):
                layers[f"services.{svc}.alive"] = float(sim.is_alive())
            layers.update(scan_topics(topo.topics))
            pub = topology.reset_publish_stats()
            layers["transport.epochs_published"] = pub["published"]
            layers["transport.epochs_skipped"] = pub["skipped_committed"]
            wall = time.time() - t_start
            layers.update(listener.metrics([str(q.id) for q in topo.queries], wall))
    finally:
        topo.stop()

    want = _golden(spark, topo.indir)
    expected = set(due)
    failed, detail = _verify_stream(topo.topics["results"].read_all(), want, expected, load)
    keys = stats.trim(due, t_start, feed_end, WARMUP_S, 0.0)
    lat = stats.latencies(due, seen, keys)
    # Timed tweets over the span from the first one's due time to the last
    # one's result. The offered load is fixed, so this falls as latency
    # rises; it is not a capacity figure. (The result rate over that span
    # swings with the few result bursts it holds.)
    last_result = max((seen[k] for k in keys if k in seen), default=0.0)
    e2e = {
        "latency_p50_s": stats.percentile(lat, 50),
        "latency_p95_s": stats.percentile(lat, 95),
        "throughput_tweets_per_s": stats.throughput(
            len(keys & seen.keys()), t_start + WARMUP_S, last_result
        ),
        "setup_s": setup_s,
    }
    layers.update(
        {
            "session.start_s": session_s,
            "generator.late_p95_s": stats.percentile(late, 95),
            "fanin.partials": detail["partials"],
        }
    )
    if args.trace:
        chain = sum(layers[f"topology.q{n}.trigger_ms_p50"] for n in (1, 2, 3, 4, 6)) / 1000
        chain += sum(layers[f"services.{s}.lag_p50_s"] for s in ("ner", "nel", "linkresolver"))
        layers["reconcile.chain_s"] = chain
        layers["reconcile.chain_share"] = chain / e2e["latency_p50_s"]
    return {
        "correct": failed == 0,
        "attempted": len(expected),
        "failed": failed,
        "detail": {**detail, "latency_samples": len(lat)},
        "e2e": e2e,
        "layers": layers,
    }


# ------------------------------------------------- batch_analysis_export ---


def _batch_iteration(indir: str, out: str) -> dict:
    """The user's batch path through the job entry points: analysis to
    result events, then the extended-TSV and NEEL-challenge exports."""
    from bigtwine_streamprocessor_spark.jobs import export_results_job, twitter_stream_job

    shutil.rmtree(out, ignore_errors=True)
    events, tsv, challenge = (os.path.join(out, d) for d in ("events", "tsv", "challenge"))
    times = {}
    t = time.time()
    twitter_stream_job.run(
        ["--job-id", "analysis", "--analysis-id", ANALYSIS_ID, "--tweet-json-path", indir,
         "--output-path", events, "--mode", "batch", "--skip-retweets"]
    )
    times["analysis"] = time.time() - t
    for fmt, path in (("tsv", tsv), ("twitter-neel-challenge", challenge)):
        t = time.time()
        export_results_job.run(
            ["--job-id", "export", "--analysis-id", ANALYSIS_ID, "--input-path", events,
             "--output-path", path, "--format", fmt]
        )
        times[fmt] = time.time() - t
    return times


def _lines(pattern: str) -> list[str]:
    out = []
    for path in sorted(glob.glob(pattern)):
        with open(path) as fh:
            out += [ln for ln in fh.read().splitlines() if ln.strip()]
    return out


def _verify_batch(out: str, seed: int, n: int) -> tuple[int, dict]:
    """Result count against parsed count, each tweet's entity count against
    its lexicon words, exported rows against sum(greatest(size(entities),1))
    (TSV) and sum(size(entities)) (challenge)."""
    texts = {
        gen.tweet_id(seed, i): gen.tweet(seed, i)["text"] for i in range(n) if gen.is_analysed(i)
    }
    count: dict = {}
    bad: set = set()
    tsv_want = challenge_want = 0
    for line in _lines(os.path.join(out, "events", "part-*")):
        payload = json.loads(line)["payload"]
        tag = payload["status"]["id"]
        count[tag] = count.get(tag, 0) + 1
        ents = payload.get("entities") or []
        words = texts.get(tag, "").split(" ")
        if len(ents) != sum(w in gen.LEXICON_WORDS for w in words):
            bad.add(tag)
        tsv_want += max(len(ents), 1)
        challenge_want += len(ents)
    tsv_rows = len(_lines(os.path.join(out, "tsv", "part-*"))) - 1  # header
    challenge_rows = len(_lines(os.path.join(out, "challenge", "part-*")))
    expected = set(texts)
    ok = {t for t in expected if count.get(t) == 1 and t not in bad}
    failed = len(expected - ok) + len(set(count) - expected)
    export_ok = tsv_rows == tsv_want and challenge_rows == challenge_want and tsv_want > 0
    detail = {
        "results": sum(count.values()),
        "entity_mismatch": len(bad),
        "tsv_rows": tsv_rows,
        "tsv_want": tsv_want,
        "challenge_rows": challenge_rows,
        "challenge_want": challenge_want,
    }
    if not export_ok:
        failed = max(failed, 1)
    return failed, detail


def batch_analysis_export(args, t_proc: float) -> dict:
    from probes import event_log_metrics, event_logs

    spark, session_s = start_session()
    indir = os.path.join(args.input, BATCH_DIR)
    out = os.path.join(args.work, "batch-out")
    n_analysed = sum(gen.is_analysed(i) for i in range(BATCH_TWEETS))
    log_dir = os.environ.get("PERFBENCH_EVENT_LOG_DIR", "")
    logs_before = event_logs(log_dir) if log_dir else set()

    # Exactly one iteration, whatever --seconds says. It runs in a JVM that
    # has not compiled these plans yet, as every fresh job submission does.
    t_start = time.time()
    setup_s = t_start - t_proc
    it = _batch_iteration(indir, out)
    took = sum(it.values())
    failed, detail = _verify_batch(out, args.seed, BATCH_TWEETS)
    logs_timed = (event_logs(log_dir) - logs_before) if log_dir else set()
    # every analysed tweet waits the whole iteration for its exported row,
    # so p50 and p95 are the same number
    e2e = {
        "latency_p50_s": took,
        "latency_p95_s": took,
        "throughput_tweets_per_s": stats.throughput(n_analysed, 0.0, took),
        "setup_s": setup_s,
    }
    layers: dict = {"session.start_s": session_s}
    if args.trace:
        layers.update(event_log_metrics(sorted(logs_timed)))
        layers.update(_batch_self_times(indir, out, it["analysis"]))
    return {
        "correct": failed == 0,
        "attempted": n_analysed,
        "failed": failed,
        "detail": {**detail, "iteration_s": it},
        "e2e": e2e,
        "layers": layers,
    }


def _batch_self_times(indir: str, out: str, analysis: float) -> dict:
    """Self time per batch stage: cumulative prefixes of the analysis and
    export plans forced to a noop sink, each stage's time minus its
    prefix's. A stage that prunes columns from its prefix can read below 0
    (the challenge rows read fewer columns than the flat rows)."""
    from pyspark.sql import functions as F

    from bigtwine_streamprocessor_spark.fragments import build_fragments, finalize_results
    from bigtwine_streamprocessor_spark.jobs.export_results_job import EVENT_SCHEMA
    from bigtwine_streamprocessor_spark.operators import export
    from bigtwine_streamprocessor_spark.operators.export_flatten import flatten_results
    from bigtwine_streamprocessor_spark.operators.parse import parse_tweet_json
    from bigtwine_streamprocessor_spark.streaming.fanin import fanin_batch

    spark, _ = start_session()
    parsed = project(parse_tweet_json(spark.read.schema("value STRING").text(indir)))
    frags = build_fragments(parsed)
    fanned = fanin_batch(frags)
    final = finalize_results(fanned)
    t_parse, t_frag, t_fan, t_final = (noop(d) for d in (parsed, frags, fanned, final))
    events = (
        spark.read.schema(EVENT_SCHEMA)
        .json(os.path.join(out, "events"))
        .filter(F.col("analysisId") == ANALYSIS_ID)
    )
    flat = flatten_results(events)
    tsv, challenge = export.extended_rows(flat), export.challenge_rows(flat)
    t_read, t_flat, t_tsv, t_ch = (noop(d) for d in (events, flat, tsv, challenge))
    t = time.time()
    export.write_single_file(tsv, os.path.join(out, "self-tsv"), ["status__id", "entity__position"])
    export.write_single_file(
        challenge, os.path.join(out, "self-ch"), ["tweet_id", "pos_start"], header=False
    )
    t_write = time.time() - t
    spark.stop()
    return {
        "parse.self_s": t_parse,
        "fragments.build_self_s": t_frag - t_parse,
        "fanin.batch_self_s": t_fan - t_frag,
        "fragments.finalize_self_s": t_final - t_fan,
        "jobs.result_write_s": analysis - t_final,
        "export.flatten_self_s": t_flat - t_read,
        "export.format_tsv_self_s": t_tsv - t_flat,
        "export.format_challenge_self_s": t_ch - t_flat,
        "export.write_single_file_s": t_write - t_tsv - t_ch,
    }


WORKLOADS = {"stream_light": stream_light, "batch_analysis_export": batch_analysis_export}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--input", required=True, help="dir stage_inputs wrote")
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--t0", type=float, required=True, help="wall time the run started")
    args = ap.parse_args()
    # a simulator thread that dies keeps its cause for Topology.check
    threading.excepthook = _record_thread_error
    try:
        record = WORKLOADS[args.workload](args, args.t0)
    except (BenchFailure, ValueError) as exc:
        print(f"perfbench: {args.workload} failed: {exc}", file=sys.stderr, flush=True)
        return 3
    with open(args.out, "w") as fh:
        json.dump(record, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
