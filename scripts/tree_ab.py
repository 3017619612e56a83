#!/usr/bin/env python
"""Co-timed tree A/B harness (r13 verdict task 1).

Adjudicates a round-over-round bench delta by running the SAME query list
through two checkouts of this repo on the same box, interleaved in time
(rep loop alternates trees, starting side alternates per rep so slow host
drift cancels), each rep a fresh subprocess with its own Spark session so
neither tree inherits the other's JVM state. Per query per tree the
reported number is the min over reps of a bench-identical measurement
(noop sink, min-of-2 under the sub-second threshold), bracketed by the
HEAD tree's CPU + scheduling probes so the host dimensions are on the
record for every rep.

Usage:
  python scripts/tree_ab.py --tree-a /tmp/r12tree --tree-b /root/repo \
      [--queries q1,q2,...] [--reps 3] [--topology] [--out AB.json]

The worker mode (--worker --root DIR) is internal: it imports DIR's
registry, times the queries once, and prints one JSON line.

Benchmark pair mode:
  python scripts/tree_ab.py --tree-a PARENT --tree-b CHANGE \
      --perfbench stream_light --pairs 10 --seed0 2201 --out AB.json

runs ``python3 perfbench/run.py --workload <w> --seed <s> --seconds 10
--trace 0`` from each tree, pair k with seed ``seed0 + k``, the side that
runs first alternating per pair. ``--out`` gets the per-run records under
the workload's name and, per end-to-end metric of BENCHMARK.json, each
side's median and quartiles, b's wins and whether a's spread is inside the
metric's bound (``summarize``). Records of other workloads already in
``--out`` are kept, so one file can hold both workloads.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

# judge-named movers (r13 verdict task 1) + the largest remaining movers
# from the judge's 72-entry diff, spanning join/multimodal/shuffle/
# clustering/group-by/text/LSH shapes
DEFAULT_QUERIES = [
    "join_asof_last_purchase",
    "multimodal_features",
    "shuffle_global",
    "dedup_embedding_clusters",
    "group_collect_entities",
    "dedup_minhash_estimate",
    "text_fingerprint_overlap",
    "similarity_ann_lsh",
    "window_topk_per_group",
    "join_fact_fact",
    "agg_pricing_summary",
    "neel_assembled",
]

MIN2_THRESHOLD_S = 8.0


def _worker(root: str, queries: list[str], sf_dir: str,
            topology: bool, amplify: int = 20, n_files: int = 64,
            per_trigger: int = 8) -> None:
    sys.path.insert(0, root)
    from bigtwine_streamprocessor_spark import registry
    from bigtwine_streamprocessor_spark.session import get_spark

    # probes always come from the CURRENT repo's bench.py (the r12 tree
    # predates scheduling_probe) — probe code is tree-independent
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "bench_head", os.path.join(REPO, "bench.py")
    )
    bench_head = importlib.util.module_from_spec(spec)
    sys.modules["bench_head"] = bench_head
    spec.loader.exec_module(bench_head)

    spark = get_spark(app_name="tree_ab")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
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
    calib = bench_head.calibration_probe(spark)
    sched = bench_head.scheduling_probe(spark)

    def _timed(run) -> float:
        t0 = time.perf_counter()
        run()
        t = time.perf_counter() - t0
        if t < MIN2_THRESHOLD_S:
            t0 = time.perf_counter()
            run()
            t = min(t, time.perf_counter() - t0)
        return round(t, 3)

    timings: dict[str, float] = {}
    for name in queries:
        if name == "dedup_embedding_clusters":
            # bench-identical decomposition: time label propagation over
            # cached near-dup edges, not the candidate chain
            from bigtwine_streamprocessor_spark.operators import (
                dedup,
                similarity,
            )

            emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
            edges = (
                similarity.embedding_neardup_pairs(emb, 0.2, n_bits=8)
                .select("doc_a", "doc_b")
                .localCheckpoint(eager=True)
            )
            timings[name] = _timed(
                lambda: dedup.connected_components(edges)
                .write.format("noop")
                .mode("overwrite")
                .save()
            )
            continue
        timings[name] = _timed(
            lambda name=name: registry.QUERIES[name](spark, sf_dir)
            .write.format("noop")
            .mode("overwrite")
            .save()
        )

    topo = None
    if topology:
        # reduced feed: x20 / 64 files — enough epochs to be a real e2e
        # drive (~25-60 s) without paying the full x80 bench feed per rep
        spec_t = importlib.util.spec_from_file_location(
            "bench_tree", os.path.join(root, "bench.py")
        )
        bench_tree = importlib.util.module_from_spec(spec_t)
        sys.modules["bench_tree"] = bench_tree
        spec_t.loader.exec_module(bench_tree)
        stream_sf = os.environ.get(
            "SPARK_GRAFT_STREAM_SF_DIR", "/root/testdata/sf0.01"
        )
        topo = bench_tree.bench_topology(
            spark, stream_sf, timeout_s=420, amplify=amplify, n_files=n_files,
            max_files_per_trigger=per_trigger,
        )
        topo = {
            k: topo.get(k)
            for k in (
                "tweets",
                "completed",
                "elapsed_s",
                "tweets_per_s",
                "steady_tweets_per_s",
                "rows_per_trigger",
            )
        }

    spark.stop()
    print(
        "AB_RESULT "
        + json.dumps(
            {
                "root": root,
                "timings": timings,
                "topology": topo,
                "calib_median_s": calib["median_s"],
                "sched_median_s": sched["median_s"],
            }
        ),
        flush=True,
    )


PERFBENCH_SECONDS = 10


def _perfbench_run(tree: str, workload: str, seed: int) -> dict:
    """One ``perfbench/run.py`` run from ``tree``: its exit code, wall
    time and last stdout line (``correct``, ``attempted``, ``failed``,
    ``metrics``); a run that printed no result keeps its stderr tail."""
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload,
        "--seed", str(seed), "--seconds", str(PERFBENCH_SECONDS), "--trace", "0",
    ]
    t0 = time.time()
    proc = subprocess.run(cmd, capture_output=True, text=True, cwd=tree)
    rec = {"rc": proc.returncode, "wall_s": round(time.time() - t0, 1)}
    lines = proc.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1])
        rec.update({k: res[k] for k in ("correct", "attempted", "failed", "metrics")})
    except (IndexError, KeyError, ValueError):
        rec["error"] = proc.stderr[-1000:]
    return rec


def _quartiles(xs: list[float]) -> list[float]:
    if len(xs) == 1:
        return [xs[0]] * 3
    return statistics.quantiles(xs, n=4, method="inclusive")


def summarize(records: list[dict], end_to_end: list[dict]) -> dict:
    """Per end-to-end metric (BENCHMARK.json's ``end_to_end`` entries),
    over the pairs where both sides report it: each side's median and
    quartiles, ``b_over_a`` of the medians, ``b_wins`` (pairs in which b
    is better in the metric's direction), and ``a_spread`` (a's IQR over
    its median) with ``resolved`` false when that spread exceeds the
    metric's bound, since a difference inside the parent's own spread
    cannot be told from noise. ``runs`` counts each side's runs, failed
    operations and runs without a result."""
    pairs: dict[int, dict[str, dict]] = {}
    for r in records:
        pairs.setdefault(r["pair"], {})[r["side"]] = r
    out: dict[str, dict] = {
        "runs": {
            side: {
                "runs": sum(r["side"] == side for r in records),
                "failed": sum(r.get("failed", 0) for r in records if r["side"] == side),
                "no_result": sum(
                    "metrics" not in r or r["rc"] != 0
                    for r in records
                    if r["side"] == side
                ),
            }
            for side in ("a", "b")
        }
    }
    for m in end_to_end:
        name, lower = m["name"], m["better"] == "lower"
        a, b = [], []
        for sides in pairs.values():
            va, vb = (
                sides.get(s, {}).get("metrics", {}).get(name, {}).get("value")
                for s in ("a", "b")
            )
            if va is not None and vb is not None:
                a.append(va)
                b.append(vb)
        if not a:
            continue
        qa, qb = _quartiles(a), _quartiles(b)
        spread = (qa[2] - qa[0]) / qa[1] if qa[1] else float("inf")
        out[name] = {
            "pairs": len(a),
            "a_median": round(qa[1], 4),
            "a_iqr": [round(qa[0], 4), round(qa[2], 4)],
            "b_median": round(qb[1], 4),
            "b_iqr": [round(qb[0], 4), round(qb[2], 4)],
            "b_over_a": round(qb[1] / qa[1], 3) if qa[1] else None,
            "b_wins": sum((y < x) if lower else (y > x) for x, y in zip(a, b)),
            "a_spread": round(spread, 3),
            "bound": m["bound"],
            "resolved": spread <= m["bound"],
        }
    return out


def _perfbench_pairs(args) -> None:
    trees = {"a": args.tree_a, "b": args.tree_b}
    records = []
    for pair in range(args.pairs):
        seed = args.seed0 + pair
        for side in ("a", "b") if pair % 2 == 0 else ("b", "a"):
            rec = {"pair": pair, "seed": seed, "side": side}
            rec.update(_perfbench_run(trees[side], args.perfbench, seed))
            records.append(rec)
            vals = {k: round(v["value"], 3) for k, v in rec.get("metrics", {}).items()}
            print(f"pair {pair} seed {seed} {side}: rc {rec['rc']} {vals}", flush=True)
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        end_to_end = json.load(fh)["end_to_end"]
    out = {}
    if os.path.exists(args.out):
        with open(args.out) as fh:
            out = json.load(fh)
    out.update(
        {
            "what": "alternating a/b pairs of `python3 perfbench/run.py --workload "
            f"<w> --seed <s> --seconds {PERFBENCH_SECONDS} --trace 0`, the side "
            "that runs first alternating per pair",
            "tree_a": trees["a"],
            "tree_b": trees["b"],
            args.perfbench: records,
        }
    )
    out.setdefault("summary", {})[args.perfbench] = summarize(records, end_to_end)
    with open(args.out, "w") as fh:
        json.dump(out, fh, indent=2, sort_keys=True)
    print(json.dumps(out["summary"][args.perfbench], indent=2))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--worker", action="store_true")
    ap.add_argument("--root")
    ap.add_argument("--tree-a")
    ap.add_argument("--tree-b")
    ap.add_argument("--queries", default=",".join(DEFAULT_QUERIES))
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--topology", action="store_true")
    ap.add_argument("--topo-amplify", type=int, default=20)
    ap.add_argument("--topo-files", type=int, default=64)
    # bench.py's knee drive: --topo-amplify 240 --topo-files 768
    # --topo-per-trigger 64 (about 9,400 rows a trigger)
    ap.add_argument("--topo-per-trigger", type=int, default=8)
    ap.add_argument("--topology-all-reps", action="store_true")
    ap.add_argument("--perfbench", help="benchmark workload: run pair mode")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--out", default=os.path.join(HERE, "..", "AB_r14.json"))
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    )
    args = ap.parse_args()
    queries = [q for q in args.queries.split(",") if q]

    if args.worker:
        _worker(args.root, queries, args.sf_dir, args.topology,
                args.topo_amplify, args.topo_files, args.topo_per_trigger)
        return
    if args.perfbench:
        _perfbench_pairs(args)
        return

    trees = {"a": args.tree_a, "b": args.tree_b}
    runs: dict[str, list[dict]] = {"a": [], "b": []}
    for rep in range(args.reps):
        order = ["a", "b"] if rep % 2 == 0 else ["b", "a"]
        for side in order:
            cmd = [
                sys.executable,
                os.path.abspath(__file__),
                "--worker",
                "--root",
                trees[side],
                "--queries",
                ",".join(queries),
                "--sf-dir",
                args.sf_dir,
            ]
            # topology once per tree (first rep) by default — it is
            # minutes, not seconds; --topology-all-reps repeats it when the
            # topology delta is the thing being adjudicated (its run-to-run
            # swing is epoch-quantized, so one sample per tree can't decide)
            if args.topology and (rep == 0 or args.topology_all_reps):
                cmd += ["--topology", "--topo-amplify",
                        str(args.topo_amplify), "--topo-files",
                        str(args.topo_files), "--topo-per-trigger",
                        str(args.topo_per_trigger)]
            t0 = time.time()
            proc = subprocess.run(
                cmd, capture_output=True, text=True, cwd=trees[side]
            )
            line = next(
                (
                    ln[len("AB_RESULT "):]
                    for ln in proc.stdout.splitlines()
                    if ln.startswith("AB_RESULT ")
                ),
                None,
            )
            if line is None:
                print(proc.stdout[-2000:], file=sys.stderr)
                print(proc.stderr[-2000:], file=sys.stderr)
                raise RuntimeError(
                    f"worker for tree {side} rep {rep} produced no result"
                )
            rec = json.loads(line)
            rec["rep"] = rep
            rec["wall_s"] = round(time.time() - t0, 1)
            runs[side].append(rec)
            print(
                f"rep {rep} tree {side}: "
                + json.dumps(rec["timings"])
                + f" calib {rec['calib_median_s']} sched {rec['sched_median_s']}",
                flush=True,
            )

    summary: dict[str, dict] = {}
    for q in queries:
        a = min(r["timings"][q] for r in runs["a"])
        b = min(r["timings"][q] for r in runs["b"])
        summary[q] = {
            "a_min_s": a,
            "b_min_s": b,
            "b_over_a": round(b / a, 3) if a > 0 else None,
        }
    out = {
        "tree_a": trees["a"],
        "tree_b": trees["b"],
        "reps": args.reps,
        "queries": summary,
        "runs": runs,
    }
    with open(args.out, "w") as fh:
        json.dump(out, fh, indent=2, sort_keys=True)
    print(json.dumps({"summary": summary}, indent=2))


if __name__ == "__main__":
    main()
