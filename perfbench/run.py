"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Each workload runs in a fresh child process
(its own JVM and Spark session) sized to this machine's cores, and every
process it starts is killed and reaped before this one exits. The last line
of stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` - the end-to-end metrics with ``--trace 0``; with ``--trace 1``
an untraced and a traced child run back to back and the per-layer metrics
are printed, including ``overhead.*`` = traced minus untraced end-to-end.

Exits non-zero without a result when the package is missing, a child fails
(a dead query or simulator is named on stderr) or the time limit passes.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

T0 = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import workload  # noqa: E402  (plain Python; Spark is imported by the child)

PACKAGE = "bigtwine_streamprocessor_spark"
LIMIT_S = 170.0  # the whole run, every child included
WORK = ".perfbench-work"


def load_spec() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        return json.load(fh)


def child_env(root: str, work: str, event_log_dir: str | None, cpus: int) -> dict:
    env = dict(os.environ)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    submit = [f"--driver-java-options -Djava.io.tmpdir={tmp}"]
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        submit += [
            "--conf spark.eventLog.enabled=true",
            # one plain JSON-lines file per application, readable as is
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
            f"--conf spark.eventLog.dir=file://{event_log_dir}",
        ]
        env["PERFBENCH_EVENT_LOG_DIR"] = event_log_dir
    env.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_DRIVER_MEMORY": "2g",
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "TMPDIR": tmp,
            # Python workers import the package too
            "PYTHONPATH": os.pathsep.join(filter(None, [root, env.get("PYTHONPATH")])),
            "PYSPARK_SUBMIT_ARGS": " ".join(submit + ["pyspark-shell"]),
        }
    )
    return env


def run_child(
    args, trace: int, root: str, inputs: str, work: str, deadline: float, cpus: int
) -> dict:
    os.makedirs(work, exist_ok=True)
    out = os.path.join(work, "record.json")
    log = os.path.join(work, "child.log")
    event_log_dir = os.path.join(work, "events") if trace and args.workload == "batch_analysis_export" else None
    cmd = [
        sys.executable, os.path.join(HERE, "workload.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(trace),
        "--input", inputs, "--work", work, "--out", out, "--t0", str(time.time()),
    ]
    with open(log, "w") as fh:
        proc = subprocess.Popen(
            cmd, cwd=root, env=child_env(root, work, event_log_dir, cpus),
            stdout=fh, stderr=subprocess.STDOUT, start_new_session=True,
        )
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            reap(proc)
    if code != 0:
        with open(log) as fh:
            lines = [ln.rstrip() for ln in fh]
        named = [ln for ln in lines if ln.startswith("perfbench:")]
        if not named:  # an unexpected crash: show where
            sys.stderr.write("\n".join(lines[-30:]) + "\n")
        why = named[-1] if named else f"child exited {code}"
        if code is None:
            why = f"time limit of {LIMIT_S:.0f}s passed"
        raise SystemExit(f"perfbench: {args.workload} (trace {trace}) failed: {why}")
    with open(out) as fh:
        return json.load(fh)


def reap(proc: subprocess.Popen) -> None:
    """Kill the child's whole process group (JVM, Python workers) and wait
    until none of it is left."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    for _ in range(100):
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(workload.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()
    # a terminated run still kills and reaps its child (see run_child)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package under {root}", file=sys.stderr)
        return 2
    spec = load_spec()
    work = os.path.join(root, WORK, f"run-{os.getpid()}")
    deadline = T0 + LIMIT_S
    # get_spark sizes local[N] from SPARK_GRAFT_CPUS and defaults to 32
    cpus = len(os.sched_getaffinity(0))
    inputs = os.path.join(work, "inputs")
    try:
        # before any child starts, so the children time only the program
        workload.stage_inputs(args.workload, args.seed, args.seconds, inputs)
        plain = run_child(args, 0, root, inputs, os.path.join(work, "plain"), deadline, cpus)
        records = [plain]
        if args.trace:
            traced = run_child(args, 1, root, inputs, os.path.join(work, "traced"), deadline, cpus)
            records.append(traced)
            if args.workload == "batch_analysis_export":
                # single-core reference: the same untraced run on local[1]
                one = run_child(args, 0, root, inputs, os.path.join(work, "local1"), deadline, 1)
                records.append(one)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if args.trace:
        metrics = {
            **traced["layers"],
            **{f"overhead.{k}": traced["e2e"][k] - plain["e2e"][k] for k in plain["e2e"]},
        }
        if len(records) == 3:
            metrics["reference.local1_tweets_per_s"] = one["e2e"]["throughput_tweets_per_s"]
        wanted = spec["per_layer"]
    else:
        metrics = plain["e2e"]
        wanted = spec["end_to_end"]
    print(json.dumps({"detail": [r["detail"] for r in records]}), flush=True)
    print(
        json.dumps(
            {
                "correct": all(r["correct"] for r in records),
                "attempted": sum(r["attempted"] for r in records),
                "failed": sum(r["failed"] for r in records),
                "metrics": {
                    m["name"]: {"value": metrics.get(m["name"], 0), "unit": m["unit"]}
                    for m in wanted
                },
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
