#!/usr/bin/env python3
"""KG-construction benchmark: one command, three workloads.

    python3 perfbench/run.py --workload synth_job --seed 1 --seconds 1 --trace 0
    python3 perfbench/run.py --smoke

Runs from the root of a source checkout on ``local[<cores>]`` in one driver
process with one client.  It builds its seeded inputs under
``perfbench_work/``, sets up (session start, the input content made once,
then its seeded preparation three times), runs operations for ``--seconds`` seconds (at least one, in a
session nothing has warmed), checks every output, and prints as its last
stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json;
with ``--trace 1`` every operation runs traced and the metrics are the
per-layer ones (the spans go to ``perfbench_work/traces/``).  Tracing
overhead is the traced runs' end-to-end numbers minus the untraced ones;
``perfbench/diff.py`` reports it.  The full record of each run, with every
operation's sample and the host's steal and load next to it, is appended
to ``--out``.  ``--smoke`` runs every workload at a tiny size and checks
that each declared metric is emitted with its unit.  Exit status is 0 only
when every output check passed.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench_work")
SETUP_REPEATS = 3


def _median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def start_session(trace: bool):
    from scrapontologies_spark.session import build_session

    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "spark-warehouse"),
        # no hsperfdata file in /tmp: the run writes only inside its checkout
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} "
                                         "-XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        # keep every job, stage and SQL execution of the run for the REST fold
        conf.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000",
                     "spark.sql.ui.retainedExecutions": "100000"})
    n = _cores()
    t0 = time.perf_counter()
    spark = build_session(app_name="perfbench", master=f"local[{n}]",
                          shuffle_partitions=2 * n, extra_conf=conf)
    start_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, start_s


def stop_session(spark) -> list:
    """Stop Spark and its JVM, and wait until no child process is left."""
    from pyspark import SparkContext

    from perfbench.meter import wait_for_children

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    return wait_for_children(os.getpid())


def _calibrate(spark, df, tracer):
    """Run an identity mapInPandas over ``df``'s partitions in its own span;
    returns (span id, process-tree CPU seconds).  CPU per task is Spark's
    fixed cost of one Python task, apart from any program work."""
    from perfbench.meter import tree_usage

    def identity(batches):
        yield from batches

    tracer.enabled = True
    cpu0 = tree_usage(os.getpid())[0]
    with tracer.span("calibration") as rec:
        df.mapInPandas(identity, df.schema).write.format("noop").mode("overwrite").save()
    cpu = tree_usage(os.getpid())[0] - cpu0
    tracer.enabled = False
    return rec["id"], cpu


def _sources_hash() -> str:
    """Hash of the program's, the input generator's and the benchmark's
    Python sources: outputs are compared only between runs of the same code."""
    from perfbench.inputs import GENERATOR

    h = hashlib.sha256()
    files = [GENERATOR]
    for top in ("scrapontologies_spark", "perfbench"):
        for d, dirs, fs in os.walk(os.path.join(ROOT, top)):
            dirs.sort()
            files += [os.path.join(d, f) for f in sorted(fs) if f.endswith(".py")]
    for path in files:
        h.update(os.path.relpath(path, ROOT).encode() + b"\0")
        with open(path, "rb") as f:
            h.update(f.read() + b"\0")
    return h.hexdigest()[:16]


def _same_as_before(name, seed, smoke, results) -> list:
    """Outputs must repeat across runs of the same code with the same seed,
    traced or not: the first run's output is stored under a hash of the
    sources and later runs compare against it."""
    done = [(i, r["out"]) for i, r in enumerate(results) if r is not None]
    if not done:
        return []
    i, out = done[0][0], json.loads(json.dumps(done[0][1]))
    path = os.path.join(WORK, "outputs", _sources_hash(),
                        f"{name}-seed{seed}{'-smoke' if smoke else ''}.json")
    if os.path.exists(path):
        with open(path) as f:
            same = json.load(f) == out
        return [] if same else [(i, "output differs from an earlier run with the same "
                                    "code and seed")]
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(out, f)
    return []


def _layers(spec, spark, wl, tracer, session_start_s):
    """Per-layer metrics of a traced run (0 for a layer the workload does
    not run) and its span records."""
    from perfbench import trace as tr
    from perfbench.kernel import kernel_pass

    calib_span, calib_cpu = _calibrate(spark, wl.calibration_df(), tracer)
    folded = tr.Folded(tracer, tr.fetch_spark(spark.sparkContext))
    layers = {m["name"]: 0.0 for m in spec["per_layer"]}
    layers.update(tr.fold_ops(folded))
    layers.update(wl.layers())
    layers.update(kernel_pass(wl.kernel_docs()))
    tasks = folded.stage_sum(calib_span, "numTasks")
    layers["spark.python_task_ms"] = 1e3 * calib_cpu / tasks if tasks else 0.0
    layers["session.start_s"] = session_start_s
    ops = [s["id"] for s in tracer.spans if s["parent"] is None and s["name"] == "op"]
    jobs = [folded.find(op, "run_job") for op in ops]
    layers["job.cold_s"] = tr.median([folded.duration(j[0]) for j in jobs if j])
    layers["job.resume_s"] = tr.median([folded.duration(j[1]) for j in jobs if len(j) > 1])
    layers["dedup.keep_canonical_s"] = tr.median(
        [folded.duration(s) for op in ops for s in folded.find(op, "dedup_keep_canonical")])
    spans = tr.span_records(folded)
    layers["trace.spans"] = len(spans)
    return layers, spans


def run_workload(spark, spec, name, seed, seconds, trace, smoke, session_start_s) -> dict:
    from perfbench import trace as tr
    from perfbench.meter import HostNoise, PeakRss, tree_usage
    from perfbench.workloads import WORKLOADS

    pid = os.getpid()
    run_dir = os.path.join(WORK, f"run-{pid}-{name}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    tracer = tr.Tracer(spark.sparkContext, tag=f"{name}-{seed}")
    if trace:
        tracer.install()
    wl = WORKLOADS[name](spark, tracer, run_dir, seed, smoke)
    try:
        # --- set-up: input content made once, its seeded preparation ---------
        # --- repeated and the median kept -------------------------------------
        t0 = time.perf_counter()
        wl.generate()
        generate_s = time.perf_counter() - t0
        prep = []
        for k in range(SETUP_REPEATS):
            d = os.path.join(run_dir, f"input{k}")
            if k:
                shutil.rmtree(os.path.join(run_dir, f"input{k - 1}"), ignore_errors=True)
            t0 = time.perf_counter()
            wl.prepare(d)
            prep.append(time.perf_counter() - t0)
        setup_s = session_start_s + generate_s + _median(prep)

        # --- timed loop ------------------------------------------------------
        noise = HostNoise()
        samples, outs = [], []
        with PeakRss(pid) as rss:
            deadline = time.monotonic() + seconds
            i = 0
            while i == 0 or time.monotonic() < deadline:
                tracer.enabled, tracer.iteration = trace, i
                cpu0 = tree_usage(pid)[0]
                t0 = time.perf_counter()
                try:
                    with tracer.span("op"):
                        res = wl.op(i)
                except Exception:  # a failed operation is counted, the run goes on
                    traceback.print_exc()
                    res = None
                wall = time.perf_counter() - t0
                cpu = tree_usage(pid)[0] - cpu0
                tracer.enabled = False
                samples.append({"i": i, "ok": res is not None,
                                "wall_s": wall, "cpu_s": cpu,
                                "mb": res and res["mb"], **noise.read()})
                outs.append(res)
                i += 1
            peak_rss = rss.peak

        # --- checks (untimed) ---------------------------------------------------
        try:
            found = wl.check(outs) + _same_as_before(name, seed, smoke, outs)
        except Exception:
            traceback.print_exc()
            found = [(None, "output check raised")]
        ingested_mb = wl.ingested_mb()
        if ingested_mb is not None:
            for s in samples:
                s["mb"] = ingested_mb if s["ok"] else None
        problems = [msg if i is None else f"op {i}: {msg}" for i, msg in found]
        bad_ops = {i for i, _ in found if i is not None}
        failed = sum(1 for s in samples if not s["ok"] or s["i"] in bad_ops)
        if any(i is None for i, _ in found):
            failed = max(failed, 1)
        good = [s for s in samples if s["ok"] and s["i"] not in bad_ops]

        e2e = {
            "setup_s": setup_s,
            "mb_per_s": _median([s["mb"] / s["wall_s"] for s in good]),
            "cpu_s_per_mb": _median([s["cpu_s"] / s["mb"] for s in good]),
        }
        record = {"workload": name, "seed": seed, "seconds": seconds, "trace": int(trace),
                  "cores": _cores(), "setup": {"session_start_s": session_start_s,
                                               "generate_s": generate_s, "prepare_s": prep},
                  "samples": samples, "problems": problems, "end_to_end": e2e,
                  "peak_rss_mb": peak_rss / 1e6,
                  "attempted": len(samples), "failed": failed, "report": wl.report()}
        if trace:
            record["per_layer"], spans = _layers(spec, spark, wl, tracer, session_start_s)
            record["per_layer"].update(record["report"])
            record["per_layer"]["ops.error_rate"] = failed / len(samples)
            record["per_layer"]["process.peak_rss_mb"] = peak_rss / 1e6
            problems += [f"span {s['id']} ({s['name']}) has negative self time"
                         for s in spans if s["self_s"] < -1e-6]
            problems += [f"span {s['id']} ({s['name']}) lies outside its parent span"
                         for s in spans if not s["nested"]]
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            with open(os.path.join(WORK, "traces", f"{name}-seed{seed}.json"), "w") as f:
                json.dump({"workload": name, "seed": seed, "spans": spans}, f)
        return record
    finally:
        wl.close()
        tracer.uninstall()
        shutil.rmtree(run_dir, ignore_errors=True)


def _append(path: str, record: dict) -> None:
    os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
    with open(path, "a") as f:
        f.write(json.dumps(record) + "\n")


def result_line(spec, record) -> dict:
    kind = "per_layer" if record["trace"] else "end_to_end"
    values = record[kind]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec[kind]}
    return {"correct": not record["problems"], "attempted": record["attempted"],
            "failed": max(record["failed"], int(bool(record["problems"]))),
            "metrics": metrics}


def smoke(spec, out) -> int:
    """Every workload at a tiny size, traced, in one session: each declared
    metric must come out with its unit and every check must pass."""
    spark, start_s = start_session(trace=True)
    bad = []
    try:
        for name in (w["name"] for w in spec["workloads"]):
            record = run_workload(spark, spec, name, seed=1, seconds=0.1, trace=True,
                                  smoke=True, session_start_s=start_s)
            for kind in ("end_to_end", "per_layer"):
                got = result_line(spec, {**record, "trace": kind == "per_layer"})["metrics"]
                for m in spec[kind]:
                    if m["name"] not in got or got[m["name"]]["unit"] != m["unit"]:
                        bad.append(f"{name}: {kind} metric {m['name']} missing")
            bad += [f"{name}: {p}" for p in record["problems"]]
            _append(out, record)
            print(f"smoke {name}: {record['attempted']} ops, problems={record['problems']}",
                  flush=True)
    finally:
        left = stop_session(spark)
    bad += [f"process {p} still running" for p in left]
    for b in bad:
        print("smoke FAILED:", b)
    print("smoke ok" if not bad else "smoke failed")
    return 0 if not bad else 1


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=names)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=float(spec["run_seconds"]))
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--out", default=os.path.join(WORK, "results.jsonl"),
                    help="file the full run record is appended to")
    args = ap.parse_args(argv)
    if not args.smoke and not args.workload:
        ap.error("--workload is required")

    sys.path.insert(0, ROOT)
    try:
        import scrapontologies_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program under test is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = " ".join(
        p for p in (os.environ.get("SPARK_LAUNCHER_OPTS"), "-XX:-UsePerfData") if p)
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    if args.smoke:
        return smoke(spec, args.out)

    spark, start_s = start_session(trace=bool(args.trace))
    try:
        record = run_workload(spark, spec, args.workload, args.seed, args.seconds,
                              bool(args.trace), smoke=False, session_start_s=start_s)
    finally:
        left = stop_session(spark)
    if left:
        record["problems"].append(f"child processes still running: {left}")
    _append(args.out, record)
    for p in record["problems"]:
        print("check failed:", p)
    for k, v in record["report"].items():
        print(f"{k}: {v}")
    line = result_line(spec, record)
    print(json.dumps(line))
    return 0 if line["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
