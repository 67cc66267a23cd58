#!/usr/bin/env python3
"""The jitsuspark benchmark: one command per workload and seed.

    python3 perfbench/run.py --workload ingest_bulk --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1

Builds the program from source (perfbench/build.py), generates the
workload's inputs from the seed (gen.py), runs the JVM half
(src/perfbench), checks every output (checks.py), and prints each
metric by name and unit. The last stdout line is one JSON object:
    {"correct", "attempted", "failed", "metrics": {name: {value, unit}}}
With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones, from a run whose spans are written to
.bench_build/perfbench/artifacts/. Exits non-zero when an output check
fails. See README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ["ingest_bulk", "ingest_live", "console", "operators"]
JVM_HEAP = "2g"
JVM_TIMEOUT_S = 150
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def loadavg():
    with open("/proc/loadavg") as f:
        return f.read().split()[:3]


def run_jvm(classes, plan_path, run_dir, trace):
    jars = os.path.join(build.spark_jars(), "*")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + ADD_OPENS + [
        # no hsperfdata file: it would go to /tmp, outside the checkout
        f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData", "-Dfile.encoding=UTF-8",
        f"-Djava.io.tmpdir={tmp}",
        "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
        "-cp", classes + os.pathsep + jars, "perfbench.Main",
        plan_path, run_dir, "1" if trace else "0"])
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run_dir)
        try:
            p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise RuntimeError(f"JVM run exceeded {JVM_TIMEOUT_S} s")
        finally:  # also on SIGTERM: never leave the JVM behind
            if p.poll() is None:
                p.kill()
                p.wait()
    result_path = os.path.join(run_dir, "result.json")
    if not os.path.exists(result_path):
        with open(log_path) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"JVM run exited {p.returncode} without a result:\n{tail}")
    with open(result_path) as f:
        return json.load(f)


def file_digest(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:16]


def same_as_before(key, value):
    """None when `value` matches what an earlier run with the same key
    (workload, inputs and build) recorded, else the earlier value."""
    path = os.path.join(build.BUILD, "recognized.json")
    seen = {}
    if os.path.exists(path):
        with open(path) as f:
            seen = json.load(f)
    if key in seen and seen[key] != value:
        return seen[key]
    seen[key] = value
    with open(path, "w") as f:
        json.dump(seen, f)
    return None


def output_checks(workload, plan, result, run_dir, build_id):
    """Failure strings of every output check, plus check facts."""
    fails, facts = [], {}
    if "fatal" in result:
        return [f"JVM run failed: {result['fatal']}"], facts
    phases = result["phases"]
    if workload.startswith("ingest"):
        stream = plan["stream"]
        recognized = []
        drains = [result["warmup_warehouse"]] + [
            w for ph in phases for w in ph["info"]["warehouses"]]
        for wh in drains:
            f, fa = checks.ingest(stream, wh)
            fails += f
            if "recognized_rows" in fa:
                recognized.append(fa["recognized_rows"])
        facts["recognized_rows"] = recognized
        facts["warehouse"] = checks.warehouse_facts(phases[-1]["info"]["warehouses"][-1])
        # every drain of the backlog must recognise identically
        if len(set(recognized)) > 1:
            fails.append(f"ingest: recognized-row count differs between drains "
                         f"of one seed: {recognized}")
        elif recognized:
            key = f"{workload}:{file_digest(stream['events'])}:{build_id}"
            before = same_as_before(key, recognized[0])
            if before is not None:
                fails.append(f"ingest: recognized-row count {recognized[0]} differs "
                             f"from {before} in an earlier run of this seed")
    elif workload == "console":
        for ph in phases:
            fails += checks.console(plan, ph["units"])
        facts["warehouse"] = checks.warehouse_facts(phases[-1]["info"]["warehouses"][-1])
    else:
        fails += checks.operators(plan["dir"], result["gate_outputs"],
                                  os.path.join(run_dir, "oracle_sql.json"),
                                  plan["gates"])
        fails += [f"operators: warm-up {u['name']} failed" for u in
                  result["warmup_units"] if not u["ok"]]
    return fails, facts


def run_one(workload, seed, seconds, trace, classes):
    stamp = {"seed": seed, "workload": workload, "seconds": seconds,
             "trace": trace, "nproc": os.cpu_count(), "loadavg_start": loadavg()}
    run_dir = os.path.join(build.BUILD, "runs", f"{workload}-s{seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs = os.path.join(run_dir, "inputs")
    try:
        plan = gen.make_inputs(workload, seed, seconds, inputs)
        result = run_jvm(classes, os.path.join(inputs, "plan.json"), run_dir, trace)
        fails, facts = output_checks(workload, plan, result, run_dir,
                                     os.path.basename(classes))
        stamp.update(loadavg_end=loadavg(), java_version=result.get("java_version"),
                     spark_version=result.get("spark_version"))
        failed_units = 0
        attempted = 0
        metrics = {}
        if "fatal" not in result:
            measured = [p for p in result["phases"] if p["traced"] == trace]
            for ph in measured:
                a, f = stats.counts(ph)
                attempted += a
                failed_units += f
            ph = measured[-1]
            if trace:
                metrics = layers.per_layer(result, workload, facts.get("warehouse", {}),
                                           gen.OPERATOR_GATES)
            else:
                metrics = stats.end_to_end(result, workload, ph)
        failed = min(attempted, failed_units + len(fails)) if attempted else len(fails)
        artifact = {"stamp": stamp, "metrics": metrics, "check_failures": fails,
                    "session_ms": result.get("session_ms"),
                    "setup_ms": result.get("setup_ms"),
                    "warmup_ms": result.get("warmup_ms"),
                    "units": [p["units"] for p in result.get("phases", [])],
                    "phase_info": [p["info"] for p in result.get("phases", [])],
                    "check_facts": facts, "attempted": attempted, "failed": failed}
        if trace:
            artifact["spans"] = result.get("spans", [])
        art_dir = os.path.join(build.BUILD, "artifacts")
        os.makedirs(art_dir, exist_ok=True)
        with open(os.path.join(art_dir, f"{workload}-seed{seed}-trace{int(trace)}.json"),
                  "w") as f:
            json.dump(artifact, f)
        return artifact
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def main(argv=None):
    # a terminated benchmark unwinds normally: the JVM is stopped and the
    # run directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)
    try:
        classes = build.ensure_built()
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    names = WORKLOADS if a.workload == "all" else [a.workload]
    summary = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in names:
        t = time.time()
        try:
            art = run_one(w, a.seed, a.seconds, bool(a.trace), classes)
        except Exception as e:  # no result to report: fail the command
            print(f"perfbench: {w}: {e}", file=sys.stderr)
            return 1
        ok = not art["check_failures"] and art["failed"] == 0 and art["metrics"]
        for msg in art["check_failures"]:
            print(f"CHECK FAILED {w}: {msg}", file=sys.stderr)
        frac = art["failed"] / art["attempted"] if art["attempted"] else 1.0
        print(f"# {w} seed={a.seed} trace={a.trace} attempted={art['attempted']} "
              f"failed={art['failed']} ops_failed_frac={frac:.4f} "
              f"run={time.time() - t:.1f}s nproc={art['stamp']['nproc']} "
              f"load={','.join(art['stamp']['loadavg_start'])}")
        for name, (value, unit) in art["metrics"].items():
            print(f"{w:12s} {name:40s} {value:14.4f} {unit}")
        summary["correct"] &= bool(ok)
        summary["attempted"] += art["attempted"]
        summary["failed"] += art["failed"]
        prefix = "" if len(names) == 1 else f"{w}."
        for name, (value, unit) in art["metrics"].items():
            summary["metrics"][prefix + name] = {"value": value, "unit": unit}
    print(json.dumps(summary))
    return 0 if summary["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
