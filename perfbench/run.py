#!/usr/bin/env python3
"""Run one workload of the benchmark (or all of them) and print its metrics.

Usage:
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
  python3 perfbench/run.py --workload all --seed N --seconds S
  python3 perfbench/run.py --selftest

NAME is one of the workloads in BENCHMARK.json. With --trace 0 the metrics
are the end-to-end ones; with --trace 1 the run also records spans and
prints the per-layer metrics and table. `all` runs every workload untraced
and then traced, and reports the tracing overhead. Outputs go to
perfbench/out/<workload>-s<seed>-t<trace>/; the last line of standard output
is one JSON object with the keys correct, attempted, failed and metrics.
"""
import argparse
import contextlib
import io
import json
import os
import platform
import re
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402

BATCH_SF = 0.01
JVM_TIMEOUT_S = 160
ADD_OPENS = ["java.base/" + p + "=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spec():
    with open(ROOT / "BENCHMARK.json") as f:
        return json.load(f)


def commit():
    if not (ROOT / ".git").exists():
        return None
    try:
        r = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return None
    return r.stdout.strip() if r.returncode == 0 else None


def oracle_check(data_dir, results_dir):
    """The repository's oracle gate (tools/check_oracle.py) over the set-up
    pass's results; returns {query: (ok, rows, report line)}."""
    sys.path.insert(0, str(ROOT / "tools"))
    import check_oracle
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        check_oracle.main(data_dir, results_dir)
    report = {}
    for line in buf.getvalue().splitlines():
        m = re.match(r"(PASS|FAIL|ROWS|MISS)\s+(\S+): (.*)", line)
        if m:
            rows = re.search(r"(?:^|rows=)(\d+)(?: rows|\b)", m.group(3))
            report[m.group(2)] = (m.group(1) in ("PASS", "ROWS"),
                                  int(rows.group(1)) if rows and m.group(1) != "FAIL" else 0, line)
    return report


def layer_map_problems(sp):
    """What in layer_map.json names a workload or metric that BENCHMARK.json
    does not have, and which per-layer metric no layer claims."""
    lm = json.loads((HERE / "layer_map.json").read_text())
    workloads = {w["name"] for w in sp["workloads"]}
    e2e = {m["name"] for m in sp["end_to_end"]}
    per_layer = {m["name"] for m in sp["per_layer"]}
    bad, claimed = [], set()
    for layer in lm["layers"]:
        claimed.update(layer["metrics"])
        bad += [f"{layer['layer']}: metric {m}" for m in layer["metrics"] if m not in per_layer]
        for mv in layer["moves"]:
            if mv["workload"] not in workloads:
                bad.append(f"{layer['layer']}: workload {mv['workload']}")
            if mv["metric"] not in e2e:
                bad.append(f"{layer['layer']}: end-to-end metric {mv['metric']}")
            bad += [f"{layer['layer']}: via {m}" for m in mv.get("via", []) if m not in layer["metrics"]]
    bad += [f"per-layer metric {m} in no layer" for m in sorted(per_layer - claimed)]
    return bad


def jvm(classes, main, args, work, log_path):
    jars = build.spark_jars()
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = [build.java()] + [a for o in ADD_OPENS for a in ("--add-opens", o)] + [
        "-XX:-UsePerfData", "-Xms2g", "-Xmx2g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
        "-cp", f"{classes}{os.pathsep}{jars}/*", main] + args
    with open(log_path, "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, cwd=str(work))
        try:
            return proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            return None


def run_one(classes, digest, workload, seed, seconds, trace):
    import datagen
    import render

    sp = spec()
    kind = "stream" if workload.startswith("stream_") else "batch"
    out = HERE / "out" / f"{workload}-s{seed}-t{trace}"
    shutil.rmtree(out, ignore_errors=True)
    work = out / "work"
    work.mkdir(parents=True)
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--out", str(out), "--work", str(work)]
    if kind == "batch":
        datagen.write(str(work / "data"), seed, BATCH_SF)
        args += ["--data", str(work / "data")]
    code = jvm(classes, "perfbench.Main", args, work, out / "jvm.log")
    if code != 0 or not (out / "result.json").is_file():
        tail = (out / "jvm.log").read_text(errors="replace")[-3000:]
        raise RuntimeError(f"{workload}: harness exited with {code}\n{tail}")
    res = json.loads((out / "result.json").read_text())
    failed, attempted = res["failed"], res["attempted"]
    correct = res["correct"]
    layers = dict(res["layers"])
    if kind == "batch":
        report = oracle_check(str(work / "data"), str(out / "results"))
        bad = {n: line for n, (ok, _, line) in report.items() if not ok}
        res["details"]["oracle"] = {n: line for n, (_, _, line) in report.items()}
        failed += len([n for n in bad if n not in res["details"]["failures"]])
        correct = correct and not bad
        layers["rows_out"] = float(sum(rows for _, rows, _ in report.values()))
        layers["rows_per_op"] = layers["rows_out"] / max(1, len(report))
        for line in bad.values():
            log(f"{workload}: oracle check: {line}")
    stamp = {"workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
             "commit": commit(), "source_sha256": digest, "cpus": res["cores"],
             "sf": BATCH_SF if kind == "batch" else None, "host_cpus": os.cpu_count(),
             "machine": platform.machine(), "time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())}
    wanted = sp["per_layer"] if trace else sp["end_to_end"]
    source = layers if trace else res["e2e"]
    metrics = {}
    for m in wanted:
        v = source.get(m["name"])
        if v is None and trace:
            v = 0.0  # a layer the workload does not have, or a window without samples
        if v is None:
            raise RuntimeError(f"{workload}: metric {m['name']} missing")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    summary = {"stamp": stamp, "correct": correct, "attempted": attempted, "failed": failed,
               "e2e": res["e2e"], "layers": layers, "details": res["details"]}
    (out / "summary.json").write_text(json.dumps(summary, indent=1))
    shutil.rmtree(work, ignore_errors=True)

    print(f"== {workload}  seed={seed} trace={trace} cpus={res['cores']} "
          f"commit={stamp['commit'] or 'n/a'} sources={digest[:12]}"
          + (f" sf={BATCH_SF}" if kind == "batch" else ""))
    for m in sp["end_to_end"]:
        print(f"  {m['name']:<26} {res['e2e'][m['name']]:>14.4f} {m['unit']}")
    for alias, v, unit in render.aliases(kind, res, failed, attempted):
        print(f"  {alias:<26} {v:>14.4f} {unit}")
    print(f"  {'correct':<26} {str(correct):>14}   ({failed} failed of {attempted})")
    if trace:
        for m in sp["per_layer"]:
            print(f"  {m['name']:<30} {layers.get(m['name'], 0.0):>14.4f} {m['unit']}")
        table = render.table(out / "spans.jsonl", kind)
        (out / "layers.txt").write_text(table)
        print(table)
        base = HERE / "out" / f"{workload}-s{seed}-t0" / "summary.json"
        if base.is_file():
            print(render.overhead(json.loads(base.read_text())["e2e"], res["e2e"], sp["end_to_end"]))
        else:
            print("  tracing overhead: run the same seed with --trace 0 first to report it")
    return {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    try:
        sp = spec()
        classes, digest = build.build()
    except (OSError, ValueError, build.BuildError) as e:
        log(f"cannot run: {e}")
        return 2
    if a.selftest:
        problems = layer_map_problems(sp)
        print(f"{'FAIL' if problems else 'PASS'}  layer_map.json names only BENCHMARK.json workloads and metrics")
        for p in problems:
            print(f"  {p}")
        work = HERE / "out" / "selftest"
        work.mkdir(parents=True, exist_ok=True)
        code = jvm(classes, "perfbench.SelfTest", [str(work)], work, work / "jvm.log")
        print("".join(l for l in (work / "jvm.log").read_text().splitlines(True)
                      if l.startswith(("PASS", "FAIL", "all ", "  ")) or "self-test" in l))
        return 0 if code == 0 and not problems else 1
    names = [w["name"] for w in sp["workloads"]]
    if a.workload not in names + ["all"]:
        log(f"unknown workload {a.workload!r}; one of {', '.join(names)} or all")
        return 2
    seconds = a.seconds or sp["run_seconds"]
    try:
        if a.workload != "all":
            result = run_one(classes, digest, a.workload, a.seed, seconds, a.trace)
        else:
            runs = {}
            for w in names:
                for t in (0, 1):
                    runs[(w, t)] = run_one(classes, digest, w, a.seed, seconds, t)
            result = {"correct": all(r["correct"] for r in runs.values()),
                      "attempted": sum(r["attempted"] for r in runs.values()),
                      "failed": sum(r["failed"] for r in runs.values()),
                      "metrics": {f"{w}.{k}": v for (w, t), r in runs.items() if t == 0
                                  for k, v in r["metrics"].items()}}
    except RuntimeError as e:
        log(str(e))
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
