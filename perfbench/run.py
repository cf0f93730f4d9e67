#!/usr/bin/env python3
"""Benchmark of the reference's own job on real Python: ingest, Cypher reads
and hydration, timed end to end and, in a traced run, layer by layer.

Usage (from the repository root):
    python3 perfbench/run.py --workload ingest_full --seed 1 --seconds 10 --trace 0

The first run builds the program and the harness with sbt. Every run writes
its full artifact (op records, failures, settings, spans) under
`.perfbench/artifacts/` and prints each metric by name and unit; the last
line of standard output is the JSON result.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402

SPEC = os.path.join(ROOT, "BENCHMARK.json")
STATE = os.path.join(ROOT, ".perfbench")
CLASSPATH = os.path.join(STATE, "classpath.txt")
CORES = len(os.sched_getaffinity(0))  # nproc
HEAP = "3g"

# JDK 17 needs these for Spark outside spark-submit (the build's javaOptions).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def newest_source():
    newest = 0.0
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        for d, dirs, files in os.walk(base):
            dirs[:] = [x for x in dirs if x != "target"]
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    for f in (os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        newest = max(newest, os.path.getmtime(f))
    return newest


def build():
    """Compile the program and the harness once per checkout; keep the
    runtime classpath. A failed build leaves no classpath behind."""
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"the program's sources ({need}) are not in {ROOT}; "
                 "run from the repository root of a full checkout")
    if os.path.exists(CLASSPATH) and os.path.getmtime(CLASSPATH) >= newest_source():
        return
    os.makedirs(STATE, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "compile", "export Runtime/fullClasspath"]
    p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    with open(CLASSPATH + ".tmp", "w") as fh:
        fh.write(lines[-1].strip())
    os.replace(CLASSPATH + ".tmp", CLASSPATH)


def summarize(raw, inputs, setup_s, trace):
    """The metrics the last line reports, plus the workload's own figures."""
    measured = raw["measured"]
    if measured["ok"] == 0:
        return None, {}
    # query_mix reports the cold ingest of its set-up, ingest_full its ops
    own = [i for i in raw["ingests"] if i["ok"]]
    ingest_s = sorted(i["ms"] for i in own)[len(own) // 2] / 1e3
    ratio = sorted((i["snapshot_bytes"] + i["srctrl_bytes"]) / inputs["src_bytes"]
                   for i in own)[len(own) // 2]
    e2e = {
        "setup_s": (setup_s, "s"),
        "op_p50_ms": (measured["p50_ms"], "ms"),
        "op_tail_ms": (measured["tail_ms"], "ms"),
        "ops_per_s": (measured["ok"] / raw["loop_s"], "1/s"),
        "ops_ok_frac": (measured["ok"] / measured["attempted"], "ratio"),
        "peak_rss_mb": (raw["peak_rss_mb"], "MB"),
        "ingest_files_per_s": (len(inputs["files"]) / ingest_s, "files/s"),
        "snapshot_bytes_per_src_byte": (ratio, "ratio"),
    }
    # figures printed beside the metrics, under the names the workloads'
    # definitions use
    extra = {"op_tail_pct": (measured["tail_pct"], "pct"),
             "op_samples": (measured["samples"], "count"),
             "ops_failed_frac": (len(raw["failures"]) / raw["attempted"], "ratio")}
    if raw["workload"] == "query_mix":
        extra.update({"query_p50_ms": (measured["p50_ms"], "ms"),
                      "query_tail_ms": (measured["tail_ms"], "ms"),
                      "queries_per_s": (measured["ok"] / raw["loop_s"], "1/s")})
    if trace:
        layers = {k: (v["value"], v["unit"]) for k, v in raw["layers"].items()}
        arms = ("scc", "cc", "bfs", "betweenness", "anf")
        extra.update({
            "update_s": layers["api.update_version_s"],
            "commit_ms": (layers["api.commit_s"][0] * 1e3, "ms"),
            "read_after_write_ms": (sum(sp["wall_ms"] for sp in raw["trace"]
                                        if sp["name"] == "api.read"), "ms"),
            "analytics_kernel_s": (sum(layers[f"enrich.analytics.{a}.kernel_s"][0]
                                       for a in arms), "s"),
            "analytics_dist_s": (sum(layers[f"enrich.analytics.{a}.dist_s"][0]
                                     for a in arms), "s")})
        return layers, {**e2e, **extra}
    return e2e, extra


def main():
    with open(SPEC) as fh:
        spec = json.load(fh)
    whys = {w["name"]: w["why"] for w in spec["workloads"]}
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(whys))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    fingerprint = gen.check_corpus()
    build()
    with open(CLASSPATH) as fh:
        classpath = fh.read()

    t0 = time.time()
    work = os.path.join(STATE, "work", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    inputs = gen.generate(a.seed, work)
    raw_path = os.path.join(work, "raw.json")
    log_path = os.path.join(work, "jvm.log")
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}",
            "-Dspark.ui.enabled=false", *ADD_OPENS, "-cp", classpath,
            "perfbench.Main", a.workload, os.path.join(work, "inputs.json"), work,
            str(a.seconds), str(a.trace), str(CORES), raw_path])
    with open(log_path, "w") as log:
        rc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT).returncode
    if rc != 0 or not os.path.exists(raw_path):
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"the harness exited with {rc}; log kept at {log_path}", 1)
    with open(raw_path) as fh:
        raw = json.load(fh)
    setup_s = raw["ready_epoch_ms"] / 1e3 - t0

    metrics, extra = summarize(raw, inputs, setup_s, a.trace)
    if metrics is None:
        fail("no measured op succeeded; failures: "
             + json.dumps(raw["failures"][:5]), 1)
    # the last line carries exactly the metrics BENCHMARK.json declares for
    # this mode; the rest go to the artifact and the lines above it
    declared = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
    missing = [k for k in declared if k not in metrics
               or not isinstance(metrics[k][0], (int, float)) or metrics[k][0] != metrics[k][0]]
    if missing:
        fail(f"declared metrics without a value: {missing}", 1)
    extra.update({k: v for k, v in metrics.items() if k not in declared})
    metrics = {k: metrics[k] for k in declared}
    failed = len(raw["failures"])
    raw["hygiene"].update({"seed": a.seed, "heap": HEAP, "corpus": fingerprint,
                           "git_commit": git_commit()})
    artifact = {"workload": a.workload, "why": whys[a.workload],
                "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
                "also": {k: {"value": v, "unit": u} for k, (v, u) in extra.items()},
                "inputs": {k: inputs[k] for k in ("files", "src_bytes", "src_lines")},
                **raw}
    arts = os.path.join(STATE, "artifacts")
    os.makedirs(arts, exist_ok=True)
    art_path = os.path.join(arts, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    with open(art_path, "w") as fh:
        json.dump(artifact, fh, indent=1, sort_keys=True)
    shutil.rmtree(work, ignore_errors=True)

    for name, (v, unit) in {**metrics, **extra}.items():
        print(f"{name} {v} {unit}")
    for f in raw["failures"]:
        print(f"failed op {f['op']} ({f['kind']}): {f['error']}")
    print(f"artifact {os.path.relpath(art_path, ROOT)}")
    print(json.dumps({
        "correct": failed == 0, "attempted": raw["attempted"], "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              capture_output=True).stdout.strip() or None
    except OSError:
        return None


if __name__ == "__main__":
    main()
