#!/usr/bin/env python3
"""Request benchmark of the query library: one closed-loop client in one JVM.

    python3 perfbench/run.py --workload corr-api --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. It builds the harness (perfbench/build.sbt,
which compiles the library's src/main with perfbench/src) into .bench_build,
starts one JVM that sets the session up, then runs one cold pass over the
workload's keys and warm rounds in the seed's order (see DESIGN.md). Every
key's output is checked against perfbench/expected.json once per run,
outside the timed spans. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}; --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer ones and writes the run's spans
to .bench_build/trace/. The exit code is non-zero when an output does not
match or a request fails; the message gives the computed fingerprint, so a
key added to a workload gets its entry in expected.json by pasting it in.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import metrics  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")  # also the sbt target; see build.sbt
DATA = os.environ.get("PERFBENCH_DATA", os.path.expanduser("~/testdata/sf0.01"))
CORES = min(4, os.cpu_count() or 1)
# A fixed heap and young generation, so that peak memory does not depend on
# the collector's adaptive sizing.
HEAP = ["-Xms3g", "-Xmx3g", "-Xmn768m"]
RUN_DEADLINE_S = 165  # the harness JVM is killed after this
OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def load(name):
    with open(os.path.join(HERE, name)) as f:
        return json.load(f)


def build():
    """Compile the harness and the library when their sources changed;
    return the runtime classpath."""
    inputs = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
              os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        die(f"no library sources under {ROOT}/src/main; run from the checkout root")
    digest = hashlib.sha256()
    for top in inputs:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            digest.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                digest.update(f.read())
    stamp, cp_file = digest.hexdigest(), os.path.join(BUILD, "classpath.txt")
    if os.path.isfile(cp_file):
        with open(cp_file) as f:
            old_stamp, cp = f.read().split("\n")[:2]
        if old_stamp == stamp:
            return cp
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=os.environ.get(
        "SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.repository.config="
        + os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true -Xmx2g"))
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        out = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log, text=True, timeout=850)
        log.write(out.stdout)
    lines = [l for l in out.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if out.returncode != 0 or not lines:
        die(f"build failed, see {BUILD}/build.log")
    with open(cp_file, "w") as f:
        f.write(f"{stamp}\n{lines[-1]}\n")
    return lines[-1]


def run_harness(cp, tmp, log, *args):
    """Run the harness JVM to its end, killing it at the deadline; return
    the seconds until it reported its session set up and warmed."""
    t0 = time.perf_counter()
    proc = subprocess.Popen(
        ["java", *OPENS, *HEAP, f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Harness", *args],
        stdout=subprocess.PIPE, stderr=log, text=True)
    timer = threading.Timer(RUN_DEADLINE_S, proc.kill)
    timer.start()
    setup_s = None
    for line in proc.stdout:
        if setup_s is None and line.strip() == "READY":
            setup_s = time.perf_counter() - t0
    code = proc.wait()
    timer.cancel()
    if code != 0 or setup_s is None:
        die(f"the harness JVM exited with code {code} (see {log.name})")
    return setup_s


def check(records, expected, varying):
    """Keys whose checked output differs from the expected fingerprint,
    each with the check record the harness wrote for it (or None)."""
    got = {r["key"]: r for r in records if r["t"] == "check"}
    ok_cold = [r["key"] for r in records if r["t"] == "req" and r["round"] == 0 and not r["error"]]
    bad = []
    for key in ok_cold:
        g, e = got.get(key), expected.get(key)
        fields = ("rows", "schema") if key in varying else ("rows", "hash", "schema")
        if g is None or "error" in g or e is None or any(g[f] != e[f] for f in fields):
            bad.append((key, g))
    return bad


def spans(records):
    """The run's spans, parent before child: request -> build, plan and
    action -> Spark jobs and streaming microbatches."""
    out = []
    for r in records:
        if r["t"] == "req":
            out.append({"id": r["id"], "parent": None, "name": "request",
                        "start": r["start"], "end": r["end"], "error": r["error"]})
            marks = [r["start"], r["build_end"], r["plan_end"], r["end"]]
            for name, s, e in zip(("build", "plan", "action"), marks, marks[1:]):
                if s >= 0 and e >= 0:
                    out.append({"id": f"{r['id']}/{name}", "parent": r["id"], "name": name,
                                "start": s, "end": e})
        elif r["t"] in ("job", "batch"):
            span = {k: v for k, v in r.items() if k != "t"}
            out.append(dict(span, id=f"{r['parent']}/{r['t']}{r[r['t']]}", name=r["t"]))
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    workloads = load("workloads.json")
    if a.workload not in workloads:
        die(f"unknown workload {a.workload!r}; one of {sorted(workloads)}")
    keys = workloads[a.workload]["keys"]
    if not os.path.isfile(os.path.join(DATA, "lineitem.parquet")):
        die(f"no input tables under {DATA}")
    cp = build()

    run_dir = os.path.join(BUILD, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    plan = os.path.join(run_dir, "plan.txt")
    rounds = [metrics.round_order(keys, a.seed, r) for r in range(64)]
    with open(plan, "w") as f:
        f.write(f"{a.workload}/{a.seed}\n" + "".join(",".join(r) + "\n" for r in rounds))
    out = os.path.join(run_dir, "records.jsonl")

    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        setup_s = run_harness(cp, tmp, log, plan, DATA, str(CORES), str(a.seconds),
                              str(metrics.min_samples(metrics.TAIL)), str(a.trace), out)

    with open(out) as f:
        records = [json.loads(l) for l in f]
    expected = load("expected.json")
    bad = check(records, expected["keys"], expected["varying"])
    errors = [r for r in records if r["t"] == "req" and r["error"]]
    for r in errors:
        print(f"perfbench: {r['id']} failed: {r['error']}", file=sys.stderr)
    for key, got in bad:
        computed = got and {k: got[k] for k in ("rows", "hash", "schema", "error") if k in got}
        print(f"perfbench: {key} output does not match expected.json; computed: "
              f"{json.dumps(computed)}", file=sys.stderr)
    attempted = sum(1 for r in records if r["t"] == "req")

    if a.trace:
        m = metrics.per_layer(records)
        e2e = metrics.end_to_end(records, setup_s)
        m["trace.requests_per_s"] = e2e["requests_per_s"]
        trace_dir = os.path.join(BUILD, "trace")
        os.makedirs(trace_dir, exist_ok=True)
        with open(os.path.join(trace_dir, f"{a.workload}-{a.seed}.spans.jsonl"), "w") as f:
            f.writelines(json.dumps(s) + "\n" for s in spans(records))
    else:
        m = metrics.end_to_end(records, setup_s)
    result = {"correct": not bad, "attempted": attempted, "failed": len(errors) + len(bad),
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in m.items()}}
    print(json.dumps(result))
    return 0 if not bad and not errors else 1


if __name__ == "__main__":
    sys.exit(main())
