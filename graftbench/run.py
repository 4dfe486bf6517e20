#!/usr/bin/env python3
"""graft benchmark: one command, three workloads, every metric by name.

  python3 graftbench/run.py --workload <stream-drain|stream-paced|catalog>
      --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the engine and the benchmark from
source on first use (graftbench/build.py), generates the workload's inputs
from the seed, runs one JVM on Spark local[nproc], checks the outputs
(stream == batch replay == plain-Scala model; catalog == DuckDB oracles)
and prints, as its last stdout line, one JSON object:

  {"correct": .., "attempted": .., "failed": .., "metrics": {..}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are its per-layer metrics, measured with Spark's
listeners attached, and the spans of the run are kept under
graftbench/.work/traces (see graftbench/summarize.py). Everything the run
writes stays under graftbench/.work.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
sys.path.insert(0, BENCH)
sys.dont_write_bytecode = True

import build  # noqa: E402

WORKLOADS = ("stream-drain", "stream-paced", "catalog")
# seconds a run may take after the build (the first run also compiles)
DEADLINE_S = 170
HEAP = {"stream-drain": "2g", "stream-paced": "2g", "catalog": "3g"}
# catalog corpus scale: 6,000 lineitem rows, 1,000 events by 15 users
CATALOG_SF = 0.001
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


class Spans:
    """Spans of the runner itself, in the JVM's span format."""

    def __init__(self):
        self.items, self.next = [], 10**12

    def add(self, name, start, end, parent=0, trace=None, attrs=None):
        self.next += 1
        sid = self.next
        self.items.append({"trace": trace or sid, "id": sid, "parent": parent,
                           "name": name, "layer": "bench",
                           "start_us": int(start * 1e6), "end_us": int(end * 1e6),
                           "attrs": attrs or {}})
        return sid


def metric_specs():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return spec["end_to_end"], spec["per_layer"]


def corpus(seed):
    """The catalog corpus of `seed`, generated once per checkout."""
    import datagen
    d = os.path.join(WORK, "data", f"sf{CATALOG_SF}-seed{seed}")
    if not os.path.exists(os.path.join(d, "_DONE")):
        tmp = d + f".tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        datagen.generate(tmp, seed, CATALOG_SF)
        open(os.path.join(tmp, "_DONE"), "w").close()
        shutil.rmtree(d, ignore_errors=True)
        os.replace(tmp, d)
    return d


def run_jvm(classes, args, run_dir, heap, budget_s):
    """Runs the benchmark JVM; returns None, or why it failed."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-XX:-UsePerfData"] + ADD_OPENS + [
        # a fixed heap: no resizing, so GC costs the same in every run
        f"-Xms{heap}", f"-Xmx{heap}", f"-Djava.io.tmpdir={tmp}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", build.classpath(classes), "graftbench.Main"] + args)
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run_dir)
        try:
            rc = p.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return f"JVM exceeded {budget_s:.0f}s; log in {log.name}"
    if rc != 0:
        with open(log.name) as f:
            tail = f.read()[-3000:]
        return f"JVM exited {rc}; log in {log.name}\n{tail}"
    return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t0 = time.time()
    spans = Spans()
    e2e_spec, layer_spec = metric_specs()

    classes = build.build()
    t_build = time.time()
    data = corpus(a.seed) if a.workload == "catalog" else "-"
    t_data = time.time()

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    result = os.path.join(run_dir, "result.json")
    span_file = os.path.join(run_dir, "spans.jsonl")
    crash = run_jvm(classes, [a.workload, str(a.seed), str(a.seconds), str(a.trace),
                              os.path.join(run_dir, "work"), data, result, span_file],
                    run_dir, HEAP[a.workload], DEADLINE_S - (time.time() - t_build))
    if crash:
        # a crashed or timed-out run is one failed operation, not a result
        # left out; its metrics were not measured
        print(f"graftbench: FAILED {crash}", file=sys.stderr)
        spec = layer_spec if a.trace else e2e_spec
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {
            m["name"]: {"value": None, "unit": m["unit"]} for m in spec}}))
        return
    t_jvm = time.time()
    with open(result) as f:
        res = json.load(f)
    failures = list(res["failures"])
    attempted = res["attempted"]

    if a.workload == "catalog":
        import oracle
        checks = oracle.compare(data, os.path.join(run_dir, "work", "cold-out"),
                                os.path.join(WORK, "oracle-cache"))
        attempted += len(checks)
        failures += [f"{k}: {v}" for k, v in sorted(checks.items()) if v is not None]
    t_end = time.time()

    values = res["layers"] if a.trace else res["e2e"]
    spec = layer_spec if a.trace else e2e_spec
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec}
    out = {"correct": not failures, "attempted": attempted,
           "failed": len(failures), "metrics": metrics}

    keep = os.path.join(WORK, "results")
    os.makedirs(keep, exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    with open(os.path.join(keep, tag + ".json"), "w") as f:
        json.dump(dict(res, failures=failures, result=out,
                       runner_wall_s=t_end - t0), f, indent=1)
    if a.trace:
        root = spans.add("run", t0, t_end, attrs={"workload": a.workload})
        tr = spans.items[-1]["trace"]
        spans.add("build", t0, t_build, root, tr)
        spans.add("corpus", t_build, t_data, root, tr)
        jvm = spans.add("jvm", t_data, t_jvm, root, tr)
        spans.add("oracle compare", t_jvm, t_end, root, tr)
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        trace_file = os.path.join(WORK, "traces", tag + ".jsonl")
        with open(span_file) as src, open(trace_file, "w") as dst:
            for i, line in enumerate(src):
                rec = json.loads(line)
                if i == 0:
                    rec["meta"]["layers"] = res["layers"]
                elif rec["parent"] == 0 and not rec["attrs"].get("side"):
                    rec["parent"] = jvm
                dst.write(json.dumps(rec) + "\n")
            for s in spans.items:
                dst.write(json.dumps(s) + "\n")
        import summarize
        summarize.report(trace_file, out=sys.stderr)
    for f in failures:
        print(f"graftbench: FAILED {f}", file=sys.stderr)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
