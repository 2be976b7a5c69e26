#!/usr/bin/env python3
"""Benchmark entry point: build the program from source, generate the
inputs from the seed, run one workload in one JVM, check its outputs and
print one JSON result line.

Run from the repository root:

    python3 perfbench/run.py --workload <etl_daily|star_sql|operator_build> \
        --seed <n> --seconds <s> --trace <0|1>

The last line of standard output is
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}`` with the
``end_to_end`` metrics of BENCHMARK.json (``--trace 0``) or its ``per_layer``
metrics (``--trace 1``). The exit code is 0 only when every output check
passed.

Maintenance modes (see perfbench/README.md):

    python3 perfbench/run.py --mode classify     # re-derive the eager/lazy split
    python3 perfbench/run.py --mode fingerprint  # re-select the timed gates, fingerprint them
    python3 perfbench/run.py --mode selftest     # frozen gates exist and have fingerprints
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import gen  # noqa: E402

GATES_SF = 0.01       # gate tables: the size of the project's sf0.01 test data
GATES_DATA_SEED = 42  # fixed, so the fingerprints in gates.tsv apply
ETL_SCALE = 0.1       # etl inputs: 0.1 x the sf0.1 source tables
JVM_HEAP = "4g"
JVM_TIMEOUT_S = 170
WORKLOADS = ("etl_daily", "star_sql", "operator_build")

JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """The jars of the Spark installation: $SPARK_HOME, else the first
    `bin/spark-submit` on PATH that sits beside a `jars` directory."""
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep) if d]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars")
    fail("no Spark installation found (set SPARK_HOME)")


def sources(root):
    """Program and benchmark Scala sources, in a stable order."""
    found = []
    for base in ("src/main/scala", "perfbench/src"):
        d = os.path.join(root, base)
        if not os.path.isdir(d):
            fail(f"missing {base}: run from the repository root of a full checkout")
        for dirpath, _, files in os.walk(d):
            found += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def build(root, out_dir, jars):
    """Compile the program and the benchmark harness once per source state."""
    srcs = sources(root)
    digest = hashlib.sha256()
    for s in srcs:
        digest.update(s.encode())
        with open(s, "rb") as fh:
            digest.update(fh.read())
    classes = os.path.join(out_dir, "classes-" + digest.hexdigest()[:16])
    if os.path.exists(os.path.join(classes, ".complete")):
        return classes
    if os.path.isdir(out_dir):
        for old in os.listdir(out_dir):
            if old.startswith("classes"):
                shutil.rmtree(os.path.join(out_dir, old), ignore_errors=True)
    os.makedirs(classes)
    cp = os.path.join(jars, "*")
    t0 = time.time()
    r = subprocess.run(["java", "-Xmx3g", "-Xss16m", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
                        "-d", classes, "-classpath", cp] + srcs,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(classes, ignore_errors=True)
        print(r.stdout[-4000:], file=sys.stderr)
        fail("build failed", 1)
    open(os.path.join(classes, ".complete"), "w").close()
    print(f"[perfbench] built {len(srcs)} sources in {time.time() - t0:.1f}s", file=sys.stderr)
    return classes


def java(root, classes, jars, tmp, args, timeout):
    resources = os.path.join(root, "src/main/resources")
    cp = os.pathsep.join([classes, resources, os.path.join(jars, "*")])
    cmd = ["java"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{JVM_HEAP}", "-Xss16m", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", cp, "perfbench.Main"] + args
    log = os.path.join(tmp, "jvm.log")
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = None
    with open(log) as fh:
        tail = fh.read()[-6000:]
    return code, tail


def select(classify_tsv):
    """The timed gates, from the frozen classification, in
    SparkEntry.allQueries order: every 6th lazy ParityQueries gate from the
    5th, and every 18th eager gate from the 2nd."""
    with open(classify_tsv) as fh:
        rows = [line.rstrip("\n").split("\t") for line in fh][1:]
    lazy = [r[1] for r in rows if r[0] == "ParityQueries" and r[2] == "0"]
    eager = [r[1] for r in rows if int(r[2]) >= 1]
    return [("star_sql", n) for n in lazy[4::6]] + [("operator_build", n) for n in eager[1::18]]


def maintain(mode, root, classes, jars, tmp, run_dir, data, nproc):
    """classify / fingerprint / selftest; returns the exit code."""
    classify_tsv = os.path.join(HERE, "classify.tsv")
    gates_tsv = os.path.join(HERE, "gates.tsv")
    args = ["--mode", mode, "--data", data, "--nproc", str(nproc)]
    if mode == "selftest":
        with open(gates_tsv) as fh:
            frozen = [tuple(line.split("\t")[:2]) for line in fh if line.strip()]
        if frozen != select(classify_tsv):
            print("[perfbench] selftest: gates.tsv is not the selection from classify.tsv",
                  file=sys.stderr)
            return 1
        code, tail = java(root, classes, jars, tmp, args + ["--gates", gates_tsv], timeout=600)
        print(tail if code else "[perfbench] selftest ok", file=sys.stderr)
        return 0 if code == 0 else 1
    out = os.path.join(run_dir, "out.tsv")
    if mode == "fingerprint":
        chosen = os.path.join(run_dir, "chosen.tsv")
        with open(chosen, "w") as fh:
            fh.writelines(f"{w}\t{n}\n" for w, n in select(classify_tsv))
        args += ["--gates", chosen]
    code, tail = java(root, classes, jars, tmp, args + ["--out", out], timeout=3600)
    if code != 0:
        print(tail, file=sys.stderr)
        return 1
    shutil.copy(out, classify_tsv if mode == "classify" else gates_tsv)
    print(f"[perfbench] wrote perfbench/{'classify' if mode == 'classify' else 'gates'}.tsv",
          file=sys.stderr)
    return 0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--mode", default="run", choices=["run", "classify", "fingerprint", "selftest"])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    a = ap.parse_args()
    if a.mode == "run" and not a.workload:
        fail("--workload is required")

    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    jars = spark_jars()
    out_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    classes = build(root, out_dir, jars)
    gates_tsv = os.path.join(HERE, "gates.tsv")
    nproc = len(os.sched_getaffinity(0))

    t0 = time.time()
    run_dir = os.path.join(out_dir, f"run-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    data = os.path.join(run_dir, "data")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(tmp)
    try:
        if a.mode != "run":
            gen.gates(data, GATES_SF, GATES_DATA_SEED)
            sys.exit(maintain(a.mode, root, classes, jars, tmp, run_dir, data, nproc))
        if a.workload == "etl_daily":
            gen.etl(data, ETL_SCALE, a.seed)
        else:
            gen.gates(data, GATES_SF, GATES_DATA_SEED)
        result_file = os.path.join(run_dir, "result.json")
        code, tail = java(root, classes, jars, tmp,
                          ["--mode", "run", "--workload", a.workload,
                           "--seconds", str(a.seconds), "--trace", str(a.trace), "--data", data,
                           "--gates", gates_tsv, "--nproc", str(nproc), "--out", result_file],
                          timeout=JVM_TIMEOUT_S)
        if code != 0 or not os.path.exists(result_file):
            print(tail, file=sys.stderr)
            fail(f"benchmark JVM exited with {code}", 1)
        with open(result_file) as fh:
            res = json.load(fh)
        trace_file = result_file + ".trace.jsonl"
        if os.path.exists(trace_file):
            keep = os.path.join(out_dir, f"trace-{a.workload}-{a.seed}.jsonl")
            shutil.move(trace_file, keep)
            print(f"[perfbench] spans written to {os.path.relpath(keep, root)}", file=sys.stderr)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    got = dict(res["metrics"])
    got["setup_s"] = {"value": res["first_op_ms"] / 1000.0 - t0, "unit": "s"}
    metrics = {}
    for m in wanted:
        if m["name"] not in got:
            fail(f"the run did not produce metric {m['name']}", 1)
        metrics[m["name"]] = {"value": got[m["name"]]["value"], "unit": m["unit"]}
    if not a.trace:
        print(json.dumps({"detail": {
            "workload": a.workload, "passes": res["passes"],
            "op_samples": got["op_samples"]["value"],
            "op_p90_s": got["op_p90_s"]["value"],
            "error_rate": got["error_rate"]["value"], "op_s": res["op_s"]}}))
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))
    sys.exit(0 if res["correct"] and res["failed"] == 0 else 1)


if __name__ == "__main__":
    main()
