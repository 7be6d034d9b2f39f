#!/usr/bin/env python3
"""Lakehouse benchmark: one command per workload run.

    python3 perfbench/run.py --workload lakehouse_etl --seed 1 --seconds 10 --trace 0

Run from the repository root. It compiles the engine (`src/main`) and the
harness (`perfbench/src`) with the Scala compiler that ships in the Spark
jars, generates the workload's inputs from the seed, runs the workload in a
fresh JVM at local[<cores>] with one closed-loop client, checks every
result, and prints one JSON object as the last line of standard output:
the end-to-end metrics with `--trace 0`, the per-layer metrics with
`--trace 1`. Everything it writes stays under `.bench_build/`.
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
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import check  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
SF = 0.1
# documents and embeddings are replicated this many times for curation_ops
CURATION_K = 1
WORKLOAD_TABLES = {
    "lakehouse_etl": ("events",),
    "curation_ops": ("documents", "embeddings"),
}
PHASES = ("warm", "untraced", "traced", "after")
JVM_TIMEOUT_S = 165
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.path.isdir(jars):
        fail("no Spark jars under $SPARK_HOME/jars (set SPARK_HOME)")
    return jars


def sources():
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine):
        fail(f"engine sources not found under {engine}; run from the repository root")
    files = []
    for base in (engine, os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build():
    """Compiles engine and harness unless the sources are unchanged."""
    files = sources()
    resources = os.path.join(ROOT, "src", "main", "resources")
    h = hashlib.sha1()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(BUILD, "classes.stamp")
    if os.path.isdir(CLASSES) and os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(spark_jars(), "*")
    args_file = os.path.join(BUILD, "scalac.args")
    with open(args_file, "w") as fh:
        fh.write("\n".join(files))
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp,
                        "scala.tools.nsc.Main",
                        "-nowarn", "-d", tmp, "-cp", cp, "@" + args_file],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        fail("compilation failed")
    if os.path.isdir(resources):
        shutil.copytree(resources, tmp, dirs_exist_ok=True)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())


def inputs(workload, seed):
    d = os.path.join(BUILD, "data", f"{workload}-seed{seed}")
    meta = os.path.join(d, "meta.json")
    if not os.path.exists(meta):
        shutil.rmtree(d, ignore_errors=True)
        gen.generate(d, seed, SF, WORKLOAD_TABLES[workload])
    with open(meta) as fh:
        return d, json.load(fh)


def run_jvm(workload, seed, seconds, trace, data, work):
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    records = os.path.join(work, "records.jsonl")
    cmd = ["java", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-Xmx3g", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dderby.system.home={work}", "-Dspark.ui.enabled=false",
            "-cp", CLASSES + os.pathsep + os.path.join(spark_jars(), "*"),
            "perfbench.Harness", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace), "--data", data,
            "--work", work, "--out", records, "--scale", str(CURATION_K)]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        try:
            r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work,
                               timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"harness exceeded {JVM_TIMEOUT_S} s (log: {log_path})")
    if r.returncode != 0:
        with open(log_path) as fh:
            tail = fh.read()[-3000:]
        print(tail, file=sys.stderr)
        fail(f"harness exited with {r.returncode} (log: {log_path})")
    with open(records) as fh:
        return [json.loads(line) for line in fh]


def verify(workload, records, meta):
    """label -> (reference hash, verified) from the independent checks."""
    results = {r["label"]: r["path"] for r in records if r["kind"] == "result"}
    oracles = {r["label"]: r["sql"] for r in records if r["kind"] == "oracle"}
    if not results:
        return {}, {}
    corpus = next(r for r in records if r["kind"] == "corpus")
    problems = check.check_results(corpus["dir"], WORKLOAD_TABLES[workload], results, oracles,
                                   os.path.join(BUILD, "duckdb-tmp"), meta.get("dup_of", {}),
                                   corpus["k"])
    first_hash = {}
    for r in records:
        if r["kind"] == "op" and "hash" in r:
            first_hash.setdefault(r["label"], r["hash"])
    reference = {label: (first_hash.get(label), problems.get(label) == "") for label in results}
    return reference, {k: v for k, v in problems.items() if v}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOAD_TABLES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    build()
    data, meta = inputs(a.workload, a.seed)
    work = os.path.join(BUILD, "work", a.workload)
    t0 = time.time()
    records = run_jvm(a.workload, a.seed, a.seconds, a.trace, data, work)
    jvm_s = time.time() - t0
    reference, problems = verify(a.workload, records, meta)

    e2e, extra = metrics.end_to_end(records, reference)
    ops = [o for p in PHASES for o in metrics.ops_of(records, p)]
    nfailed = sum(metrics.failed(o, reference) for o in ops)
    setup = metrics.one(records, "setup")
    errors = sorted({f"{o['label']}: {o.get('error') or o.get('problem')}"
                     for o in ops if not o.get("ok") or o.get("problem")})
    summary = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
               "cores": setup["cores"], "sf": SF, "jvm_wall_s": round(jvm_s, 3),
               "context_s": setup["context_s"], "fixture_s": setup["fixture_s"],
               "warm_s": setup["warm_s"], **extra}
    if a.workload == "curation_ops":
        summary["k"] = CURATION_K
    print("summary " + json.dumps(summary))
    for label, msg in sorted(problems.items()):
        print(f"check failed: {label}: {msg}")
    for msg in errors:
        print(f"op failed: {msg}")

    if a.trace:
        layer, by_label = metrics.layers(records, setup["cores"])
        layer["etl.commit_p50_s"] = extra.get("write_p50_s", 0.0)
        layer["etl.read_p50_s"] = extra.get("read_p50_s", 0.0)
        with open(os.path.join(work, "layers_by_label.json"), "w") as fh:
            json.dump(by_label, fh, indent=1, sort_keys=True)
        for label, d in sorted(by_label.items()):
            print("layers " + json.dumps({"label": label, **{k: round(v, 3) for k, v in d.items()}}))
        out = {k: {"value": layer[k], "unit": u} for k, u in metrics.LAYER_UNITS.items()}
    else:
        out = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(json.dumps({"correct": nfailed == 0, "attempted": len(ops), "failed": nfailed,
                      "metrics": out}))


if __name__ == "__main__":
    main()
