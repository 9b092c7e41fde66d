#!/usr/bin/env python3
"""The benchmark's one command.

  python3 perfbench/run.py --workload <lineage_ingest|query_exec|manifest_rw>
                           --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It compiles the repository with its own,
unchanged sbt build and the harness in perfbench/harness beside it (once per
source tree), makes the workload's inputs from the seed, runs the harness on
plain `java`, checks the outputs apart from the program, and prints one JSON
object as its last line. With --trace 0 that object holds the end-to-end
metrics; with --trace 1 the per-layer metrics. Everything it writes stays
under .bench_build/ and .bench_work/ in the checkout.
"""
import argparse
import hashlib
import json
import math
import os
import re
import shutil
import statistics
import subprocess
import sys
import time
import zipfile

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

import checks  # noqa: E402
import gen_corpus  # noqa: E402
import gen_data  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
HARNESS = os.path.join(BENCH, "harness")
# The Spark jars the repository's own build compiles against.
SPARK_JARS = (re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                        open(os.path.join(ROOT, "build.sbt")).read()).group(1)
              if os.path.exists(os.path.join(ROOT, "build.sbt")) else "")
JVM_TIMEOUT_S = 150
WORKLOADS = ["lineage_ingest", "query_exec", "manifest_rw"]
JARS = {"harness.jar": os.path.join(HARNESS, "target", "scala-2.13", "classes"),
        "graft.jar": os.path.join(ROOT, "target", "scala-2.13", "classes")}

# Must match QueryWorkload and ManifestWorkload in the harness.
QUERY_READS = ["q01_pricing_summary", "q05_join_inner", "q336_null_aware_anti_join",
               "q40_dedup_exact", "q49_embedding_ann_ivf", "q281_approx_top_k"]
QUERY_WRITES = ["q40_dedup_exact"]
MANIFEST = dict(
    max_key=75000, split_key=37500, upsert_every=97, buckets=4,
    key_range="l_orderkey >= 20000 AND l_orderkey < 22000",
    bucket="l_bucket = 2 AND l_quantity > 40",
    delete="l_discount = 0.1 AND l_returnflag = 'R'")


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def sources_digest():
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HARNESS, "build.sbt"), os.path.join(HARNESS, "project", "build.properties")]
    for top in tops:
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the repository with its own build, and the harness, once per
    source tree."""
    stamp = os.path.join(BUILD, "stamp")
    digest = sources_digest()
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return
    os.makedirs(BUILD, exist_ok=True)
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=(
        "-Dsbt.override.build.repos=true "
        f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')} "
        f"-Dsbt.offline=true -Dsbt.server.autostart=false -Djava.io.tmpdir={tmp} "
        "-XX:-UsePerfData -Xmx2g"))
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                            cwd=HARNESS, env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=840).returncode
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail("build failed")
    # The classes go into jars so that the JVM can keep them in a class
    # data sharing archive (see run_jvm); archives of an older build go.
    for name, classes in JARS.items():
        with zipfile.ZipFile(os.path.join(BUILD, name), "w", zipfile.ZIP_STORED) as z:
            for d, _, fs in sorted(os.walk(classes)):
                for f in sorted(fs):
                    path = os.path.join(d, f)
                    z.write(path, os.path.relpath(path, classes))
    shutil.rmtree(os.path.join(BUILD, "cds"), ignore_errors=True)
    # One class data sharing archive per workload, saved by a JVM that runs
    # the workload's set-up and pass 0 on seed 0: every measured run then
    # starts the same way, the first one included.
    spec = json.load(open(os.path.join(BENCH, "..", "BENCHMARK.json")))
    for w in spec["workloads"]:
        data, corpus = inputs(0)
        work = os.path.join(WORK, "run")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        run_jvm(w["name"], data, corpus, work, 0, 0, classes_only=True)
    with open(stamp, "w") as f:
        f.write(digest)


def inputs(seed):
    """The workload inputs for `seed`; the tables are kept for the last seed."""
    data = os.path.join(WORK, "data", str(seed))
    stamp = os.path.join(data, "stamp")
    gen_src = open(os.path.join(BENCH, "gen_data.py"), "rb").read()
    key = hashlib.sha256(gen_src).hexdigest()
    if not (os.path.exists(stamp) and open(stamp).read() == key):
        shutil.rmtree(os.path.join(WORK, "data"), ignore_errors=True)
        gen_data.generate(seed, data)
        with open(stamp, "w") as f:
            f.write(key)
    corpus = os.path.join(WORK, "corpus")
    shutil.rmtree(corpus, ignore_errors=True)
    gen_corpus.generate(seed, corpus)
    return data, corpus


def run_jvm(workload, data, corpus, work, seconds, trace, classes_only=False):
    classpath = ":".join([os.path.join(BUILD, name) for name in JARS] +
                         [os.path.join(SPARK_JARS, "*")])
    # Class data sharing: a run maps the classes its workload's archive
    # holds instead of loading and verifying them again, which takes
    # seconds off the JVM's start; a workload without one saves it.
    cds = os.path.join(BUILD, "cds")
    os.makedirs(cds, exist_ok=True)
    jsa = os.path.join(cds, f"{workload}.jsa")
    share = (f"-XX:SharedArchiveFile={jsa}" if os.path.exists(jsa)
             else f"-XX:ArchiveClassesAtExit={jsa}")
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java", share, "-Xlog:cds=off", "-Xlog:cds+dynamic=off", "-XX:-UsePerfData",
            "-Xmx3g", "-Xms3g",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"] +
           [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in opens] +
           ["-cp", classpath, "graft.perfbench.Main", "--workload", workload, "--data", data,
            "--corpus", corpus, "--work", work, "--seconds", str(seconds),
            "--trace", str(trace), "--classes-only", str(int(classes_only))])
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"the harness ran past {JVM_TIMEOUT_S} s")
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"the harness exited with {rc}")
    return None if classes_only else json.load(open(os.path.join(work, "result.json")))


def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(res):
    """Latency figures start from each op's best time over the timed passes
    (min-of-N: a neighbour's burst only ever adds time). The p50s are then
    medians over the distinct ops, so a mix of ops of very different cost (a
    scan and a compaction) gives the typical op, not whichever op sits at
    the boundary between two."""
    ops = res["ops"]
    by_op = {}
    for o in ops:
        by_op.setdefault(o["op"], []).append(o)

    def p50(part):
        return median([min(o[part] for o in v) for v in by_op.values()
                       if any(o[part] > 0 for o in v)])

    total_s = sum(o["ms"] for o in ops) / 1000
    return {
        "setup_s": (median(res["setup_s"]), "s"),
        "ops_per_s": (len(ops) / total_s, "1/s"),
        "op_geomean_ms": (math.exp(statistics.fmean(
            math.log(min(o["ms"] for o in v)) for v in by_op.values())), "ms"),
        "read_p50_ms": (p50("read_ms"), "ms"),
        "write_p50_ms": (p50("write_ms"), "ms"),
        "cpu_s": (sum(o["cpu_ms"] for o in ops) / 1000 / res["passes"], "s"),
    }


def unaccounted_by_op(res, work):
    """Self time of each traced op's root span, averaged per op name: the
    part of the op that no layer span covers. Span op ids number the timed
    ops in the order of `res["ops"]`."""
    spans = [json.loads(line) for line in open(os.path.join(work, "spans.jsonl"))]
    child_ns = [0] * len(spans)
    for sp in spans:
        if sp["parent"] >= 0:
            child_ns[sp["parent"]] += sp["end_ns"] - sp["start_ns"]
    by_op = {}
    for i, sp in enumerate(spans):
        if sp["name"] == "op":
            name = res["ops"][sp["op"]]["op"]
            by_op.setdefault(name, []).append((sp["end_ns"] - sp["start_ns"] - child_ns[i]) / 1e6)
    return {k: statistics.fmean(v) for k, v in by_op.items()}


def per_layer(res, spec):
    """Every per-layer metric of BENCHMARK.json; a layer the workload does
    not exercise reads 0."""
    layers = res.get("layers", {})
    return {m["name"]: (layers.get(m["name"], 0.0), m["unit"]) for m in spec["per_layer"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not (os.path.exists(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("run this from the root of a graft checkout: build.sbt and src/ are missing")
    t0 = time.time()
    build()
    t1 = time.time()
    data, corpus = inputs(a.seed)
    work = os.path.join(WORK, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    t2 = time.time()
    res = run_jvm(a.workload, data, corpus, work, a.seconds, a.trace)
    t3 = time.time()

    if a.workload == "lineage_ingest":
        bad = checks.lineage(corpus, work)
    elif a.workload == "query_exec":
        bad = checks.queries(data, work, QUERY_READS, QUERY_WRITES)
    else:
        bad = checks.manifest(data, work, **MANIFEST)
    for b in bad:
        print(f"CHECK FAILED: {b}", file=sys.stderr)

    print(f"wall_s build={t1 - t0:.1f} inputs={t2 - t1:.1f} jvm={t3 - t2:.1f} "
          f"checks={time.time() - t3:.1f}; in the jvm: " +
          " ".join(f"{k}={v:.1f}" for k, v in res["phase_s"].items()))
    calib = res["calibration_ms"]
    print(f"calibration_ms start={calib[0]:.1f} middle={calib[1]:.1f} end={calib[-1]:.1f}")
    print(f"workload={a.workload} seed={a.seed} passes={res['passes']} "
          f"ops_per_pass={res['ops_per_pass']} timed_ops={len(res['ops'])} "
          f"peak_heap_mb={res['peak_heap_mb']:.0f}")
    spec = json.load(open(os.path.join(BENCH, "..", "BENCHMARK.json")))
    if a.trace:
        print("self time per layer, ms per traced op: " + ", ".join(
            f"{k}={v:.2f}" for k, v in sorted(res.get("self_ms", {}).items())))
        print("time no layer accounts for, ms per traced op: " + ", ".join(
            f"{k}={v:.2f}" for k, v in unaccounted_by_op(res, work).items()))
        metrics = per_layer(res, spec)
    else:
        # Only the metrics BENCHMARK.json gates go into the result; the wall-
        # time figures its README explains leaving out are printed beside.
        metrics = end_to_end(res)
        gated = {m["name"] for m in spec["end_to_end"]}
        for k, (v, u) in metrics.items():
            if k not in gated:
                print(f"  {k} = {v:.4f} {u} (not gated)")
        metrics = {k: v for k, v in metrics.items() if k in gated}
    for k, (v, u) in metrics.items():
        print(f"  {k} = {v:.4f} {u}")
    attempted = len(res["ops"]) + res["ops_per_pass"]
    print(json.dumps({"correct": not bad, "attempted": attempted, "failed": 0,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
