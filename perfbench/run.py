#!/usr/bin/env python3
"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload <recommender|queries> \
        --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark main (build.py), makes the inputs
(gen.py), runs one JVM (graftbench.Main) and prints one JSON line as the
last line of stdout: ``correct``, ``attempted``, ``failed`` and the
``end_to_end`` metrics of BENCHMARK.json (``--trace 0``) or its
``per_layer`` metrics (``--trace 1``).

Everything it writes lives under ``.bench_build/perfbench``; each run's
result document is kept there under ``results/``.
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

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402

ROOT = build.ROOT
OUT = build.OUT

# The query tables are fixed (their expected outputs are recorded in
# expected.json); --seed picks the ratings of the recommender workload
# and the op order of the timed passes of the queries workload.
TABLES_SF = 0.01
TABLES_SEED = 20261017
HEAP = "2g"
JVM_LIMIT_S = 165

ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def tables_dir():
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        tag = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.join(OUT, "data", f"tables-sf{TABLES_SF}-seed{TABLES_SEED}-{tag}")
    if not os.path.isdir(d):
        tmp = d + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.tables(tmp, TABLES_SF, TABLES_SEED)
        os.rename(tmp, d)
    return d


def run_jvm(cp, args, work, deadline):
    cmd = [build.java(), f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss8m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}/tmp", "-Dspark.callstack.depth=200",
           "-Dlog4j2.level=WARN"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main"] + args
    env = dict(os.environ, SPARK_GRAFT_ARTIFACT_DIR=os.path.join(work, "artifacts"))
    os.makedirs(os.path.join(work, "tmp"))
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                             start_new_session=True)
        try:
            p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise
    return p.returncode


def main():
    # a SIGTERM unwinds through run_jvm, which then stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--record", action="store_true",
                    help="write the observed query outputs to expected.json instead of checking")
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        sys.exit(f"perfbench: unknown workload {a.workload}")
    wanted = spec["per_layer" if a.trace else "end_to_end"]

    cp = build.build()
    tables = tables_dir()
    work = os.path.join(OUT, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    ratings = os.path.join(work, "ratings")
    if a.workload == "recommender":
        gen.ratings(ratings, a.seed)
    expected = os.path.join(HERE, "expected.json")
    if not a.record:
        with open(expected) as f:
            rec = json.load(f)["tables"]
        if rec != {"sf": TABLES_SF, "seed": TABLES_SEED}:
            sys.exit(f"perfbench: expected.json was recorded for tables {rec}")
    result = os.path.join(work, "result.json")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--tables", tables, "--ratings", ratings,
            "--work", work, "--expected", expected, "--record", "1" if a.record else "0",
            "--out", result]
    try:
        code = run_jvm(cp, args, work, time.time() + JVM_LIMIT_S)
        if code != 0 or not os.path.exists(result):
            with open(os.path.join(work, "jvm.log")) as f:
                sys.stderr.write(f.read()[-8000:])
            sys.exit(f"perfbench: benchmark JVM {'timed out' if code is None else f'exited {code}'}")
        with open(result) as f:
            doc = json.load(f)
        keep = os.path.join(OUT, "results")
        os.makedirs(keep, exist_ok=True)
        tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
        shutil.copy(result, os.path.join(keep, tag + ".json"))
        if a.trace:
            shutil.copy(os.path.join(work, "spans.json"), os.path.join(keep, tag + ".spans.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if a.record:
        tables_key = {"sf": TABLES_SF, "seed": TABLES_SEED}
        ops = {}
        if os.path.exists(expected):
            with open(expected) as f:
                old = json.load(f)
            if old["tables"] == tables_key:
                ops = old["ops"]
        ops.update(doc["info"]["observed"])
        with open(expected, "w") as f:
            json.dump({"tables": tables_key, "ops": ops}, f, indent=1, sort_keys=True)
            f.write("\n")

    got = doc["per_layer" if a.trace else "end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in got]
    if missing:
        sys.exit(f"perfbench: the run did not report {missing}")
    metrics = {m["name"]: {"value": got[m["name"]], "unit": m["unit"]} for m in wanted}
    print(json.dumps({"correct": doc["correct"], "attempted": doc["attempted"],
                      "failed": doc["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
