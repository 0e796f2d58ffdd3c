#!/usr/bin/env python3
"""The repository's benchmark: one command per workload run.

    python3 perfbench/run.py --workload <queries|lifecycle|dml_small> \\
        --seed <n> --seconds <s> --trace <0|1>

Builds the engine from the checkout's sources (build.py), makes the
workload's inputs from the seed (gen.py), runs one JVM that drives the
workload as a single closed-loop client on local[cores] (src/perfbench),
checks the outputs, and prints every metric by name and unit. The last line
of standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json; with
--trace 1 they are its per-layer ones, read from in-memory spans. Every run's
full result is kept under .bench_build/perfbench/results for compare.py,
tagged with the build and input version it was measured on.
The exit code is non-zero when an output check fails or the run cannot
complete.

Workloads (why each is here is in BENCHMARK.json):
  queries    every fourth declared query and every bench-only twin once,
             forced with a count; declared counts checked against DuckDB.
  lifecycle  dated CSV generations rebuilt into a keyed snapshot-log table:
             ingest, coerce, validate, upsert, delete vanished keys, read
             back, change feed, materialized-view refresh.
  dml_small  small SQL MERGE / UPDATE / DELETE statements with point reads on
             a graft-catalog table.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen    # noqa: E402

WORKLOADS = {"queries": "tables", "lifecycle": "lifecycle", "dml_small": "dml"}
RESULTS = os.path.join(build.BUILD, "results")
JVM_TIMEOUT_S = 150

ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def spec():
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def duckdb_check(inputs, result):
    """Each declared entry's count must equal DuckDB's count(*) over the
    entry's oracle SQL on the same parquet files."""
    import duckdb
    # the oracles need no extension; never let one be fetched over the network
    con = duckdb.connect(config={"autoinstall_known_extensions": False})
    tables = os.path.join(inputs, "tables")
    for f in sorted(os.listdir(tables)):
        con.execute(f"CREATE VIEW {f[:-len('.parquet')]} AS "
                    f"SELECT * FROM read_parquet('{os.path.join(tables, f)}')")
    counts = result.get("query_counts", {})
    checks = []
    for name, sql in sorted(result.get("oracle_sql", {}).items()):
        try:
            want = con.execute(f"SELECT count(*) FROM ({sql}) AS oracle").fetchone()[0]
        except Exception as e:  # an oracle that cannot run is a failed check
            checks.append({"name": f"oracle {name}", "ok": False,
                           "detail": f"duckdb: {type(e).__name__}: {e}"[:300]})
            continue
        got = counts.get(name)
        checks.append({"name": f"oracle {name}", "ok": got == want,
                       "detail": "" if got == want else f"spark {got}, duckdb {want}"})
    return checks


def version(classes):
    """What a result was measured on: the build (a hash of the engine's and
    the benchmark's sources, the class directory's name) and the inputs (a
    hash of the generator). Runs compare only within one version."""
    with open(gen.__file__, "rb") as f:
        inputs = hashlib.sha256(f.read()).hexdigest()[:16]
    return {"build": os.path.basename(classes)[len("classes-"):], "inputs": inputs}


def twin_check(seed, twins, ver):
    """Bench-only twins have no oracle: their counts must repeat exactly
    across runs of the same version on the same seed."""
    checks = []
    for path in sorted(glob.glob(os.path.join(RESULTS, f"queries-*-seed{seed}-*.json"))):
        with open(path) as f:
            prev = json.load(f)
        if prev.get("version") != ver:
            continue
        prev = prev.get("twin_counts", {})
        for name, n in sorted(twins.items()):
            if name in prev:
                checks.append({"name": f"twin {name} repeats", "ok": prev[name] == n,
                               "detail": f"{n} now, {prev[name]} in {os.path.basename(path)}"})
    return checks


def run_jvm(classes, args, work, log):
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    cmd = (["java", "-Xmx3g", "-Xss4m", "-XX:-UsePerfData", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dderby.system.home={work}"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp", os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")]),
              "perfbench.Main"] + args)
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work, env=env)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except BaseException:
            p.kill()
            p.wait()
            raise


def main():
    # a terminated run unwinds like an interrupted one, so the JVM (or the
    # compiler) it started is killed and waited for on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    a = ap.parse_args()

    bench = spec()
    classes = build.build()
    ver = version(classes)
    run_dir = os.path.join(build.BUILD, f"run-{os.getpid()}")
    inputs, work = os.path.join(run_dir, "inputs"), os.path.join(run_dir, "work")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in (inputs, work, os.path.join(work, "tmp")):
        os.makedirs(d)
    try:
        kind = WORKLOADS[a.workload]
        t0 = time.monotonic()
        gen.generate(kind, a.seed, os.path.join(inputs, kind))
        gen_s = time.monotonic() - t0
        out = os.path.join(run_dir, "result.json")
        log = os.path.join(run_dir, "jvm.log")
        code = run_jvm(classes, [a.workload, str(a.seconds), str(a.trace), inputs, work, out], work, log)
        if code != 0 or not os.path.exists(out):
            with open(log, errors="replace") as f:
                sys.stderr.write(f.read()[-6000:])
            sys.exit(f"perfbench: JVM exited with code {code}")
        with open(out) as f:
            res = json.load(f)
        if a.workload == "queries":
            res["checks"] += duckdb_check(inputs, res) + twin_check(a.seed, res["twin_counts"], ver)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    m = res["metrics"]
    # input generation is the benchmark's own work, not the program's: it is
    # printed as gen_s and kept out of setup_s
    m["gen_s"] = gen_s
    m["setup_s"] = m["session_s"] + m["warmup_s"] + m["setup_median_s"]
    units = {x["name"]: x["unit"] for x in bench["end_to_end"] + bench["per_layer"]}
    wanted = bench["per_layer"] if a.trace else bench["end_to_end"]
    correct = bool(res["checks"]) and all(c["ok"] for c in res["checks"])

    for f in res["failures"]:
        print(f"FAILED op={f['op']} error={f['error']} message={f['message']}")
    for c in res["checks"]:
        if not c["ok"]:
            print(f"CHECK FAILED {c['name']}: {c['detail']}")
    print(f"workload={a.workload} seed={a.seed} trace={a.trace} "
          f"checks={sum(c['ok'] for c in res['checks'])}/{len(res['checks'])} "
          f"attempted={res['attempted']} failed={res['failed']} "
          f"error_rate={res['failed'] / max(res['attempted'], 1):.4f}")
    for k in sorted(m):
        print(f"{k} {m[k]} {units.get(k, '')}".rstrip())

    os.makedirs(RESULTS, exist_ok=True)
    keep = {k: v for k, v in res.items() if k not in ("oracle_sql", "query_counts")}
    keep["checks"] = [c for c in res["checks"] if not c["ok"]]
    keep.update(seed=a.seed, trace=a.trace, seconds=a.seconds, correct=correct,
                version=ver, time=time.time())
    stem = os.path.join(RESULTS, f"{a.workload}-trace{a.trace}-seed{a.seed}-{int(time.time() * 1000)}")
    spans = keep.pop("spans", None)
    if spans is not None:
        with open(stem + ".spans", "w") as f:
            json.dump(spans, f)
    with open(stem + ".json", "w") as f:
        json.dump(keep, f, indent=1, sort_keys=True)

    line = {"correct": correct, "attempted": int(res["attempted"]),
            "failed": int(res["failed"]),
            "metrics": {x["name"]: {"value": m[x["name"]], "unit": x["unit"]}
                        for x in wanted}}
    print(json.dumps(line))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
