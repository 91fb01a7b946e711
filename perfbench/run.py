#!/usr/bin/env python3
"""Benchmark of the streaming ETL and its batch operators, one fresh JVM a run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

NAME is summary_stream or catalog_cold. --rate R (summary_stream only)
offers R records/s instead of the default; it is for calibrating the
offered rate (NOTES.md, "Offered rate"), not for benchmark runs.

Run it from the root of a checkout. The first run builds the program and
the benchmark harness from source with sbt (perfbench/build.sbt depends on
the root build) and keeps the classpath under .bench_build/; later runs
reuse it while the sources are unchanged.

--trace 0 prints the end-to-end metrics of BENCHMARK.json, --trace 1 the
per-layer ones, measured in a separate traced run. The last line of stdout is
one JSON object {correct, attempted, failed, metrics}; the line before it
holds the run's metadata. Exits 1 when an output check fails, 2 when the
checkout cannot be built or run. The JVM's log of the last run of each
workload is .bench_build/logs/<workload>-t<trace>.log.

    python3 perfbench/run.py --record-digests

regenerates perfbench/expected_digests.json from the unpermuted catalog
tables in perfbench/data (only needed when the slice or the query list
changes; perfbench/make_slice.py cuts the slice).

See perfbench/NOTES.md for what each workload and metric means.
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
BUILD = os.path.join(ROOT, ".bench_build")
RUNS = os.path.join(ROOT, ".bench_runs")

WORKLOADS = ("summary_stream", "catalog_cold")
# per-layer metric prefixes of layers a workload never calls; they read 0
NOT_CALLED = {
    "summary_stream": ("q.", "catalog."),
    "catalog_cold": ("stream.", "kv.", "ckpt.", "topic.", "gen."),
}
HELD_OUT_SEED = 90210  # kept for confirming later claims; not used while tuning
XMX = "3g"
RUN_LIMIT_S = 172  # a run, after the build, ends within this many seconds
# catalog_cold: the committed slice of sf0.1, one permuted copy per timed
# pass and one for the untimed pass that checks the outputs
DATA = os.path.join(HERE, "data")
CATALOG_PASSES = 2

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_hash():
    """Hash of everything the build compiles, to know when to rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def classpath():
    """Build with sbt when the sources changed; return the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        fail(f"{ROOT} holds no program sources (build.sbt, src/main) to build")
    stamp = source_hash()
    cp_file = os.path.join(BUILD, "classpath.txt")
    os.makedirs(BUILD, exist_ok=True)
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved_stamp, cp = f.read().split("\n", 1)
        if saved_stamp == stamp:
            return cp.strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    log = os.path.join(BUILD, "build.log")
    # a first run, build included, ends within 900 s
    with open(log, "w") as out:
        try:
            rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                                 "export Runtime/fullClasspath"], cwd=HERE, env=env,
                                stdout=out, stderr=subprocess.STDOUT, timeout=700).returncode
        except subprocess.TimeoutExpired:
            fail(f"build did not finish within 700 s; see {log}")
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip()]
    if rc != 0 or not lines or "perfbench" not in lines[-1]:
        fail(f"build failed (sbt exit {rc}); see {log}")
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + lines[-1])
    return lines[-1]


def git_sha():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "none"
    except OSError:
        return "none"


def catalog_tables():
    import pyarrow.parquet as pq
    names = ("orders", "lineitem", "documents", "embeddings")
    if not all(os.path.isfile(os.path.join(DATA, f"{n}.parquet")) for n in names):
        fail(f"catalog tables missing from {DATA}")
    return {n: pq.read_table(os.path.join(DATA, f"{n}.parquet")) for n in names}


def write_copy(tables, out_dir, perm_seed):
    """Write one copy of `tables` to out_dir, rows permuted by perm_seed
    (None keeps the committed order)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    os.makedirs(out_dir, exist_ok=True)
    rng = None if perm_seed is None else np.random.default_rng(perm_seed)
    for name, t in tables.items():
        if rng is not None:
            t = t.take(pa.array(rng.permutation(t.num_rows)))
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


def make_catalog_inputs(run_dir, seed):
    tables = catalog_tables()
    base = os.path.join(run_dir, "catalog")
    write_copy(tables, os.path.join(base, "check"), [seed, CATALOG_PASSES])
    for p in range(CATALOG_PASSES):
        write_copy(tables, os.path.join(base, f"pass-{p}"), [seed, p])
    shutil.copy(os.path.join(HERE, "expected_digests.json"), base)


def run_jvm(cp, args, log_name, run_dir, deadline):
    log = os.path.join(BUILD, "logs", log_name)
    os.makedirs(os.path.dirname(log), exist_ok=True)
    tmp = os.path.join(run_dir, "jvm-tmp")
    os.makedirs(tmp, exist_ok=True)
    # Spark's block manager and every temp file stay inside the run directory
    cmd = (["java", f"-Xmx{XMX}", "-Dspark.ui.enabled=false", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main"] + args)
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=out, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail(f"run exceeded {RUN_LIMIT_S} s; see {log}")
        finally:
            # on a timeout or a signal the JVM goes too, and is waited for
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    return rc, log


def run_once(cp, workload, seed, seconds, trace, rate):
    """One fresh JVM on fresh directories; returns the JVM's result dict.
    Set-up time counts from the JVM's launch: building the program and
    writing the catalog's input copies are not set-up."""
    t_begin = time.time()
    run_dir = os.path.join(RUNS, f"{workload}-s{seed}-t{trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        if workload == "catalog_cold":
            make_catalog_inputs(run_dir, seed)
        out = os.path.join(run_dir, "result.json")
        start_s = time.time()
        args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                "--trace", str(trace), "--run-dir", run_dir,
                "--start-ms", repr(start_s * 1000.0), "--out", out]
        if rate is not None:
            args += ["--rate", str(rate)]
        rc, log = run_jvm(cp, args, f"{workload}-t{trace}.log", run_dir, t_begin + RUN_LIMIT_S)
        if rc != 0 or not os.path.exists(out):
            fail(f"JVM exited {rc} without a result; see {log}")
        with open(out) as f:
            return json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def record_digests(cp):
    run_dir = os.path.join(RUNS, f"digests-{os.getpid()}")
    try:
        write_copy(catalog_tables(), run_dir, None)
        target = os.path.join(HERE, "expected_digests.json")
        rc, log = run_jvm(cp, ["--record-digests", run_dir, target], "record-digests.log", run_dir,
                          time.time() + RUN_LIMIT_S)
        if rc != 0:
            fail(f"recording digests failed; see {log}")
        print(f"wrote {target}")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def main():
    # SIGTERM unwinds like an error: the JVM is killed and the run directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1))
    ap.add_argument("--rate", type=int, help="summary_stream records/s, for calibration")
    ap.add_argument("--record-digests", action="store_true")
    a = ap.parse_args()
    bench_json = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(bench_json):
        fail("BENCHMARK.json not found at the checkout root")
    cp = classpath()
    if a.record_digests:
        record_digests(cp)
        return 0
    if None in (a.workload, a.seed, a.seconds, a.trace):
        ap.error("--workload, --seed, --seconds and --trace are required")
    with open(bench_json) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if a.trace else "end_to_end"]

    result = run_once(cp, a.workload, a.seed, a.seconds, a.trace, a.rate)

    metrics = {}
    for m in wanted:
        got = result["metrics"].get(m["name"])
        if got is None and a.trace and m["name"].startswith(NOT_CALLED[a.workload]):
            got = {"value": 0, "unit": m["unit"]}
        if got is None:
            result["correct"] = False
            result["problems"].append(f"metric {m['name']} was not measured")
            continue
        if got["unit"] != m["unit"]:
            fail(f"metric {m['name']} measured in {got['unit']}, BENCHMARK.json says {m['unit']}")
        metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}

    meta = dict(result["meta"], git_sha=git_sha(), source_sha256=source_hash(),
                xmx=XMX, held_out_seed=str(HELD_OUT_SEED))
    print(json.dumps({"meta": meta, "problems": result["problems"]}))
    for p in result["problems"]:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    print(json.dumps({"correct": result["correct"], "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
