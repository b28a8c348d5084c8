#!/usr/bin/env python3
"""Repository benchmark: a taxi micro-batch stream and a cold corpus
curation run, each through the program's public entry points.

Usage (from the repository root):

    python3 perfbench/run.py --workload etl_stream --seed 1 --seconds 8 --trace 0

Workloads (closed loop, one process, one client):

    etl_stream  `StreamingOps.runTaxiEtlStream` over a watched directory,
                one file dropped per committed micro-batch; the same records
                also go once through the batch path (`Pipeline.run`: trips
                parquet, duplicates CSV, six counters), untimed as the
                stream's reference and, traced, split into ETL stages
    curate      `TextOps.curationTrainingOrder` over a seeded corpus, shards
                written as parquet

The script builds the program together with the harness (sbt, once per
source digest), generates the seeded inputs (cached per seed, generated
twice and compared), computes the expected outputs (the taxi counters the
generator planted; the curated set from the DuckDB oracle SQL the program
ships), runs the harness JVM and prints one JSON line:
`correct`, `attempted`, `failed` and `metrics` -- every end-to-end metric
of BENCHMARK.json with `--trace 0`, every per-layer metric with
`--trace 1`. A fuller artifact (machine, protocol, raw samples, spans)
is written under `perfbench/.work/`.

    python3 perfbench/run.py --self-test

builds the same way and shows that the output checks fire on planted
faults (exit 0 when every check behaves).
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
sys.dont_write_bytecode = True  # leave no cache files in the checkout
sys.path.insert(0, HERE)
import gen  # noqa: E402
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
WORK = os.path.join(HERE, ".work")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
DEADLINE_S = 170  # the whole run, build excluded

# input sizes
STREAM_FILES, STREAM_LINES, STREAM_WARMUP_FILES = 12, 1_000, 1
DOCS_BASE, DOC_COPIES = 500, 3
SELF_TEST_LINES = 5_000

# per-layer metric prefixes each workload measures; the others are not
# measured on it
COMMON_LAYERS = ("session_cache.", "spark.", "jvm.", "io.", "trace.")
OWN_LAYERS = {"etl_stream": ("streaming.", "etl."),
              "curate": ("ext.",)}

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_digest():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(PROGRAM_SRC, "**", "*.scala"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
                   + [os.path.join(HERE, "build.sbt"),
                      os.path.join(HERE, "project", "build.properties")])
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile program + harness with sbt unless this source digest is built."""
    stamp = os.path.join(HERE, "target", "perfbench-build.stamp")
    digest = source_digest()
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return
    log("building program and harness with sbt")
    t0 = time.time()
    env = dict(os.environ)
    # resolve only from the local caches, as the repository's own build does
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos}")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, timeout=850)
    if p.returncode != 0:
        fail("build failed", 3)
    with open(stamp, "w") as fh:
        fh.write(digest)
    log(f"built in {time.time() - t0:.1f} s")


def heap():
    """The heap the repository's test command gives Spark (SPARK_DRIVER_MEM):
    half the machine's memory, clamped to 2..8 GB."""
    try:
        kb = next(int(l.split()[1]) for l in open("/proc/meminfo")
                  if l.startswith("MemTotal:"))
        return f"{min(max(kb // 2097152, 2), 8)}g"
    except (OSError, StopIteration):
        return "2g"


def java_cmd(work, *args):
    spark_jars = os.path.join(os.environ["SPARK_HOME"], "jars", "*")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # scratch files stay in the work dir; -UsePerfData drops the JVM's
    # monitoring file from the system temp dir
    return [java, *opens, f"-Xmx{heap()}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp",
            f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{CLASSES}{os.pathsep}{spark_jars}", *args]


def run_jvm(cmd, deadline):
    """Run one JVM in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=max(deadline - time.time(), 1))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


# ---------------------------------------------------------------- inputs

def twice(fn, *args):
    """Run a generator twice; the outputs must be identical (determinism check)."""
    a, b = fn(*args), fn(*args)
    return a, a == b


def write(path, text):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", newline="") as fh:
        fh.write(text)


def oracle_sql(work, deadline):
    """The program's own DuckDB oracle for curation_training_order."""
    path = os.path.join(HERE, "target", "curation_training_order.sql")
    if not os.path.exists(path):
        code = run_jvm(java_cmd(work, "perfbench.OracleSql", path), deadline)
        if code != 0:
            fail("could not read the oracle SQL from the program", 4)
    return open(path).read()


def curate_expected(rows, corpus, sql):
    """Write documents.parquet and evaluate the oracle over it in DuckDB."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq
    os.makedirs(corpus, exist_ok=True)
    path = os.path.join(corpus, "documents.parquet")
    cols = list(zip(*rows))
    pq.write_table(pa.table({
        "doc_id": pa.array(cols[0], pa.int64()), "text": pa.array(cols[1], pa.string()),
        "lang": pa.array(cols[2], pa.string()), "source": pa.array(cols[3], pa.string()),
        "n_chars": pa.array(cols[4], pa.int64())}), path)
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
        out = con.execute(f"SELECT doc_id, global_pos, shard_id FROM ({sql}) ORDER BY doc_id"
                          ).fetchall()
    finally:
        con.close()
    h = hashlib.sha256()
    for d, p, s in out:
        h.update(f"{d},{p},{s}\n".encode())
    return {"docs": len(rows), "kept": len(out), "digest": h.hexdigest()}


def make_inputs(workload, seed, work, deadline):
    """Generate (or reuse) the seeded inputs; returns (stamp, deterministic)."""
    inp = os.path.join(work, "input")
    manifest = os.path.join(inp, "manifest.json")
    sizes = {"version": gen.VERSION,
             "stream": [STREAM_FILES, STREAM_LINES, STREAM_WARMUP_FILES],
             "docs": [DOCS_BASE, DOC_COPIES]}
    if os.path.exists(manifest):
        m = json.load(open(manifest))
        if m.get("sizes") == sizes:
            return m, True
    shutil.rmtree(inp, ignore_errors=True)
    os.makedirs(inp)
    t0 = time.time()
    if workload == "self_test":
        (text, exp), same = twice(gen.taxi_csv, seed, SELF_TEST_LINES)
        write(os.path.join(inp, "taxi.csv"), text)
        stamp = {"bytes": len(text)}
    elif workload == "curate":
        rows, same = twice(gen.documents, seed, DOCS_BASE, DOC_COPIES)
        exp = curate_expected(rows, os.path.join(inp, "corpus"), oracle_sql(work, deadline))
        stamp = {"docs": len(rows)}
    else:
        (files, cum, whole), same = twice(gen.taxi_stream_files, seed, STREAM_FILES,
                                          STREAM_LINES)
        for i, text in enumerate(files):
            write(os.path.join(inp, "stream", f"part-{i:05d}.csv"), text)
        write(os.path.join(inp, "stream.csv"), whole)
        exp = dict(cum[-1])
        exp.update({"warmup_" + k: v for k, v in cum[STREAM_WARMUP_FILES - 1].items()})
        exp["warmup_files"] = STREAM_WARMUP_FILES
        stamp = {"bytes": sum(len(t) for t in files)}
    write(os.path.join(inp, "expected.json"), json.dumps(exp))
    stamp.update({"sizes": sizes, "seed": seed, "expected": exp,
                  "generate_s": round(time.time() - t0, 3)})
    if same:
        write(manifest, json.dumps(stamp))
    return stamp, same


# ---------------------------------------------------------------- main

def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              capture_output=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def fresh_work(name):
    work = os.path.join(WORK, name)
    for d in ("out", "tmp", "spark-local", "warehouse"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    for f in ("result.json", "spans.json"):
        if os.path.exists(os.path.join(work, f)):
            os.remove(os.path.join(work, f))
    return work


def self_test():
    """Run perfbench.SelfTest over a small seeded taxi input."""
    deadline = time.time() + DEADLINE_S
    work = fresh_work("self_test")
    _, deterministic = make_inputs("self_test", 1, work, deadline)
    if not deterministic:
        fail("input generator is not deterministic", 1)
    code = run_jvm(java_cmd(work, "perfbench.SelfTest", work), deadline)
    if code != 0:
        fail(f"self-test failed (exit {code})", 1)
    log("self-test passed")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--self-test", action="store_true")
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not a.self_test and None in (a.workload, a.seed, a.seconds):
        ap.error("--workload, --seed and --seconds are required")

    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    names = [w["name"] for w in bench["workloads"]]
    if not a.self_test and a.workload not in names:
        fail(f"unknown workload {a.workload}; choose from {names}")
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        fail(f"program sources not found under {os.path.relpath(PROGRAM_SRC, ROOT)}")
    if not os.path.isdir(os.path.join(os.environ.get("SPARK_HOME", ""), "jars")):
        fail("SPARK_HOME must name a Spark installation (its jars/ are the classpath)")
    build()
    if a.self_test:
        return self_test()
    deadline = time.time() + DEADLINE_S

    work = fresh_work(f"{a.workload}-s{a.seed}")
    stamp, deterministic = make_inputs(a.workload, a.seed, work, deadline)
    if not deterministic:
        log("input generator is not deterministic for this seed")

    load0 = os.getloadavg()[0]
    code = run_jvm(java_cmd(work, "perfbench.Harness", a.workload, work,
                            str(a.seconds), str(a.trace)), deadline)
    result_path = os.path.join(work, "result.json")
    if code != 0 or not os.path.exists(result_path):
        fail(f"harness exited with {code}", 5)
    res = json.load(open(result_path))

    section = "per_layer" if a.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in bench[section]}
    own = set(units) if not a.trace else {
        n for n in units if n.startswith(COMMON_LAYERS + OWN_LAYERS[a.workload])}
    if set(res["metrics"]) != own:
        fail("harness metrics do not match the workload's own metrics: "
             f"missing {sorted(own - set(res['metrics']))}, "
             f"unexpected {sorted(set(res['metrics']) - own)}", 6)
    # every per-layer metric is listed in a traced result; those of other
    # workloads' layers read 0 and are named in the artifact
    not_measured = sorted(set(units) - own)
    metrics = {n: {"value": res["metrics"].get(n, 0.0), "unit": u} for n, u in units.items()}

    failed = res["failed"] + (0 if deterministic else 1)
    attempted = res["attempted"] + (0 if deterministic else 1)
    for f in res["failures"]:
        log("check failed: " + f)
    artifact = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "nproc": os.cpu_count(), "load_avg_start": load0, "load_avg_end": os.getloadavg()[0],
        "heap": heap(), "git_commit": git_commit(), "not_measured": not_measured,
        "inputs": stamp, "inputs_deterministic": deterministic,
        "harness": res["artifact"], "failures": res["failures"], "metrics": metrics}
    write(os.path.join(WORK, f"artifact-{a.workload}-s{a.seed}-t{a.trace}.json"),
          json.dumps(artifact, indent=1))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
