#!/usr/bin/env python3
"""graft benchmark: one run of one workload in a fresh JVM.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the library and the
benchmark code from source (sbt, offline) into perfbench/target and records the
classpath under perfbench/.build; later runs rebuild only when a source
file changed. Each run works in a fresh perfbench/.work directory.

Prints one summary line per figure (with its sample count), then, as the
last line, the JSON result: end-to-end metrics with --trace 0, per-layer
metrics with --trace 1 (names listed in BENCHMARK.json).

Every process the run starts, however deep, ends before it exits: the script
makes itself their reaper, so a process whose parent is gone (Spark's Python
data-source daemon outlives the JVM by a few seconds) is stopped and waited
for on every path out.
"""
import argparse
import ctypes
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(BENCH, ".build")
WORK = os.path.join(BENCH, ".work")
HOME = os.path.expanduser("~")
DATA = os.environ.get("GRAFT_BENCH_DATA", os.path.join(HOME, "testdata", "sf0.1"))
WORKLOADS = ["lineage-fetch", "engine-core"]
RUN_LIMIT_S = 170
HEAP = "4g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


PR_SET_CHILD_SUBREAPER = 36


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def adopt_descendants():
    """Make this process the parent of every orphaned descendant, so
    stop_descendants can find and wait for it."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        fail(f"prctl(PR_SET_CHILD_SUBREAPER) failed: {os.strerror(ctypes.get_errno())}")


def children():
    me, pids = os.getpid(), []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # The fields after the parenthesised command are: state, ppid, ...
        if int(stat.rsplit(")", 1)[1].split()[1]) == me:
            pids.append(int(d))
    return pids


def stop_descendants(grace_s=5.0):
    """Stop every process still running under this one and wait for each:
    SIGTERM first, SIGKILL after grace_s. Killing a process hands its own
    children to this one, so repeat until none is left."""
    deadline = time.time() + grace_s
    while True:
        kids = children()
        if not kids:
            return
        sig = signal.SIGTERM if time.time() < deadline else signal.SIGKILL
        for pid in kids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.1)
        for pid in kids:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass


def on_term(signum, _frame):
    # Turn a stop request into SystemExit so that main's finally runs.
    sys.exit(128 + signum)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the library and the benchmark code when a source changed.
    Returns the runtime classpath and whether it compiled."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no library sources next to the benchmark (expected src/main/scala)")
    if not os.path.isdir(os.path.join(os.environ.get("SPARK_HOME", ""), "jars")):
        fail("SPARK_HOME must point at a Spark installation")
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    stamp = source_hash()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip(), False
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g "
                   f"-Dsbt.repository.config={os.path.join(HOME, '.sbt', 'repositories')}")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if "scala-2.13" in l and "classes" in l
             and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip(), True


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted((tuple(r[i] for i in order) for r in rows), key=repr), [cols[i] for i in order]


def oracle_check(results_dir):
    """Compare each written query result with its DuckDB oracle on the
    same fixtures. Returns {name: problem} for every mismatch."""
    import duckdb
    with open(os.path.join(results_dir, "names.json")) as f:
        names = json.load(f)
    with open(os.path.join(results_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    con.execute(f"SET threads={max(1, os.cpu_count() or 1)}")
    for t in ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"]:
        p = os.path.join(DATA, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    bad = {}
    for name in names:
        res = os.path.join(results_dir, name)
        if name not in oracle:
            bad[name] = "no oracle SQL"
            continue
        if not os.path.isdir(res):
            bad[name] = "no result written"
            continue
        try:
            got = con.execute(f"SELECT * FROM '{res}/*.parquet'")
            g, gc = canon(got.fetchall(), [d[0] for d in got.description])
            exp = con.execute(oracle[name])
            e, ec = canon(exp.fetchall(), [d[0] for d in exp.description])
        except Exception as ex:  # a broken result or oracle is a failed check
            bad[name] = f"compare error: {ex}"
            continue
        if gc != ec:
            bad[name] = f"columns {gc} vs {ec}"
        elif g != e:
            diff = next((i for i, (a, b) in enumerate(zip(g, e)) if a != b), min(len(g), len(e)))
            bad[name] = f"{len(g)} vs {len(e)} rows, first difference at row {diff}"
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t_start = time.time()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found at the repository root")
    with open(spec_path) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    if not os.path.exists(os.path.join(DATA, "lineitem.parquet")):
        fail(f"fixture tables not found under {DATA}")
    cp, compiled = build()
    if compiled:
        # A run that builds may take longer; the time limit covers the
        # JVM alone.
        t_start = time.time()

    shutil.rmtree(WORK, ignore_errors=True)
    work = os.path.join(WORK, f"{a.workload}-{a.seed}")
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-cp", cp, "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", DATA, "--work", work, "--out", out])
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=max(10, RUN_LIMIT_S - (time.time() - t_start)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("run exceeded its time limit")
    if code != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"JVM exited with {code}")
    with open(out) as f:
        res = json.load(f)

    failures = list(res["failures"])
    failed = res["failed"]
    if a.workload == "engine-core":
        # A query fails once, whether it broke in the run or disagrees
        # with its oracle.
        broken = {s.split(":")[0].split(" ")[0] for s in failures}
        mismatches = oracle_check(os.path.join(work, "results"))
        failures += [f"{n}: oracle mismatch: {p}" for n, p in sorted(mismatches.items())]
        failed = len(broken | set(mismatches))
    attempted = res["attempted"]
    metrics = res["metrics"]
    metrics["correct_share"] = {"value": 1.0 - failed / attempted, "unit": "share",
                                "n": attempted, "note": "operations whose output passed its check"}
    metrics["failed_share"] = {"value": failed / attempted, "unit": "share", "n": attempted,
                               "note": "expected rejections answered with a 400 count as correct"}

    for s in failures[:20]:
        print(f"FAILED {s}")
    ctx = res["context"]
    print(f"host: cores={ctx['cores']} heap_max_mb={ctx['heap_max_mb']} "
          f"calibration_s={ctx['calibration_s']:.3f} seed={a.seed} "
          f"commit={commit() or 'unknown'} source={source_hash()[:12]} "
          f"spark={ctx['spark']} java={ctx['java']}")
    print(f"setup: session {ctx['session_s']:.3f} s, workload set-ups "
          + ", ".join(f"{x:.3f}" for x in ctx["setup_reps_s"]) + " s")
    for name in sorted(metrics):
        m = metrics[name]
        extra = ", ".join(x for x in [f"n={m['n']}" if m["n"] else "", m["note"]] if x)
        print(f"{a.workload} {name} = {m['value']:.6g} {m['unit']}" + (f"  ({extra})" if extra else ""))

    missing = [m["name"] for m in wanted if m["name"] not in metrics or metrics[m["name"]]["value"] is None]
    if missing:
        fail(f"metrics not measured: {missing}")
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": {m["name"]: {"value": metrics[m["name"]]["value"], "unit": m["unit"]}
                          for m in wanted}}
    print(json.dumps(result))


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, on_term)
    signal.signal(signal.SIGINT, on_term)
    adopt_descendants()
    try:
        main()
    finally:
        stop_descendants()
