#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first run builds the engine and the benchmark from source with sbt
(offline) into .bench_build/, and trains a class-data-sharing archive that
every run maps; later runs reuse both while the sources are unchanged. The
run itself is one JVM (perfbench.Main). For the gates_cold workload this
script then compares each gate's verified output with the gate's oracle SQL
in DuckDB. All progress goes to stderr; stdout
ends with one JSON object: correct, attempted, failed, metrics.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(BUILD, "work")
ARCHIVE = os.path.join(BUILD, "classes.jsa")
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 550

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    pats = ["src/main/scala/**/*.scala", "perfbench/src/**/*.scala",
            "perfbench/build.sbt", "perfbench/project/build.properties"]
    files = []
    for p in pats:
        files += glob.glob(os.path.join(ROOT, p), recursive=True)
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_jars():
    """The Spark jar directory the engine's build compiles against (its
    `unmanagedBase`), else $SPARK_HOME/jars."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    jars = m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.path.isdir(jars):
        log(f"no Spark jars at {jars}")
        sys.exit(3)
    return jars


def build():
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    want = stamp()
    if all(map(os.path.exists, (cp_file, stamp_file, ARCHIVE))):
        with open(stamp_file) as f:
            if f.read() == want:
                with open(cp_file) as g:
                    return g.read().strip()
    log("building engine and benchmark with sbt (offline)")
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env["PERFBENCH_SPARK_JARS"] = spark_jars()
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx3g"])
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"]
    try:
        r = subprocess.run(cmd, cwd=HERE, env=env, stdout=sys.stderr,
                           stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        log("build timed out")
        sys.exit(3)
    if r.returncode != 0 or not os.path.exists(cp_file):
        log(f"build failed (exit {r.returncode})")
        sys.exit(3)
    with open(cp_file) as f:
        cp = f.read().strip()
    train_class_archive(cp)
    with open(stamp_file, "w") as f:
        f.write(want)
    return cp


def jvm_cmd(cp, main_args, extra=()):
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           *extra]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", cp, "perfbench.Main", *main_args]


def train_class_archive(cp):
    """One short dashboard run that dumps the classes it loaded into a
    class-data-sharing archive; every run maps it instead of loading and
    verifying those classes again. It is part of the build: if training
    fails, the build fails, so no run is measured without the archive."""
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    log("training the class-data-sharing archive")
    work = os.path.join(BUILD, "train")
    cmd = jvm_cmd(cp, ["--workload", "dashboard", "--seed", "0",
                       "--seconds", "0", "--trace", "0", "--work", work],
                  [f"-XX:ArchiveClassesAtExit={ARCHIVE}"])
    try:
        r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.DEVNULL,
                           stderr=subprocess.DEVNULL, timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        log("archive training timed out")
        sys.exit(3)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0 or not os.path.exists(ARCHIVE):
        log(f"archive training failed (exit {r.returncode})")
        sys.exit(3)


def run_jvm(cp, args):
    # -Xshare:on: a JVM that cannot map the archive exits instead of
    # running without it
    cmd = jvm_cmd(cp, ["--workload", args.workload, "--seed", str(args.seed),
                       "--seconds", str(args.seconds), "--trace", str(args.trace),
                       "--work", WORK],
                  ["-Xshare:on", f"-XX:SharedArchiveFile={ARCHIVE}"])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        log("benchmark JVM timed out")
        sys.exit(4)
    if proc.returncode != 0:
        log(f"benchmark JVM exited {proc.returncode}")
        sys.exit(4)
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if not lines:
        log("benchmark JVM printed no result")
        sys.exit(4)
    return json.loads(lines[-1])


# --------------------------------------------------------------- oracle
def _norm(table):
    cols = sorted(table.column_names)
    rows = list(zip(*[table.column(c).to_pylist() for c in cols])) if cols else []
    return cols, sorted(rows, key=lambda r: tuple((x is None, str(x)) for x in r))


def _same(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return str(a) == str(b)
        if math.isnan(fa) and math.isnan(fb):
            return True
        return abs(fa - fb) <= 1e-9 * max(1.0, abs(fa), abs(fb))
    return a == b


def check_gates(work):
    """Compare each verified gate output with its oracle SQL in DuckDB;
    returns a list of mismatch descriptions."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq
    data = os.path.join(work, "gates-data")
    out = os.path.join(work, "gates-out")
    con = duckdb.connect()
    for t in ("documents", "orders", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data}/{t}.parquet/*.parquet')")
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracles = json.load(f)
    problems = []
    for gate, sql in sorted(oracles.items()):
        files = glob.glob(os.path.join(out, gate, "*.parquet"))
        if not files:
            problems.append(f"{gate}: no verified output")
            continue
        spark = pa.concat_tables([pq.read_table(f) for f in files])
        try:
            duck = con.execute(sql).fetch_arrow_table()
        except Exception as e:  # noqa: BLE001 - report, not crash
            problems.append(f"{gate}: oracle error {e}")
            continue
        s_cols, s_rows = _norm(spark)
        d_cols, d_rows = _norm(duck)
        if s_cols != d_cols:
            problems.append(f"{gate}: columns {s_cols} != oracle {d_cols}")
        elif len(s_rows) != len(d_rows):
            problems.append(f"{gate}: {len(s_rows)} rows != oracle {len(d_rows)}")
        elif not all(_same(a, b) for sr, dr in zip(s_rows, d_rows)
                     for a, b in zip(sr, dr)):
            problems.append(f"{gate}: values differ from oracle")
        else:
            log(f"oracle ok: {gate} ({len(s_rows)} rows)")
    return problems


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        log("no engine sources (src/main/scala) next to perfbench/: nothing to build")
        sys.exit(2)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        log(f"unknown workload {args.workload}")
        sys.exit(2)

    cp = build()
    shutil.rmtree(WORK, ignore_errors=True)
    res = run_jvm(cp, args)

    attempted, failed = int(res["attempted"]), int(res["failed"])
    notes = list(res.get("notes", []))
    if os.path.exists(os.path.join(WORK, "gates-out", "oracle_sql.json")):
        problems = check_gates(WORK)
        if problems:
            notes += problems
            failed = attempted
    if args.trace:
        traces = os.path.join(BUILD, "traces")
        os.makedirs(traces, exist_ok=True)
        shutil.copy(os.path.join(WORK, "trace.json"), os.path.join(
            traces, f"{args.workload}-seed{args.seed}.json"))

    # a traced run reports 0 for the layers its workload does not exercise;
    # an untraced run must measure every end-to-end metric
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics, missing = {}, []
    for m in wanted:
        v = res["metrics"].get(m["name"], 0.0 if args.trace else None)
        if not isinstance(v, (int, float)) or not math.isfinite(v):
            missing.append(m["name"])
            v = 0.0
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    if missing:
        notes.append(f"not measured: {', '.join(missing)}")
    for n in notes:
        log(f"note: {n}")
    correct = failed == 0 and not missing and attempted > 0
    shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": max(1, attempted),
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
