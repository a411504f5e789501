#!/usr/bin/env python3
"""Run one benchmark run of the graft engine and print its result line.

    python3 perfbench/run.py --workload gas_serving --seed 1 --seconds 18 --trace 0

The first call in a checkout builds: the engine and the harness
(perfbench/harness, its own sbt build), one jar of both, the registry's
input tables (graft.tools.DataGen at sf0.01) and a class-data archive
that shortens each run's JVM start. Build outputs go to $CARGO_TARGET_DIR
(default .bench_build) under the checkout. Each run is then a fresh JVM
(fixed 2 GiB heap, local[N] with N = min(4, nproc)); see README.md.

The last line of stdout is one JSON object with the keys correct,
attempted, failed and metrics: the end-to-end metrics with --trace 0,
the per-layer metrics of a traced run with --trace 1.
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
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
WORKLOADS = ("gas_serving", "registry_mix")
DATA_SF = "0.01"
HEAP = "2g"
# a run must end within 180 s; the JVM gets what is left of that
RUN_LIMIT_S = 170

END_TO_END = {
    "setup_s": "s",
    "run_s": "s",
    "op_p50_ms": "ms",
    "heap_after_gc_mb": "MB",
}
PER_LAYER = {
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.core_util": "ratio",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.output_mb": "MB",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "op.construct_ms": "ms",
    "op.action_ms": "ms",
    "round.upkeep_ms": "ms",
    "jvm.gc_ms": "ms",
    "jvm.gc_count": "count",
    "jvm.process_cpu_s": "s",
    "codegen.compiles": "count",
    "GasPrices.jobs_per_ingest": "count",
    "GasPrices.jobs_per_serve": "count",
    "GasPrices.store_files": "count",
    "Streams.batches": "count",
    "Streams.state_rows_peak": "count",
    "jobs.GasPrices": "count",
    "jobs.Relational": "count",
    "jobs.Windows": "count",
    "jobs.TextAnalysis": "count",
    "jobs.Dedup": "count",
    "jobs.Streams": "count",
}
# what Spark 4 on JDK 17 needs outside spark-submit (the engine's
# build.sbt passes the same list to its forked runs)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def cores():
    return str(max(1, min(4, len(os.sched_getaffinity(0)))))


def source_hash():
    """Fingerprint of everything the build reads from the checkout."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), HARNESS):
        for d, dirs, names in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    files.append(os.path.join(HARNESS, "project", "build.properties"))
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def java_cmd(bd, classpath, extra):
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(bd, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.local.dir={os.path.join(bd, 'tmp')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + extra + ["-cp", classpath]


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true", "-Xmx2g",
                "-XX:-UsePerfData"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts.append(f"-Dsbt.repository.config={repos}")
        env["SBT_OPTS"] = " ".join(opts)
    # the launcher's own `java -version` probe would otherwise write
    # /tmp/hsperfdata_<user>
    env.setdefault("JAVA_TOOL_OPTIONS", "-XX:-UsePerfData")
    return env


def build(bd):
    """Compile, jar, generate the registry tables and train the class-data
    archive, unless the stamp says this source tree was built already."""
    stamp = os.path.join(bd, "stamp")
    want = source_hash()
    if os.path.isfile(stamp) and open(stamp).read() == want:
        return
    log("building (first run in this checkout)")
    t0 = time.time()
    for sub in ("app.jar", "app.jsa", "classpath", "data", "tmp", "train"):
        p = os.path.join(bd, sub)
        if os.path.isdir(p):
            shutil.rmtree(p)
        elif os.path.exists(p):
            os.remove(p)
    os.makedirs(os.path.join(bd, "tmp"), exist_ok=True)
    with open(os.path.join(bd, "sbt.log"), "w") as out:
        r = subprocess.run(
            # --no-server: no server socket under /tmp
            ["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true", "compile",
             "export harness/Runtime/fullClasspath"],
            cwd=HARNESS, env=sbt_env(), stdout=subprocess.PIPE, stderr=out,
            text=True, timeout=700)
    out_lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not out_lines or out_lines[-1].startswith("["):
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("build failed (see sbt output above)")
    entries = out_lines[-1].split(os.pathsep)
    # class-data sharing maps jars only, so the two class trees become one jar
    jar = os.path.join(bd, "app.jar")
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for e in entries:
            if os.path.isdir(e):
                for d, _, names in os.walk(e):
                    for n in sorted(names):
                        f = os.path.join(d, n)
                        z.write(f, os.path.relpath(f, e))
    cp = os.pathsep.join([jar] + [e for e in entries if not os.path.isdir(e)])
    data = os.path.join(bd, "data", f"sf{DATA_SF}")
    env = dict(os.environ, SPARK_GRAFT_CPUS=cores())
    subprocess.run(java_cmd(bd, cp, []) + ["graft.tools.DataGen", data, DATA_SF],
                   cwd=bd, env=env, check=True, timeout=300,
                   stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    # one training run of both workloads records the classes to archive
    subprocess.run(
        java_cmd(bd, cp, [f"-XX:ArchiveClassesAtExit={os.path.join(bd, 'app.jsa')}"])
        + ["graftbench.Main", "--train", "1", "--seed", "0", "--cores", cores(),
           "--out", os.path.join(bd, "train"), "--data", data],
        cwd=bd, check=True, timeout=400,
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    shutil.rmtree(os.path.join(bd, "train"), ignore_errors=True)
    with open(os.path.join(bd, "classpath"), "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(want)
    log(f"built in {time.time() - t0:.0f} s")


def run_jvm(bd, args, out_dir):
    cp = open(os.path.join(bd, "classpath")).read()
    jsa = os.path.join(bd, "app.jsa")
    extra = [f"-XX:SharedArchiveFile={jsa}", "-Xshare:auto"] if os.path.isfile(jsa) else []
    cmd = java_cmd(bd, cp, extra) + [
        "graftbench.Main", "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--cores", cores(), "--out", out_dir,
        "--data", os.path.join(bd, "data", f"sf{DATA_SF}")]
    with open(os.path.join(bd, f"jvm-{args.workload}.log"), "w") as err:
        p = subprocess.Popen(cmd, cwd=bd, stdout=subprocess.PIPE, stderr=err,
                             text=True, start_new_session=True)
        try:
            stdout, _ = p.communicate(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise SystemExit(f"{args.workload}: the JVM did not finish within "
                             f"{RUN_LIMIT_S} s and was killed")
    lines = [l for l in stdout.splitlines() if l.startswith("BENCH_RESULT ")]
    if not lines:
        raise SystemExit(f"{args.workload}: the JVM exited with {p.returncode} "
                         f"and no result (see {err.name})")
    return json.loads(lines[-1][len("BENCH_RESULT "):])


# ---- registry results against DuckDB ---------------------------------

def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df.reset_index(drop=True)


def same_value(a, b):
    import datetime
    import pandas as pd
    if a is b:
        return True
    if pd.isna(a) and pd.isna(b):
        return True
    if pd.isna(a) or pd.isna(b):
        return False
    # parquet DATE reads back as datetime.date, DuckDB's as a Timestamp
    if isinstance(a, datetime.date) or isinstance(b, datetime.date):
        try:
            return pd.Timestamp(a) == pd.Timestamp(b)
        except (TypeError, ValueError):
            return False
    if isinstance(a, float) or isinstance(b, float):
        try:
            return float(a) == float(b)
        except (TypeError, ValueError):
            return False
    return a == b


def mismatch(mine, oracle):
    """Why two result frames differ (column names, row count or a value),
    or None: columns compared by name, rows in sorted order."""
    mine, oracle = canon(mine), canon(oracle)
    if list(mine.columns) != list(oracle.columns):
        return f"columns {list(mine.columns)} vs oracle {list(oracle.columns)}"
    if len(mine) != len(oracle):
        return f"{len(mine)} rows vs oracle {len(oracle)}"
    for c in mine.columns:
        for i, (x, y) in enumerate(zip(mine[c].tolist(), oracle[c].tolist())):
            if not same_value(x, y):
                return f"column {c} row {i}: {x!r} vs oracle {y!r}"
    return None


def corrupt(df):
    """The frame with one value changed: the first cell of the first row."""
    bad = df.copy()
    col = bad.columns[0]
    v = bad.at[0, col]
    bad[col] = bad[col].astype(object)
    if isinstance(v, str):
        bad.at[0, col] = v + "#"
    elif isinstance(v, (int, float)) and not isinstance(v, bool):
        bad.at[0, col] = v + 1
    else:
        bad = bad.iloc[1:]
    return bad


def check_registry(out_dir, data_dir):
    """Compare each warm-up result with DuckDB running the query's oracle
    SQL on the same tables; then feed the comparison one corrupted result
    and require it to be rejected. Returns (problems, self-test misses)."""
    import duckdb
    import pandas as pd
    res = os.path.join(out_dir, "results")
    oracles = json.load(open(os.path.join(res, "oracle_sql.json")))
    con = duckdb.connect()
    for f in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(f)[:-len(".parquet")]
        path = os.path.join(f, "*.parquet") if os.path.isdir(f) else f
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    problems, misses, probe = [], [], None
    for q, sql in sorted(oracles.items()):
        files = glob.glob(os.path.join(res, q, "*.parquet"))
        if not files:
            problems.append(f"{q}: no result written")
            continue
        mine = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        oracle = con.sql(sql).df()
        why = mismatch(mine, oracle)
        if why:
            problems.append(f"{q}: {why}")
        elif probe is None and len(mine):
            probe = (q, mine, oracle)
    log(f"registry: {len(oracles) - len(problems)} of {len(oracles)} results match DuckDB")
    if probe is None:
        misses.append("registry: no non-empty result to corrupt")
    elif mismatch(corrupt(probe[1]), probe[2]) is None:
        misses.append(f"registry: corrupted {probe[0]} accepted")
    return problems, misses


# ----------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        log(f"no engine sources at {ROOT} (build.sbt, src/main/scala/graft)")
        sys.exit(2)

    bd = build_dir()
    os.makedirs(bd, exist_ok=True)
    build(bd)

    out_dir = os.path.join(bd, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    try:
        r = run_jvm(bd, args, out_dir)
        if "e2e" not in r:
            raise SystemExit(f"{args.workload}: set-up did not finish: {r.get('failures')}")
        problems, misses = list(r["problems"]), list(r["selftest_misses"])
        if args.workload == "registry_mix":
            p, m = check_registry(out_dir, os.path.join(bd, "data", f"sf{DATA_SF}"))
            problems += p
            misses += m
        if args.trace:
            spans = os.path.join(out_dir, "spans.jsonl")
            if os.path.isfile(spans):
                dest = os.path.join(bd, "traces", f"{args.workload}-seed{args.seed}.jsonl")
                os.makedirs(os.path.dirname(dest), exist_ok=True)
                shutil.copyfile(spans, dest)
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)

    for f in r["failures"]:
        log(f"failed: {f}")
    for p in problems:
        log(f"wrong output: {p}")
    for m in misses:
        log(f"checker self-test: {m}")
    log(f"operation ms: {json.dumps(r['op_ms'])}")
    log(f"{args.workload} seed {args.seed}: {r['rounds']} rounds, "
        f"run_s(trace={args.trace}) {r['e2e']['run_s']}, "
        f"calibration_ms {r['calibration_ms']}")
    log(f"round ms {[round(x) for x in r['rounds_ms']]}, process CPU ms "
        f"{[round(x) for x in r['rounds_cpu_ms']]}, codegen compiles {r['codegen_compiles']}")

    if args.trace:
        values, units = r["layers"], PER_LAYER
    else:
        values, units = r["e2e"], END_TO_END
    missing = [k for k in units if values.get(k) is None]
    if missing:
        raise SystemExit(f"metrics not produced: {missing}")
    result = {
        "correct": not problems and not misses,
        "attempted": int(r["attempted"]),
        "failed": int(r["failed"]),
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
