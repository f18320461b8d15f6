#!/usr/bin/env python3
"""graft benchmark: one command runs a named workload from a seed.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload <battery|release_daily|release_bulk>
        --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

The first run builds graft from the checkout's sources together with the
benchmark's own code (perfbench/build.sbt); later runs reuse the build while
the sources are unchanged. Every metric is printed by name with its unit,
then a short summary line, then the result line (one JSON object).
Outputs are checked for correctness: battery results against
SparkEntry.oracleSql in DuckDB, release manifests by the batch ==
incremental law. A wrong output counts as failed and the exit code is 1.
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
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
DATA = os.path.join(HERE, "data", "sf0.01")
WORKLOADS = ("battery", "release_daily", "release_bulk")


# Spark 4 on JDK 17 outside spark-submit (the root build.sbt's list).
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    h = hashlib.sha256()
    for base in (GRAFT_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "project")):
        for d, dirs, files in sorted(os.walk(base)):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    with open(os.path.join(HERE, "build.sbt"), "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles graft and the benchmark once per source state; returns the
    runtime classpath."""
    if not os.path.isdir(os.path.join(GRAFT_SRC, "graft")):
        fail(f"graft sources not found under {GRAFT_SRC}")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are needed to build and run the benchmark")
    digest = sources_digest()
    stamp, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read() == digest:
                with open(cp_file) as fh:
                    return fh.read()
    os.makedirs(BUILD, exist_ok=True)
    t0 = time.time()
    # offline: everything the build needs is local (Spark's jars and the
    # Scala toolchain), and a build must never wait on a network
    env = dict(os.environ, COURSIER_MODE="offline")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840, env=env)
    lines = proc.stdout.splitlines()
    cps = [l for l in lines if "scala-2.13/classes" in l and not l.startswith("[")]
    if proc.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {proc.returncode})")
    with open(cp_file, "w") as fh:
        fh.write(cps[-1].strip())
    with open(stamp, "w") as fh:
        fh.write(digest)
    print(f"[perfbench] built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cps[-1].strip()


def jvm_command(cp, main_class, work):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap and young generation, so the resident set the run
    # reaches depends on the work, not on how the collector sized itself
    cmd = [java, "-Xms3g", "-Xmx3g", "-Xmn2g", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", cp, main_class]


def run_jvm(cp, args, work):
    """Runs perfbench.Main; its stdout/stderr go to files in `work`."""
    cmd = jvm_command(cp, "perfbench.Main", work) + args
    # SparkRunner reads `start` from the environment; the schedule is fixed
    # by the benchmark, so it must not leak in
    env = {k: v for k, v in os.environ.items() if k != "start"}
    with open(os.path.join(work, "jvm.out"), "w") as out, \
            open(os.path.join(work, "jvm.err"), "w") as err:
        proc = subprocess.Popen(cmd, stdout=out, stderr=err, env=env, cwd=work)
        try:
            rc = proc.wait(timeout=170)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            # also on SIGTERM (see main): the JVM never outlives this script
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0:
        with open(os.path.join(work, "jvm.err")) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"benchmark JVM failed ({rc})")


def unit_of(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith(("_mb", "_mb_peak")):
        return "MB"
    if name.endswith(("_frac", "_amp")):
        return "ratio"
    return "count"


def canon(df):
    """tools/compare.py's canonical form: columns by name, lists as
    strings, rows sorted by every column."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].apply(
                lambda v: str(list(v)) if isinstance(v, (list, tuple))
                or str(type(v)).endswith("ndarray'>") else v)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def compare_outputs(out_dir, data_dir):
    """Each battery result against its DuckDB oracle; returns failures."""
    import duckdb
    con = duckdb.connect()
    tmp = os.path.join(os.path.dirname(out_dir), "duckdb-tmp")
    con.execute(f"SET temp_directory='{tmp}'; SET memory_limit='1GB'; SET threads=2")
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(data_dir, f)}'")
    with open(os.path.join(out_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    failures = []
    for name, sql in sorted(oracle.items()):
        part = os.path.join(out_dir, name)
        if not os.path.isdir(part):
            failures.append(f"{name}: no output")
            continue
        try:
            odf = canon(con.sql(sql).df())
            sdf = canon(con.sql(f"SELECT * FROM '{part}/*.parquet'").df())
        except Exception as e:  # an oracle or read error is a failed check
            failures.append(f"{name}: {type(e).__name__}: {e}")
            continue
        if list(sdf.columns) != list(odf.columns) or len(sdf) != len(odf):
            failures.append(f"{name}: shape spark={list(sdf.columns)}x{len(sdf)} "
                            f"oracle={list(odf.columns)}x{len(odf)}")
            continue
        for c in sdf.columns:
            a, b = sdf[c], odf[c]
            bad = a.dtype.kind != b.dtype.kind or \
                (~((a.isna() & b.isna()) | (a.astype(str) == b.astype(str)))).any()
            if bad:
                failures.append(f"{name}: column {c} differs")
                break
    return failures, len(oracle)


def main():
    # a terminated run unwinds through the `finally` that stops the JVM
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    cp = build()
    if a.selftest:
        work = os.path.join(WORK, "selftest")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        run_jvm_selftest(cp, work)
        return
    if a.workload is None or a.seed is None or a.seconds is None:
        ap.error("--workload, --seed and --seconds are required")
    if not os.path.isdir(DATA):
        fail(f"battery tables not found under {DATA}")
    work = os.path.join(WORK, a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    result_file = os.path.join(work, "result.json")
    run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed),
                 "--seconds", str(a.seconds), "--trace", str(a.trace),
                 "--work", work, "--data", DATA, "--out", result_file], work)
    with open(result_file) as fh:
        r = json.load(fh)
    failures = list(r["failures"])
    attempted, failed = r["attempted"], r["failed"]
    if a.workload == "battery":
        bad, n = compare_outputs(os.path.join(work, "out"), DATA)
        failures += bad
        attempted += n
        failed += len(bad)
    for f in failures:
        print(f"[perfbench] FAILED {f}", file=sys.stderr)

    info = r["info"]
    print(f"workload {a.workload} seed {a.seed} passes {r['passes']} "
          f"op_samples {r['op_samples']} warmup_s {r['warmup_s']:.3f} "
          f"check_s {r['check_s']:.3f}")
    for k, v in sorted(info.items()):
        if k != "queries":
            print(f"input {k} {v}")
    # BENCHMARK.json names the metrics each mode reports, with their units
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)["per_layer" if a.trace else "end_to_end"]
    measured = r["per_layer" if a.trace else "end_to_end"]
    missing = [m["name"] for m in spec if m["name"] not in measured]
    if missing:
        fail(f"metrics not measured: {', '.join(missing)}")
    metrics = {m["name"]: {"value": measured[m["name"]], "unit": m["unit"]} for m in spec}
    if a.trace:
        table = os.path.join(work, "layers.txt")
        if os.path.exists(table):
            with open(table) as fh:
                sys.stdout.write(fh.read())
    for k, m in metrics.items():
        print(f"metric {k} {m['value']} {m['unit']}")
    # per-layer numbers of layers only one workload enters (they read 0 on
    # the other) are printed, not put in the result line
    for k, v in measured.items():
        if k not in metrics:
            print(f"metric {k} {v} {unit_of(k)}")
    print(f"metric store_amp {r['store_amp']} ratio")
    print(f"metric failed_frac {failed / max(attempted, 1)} ratio")
    correct = failed == 0
    short = {"workload": a.workload, "seed": a.seed, "correct": correct,
             "failed": failed, "attempted": attempted}
    for k in ("wall_s", "op_p50_s"):
        if k in r["end_to_end"]:
            short[k] = round(r["end_to_end"][k], 4)
    if "largest_self" in r:
        short["largest_self"] = r["largest_self"]
    print(json.dumps(short, separators=(",", ":")))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}, separators=(",", ":")))
    for sub in os.listdir(work):
        if os.path.isdir(os.path.join(work, sub)):
            shutil.rmtree(os.path.join(work, sub), ignore_errors=True)
    sys.exit(0 if correct else 1)


def run_jvm_selftest(cp, work):
    rc = subprocess.run(jvm_command(cp, "perfbench.SelfTest", work), cwd=work,
                        timeout=170).returncode
    sys.exit(rc)


if __name__ == "__main__":
    main()
