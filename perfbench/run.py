#!/usr/bin/env python3
"""graft benchmark.

    python3 perfbench/run.py --workload <etl_ticks|store_reads|corpus_ops>
        --seed <n> --seconds <s> --trace <0|1> [--scale default|tiny] [--corrupt 1]

Builds the benchmark JVM program (perfbench/build.sbt, which compiles the
engine from ../src/main/scala) when its sources changed, runs one workload
in a fresh work directory under .bench_run/, checks its outputs, prints
every metric by name with its unit, and ends with one JSON line:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. --corrupt 1 corrupts one expected result (self-test).
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
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD_DIR = os.path.join(HERE, "target")
CLASSPATH_FILE = os.path.join(BUILD_DIR, "bench.classpath")
CONFIG = os.path.join(HERE, "workloads.json")
E2E = ["setup_s", "latency_p50_ms", "latency_tail_ms", "throughput_per_s",
       "space_amp", "rss_peak_mb"]
RUN_TIMEOUT_S = 175
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Hash of every file the benchmark program is built from."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def run_group(cmd, cwd, timeout, stdout):
    """Run cmd in its own process group; on timeout kill the group and wait."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=sys.stderr,
                         start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build(digest):
    """Compile with sbt unless the classpath of this source digest exists."""
    if os.path.exists(CLASSPATH_FILE):
        with open(CLASSPATH_FILE) as fh:
            stamp, cp = fh.read().split("\n", 1)
        if stamp == digest:
            return cp.strip()
    log("building the benchmark program with sbt")
    out = os.path.join(HERE, "target", "sbt-export.txt")
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(out, "w") as fh:
        rc = run_group(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], HERE, 840, fh)
    lines = open(out).read().splitlines()
    if rc != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit(f"build failed (sbt exit {rc})")
    cp = [l for l in lines if not l.startswith("[") and os.pathsep in l and ".jar" in l][-1]
    with open(CLASSPATH_FILE, "w") as fh:
        fh.write(digest + "\n" + cp)
    return cp


def cpu_ticks():
    """(steal, total) jiffies of all CPUs since boot."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7], sum(f)


def load_avg():
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                               text=True, timeout=10).stdout.strip() or None
    except Exception:
        return None


def check_corpus(work, corrupt):
    """Compare every op's saved output with its oracle SQL run in DuckDB
    over the same parquet inputs (schema + values, rows sorted)."""
    import duckdb
    import pandas as pd

    def norm(df):
        df = df.reindex(sorted(df.columns), axis=1)
        if len(df.columns):
            df = df.sort_values(by=list(df.columns), ignore_index=True)
        return df.reset_index(drop=True)

    con = duckdb.connect()
    con.execute("SET threads=2; SET preserve_insertion_order=false")
    data = os.path.join(work, "data")
    for name in os.listdir(data):
        if name.endswith(".parquet"):
            con.execute(f"CREATE VIEW {name[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(data, name)}/*.parquet')")
    out = os.path.join(work, "out")
    oracle = json.load(open(os.path.join(out, "oracle_sql.json")))
    results = []
    for i, op in enumerate(sorted(oracle)):
        got = pd.read_parquet(os.path.join(out, op))
        want = con.execute(oracle[op]).df()
        if corrupt and i == 0:
            want = want.iloc[1:]
        g, w = norm(got), norm(want)
        problem = None
        if list(g.columns) != list(w.columns):
            problem = f"columns {list(g.columns)} != {list(w.columns)}"
        elif len(g) != len(w):
            problem = f"{len(g)} rows != {len(w)}"
        else:
            for c in g.columns:
                a, b = g[c], w[c]
                try:
                    same = a.equals(b) or (a.astype("float64") - b.astype("float64")).abs().max() == 0.0
                except Exception:
                    same = a.astype(str).equals(b.astype(str))
                if not same:
                    problem = f"column {c} differs"
                    break
        results.append((f"corpus.{op}", problem is None, problem or f"{len(g)} rows match"))
    return results


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", default="default")
    ap.add_argument("--corrupt", type=int, default=0)
    a = ap.parse_args()
    t_start = time.time()
    if not os.path.isdir(ENGINE_SRC):
        raise SystemExit(f"engine sources not found at {ENGINE_SRC}")
    conf = json.load(open(CONFIG))
    if a.workload not in conf or a.scale not in conf["scales"]:
        raise SystemExit(f"unknown workload or scale: {a.workload} {a.scale}")

    digest = source_digest()
    cp = build(digest)
    # fixed-length name: store manifests hold absolute paths, so the path
    # length must not vary between runs
    run_id = hashlib.sha256(f"{a.workload}-{a.seed}-{os.getpid()}".encode()).hexdigest()[:12]
    work = os.path.join(ROOT, ".bench_run", run_id)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    load_before, cpu_before = load_avg(), cpu_ticks()
    try:
        java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
        # The heap grows on demand up to 2 GiB. A fixed young generation,
        # and a GC time goal G1 meets without growing the heap, leave the
        # peak RSS to follow the old generation, the data the program keeps.
        cmd = [java, "-Xmx2g", "-Xmn256m", "-XX:GCTimeRatio=4", f"-Djava.io.tmpdir={work}/tmp",
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
        cmd += [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
        cmd += ["-cp", cp, "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work,
                "--config", CONFIG, "--scale", a.scale, "--corrupt", str(a.corrupt)]
        budget = max(30, RUN_TIMEOUT_S - (time.time() - t_start))
        rc = run_group(cmd, work, budget, sys.stderr)
        if rc != 0:
            raise SystemExit(f"benchmark JVM exited with {rc}")
        res = json.load(open(os.path.join(work, "result.json")))
        checks = [(c["name"], c["ok"], c["detail"]) for c in res["checks"]]
        attempted, failed = res["attempted"], res["failed"]
        if a.workload == "corpus_ops":
            corpus = check_corpus(work, a.corrupt)
            checks += corpus
            for name, ok, _ in corpus:
                if not ok:  # every run of a wrong op is a wrong result
                    failed += int(res["report"].get(f"runs.{name[7:]}", {}).get("value", 1))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    correct = failed == 0 and all(ok for _, ok, _ in checks)
    metrics = res["per_layer"] if a.trace else res["end_to_end"]
    if not a.trace:
        missing = [m for m in E2E if m not in metrics or metrics[m]["value"] is None]
        if missing:
            raise SystemExit(f"metrics missing: {missing}")
    steal, total = (a - b for a, b in zip(cpu_ticks(), cpu_before))
    steal_pct = 100.0 * steal / max(1, total)
    load_after = load_avg()
    nproc = res["provenance"]["nproc"]
    prov = dict(res["provenance"], git_commit=git_commit(), source_digest=digest,
                load_avg_before=load_before, load_avg_after=load_after,
                cpu_steal_pct=round(steal_pct, 2), wall_s=round(time.time() - t_start, 3),
                # a run on a degraded host identifies itself: the host was
                # busy before it started, or other guests took CPU time
                degraded_host=load_before > nproc or load_after > 1.5 * nproc or steal_pct > 5.0)
    print(f"provenance {json.dumps(prov, sort_keys=True)}")
    for name, ok, detail in checks:
        print(f"check {name} {'pass' if ok else 'FAIL'} {detail}")
    for name, m in sorted(res["report"].items()):
        print(f"report {name} {m['value']} {m['unit']}")
    print(f"report failed_ratio {failed / max(1, attempted)} ratio")
    for name, m in sorted(metrics.items()):
        print(f"metric {name} {m['value']} {m['unit']}")
    print(json.dumps({"correct": correct, "attempted": int(attempted), "failed": int(failed),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
