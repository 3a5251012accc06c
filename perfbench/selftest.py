#!/usr/bin/env python3
"""Self-test of the benchmark at the tiny scale (about sf0.001).

    python3 perfbench/selftest.py [workload ...]

Runs every workload end to end and expects its output checks to pass,
then runs it again with one expected result deliberately corrupted and
expects the checks to fail. Exits 0 when every expectation holds.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
RUN = os.path.join(HERE, "run.py")
E2E = ["setup_s", "latency_p50_ms", "latency_tail_ms", "throughput_per_s",
       "space_amp", "rss_peak_mb"]


def run(workload, corrupt):
    p = subprocess.run([sys.executable, RUN, "--workload", workload, "--seed", "7",
                        "--seconds", "3", "--trace", "0", "--scale", "tiny",
                        "--corrupt", str(corrupt)],
                       cwd=os.path.dirname(HERE), capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        return None, p.stderr[-2000:]
    return json.loads(p.stdout.strip().splitlines()[-1]), p.stdout


def main():
    workloads = sys.argv[1:] or ["etl_ticks", "store_reads", "corpus_ops"]
    bad = []
    for wl in workloads:
        res, out = run(wl, 0)
        ok = (res is not None and res["correct"] and res["failed"] == 0
              and all(m in res["metrics"] for m in E2E))
        print(f"{wl}: clean run {'ok' if ok else 'FAILED'}")
        if not ok:
            bad.append(wl)
            print(out)
        res, out = run(wl, 1)
        caught = res is not None and not res["correct"] and res["failed"] > 0
        print(f"{wl}: corrupted expectation {'caught' if caught else 'NOT caught'}")
        if not caught:
            bad.append(wl + " (corrupt)")
            print(out)
    print("self-test " + ("passed" if not bad else "FAILED: " + ", ".join(bad)))
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
