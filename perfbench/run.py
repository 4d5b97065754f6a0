#!/usr/bin/env python3
"""graft benchmark: one command per workload, run from the repository root.

    python3 perfbench/run.py --workload <loops|assembly> --seed <n> \
        --seconds <s> --trace <0|1>

Builds the program from source on first use (build.py), runs one Spark
session at local[nproc] in one JVM (perfbench/scala), checks every output,
and prints as its last line {"correct", "attempted", "failed", "metrics"}:
the end-to-end metrics of BENCHMARK.json with --trace 0, the per-layer ones
with --trace 1. The line before it records the context of the result.

Workloads (why each exists is in BENCHMARK.json):
  loops     sf0.01 catalog entries that run tens of eager jobs each
  assembly  AssemblyCli's Spark route over a seeded reads TSV
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import build
import oracle
import readsgen
import stats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = build.ROOT
DATA = {"loops": os.path.join(HERE, "data", "sf0.01")}
ORACLE_CACHE = os.path.join(build.OUT, "oracle")
# 4000 path reads make 6001 reads, 2.2 MB: 29x below the 64 MB at which
# AssemblyCli leaves LocalAssembly for the Spark route. On 4 cores a warm
# pass takes about 5.4 s at 2.2 MB, 6.6 s at 4.4 MB and 8.7 s at 8.8 MB.
# The 48 runs of a benchmark check must end within 3420 s next to loops
# runs of about 70 s; ten 4.4 MB runs averaged 65 s, which left under a
# tenth to spare, so the input is the largest size measured that fits.
ASSEMBLY_PATH_READS = 4000
JVM_LIMIT_S = 150  # a run must end within 180 s, oracle checks included


def heap():
    """Driver heap: half of MemTotal in GiB, clamped to 2..8 (the tier-1 test sizing)."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def git_sha():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(cp, args, run_dir, limit_s):
    log_path = os.path.join(run_dir, "jvm.log")
    cmd = ["java", *build.ADD_OPENS, f"-Xmx{heap()}",
           f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}", "-cp", cp, "perfbench.Main", *args]
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        rc = None
        try:
            rc = proc.wait(timeout=limit_s)
        except subprocess.TimeoutExpired:
            pass
        finally:
            if rc is None:  # timed out or interrupted: stop the JVM and wait for it
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if rc != 0:
        with open(log_path, errors="replace") as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise RuntimeError("JVM timed out" if rc is None else f"JVM exited with {rc}")


def check_catalog(record, workload, run_dir):
    """Names of entries whose written output differs from the DuckDB oracle."""
    sqls = record["oracle_sql"]
    con = oracle.connect(DATA[workload])
    wrong = {}
    for name, fp in record["expected"].items():
        if fp is None:
            continue  # failed to run; reported from record["errors"]
        sql = sqls.get(name)
        if not sql:
            wrong[name] = "no oracle SQL"
            continue
        try:
            want = oracle.expected(con, sql, ORACLE_CACHE, DATA[workload], record["stage_root"])
            got = oracle.produced(con, os.path.join(run_dir, "out", "verify", name))
        except Exception as e:  # noqa: BLE001 - any oracle failure is a wrong entry
            wrong[name] = f"oracle check failed: {e}"
            continue
        if got != want:
            wrong[name] = f"output {got} differs from oracle {want}"
    con.close()
    return wrong


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=["loops", "assembly"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    a = ap.parse_args()
    t0 = time.monotonic()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))  # unwind, stopping the JVM

    try:
        fresh = not os.path.exists(build.STAMP)
        cp = build.ensure()
    except build.BuildError as e:
        sys.exit(f"build failed: {e}")
    units = stats.declared()["per_layer" if a.trace else "end_to_end"]

    run_dir = os.path.join(ROOT, ".bench_run", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    try:
        nproc = len(os.sched_getaffinity(0))
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--out", os.path.join(run_dir, "out"), "--cpus", str(nproc)]
        with open(build.STAMP) as fh:
            sources = json.load(fh)["sources"]
        context = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
                   "nproc": nproc, "heap": heap(), "git_sha": git_sha(), "sources_sha256": sources}
        if a.workload == "assembly":
            tsv, source, dest, n_reads = readsgen.generate(a.seed, ASSEMBLY_PATH_READS)
            reads = os.path.join(run_dir, "reads.tsv")
            golden = os.path.join(run_dir, "golden.tsv")
            with open(reads, "w") as fh:
                fh.write(tsv)
            with open(golden, "w") as fh:
                fh.write(readsgen.golden_tsv())
            args += ["--reads", reads, "--source", str(source), "--dest", str(dest), "--golden", golden]
            context.update(reads=n_reads, reads_mb=round(len(tsv) / 1e6, 3))
        else:
            args += ["--data", DATA[a.workload]]
        if fresh:
            t0 = time.monotonic()  # the first run in a checkout may take longer: it builds
        t_jvm = time.monotonic()
        run_jvm(cp, args, run_dir, max(30, JVM_LIMIT_S - (time.monotonic() - t0)))
        t_check = time.monotonic()
        with open(os.path.join(run_dir, "out", "result.json")) as fh:
            record = json.load(fh)

        wrong = dict(record["errors"])
        if a.workload == "assembly":
            if record.get("golden") != readsgen.golden_contig():
                wrong["golden"] = f"3-read sample assembled to {str(record.get('golden'))[:80]!r}"
        else:
            wrong.update(check_catalog(record, a.workload, run_dir))
        context.update(jvm_s=round(t_check - t_jvm, 2), oracle_s=round(time.monotonic() - t_check, 2))
        attempted = failed = 0
        for p in record["passes"]:
            for name, e in p["entries"].items():
                attempted += 1
                if name in wrong or e["fp"] != record["expected"].get(name):
                    failed += 1
                    wrong.setdefault(name, f"pass {p['pass']}: {e['fp']}")
        metrics = stats.per_layer(record) if a.trace else stats.end_to_end(record)
        context.update(pass_s=[round(stats.pass_seconds(p), 4) for p in record["passes"]],
                       step_s=[{n: round(e["s"], 3) for n, e in p["entries"].items()} for p in record["passes"]],
                       heap_mb=[round(p["heap_live_mb"], 1) for p in record["passes"]],
                       jit_s=[round(p["jit_s"], 2) for p in record["passes"]],
                       session_s=record["session_s"], setup_staged_s=record["setup_staged_s"],
                       check_s=record["check_s"],
                       conf=record["conf"],
                       wrong=wrong, all_metrics=metrics)
        line = stats.result_line(metrics, units, correct=not wrong,
                                 attempted=attempted, failed=failed)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    for name, why in wrong.items():
        print(f"wrong: {name}: {why}", file=sys.stderr)
    print(json.dumps(context))
    print(line)


if __name__ == "__main__":
    main()
