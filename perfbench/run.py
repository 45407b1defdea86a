#!/usr/bin/env python3
"""The repository benchmark: one command that builds the engine from the
sources of the tree it sits in, makes the workload's inputs from the seed,
times the workload, checks every output, and prints one JSON result as the
last line of standard output.

    python3 perfbench/run.py --workload corpus_ref --seed 1 --seconds 20 --trace 0

With ``--trace 0`` the metrics are the end-to-end ones of BENCHMARK.json,
with ``--trace 1`` the per-layer ones. The line before the result carries
the run's context: source digest, git commit when there is one, core count,
input sizes and every failure. A failed operation or a wrong output makes
``correct`` false and the exit code 1. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen_corpus  # noqa: E402

WORKLOADS = ("corpus_ref", "query_iterative")
ARTICLES = 200            # corpus_ref: articles per generated corpus
# query workloads: the engine's seed-42 sf0.01 test tables the keys read,
# checked in; the run's seed orders the keys.
FIXTURE = os.path.join(HERE, "fixture", "sf0.01")
JVM_HEAP = "1g"
RUN_LIMIT_S = 170         # whole run, when nothing had to be built
BUILD_LIMIT_S = 880       # whole run, when the engine was (re)built
SOURCES = ["build.sbt", "project/build.properties", "src/main",
           "perfbench/harness/build.sbt", "perfbench/harness/project/build.properties",
           "perfbench/harness/src"]
# Spark on JDK 17 outside spark-submit (as in the engine's build.sbt).
ADD_OPENS = [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_bounded(cmd, log, deadline, cwd, env=None):
    """Runs cmd to completion with its output in `log`; kills its whole
    process group if it outlives the deadline. Returns the exit code."""
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=lf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            die(f"{cmd[0]} timed out; log: {os.path.relpath(log, ROOT)}", 1)
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def tail(path, n=30):
    with open(path, errors="replace") as f:
        return "".join(f.readlines()[-n:])


# ------------------------------------------------------------------ build

def digest_files(paths):
    h = hashlib.sha256()
    for rel in paths:
        full = os.path.join(ROOT, rel)
        files = [full] if os.path.isfile(full) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(full) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode() + b"\0")
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def digest_classes(classpath):
    """Names, sizes and times of every compiled class on the classpath's
    directories: a build by anything else changes it."""
    h = hashlib.sha256()
    for d in classpath.split(os.pathsep):
        if os.path.isdir(d):
            for dirpath, _, files in sorted(os.walk(d)):
                for f in sorted(files):
                    st = os.stat(os.path.join(dirpath, f))
                    h.update(f"{dirpath}/{f}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build(deadline):
    """Compiles the engine and the harness unless the classes on disk are
    the ones this exact source tree last produced. Returns (classpath,
    source digest, whether it built)."""
    src = digest_files(SOURCES)
    stamp_path = os.path.join(WORK, "build.json")
    if os.path.exists(stamp_path):
        with open(stamp_path) as f:
            stamp = json.load(f)
        if stamp["src"] == src and stamp["classes"] == digest_classes(stamp["classpath"]):
            return stamp["classpath"], src, False
        os.remove(stamp_path)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log = os.path.join(WORK, "build.log")
    code = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.supershell=false",
                        "compile", "export Runtime/fullClasspath"],
                       log, deadline, os.path.join(HERE, "harness"), env)
    if code != 0:
        die(f"build failed (exit {code}):\n{tail(log)}", 1)
    with open(log) as f:
        cps = [ln.strip() for ln in f if "scala-2.13" in ln and os.pathsep in ln
               and not ln.startswith("[")]
    if not cps:
        die(f"build printed no classpath:\n{tail(log)}", 1)
    cp = cps[-1]
    with open(stamp_path, "w") as f:
        json.dump({"src": src, "classpath": cp, "classes": digest_classes(cp)}, f)
    return cp, src, True


def cpu_times():
    """(steal, total) jiffies of the machine: steal is time the hypervisor
    gave this VM's CPUs to someone else, which slows every timing."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v)
    except (OSError, IndexError, ValueError):
        return 0, 0


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
    return r.stdout.strip() or None


# ------------------------------------------------------------------ inputs

def corpus_input(seed):
    """A fresh corpus per seed; older corpora are removed."""
    base = os.path.join(WORK, "corpus")
    out = os.path.join(base, f"seed{seed}-n{ARTICLES}")
    meta = os.path.join(out, "meta.json")
    if not os.path.exists(meta):
        if os.path.isdir(base):
            shutil.rmtree(base)
        gen_corpus.generate(seed, ARTICLES, out)
    with open(meta) as f:
        return out, json.load(f)


def fixture_input():
    files = sorted(f for f in os.listdir(FIXTURE) if f.endswith(".parquet"))
    return FIXTURE, {"tables": "sf0.01", "input_bytes": sum(
        os.path.getsize(os.path.join(FIXTURE, f)) for f in files),
        "sha256": {f: checks.file_digest(os.path.join(FIXTURE, f)) for f in files}}


# ------------------------------------------------------------------ main

def main():
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # A terminated run still stops the JVM or build it started.
    for sig in (signal.SIGTERM, signal.SIGHUP):
        signal.signal(sig, lambda *_, s=sig: sys.exit(128 + s))

    for rel in ("build.sbt", "src/main/scala", "perfbench/harness/build.sbt"):
        if not os.path.exists(os.path.join(ROOT, rel)):
            die(f"missing {rel}: run from a full checkout of the repository")
    start = time.monotonic()
    os.makedirs(WORK, exist_ok=True)
    cp, src, built = build(start + BUILD_LIMIT_S - 30)
    deadline = start + (BUILD_LIMIT_S if built else RUN_LIMIT_S)

    if a.workload == "corpus_ref":
        input_dir, meta = corpus_input(a.seed)
    else:
        input_dir, meta = fixture_input()

    run_dir = os.path.join(WORK, "run")
    if os.path.isdir(run_dir):
        shutil.rmtree(run_dir)
    os.makedirs(os.path.join(run_dir, "tmp"))
    log = os.path.join(run_dir, "jvm.log")
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
    steal0, total0 = cpu_times()
    code = run_bounded(
        ["java", *ADD_OPENS, f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={run_dir}/tmp",
         "-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
         "--seconds", str(a.seconds), "--trace", str(a.trace),
         "--input", input_dir, "--work", run_dir],
        log, deadline - 15, run_dir, env)
    steal1, total1 = cpu_times()
    result_path = os.path.join(run_dir, "result.json")
    if code != 0 or not os.path.exists(result_path):
        die(f"harness exited {code}:\n{tail(log)}", 1)
    with open(result_path) as f:
        r = json.load(f)

    # Output checks. Each op whose output is wrong counts as one failure.
    bad = {f["op"] for f in r["failures"]}
    wrong = (checks.corpus(input_dir, run_dir) if a.workload == "corpus_ref"
             else checks.queries(input_dir, run_dir, os.path.join(WORK, "oracle-cache")))
    failures = r["failures"] + [{"op": op, "error": msg} for op, msg in wrong]
    failed = len(r["failures"]) + len({op for op, _ in wrong} - bad)
    attempted = max(1, r["attempted"])

    if a.trace:
        metrics = {k: {"value": v, "unit": checks.unit(k)} for k, v in sorted(r["layers"].items())}
        metrics["failed_ratio"] = {"value": failed / attempted, "unit": "ratio"}
    else:
        metrics = {
            "wall_s": {"value": statistics.median(r["pass_s"]), "unit": "s"} if r["pass_s"] else None,
            "setup_s": {"value": r["setup_s"], "unit": "s"},
            "peak_rss_mb": {"value": r["peak_rss_mb"], "unit": "MB"},
        }
    metrics = {k: v for k, v in metrics.items() if v is not None}

    context = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "commit": git_commit(), "source_sha256": src, "built": built,
        "nproc": r["cores"], "input": meta, "ops": r["ops"],
        "setup_s": r["setup_s"], "pass_s": r["pass_s"], "pass_cpu_s": r["pass_cpu_s"],
        "pass_steal": r["pass_steal"],
        "traced_pass_s": r["traced_pass_s"],
        "op_s": {k: v["seconds"] for k, v in r["op_times"].items()},
        "failed_ratio": failed / attempted, "failures": failures,
        "cpu_steal_share": round((steal1 - steal0) / max(1, total1 - total0), 4),
        "elapsed_s": round(time.monotonic() - start, 3),
    }
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    with open(os.path.join(WORK, "records", f"{a.workload}-seed{a.seed}-trace{a.trace}.json"),
              "w") as f:
        json.dump({"context": context, "metrics": metrics}, f, indent=1)
    if a.trace and os.path.exists(os.path.join(run_dir, "spans.json")):
        shutil.copy(os.path.join(run_dir, "spans.json"),
                    os.path.join(WORK, "records", f"{a.workload}-seed{a.seed}-spans.json"))

    for f in failures:
        print(f"perfbench: FAILED {f['op']}: {f['error']}", file=sys.stderr)
    print(json.dumps({"perfbench": context}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
