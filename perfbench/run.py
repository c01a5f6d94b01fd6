#!/usr/bin/env python3
"""Benchmark runner for cardanospark: one workload per invocation.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload cardano_etl --seed 1 --seconds 20 --trace 0

It builds the program and the benchmark from source with sbt (once per
source state; the classpath is kept under .bench_build/), makes the
workload's inputs (the seed picks cardano_etl's starting height;
admission_stream's corpus is fixed and the seed is only recorded), runs
one JVM with a 4-core local Spark session, checks the outputs, and prints
one JSON result as the last line of stdout:

    {"correct": true, "attempted": 1, "failed": 0, "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (see perfbench/README.md). Hidden options used by the
smoke test: --scale smoke (small inputs) and --fail-op 1 (adds one op
that fails, which must be counted and never timed).
"""
import argparse
import contextlib
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

from corpus import CORPUS_SEED, make_corpus

WORKLOADS = ("cardano_etl", "admission_stream")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 850

BENCH_DIR = Path(__file__).resolve().parent

# Same module opens as the root build's javaOptions (Spark on JDK 17).
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


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def run_bounded(cmd, cwd, env, limit_s, out_path):
    """Runs cmd with stdout+stderr to out_path; kills its process group
    when it outlives limit_s. Returns (returncode, stdout text)."""
    with open(out_path, "w") as err:
        proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                                stderr=err, text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=limit_s)
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise
    return proc.returncode, out


def source_stamp(root):
    """Hash of every input of the build: the root build definition and
    main sources, and the benchmark's own build and sources."""
    h = hashlib.sha256()
    inputs = [root / "build.sbt"]
    for base in (root / "project", BENCH_DIR / "project"):
        inputs += [p for p in base.glob("*") if p.suffix in (".sbt", ".scala", ".properties")]
    inputs.append(BENCH_DIR / "build.sbt")
    for src in (root / "src" / "main", BENCH_DIR / "src"):
        inputs += [p for p in src.rglob("*") if p.is_file()]
    for p in sorted(inputs):
        if p.is_file():
            h.update(str(p.relative_to(root)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def classpath(root, build):
    """The runtime classpath, building first when the sources changed."""
    stamp = source_stamp(root)
    cp_file, stamp_file = build / "classpath.txt", build / "classpath.stamp"
    if stamp_file.exists() and stamp_file.read_text() == stamp and cp_file.exists():
        cp = cp_file.read_text().strip()
        if all(Path(e).exists() for e in cp.split(os.pathsep)):
            return cp
    log("building the program and the benchmark with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "export Runtime/fullClasspath"]
    t0 = time.time()
    try:
        rc, out = run_bounded(cmd, BENCH_DIR, env, BUILD_LIMIT_S, build / "build.log")
    except subprocess.TimeoutExpired:
        fail(f"build took over {BUILD_LIMIT_S} s; see {build / 'build.log'}", 1)
    lines = [l for l in out.splitlines() if l.strip()]
    if rc != 0 or not lines or str(BENCH_DIR) not in lines[-1]:
        with open(build / "build.log", "a") as f:
            f.write(out)
        fail(f"build failed (rc={rc}); see {build / 'build.log'}", 1)
    cp = lines[-1].strip()
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


def prime_page_cache(cp):
    """Reads every file on the classpath once, so that the JVM's cold start
    does not depend on whether the host still holds the jars in its page
    cache (a stall that would otherwise land in the timed ops)."""
    for entry in cp.split(os.pathsep):
        p = Path(entry)
        for f in [p] if p.is_file() else (f for f in p.rglob("*") if f.is_file()):
            with open(f, "rb") as fh:
                while fh.read(1 << 20):
                    pass


def oracle_check(data_dir, out_dir):
    """Compares each Spark result under out_dir with its DuckDB oracle SQL
    over the input tables, with tools/check_oracle.py itself (its report
    goes to stderr). Returns True when every result matches."""
    sys.path.insert(0, str(Path.cwd() / "tools"))
    import check_oracle
    with contextlib.redirect_stdout(sys.stderr):
        return check_oracle.main(str(data_dir), str(out_dir)) == 0


def heap():
    """The tier-1 test heap: half the RAM, clamped to 2-8 GiB."""
    try:
        kb = next(int(l.split()[1]) for l in open("/proc/meminfo") if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--scale", default="full", choices=("full", "smoke"), help=argparse.SUPPRESS)
    ap.add_argument("--fail-op", default="0", choices=("0", "1"), help=argparse.SUPPRESS)
    args = ap.parse_args()
    # a terminated run still stops its sbt or JVM child (see run_bounded)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = Path.cwd().resolve()
    if not (root / "build.sbt").is_file() or not (root / "src" / "main" / "scala").is_dir():
        fail(f"{root} is not a checkout of the program (no build.sbt or src/main/scala)")
    if root not in BENCH_DIR.parents:
        fail(f"run from the checkout root that holds {BENCH_DIR.name}/")

    build = root / os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    if not build.resolve().is_relative_to(root):
        build = root / ".bench_build"
    build.mkdir(parents=True, exist_ok=True)
    cp = classpath(root, build)

    t_start = time.time()
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}-{args.scale}"
    work = build / "runs" / tag
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    data = work / "data"
    if args.workload == "admission_stream":
        make_corpus(data, CORPUS_SEED, n=120 if args.scale == "smoke" else 500)

    java = [
        "java", *[a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-Djava.awt.headless=true", f"-Dderby.stream.error.file={work / 'derby.log'}",
        "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={work / 'tmp'}", f"-Xmx{heap()}",
        "-cp", cp, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", args.trace, "--scale", args.scale,
        "--data", str(data), "--out", str(work / "out"), "--fail-op", args.fail_op,
    ]
    prime_page_cache(cp)
    jvm_log = build / "logs" / f"{tag}.log"
    jvm_log.parent.mkdir(exist_ok=True)
    try:
        rc, out = run_bounded(java, work, dict(os.environ), RUN_LIMIT_S - (time.time() - t_start),
                              jvm_log)
    except subprocess.TimeoutExpired:
        fail(f"run took over {RUN_LIMIT_S} s; see {jvm_log}", 1)
    # relay the benchmark's own messages (failed ops and checks, with reasons)
    for line in open(jvm_log, errors="replace"):
        if line.startswith("[perfbench]"):
            sys.stderr.write(line)
    lines = out.splitlines()
    info = next((l for l in lines if l.startswith("perfbench-info ")), None)
    res = next((l for l in lines if l.startswith("perfbench-result ")), None)
    if rc != 0 or res is None:
        sys.stderr.write("".join(open(jvm_log).readlines()[-40:]))
        fail(f"benchmark JVM failed (rc={rc}); see {jvm_log}", 1)
    result = json.loads(res[len("perfbench-result "):])

    if (work / "out" / "oracle_sql.json").exists():
        try:
            ok = oracle_check(data, work / "out")
        except Exception as e:  # a broken result or oracle is a failed check
            log(f"check failed: oracle comparison raised {e!r}")
            ok = False
        if not ok:
            log("check failed: a result differs from its DuckDB oracle")
        result["correct"] = bool(result["correct"] and ok)
    spans = work / "out" / "spans.jsonl"
    if spans.exists():
        (build / "traces").mkdir(exist_ok=True)
        shutil.copy(spans, build / "traces" / f"{tag}.jsonl")
    shutil.rmtree(work, ignore_errors=True)

    print(info)
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
