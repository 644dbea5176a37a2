#!/usr/bin/env python3
"""graft benchmark: bulk star load, micro-batch ingest and a dedup corpus.

Run from the repository root:

    python3 perfbench/run.py --workload star_load --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload dedup_corpus --seed 1 --seconds 10 --trace 1
    python3 perfbench/run.py --smoke

The first call builds the library (src/main/scala) and the benchmark
program (perfbench/src) from source with sbt into perfbench/target; later
calls reuse that build while no source file changed. The program runs in one
JVM on local[N], N = $SPARK_GRAFT_CPUS or the processor count. The last
line of stdout is one JSON object: correct, attempted, failed and the
metrics (end-to-end with --trace 0, per-layer with --trace 1).

--smoke runs every workload on tiny inputs in both modes and checks the
JSON shape against BENCHMARK.json.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
LIB = ROOT / "src" / "main" / "scala"
BUILD = HERE / "target" / "bench"
WORKLOADS = ("star_load", "microbatch_ingest", "dedup_corpus")
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 840
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    files = sorted(LIB.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))
    files += [HERE / "build.sbt", HERE / "project" / "build.properties"]
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compile with sbt unless the sources match the last build; return the classpath."""
    if not LIB.is_dir() or not any(LIB.rglob("*.scala")):
        fail(f"library sources not found under {LIB.relative_to(ROOT)}; run from a full checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    stamp = source_stamp()
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "stamp.txt"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    BUILD.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = BUILD / "build.log"
    with open(log, "w") as out:
        try:
            proc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                 "compile", "export Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log}")
    lines = log.read_text().splitlines()
    cp = [l for l in lines if "scala-library" in l and not l.startswith("[")]
    if proc.returncode != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed; see {log}")
    cp_file.write_text(cp[-1].strip())
    stamp_file.write_text(stamp)
    return cp[-1].strip()


def cpus():
    env = os.environ.get("SPARK_GRAFT_CPUS", "")
    return int(env) if env.isdigit() and int(env) > 0 else (os.cpu_count() or 1)


def run_jvm(classpath, workloads, seed, seconds, trace, size):
    """Run the benchmark JVM; return its result lines (one JSON object each)."""
    work = HERE / "work" / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    out = work / "result.jsonl"
    cmd = ["java", "-Xms2g", "-Xmx2g",
           f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dlog4j2.configurationFile=file:{HERE / 'log4j2.properties'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graftbench.Main",
            "--workloads", ",".join(workloads), "--seed", str(seed), "--seconds", str(seconds),
            "--trace", trace, "--cpus", str(cpus()), "--size", size,
            "--work", str(work), "--out", str(out), "--trace-dir", str(HERE / "out")]
    log = HERE / "out" / "jvm.log"
    log.parent.mkdir(parents=True, exist_ok=True)
    try:
        with open(log, "w") as err:
            sys.stdout.flush()
            proc = subprocess.Popen(cmd, stdout=sys.stdout, stderr=err)
            try:
                code = proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                fail(f"benchmark JVM timed out after {JVM_TIMEOUT_S} s; see {log}")
        if code != 0 or not out.exists():
            sys.stderr.write("".join(open(log).readlines()[-40:]))
            fail(f"benchmark JVM exited with {code}; see {log}")
        return [json.loads(l) for l in out.read_text().splitlines() if l.strip()]
    finally:
        shutil.rmtree(work, ignore_errors=True)


def smoke(classpath):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    want = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
            1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    results = run_jvm(classpath, WORKLOADS, 1, 1, "both", "tiny")
    problems = []
    for (name, trace), r in zip([(w, t) for w in WORKLOADS for t in (0, 1)], results):
        if set(r) != {"correct", "attempted", "failed", "metrics"}:
            problems.append(f"{name}/trace={trace}: keys {sorted(r)}")
        if not r.get("correct") or r.get("failed") != 0 or r.get("attempted", 0) < 1:
            problems.append(f"{name}/trace={trace}: correct={r.get('correct')} failed={r.get('failed')}")
        got = {k: v["unit"] for k, v in r.get("metrics", {}).items()}
        if got != want[trace]:
            problems.append(f"{name}/trace={trace}: metrics {sorted(set(got) ^ set(want[trace]))} differ")
    if len(results) != 2 * len(WORKLOADS):
        problems.append(f"expected {2 * len(WORKLOADS)} results, got {len(results)}")
    for p in problems:
        print(f"smoke: {p}", file=sys.stderr)
    print(json.dumps({"smoke": "failed" if problems else "passed", "results": len(results)}))
    return 1 if problems else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, every workload, both modes")
    args = ap.parse_args()
    if not args.smoke and args.workload is None:
        ap.error("--workload is required unless --smoke is given")
    classpath = build()
    if args.smoke:
        return smoke(classpath)
    started = time.time()
    [result] = run_jvm(classpath, [args.workload], args.seed, args.seconds, str(args.trace), "full")
    print(f"[graftbench] run took {time.time() - started:.1f} s", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
