#!/usr/bin/env python3
"""Benchmark of the graft engine, one workload per invocation.

    python3 bench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first call builds the engine and the
benchmark program from the checkout's sources with sbt (offline, Spark
jars from $SPARK_HOME/jars) into .bench_build/; later calls reuse the
build while the sources are unchanged. Each call starts one JVM that runs
the workload closed-loop from a single thread on local[N], N at
most 4 and at most the core count, and checks every output against
ground truth from the seeded generator.

Workloads (see BENCHMARK.json for why each exists): w2v_cli, text_dedup.

The last stdout line is one JSON object {"correct", "attempted", "failed",
"metrics"}: with --trace 0 the end-to-end metrics of BENCHMARK.json, with
--trace 1 its per-layer metrics. The line before it is run metadata (host
anchors, sample counts, the tail percentile used). Exit code 0 only when
every check passed.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = ROOT / ".bench_build"
ENGINE = ROOT / "src" / "main" / "scala"
WORKLOADS = ("w2v_cli", "text_dedup")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these opens.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code):
    print(f"[bench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every input of the build, so an edit triggers a rebuild."""
    h = hashlib.sha256(str(ROOT).encode())
    files = sorted(ENGINE.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))
    files += [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compile engine + benchmark unless the last build saw the same sources;
    returns the runtime classpath."""
    if not (ENGINE / "graft").is_dir():
        die(f"engine sources not found under {ENGINE}; run from a full checkout", 2)
    stamp_file = BUILD / "stamp"
    cp_file = BUILD / "sbt" / "classpath.txt"
    stamp = source_stamp()
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    BUILD.mkdir(exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SPARK_HOME" not in env and shutil.which("spark-submit"):
        env["SPARK_HOME"] = str(Path(shutil.which("spark-submit")).resolve().parent.parent)
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists() and "sbt.repository.config" not in opts:
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    if "-Xmx" not in opts:
        opts += " -Xmx2g"
    env["SBT_OPTS"] = opts.strip()
    log = BUILD / "build.log"
    print("[bench] building engine and benchmark (sbt)...", file=sys.stderr)
    with open(log, "w") as out:
        try:
            rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                                cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0 or not cp_file.exists():
        sys.stderr.write("".join(log.read_text().splitlines(True)[-30:]))
        die(f"build failed (exit {rc}); full log in {log}", 3)
    stamp_file.write_text(stamp)
    return cp_file.read_text().strip()


def run_jvm(classpath, args):
    """Run the workload in one JVM; returns (exit code, stdout lines)."""
    run_dir = BUILD / "runs" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    argfile = run_dir / "classpath.args"
    argfile.write_text(f"-cp {classpath}\n")
    cmd = ["java", f"@{argfile}", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={run_dir / 'tmp'}",
           f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["graftbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", str(run_dir)]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        die(f"{args.workload} did not finish within {RUN_TIMEOUT_S} s", 4)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    return proc.returncode, out.splitlines()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_file = ROOT / "BENCHMARK.json"
    if not spec_file.exists():
        die("BENCHMARK.json not found at the checkout root", 2)
    spec = json.loads(spec_file.read_text())
    classpath = build()
    rc, lines = run_jvm(classpath, args)

    meta, result = None, None
    for line in lines:
        if line.startswith("BENCH_META "):
            meta = json.loads(line[len("BENCH_META "):])
        elif line.startswith("BENCH_RESULT "):
            result = json.loads(line[len("BENCH_RESULT "):])
        else:
            print(line, file=sys.stderr)
    if result is None:
        die(f"{args.workload} printed no result (exit {rc})", rc or 5)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    measured = result["metrics"]
    missing = [m["name"] for m in wanted if measured.get(m["name"]) is None]
    if args.trace:
        # a layer this workload never calls reads 0; the names are listed
        meta["layers_not_called"] = missing
        measured.update({name: 0.0 for name in missing})
    elif missing:
        die(f"{args.workload} did not measure: {', '.join(missing)}", 6)
    print(json.dumps({"meta": meta}))
    print(json.dumps({
        "correct": bool(result["correct"]) and rc == 0,
        "attempted": int(result["attempted"]),
        "failed": int(result["failed"]),
        "metrics": {m["name"]: {"value": measured[m["name"]], "unit": m["unit"]} for m in wanted},
    }))
    sys.stdout.flush()
    sys.exit(0 if rc == 0 and result["correct"] else 1)


if __name__ == "__main__":
    main()
