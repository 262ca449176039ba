#!/usr/bin/env python3
"""The SCBF benchmark: one command per workload run.

    python3 perfbench/run.py --workload scan|mutate|pipeline --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the program and
the benchmark driver from source with sbt (perfbench/build.sbt); later
runs reuse the build while the sources are unchanged. Everything the
benchmark writes goes under .bench_build/ in the checkout.

It prints one line per metric (name, value, unit, sample count), a
provenance line, and last one JSON object:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones of a separately traced run. Any wrong answer makes the
exit code 1. See perfbench/NOTES.md for what each workload and metric
means.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".bench_build"
PROGRAM = ROOT / "src" / "main" / "scala" / "graft" / "SparkEntry.scala"
DEADLINE_S = 175          # a run must end within 180 s of starting
BUILD_DEADLINE_S = 850    # the first run of a checkout may take 900 s

sys.path.insert(0, str(HERE))
import metrics  # noqa: E402  (perfbench/metrics.py)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg, code=2):
    log(msg)
    sys.exit(code)


def source_digest():
    """Content hash of everything the build compiles."""
    h = hashlib.sha1()
    roots = [ROOT / "src" / "main", HERE / "src", HERE / "build.sbt",
             HERE / "project" / "build.properties"]
    for r in roots:
        files = [r] if r.is_file() else sorted(p for p in r.rglob("*") if p.is_file())
        for p in files:
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def spark_jars():
    """The Spark jars directory: $SPARK_HOME/jars, else the one beside
    spark-submit."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(Path(os.environ["SPARK_HOME"]) / "jars")
    submit = shutil.which("spark-submit")
    if submit:
        cands.append(Path(submit).resolve().parent.parent / "jars")
    for c in cands:
        if c.is_dir() and any(c.glob("spark-sql_*.jar")):
            return c
    die("no Spark jars found: set SPARK_HOME")


def build(deadline):
    """Compile with sbt unless the stamp says the sources are unchanged.
    Returns the runtime classpath."""
    WORK.mkdir(exist_ok=True)
    stamp = WORK / "build.json"
    digest = source_digest()
    with open(WORK / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if stamp.exists():
            s = json.loads(stamp.read_text())
            if s.get("digest") == digest and all(Path(p).exists() for p in s["classpath"]):
                return s["classpath"], digest
        env = dict(os.environ)
        env["PERFBENCH_SPARK_JARS"] = str(spark_jars())
        env.setdefault("COURSIER_MODE", "offline")
        repos = Path.home() / ".sbt" / "repositories"
        if "SBT_OPTS" not in env and repos.exists():
            env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                               "-Dsbt.offline=true -Xmx2g")
        tmp = WORK / "sbt-tmp"
        tmp.mkdir(exist_ok=True)
        log("building the program and the benchmark driver (sbt)")
        t0 = time.time()
        try:
            out = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                 f"-Djava.io.tmpdir={tmp}", "compile", "export Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, text=True, timeout=max(60, deadline - time.time()),
                start_new_session=True)
        except subprocess.TimeoutExpired:
            die("build timed out")
        if out.returncode != 0:
            sys.stderr.write(out.stdout[-4000:])
            die("build failed")
        lines = [l for l in out.stdout.splitlines() if l and not l.startswith("[")]
        cp = [p for p in lines[-1].split(os.pathsep) if p] if lines else []
        if not cp or not all(Path(p).exists() for p in cp):
            sys.stderr.write(out.stdout[-4000:])
            die("could not read the classpath from sbt")
        archive_classes(cp, deadline)
        stamp.write_text(json.dumps({"digest": digest, "classpath": cp}))
        log(f"built in {time.time() - t0:.1f} s")
        return cp, digest


# Spark 4 on JDK 17 needs these outside spark-submit (the root build's list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


HEAP = "3g"
CDS_ARCHIVE = WORK / "classes.jsa"


def jvm_env():
    """Spark's scratch space stays in the checkout, whatever the caller set."""
    return dict(os.environ, SPARK_LOCAL_DIRS=str(WORK / "data" / "spark-local"))


def java_cmd(classpath, run_dir, jvm_flags, bench_args):
    # a fixed heap: no resizing, so the collector works alike in every run
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={run_dir / 'tmp'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + jvm_flags
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    (run_dir / "tmp").mkdir(parents=True, exist_ok=True)
    return cmd + ["-cp", os.pathsep.join(classpath), "graft.perfbench.Bench"] + bench_args


def archive_classes(classpath, deadline):
    """Part of the build: a JVM class-data archive of the classes a run
    loads, dumped at the exit of a small `mutate` run. It cuts JVM and
    Spark start-up (the Spark session starts in about 2.5 s instead of
    7 s on a 4-core box). A failed dump fails the build."""
    run_dir = WORK / "classes-run"
    shutil.rmtree(run_dir, ignore_errors=True)
    CDS_ARCHIVE.unlink(missing_ok=True)
    cmd = java_cmd(classpath, run_dir, [f"-XX:ArchiveClassesAtExit={CDS_ARCHIVE}"],
                   ["--workload", "mutate", "--seed", "1", "--seconds", "1", "--trace", "0",
                    "--work", str(run_dir / "data"), "--out", str(run_dir / "out.json"),
                    "--scale", "small"])
    log("dumping the class-data archive")
    with open(WORK / "classes-run.log", "w") as jlog:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=jvm_env(), stdout=jlog, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            code = proc.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = -1
    shutil.rmtree(run_dir, ignore_errors=True)
    if code != 0 or not CDS_ARCHIVE.exists():
        sys.stderr.write((WORK / "classes-run.log").read_text(errors="replace")[-4000:])
        die("build failed: no class-data archive")


def cds_used(run_dir):
    """Whether the JVM mapped the class-data archive, from its cds log."""
    logf = run_dir / "cds.log"
    text = logf.read_text(errors="replace") if logf.exists() else ""
    return "Mapped dynamic region" in text and "Unable to use shared archive" not in text


def run_jvm(args, classpath, run_dir, deadline):
    out = run_dir / "result.json"
    flags = [f"-XX:SharedArchiveFile={CDS_ARCHIVE}", f"-Xlog:cds=info:file={run_dir / 'cds.log'}"]
    cmd = java_cmd(classpath, run_dir, flags,
                   ["--workload", args.workload, "--seed", str(args.seed),
                    "--seconds", str(args.seconds), "--trace", str(args.trace),
                    "--work", str(WORK / "data"), "--out", str(out),
                    "--scale", args.scale, "--wrong-answer", "1" if args.wrong_answer else "0"])
    with open(run_dir / "jvm.log", "w") as jlog:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=jvm_env(), stdout=jlog, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            code = proc.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            die("the benchmark JVM ran out of time")
    if code != 0 or not out.exists():
        tail = (run_dir / "jvm.log").read_text(errors="replace")[-6000:]
        sys.stderr.write(tail)
        die(f"the benchmark JVM failed (exit {code})")
    return json.loads(out.read_text())


def loadavg():
    return float(Path("/proc/loadavg").read_text().split()[0])


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    f = [int(x) for x in Path("/proc/stat").read_text().split("\n")[0].split()[1:]]
    return f[7] if len(f) > 7 else 0, sum(f)


def git_head():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=metrics.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "small"), default="full",
                    help="small: sf0.001-sized inputs, for the benchmark's own test")
    ap.add_argument("--wrong-answer", action="store_true",
                    help="plant one wrong expected answer (the benchmark's own test)")
    args = ap.parse_args()

    t0 = time.time()
    if not PROGRAM.exists():
        die(f"program sources not found under {ROOT}: run from a checkout of the repository")
    WORK.mkdir(exist_ok=True)
    # one run at a time per checkout: runs share .bench_build/
    run_lock = open(WORK / "run.lock", "w")
    fcntl.flock(run_lock, fcntl.LOCK_EX)
    load_start = loadavg()
    ticks_start = cpu_ticks()
    classpath, digest = build(t0 + BUILD_DEADLINE_S)
    deadline = time.time() + DEADLINE_S - min(time.time() - t0, 5)
    run_dir = WORK / "run"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    res = run_jvm(args, classpath, run_dir, deadline)

    failures = list(res["failures"])
    failed = res["failed"]
    attempted = res["attempted"]
    if args.workload == "pipeline":
        import oracle  # perfbench/oracle.py
        checked, bad = oracle.compare(WORK / "data" / "pipeline", args.wrong_answer)
        attempted += checked
        failed += len(bad)
        failures += bad

    e2e = res["end_to_end"]
    e2e["failed_frac"] = {"value": failed / attempted, "unit": "ratio", "samples": attempted}
    layer = res["per_layer"]
    names = metrics.PER_LAYER if args.trace else metrics.END_TO_END
    source = layer if args.trace else e2e
    out = {}
    for name, unit in names:
        m = source.get(name)
        # a layer the workload never exercises measured nothing
        value = m["value"] if m is not None and m["value"] is not None else 0.0
        out[name] = {"value": value, "unit": unit}

    shown = dict(out)
    shown["failed_frac"] = e2e["failed_frac"]
    for name, m in shown.items():
        n = source.get(name, e2e.get(name, {})).get("samples")
        extra = f"  (n={n})" if n is not None else ""
        print(f"{args.workload:9s} {name:48s} {m['value']!s:>22} {m['unit']}{extra}")
    for f in failures[:20]:
        print(f"{args.workload:9s} FAILED {f}")
    ticks_end = cpu_ticks()
    provenance = {
        "workload": args.workload, "seed": args.seed, "held_out_seed": metrics.HELD_OUT_SEED,
        "seconds": args.seconds, "trace": args.trace, "scale": args.scale,
        "nproc": len(os.sched_getaffinity(0)), "cpus": res["info"].get("cpus"),
        "load_1m_start": load_start, "load_1m_end": loadavg(),
        "steal_frac": round((ticks_end[0] - ticks_start[0]) / max(1, ticks_end[1] - ticks_start[1]), 4),
        "class_data_archive": cds_used(WORK / "run"),
        "heap": HEAP, "heap_max_mb": res["info"].get("heap_max_mb"),
        "git_head": git_head(), "source_sha1": digest,
        "flush_policy": "local filesystem, page cache, no fsync",
        "info": res["info"],
    }
    print("provenance " + json.dumps(provenance, sort_keys=True))
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": out}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
