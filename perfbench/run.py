#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. It builds the engine and the
benchmark from source (cached by a hash of the sources), generates the
workload's inputs from the seed (cached per seed), runs the workload
in one JVM for S seconds, checks every output, and prints one JSON
line: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. See perfbench/README.md for the workloads and metrics.
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
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import report  # noqa: E402

ROOT = HERE.parent
WORK = ROOT / ".bench_build" / "perfbench"
DEADLINE_S = 170

# Input sizes per workload: trips per staged month, or the scale
# factor of the suite's tables plus document and embedding counts.
WORKLOADS = {
    "elt_monthly": {"trips": 30_000, "months": ["202001", "202002"]},
    "query_mix": {"sf": 0.01, "docs": 500, "vecs": 300},
}

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


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def source_hash():
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for base in (ROOT / "project", HERE / "project"):
        files += sorted(base.glob("*.sbt")) + sorted(base.glob("*.properties"))
    for base in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def build():
    """Compiles engine + benchmark once per source hash; returns the
    runtime classpath."""
    stamp = WORK / "build" / f"classpath-{source_hash()}.txt"
    if stamp.exists():
        return stamp.read_text().strip()
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building engine and benchmark with sbt ...")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, capture_output=True, text=True,
                       stdin=subprocess.DEVNULL, timeout=840)
    lines = [l for l in p.stdout.splitlines() if "perfbench" in l and ".jar" in l
             and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    stamp.parent.mkdir(parents=True, exist_ok=True)
    for old in stamp.parent.glob("classpath-*.txt"):
        old.unlink()
    stamp.write_text(lines[-1].strip())
    log(f"built in {time.time() - t0:.0f} s")
    return lines[-1].strip()


def inputs(workload, seed):
    """Generates (or reuses) the seed's inputs; returns their dir."""
    import gen
    cfg = WORKLOADS[workload]
    base = WORK / "data" / workload
    key = hashlib.sha256(json.dumps(cfg, sort_keys=True).encode()).hexdigest()[:8]
    out = base / f"seed-{seed}-{key}"
    done = out / ".done"
    if not done.exists():
        shutil.rmtree(out, ignore_errors=True)
        t0 = time.time()
        if workload == "elt_monthly":
            for m in cfg["months"]:
                gen.citibike_month(str(out / m), seed, int(m[:4]), int(m[4:]), cfg["trips"])
        else:
            gen.lake_tables(str(out), seed, cfg["sf"], cfg["docs"], cfg["vecs"])
        done.write_text(json.dumps(cfg))
        log(f"generated {workload} inputs for seed {seed} in {time.time() - t0:.1f} s")
    # keep the three most recently used seeds per workload
    done.touch()
    seeds = sorted(base.glob("seed-*"), key=lambda p: (p / ".done").stat().st_mtime
                   if (p / ".done").exists() else 0)
    for old in seeds[:-3]:
        shutil.rmtree(old, ignore_errors=True)
    return out


def heap():
    """JVM heap in GB: a quarter of the machine's memory, 2 to 6 GB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return max(2, min(6, kb // (4 * 1024 * 1024)))
    except (OSError, StopIteration):
        return 3


def run_jvm(classpath, workload, data, out, seconds, trace, seed, n, deadline):
    tmp = out / "tmp"
    tmp.mkdir(parents=True)
    cmd = ["java", f"-Xmx{heap()}g", "-XX:+UseG1GC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={tmp / 'warehouse'}",
        "-Dspark.scheduler.listenerbus.eventqueue.capacity=200000",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dderby.system.home={tmp}",
        "-cp", classpath, "perfbench.Main",
        "--workload", workload, "--data", str(data), "--out", str(out),
        "--seconds", str(seconds), "--trace", "1" if trace else "0",
        "--cores", str(n), "--order-seed", str(seed),
    ]
    if workload == "elt_monthly":
        cmd += ["--months", ",".join(WORKLOADS[workload]["months"])]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(n))
    env.pop("SPARK_GRAFT_SF_DIR", None)
    with open(out / "jvm.log", "w") as errlog:
        proc = subprocess.Popen(cmd, cwd=tmp, env=env, stdout=errlog, stderr=errlog,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            code = proc.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = None
    if code != 0 or not (out / "result.json").exists():
        shutil.copy(out / "jvm.log", WORK / "last-failure.log")
        tail = (out / "jvm.log").read_text(errors="replace")[-3000:]
        sys.stderr.write(tail)
        fail(f"workload JVM {'timed out' if code is None else f'exited with {code}'}")
    return json.loads((out / "result.json").read_text())


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.time() + DEADLINE_S
    if not (ROOT / "build.sbt").exists() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"engine sources not found next to {HERE.name}/ (run from a checkout root)")

    classpath = build()
    # a first build may take long; the timed run still gets its budget
    deadline = max(deadline, time.time() + 150)
    data = inputs(args.workload, args.seed)
    out = WORK / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(out, ignore_errors=True)
    n = cores()
    try:
        t0 = time.time()
        raw = run_jvm(classpath, args.workload, data, out, args.seconds,
                      bool(args.trace), args.seed, n, deadline)
        t1 = time.time()
        cfg = WORKLOADS[args.workload]
        raw["data"] = str(data)
        verdicts = report.check(args.workload, raw, data, out, cfg)
        history = WORK / "history" / f"{args.workload}.json"
        walls = json.loads(history.read_text()) if history.exists() else {}
        base = walls.get(str(args.seed)) or (report.median(list(walls.values())) if walls else None)
        result, detail = report.summarize(args.workload, raw, verdicts, cfg, bool(args.trace),
                                          n, untraced_wall=base)
        if not args.trace and result["failed"] == 0:
            # the base a later traced run measures its overhead against
            walls[str(args.seed)] = detail["end_to_end"]["wall_s"]
            history.parent.mkdir(parents=True, exist_ok=True)
            history.write_text(json.dumps(walls))
        traces = WORK / "traces"
        traces.mkdir(parents=True, exist_ok=True)
        name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
        (traces / f"{name}.json").write_text(json.dumps(detail, indent=1))
        for line in report.describe(detail):
            log(line)
        log(f"jvm {t1 - t0:.1f} s, checks {time.time() - t1:.1f} s")
    finally:
        shutil.rmtree(out, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
