#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a graft checkout. The first run compiles graft
and the benchmark with sbt (offline) into the checkout; later runs reuse
that build while the sources are unchanged. Everything a run writes
stays under `.bench_build/` in the checkout: the build stamp and class
path, scratch inputs (deleted at exit), and per-run records in
`.bench_build/runs/` (environment stamp plus result; spans of traced
runs in `.bench_build/traces/`).
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
OUT = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
WORKLOADS = ["pit_build", "curate"]
HEAP = "3g"
MAIN = "perfbench.Main"
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170

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


def source_files():
    """Every file whose change must trigger a rebuild."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for d in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        if os.path.isdir(d):
            files += [os.path.join(d, f) for f in os.listdir(d)
                      if f.endswith((".sbt", ".properties", ".scala"))]
    for r in roots:
        for dirpath, _, names in os.walk(r):
            files += [os.path.join(dirpath, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def source_stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout
    and wait until it has ended."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)

    def stop(signum, _frame):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    return p.returncode, out, err


def classpath():
    """Compile graft and the benchmark if the sources changed since the
    last build in this checkout; return the runtime class path."""
    stamp_file = os.path.join(OUT, "build.stamp")
    cp_file = os.path.join(OUT, "classpath.txt")
    stamp = source_stamp()
    if os.path.isfile(stamp_file) and os.path.isfile(cp_file):
        with open(stamp_file) as f, open(cp_file) as g:
            cp = g.read().strip()
            if f.read().strip() == stamp and all(os.path.exists(e) for e in cp.split(os.pathsep)):
                return cp
    os.makedirs(OUT, exist_ok=True)
    log("building graft and the benchmark with sbt")
    t0 = time.time()
    rc, out, _ = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
        text=True)
    lines = [line for line in out.splitlines() if line.strip()]
    if rc != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(out)
        raise SystemExit(f"sbt build failed (exit {rc})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp + "\n")
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    log(f"build took {time.time() - t0:.1f}s")
    return cp


def fs_type(path):
    best, kind = "", "unknown"
    with open("/proc/mounts") as f:
        for line in f:
            parts = line.split()
            if len(parts) >= 3 and path.startswith(parts[1]) and len(parts[1]) > len(best):
                best, kind = parts[1], parts[2]
    return kind


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_ticks():
    """This machine's (busy, steal) clock ticks so far, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[0] + v[1] + v[2] + v[5] + v[6], v[7]


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        raise SystemExit("no graft sources next to perfbench/; run from a graft checkout")

    cp = classpath()
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(OUT, "work", f"{tag}-{os.getpid()}")
    spans = os.path.join(OUT, "traces", f"{tag}.jsonl")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    stamp = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "nproc": os.cpu_count(), "spark_master": "local[1]", "xmx": HEAP,
        "scratch": os.path.relpath(work, ROOT), "scratch_fs": fs_type(work),
        "loadavg_start": loadavg(), "git_commit": git_commit(),
    }
    ticks0 = cpu_ticks()
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", cp, MAIN, "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work] +
           (["--spans", spans] if a.trace else []))
    try:
        rc, out, _ = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdout=subprocess.PIPE,
                               stdin=subprocess.DEVNULL, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [line for line in out.splitlines() if line.strip()]
    for line in lines[:-1]:
        print(line, file=sys.stderr)
    result = None
    if rc == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    stamp["loadavg_end"] = loadavg()
    # the share of this machine's CPU time that the hypervisor gave to
    # other guests while this one had work to run; it slows every op
    busy, steal = (b - a for a, b in zip(ticks0, cpu_ticks()))
    stamp["steal_pct"] = round(100.0 * steal / max(1, busy + steal), 1)
    log("stamp " + json.dumps(stamp))
    if result is None or set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise SystemExit(f"benchmark JVM failed (exit {rc})")
    os.makedirs(os.path.join(OUT, "runs"), exist_ok=True)
    with open(os.path.join(OUT, "runs", f"{tag}.json"), "w") as f:
        json.dump({"stamp": stamp, "result": result}, f, indent=1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
