#!/usr/bin/env python3
"""Lakehouse benchmark: one command runs one workload.

    python3 lakebench/run.py --workload lakehouse_backlog --seed 1 --seconds 15 --trace 0

Builds the engine and the harness from source (sbt, offline, cached by a
hash of the sources), generates the workload's inputs from the seed,
runs the harness in one JVM on local[nproc], checks the program's output
and prints, as the last line of standard output, one JSON object:
{"correct", "attempted", "failed", "metrics"}.  With --trace 0 the metrics
are the end-to-end metrics of BENCHMARK.json, with --trace 1 its per-layer
metrics.  The line before it stamps the host.  See README.md.
"""

import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import catalog_gen  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

CATALOG = "catalog_sf0.1"
WORKLOADS = sorted(gen.SHAPES) + [CATALOG]

BUILD_DIR = os.path.join(HERE, ".build")
WORK_DIR = os.path.join(HERE, ".work")
HARNESS_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
JDK17_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
               "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
               "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
               "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
               "java.base/sun.util.calendar"]


def log(msg):
    print(f"[lakebench] {msg}", file=sys.stderr, flush=True)


def source_files():
    pats = ["build.sbt", "project/*.sbt", "project/build.properties", "src/main/**/*.scala",
            "src/main/**/*.java", "lakebench/build.sbt", "lakebench/project/build.properties",
            "lakebench/src/**/*.scala"]
    files = set()
    for p in pats:
        files.update(glob.glob(os.path.join(ROOT, p), recursive=True))
    return sorted(files)


def source_stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt unless the sources are unchanged;
    return the runtime classpath."""
    stamp = source_stamp()
    stamp_file, cp_file = os.path.join(BUILD_DIR, "stamp"), os.path.join(BUILD_DIR, "classpath")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read(), stamp
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building engine and harness with sbt")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=BUILD_TIMEOUT_S, preexec_fn=_die_with_parent)
    lines = p.stdout.splitlines()
    cp = [ln for ln in lines if ".jar" in ln and not ln.startswith("[")]
    if p.returncode != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise RuntimeError(f"sbt build failed (exit {p.returncode})")
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return cp[-1].strip(), stamp


def git_sha():
    """The checkout's commit, when it is a git work tree."""
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return p.stdout.strip() if p.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


def heap_gb():
    """Half of RAM, clamped to 2..8 GB (the engine's own test sizing)."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
        return min(8, max(2, kb // (2 * 1024 * 1024)))
    except (OSError, StopIteration):
        return 2


def io_probe_mbps(directory, mb=64):
    """Write and fsync `mb` MB in `directory`; recorded only, never gated on."""
    path = os.path.join(directory, "io_probe.bin")
    block = bytes(range(256)) * 4096  # 1 MB, non-zero pattern
    t0 = time.perf_counter()
    with open(path, "wb") as f:
        for _ in range(mb):
            f.write(block)
        f.flush()
        os.fsync(f.fileno())
    dt = time.perf_counter() - t0
    os.remove(path)
    return mb / dt


def _die_with_parent():
    """Child-side: have the kernel kill this process if run.py dies."""
    import ctypes
    import signal
    try:
        ctypes.CDLL(None, use_errno=True).prctl(1, signal.SIGKILL)  # PR_SET_PDEATHSIG
    except (OSError, AttributeError):
        pass


def sweep_stale_runs():
    """Delete work dirs left by runs whose process is gone."""
    for d in glob.glob(os.path.join(WORK_DIR, "run-*")):
        pid = os.path.basename(d).split("-")[1]
        if not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(d, ignore_errors=True)


def java_bin():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def run_harness(classpath, run_dir, main_class, args):
    """Run one harness main in a JVM whose every scratch dir is inside
    run_dir; return the raw records it wrote to run_dir/raw.json, which
    `args` must name as its output file."""
    out = os.path.join(run_dir, "raw.json")
    for d in ("local", "warehouse", "derby", "tmp", "work"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    cmd = [java_bin(), f"-Xmx{heap_gb()}g"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Dspark.local.dir={run_dir}/local",
            f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
            f"-Dderby.system.home={run_dir}/derby",
            f"-Djava.io.tmpdir={run_dir}/tmp",
            "-Dspark.ui.enabled=false",
            # the harness counts committed rows from each query's progress
            "-Dspark.sql.streaming.numRecentProgressUpdates=10000",
            "-cp", classpath, main_class] + [str(x) for x in args]
    log_path = os.path.join(run_dir, "harness.log")
    with open(log_path, "w") as lf:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=lf, stderr=subprocess.STDOUT,
                             preexec_fn=_die_with_parent)
        try:
            rc = p.wait(timeout=HARNESS_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(out):
        with open(log_path, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-60:]))
        raise RuntimeError(f"harness failed ({rc})")
    with open(out) as f:
        return json.load(f)


def check_oracle(fixture, dump):
    """Compare the catalog's correctness dump with the DuckDB oracle using
    the engine's own checker; return its verdict lines and failure count."""
    p = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"), fixture, dump],
                       capture_output=True, text=True, timeout=120)
    lines = p.stdout.splitlines()
    tail = [ln for ln in lines if ln.startswith("FAILURES:")]
    failures = int(tail[-1].split()[1]) if tail else None
    return {"failures": failures, "lines": lines, "stderr": p.stderr[-2000:]}


def per_workload_metrics(names, result, notes):
    """Exactly the metrics BENCHMARK.json lists for this trace level; a
    listed metric this workload does not measure reads 0."""
    got = result["metrics"]
    for k in sorted(set(got) - set(names)):
        notes.append(f"{k}: not listed in BENCHMARK.json, dropped")
    out = {}
    for name, unit in names.items():
        if name in got:
            out[name] = got[name]
        else:
            out[name] = {"value": 0.0, "unit": unit}
    result["metrics"] = out


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    if not (os.path.exists(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        log(f"engine sources not found under {ROOT}")
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    listed = {m["name"]: m["unit"] for m in spec["per_layer" if a.trace else "end_to_end"]}
    classpath, stamp = build()
    cores = len(os.sched_getaffinity(0))
    os.makedirs(WORK_DIR, exist_ok=True)
    sweep_stale_runs()
    run_dir = os.path.join(WORK_DIR, f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(run_dir)
    try:
        inputs = os.path.join(run_dir, "inputs")
        out = os.path.join(run_dir, "raw.json")
        if a.workload == CATALOG:
            catalog_gen.generate(a.seed, inputs)
            manifest = None
            dump = os.path.join(run_dir, "dump")
            os.makedirs(dump)
            io_start = io_probe_mbps(run_dir)
            raw = run_harness(classpath, run_dir, "lakebench.Catalog",
                              [inputs, dump, out, a.seed, a.seconds, a.trace, cores])
            raw["oracle"] = check_oracle(inputs, dump)
        else:
            manifest = gen.generate(a.workload, a.seed, a.seconds, inputs)
            io_start = io_probe_mbps(run_dir)
            raw = run_harness(classpath, run_dir, "lakebench.Harness",
                              [inputs, f"{run_dir}/work", out, a.workload, a.seconds, a.trace, cores])
        io_end = io_probe_mbps(run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    host = dict(raw["host"], nproc=cores, heap=f"{heap_gb()}g", source_sha256=stamp, git_sha=git_sha(),
                io_mbps_start=round(io_start, 1), io_mbps_end=round(io_end, 1))
    result = metrics.compute(raw, manifest, trace=bool(a.trace))
    for c in result.pop("failed_checks"):
        log(f"failed: {c['name']}: {c['detail']}")
    notes = result.pop("notes")
    per_workload_metrics(listed, result, notes)
    notes.append("phases (s): " + ", ".join(f"{k}={v:.1f}" for k, v in raw.get("phases", [])))
    for line in notes:
        log(line)
    print(json.dumps({"host": host}, sort_keys=True))
    print(json.dumps(result, sort_keys=True, allow_nan=False))
    return 0


if __name__ == "__main__":
    sys.exit(main())
