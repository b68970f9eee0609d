#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last line.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload cdc-live --seed 1 --seconds 20 --trace 0

The first run in a checkout builds the program (the repository's main
sources plus the benchmark harness, `perfbench/build.sbt`) with sbt; later
runs reuse the build while the sources are unchanged. The workload runs in
one JVM, which writes a self-describing artifact to
`perfbench/.work/artifacts/` and prints its metrics; this script adds the
JVM's peak resident memory and keeps exactly the metrics `BENCHMARK.json`
declares for the mode: `end_to_end` with `--trace 0`, `per_layer` with
`--trace 1` (a layer a workload does not run reads 0).

Exit status: 0 when every output was correct, 1 when a check failed or
the workload did not finish, 2 when the checkout cannot be built.
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
STAMP_DIR = os.path.join(HERE, "target", "perfbench")
WORK = os.path.join(HERE, ".work")
WORKLOADS = ["cdc-live", "suite-sf0.01"]
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
HEAP = "3g"

# Spark on JDK 17 outside spark-submit needs these (the same list as the
# repository's build.sbt javaOptions).
OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


CHILD = None  # the running workload JVM, stopped if this script is


def stop_child(signum, _frame):
    if CHILD is not None and CHILD.poll() is None:
        os.killpg(CHILD.pid, signal.SIGKILL)
        CHILD.wait()
    raise SystemExit(128 + signum)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build compiles or reads, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build(digest):
    """Compiles the program and the harness; returns the runtime classpath."""
    stamp = os.path.join(STAMP_DIR, "stamp")
    cp_file = os.path.join(STAMP_DIR, "classpath")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as s, open(cp_file) as c:
            if s.read() == digest:
                return c.read()
    log("building the program and the benchmark harness with sbt")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S,
        start_new_session=True)
    lines = p.stdout.splitlines()
    cps = [l for l in lines if "scala-2.13/classes" in l and not l.startswith("[")]
    if p.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit(2)
    os.makedirs(STAMP_DIR, exist_ok=True)
    with open(cp_file, "w") as c:
        c.write(cps[-1].strip())
    with open(stamp, "w") as s:
        s.write(digest)
    log(f"built in {time.time() - t0:.1f} s")
    return cps[-1].strip()


def commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown"
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run_jvm(cp, args, work, artifact, digest):
    """Runs the workload JVM; returns (exit code, stdout, peak RSS in MB)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
            "-Dlog4j2.configurationFile=" +
            os.path.join(HERE, "log4j2.properties")]
           + [x for p in OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--bench", HERE, "--artifact", artifact,
              "--commit", commit(), "--source-hash", digest])
    out_path = os.path.join(work, "stdout.log")
    err_path = os.path.join(work, "stderr.log")
    global CHILD
    with open(out_path, "w") as out, open(err_path, "w") as err:
        proc = CHILD = subprocess.Popen(cmd, cwd=ROOT, stdout=out, stderr=err,
                                        start_new_session=True)
        deadline = time.time() + RUN_TIMEOUT_S
        while True:
            pid, status, usage = os.wait4(proc.pid, os.WNOHANG)
            if pid == proc.pid:
                break
            if time.time() > deadline:
                log(f"workload exceeded {RUN_TIMEOUT_S} s; stopping it")
                os.killpg(proc.pid, signal.SIGKILL)
                pid, status, usage = os.wait4(proc.pid, 0)
                break
            time.sleep(0.05)
    proc.returncode = os.waitstatus_to_exitcode(status)
    with open(out_path) as f:
        stdout = f.read()
    if proc.returncode != 0:
        with open(err_path) as f:
            sys.stderr.write("".join(f.readlines()[-60:]))
    return proc.returncode, stdout, usage.ru_maxrss / 1024.0


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, stop_child)

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not (os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))
            and os.path.exists(spec_path)):
        log("no program sources or BENCHMARK.json next to perfbench/; "
            "run from the root of a checkout")
        return 2
    with open(spec_path) as f:
        spec = json.load(f)

    digest = source_hash()
    cp = build(digest)
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(WORK, f"run-{tag}-{os.getpid()}")
    artifact = os.path.join(WORK, "artifacts", f"{tag}.json")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        code, stdout, rss_mb = run_jvm(cp, args, work, artifact, digest)
    finally:
        keep = os.path.join(WORK, "logs", tag)
        shutil.rmtree(keep, ignore_errors=True)
        os.makedirs(os.path.dirname(keep), exist_ok=True)
        for f in ("stdout.log", "stderr.log"):
            if os.path.exists(os.path.join(work, f)):
                os.makedirs(keep, exist_ok=True)
                shutil.move(os.path.join(work, f), os.path.join(keep, f))
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in stdout.splitlines() if l.startswith("PERFBENCH ")]
    if code != 0 or not lines:
        log(f"workload failed (exit {code})")
        return 1
    res = json.loads(lines[-1][len("PERFBENCH "):])
    measured = dict(res["metrics"], peak_rss_mb=rss_mb)
    declared = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {}
    for m in declared:
        v = measured.get(m["name"])
        if v is None:
            if not args.trace:
                log(f"end-to-end metric {m['name']} was not measured")
                return 1
            v = 0.0
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    if os.path.exists(artifact):
        with open(artifact) as f:
            art = json.load(f)
        art["peak_rss_mb"] = rss_mb
        with open(artifact, "w") as f:
            json.dump(art, f)
    print(json.dumps({"correct": bool(res["correct"]),
                      "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))
    return 0 if res["correct"] and res["failed"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
