#!/usr/bin/env python3
"""The lake benchmark for graft.

    python3 perfbench/run.py --workload commit_log --seed 1 --seconds 20 --trace 0

Run from the root of a source tree. The first run builds the benchmark and
graft from source with sbt (offline) and caches the classpath under
`.bench_build/`; later runs start the JVM directly. One run sets up its
workload several times, measures one closed loop for `--seconds`, checks
every answer, and prints the run context, the workload's own metrics, and
as its last line one JSON object with the metrics that BENCHMARK.json names:
the end-to-end ones untraced (`--trace 0`), the per-layer ones traced
(`--trace 1`). It exits non-zero when any check fails.

`--sf` scales every input (0.1 by default); `--perturb 1` perturbs every
check's expected value, so that every check must fail.
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
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "perfbench-classpath.txt")
FINGERPRINT = os.path.join(BUILD, "perfbench-fingerprint.txt")
BUILD_LIMIT_S = 720
HEAP = "3g"

# Spark 4 on JDK 17 outside spark-submit needs these (the same list the
# graft build passes to its forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads, relative to ROOT."""
    out = []
    for top, deep in (("build.sbt", False), ("project", False),
                      ("src/main", True), ("perfbench/build.sbt", False),
                      ("perfbench/project", False), ("perfbench/src", True)):
        p = os.path.join(ROOT, top)
        if os.path.isfile(p):
            out.append(top)
            continue
        for d, dirs, files in os.walk(p):
            if not deep:
                dirs[:] = []
            out += [os.path.relpath(os.path.join(d, f), ROOT) for f in files
                    if f.endswith((".scala", ".java", ".sbt", ".properties"))]
    return sorted(out)


def fingerprint():
    h = hashlib.sha256()
    for rel in sources():
        h.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(fp):
    """Compile graft and the benchmark with sbt, offline."""
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline",
               JAVA_TOOL_OPTIONS="-XX:-UsePerfData")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env:
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true"
                           + (f" -Dsbt.repository.config={repos}"
                              if os.path.exists(repos) else "") + " -Xmx3g")
    log = os.path.join(BUILD, "perfbench-build.log")
    tmp = os.path.join(BUILD, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep sbt's own state and scratch inside the checkout
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true",
           f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}",
           f"-Dsbt.ivy.home={os.path.join(BUILD, 'ivy2')}",
           "-Dsbt.server.autostart=false", f"-Djava.io.tmpdir={tmp}",
           f"-Djna.tmpdir={tmp}", "writeClasspath"]
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=HERE, env=env, stdout=out,
                             stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                             start_new_session=True)
        rc = wait(p, BUILD_LIMIT_S)
    cp = os.path.join(HERE, "target", "runtime-classpath.txt")
    if rc != 0 or not os.path.exists(cp):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"build failed (exit {rc}); log in {log}")
    shutil.copyfile(cp, CLASSPATH)
    with open(FINGERPRINT, "w") as f:
        f.write(fp)


def wait(p, limit):
    """Wait for `p` and its process group; kill both past `limit` s, or
    when this process is told to stop."""
    def stop(signum, frame):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        sys.exit(128 + signum)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        return p.wait(timeout=max(limit, 1))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    finally:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def alive(pid):
    try:
        os.kill(pid, 0)
        return True
    except ProcessLookupError:
        return False
    except PermissionError:
        return True


def git_commit(fp):
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    return "source-sha256:" + fp[:16]


def main():
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    for need in (spec_path, os.path.join(ROOT, "build.sbt"),
                 os.path.join(ROOT, "src", "main", "scala", "graft")):
        if not os.path.exists(need):
            fail(f"{os.path.relpath(need, ROOT)} is missing: run from the "
                 "root of a graft source tree")
    with open(spec_path) as f:
        spec = json.load(f)

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=0.1)
    ap.add_argument("--perturb", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t0 = time.monotonic()

    fp = fingerprint()
    built = False
    if not (os.path.exists(CLASSPATH) and os.path.exists(FINGERPRINT)
            and open(FINGERPRINT).read() == fp):
        build(fp)
        built = True
    with open(CLASSPATH) as f:
        cp = f.read().strip()

    cores = min(4, len(os.sched_getaffinity(0)))
    runs = os.path.join(BUILD, "runs")
    for old in os.listdir(runs) if os.path.isdir(runs) else []:
        if not alive(int(old.rsplit("-", 1)[-1])):
            shutil.rmtree(os.path.join(runs, old), ignore_errors=True)
    run_dir = os.path.join(runs, f"{a.workload}-{a.seed}-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    result = os.path.join(run_dir, "result.json")
    log = os.path.join(BUILD, f"perfbench-{a.workload}.log")
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens",
                                                        f"{p}=ALL-UNNAMED")]
           + [f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
              "-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--sf", str(a.sf), "--cores", str(cores),
              "--perturb", str(a.perturb),
              "--root", os.path.join(run_dir, "work"), "--out", result,
              "--commit", git_commit(fp)])
    # a limit that grows with the run length, so that it catches hangs
    # rather than slow runs; 20 s runs end within 180 s in all
    limit = ((BUILD_LIMIT_S if built else 0) + 110 + 3 * a.seconds
             - (time.monotonic() - t0))
    try:
        with open(log, "w") as out:
            p = subprocess.Popen(cmd, cwd=run_dir, stdout=out,
                                 stderr=subprocess.STDOUT,
                                 stdin=subprocess.DEVNULL,
                                 start_new_session=True)
            rc = wait(p, limit)
        if rc is None:
            fail(f"{a.workload} did not finish within {limit:.0f} s; log in "
                 f"{log}", 3)
        if rc != 0 or not os.path.exists(result):
            with open(log) as f:
                sys.stderr.write("".join(f.readlines()[-60:]))
            fail(f"{a.workload} exited {rc}; log in {log}", 3)
        with open(result) as f:
            r = json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    # every run appends its record; a traced run also keeps its spans
    record = {k: r[k] for k in ("context", "checks", "end_to_end", "summary",
                                "per_layer", "attempted", "failed")}
    with open(os.path.join(BUILD, "perfbench-records.jsonl"), "a") as f:
        f.write(json.dumps(record, sort_keys=True) + "\n")
    if a.trace:
        with open(os.path.join(BUILD, f"perfbench-spans-{a.workload}-seed"
                               f"{a.seed}.json"), "w") as f:
            json.dump({"context": r["context"], "spans": r["spans"]}, f)

    section, names = (("per_layer", [m["name"] for m in spec["per_layer"]])
                      if a.trace else
                      ("end_to_end", [m["name"] for m in spec["end_to_end"]]))
    got = r[section]
    missing = [n for n in names if n not in got]
    if missing:
        fail(f"{a.workload} did not report {', '.join(missing)}", 4)
    ratio = r["failed"] / r["attempted"]
    print("context " + json.dumps(r["context"], sort_keys=True))
    for c in r["checks"]:
        print(f"check {c['name']}: {'ok' if c['ok'] else 'FAILED'} "
              f"({c['detail']})")
    if not a.trace:
        shown = dict(r["summary"])
        shown["op_fail_ratio"] = {"value": ratio, "unit": "ratio"}
        for k in ("setup_s", "live_heap_mb"):
            shown[k] = got[k]
        for k, v in shown.items():
            print(f"metric {a.workload}.{k} = {v['value']:.6g} {v['unit']}")
    print(json.dumps({"correct": bool(r["correct"]),
                      "attempted": int(r["attempted"]),
                      "failed": int(r["failed"]),
                      "metrics": {n: got[n] for n in names}}))
    sys.exit(0 if r["correct"] else 1)


if __name__ == "__main__":
    main()
