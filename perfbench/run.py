#!/usr/bin/env python3
"""Run one benchmark measurement from the root of a checkout.

    python3 perfbench/run.py --workload <copy|query-mix> \
        --seed <n> --seconds <s> --trace <0|1>

Builds the program and the harness from source on first use (sbt, offline),
runs one JVM for the workload, checks the outputs and prints one JSON line:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (see BENCHMARK.json and perfbench/README.md).
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

START = time.monotonic()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
WORKLOADS = ("copy", "query-mix")
CORPUS = os.path.join(HERE, "data", "sf0.01")

sys.path.insert(0, HERE)
import oracle  # noqa: E402

# A run must end within 180 s, or 900 s when it builds first. The JVM gets
# what is left of that, less a margin for the oracle check and clean-up.
RUN_LIMIT_S, BUILD_RUN_LIMIT_S, MARGIN_S = 180, 900, 15
BUILD_LIMIT_S = 600

JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_bounded(cmd, timeout, **kw):
    """subprocess.run in a process group of its own. On timeout, or when
    this script is interrupted, the whole group (sbt's JVM too) is killed
    and reaped before the exception goes on."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        p.wait(timeout=timeout)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p


def source_digest(dirs):
    h = hashlib.sha256()
    for d in dirs:
        for base, subdirs, files in os.walk(d):
            # sbt's own output under the build definition is not source
            subdirs[:] = sorted(n for n in subdirs
                                if n != "target" and not (n == "project" and base.endswith("project")))
            for f in sorted(files):
                p = os.path.join(base, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile program + harness with the benchmark's own sbt build; return
    the runtime classpath and whether it compiled. Rebuilds only when a
    source file changed."""
    program = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(program):
        die("no program sources at src/main/scala: run from the root of a checkout")
    srcs = [program, os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    digest = source_digest(srcs) + hashlib.sha256(
        open(os.path.join(HERE, "build.sbt"), "rb").read()).hexdigest()
    stamp, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath")
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.exists(cp_file):
        return open(cp_file).read().strip(), False
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", LANG="C.UTF-8")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        try:
            r = run_bounded(
                ["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true",
                 "compile", "export Runtime/fullClasspath"],
                BUILD_LIMIT_S, cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=fh,
                stderr=subprocess.STDOUT)
        except subprocess.TimeoutExpired:
            die(f"build did not finish in {BUILD_LIMIT_S} s (log in {log})")
    lines = open(log).read().splitlines()
    cps = [l for l in lines if "scala-2.13/classes" in l and not l.startswith("[")]
    if r.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        die(f"build failed (log in {log})")
    open(cp_file, "w").write(cps[-1].strip())
    open(stamp, "w").write(digest)
    return cps[-1].strip(), True


def cpu_ticks():
    """(steal, total) jiffies from /proc/stat; (0, 0) where it is missing."""
    try:
        f = [int(x) for x in open("/proc/stat").readline().split()[1:]]
        return f[7], sum(f)
    except (OSError, IndexError, ValueError):
        return 0, 0


def run_jvm(cp, args, work, limit_s):
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx2g", "-XX:ReservedCodeCacheSize=512m",
           "-Dfile.encoding=UTF-8", "-Dsun.jnu.encoding=UTF-8",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    data = CORPUS if args.workload == "query-mix" else work
    cmd += ["-cp", cp, "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work,
            "--data", data, "--out", out]
    env = dict(os.environ, LANG="C.UTF-8")
    steal0, total0 = cpu_ticks()
    timeout = START + limit_s - MARGIN_S - time.monotonic()
    with open(os.path.join(work, "jvm.log"), "w") as log:
        try:
            r = run_bounded(cmd, max(timeout, 1), cwd=ROOT, env=env, stdin=subprocess.DEVNULL,
                            stdout=log, stderr=subprocess.STDOUT)
        except subprocess.TimeoutExpired:
            die(f"{args.workload} run stopped after {timeout:.0f} s, "
                f"log in {os.path.join(work, 'jvm.log')}")
    steal1, total1 = cpu_ticks()
    if total1 > total0:
        # time the hypervisor gave this machine's CPUs to others: explains slow runs
        print(f"perfbench: cpu steal during the run {100 * (steal1 - steal0) / (total1 - total0):.0f}%",
              file=sys.stderr)
    if r.returncode != 0 or not os.path.exists(out):
        tail = open(os.path.join(work, "jvm.log"), errors="replace").read().splitlines()[-30:]
        sys.stderr.write("\n".join(tail) + "\n")
        die(f"{args.workload} run failed with exit code {r.returncode}")
    return json.load(open(out))


def main():
    # a terminated run still stops its JVM: SystemExit reaches run_bounded
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        die("BENCHMARK.json not found: run from the root of a checkout")
    spec = json.load(open(spec_path))
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    cp, built = build()
    t_jvm = time.monotonic()
    work = os.path.join(WORK, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res = run_jvm(cp, args, work, BUILD_RUN_LIMIT_S if built else RUN_LIMIT_S)
        t_check = time.monotonic()
        problems = list(res.get("problems", []))
        if args.workload == "query-mix":
            problems += oracle.check(CORPUS, os.path.join(work, "results"),
                                     os.path.join(BUILD, "oracle"))
    finally:
        # the generated trees are large; keep only logs, spans and the result
        for name in os.listdir(work) if os.path.isdir(work) else []:
            p = os.path.join(work, name)
            if os.path.isdir(p):
                shutil.rmtree(p, ignore_errors=True)
    t_end = time.monotonic()
    print(f"perfbench: build {t_jvm - START:.1f} s, jvm {t_check - t_jvm:.1f} s, "
          f"checks and clean-up {t_end - t_check:.1f} s", file=sys.stderr)
    for p in problems:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    if args.trace:
        # the traced run's own end-to-end figures: traced minus untraced is the tracing overhead
        print(f"perfbench: end-to-end while traced: {json.dumps(res.get('e2e', {}))}", file=sys.stderr)
    if res.get("failures"):
        print(f"perfbench: failed operations by error class: {json.dumps(res['failures'])}",
              file=sys.stderr)
    metrics = {}
    for m in wanted:
        v = res["metrics"].get(m["name"])
        if v is None:
            die(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print(json.dumps({"correct": not problems, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
