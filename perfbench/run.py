#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds graft and the benchmark
program from source with sbt (offline) and caches the classpath under
`.bench_build/`; later runs rebuild only when a source or build file changed.
Each run gets its own scratch directory (JVM temp dir, Spark local dir,
generated corpus, stores) that is deleted when the run ends.

`--trace 1` reports the per-layer metrics instead of the end-to-end ones and
writes the spans to `.bench_build/spans/`. `--save FILE` appends the result,
tagged with workload, seed and trace mode, to a JSON-lines file that
`perfbench/compare.py` reads.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import compare

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark on JDK 17 outside spark-submit needs the module opens spark-submit
# would inject (the same list graft's own build forks its JVMs with).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file whose change requires a rebuild."""
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, files in os.walk(top):
            for f in files:
                yield os.path.join(d, f)
    for d in (ROOT, os.path.join(ROOT, "project"), BENCH, os.path.join(BENCH, "project")):
        if os.path.isdir(d):
            for f in os.listdir(d):
                if f.endswith((".sbt", ".properties", ".scala")):
                    yield os.path.join(d, f)


def build():
    """Compile graft and the benchmark program; return the runtime classpath."""
    newest = max(os.path.getmtime(p) for p in sources())
    if os.path.exists(CLASSPATH) and os.path.getmtime(CLASSPATH) >= newest:
        with open(CLASSPATH) as f:
            return f.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx2g")
    # sbt's server socket and JVM scratch stay inside the build directory
    sbt_tmp = os.path.join(BUILD, "sbt-tmp")
    os.makedirs(sbt_tmp, exist_ok=True)
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") +
                       f" -Djava.io.tmpdir={sbt_tmp} -XX:-UsePerfData").strip()
    log("building graft and the benchmark program (sbt)")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=sys.stderr, text=True, timeout=BUILD_TIMEOUT_S)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout)
        raise SystemExit(f"perfbench: build failed (sbt exit {p.returncode})")
    cp = lines[-1].strip()
    if not all(os.path.exists(e) for e in cp.split(os.pathsep)[:3]):
        sys.stderr.write(p.stdout)
        raise SystemExit("perfbench: build printed no classpath")
    with open(CLASSPATH, "w") as f:
        f.write(cp + "\n")
    log(f"built in {time.time() - t0:.0f} s")
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--save", help="append the tagged result to this JSON-lines file")
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        log("graft's sources (build.sbt, src/main/scala/graft) are not in the "
            "parent directory of perfbench/; nothing to benchmark")
        return 2
    cp = build()

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    scratch = os.path.join(BUILD, "runs", tag)
    shutil.rmtree(scratch, ignore_errors=True)
    tmp = os.path.join(scratch, "tmp")
    local = os.path.join(scratch, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    spans = None
    if args.trace:
        os.makedirs(os.path.join(BUILD, "spans"), exist_ok=True)
        spans = os.path.join(BUILD, "spans", f"{tag}-{int(time.time())}.json")

    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dlog4j2.configurationFile=" + os.path.join(BENCH, "log4j2.properties"),
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={local}",
            "-cp", cp, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--scratch", scratch]
    if spans:
        cmd += ["--spans", spans]
    env = dict(os.environ, SPARK_LOCAL_DIRS=local)
    for k in list(env):
        if k.startswith("SPARK_GRAFT_"):
            del env[k]  # graft's A/B-probe overrides must not leak into a run

    proc = subprocess.Popen(cmd, cwd=scratch, env=env, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                            start_new_session=True)

    def stop(*_):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
    signal.signal(signal.SIGTERM, lambda *a: (stop(), sys.exit(143)))
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        stop()
        log(f"run exceeded {RUN_TIMEOUT_S} s; stopped")
        return 3
    finally:
        if proc.poll() is None:
            stop()
        shutil.rmtree(scratch, ignore_errors=True)

    lines = [l for l in out.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    if not isinstance(result, dict) or "metrics" not in result:
        log(f"no result (java exit {proc.returncode})")
        return proc.returncode or 4
    if args.save:
        rec = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
               "seconds": args.seconds, "result": result}
        if spans and os.path.exists(spans):
            with open(spans) as f:
                rec["end_to_end_traced"] = json.load(f)["end_to_end"]
            rec["spans"] = os.path.relpath(spans, ROOT)
        with open(args.save, "a") as f:
            f.write(json.dumps(rec) + "\n")
        if args.trace:
            runs = compare.load(args.save).get(args.workload)
            if runs and runs["e2e"]:
                log(f"tracing overhead against {len(runs['e2e'])} untraced runs in "
                    f"{args.save}: " + compare.tracing_overhead(
                        compare.load_spec(), runs["e2e"], runs["traced_e2e"]))
    if spans:
        log(f"spans: {os.path.relpath(spans, ROOT)}")
    print(json.dumps(result), flush=True)
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main())
