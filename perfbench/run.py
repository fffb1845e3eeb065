#!/usr/bin/env python3
"""Build and run the graft benchmark (see perfbench/README.md).

    python3 perfbench/run.py --workload serve_mixed --seed 1 --seconds 30 --trace 0
    python3 perfbench/run.py --selftest
    python3 perfbench/run.py --diff TRACE_A TRACE_B

Run from the root of a checkout. The program under test is compiled from
`src/main/scala` together with the benchmark's own sources in
`perfbench/src`, with the Scala compiler and the Spark jars the repository
builds against, into `.bench_build/perfbench/`. Everything the benchmark
writes (classes, generated inputs, stores, traces) stays under that
directory. The last stdout line of a workload run is the result JSON.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys

WORK = os.path.join(".bench_build", "perfbench")
WORKLOADS = ("serve_mixed", "store_bulk", "pipeline_ops")


def jar_dir():
    """The jar directory build.sbt compiles against (`unmanagedBase`), or
    $SPARK_HOME/jars; it holds Spark and the Scala compiler."""
    dirs = [os.path.join(os.environ.get("SPARK_HOME", ""), "jars")]
    if os.path.isfile("build.sbt"):
        with open("build.sbt") as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if m:
            dirs.insert(0, m.group(1))
    for d in dirs:
        if os.path.isdir(d) and any(
                n.startswith("scala-compiler") for n in os.listdir(d)):
            return d
    sys.exit("perfbench: no Spark jar directory with a Scala compiler found")


def sources():
    roots = [os.path.join("src", "main", "scala"),
             os.path.join("perfbench", "src")]
    files = []
    for r in roots:
        if not os.path.isdir(r):
            sys.exit(f"perfbench: source directory {r} is missing; "
                     "run from the root of a graft checkout")
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build(jars):
    """Compile once per source tree; the output directory is keyed by a
    hash of every source file, so an edited tree never runs stale code."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(WORK, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".complete")):
        return out
    for old in os.listdir(WORK):
        if old.startswith("classes-"):
            shutil.rmtree(os.path.join(WORK, old), ignore_errors=True)
    os.makedirs(out)
    argfile = os.path.join(WORK, "scalac.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cp = os.path.join(jars, "*")
    print(f"perfbench: compiling {len(files)} sources", file=sys.stderr)
    rc = subprocess.call(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp,
         "scala.tools.nsc.Main",
         "-nowarn", "-classpath", cp, "-d", out, "@" + argfile],
        stdout=sys.stderr)
    if rc != 0:
        shutil.rmtree(out, ignore_errors=True)
        sys.exit(f"perfbench: compilation failed ({rc})")
    open(os.path.join(out, ".complete"), "w").close()
    return out


# Spark 4 on JDK 17 outside spark-submit (same list as build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def run_jvm(classes, jars, main, args, capture=False):
    tmp = os.path.abspath(os.path.join(WORK, "tmp"))
    os.makedirs(tmp, exist_ok=True)
    # no hsperfdata file: the JVM would write it to /tmp, outside the checkout
    cmd = ["java", "-XX:-UsePerfData", "-Xmx3g", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
            main] + args
    # own process group, so an interrupted run leaves no JVM behind
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE if capture else None,
                            start_new_session=True)
    try:
        out, _ = proc.communicate()
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    return proc.returncode, (out.decode() if capture else None)


def check_names(result, trace):
    """Every metric the run prints is named in BENCHMARK.json, and every
    metric named there is printed."""
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    want = {m["name"]: m["unit"]
            for m in spec["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if want != got:
        missing = sorted(set(want) - set(got))
        extra = sorted(set(got) - set(want))
        units = sorted(k for k in set(want) & set(got) if want[k] != got[k])
        sys.exit(f"perfbench: metrics differ from BENCHMARK.json: "
                 f"missing {missing}, extra {extra}, unit mismatch {units}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=30)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--diff", nargs=2, metavar="TRACE")
    a = ap.parse_args()
    if a.diff:
        sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
        sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
        import layer_diff
        layer_diff.main(a.diff)
        return
    if not (a.selftest or a.workload):
        ap.error("--workload or --selftest is required")
    if not os.path.isfile("BENCHMARK.json"):
        sys.exit("perfbench: run from the root of the checkout")
    jars = jar_dir()
    os.makedirs(WORK, exist_ok=True)
    classes = build(jars)
    if a.selftest:
        rc, _ = run_jvm(classes, jars, "perfbench.SelfTest", [])
        sys.exit(rc)
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    baseline = os.path.join(results, f"{a.workload}-untraced.json")
    if a.trace and not os.path.exists(baseline):
        # the traced run reports its overhead against an untraced run of
        # the same workload; make one first when none was kept
        print("perfbench: no untraced result kept; running one first",
              file=sys.stderr)
        rc, _ = run_jvm(classes, jars, "perfbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", "0",
            "--keep", baseline], capture=True)
        if rc != 0:
            sys.exit(rc)
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace)]
    args += ["--baseline", baseline] if a.trace else ["--keep", baseline]
    rc, out = run_jvm(classes, jars, "perfbench.Main", args, capture=True)
    lines = out.rstrip("\n").split("\n") if out else []
    body, last = lines[:-1], (lines[-1] if lines else "")
    if body:
        print("\n".join(body))
    if rc != 0:
        sys.exit(rc)
    check_names(json.loads(last), a.trace)
    print(last)


if __name__ == "__main__":
    main()
