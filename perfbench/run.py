#!/usr/bin/env python3
"""Repository benchmark: templates, curation and iterative workloads.

    python3 perfbench/run.py --workload templates --seed 1 --seconds 15 --trace 0

Builds the engine from the checkout's sources (perfbench/build.py),
generates the workload's inputs from the seed (perfbench/gen.py), times
the set-up in fresh JVMs and runs the workload's passes in the last of
them (perfbench/src), all pinned the same way, checks every step output
against DuckDB (perfbench/check.py) and prints one JSON line last:
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
metrics are the end-to-end ones, with `--trace 1` the per-layer ones
(perfbench/metrics.py). See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
import workloads  # noqa: E402

# every JVM is killed this long after the run started
JVM_DEADLINE_S = 165
# passes stop starting this long after the run started, so that the output
# check still ends inside the 180 s a run may take
PASS_DEADLINE_S = 120
# set-ups from JVM start per run, the first in the JVM that then runs the
# passes; setup_s is their median
SETUPS = 2
HEAP = "2g"

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.TABLES))
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, type=int, choices=[0, 1])
    a = p.parse_args(argv)
    if a.seed < 0:
        p.error(f"--seed must be >= 0, got {a.seed}")
    if not 1 <= a.seconds <= 60:
        p.error(f"--seconds must be between 1 and 60, got {a.seconds}")
    return a


def cores():
    return len(os.sched_getaffinity(0))


def cpu_ticks():
    """(steal, total) jiffies of the host CPUs, or None off Linux."""
    try:
        with open("/proc/stat") as fh:
            t = [int(x) for x in fh.readline().split()[1:]]
        return t[7], sum(t)
    except (OSError, IndexError, ValueError):
        return None


def jvm_command(classes, spec_path, tmp):
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-Xmn128m",
             "-XX:-UsePerfData", "-XX:ReservedCodeCacheSize=512m", "-Xss4m",
             "-Dfile.encoding=UTF-8", f"-Djava.io.tmpdir={tmp}"]
            + [x for o in JDK17_OPENS for x in ("--add-opens", f"{o}=ALL-UNNAMED")]
            + ["-cp", build.classpath(classes), "graftbench.Harness", spec_path])


def harness(classes, spec, deadline):
    """Runs one harness JVM on `spec`; returns its raw record."""
    work = spec["work_dir"]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    spec_path = os.path.join(work, "spec.json")
    with open(spec_path, "w") as fh:
        json.dump(spec, fh)
    env = dict(os.environ, LC_ALL="C.utf8", TZ="UTC")
    with open(os.path.join(work, "jvm.log"), "w") as log:
        rc = subprocess.run(jvm_command(classes, spec_path, os.path.join(work, "tmp")),
                            stdout=log, stderr=subprocess.STDOUT, env=env,
                            timeout=max(1.0, deadline - time.time())).returncode
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise SystemExit(f"perfbench: harness JVM exited with {rc}")
    with open(os.path.join(work, "result.json")) as fh:
        return json.load(fh)


def run(a):
    t_start = time.time()
    classes = build.build()
    work = os.path.join(build.BUILD_DIR, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        inputs = os.path.join(work, "inputs")
        sizes = gen.generate(workloads.TABLES[a.workload], a.seed, inputs)
        steps = workloads.steps(a.workload, a.seed)
        n = cores()
        launch, ticks0 = time.time(), cpu_ticks()
        jvm_deadline = t_start + JVM_DEADLINE_S
        spec = {
            "input_dir": inputs, "work_dir": work, "setup_only": False,
            "cores": n, "seconds": a.seconds, "trace": bool(a.trace),
            # a traced run traces the cold pass and every second warm pass,
            # and puts each traced warm pass between two untraced ones
            "min_warm": 3 if a.trace else 2, "tables": workloads.TABLES[a.workload],
            "deadline_ms": (t_start + PASS_DEADLINE_S) * 1000.0, "steps": steps,
        }
        # the set-up-only JVMs go first, so the passes' JVM cannot leave
        # them a busier machine
        setups = [harness(classes, dict(spec, setup_only=True,
                                        work_dir=os.path.join(work, f"setup-{i}")),
                          jvm_deadline)["setups"][0]
                  for i in range(SETUPS - 1)]
        result = harness(classes, spec, jvm_deadline)
        result["setups"] += setups
        t_check, ticks1 = time.time(), cpu_ticks()
        failures = check.check(a.workload, steps, inputs, work, result)
        out = metrics.report(result, failures, n, bool(a.trace), sizes, work, steps)
        steal = (f", cpu steal {100.0 * (ticks1[0] - ticks0[0]) / (ticks1[1] - ticks0[1]):.1f}%"
                 if ticks0 and ticks1 and ticks1[1] > ticks0[1] else "")
        out["summary"].insert(0, f"run: build+inputs {launch - t_start:.1f} s, "
                                 f"jvms {t_check - launch:.1f} s{steal}, "
                                 f"check {time.time() - t_check:.1f} s")
        return out
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main(argv):
    a = parse_args(argv)
    out = run(a)
    for line in out["summary"]:
        print(line)
    print(json.dumps(out["result"]))
    if any(m["value"] is None for m in out["result"]["metrics"].values()):
        sys.exit("perfbench: some metrics could not be measured (every pass failed)")


if __name__ == "__main__":
    main(sys.argv[1:])
