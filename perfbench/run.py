#!/usr/bin/env python3
"""Runs one benchmark workload and prints its metrics as one JSON line.

    python3 perfbench/run.py --workload headline_queries --seed 1 --seconds 20 --trace 0

Run from the repository root. Builds the program and the harness from
source (cached under perfbench/.build), generates the workload's inputs
from the seed, runs the measured JVM, checks the digest of every op's
result against the DuckDB oracle (or, for an op without one, against its
warm-up result), then prints a context line and, last, the result line. With
--trace 1 the metrics are the per-layer ones. Every run leaves its raw
measurements (and, traced, its spans) in the side file
perfbench/.work/<workload>-seed<n>-trace<t>.json.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = {
    # corpus scale (1.0 = sf0.01 row counts), payloads per source per window
    "headline_queries": {"scale": 0.2, "zolo": 0},
    "nightly_etl": {"scale": 0.2, "zolo": 500},
}
# knobs that change the session the engine builds; the benchmark measures the defaults
ENGINE_ENV = ["SPARK_GRAFT_MASTER", "SPARK_GRAFT_EXTRA_CONFS",
              "SPARK_GRAFT_SHUFFLE_BYPASS_THRESHOLD", "SPARK_GRAFT_AQE_MIN_PARTITION_SIZE"]
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
JVM_TIMEOUT_S = 150  # at the workloads' own scale; --scale raises it in proportion


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt names (unmanagedBase)."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(ROOT, "build.sbt")) as fh:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        except OSError:
            m = None
        jars = m.group(1) if m else ""
    if not os.path.isdir(jars):
        fail("Spark jars not found (set SPARK_HOME)")
    return jars


def sources(path):
    out = []
    for d, _, files in os.walk(path):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def scalac(jars, classpath, out, files):
    os.makedirs(out, exist_ok=True)
    cp = os.pathsep.join([os.path.join(jars, "*")] + classpath)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-d", out, "-classpath", cp] + files
    r = subprocess.run(cmd, capture_output=True, text=True)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        fail("compile failed:\n" + (r.stdout + r.stderr)[-4000:])


def build(jars):
    """Compiles the program (src/main/scala) and the harness; cached by
    source digest. Returns the runtime classpath entries."""
    prog = sources(os.path.join(ROOT, "src", "main", "scala"))
    if not prog:
        fail(f"no program sources under {ROOT}/src/main/scala")
    harness = sources(os.path.join(HERE, "harness"))
    h = hashlib.sha256()
    for f in prog + harness:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(HERE, ".build", h.hexdigest()[:16])
    prog_out, harness_out = os.path.join(out, "program"), os.path.join(out, "harness")
    if not os.path.exists(os.path.join(out, "done")):
        shutil.rmtree(os.path.join(HERE, ".build"), ignore_errors=True)
        scalac(jars, [], prog_out, prog)
        scalac(jars, [prog_out], harness_out, harness)
        open(os.path.join(out, "done"), "w").close()
    resources = os.path.join(ROOT, "src", "main", "resources")
    return [harness_out, prog_out] + ([resources] if os.path.isdir(resources) else [])


def source_digest():
    h = hashlib.sha256()
    for f in sources(os.path.join(ROOT, "src", "main", "scala")):
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:12]


def commit():
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10)
        return r.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def cpu_ticks():
    """(steal, total) ticks of all CPUs since boot, or None off Linux."""
    try:
        with open("/proc/stat") as fh:
            ticks = [int(x) for x in fh.readline().split()[1:]]
        return ticks[7], sum(ticks)
    except (OSError, IndexError, ValueError):
        return None


def run_jvm(jars, classpath, workload, data, work, seconds, trace, cores, out, timeout):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {k: v for k, v in os.environ.items() if k not in ENGINE_ENV}
    env["SPARK_LOCAL_DIRS"] = tmp
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java"] + opens + ["-Xms3g", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
                               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                               "-cp", os.pathsep.join(classpath + [os.path.join(jars, "*")]),
                               "perfbench.Main", "--workload", workload, "--data", data, "--work", work,
                               "--seconds", str(seconds), "--trace", "1" if trace else "0",
                               "--cores", str(cores), "--out", out])
    os.sync()  # so that writeback of earlier files does not land in the measurement
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env, cwd=work)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"measured JVM exceeded {timeout:.0f} s; log in {log.name}")
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as fh:
            tail = fh.read()[-3000:]
        fail(f"measured JVM exited with {rc}:\n{tail}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, help="corpus scale instead of the workload's own "
                    "(1.0 = sf0.01 row counts, 10 = sf0.1); for size comparisons, not for the gate")
    a = ap.parse_args()

    jars = spark_jars()
    classpath = build(jars)
    cores = min(4, len(os.sched_getaffinity(0)))
    work = os.path.join(HERE, ".work", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    cfg = WORKLOADS[a.workload]
    scale = a.scale or cfg["scale"]
    gen.generate(data, a.seed, scale, cfg["zolo"], files=max(4, cores))

    out = os.path.join(work, "raw.json")
    ticks0 = cpu_ticks()
    run_jvm(jars, classpath, a.workload, data, work, a.seconds, a.trace == 1, cores, out,
            JVM_TIMEOUT_S * max(1.0, scale / cfg["scale"]))
    ticks1 = cpu_ticks()
    # CPU time the hypervisor gave to other guests while the JVM ran; a slow
    # run with a high share was slowed by the host, not by the program
    steal = (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1]) if ticks0 and ticks1 else None
    with open(out) as fh:
        raw = json.load(fh)

    verdicts = oracle.check(raw, data)
    execs = raw["execs"]  # every timed execution, traced or not

    def passed(x):
        expected, problem = verdicts[x["name"]]
        return not x["error"] and problem is None and (expected is None or x["digest"] == expected)

    attempted = len(execs)
    failed = sum(1 for x in execs if not passed(x))
    correct = failed == 0 and all(p is None for _, p in verdicts.values())

    context = {"workload": a.workload, "seed": a.seed, "scale": scale, "commit": commit(),
               "source_digest": source_digest(), "host_steal_share": steal, "cores": raw["cores"],
               "anchor_s": raw["anchor_s"], "conf": raw["conf"],
               "oracle": {n: p or ("exact" if e else "no oracle: warm-up digest only")
                          for n, (e, p) in verdicts.items()},
               "errors": sorted({f'{x["name"]}: {x["error"]}' for x in execs if x["error"]})}
    side = os.path.join(HERE, ".work", f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    context["side_file"] = os.path.relpath(side, ROOT)
    record = {"context": context, "raw": raw}
    if a.trace:
        values = metrics.per_layer(raw)
        record["modules"] = metrics.module_times(raw)
        record["op_layers"] = [dict(metrics.op_layers(op), name=op["name"], pass_no=op["pass"])
                               for op in raw["spans"]]
    else:
        values = metrics.end_to_end(raw)
    with open(side, "w") as fh:
        json.dump(record, fh)
    print("# context " + json.dumps(context, sort_keys=True))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()}}))


if __name__ == "__main__":
    main()
