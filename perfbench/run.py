#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload score_batch --seed 1 --seconds 20 --trace 0

Run from the repository root. Steps:
  1. build the library and the benchmark client with sbt, and record the
     classes a workload loads in a class-data-sharing archive (both skipped
     when the sources are unchanged since the last build in this checkout);
  2. generate the seeded inputs (cached per seed);
  3. run the workload in a fresh JVM (see src/main/scala/perfbench);
  4. check outputs: for score_batch, every pass's digest is recomputed from
     the parquet it wrote with DuckDB (check.py);
  5. print {"correct", "attempted", "failed", "metrics"}.

Everything is read and written inside the checkout (perfbench/.work and the
sbt target directories). Exit code 0 only when a result was printed.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen    # noqa: E402

WORKLOADS = ("score_batch", "dashboard_mixed")
# input scale: half the reference data volume (BASELINE.md counts)
SCALE = 0.5
BUILD_TIMEOUT = 840
RUN_TIMEOUT = 165
WORK = os.path.join(HERE, ".work")
STAMP = os.path.join(HERE, "target", "bench-stamp.txt")
CLASSPATH = os.path.join(HERE, "target", "bench-classpath.txt")
ARCHIVE = os.path.join(HERE, "target", "bench-classes.jsa")

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def sources_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt and record the class archive, once per source
    state; returns the runtime classpath (jars only, as the archive needs)."""
    want = sources_digest()
    if os.path.exists(STAMP) and os.path.exists(CLASSPATH):
        with open(STAMP) as f:
            if f.read().strip() == want:
                with open(CLASSPATH) as c:
                    return c.read().strip()
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env.setdefault("SBT_OPTS", " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx2g"]))
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=BUILD_TIMEOUT)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "perfbench_" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed", 1)
    cp = lines[-1].strip()
    record_classes(cp)
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(cp + "\n")
    with open(STAMP, "w") as f:
        f.write(want + "\n")
    return cp


def record_classes(cp):
    """One untimed dashboard_mixed run (it also runs the batch pass) on
    fixed inputs that dumps every class it loaded into ARCHIVE. Measured
    JVMs map the archive instead of loading and verifying those classes
    from the jars: JVM start and the first pass get shorter, and the code
    that runs is the same."""
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    work = os.path.join(WORK, "classes")
    shutil.rmtree(work, ignore_errors=True)
    gen.generate(0, SCALE, os.path.join(work, "inputs"))
    run_jvm(cp, "dashboard_mixed", 0, 1, 0, os.path.join(work, "inputs"),
            os.path.join(work, "run"), ["-XX:ArchiveClassesAtExit=" + ARCHIVE])
    shutil.rmtree(work, ignore_errors=True)
    if not os.path.exists(ARCHIVE):
        fail("no class archive was written", 1)


def inputs(seed):
    """Generated inputs for this seed, reused while gen.py is unchanged."""
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        tag = hashlib.sha256(f.read()).hexdigest()[:12]
    name = "inputs_%d_%s_%s" % (seed, SCALE, tag)
    path = os.path.join(WORK, name)
    if not os.path.exists(os.path.join(path, "manifest.json")):
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(WORK, exist_ok=True)
        # keep the cache small: drop other seeds' inputs
        for old in os.listdir(WORK):
            if old.startswith("inputs_") and old != name:
                shutil.rmtree(os.path.join(WORK, old), ignore_errors=True)
        gen.generate(seed, SCALE, path + ".tmp")
        os.rename(path + ".tmp", path)
    return path


def heap():
    """Half the machine's memory, clamped to 2..4 GB."""
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(l for l in f if l.startswith("MemTotal")).split()[1])
        return "%dg" % max(2, min(4, kb // 2 // (1 << 20)))
    except (OSError, StopIteration, ValueError):
        return "2g"


def run_jvm(cp, workload, seed, seconds, trace, input_dir, work, jvm_flags):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # JVM log lines (class sharing warnings among them) go to stderr, so
    # the last stdout line stays the client's result
    cmd = (["java", "-Xmx" + heap(), "-XX:+UseParallelGC", "-XX:-UsePerfData",
            "-Xlog:disable", "-Xlog:all=warning:stderr", "-Djava.io.tmpdir=" + tmp,
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + jvm_flags
           + [x for p in JDK_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", workload, "--seconds", str(seconds),
              "--trace", str(trace), "--input", input_dir, "--work", work,
              "--seed", str(seed)])
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL,
                             stdout=subprocess.PIPE, stderr=log, text=True)
        try:
            out, _ = p.communicate(timeout=RUN_TIMEOUT)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail("workload timed out", 1)
    if p.returncode != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-3000:])
        fail("workload exited with %d" % p.returncode, p.returncode or 1)
    try:
        return json.loads(out.strip().splitlines()[-1])
    except (IndexError, ValueError):
        sys.stderr.write(out[-2000:])
        fail("the workload printed no result line", 1)


def check_names(metrics, trace):
    """The printed metrics are BENCHMARK.json's, with its units: every
    per-layer metric in a traced run, end-to-end ones otherwise."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {m["name"]: m["unit"]
            for m in spec["per_layer" if trace else "end_to_end"]}
    got = {k: m["unit"] for k, m in metrics.items()}
    if any(want.get(k) != u for k, u in got.items()) or (trace and got != want):
        fail("metrics differ from BENCHMARK.json: %s" % sorted(
            set(got.items()) ^ set(want.items())), 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no library sources at %s/src/main/scala: run from a full checkout" % ROOT)

    cp = build()
    input_dir = inputs(a.seed)
    work = os.path.join(WORK, "run_" + a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    result = run_jvm(cp, a.workload, a.seed, a.seconds, a.trace, input_dir, work,
                     ["-XX:SharedArchiveFile=" + ARCHIVE])

    if a.workload == "score_batch":
        # independent recomputation of every pass digest from its parquet,
        # and the reference held against the generated truth
        bad = check.failed_passes(work, input_dir)
        shutil.rmtree(os.path.join(work, "passes"), ignore_errors=True)
    else:
        # the served master against the generated truth: one more operation
        bad = 1 if check.reference_misses(work, input_dir) else 0
        result["attempted"] += 1
    result["failed"] += bad
    result["correct"] = result["correct"] and bad == 0
    check_names(result["metrics"], a.trace)
    # sample counts go on the lines above the result; the result line
    # holds each metric's value and unit only
    for name, m in result["metrics"].items():
        print("%-34s %14.4f %-6s n=%d" % (name, m["value"], m["unit"], m["samples"]))
    result["metrics"] = {k: {"value": m["value"], "unit": m["unit"]}
                         for k, m in result["metrics"].items()}
    print(json.dumps(result))


if __name__ == "__main__":
    main()
