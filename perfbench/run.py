"""graft benchmark: one seeded, closed-loop workload per run.

    python3 perfbench/run.py --workload temporal_mix --seed 1 --seconds 5 --trace 0

Run from the root of a source checkout. The first run compiles graft's
sources and the benchmark's own (perfbench/src) into
.bench_build/graftbench.jar; later runs reuse it while the sources hash
the same. Each run generates its inputs from --seed under
.bench_build/work, runs the workload in a fresh JVM at local[nproc / 2],
checks the answers, writes a record to .bench_build/runs and prints, last,
one JSON line: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end metrics of BENCHMARK.json, with
--trace 1 its per-layer metrics. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import gen  # noqa: E402

BUILD = ".bench_build"
ARCHIVE = os.path.abspath(os.path.join(BUILD, "classes.jsa"))
JVM_TIMEOUT_S = 165

# Per workload: store/index build repetitions (setup_s counts their
# median) and the fewest whole cycles of its operation types a run measures.
# These keep a run near 40 s (temporal_mix) and 70 s (analytics) on a
# 4-vCPU host. Three cycles of analytics put its latency_tail_ms, the second
# slowest of 12 requests, on the middle one of the run's three PageRanks;
# four of temporal_mix put it among the Snapshot reads of the interactive
# log, not on the boundary between them and the slower durable-log reads.
PLAN = {
    "temporal_mix": {"setup_reps": 2, "min_cycles": 4},
    "analytics": {"setup_reps": 2, "min_cycles": 3},
}

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def spark_threads():
    """Spark's task threads: half the CPUs this process may use. The other
    half serve the client thread, the JIT compilers (Spark generates new
    classes for every new plan) and GC; with a task thread on every CPU
    they queue behind the tasks, and timings swing with the host's load."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def fail(msg):
    print(f"[graftbench] {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    """SPARK_HOME, else the Spark install whose bin/spark-submit is on PATH."""
    found = shutil.which("spark-submit")
    for home in [os.environ.get("SPARK_HOME"),
                 found and os.path.dirname(os.path.dirname(os.path.realpath(found)))]:
        if home and glob.glob(os.path.join(home, "jars", "spark-core_*.jar")):
            return home
    fail("no Spark install: set SPARK_HOME")


SPARK_HOME = spark_home()


def sources():
    main = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not main:
        fail("no graft sources under src/main/scala: run from a source checkout")
    return main + sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))


def source_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def jvm_cmd(jar, share, tmp, main="graftbench.Main"):
    """A benchmark JVM: graft and the benchmark in one jar beside Spark's
    jars, with `share` the class-data-sharing flag."""
    return (["java", "-Xmx3g", "-XX:+UseG1GC", share, "-Xlog:cds=off", "-Xlog:cds+dynamic=off",
             f"-Djava.io.tmpdir={tmp}", "-Dspark.sql.session.timeZone=UTC",
             f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
            + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
            + ["-cp", f"{jar}:{os.path.join(SPARK_HOME, 'jars', '*')}", main])


def build(files, digest):
    """Compiles graft and the benchmark offline with the Scala compiler that
    ships in Spark's jars into one jar, unless the jar matches the sources.
    Then starts Spark once, runs a few small SQL jobs and dumps the classes
    that JVM loaded into a class-data-sharing archive, which every measured
    run maps, so all of them start alike and sooner."""
    build_dir = os.path.abspath(BUILD)
    jar = os.path.join(build_dir, "graftbench.jar")
    stamp = os.path.join(build_dir, "graftbench.sources")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return jar
    for f in [stamp, jar, ARCHIVE]:
        if os.path.exists(f):
            os.remove(f)
    tmp = os.path.join(build_dir, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    jars = os.path.join(SPARK_HOME, "jars", "*")
    t = time.time()
    r = subprocess.run(["java", "-Xmx2g", "-Xss8m", "-cp", jars, "scala.tools.nsc.Main",
                        "-nowarn", "-d", tmp, "-classpath", jars] + files)
    if r.returncode != 0:
        fail("compile failed")
    with zipfile.ZipFile(jar, "w") as z:
        for d, _, names in os.walk(tmp):
            for n in sorted(names):
                z.write(os.path.join(d, n), os.path.relpath(os.path.join(d, n), tmp))
    shutil.rmtree(tmp)
    print(f"[graftbench] compiled {len(files)} files in {time.time() - t:.1f} s", file=sys.stderr)
    t = time.time()
    work = os.path.join(build_dir, "work", "classes")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        r = subprocess.run(jvm_cmd(jar, f"-XX:ArchiveClassesAtExit={ARCHIVE}",
                                   os.path.join(work, "tmp"), "graftbench.Classes")
                           + [str(spark_threads()), work],
                           stdout=subprocess.DEVNULL, timeout=JVM_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0 or not os.path.exists(ARCHIVE):
        fail("could not dump the class-data-sharing archive")
    print(f"[graftbench] archived classes in {time.time() - t:.1f} s", file=sys.stderr)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return jar


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(cmd):
    """Runs the JVM in its own process group; kills the group on timeout."""
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"run exceeded {JVM_TIMEOUT_S} s")
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    lines = [l for l in out.splitlines() if l.startswith("GRAFTBENCH_RESULT ")]
    if p.returncode != 0 or not lines:
        fail(f"benchmark JVM exited {p.returncode} without a result")
    return json.loads(lines[-1][len("GRAFTBENCH_RESULT "):])


def run_workload(jar, workload, seed, seconds, trace, share, spans_to):
    """Generates the seed's inputs and runs one workload in a fresh JVM;
    returns the JVM's result. A traced run's spans are moved to `spans_to`."""
    cpus = spark_threads()
    plan = PLAN[workload]
    work = os.path.abspath(os.path.join(BUILD, "work", f"{workload}-{seed}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    os.makedirs(os.path.join(work, "tmp"))
    try:
        sizes = gen.generate(workload, seed, data)
        res = run_jvm(jvm_cmd(jar, share, os.path.join(work, "tmp")) + [
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--cpus", str(cpus), "--setup-reps", str(plan["setup_reps"]),
            "--min-cycles", str(plan["min_cycles"]),
            "--work", work, "--data", data,
            "--sizes", ",".join(f"{k}={v}" for k, v in sizes.items())])
        if spans_to and os.path.exists(os.path.join(work, "spans.jsonl")):
            shutil.move(os.path.join(work, "spans.jsonl"), spans_to)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    res.update({"input_sizes": sizes, "nproc": len(os.sched_getaffinity(0)),
                "spark_threads": cpus, "run_seconds": seconds, **plan})
    return res


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(PLAN))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    files = sources()
    digest = source_hash(files)
    jar = build(files, digest)

    runs = os.path.join(BUILD, "runs")
    os.makedirs(runs, exist_ok=True)
    name = f"{a.workload}-s{a.seed}-t{a.trace}-{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}"
    res = run_workload(jar, a.workload, a.seed, a.seconds, a.trace,
                       f"-XX:SharedArchiveFile={ARCHIVE}",
                       spans_to=os.path.join(runs, name + ".spans.jsonl"))
    res.update({"commit": git_commit(), "source_hash": digest})
    with open(os.path.join(runs, name + ".json"), "w") as fh:
        json.dump(res, fh, indent=1)

    # the summary shows every metric the run took; the JSON line carries
    # those BENCHMARK.json names
    have = res["layer_metrics"] if a.trace else res["metrics"]
    for c in res["checks"]:
        print(f"check {'PASS' if c['ok'] else 'FAIL'}: {c['name']} ({c['detail']})")
    for k, m in have.items():
        print(f"{k} = {m['value']:.6g} {m['unit']}")
    if not a.trace:
        print("p50 per layer group: " + ", ".join(
            f"{c} {v:.4g} ms" for c, v in sorted(res["per_class_p50_ms"].items())))
        print(f"tail = p{res['tail_percentile']:.1f} of {res['tail_n']} requests; "
              f"canary {res['canary_before_s']:.3f} s -> {res['canary_after_s']:.3f} s")
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {m["name"]: have[m["name"]] for m in wanted}
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
