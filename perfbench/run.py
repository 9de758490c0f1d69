#!/usr/bin/env python3
"""The repo benchmark: build, run one workload, print its metrics.

Run from the root of a checkout:

    python3 perfbench/run.py --workload validate_healthy --seed 0 --seconds 15 --trace 0
    python3 perfbench/run.py compare BEFORE.jsonl AFTER.jsonl

A run compiles the program's sources (src/main/scala) and the benchmark's
own (perfbench/src) with the Scala compiler that ships with Spark, reusing
the build while neither changes. It then runs one JVM on local[nproc]
(perfbench.Main), prints the full report as one JSON line, appends it to
<build>/perfbench/results.jsonl, and prints as its last line the result
object with the metrics named in BENCHMARK.json. The build directory is
$CARGO_TARGET_DIR, else .bench_build. Exit code 0 means every output
check passed.

`compare` reads two such results files and prints, per workload and
end-to-end metric, each side's median and quartiles, the share of paired
runs each side won, and a verdict: improved, unchanged, unresolved or
regressed. It leaves out runs whose checks failed and pairs whose input
fingerprints differ.
"""

import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

WORKLOADS = ["validate_healthy", "validate_sink", "dedup_near", "table_checks"]
# A run of a workload in BENCHMARK.json must end within 180 s; the workloads
# only run by name have no such limit and are given more room.
RUN_TIMEOUT_S = 170
BY_NAME_TIMEOUT_S = 900
HEAP = "3g"
# Spark on JDK 17 outside spark-submit needs these (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def build_root():
    return os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def spark_jars():
    """The jar directory build.sbt compiles against (its unmanagedBase), or
    $SPARK_HOME/jars when set."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open("build.sbt") as f:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        except OSError:
            m = None
        if not m:
            fail("run from the root of a repo checkout: build.sbt names no unmanagedBase jar directory")
        jars = m.group(1)
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail(f"no Spark distribution with a Scala compiler at {jars} (set SPARK_HOME)")
    return jars


def scala_sources(root):
    return sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))


def build(jars):
    """Compile program + benchmark sources once per source content."""
    program = scala_sources("src/main/scala")
    if not os.path.isfile("build.sbt") or not program:
        fail("run from the root of a repo checkout: build.sbt and src/main/scala are missing")
    sources = program + scala_sources(os.path.join("perfbench", "src"))
    h = hashlib.sha256()
    for path in sources + sorted(os.listdir(jars)):
        h.update(path.encode())
        if path.endswith(".scala"):
            with open(path, "rb") as f:
                h.update(f.read())
    out = os.path.join(build_root(), "perfbench", "classes-" + h.hexdigest()[:16])
    if os.path.isfile(os.path.join(out, ".complete")):
        return out
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-XX:-UsePerfData", "-Xss16m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp] + sources
    t0 = time.time()
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(r.stdout[-8000:])
        fail("build failed")
    open(os.path.join(tmp, ".complete"), "w").close()
    try:
        os.rename(tmp, out)
    except OSError:  # a concurrent build finished first
        shutil.rmtree(tmp, ignore_errors=True)
    print(f"perfbench: built {len(sources)} sources in {time.time() - t0:.1f}s", file=sys.stderr)
    return out


def load_spec():
    with open("BENCHMARK.json") as f:
        return json.load(f)


def run(args):
    spec = load_spec()
    jars = spark_jars()
    classes = build(jars)
    cores = len(os.sched_getaffinity(0))
    base = os.path.join(build_root(), "perfbench")
    work = os.path.join(base, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    log = os.path.join(work, "jvm.log")
    # -UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--out", out, "--cores", str(cores),
              "--traces", os.path.join(base, "traces")])
    benchmarked = any(w["name"] == args.workload for w in spec["workloads"])
    timeout = RUN_TIMEOUT_S if benchmarked else BY_NAME_TIMEOUT_S
    try:
        with open(log, "w") as logf:
            proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                                    start_new_session=True)
            try:
                code = proc.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                code = "timeout"
        if code != 0 or not os.path.isfile(out):
            with open(log) as f:
                sys.stderr.write(f.read()[-8000:])
            fail(f"benchmark JVM ended with {code}", 1)
        with open(out) as f:
            report = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    section = "per_layer" if args.trace else "end_to_end"
    wanted = {m["name"]: m["unit"] for m in spec[section]}
    got = report["metrics"]
    if set(got) != set(wanted):
        fail(f"metrics differ from BENCHMARK.json {section}: "
             f"missing {sorted(set(wanted) - set(got))}, extra {sorted(set(got) - set(wanted))}", 1)
    bad_units = [k for k, u in wanted.items() if got[k]["unit"] != u]
    if bad_units:
        fail(f"units differ from BENCHMARK.json for {bad_units}", 1)

    results = os.path.join(base, "results.jsonl")
    if args.trace:
        untraced = last_untraced(results, args.workload, args.seed)
        traced = report["iterations"]["traced_s"]
        if untraced and traced:
            report["trace_overhead_vs_untraced_run"] = (
                statistics.median(traced) / untraced["metrics"]["wall_s"]["value"])
    line = json.dumps(report, sort_keys=False)
    os.makedirs(base, exist_ok=True)
    with open(results, "a") as f:
        f.write(line + "\n")
    print(line)
    for k, m in got.items():
        value = "n/a" if m["value"] is None else f"{m['value']:.6g}"
        print(f"  {k:40s} {value:>16s} {m['unit']:6s} (n={m['samples']})")
    if "trace_overhead_vs_untraced_run" in report:
        print(f"  traced median over the wall_s of the last untraced run of this seed: "
              f"{report['trace_overhead_vs_untraced_run']:.4g}")
    if report["errors"]:
        print("  errors: " + "; ".join(report["errors"]))
    result = {
        "correct": report["correct"],
        "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": {k: {"value": got[k]["value"], "unit": got[k]["unit"]} for k in wanted},
    }
    print(json.dumps(result))
    return 0 if report["correct"] else 1


def last_untraced(results, workload, seed):
    """The last correct untraced report of this workload and seed, if any."""
    found = None
    if os.path.isfile(results):
        with open(results) as f:
            for line in f:
                r = json.loads(line)
                if (str(r.get("trace")) == "0" and r["workload"] == workload
                        and r["seed"] == seed and r["correct"]):
                    found = r
    return found


def quartiles(xs):
    if len(xs) < 2:
        return (xs[0], xs[0], xs[0])
    q = statistics.quantiles(xs, n=4)
    return (q[0], statistics.median(xs), q[2])


def verdict(a, b, better, bound):
    """Choosing-metrics section 8: a gain needs the change to win >= 90% of
    pairs and a median shift larger than the parent's own spread; a
    regression is a median worse by more than the bound; a spread wider
    than the bound leaves the metric unresolved unless every run of the
    change beats every run of the parent."""
    sign = 1 if better == "higher" else -1
    pairs = list(zip(a, b))
    a_wins = sum(1 for x, y in pairs if sign * (x - y) > 0)
    b_wins = sum(1 for x, y in pairs if sign * (y - x) > 0)
    qa1, ma, qa3 = quartiles(a)
    _, mb, _ = quartiles(b)
    spread = qa3 - qa1
    if pairs and b_wins >= 0.9 * len(pairs) and sign * (mb - ma) > spread:
        v = "improved"
    elif ma and spread / abs(ma) > bound and not all(sign * (y - x) > 0 for x in a for y in b):
        v = "unresolved"
    elif ma and sign * (ma - mb) / abs(ma) > bound:
        v = "regressed"
    else:
        v = "unchanged"
    return v, a_wins, b_wins, len(pairs)


def load_results(path):
    runs = {}
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line:
                r = json.loads(line)
                if str(r.get("trace")) == "0":
                    runs.setdefault(r["workload"], []).append(r)
    return runs


def pair_by_seed(a_runs, b_runs):
    """Pairs runs by seed, then by order for seeds run more than once."""
    by_seed_a, by_seed_b = {}, {}
    for r in a_runs:
        by_seed_a.setdefault(r["seed"], []).append(r)
    for r in b_runs:
        by_seed_b.setdefault(r["seed"], []).append(r)
    return [(x, y) for s in sorted(set(by_seed_a) & set(by_seed_b))
            for x, y in zip(by_seed_a[s], by_seed_b[s])]


def compare(args):
    """Runs whose output checks failed are left out and counted. A pair whose
    input fingerprints differ is not compared: the inputs changed, so a
    speed difference would not be the program's. A gain does not count when
    the change failed a larger share of operations than the parent."""
    spec = load_spec()
    a_runs, b_runs = load_results(args.before), load_results(args.after)
    for w in WORKLOADS:
        if w not in a_runs or w not in b_runs:
            continue
        print(f"{w}:")
        for side, rs in (("before", a_runs[w]), ("after", b_runs[w])):
            att = sum(r["attempted"] for r in rs)
            fl = sum(r["failed"] for r in rs)
            bad = sum(1 for r in rs if not r["correct"])
            print(f"  {side:6s} runs {len(rs)}, incorrect {bad}, "
                  f"operations attempted {att}, failed {fl}")
        paired = pair_by_seed(a_runs[w], b_runs[w])
        differ = [(x, y) for x, y in paired if x.get("fingerprint") != y.get("fingerprint")]
        for x, y in differ:
            print(f"  seed {x['seed']}: inputs differ "
                  f"({x.get('fingerprint')} vs {y.get('fingerprint')}); pair not compared")
        paired = [(x, y) for x, y in paired if x.get("fingerprint") == y.get("fingerprint")
                  and x["correct"] and y["correct"]]
        if not paired:
            print("  no comparable pairs")
            continue

        def fail_share(rs):
            return sum(r["failed"] for r in rs) / max(1, sum(r["attempted"] for r in rs))
        more_failures = fail_share(b_runs[w]) > fail_share(a_runs[w])
        print(f"  {'metric':18s} {'before q1/med/q3':>32s} {'after q1/med/q3':>32s} "
              f"{'wins b/a/n':>10s}  verdict")
        for m in spec["end_to_end"]:
            n = m["name"]
            a = [x["metrics"][n]["value"] for x, _ in paired]
            b = [y["metrics"][n]["value"] for _, y in paired]
            v, aw, bw, np_ = verdict(a, b, m["better"], m["bound"])
            if v == "improved" and more_failures:
                v = "unresolved (more operations failed)"
            fa = "/".join(f"{x:.4g}" for x in quartiles(a))
            fb = "/".join(f"{x:.4g}" for x in quartiles(b))
            print(f"  {n:18s} {fa:>32s} {fb:>32s} {bw:>3d}/{aw:>2d}/{np_:<3d}  {v}")
    return 0


def main():
    if len(sys.argv) > 1 and sys.argv[1] == "compare":
        p = argparse.ArgumentParser(prog="run.py compare")
        p.add_argument("before")
        p.add_argument("after")
        return compare(p.parse_args(sys.argv[2:]))
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return run(p.parse_args())


if __name__ == "__main__":
    sys.exit(main())
