#!/usr/bin/env python3
"""spark-graft benchmark: one workload in one fresh JVM, a closed loop with one
client, results checked against committed oracle fingerprints.

    python3 perfbench/run.py --workload olap_read --seed 1 --seconds 20 --trace 0

Run it from the root of a checkout. The first run compiles the program and the
benchmark harness into .bench_build/; later runs reuse that build while the
sources are unchanged. The last line of stdout is the result as one JSON
object; the lines before it are a readable summary and the host context. See
perfbench/README.md for the workloads and metrics.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import random
import re
import shutil
import statistics
import subprocess
import sys
import time

import duckdb

import fp
import layers

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
DEADLINE_S = 170.0
JVM_HEAP = "2g"
# a fixed young generation: G1's adaptive young sizing otherwise makes the
# touched heap, and so the peak RSS, differ by 15-20% between runs
JVM_YOUNG = "512m"
# the timed loop walks the member list once per PASS_SECONDS of --seconds
PASS_SECONDS = 7
# the JDK module openings Spark needs outside spark-submit (as build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def read(path: str) -> str:
    with open(path, encoding="utf-8") as f:
        return f.read()


def spark_jar_dir() -> str:
    """The jar directory build.sbt compiles against (`unmanagedBase`)."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', read(os.path.join(ROOT, "build.sbt")))
    if not m:
        raise BenchError("build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def fixture_dir() -> str:
    """The bench-scale fixture graft.Bench reads by default."""
    if os.environ.get("SPARK_GRAFT_SF_DIR"):
        return os.environ["SPARK_GRAFT_SF_DIR"]
    src = read(os.path.join(ROOT, "src/main/scala/graft/Bench.scala"))
    m = re.search(r'getOrElse\("SPARK_GRAFT_SF_DIR",\s*"([^"]+)"\)', src)
    if not m:
        raise BenchError("Bench.scala names no default fixture directory")
    return m.group(1)


def tree_hash(files) -> str:
    h = hashlib.sha256()
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def scalac(jars: str, classpath: list, out: str, sources: list, logfile: str) -> None:
    compiler = [os.path.join(jars, f"scala-{p}-{v}.jar") for p in ("compiler", "library", "reflect")
                for v in [scala_version(jars)]]
    cp = ":".join(classpath + sorted(glob.glob(os.path.join(jars, "*.jar"))))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(compiler), "scala.tools.nsc.Main",
           "-nowarn", "-classpath", cp, "-d", out] + sources
    with open(logfile, "w") as lf:
        rc = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT, timeout=800).returncode
    if rc != 0:
        raise BenchError(f"compile failed, see {logfile}")


def scala_version(jars: str) -> str:
    found = glob.glob(os.path.join(jars, "scala-library-*.jar"))
    if not found:
        raise BenchError(f"no scala-library jar in {jars}")
    return os.path.basename(found[0])[len("scala-library-"):-len(".jar")]


def build() -> list:
    """Compile the program and the harness; returns the JVM classpath.

    The program writes its write-once layers under absolute `.../target/tmp`
    paths. The build points those at this checkout's `target/tmp`, so a run
    reads and writes inside the checkout wherever the checkout lives."""
    main_dir = os.path.join(ROOT, "src/main/scala")
    if not os.path.isdir(main_dir):
        raise BenchError("no program sources (src/main/scala) in the working directory")
    jars = spark_jar_dir()
    prog_src = sorted(glob.glob(os.path.join(main_dir, "**/*.scala"), recursive=True))
    harness_src = sorted(glob.glob(os.path.join(HERE, "harness/**/*.scala"), recursive=True))
    key = tree_hash(prog_src + harness_src + [os.path.join(ROOT, "build.sbt")])
    prog_out = os.path.join(BUILD, "program")
    stamp = os.path.join(BUILD, "stamp")
    classes = os.path.join(prog_out, "classes")
    hclasses = os.path.join(BUILD, "harness")
    cp = [hclasses, classes, os.path.join(ROOT, "src/main/resources")]
    if os.path.exists(stamp) and read(stamp) == key + ROOT:
        return cp
    if any(c in ROOT for c in '"\\$'):
        raise BenchError("the checkout path must not contain a quote, backslash or dollar sign")
    log("building program and harness (first run in this checkout)")
    shutil.rmtree(prog_out, ignore_errors=True)
    shutil.rmtree(hclasses, ignore_errors=True)
    copies = []
    tmp_root = re.compile(r'"(/[^"$]*)/target/tmp/')
    for f in prog_src:
        text = tmp_root.sub(lambda m: '"' + ROOT + "/target/tmp/", read(f))
        dst = os.path.join(prog_out, "src", os.path.relpath(f, main_dir))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        with open(dst, "w", encoding="utf-8") as fh:
            fh.write(text)
        copies.append(dst)
    os.makedirs(classes)
    os.makedirs(hclasses)
    scalac(jars, [], classes, copies, os.path.join(BUILD, "build-program.log"))
    scalac(jars, [classes], hclasses, harness_src, os.path.join(BUILD, "build-harness.log"))
    with open(stamp, "w") as fh:
        fh.write(key + ROOT)
    return cp


# ---------------------------------------------------------------- run

def scale_caches(sf: str) -> list:
    """The gitignored write-once caches of the bench scale: entries of
    target/tmp and spark-warehouse whose names carry the scale."""
    tags = {os.path.basename(sf.rstrip("/")), os.path.basename(sf.rstrip("/")).replace(".", "_")}
    return [e for parent in ("target/tmp", "spark-warehouse")
            for e in glob.glob(os.path.join(ROOT, parent, "*"))
            if any(t in os.path.basename(e) for t in tags)]


def clean_slate(sf: str) -> None:
    """Delete the bench scale's caches, so every run builds the same layers
    in its set-up whatever ran before it."""
    for e in scale_caches(sf):
        if os.path.isdir(e) and not os.path.islink(e):
            shutil.rmtree(e, ignore_errors=True)
        else:
            os.remove(e)


def cache_bytes(sf: str) -> int:
    """Bytes on disk under the bench scale's caches: after a run from the
    clean slate, everything the run's layer builds and commits wrote."""
    total = 0
    for e in scale_caches(sf):
        paths = [e] if os.path.isfile(e) else [os.path.join(d, f) for d, _, fs in os.walk(e) for f in fs]
        total += sum(os.path.getsize(p) for p in paths if os.path.isfile(p))
    return total


def run_jvm(cp: list, args: list, out: str, deadline: float) -> None:
    """Start one benchmark JVM and wait for it."""
    jars = spark_jar_dir()
    classpath = ":".join(cp + sorted(glob.glob(os.path.join(jars, "*.jar"))))
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java", f"-Xmx{JVM_HEAP}", f"-Xmn{JVM_YOUNG}"] + opens +
           ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, "perfbench.Runner", "--out", out] + args)
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "jvm.log"), "w") as lf:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=lf, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise BenchError("benchmark JVM timed out")
    if rc != 0:
        raise BenchError(f"benchmark JVM exited with {rc}, see {out}/jvm.log")


def host_context(seed: int, order: list, sf: str) -> dict:
    def cat(path):
        try:
            return read(path).strip()
        except OSError:
            return None
    quota = cat("/sys/fs/cgroup/cpu.max")
    if quota is None:
        q, p = cat("/sys/fs/cgroup/cpu/cpu.cfs_quota_us"), cat("/sys/fs/cgroup/cpu/cpu.cfs_period_us")
        quota = f"{q} {p}" if q else None
    commit = None
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        pass
    return {"nproc": os.cpu_count(), "cpu_max": quota, "loadavg_start": cat("/proc/loadavg"),
            "git_commit": commit, "source_hash": read(os.path.join(BUILD, "stamp"))[:16],
            "seed": seed, "fixture": sf, "order": order}


def workload_spec(name: str) -> dict:
    with open(os.path.join(HERE, "workloads.json")) as fh:
        spec = json.load(fh)["workloads"]
    if name not in spec:
        raise BenchError(f"unknown workload {name!r}; known: {', '.join(sorted(spec))}")
    return spec[name]


def measure(cp: list, order: list, sf: str, traced: bool, seconds: int,
            run_dir: str, deadline: float) -> list:
    clean_slate(sf)
    passes = max(1, round(seconds / PASS_SECONDS))
    shutil.rmtree(run_dir, ignore_errors=True)
    run_jvm(cp, ["--mode", "run", "--sf", sf, "--order", ",".join(order),
                 "--passes", str(passes), "--trace", "1" if traced else "0"], run_dir, deadline)
    with open(os.path.join(run_dir, "records.jsonl")) as fh:
        return [json.loads(line) for line in fh]


def check_results(records: list, expected: dict) -> dict:
    """An execution fails if it threw. The first timed pass's results must
    match the oracle's fingerprints, and the last timed pass's the first's."""
    con = duckdb.connect()
    first = {}
    problems = []
    for r in sorted((r for r in records if r["k"] == "exec"), key=lambda r: r["seq"]):
        q = r["q"]
        if r["error"]:
            problems.append((q, r["pass"], "threw: " + r["error"]))
            continue
        if r["fp_error"]:
            problems.append((q, r["pass"], "result unreadable: " + r["fp_error"]))
            continue
        if not r["fp_dir"]:
            continue
        got = fp.fingerprint_parquet(con, r["fp_dir"])
        if q not in first:
            first[q] = got
            want = expected.get(q)
            if want is None:
                problems.append((q, r["pass"], "no oracle fingerprint"))
            elif want != got:
                problems.append((q, r["pass"], f"oracle mismatch: got {got}, want {want}"))
        elif first[q] != got:
            problems.append((q, r["pass"], f"disagrees with the first pass: {got} vs {first[q]}"))
    return {"problems": problems, "rows": {q: f["rows"] for q, f in first.items()}}


def tail_stat(samples: list):
    """The highest whole percentile with at least ten samples beyond it.
    Below 20 samples that percentile would sit under the median, so the
    median is reported."""
    s = sorted(samples)
    n = len(s)
    if n < 20:
        return statistics.median(s), "p50", n
    k = n - 10  # 1-based rank with exactly ten samples above it
    return s[k - 1], f"p{math.floor(100 * k / n)}", n


def end_to_end(records: list) -> dict:
    meta = next(r for r in records if r["k"] == "meta")
    secs = [r["seconds"] for r in records if r["k"] == "exec" and r["pass"] > 0]
    tail, pct, n = tail_stat(secs)
    return {
        "setup_s": (meta["setup_end_us"] - meta["jvm_start_us"]) / 1e6,
        "total_s": sum(secs),
        "query_p50_s": statistics.median(secs),
        "query_tail_s": tail,
        "peak_rss_mb": meta["vm_hwm_kb"] / 1024.0,
        "_tail_label": f"{pct}, n={n}",
    }


def offenders(records: list) -> dict:
    """Queries that left spark.conf changed, and layers rebuilt inside a
    timed execution (as query:layer)."""
    spans = layers.harness_spans(records)
    conf = sorted({r["q"] for r in records
                   if r["k"] in ("exec", "layer_conf") and r["conf_changed"]})
    rebuilds = set()
    for r in records:
        if r["k"] == "rebuild":
            s = layers.innermost(spans, r["time"])
            if s is not None and s["kind"] in layers.TIMED:
                rebuilds.add(f"{s['q']}:{r['layer']}")
    return {"conf_leaks": conf, "timed_rebuilds": sorted(rebuilds)}


E2E = (("setup_s", "s"), ("total_s", "s"), ("query_p50_s", "s"),
       ("query_tail_s", "s"), ("peak_rss_mb", "MB"))


def untraced_total(workload: str, spec: dict, seconds: int, total=None):
    """The last untraced total_s of this workload, build and run length (or
    record one)."""
    path = os.path.join(BUILD, "untraced_totals.json")
    key = hashlib.sha256(json.dumps([workload, spec, seconds, read(os.path.join(BUILD, "stamp"))],
                                    sort_keys=True).encode()).hexdigest()
    try:
        with open(path) as fh:
            known = json.load(fh)
    except (OSError, ValueError):
        known = {}
    if total is None:
        return known.get(key)
    known[key] = total
    with open(path, "w") as fh:
        json.dump(known, fh)
    return total


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        spec = workload_spec(args.workload)
        cp = build()
        deadline = time.time() + DEADLINE_S
        sf = fixture_dir()
        if not os.path.isdir(sf):
            raise BenchError(f"fixture directory {sf} is missing")
        with open(os.path.join(HERE, "expected_sf0.1.json")) as fh:
            expected = json.load(fh)["fingerprints"]
        order = list(spec["members"])
        random.Random(args.seed).shuffle(order)
        ctx = host_context(args.seed, order, sf)
        runs = os.path.join(BUILD, "runs")
        problems = []
        attempted = 0
        base_total = untraced_total(args.workload, spec, args.seconds) if args.trace else None
        if not args.trace or base_total is None:
            records = measure(cp, order, sf, False, args.seconds,
                              os.path.join(runs, f"{args.workload}-untraced"), deadline)
            checked = check_results(records, expected)
            problems += checked["problems"]
            attempted += sum(1 for r in records if r["k"] == "exec")
            base_total = untraced_total(args.workload, spec, args.seconds,
                                        end_to_end(records)["total_s"])
        if args.trace:
            records = measure(cp, order, sf, True, args.seconds,
                              os.path.join(runs, f"{args.workload}-traced"), deadline)
            checked = check_results(records, expected)
            problems += checked["problems"]
            attempted += sum(1 for r in records if r["k"] == "exec")
        ctx["loadavg_end"] = host_context(args.seed, order, sf)["loadavg_start"]
        meta = next(r for r in records if r["k"] == "meta")
        ctx.update({"java": meta["java_version"], "spark": meta["spark_version"],
                    "jvm_cpus": meta["cpus"], "max_heap_mb": meta["max_heap_mb"]})
    except BenchError as e:
        log(f"error: {e}")
        return 2
    finally:
        for d in glob.glob(os.path.join(BUILD, "runs", "*", "fp")):
            shutil.rmtree(d, ignore_errors=True)

    failed = len({(q, p) for q, p, _ in problems})
    e2e = end_to_end(records)
    offs = offenders(records)
    print(f"host: {json.dumps(ctx)}")
    print(f"workload {args.workload}{' (traced)' if args.trace else ''}: "
          f"{attempted} query executions (warm-up included), seed {args.seed}")
    for name, unit in E2E:
        label = f" ({e2e['_tail_label']})" if name == "query_tail_s" else ""
        print(f"  {name:<14} {e2e[name]:12.4f} {unit}{label}")
    print(f"  {'fail_ratio':<14} {failed / attempted:12.4f} ratio")
    for q, p, why in problems:
        print(f"  FAILED {q} (pass {p}): {why}")
    print(f"  conf left changed by: {', '.join(offs['conf_leaks']) or 'none'}")
    print(f"  layers rebuilt inside timed queries: {', '.join(offs['timed_rebuilds']) or 'none'}")
    if args.trace:
        metrics = layers.per_layer(records, checked["rows"], cache_bytes(sf))
        metrics["bench.trace_overhead"] = (e2e["total_s"] / base_total, "ratio")
        for name, (value, unit) in sorted(metrics.items()):
            print(f"  {name:<30} {value:14.4f} {unit}")
        out_metrics = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    else:
        out_metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": out_metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
