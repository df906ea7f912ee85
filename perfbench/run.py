#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one run.

Usage (from the root of a source checkout):

    python3 perfbench/run.py --workload rialto_etl --seed 1 --seconds 20 --trace 0

Builds the library and the harness from source into `.bench_build/`
(reused while the sources are unchanged), then runs the workload in one
fresh JVM on `local[nproc]` with a heap derived from MemTotal:

  * set-up (`setup_s`): process start until the session is built and one
    untimed warm-up pass is done;
  * warm passes for `--seconds` seconds, each in a seeded query order
    (tracing off with `--trace 0`; alternating traced and untraced
    passes with `--trace 1`);
  * every query's output is compared with the expected results derived
    from its DuckDB oracle (perfbench/expected/); a mismatch or an
    exception counts as a failed operation.

The last stdout line is one JSON object with `correct`, `attempted`,
`failed` and `metrics`: the end-to-end metrics with `--trace 0`, the
per-layer metrics with `--trace 1`. The line before it names
failed_frac and the other end-to-end metrics for a reader. The full
record, with provenance (nproc, heap, commit, Spark version, data dir,
seed), lands in `.bench_work/results/`.
"""
import argparse
import csv
import glob
import gzip
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import zipfile

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
DATA = "sf0.1"

END_TO_END = {"setup_s": "s", "pass_s": "s", "cpu_s": "s", "peak_rss_mb": "MB"}

PER_LAYER = {
    "GraftSession.create_s": "s",
    "SparkEntry.build_s": "s",
    "SparkEntry.build_self_s": "s",
    "SparkEntry.build_jobs": "count",
    "sources.schema_jobs": "count",
    "sources.schema_s": "s",
    "sources.write_s": "s",
    "sources.readback_s": "s",
    "sources.files_written": "count",
    "sources.bytes_written_mb": "MB",
    "operators.eager_jobs": "count",
    "operators.eager_s": "s",
    "operators.storage_peak_mb": "MB",
    "operators.retained_mb": "MB",
    "plans.plan_s": "s",
    "spark.exec_s": "s",
    "spark.exec_jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_run_s": "s",
    "spark.task_wait_frac": "ratio",
    "spark.busy_frac": "ratio",
    "spark.driver_only_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.gc_s": "s",
    "trace.jobs": "count",
    "trace.overhead_s": "s",
}

WORKLOADS = ("rialto_etl", "iterative_ops")

# The JVM options Spark 4 needs on JDK 17 outside spark-submit; the
# same list as build.sbt's javaOptions.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def nproc():
    return len(os.sched_getaffinity(0))


def heap():
    """MemTotal / 2 in GiB, clamped to 2..8, like the tier-1 command."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(max(g, 2), 8)}g"


def spark_jars():
    """The jar directory build.sbt compiles against (its unmanagedBase)."""
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        raise BenchError("no build.sbt here: run from the root of a graft checkout")
    jars = m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise BenchError(f"no Spark jars in {jars}")
    return jars


def sources(*dirs):
    out = []
    for d in dirs:
        for dirpath, _, files in os.walk(d):
            out += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def java_cmd(classes, jars, xmx, tmp):
    return (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
            # fixed heap and young generation: G1's adaptive sizing follows
            # its own GC timing, which made peak RSS spread by a third
            + [f"-Xms{xmx}", f"-Xmx{xmx}", "-Xmn1g", "-Xss8m", "-XX:-UsePerfData",
               "-Dfile.encoding=UTF-8", "-Djava.io.tmpdir=" + tmp]
            # C1 only: a pass is at its steady state after one warm-up pass.
            # With the default tiered JIT, passes kept speeding up for about
            # ten passes, more than a run can afford to wait for.
            + ["-XX:TieredStopAtLevel=1"]
            + ["-cp", os.pathsep.join(classes + [os.path.join(jars, "*")]), "perfbench.Harness"])


def jar(class_dir, path):
    with zipfile.ZipFile(path, "w", zipfile.ZIP_STORED) as z:
        for dirpath, _, files in os.walk(class_dir):
            for f in sorted(files):
                full = os.path.join(dirpath, f)
                z.write(full, os.path.relpath(full, class_dir))


def build(build_dir, jars):
    """Compile src/main and the harness with scalac into two jars,
    reused while the sources are unchanged."""
    main_src = sources(os.path.join(ROOT, "src", "main"))
    bench_src = sources(os.path.join(BENCH, "src"))
    if not main_src:
        raise BenchError("no library sources under src/main")
    h = hashlib.sha256()
    for p in main_src + bench_src:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update(" ".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    stamp_file = os.path.join(build_dir, "stamp")
    jars_out = [os.path.join(build_dir, "graft.jar"), os.path.join(build_dir, "perfbench.jar")]
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return jars_out
    log("building library and harness from source")
    shutil.rmtree(build_dir, ignore_errors=True)
    jar_cp = os.path.join(jars, "*")
    classes = [os.path.join(build_dir, "main"), os.path.join(build_dir, "bench")]
    for out, srcs, cp, target in ((classes[0], main_src, jar_cp, jars_out[0]),
                                  (classes[1], bench_src, jar_cp + os.pathsep + jars_out[0], jars_out[1])):
        os.makedirs(out)
        argfile = out + ".args"
        with open(argfile, "w") as f:
            f.write("\n".join(srcs))
        cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jar_cp, "scala.tools.nsc.Main",
               "-nowarn", "-d", out, "-classpath", cp, "@" + argfile]
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            raise BenchError("scalac failed:\n" + r.stdout[-4000:])
        jar(out, target)
        shutil.rmtree(out)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return jars_out


class Jvm:
    """One harness JVM in its own process group, stderr to a log file,
    killed when it outlives `limit_s`."""

    def __init__(self, cmd, log_path, limit_s):
        self.log_path = log_path
        self.err = open(log_path, "w")
        self.start = time.monotonic()
        self.proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=self.err,
                                     text=True, start_new_session=True)
        self.watchdog = threading.Timer(limit_s, self.kill)
        self.watchdog.start()

    def records(self):
        """Yield (seconds since start, record) for each PERFBENCH line."""
        for line in self.proc.stdout:
            if line.startswith("PERFBENCH "):
                yield time.monotonic() - self.start, json.loads(line[len("PERFBENCH "):])

    def kill(self):
        try:
            os.killpg(self.proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    def stop(self):
        """Wait for the JVM to end (killing it if it has not); its exit code."""
        self.watchdog.cancel()
        if self.proc.poll() is None:
            self.kill()
        rc = self.proc.wait()
        self.proc.stdout.close()
        self.err.close()
        return rc


def canon(df):
    """tools/check.py's comparator: columns sorted by name, each row the
    str() of its values through pandas, rows sorted."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    try:
        import check
    except ImportError as e:
        raise BenchError(f"cannot import tools/check.py's comparator: {e}")
    return check.canon(df)


def expectation(df):
    """What a query's output must match: its sorted column names, its
    row count and the sha256 of its canonical rows."""
    rows = canon(df)
    return {"columns": sorted(df.columns), "rows": len(rows), "sha256": digest(rows)}


def digest(rows):
    h = hashlib.sha256()
    for r in rows:
        h.update(r.encode("utf-8", "surrogatepass"))
        h.update(b"\n")
    return h.hexdigest()


def parquet_result(con, path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        raise BenchError(f"no output under {path}")
    return con.sql(f"SELECT * FROM read_parquet({files!r})").df()


def csv_rows(path, columns):
    """Data rows of a CSV download; every part's header must name
    `columns`."""
    n = 0
    parts = sorted(glob.glob(os.path.join(path, "part-*.csv.gz")))
    if not parts:
        raise BenchError(f"no CSV download under {path}")
    for p in parts:
        with gzip.open(p, "rt", encoding="utf-8", newline="") as f:
            reader = csv.reader(f)
            header = next(reader, None)
            if header is None:
                continue
            if sorted(header) != columns:
                raise BenchError(f"CSV header {header} in {p}")
            n += sum(1 for _ in reader)
    return n


def check_outputs(work, queries, expected, published):
    """Names of the queries whose output differs from the expected one."""
    import duckdb
    con = duckdb.connect()
    bad = []
    for q in queries:
        want = expected.get(q)
        try:
            if want is None:
                raise BenchError("no expected result")
            ok = expectation(parquet_result(con, os.path.join(work, "check", q))) == want
            if q in published:
                ok = ok and csv_rows(os.path.join(work, "out", q, "csv"), want["columns"]) == want["rows"]
        except Exception as e:  # any failure to read or compare is a failed check
            log(f"check {q}: {e}")
            ok = False
        if not ok:
            log(f"check {q}: output differs from the expected result")
            bad.append(q)
    con.close()
    return bad


def commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", default=DATA, help="data set under perfbench/data")
    args = ap.parse_args()
    if args.seconds <= 0:
        raise BenchError("--seconds must be positive")

    data = os.path.join(BENCH, "data", args.data)
    expected_file = os.path.join(BENCH, "expected", args.data + ".json")
    if not os.path.isdir(data) or not os.path.exists(expected_file):
        raise BenchError(f"no data set {args.data}")
    with open(expected_file) as f:
        expected = json.load(f)

    jars = spark_jars()
    build_dir = os.path.join(ROOT, ".bench_build", "perfbench")
    classes = build(build_dir, jars)

    work = os.path.join(ROOT, ".bench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cpus = nproc()
    xmx = heap()
    java = java_cmd(classes, jars, xmx, os.path.join(work, "tmp"))
    common = ["--workload", args.workload, "--data", data, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--cpus", str(cpus)]

    # the run, a fresh build aside, must end within 180 s
    jvm = Jvm(java + ["--mode", "run"] + common, os.path.join(work, "harness.log"), 160)
    setup_s, result = None, None
    try:
        for at, rec in jvm.records():
            if rec["event"] == "setup_done":
                setup_s = at
            elif rec["event"] == "result":
                result = rec
    finally:
        rc = jvm.stop()
    if rc != 0:
        with open(jvm.log_path) as f:
            raise BenchError(f"harness exited with {rc}; stderr tail:\n{f.read()[-3000:]}")
    if result is None or setup_s is None:
        raise BenchError("harness printed no result")

    bad = check_outputs(work, result["queries"], expected, result["published"])
    # every query execution, plus one output check per query
    attempted = int(result["attempted"]) + len(result["queries"])
    failed = len(result["failures"]) + len(bad)
    trace_errors = result.get("trace_errors", [])
    for e in trace_errors:
        log("trace: " + e)

    e2e = {
        "setup_s": setup_s,
        "pass_s": statistics.median(result["pass_s"]),
        "cpu_s": statistics.median(result["cpu_s"]),
        "peak_rss_mb": result["peak_rss_mb"],
    }
    provenance = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": cpus, "heap": xmx, "commit": commit(),
        "spark_version": result["spark_version"], "data_dir": os.path.relpath(data, ROOT),
    }
    if args.trace:
        metrics = {k: {"value": result["layers"][k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    record = {
        "provenance": provenance, "end_to_end": e2e, "failed_frac": failed / attempted,
        "passes_s": result["pass_s"], "cpu_per_pass_s": result["cpu_s"],
        "query_s": result["query_s"], "layers": result.get("layers"),
        "failures": result["failures"] + ["check:" + q for q in bad],
        "trace_errors": trace_errors,
    }
    os.makedirs(os.path.join(ROOT, ".bench_work", "results"), exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(ROOT, ".bench_work", "results", name), "w") as f:
        json.dump(record, f, indent=1)

    print("provenance " + json.dumps(provenance))
    print(" ".join(f"{k}={v:.4f} {END_TO_END[k]}" for k, v in e2e.items())
          + f" failed_frac={failed / attempted:.4f} ratio"
          + f" passes={len(result['pass_s'])} attempted={attempted} failed={failed}")
    print(json.dumps({
        "correct": failed == 0 and not trace_errors,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))


if __name__ == "__main__":
    try:
        main()
    except BenchError as e:
        log(f"error: {e}")
        sys.exit(1)
