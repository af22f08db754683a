#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds graft and the
harness from source (sbt, offline) into perfbench/target; later runs
reuse the build while the sources are unchanged. Each run generates
its inputs from the seed, starts one JVM (local[nproc], one client
thread issuing ops back to back), warms up at bench scale, measures
rounds of the workload's ops for --seconds, and checks every output.

The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end metrics of BENCHMARK.json, with --trace 1
the per-layer ones. The line before it carries the details (seed,
environment, source hash, tail percentile and sample count,
workload-specific figures). See perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ("queries", "lifecycle")
# End-to-end metrics on the result line; the detail line carries these and
# the round wall time, op latencies, memory and workload figures, which
# move too much between runs on a shared host to bound (see README.md).
END_TO_END = ("setup_s", "cpu_s")
# The input tables are a fixed fixture, like the project's sf fixtures:
# generated at this scale from this seed. The workload seed drives op
# order, batch composition and stream splits, not the table contents.
SCALE = 0.01
DATA_SEED = 42
# Each run finishes this many rounds even past --seconds, so the tail
# percentile (the highest with ten samples beyond it) is fixed per workload.
MIN_ROUNDS = {"queries": 2, "lifecycle": 1}
# Traced runs alternate traced and untraced rounds; two at least, so the
# tracing overhead (traced minus untraced round) is measured.
TRACED_MIN_ROUNDS = 2
# Layer figures one workload measures itself; they read 0 on the other.
WORKLOAD_LAYERS = ("index.files_written", "index.live_bytes", "index.live_files",
                   "streaming.backlog_files")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 870
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_hash():
    """sha256 over the graft and harness sources and build files."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main", "scala"),
             os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in sorted(paths):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def git_sha():
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("Spark jars not found: set SPARK_HOME")
    return home


def run_bounded(cmd, limit, **kw):
    """Run cmd with its output on stderr; kill it (and wait) past limit."""
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, **kw)
    try:
        return proc.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"{cmd[0]} exceeded {limit:.0f} s")


def build(sources):
    """Package graft + harness into one jar unless it matches the sources.
    Returns (jar, class-data archive)."""
    build_dir = os.path.join(HERE, ".build")
    stamp = os.path.join(build_dir, "stamp")
    jar = os.path.join(HERE, "target", "scala-2.13", "graft-perfbench_2.13-0.jar")
    # Class-data sharing archive of the classes a run loads: written at the
    # exit of the first run after a build, mapped by every later run, so
    # JVM and Spark start-up are not dominated by class loading.
    jsa = os.path.join(build_dir, "classes.jsa")
    if os.path.exists(stamp) and open(stamp).read() == sources \
            and os.path.isfile(jar):
        return jar, jsa
    os.makedirs(build_dir, exist_ok=True)
    for stale in (stamp, jsa):
        if os.path.exists(stale):
            os.remove(stale)
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    env["SBT_OPTS"] = " ".join([
        env.get("SBT_OPTS", ""), "-Dsbt.offline=true",
        "-Dsbt.server.autostart=false",
        f"-Dsbt.global.base={os.path.join(build_dir, 'sbt-global')}"]).strip()
    log("building graft and the harness (sbt package)")
    code = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "package"],
                       BUILD_LIMIT_S, cwd=HERE, env=env)
    if code != 0 or not os.path.isfile(jar):
        fail(f"build failed (sbt exit {code})")
    with open(stamp, "w") as fh:
        fh.write(sources)
    return jar, jsa


def heap():
    """Driver heap: SPARK_DRIVER_MEM if set, else a quarter of RAM, 2-4 GiB."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        return f"{min(4, max(2, kb // (4 << 20)))}g"
    except (OSError, StopIteration):
        return "2g"


def tail(values, n_min):
    """Highest percentile with at least ten samples beyond it, taken at
    the run's guaranteed sample count so it is the same on every run."""
    p = max(0.5, 1.0 - 10.0 / n_min)
    s = sorted(values)
    return s[min(len(s) - 1, max(0, math.ceil(p * len(s)) - 1))], p


def oracle_check(result_dir, data_dir):
    """Compare each pinned result with DuckDB running the query's oracle
    SQL on the same tables (the tools/compare.py comparison)."""
    import duckdb
    oracle = json.load(open(os.path.join(result_dir, "oracle_sql.json")))
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{data_dir}/{t}.parquet')")

    def sig(df):
        cols = sorted(df.columns)
        def cell(v):
            if isinstance(v, float):
                return "NaN" if math.isnan(v) else repr(v)
            return repr(v)
        return cols, [tuple(cell(v) for v in row)
                      for row in df[cols].itertuples(index=False, name=None)]

    errors = []
    for name, sql in sorted(oracle.items()):
        try:
            got = sig(con.sql(f"SELECT * FROM read_parquet("
                              f"'{result_dir}/{name}/*.parquet')").df())
            want = sig(con.sql(sql).df())
        except Exception as e:  # a failing oracle is a failed check
            errors.append(f"{name}: {e}")
            continue
        if got != want:
            errors.append(f"{name}: result differs from the DuckDB oracle "
                          f"({len(got[1])} vs {len(want[1])} rows)")
    return errors


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("graft sources (src/main/scala/graft) not found: run from a "
             "checkout of the repository")
    sources = source_hash()
    jar, jsa = build(sources)
    t_start = time.time()  # a run's own time limit starts after the build

    work = os.path.join(HERE, "out", f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    data = os.path.join(work, "data")
    import gen
    gen_times, gen_cpu = [], []
    for _ in range(3):  # staged several times; set-up counts the median
        t0, c0 = time.time(), time.process_time()
        gen.write(data, DATA_SEED, SCALE)
        gen_times.append(time.time() - t0)
        gen_cpu.append(time.process_time() - c0)
    gen_s = statistics.median(gen_times)

    cores = os.cpu_count() or 1
    try:
        cores = len(os.sched_getaffinity(0))
    except AttributeError:
        pass
    out = os.path.join(work, "result.json")
    min_rounds = MIN_ROUNDS[args.workload]
    if args.trace:
        min_rounds = max(min_rounds, TRACED_MIN_ROUNDS)
    cds = f"-XX:SharedArchiveFile={jsa}" if os.path.exists(jsa) \
        else f"-XX:ArchiveClassesAtExit={jsa}"
    cmd = ["java", f"-Xmx{heap()}", cds,
           f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           f"-Dperfbench.corrupt={os.environ.get('PERFBENCH_CORRUPT', '')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{jar}:{os.path.join(spark_home(), 'jars', '*')}",
            "perfbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--data", data, "--work", work,
            "--out", out, "--min-rounds", str(min_rounds),
            "--launched", repr(time.time() * 1e3)]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores))
    limit = RUN_LIMIT_S - (time.time() - t_start)
    code = run_bounded(cmd, limit, env=env, cwd=work)
    if code != 0 or not os.path.exists(out):
        fail(f"harness failed (exit {code})", 3)
    res = json.load(open(out))

    errors = list(res["warmup_errors"])
    if args.workload == "queries" and not errors:
        errors += oracle_check(os.path.join(work, "results"), data)
    samples = [s for s in res["samples"] if not s["traced"]] or res["samples"]
    failed = sum(1 for s in res["samples"] if s["error"]) + len(errors)
    attempted = max(1, len(res["samples"])) + len(errors)
    secs = [s["sec"] for s in samples]
    per_round = sum(1 for s in res["samples"] if s["round"] == 0)
    n_min = per_round * min_rounds
    plain = [r for r in res["rounds"] if not r["traced"]] or res["rounds"]
    walls = [r["wall_s"] for r in plain]
    cpus = [r["cpu_s"] for r in plain]
    tail_s, tail_p = tail(secs, n_min) if secs else (0.0, 0.0)
    setup_wall_s = gen_s + res["session_s"] + res["prepare_s"] + \
        statistics.median(res["stage_s"]) + res["warmup_s"]
    e2e = {
        # set-up as CPU seconds: staging the inputs once, and the JVM from
        # its start to the first timed op (session, preparation, warm-up)
        "setup_s": (statistics.median(gen_cpu) + res["setup_cpu_s"], "s"),
        "setup_wall_s": (setup_wall_s, "s"),
        "wall_s": (statistics.median(walls) if walls else 0.0, "s"),
        "cpu_s": (statistics.median(cpus) if cpus else 0.0, "s"),
        "op_p50_s": (statistics.median(secs) if secs else 0.0, "s"),
        "op_tail_s": (tail_s, "s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MiB"),
    }
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "scale": SCALE, "git_sha": git_sha(), "source_sha256": sources,
        "env": dict(res["env"], heap=heap()),
        "error_rate": failed / attempted,
        "errors": errors + [f"{s['name']}: {s['error']}"
                            for s in res["samples"] if s["error"]],
        "rounds": len(res["rounds"]), "samples": len(res["samples"]),
        "op_tail_percentile": round(100 * tail_p, 1),
        "op_tail_samples": len(secs),
        "setup_parts_s": {"generate": gen_s, "session": res["session_s"],
                          "prepare": res["prepare_s"],
                          "stage_median": statistics.median(res["stage_s"]),
                          "warmup": res["warmup_s"]},
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "workload_metrics": res["extra"],
    }
    if args.trace:
        layers = dict(dict.fromkeys(WORKLOAD_LAYERS, 0.0), **res["layers"])
        metrics = {k: {"value": v, "unit": unit_of(k)}
                   for k, v in sorted(layers.items())}
        detail["trace_file"] = os.path.relpath(os.path.join(work, "trace.json"), ROOT)
    else:
        metrics = {k: {"value": e2e[k][0], "unit": e2e[k][1]} for k in END_TO_END}
    for e in detail["errors"]:
        log(f"FAILED {e}")
    shutil.rmtree(os.path.join(work, "data"), ignore_errors=True)
    shutil.rmtree(os.path.join(work, "tmp"), ignore_errors=True)
    with open(os.path.join(work, "summary.json"), "w") as fh:
        json.dump({"detail": detail, "metrics": metrics}, fh, indent=1)
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


def unit_of(name):
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "bytes"
    if name.endswith(("_share", "_overlap", "skew", "_per_result")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()
