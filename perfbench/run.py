#!/usr/bin/env python3
"""graft-bench: seeded workloads over the graft engine, with end-to-end
metrics (untraced) and per-layer metrics (--trace 1).

Run from the root of a checkout:

    python3 perfbench/run.py --workload batch_queries --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10

It builds the repository's sources together with the harness (with the
Scala compiler of the Spark jars, into .bench_build/), generates the
seeded inputs, runs one JVM (local[nproc], one client, one op at a time),
checks every output, prints a table of the metrics and, as its last line,
one JSON object. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402

WORKLOADS = ["batch_queries", "ingest"]
# A run must end within this many seconds after the build; the JVM gets all
# but 15 of them, the rest is for the data, the oracle and the report.
RUN_LIMIT_S = 170
END_TO_END = [("setup_s", "s"), ("pass_s", "s"), ("op_gmean_s", "s")]
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]
# Per-layer metrics and their units. Times and counts are per traced pass;
# skew, state size, heap and persisted RDDs are the largest value seen.
PER_LAYER = [
    ("queries.prepare_s", "s"), ("queries.build_s", "s"), ("queries.self_s", "s"),
    ("operators.eager_jobs", "count"), ("operators.persisted_rdds", "count"),
    ("operators.self_s", "s"),
    ("catalyst.analysis_s", "s"), ("catalyst.optimization_s", "s"),
    ("catalyst.planning_s", "s"), ("catalyst.self_s", "s"),
    ("catalyst.exchanges", "count"), ("catalyst.reused_exchanges", "count"),
    ("catalyst.sort_merge_joins", "count"), ("catalyst.nested_loop_joins", "count"),
    ("functions.hof_lambdas", "count"), ("functions.native_exprs", "count"),
    ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
    ("exec.task_cpu_s", "s"), ("exec.task_run_s", "s"), ("exec.cpu_util", "ratio"),
    ("exec.task_skew", "ratio"), ("exec.shuffle_write_mb", "MB"),
    ("exec.shuffle_read_mb", "MB"), ("exec.shuffle_fetch_wait_s", "s"),
    ("exec.spill_mb", "MB"), ("exec.rows_read_per_row_out", "ratio"),
    ("exec.self_s", "s"),
    ("sources.append_s", "s"), ("sources.upsert_s", "s"), ("sources.delete_s", "s"),
    ("sources.compact_s", "s"), ("sources.bytes_written_mb", "MB"),
    ("sources.scan_s", "s"), ("sources.prune_s", "s"), ("sources.changelog_s", "s"),
    ("sources.data_files", "count"), ("sources.delete_files", "count"),
    ("sources.manifests", "count"), ("sources.metadata_mb", "MB"),
    ("sources.space_amp", "ratio"), ("sources.self_s", "s"),
    ("streaming.batches", "count"), ("streaming.add_batch_s", "s"),
    ("streaming.query_planning_s", "s"), ("streaming.wal_commit_s", "s"),
    ("streaming.latest_offset_s", "s"), ("streaming.state_rows", "count"),
    ("streaming.state_mem_mb", "MB"), ("streaming.keep_ratio", "ratio"),
    ("streaming.self_s", "s"),
    ("jvm.gc_s", "s"), ("jvm.heap_peak_mb", "MB"),
    ("bench.self_s", "s"), ("bench.trace_overhead_s", "s"),
]
# Span names of the sources layer → the per-layer metric they time.
SOURCE_SPANS = {"IcebergWrite.append": "append_s", "IcebergWrite.upsert": "upsert_s",
                "IcebergWrite.deleteWhere": "delete_s", "IcebergWrite.compact": "compact_s",
                "IcebergIO.read": "scan_s", "IcebergIO.readWhere": "prune_s",
                "IcebergIO.readChangelog": "changelog_s"}


class BenchError(Exception):
    pass


def scala_sources(*dirs):
    return sorted(os.path.join(d, f) for top in dirs for d, _, fs in os.walk(top)
                  for f in fs if f.endswith(".scala"))


def sources_digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_jars(root):
    """The Spark jars the repository's own build compiles against (its
    `unmanagedBase`), else $SPARK_HOME/jars. They include the Scala
    compiler the harness is built with."""
    jars = None
    with open(os.path.join(root, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if m:
        jars = m.group(1)
    elif os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    if not jars or not any(f.startswith("scala-compiler") for f in
                           (os.listdir(jars) if os.path.isdir(jars) else ())):
        raise BenchError(f"no Spark jars with a Scala compiler at {jars!r}: build.sbt "
                         "names none in unmanagedBase and SPARK_HOME/jars has none")
    return jars


def java():
    exe = shutil.which("java")
    if not exe and os.environ.get("JAVA_HOME"):
        exe = os.path.join(os.environ["JAVA_HOME"], "bin", "java")
    if not exe or not os.access(exe, os.X_OK):
        raise BenchError("no java on PATH or under JAVA_HOME")
    return exe


def log_tail(path, lines=25):
    try:
        with open(path, errors="replace") as fh:
            return "".join(fh.readlines()[-lines:])
    except OSError:
        return ""


def scalac(root, work, sources, classpath, dest, log_path):
    """Compile `sources` into `dest` with the Scala compiler of the Spark
    jars, in a plain JVM (no build tool, nothing outside the checkout)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    staging = dest + ".partial"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    argfile = os.path.join(work, os.path.basename(dest) + ".sources")
    with open(argfile, "w") as fh:
        fh.write("\n".join(f'"{f}"' for f in sources) + "\n")
    jars = os.path.join(spark_jars(root), "*")
    cmd = [java(), "-Xss8m", "-Xmx2g", f"-Djava.io.tmpdir={tmp}", "-cp", jars,
           "scala.tools.nsc.Main", "-nowarn", "-encoding", "UTF-8", "-d", staging,
           "-classpath", os.pathsep.join(classpath + [jars]), "@" + argfile]
    with open(log_path, "w") as log:
        rc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=600).returncode
    if rc != 0:
        raise BenchError(f"scalac exited {rc}, see {log_path}:\n{log_tail(log_path)}")
    shutil.rmtree(dest, ignore_errors=True)
    os.rename(staging, dest)


def compile_once(root, work, name, tops, classpath, salt=""):
    """Compile the Scala sources under `tops` into .bench_build/perfbench/
    <name>, unless they are compiled already from the same sources.
    Returns (class directory, digest)."""
    files = scala_sources(*(os.path.join(root, t) for t in tops))
    dest = os.path.join(work, name)
    stamp = dest + ".stamp"
    digest = sources_digest(files) + salt
    if not (os.path.isdir(dest) and os.path.exists(stamp) and open(stamp).read() == digest):
        scalac(root, work, files, classpath, dest, os.path.join(work, f"build-{name}.log"))
        with open(stamp, "w") as fh:
            fh.write(digest)
    return dest, digest


def build(root, work, tests=False):
    """The repository's sources (src/main/scala) compiled together with the
    harness (perfbench/src/main/scala) and, with `tests`, the harness's
    tests. Returns the class directories."""
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        raise BenchError("no graft sources under src/main/scala: run from a checkout root")
    os.makedirs(work, exist_ok=True)
    main, digest = compile_once(root, work, "classes",
                                ["src/main/scala", "perfbench/src/main/scala"], [])
    if not tests:
        return [main]
    test, _ = compile_once(root, work, "test-classes", ["perfbench/src/test/scala"],
                           [main], salt=digest)
    return [main, test]


def spark_command(root, classes, tmp, main, *args):
    """The java command line that runs `main` with Spark, the repository's
    resources and `classes` on the classpath."""
    return ([java()] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
               "-cp", os.pathsep.join(classes + [os.path.join(root, "src", "main", "resources"),
                                                 os.path.join(spark_jars(root), "*")]),
               main, *args])


def run_jvm(root, classes, workload, seed, seconds, trace, data, out, timeout):
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = spark_command(root, classes, tmp, "graftbench.Main", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds),
                        "--trace", "1" if trace else "0", "--data", data, "--out", out)
    log_path = os.path.join(out, "jvm.log")
    with open(log_path, "w") as log:
        try:
            r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=timeout)
        except subprocess.TimeoutExpired:
            raise BenchError(f"{workload}: JVM killed after {timeout:.0f} s, see {log_path}:\n"
                             + log_tail(log_path))
    if r.returncode != 0:
        raise BenchError(f"{workload}: JVM exited {r.returncode}, see {log_path}:\n"
                         + log_tail(log_path))
    with open(os.path.join(out, "result.json")) as fh:
        return json.load(fh)


def oracle_checks(result, data, out):
    """Each registry query's result against its DuckDB oracle SQL, with the
    normalisation of tools/check.py (columns by name, rows sorted, exact
    reprs)."""
    if not result["oracle"]:
        return []
    import duckdb
    import oracle
    con = duckdb.connect()
    for t in oracle.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    checks = []
    for name, sql in sorted(result["oracle"].items()):
        ok, detail = oracle.compare(con, os.path.join(out, "outputs", name), sql)
        checks.append({"name": f"oracle:{name}", "ok": ok, "detail": detail})
    return checks


def loadavg():
    return round(os.getloadavg()[0], 2)


def summarize(result, spans, extra_checks):
    """Every metric of one run: end-to-end, the per-op-class breakdowns and,
    for a traced run, the per-layer metrics."""
    samples = result["samples"]
    checks = result["checks"] + extra_checks
    passes = result["passes"]
    untraced = [p for p in passes if not p["traced"]]
    traced = [p for p in passes if p["traced"]]
    timed = [s for s in samples if s["pass"] in {p["pass"] for p in untraced}]
    attempted, failed = stats.error_counts(samples, checks)
    ops = [s["s"] for s in timed if s["ok"] and s["kind"] != "batch"]
    if not ops or not untraced:
        raise BenchError("no timed samples")
    e2e = {
        "setup_s": stats.median(result["setup_s"]),
        "pass_s": stats.median([p["wall_s"] for p in untraced]),
        "op_gmean_s": statistics.geometric_mean(ops),
    }
    detail = {"op_samples": len(ops), "op_p50_s": stats.median(ops), "passes": len(untraced),
              "setups": len(result["setup_s"]),
              "error_rate": failed / attempted, "attempted": attempted, "failed": failed}
    named = {}
    for kind in ("query", "write", "read", "batch"):
        xs = [s["s"] for s in timed if s["kind"] == kind and s["ok"]]
        if xs:
            tk = stats.tail(xs)
            named[f"{kind}_p50_s"] = stats.median(xs)
            named[f"{kind}_tail_s"] = tk[0] if tk else None
            named[f"{kind}_tail_pct"] = f"p{tk[1]:g} of {tk[2]}" if tk else f"n={len(xs)}"
    amps = [p["after"]["space_amp"] for p in untraced if "space_amp" in p["after"]]
    if amps:
        named["space_amp"] = stats.median(amps)
    layers = per_layer(result, spans, traced, untraced) if traced else None
    return e2e, detail, named, layers, attempted, failed, checks


def per_layer(result, spans, traced, untraced):
    """Per-pass means over the traced passes."""
    traced_ids = {p["pass"] for p in traced}
    n = len(traced)
    op_pass = {int(k): v for k, v in result["op_pass"].items()}
    totals = {}

    def add(k, v):
        totals[k] = totals.get(k, 0.0) + v

    maxima = {"exec.task_skew", "streaming.state_rows", "streaming.state_mem_mb",
              "operators.persisted_rdds"}
    peaks = {}
    for op, counters in result["op_counters"].items():
        if op_pass.get(int(op)) not in traced_ids:
            continue
        for k, v in counters.items():
            if k in maxima:
                peaks[k] = max(peaks.get(k, 0.0), v)
            else:
                add(k, v)
    traced_spans = [s for s in spans if op_pass.get(s["op"]) in traced_ids]
    for layer, secs in stats.self_times(traced_spans).items():
        add(f"{layer}.self_s", secs)
    for s in traced_spans:
        dur = (s["end"] - s["start"]) / 1e9
        if s["name"] == "prepare":
            add("queries.prepare_s", dur)
        elif s["name"] == "Q.run":
            add("queries.build_s", dur)
        elif s["name"] in SOURCE_SPANS:
            add("sources." + SOURCE_SPANS[s["name"]], dur)
    out = {k: v / n for k, v in totals.items()}
    out.update(peaks)
    wall = sum(p["wall_s"] for p in traced) / n
    out["exec.cpu_util"] = out.get("exec.task_cpu_s", 0.0) / (wall * result["nproc"])
    rows_out = out.pop("exec.rows_out", 0.0)
    rows_read = out.pop("exec.rows_read", 0.0)
    out["exec.rows_read_per_row_out"] = rows_read / rows_out if rows_out else 0.0
    out["jvm.gc_s"] = sum(p["gc_s"] for p in traced) / n
    out["jvm.heap_peak_mb"] = max(p["heap_peak_mb"] for p in traced)
    after = [p["after"] for p in traced]
    for k, metric in (("space_amp", "sources.space_amp"), ("data_files", "sources.data_files"),
                      ("delete_files", "sources.delete_files"), ("manifests", "sources.manifests"),
                      ("metadata_mb", "sources.metadata_mb"), ("keep_ratio", "streaming.keep_ratio")):
        vals = [a[k] for a in after if k in a]
        if vals:
            out[metric] = stats.median(vals)
    out["sources.bytes_written_mb"] = sum(
        p["after"].get("table_mb", 0.0) for p in traced) / n
    bracket = [p["wall_s"] for p in untraced
               if any(abs(p["pass"] - t["pass"]) == 1 for t in traced)]
    out["bench.trace_overhead_s"] = (stats.median([p["wall_s"] for p in traced])
                                     - statistics.mean(bracket))
    return {name: out.get(name, 0.0) for name, _ in PER_LAYER}


def run_workload(root, work, classes, workload, seed, seconds, trace, timeout):
    import datagen
    data = os.path.join(work, "data", f"seed-{seed}")
    datagen.generate(seed, data)
    out = os.path.join(work, "runs", workload)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    result = run_jvm(root, classes, workload, seed, seconds, trace, data, out, timeout)
    spans = []
    if trace:
        with open(os.path.join(out, "spans.json")) as fh:
            spans = json.load(fh)
    return summarize(result, spans, oracle_checks(result, data, out))


def fmt(v):
    return "-" if v is None else (f"{v:.4f}" if isinstance(v, float) else str(v))


def print_report(workload, e2e, detail, named, layers, checks):
    print(f"== {workload}")
    for name, unit in END_TO_END:
        print(f"  {name:<28} {fmt(e2e[name]):>12} {unit}")
    print(f"  {'op_p50_s':<28} {fmt(detail['op_p50_s']):>12} s")
    print(f"  {'(samples)':<28} {detail['op_samples']:>12} ops in {detail['passes']} passes,"
          f" {detail['setups']} set-ups")
    for k, v in named.items():
        unit = "" if k.endswith("_pct") or k == "space_amp" else "s"
        print(f"  {k:<28} {fmt(v):>12} {unit}")
    print(f"  {'error_rate':<28} {detail['error_rate']:>12.4f} "
          f"({detail['failed']} failed of {detail['attempted']} attempted)")
    for c in checks:
        if not c["ok"]:
            print(f"  FAILED CHECK {c['name']}: {c['detail']}")
    if layers:
        for (name, unit) in PER_LAYER:
            print(f"  {name:<28} {fmt(layers[name]):>12} {unit}")


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)
    root = os.getcwd()
    work = os.path.join(root, ".bench_build", "perfbench")
    load_start = loadavg()
    names = WORKLOADS if a.workload == "all" else [a.workload]
    # Any integer seed works; the JVM and the data generator see it mod 2^31.
    seed = a.seed % 2**31
    try:
        classes = build(root, work)
        results = {}
        for w in names:
            results[w] = run_workload(root, work, classes, w, seed, a.seconds, a.trace,
                                      timeout=RUN_LIMIT_S - 15)
    except (BenchError, subprocess.TimeoutExpired, OSError, KeyError, ValueError) as e:
        print(f"graft-bench: {e}", file=sys.stderr)
        return 2
    load_end = loadavg()
    nproc = os.cpu_count()
    contended = load_start > nproc
    print(f"graft-bench seed={a.seed} nproc={nproc} loadavg start={load_start} "
          f"end={load_end} trace={a.trace}"
          + ("  ** started under load: do not compare with idle runs **" if contended else ""))
    attempted = failed = 0
    correct = True
    for w, (e2e, detail, named, layers, att, fail, checks) in results.items():
        print_report(w, e2e, detail, named, layers, checks)
        with open(os.path.join(work, "runs", w, "summary.json"), "w") as fh:
            json.dump({"seed": a.seed, "nproc": nproc, "loadavg_start": load_start,
                       "loadavg_end": load_end, "trace": a.trace, "end_to_end": e2e,
                       "detail": detail, "named": named, "per_layer": layers,
                       "failed_checks": [c for c in checks if not c["ok"]]}, fh, indent=1)
        attempted += att
        failed += fail
        correct = correct and fail == 0
    if a.workload == "all":
        metrics = {w: r[0] for w, r in results.items()}
    else:
        e2e, detail, named, layers = results[a.workload][:4]
        if a.trace:
            metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER}
        else:
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
