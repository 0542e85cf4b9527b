#!/usr/bin/env python3
"""The repository's benchmark: one workload, one closed loop, one client.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run compiles the engine and
the benchmark driver from source, with the Scala compiler among the
Spark jars the engine's build.sbt names, into
`.bench_build/perfbench/classes/`; later runs reuse those classes while
the sources are unchanged, and no other build writes there. The JVM side
(`perfbench.Main`) generates the seeded inputs, runs the loop and writes
a run record; this script checks outputs, prints every metric by name
with its unit, and ends with one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones of BENCHMARK.json,
with `--trace 1` the per-layer ones. The traced run also writes its full
per-layer table to `.bench_build/perfbench/trace-<workload>.json`.
Exit status: 0 when every output check passed, 1 when one failed, 2 on
bad usage or a missing engine, 3 when the build or the JVM failed.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402

WORKLOADS = ("boost", "prep_queries")
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
DRIVER_HEAP = "2g"
BUILD_TIMEOUT_S = 840
# a run ends within this many seconds of its build (if any); the
# DuckDB check of prep_queries gets the last ORACLE_RESERVE_S of them
RUN_TIMEOUT_S = 165
ORACLE_RESERVE_S = 30
# JDK 17 module opens Spark needs outside spark-submit (the root build
# passes the same list to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(msg, flush=True)


# ---------------------------------------------------------------- build

def source_files():
    """Every Scala source the build compiles: the engine's main sources
    and the benchmark's JVM side."""
    return sorted(os.path.join(d, f)
                  for r in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"))
                  for d, _, fs in os.walk(r) for f in fs if f.endswith(".scala"))


def source_digest():
    """Digest of every file the build reads from the checkout."""
    h = hashlib.sha256()
    for p in source_files() + [os.path.join(ROOT, "build.sbt")]:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def jars_dir():
    """The directory of the Spark and Scala jars the engine builds
    against: the `unmanagedBase` its build.sbt names, else
    `$SPARK_HOME/jars`."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    d = m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.path.isdir(d):
        sys.stderr.write(f"Spark jars not found at {d!r}\n")
        sys.exit(3)
    return d


def build():
    """Compile the engine and the benchmark's JVM side with the Scala
    compiler among the engine's jars into `.bench_build/perfbench/classes`
    (no other build writes there) and return the runtime classpath.
    A previous build is reused while the sources are unchanged."""
    jars = sorted(glob.glob(os.path.join(jars_dir(), "*.jar")))
    classes = os.path.join(OUT, "classes")
    stamp_file = os.path.join(OUT, "build.stamp")
    classpath = os.pathsep.join([classes] + jars)
    digest = source_digest()
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == digest:
                return classpath
    scala = [j for j in jars if re.search(r"/scala-(compiler|library|reflect)-[0-9.]+\.jar$", j)]
    if len(scala) != 3:
        sys.stderr.write(f"no Scala compiler among the jars ({[os.path.basename(j) for j in scala]})\n")
        sys.exit(3)
    shutil.rmtree(classes, ignore_errors=True)
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(OUT, "scalac.args")
    with open(args_file, "w") as f:
        f.write("\n".join(['"%s"' % p for p in source_files()]) + "\n")
    log_path = os.path.join(OUT, "build.log")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(scala),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.pathsep.join(jars),
           "-d", tmp, "@" + args_file]
    with open(log_path, "w") as lf:
        try:
            rc = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT,
                                timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    if rc != 0:
        with open(log_path, errors="replace") as f:
            tail = f.read()[-3000:]
        sys.stderr.write(f"build failed ({rc}); log {log_path}:\n{tail}\n")
        sys.exit(3)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(digest)
    return classpath


# -------------------------------------------------------------- JVM side

def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_driver(classpath, a, deadline):
    work = os.path.join(OUT, f"work-{a.workload}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    record_path = os.path.join(work, "record.json")
    # -XX:-UsePerfData: the JVM writes no hsperfdata file outside the checkout
    cmd = (["java", "-XX:-UsePerfData"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Xms{DRIVER_HEAP}", f"-Xmx{DRIVER_HEAP}", "-XX:+AlwaysPreTouch", f"-Djava.io.tmpdir={work}/tmp",
            # Spark binds to the loopback interface, whatever the host name resolves to
            "-Dspark.driver.bindAddress=127.0.0.1", "-Dspark.driver.host=127.0.0.1",
            f"-Dspark.sql.warehouse.dir={work}/warehouse",
            "-cp", classpath, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--out", record_path])
    log_path = os.path.join(work, "driver.log")
    with open(log_path, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or not os.path.exists(record_path):
        with open(log_path, errors="replace") as f:
            tail = f.read()[-4000:]
        sys.stderr.write(f"driver failed ({rc}); log {log_path}:\n{tail}\n")
        sys.exit(3)
    with open(record_path) as f:
        return json.load(f), work


# -------------------------------------------------------------- oracle

ORACLE_PASS = ("OK", "ROWS-ONLY")


def oracle_checks(record, work, deadline):
    """Each query's output against its oracle SQL in DuckDB, over the
    same parquet tables, through tools/check_oracle.py: it prints one
    `<STATUS> <name>...` line per query output it finds."""
    check_dir = os.path.join(work, "check")
    try:
        proc = subprocess.run(
            [sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"),
             record["inputs"]["tables_dir"], check_dir],
            cwd=work, capture_output=True, text=True,
            timeout=max(5.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        sys.stderr.write("the DuckDB oracle check ran out of time\n")
        sys.exit(3)
    status = {}
    for line in proc.stdout.splitlines():
        parts = line.split()
        if len(parts) >= 2 and line.startswith("  "):
            status[parts[1].rstrip(":")] = (parts[0], line.strip())
    checks = []
    for name in record["inputs"]["mix"]:
        if not os.path.isdir(os.path.join(check_dir, name)):
            continue  # its warm-up failed; the JVM side reported that
        code, detail = status.get(name, ("MISSING", f"no verdict: {proc.stderr[-300:]}"))
        checks.append({"name": f"oracle:{name}", "ok": code in ORACLE_PASS,
                       "detail": detail,
                       "ops": [o["i"] for o in record["ops"] if o["name"] == name]})
    return checks


# ------------------------------------------------------------- metrics

LAYER_CALLS = ("train", "predict.call", "query.call")
LAYER_EXECS = ("predict.exec", "query.exec")


def op_table(op, jobs, stage_list, cores_n):
    """Per-layer figures of one traced operation."""
    wall_ms = op["end_ms"] - op["start_ms"]
    busy = stats.union_length([(j["start_ms"], j["end_ms"]) for j in jobs],
                              op["start_ms"], op["end_ms"])
    row = {"wall_s": op["dur_s"], "jobs_s": busy / 1e3,
           "driver_s": max(0.0, wall_ms - busy) / 1e3, "jobs": len(jobs)}
    row.update(stats.stage_totals(stage_list, wall_ms, cores_n))
    row.update(stats.scan_totals(stage_list))
    row["call_s"] = sum(s["dur_s"] for s in op["spans"] if s["layer"] in LAYER_CALLS)
    row["exec_s"] = sum(s["dur_s"] for s in op["spans"] if s["layer"] in LAYER_EXECS)
    return row


def fit_phases(op, jobs, stages_by_job, cores_n):
    """Boosting phases of one traced fit, from the `boost:` descriptions
    the fit loops set on their jobs."""
    train = next(s for s in op["spans"] if s["layer"] == "train")
    fit_jobs = [j for j in jobs if "perfbench-layer-train" in j["tags"]]
    segs = stats.split_phases(fit_jobs, train["end_ms"])
    train_ms = train["end_ms"] - train["start_ms"]
    out = {"train_wall_s": train["dur_s"],
           "phase_cover": sum(s["wall_ms"] for s in segs) / train_ms if train_ms else 0.0}
    kinds = {}
    for seg in segs:
        k = kinds.setdefault(seg["kind"], {"wall_ms": 0, "jobs_ms": 0, "driver_ms": 0,
                                           "run_ms": 0, "rounds": set()})
        for f in ("wall_ms", "jobs_ms", "driver_ms"):
            k[f] += seg[f]
        k["run_ms"] += sum(s["run_ms"] for jid in seg["job_ids"]
                           for s in stages_by_job.get(jid, []))
        if seg["round"] is not None:
            k["rounds"].add(seg["round"])
    for kind, v in kinds.items():
        if kind == "grow":
            out["grow.jobs_s"] = v["jobs_ms"] / 1e3
            out["grow.driver_s"] = v["driver_ms"] / 1e3
            out["rounds"] = len(v["rounds"])
        elif kind == "class-grow":
            out["class_grow_s"] = v["wall_ms"] / 1e3
            out["class_grow.parallel_eff"] = (v["run_ms"] / (v["wall_ms"] * cores_n)
                                              if v["wall_ms"] else 0.0)
            out["rounds"] = len(v["rounds"])
        else:
            out[kind.replace(" ", "_").replace("-", "_") + "_s"] = v["wall_ms"] / 1e3
    return out


def mean_rows(rows):
    keys = sorted({k for r in rows for k in r})
    return {k: sum(r.get(k, 0.0) for r in rows) / len(rows) for k in keys} if rows else {}


def traced_tables(record, cores_n):
    """Layer table of each traced operation, and the phase table of each
    traced fit, as lists of (operation name, table)."""
    ev = record["trace_events"]
    jobs = [j for j in ev["jobs"] if j["end_ms"] >= 0]
    owner = stats.attribute_stages(jobs, ev["stages"])
    stages_by_job = {}
    for s in ev["stages"]:
        jid = owner.get((s["id"], s["attempt"]))
        if jid is not None:
            stages_by_job.setdefault(jid, []).append(s)
    rows, phases = [], []
    for op in record["ops"]:
        if not op["traced"] or not op["ok"]:
            continue
        tag = f"perfbench-op-{op['i']}"
        op_jobs = [j for j in jobs if tag in j["tags"]]
        op_stages = [s for j in op_jobs for s in stages_by_job.get(j["id"], [])]
        rows.append((op["name"], op_table(op, op_jobs, op_stages, cores_n)))
        if any(s["layer"] == "train" for s in op["spans"]):
            phases.append((op["name"], fit_phases(op, op_jobs, stages_by_job, cores_n)))
    return rows, phases


def by_name(items):
    out = {}
    for name, v in items:
        out.setdefault(name, []).append(v)
    return out


def durations(record, traced=None):
    """Durations of the successful operations, by operation name."""
    return by_name((o["name"], o["dur_s"]) for o in record["ops"]
                   if o["ok"] and (traced is None or o["traced"] == traced))


def gmean_of_medians(per_name):
    """Geometric mean over operation names of each name's median time:
    every operation of the mix weighs the same, however long it runs."""
    meds = [stats.median(v) for v in per_name.values()]
    return math.exp(sum(math.log(m) for m in meds) / len(meds)) if meds else float("nan")


def end_to_end(record):
    setup = record["setup"]
    per_name = durations(record)
    n_ok = sum(len(v) for v in per_name.values())
    return {
        "setup_s": (setup["session_build_s"] + stats.median(setup["reps_s"]) +
                    setup["warmup_s"], "s"),
        "op_s_gmean": (gmean_of_medians(per_name), "s"),
        "ops_per_s": (n_ok / record["window_s"], "1/s"),
    }


def timing_lines(prefix, d):
    """Median and tail of one set of operation times, with the count."""
    out = [(f"{prefix}_s_p50", stats.median(d), "s")]
    p = stats.tail_percentile(len(d))
    if p is not None:
        out.append((f"{prefix}_s_p{p}", stats.nearest_rank(d, p), "s"))
    out.append((f"{prefix}_samples", len(d), "ops"))
    return out


def workload_lines(record, failed, attempted):
    """The workload's figures by the names its operations go by
    (fit_native_s_p50, score_rows_per_s, query_s_p50, ...)."""
    per_name = durations(record)
    fig = record["figures"]
    out = []
    if record["workload"] == "boost":
        for name, d in sorted(per_name.items()):
            out += timing_lines(name, d)
            f = fig[name]
            if "train_rows" in f:
                out.append((f"{name}_row_rounds_per_s",
                            f["train_rows"] * f["rounds"] / stats.median(d), "row*rounds/s"))
                out.append((f"{name}_holdout_loss", stats.median(f["holdout_loss"]),
                            f["loss_unit"]))
                out.append((f"{name}_prior_loss", f["prior_loss"], f["loss_unit"]))
            else:
                out.append((f"{name}_rows_per_s", f["rows"] / stats.median(d), "rows/s"))
    else:
        d = [x for v in per_name.values() for x in v]
        out += timing_lines("query", d)
        out.append(("queries_per_s", len(d) / record["window_s"], "1/s"))
    out.append(("failed_ratio", failed / attempted if attempted else 0.0, "ratio"))
    return out


def per_layer(record, rows, overhead):
    """The per-layer metrics of BENCHMARK.json: means over the traced
    operations."""
    m = mean_rows([r for _, r in rows])
    return {
        "session.build_s": (record["setup"]["session_build_s"], "s"),
        "sources.scan_s": (m["scan_s"], "s"),
        "sources.scan_tasks": (m["scan_tasks"], "count"),
        "sources.input_rows": (m["input_rows"], "count"),
        "sources.input_mb": (m["input_mb"], "MB"),
        "op.call_s": (m["call_s"], "s"),
        "op.wall_s": (m["wall_s"], "s"),
        "op.jobs_s": (m["jobs_s"], "s"),
        "op.driver_s": (m["driver_s"], "s"),
        "op.jobs": (m["jobs"], "count"),
        "op.stages": (m["stages"], "count"),
        "op.tasks": (m["tasks"], "count"),
        "op.task_run_s": (m["task_run_s"], "s"),
        "op.task_cpu_s": (m["task_cpu_s"], "s"),
        "op.gc_s": (m["gc_s"], "s"),
        "op.result_mb": (m["result_mb"], "MB"),
        "op.shuffle_read_mb": (m["shuffle_read_mb"], "MB"),
        "op.shuffle_write_mb": (m["shuffle_write_mb"], "MB"),
        "op.spill_mb": (m["spill_mb"], "MB"),
        "op.task_skew": (m["task_skew"], "ratio"),
        "op.parallel_eff": (m["parallel_eff"], "ratio"),
        "storage.peak_mb": (record["trace_events"]["peak_storage_bytes"] / stats.MB, "MB"),
        "trace.overhead_s": (overhead, "s"),
    }


def trace_report(record, cores_n):
    """Per-layer metrics of a traced run. Prints the per-operation layer
    table and each fit's phase table, writes them with the tracing
    overhead to `.bench_build/perfbench/trace-<workload>.json`."""
    rows, phases = traced_tables(record, cores_n)
    traced, untraced = durations(record, True), durations(record, False)
    overhead = {n: stats.median(traced[n]) - stats.median(untraced[n])
                for n in traced if n in untraced}
    table = {"workload": record["workload"], "seed": record["seed"],
             "layers": {n: mean_rows(v) for n, v in by_name(rows).items()},
             "fit_phases": {n: mean_rows(v) for n, v in by_name(phases).items()},
             "overhead_s": overhead, "ops": [dict(r, name=n) for n, r in rows]}
    for name, t in sorted(table["fit_phases"].items()):
        for k, v in sorted(t.items()):
            log(f"layer {name} boost.{k} = {v:.6g}")
    for name, t in sorted(table["layers"].items()):
        for k, v in sorted(t.items()):
            log(f"layer {name} op.{k} = {v:.6g}")
    for name, v in sorted(overhead.items()):
        log(f"layer {name} trace.overhead_s = {v:.6g}")
    with open(os.path.join(OUT, f"trace-{record['workload']}.json"), "w") as f:
        json.dump(table, f, indent=1, sort_keys=True)
    return per_layer(record, rows, gmean_of_medians(traced) - gmean_of_medians(untraced))


# -------------------------------------------------------------- main

def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def provenance(record):
    p = dict(record["provenance"])
    p.update({"nproc": nproc(), "driver_heap": DRIVER_HEAP,
              "seed": record["seed"], "workload": record["workload"],
              "source_digest": source_digest()[:16]})
    try:
        p["git_commit"] = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True,
            timeout=10).stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        p["git_commit"] = "none"
    p["inputs"] = record["inputs"]
    return p


def main(argv):
    a = parse_args(argv)
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        sys.stderr.write("engine sources not found next to the benchmark "
                         f"({ROOT}); run from the root of a full checkout\n")
        return 2
    classpath = build()
    # a run that had to build first may take longer than one that did not
    deadline = time.time() + RUN_TIMEOUT_S
    reserve = ORACLE_RESERVE_S if a.workload == "prep_queries" else 0
    record, work = run_driver(classpath, a, deadline - reserve)

    checks = record["checks"]
    if record["workload"] == "prep_queries":
        checks = checks + oracle_checks(record, work, deadline)
    bad_ops = {o["i"] for o in record["ops"] if not o["ok"]}
    for c in checks:
        if not c["ok"]:
            bad_ops.update(c["ops"])
    attempted = len(record["ops"])
    failed = len(bad_ops)
    correct = failed == 0 and all(c["ok"] for c in checks)

    log("provenance " + json.dumps(provenance(record), sort_keys=True))
    for c in checks:
        if not c["ok"]:
            log(f"check FAILED {c['name']}: {c['detail']}")
    log(f"checks {sum(c['ok'] for c in checks)}/{len(checks)} passed")
    for name, value, unit in workload_lines(record, failed, attempted):
        log(f"metric {name} = {value:.6g} {unit}")

    metrics = trace_report(record, record["provenance"]["declared_cores"]) if a.trace else end_to_end(record)
    for name, (value, unit) in metrics.items():
        log(f"metric {name} = {value:.6g} {unit}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}),
          flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
