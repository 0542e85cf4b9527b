"""Arithmetic of the benchmark: percentiles, interval unions, stage
attribution and the per-phase split of a boosting fit.

Times are epoch milliseconds, as Spark's listener events carry them.
"""
import math
import re
import statistics


def median(values):
    return statistics.median(values) if values else float("nan")


def nearest_rank(values, p):
    """The p-th percentile by nearest rank: the smallest sample with at
    least p % of the samples at or below it."""
    xs = sorted(values)
    return xs[max(1, math.ceil(len(xs) * p / 100.0)) - 1]


def tail_percentile(n):
    """Percentile to report as the tail of n samples: p90 from 100
    samples on, otherwise the highest whole percentile that still has
    at least ten samples beyond its nearest-rank position. None when
    fewer than eleven samples leave no such percentile."""
    if n >= 100:
        return 90
    for p in range(99, 0, -1):
        if n - math.ceil(n * p / 100.0) >= 10:
            return p
    return None


def union_length(intervals, lo=None, hi=None):
    """Length of the union of [start, end] intervals, clipped to
    [lo, hi] when given. Overlapping intervals (concurrent jobs) count
    once, so the result never exceeds the window they share."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(clipped):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def attribute_stages(jobs, stages):
    """Map each stage attempt (id, attempt) to the job that ran it.

    A stage belongs to a job that lists it in the stage ids of its job
    start. When several do (a shared shuffle stage, or a stage that a
    later job skips), the owner is the earliest-started of the jobs
    running when the stage was submitted, else the earliest that lists
    it. Recency ("the last job started") is not used: concurrent jobs
    from a thread pool interleave."""
    listing = {}
    for j in sorted(jobs, key=lambda j: (j["start_ms"], j["id"])):
        for sid in j["stage_ids"]:
            listing.setdefault(sid, []).append(j)
    owner = {}
    for s in stages:
        cands = listing.get(s["id"], [])
        if not cands:
            continue
        t = s["submitted_ms"]
        active = [j for j in cands
                  if j["start_ms"] <= t and (j["end_ms"] < 0 or t <= j["end_ms"])]
        owner[(s["id"], s["attempt"])] = (active or cands)[0]["id"]
    return owner


_PHASE = re.compile(r"^boost: (?:r(\d+) )?(?:class-\d+ )?(.+)$")


def phase_of(description):
    """(kind, round) of a job from the `boost: <phase>` description the
    fit loops set; ("other", None) for any other job. The class index of
    a per-class grow is dropped, so a round's concurrent class fits form
    one phase."""
    m = _PHASE.match(description or "")
    if not m:
        return "other", None
    kind = m.group(2).strip()
    if description and re.search(r" class-\d+ ", description):
        kind = "class-" + kind
    return kind, (int(m.group(1)) if m.group(1) else None)


def split_phases(jobs, end_ms):
    """Split a fit into phase segments.

    Jobs are taken in submission order; a segment is a maximal run of
    jobs with the same (kind, round). A segment's wall runs from its
    first job's submission to the next segment's first submission; the
    last one ends at `end_ms`, when the fit returned. Each segment
    reports its wall, the union of its jobs' intervals inside that wall
    and the remainder, driver-side time.

    Returns a list of dicts with kind, round, start_ms, end_ms, wall_ms,
    jobs_ms, driver_ms and the job ids."""
    ordered = sorted(jobs, key=lambda j: (j["start_ms"], j["id"]))
    segs = []
    for j in ordered:
        key = phase_of(j.get("description"))
        if segs and segs[-1]["key"] == key:
            segs[-1]["jobs"].append(j)
        else:
            segs.append({"key": key, "start_ms": j["start_ms"], "jobs": [j]})
    out = []
    for k, seg in enumerate(segs):
        end = segs[k + 1]["start_ms"] if k + 1 < len(segs) else end_ms
        wall = max(0, end - seg["start_ms"])
        busy = union_length([(j["start_ms"], j["end_ms"] if j["end_ms"] >= 0 else end)
                             for j in seg["jobs"]], seg["start_ms"], end)
        out.append({"kind": seg["key"][0], "round": seg["key"][1],
                    "start_ms": seg["start_ms"], "end_ms": end, "wall_ms": wall,
                    "jobs_ms": busy, "driver_ms": wall - busy,
                    "job_ids": [j["id"] for j in seg["jobs"]]})
    return out


def task_skew(stage_list):
    """Max over median task run time, per stage with at least two tasks,
    averaged with each stage's run time as its weight. 1.0 when no stage
    has two tasks."""
    num = den = 0.0
    for s in stage_list:
        runs = s["task_run_ms"]
        if len(runs) < 2:
            continue
        med = statistics.median(runs)
        skew = max(runs) / med if med > 0 else 1.0
        num += skew * s["run_ms"]
        den += s["run_ms"]
    return num / den if den > 0 else 1.0


MB = 1024.0 * 1024.0


def stage_totals(stage_list, wall_ms, cores):
    """Counts and sums over a set of stage attempts, with the parallel
    efficiency of their task time over `wall_ms` on `cores` slots."""
    run_ms = sum(s["run_ms"] for s in stage_list)
    return {
        "stages": len(stage_list),
        "tasks": sum(s["tasks"] for s in stage_list),
        "task_run_s": run_ms / 1e3,
        "task_cpu_s": sum(s["cpu_ns"] for s in stage_list) / 1e9,
        "gc_s": sum(s["gc_ms"] for s in stage_list) / 1e3,
        "result_mb": sum(s["result_bytes"] for s in stage_list) / MB,
        "shuffle_read_mb": sum(s["shuffle_read_bytes"] for s in stage_list) / MB,
        "shuffle_write_mb": sum(s["shuffle_write_bytes"] for s in stage_list) / MB,
        "spill_mb": sum(s["spill_bytes"] for s in stage_list) / MB,
        "task_skew": task_skew(stage_list),
        "parallel_eff": run_ms / (wall_ms * cores) if wall_ms > 0 else 0.0,
    }


def scan_totals(stage_list):
    """Stages that scan a file source (cached-block reads also count as
    task input, so the input metrics alone do not identify a scan)."""
    scans = [s for s in stage_list if s["file_scan"]]
    return {
        "scan_s": sum(s["run_ms"] for s in scans) / 1e3,
        "scan_tasks": sum(s["tasks"] for s in scans),
        "input_rows": sum(s["input_records"] for s in scans),
        "input_mb": sum(s["input_bytes"] for s in scans) / MB,
    }
