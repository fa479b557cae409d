"""The benchmark's arithmetic: request order, percentiles, span self time and
the end-to-end and per-layer metrics computed from the harness records.

Times in records are nanoseconds since the run began. A request id is
`<workload>/<seed>/<round>/<key>`; its child spans are `<id>/build`,
`<id>/plan`, `<id>/action` (and `<id>/check`, outside the request).
Round 0 is the cold pass; warm rounds are 1, 2, ...
"""
import math
import random
import statistics

NS = 1e9
TAIL = 0.75  # the tail percentile reported beside the median


def round_order(keys, seed, rnd):
    """The keys of round `rnd` in the order the seed gives them: a
    permutation that is the same for the same seed and round."""
    order = sorted(keys)
    random.Random(seed * 1000003 + rnd).shuffle(order)
    return order


def percentile(samples, q):
    """Nearest-rank percentile and the number of samples ranked beyond it."""
    if not samples:
        raise ValueError("no samples")
    xs = sorted(samples)
    rank = max(1, math.ceil(q * len(xs)))
    return xs[rank - 1], len(xs) - rank


def reportable_percentile(samples, q, min_beyond=10):
    """The percentile, or None when fewer than `min_beyond` samples lie
    beyond it."""
    value, beyond = percentile(samples, q)
    return value if beyond >= min_beyond else None


def min_samples(q, min_beyond=10):
    """Fewest samples for which `reportable_percentile(.., q)` reports."""
    n = 1
    while n - max(1, math.ceil(q * n)) < min_beyond:
        n += 1
    return n


def covered(start, end, children):
    """Length of [start, end] covered by the union of child intervals."""
    clipped = sorted((max(s, start), min(e, end)) for s, e in children)
    total, cur_s, cur_e = 0, None, None
    for s, e in clipped:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(start, end, children):
    """A span's duration minus the part its children cover."""
    return (end - start) - covered(start, end, children)


def ratio(num, den):
    """num / den, and 0 when there is nothing to divide by."""
    return num / den if den else 0.0


def core_busy(task_s, wall_s, cores):
    """Share of the cores' time spent running tasks."""
    return ratio(task_s, wall_s * cores)


def data_batch_ratio(batches):
    """Share of microbatches that read input rows."""
    return ratio(sum(1 for b in batches if b["input_rows"] > 0), len(batches))


def split(records):
    out = {}
    for r in records:
        out.setdefault(r["t"], []).append(r)
    return out


def end_to_end(records, setup_s):
    """The end-to-end metrics of one run, in seconds, 1/s and MB."""
    by = split(records)
    reqs = by.get("req", [])
    end = by["end"][0]
    cold = [r for r in reqs if r["round"] == 0]
    warm = [(r["end"] - r["start"]) / NS for r in reqs if r["round"] > 0]
    tail = reportable_percentile(warm, TAIL)
    if tail is None:
        raise ValueError(f"{len(warm)} warm samples are too few for p{TAIL * 100:.0f}")
    return {
        "setup_s": (setup_s, "s"),
        "cold_pass_s": (sum(r["end"] - r["start"] for r in cold) / NS, "s"),
        "request_p50_s": (statistics.median(warm), "s"),
        "request_p75_s": (tail, "s"),
        "requests_per_s": (len(warm) / ((end["warm_end"] - end["warm_start"]) / NS), "1/s"),
        "peak_rss_mb": (end["peak_rss_kb"] / 1024, "MB"),
    }


def per_layer(records):
    """Per-layer metrics of the warm rounds, per pass over the workload
    (sums divided by the number of warm rounds), from a traced run."""
    by = split(records)
    warm = [r for r in by.get("req", []) if r["round"] > 0]
    rounds = len({r["round"] for r in warm})
    cores = by["end"][0]["cores"]
    ids = {r["id"] for r in warm}

    def owner(parent):
        return parent.rsplit("/", 1) if parent and "/" in parent else (None, None)

    jobs = {}      # child span -> [(start, end)]
    tasks = {}     # child span -> counters
    batches = []
    for j in by.get("job", []):
        rid, part = owner(j["parent"])
        if rid in ids:
            jobs.setdefault(part, []).append(j)
    for t in by.get("tasks", []):
        rid, part = owner(t["parent"])
        if rid in ids:
            acc = tasks.setdefault(part, {})
            for k, v in t.items():
                if k not in ("t", "parent"):
                    acc[k] = acc.get(k, 0) + v
    for b in by.get("batch", []):
        rid, _ = owner(b["parent"])
        if rid in ids:
            batches.append(b)

    def spans(part):
        for r in warm:
            s = r["start"] if part == "build" else r["build_end"] if part == "plan" else r["plan_end"]
            e = r["build_end"] if part == "build" else r["plan_end"] if part == "plan" else r["end"]
            if s >= 0 and e >= 0:
                yield r["id"], s, e

    def total(part):
        return sum(e - s for _, s, e in spans(part)) / NS

    def self_total(part):
        kids = {}
        for j in jobs.get(part, []):
            kids.setdefault(j["parent"].rsplit("/", 1)[0], []).append((j["start"], j["end"]))
        if part == "build":
            for b in batches:
                kids.setdefault(b["parent"].rsplit("/", 1)[0], []).append((b["start"], b["end"]))
        return sum(self_time(s, e, kids.get(rid, [])) for rid, s, e in spans(part)) / NS

    def count(part, name):
        return tasks.get(part, {}).get(name, 0)

    def everywhere(name):
        return sum(count(p, name) for p in ("build", "plan", "action"))

    request_s = sum(r["end"] - r["start"] for r in warm) / NS
    build_s, plan_s, action_s = total("build"), total("plan"), total("action")
    action_task_s = count("action", "task_ms") / 1e3
    m = {
        "ops.build_s": (build_s, "s"),
        "ops.build_self_s": (self_total("build"), "s"),
        "ops.build_share": (ratio(build_s, request_s), "ratio"),
        "ops.build_jobs": (len(jobs.get("build", [])), "count"),
        "ops.build_task_s": (count("build", "task_ms") / 1e3, "s"),
        "plans.plan_s": (plan_s, "s"),
        "plans.plan_share": (ratio(plan_s, request_s), "ratio"),
        "exec.action_s": (action_s, "s"),
        "exec.action_self_s": (self_total("action"), "s"),
        "exec.jobs": (len(jobs.get("action", [])), "count"),
        "exec.stages": (count("action", "stages"), "count"),
        "exec.tasks": (count("action", "tasks"), "count"),
        "exec.task_s": (action_task_s, "s"),
        "exec.task_wait_s": (count("action", "task_wait_ms") / 1e3, "s"),
        "exec.core_busy": (core_busy(action_task_s, action_s, cores), "ratio"),
        "exec.shuffle_read_bytes": (count("action", "shuffle_read_bytes"), "B"),
        "exec.shuffle_write_bytes": (count("action", "shuffle_write_bytes"), "B"),
        "exec.spill_bytes": (everywhere("spill_bytes"), "B"),
        "exec.task_failures": (everywhere("task_failures"), "count"),
        "sources.input_bytes": (everywhere("input_bytes"), "B"),
        "sources.output_records": (everywhere("output_records"), "count"),
        "sources.staged_bytes": (sum(r.get("staged_bytes", 0) for r in warm), "B"),
        "streaming.batches": (len(batches), "count"),
        "streaming.data_batch_ratio": (data_batch_ratio(batches), "ratio"),
        "streaming.trigger_s": (sum(b["trigger_ms"] for b in batches) / 1e3, "s"),
        "streaming.add_batch_s": (sum(b["add_batch_ms"] for b in batches) / 1e3, "s"),
        "streaming.commit_s": (sum(b["commit_ms"] for b in batches) / 1e3, "s"),
        "streaming.state_rows": (sum(b["state_rows"] for b in batches), "count"),
    }
    return {k: (v if u == "ratio" else v / rounds, u) for k, (v, u) in m.items()}
