"""Turns the JVM's raw record of one run into the benchmark's metrics.

The raw record holds set-up times, the latency of every timed operation,
answer-check counts, work totals and, in a traced run, spans (one per call
into a layer) and Spark job counters attributed to the span that started
each job. This module owns every definition: the tail rule, self time, and
the end-to-end and per-layer metric sets.
"""

import math
import statistics

# ---------------------------------------------------------------- statistics


TAIL_BEYOND = 10


def tail_percentile(n):
    """The highest percentile of n samples that has at least TAIL_BEYOND
    samples beyond it (nearest rank), or None when n is too small."""
    return 100.0 * (n - TAIL_BEYOND) / n if n > TAIL_BEYOND else None


def tail(xs):
    """The sample at tail_percentile: the largest one with TAIL_BEYOND
    samples above it."""
    if len(xs) <= TAIL_BEYOND:
        raise ValueError(f"{len(xs)} samples: no percentile has {TAIL_BEYOND} beyond it")
    return sorted(xs)[len(xs) - TAIL_BEYOND - 1]


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


# --------------------------------------------------------------------- spans


def union_length(intervals):
    """Total length covered by a set of possibly overlapping intervals."""
    total, end = 0.0, -math.inf
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def clip(iv, lo, hi):
    a, b = max(iv[0], lo), min(iv[1], hi)
    return (a, b) if b > a else None


def self_times(spans):
    """{span id: its duration minus the part of it its children cover}.
    Children may overlap each other and may stick out of their parent;
    only the covered part inside the parent counts once."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = [c for c in (clip((k["t0"], k["t1"]), s["t0"], s["t1"])
                               for k in kids.get(s["id"], [])) if c]
        out[s["id"]] = (s["t1"] - s["t0"]) - union_length(covered)
    return out


# ------------------------------------------------------------ metric schema

END_TO_END = [
    ("setup_s", "s", "lower"),
    ("ops_per_s", "1/s", "higher"),
    ("box_read_p50_s", "s", "lower"),
    ("knn_p50_s", "s", "lower"),
    ("lookup_p50_s", "s", "lower"),
    ("p50_s", "s", "lower"),
    ("tail_s", "s", "lower"),
    ("stored_bytes_per_user_byte", "ratio", "lower"),
]

SPARK_COUNTERS = [
    ("jobs", "count"), ("tasks", "count"), ("task_busy_s", "s"), ("gc_s", "s"),
    ("driver_gap_s", "s"), ("input_bytes", "bytes"), ("shuffle_write_bytes", "bytes"),
    ("shuffle_read_bytes", "bytes"), ("spill_bytes", "bytes"),
]

# Counter groups: the calls Spark counters are reported at, as (span names
# whose jobs count, span name that counts calls).
COUNTER_GROUPS = {
    "table.read": (("table.read.plan", "table.read.exec"), "table.read.plan"),
    "table.lookup": (("table.lookup.plan", "table.lookup.exec"), "table.lookup.plan"),
    "table.append": (("table.append",), "table.append"),
    "table.delete": (("table.delete",), "table.delete"),
    "table.compact": (("table.compact",), "table.compact"),
    "index.knn_stored": (("index.knn_stored",), "index.knn_stored"),
    "index.knn_join_stored": (("index.knn_join_stored",), "index.knn_join_stored"),
}

# (metric, unit, better, how): how is ("self", span) for per-call self time,
# ("attr", span, key) for a per-call counter, ("ratio", span, num, den) for
# a ratio of summed counters.
LAYER = [
    ("table.read.plan_s", "s", "lower", ("self", "table.read.plan")),
    ("table.read.exec_s", "s", "lower", ("self", "table.read.exec")),
    ("table.read.files_ratio", "ratio", "lower",
     ("ratio", "table.read.plan", "files", "total_files")),
    ("table.read.row_precision", "ratio", "higher",
     ("ratio", "table.read.exec", "exact_rows", "superset_rows")),
    ("table.lookup.plan_s", "s", "lower", ("self", "table.lookup.plan")),
    ("table.lookup.exec_s", "s", "lower", ("self", "table.lookup.exec")),
    ("table.lookup.files_ratio", "ratio", "lower",
     ("ratio", "table.lookup.plan", "files", "total_files")),
    ("table.append.s", "s", "lower", ("self", "table.append")),
    ("table.append.bytes_written", "bytes", "lower", ("attr", "table.append", "bytes_written")),
    ("table.append.files_written", "count", "lower", ("attr", "table.append", "files_written")),
    ("table.delete.s", "s", "lower", ("self", "table.delete")),
    ("table.compact.s", "s", "lower", ("self", "table.compact")),
    ("table.compact.bytes_rewritten", "bytes", "lower",
     ("attr", "table.compact", "bytes_rewritten")),
    ("table.manifest.s", "s", "lower", ("self", "table.manifest")),
    ("table.manifest.entries", "count", "lower", ("attr", "table.manifest", "entries")),
    ("table.manifest.bytes", "bytes", "lower", ("attr", "table.manifest", "bytes")),
    ("table.manifest.tombstones", "count", "lower", ("attr", "table.manifest", "tombstones")),
    ("index.from_store_s", "s", "lower", ("self", "index.from_store")),
    ("index.seed_radius_s", "s", "lower", ("self", "index.seed_radius")),
    ("index.knn_stored_s", "s", "lower", ("self", "index.knn_stored")),
    ("index.knn_join_stored_s", "s", "lower", ("self", "index.knn_join_stored")),
    ("geo.cover.s", "s", "lower", ("self", "geo.cover")),
    ("geo.cover.ranges", "count", "lower", ("attr", "geo.cover", "ranges")),
    ("ops.box_join.s", "s", "lower", ("self", "ops.box_join")),
    ("ops.box_join.out_rows", "count", "higher", ("attr", "ops.box_join", "out_rows")),
    ("client.self_s", "s", "lower", ("self", "op.*")),
]

PER_LAYER = [(m, u, b) for m, u, b, _ in LAYER]
for _g in list(COUNTER_GROUPS) + ["ops"]:
    for _c, _u in SPARK_COUNTERS:
        PER_LAYER.append((f"{_g}.{_c}", _u, "lower"))
PER_LAYER += [("trace.ops_per_s", "1/s", "higher"), ("trace.p50_s", "s", "lower")]

# ------------------------------------------------------------ summarizing


def by_kind(samples):
    kinds = {}
    for k, v in samples:
        kinds.setdefault(k, []).append(v)
    return kinds


def end_to_end(rec):
    lat = [v for _, v in rec["samples"]]
    kinds = by_kind(rec["samples"])
    tot = rec["totals"]
    return {
        "setup_s": statistics.median(rec["setup_s"]),
        "ops_per_s": len(lat) / sum(lat),
        # serve's region-scale box reads are box reads too
        "box_read_p50_s": statistics.median(kinds["box_read"] + kinds.get("region_read", [])),
        "knn_p50_s": statistics.median(kinds["knn"]),
        "lookup_p50_s": statistics.median(kinds["lookup"]),
        "p50_s": geomean([statistics.median(v) for v in kinds.values()]),
        "tail_s": tail(lat),
        "stored_bytes_per_user_byte": tot["stored_bytes"] / tot["user_bytes"],
    }


def span_name_matches(name, pattern):
    return name.startswith(pattern[:-1]) if pattern.endswith("*") else name == pattern


def per_layer(rec):
    spans = rec["spans"]
    selfs = self_times(spans)

    def named(pattern):
        return [s for s in spans if span_name_matches(s["name"], pattern)]

    out = {}
    for metric, _, _, how in LAYER:
        ss = named(how[1])
        if how[0] == "self":
            out[metric] = sum(selfs[s["id"]] for s in ss) / 1000.0 / len(ss) if ss else 0.0
        elif how[0] == "attr":
            out[metric] = sum(s["attrs"].get(how[2], 0.0) for s in ss) / len(ss) if ss else 0.0
        else:
            den = sum(s["attrs"].get(how[3], 0.0) for s in ss)
            out[metric] = sum(s["attrs"].get(how[2], 0.0) for s in ss) / den if den else 0.0

    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s["id"])

    def subtree(sid):
        ids, todo = set(), [sid]
        while todo:
            i = todo.pop()
            ids.add(i)
            todo.extend(kids.get(i, []))
        return ids

    jobs_by_span = {}
    for j in rec["jobs"]:
        if j[0]:
            jobs_by_span.setdefault(int(j[0]), []).append(j)
    groups = dict(COUNTER_GROUPS)
    groups["ops"] = (("ops.*",), "ops.*")
    for g, (names, caller) in groups.items():
        ss = [s for n in names for s in named(n)]
        calls = len(named(caller))
        tot = dict.fromkeys((c for c, _ in SPARK_COUNTERS), 0.0)
        for s in ss:
            js = [j for i in subtree(s["id"]) for j in jobs_by_span.get(i, [])]
            covered = [c for c in (clip((j[1], j[2]), s["t0"], s["t1"]) for j in js) if c]
            tot["driver_gap_s"] += ((s["t1"] - s["t0"]) - union_length(covered)) / 1000.0
            tot["jobs"] += len(js)
            for j in js:
                tot["tasks"] += j[3]
                tot["task_busy_s"] += j[4] / 1000.0
                tot["gc_s"] += j[5] / 1000.0
                tot["input_bytes"] += j[6]
                tot["shuffle_write_bytes"] += j[7]
                tot["shuffle_read_bytes"] += j[8]
                tot["spill_bytes"] += j[9]
        for c, _ in SPARK_COUNTERS:
            out[f"{g}.{c}"] = tot[c] / calls if calls else 0.0
    e2e = end_to_end(rec)
    out["trace.ops_per_s"] = e2e["ops_per_s"]
    out["trace.p50_s"] = e2e["p50_s"]
    return out


def summarize(rec):
    """(the printed result, the full report) of one raw record."""
    traced = rec["trace"]
    schema = PER_LAYER if traced else END_TO_END
    values = per_layer(rec) if traced else end_to_end(rec)
    result = {
        "correct": rec["failed"] == 0,
        "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": {m: {"value": values[m], "unit": u} for m, u, _ in schema},
    }
    kinds = by_kind(rec["samples"])
    lat = [v for _, v in rec["samples"]]
    report = {
        "workload": rec["workload"], "seed": rec["seed"], "traced": traced,
        "result": result,
        "samples": len(lat),
        "tail_percentile": tail_percentile(len(lat)),
        "setup_s": rec["setup_s"],
        "kinds": {k: {"n": len(v), "p50_s": statistics.median(v), "max_s": max(v)}
                  for k, v in sorted(kinds.items())},
        "totals": rec["totals"],
        "raw": rec,
    }
    return result, report


def describe(report):
    lines = [f"perfbench {report['workload']} seed={report['seed']} "
             f"traced={report['traced']} samples={report['samples']} "
             f"tail=p{report['tail_percentile']:.1f} setups={report['setup_s']}"]
    for k, v in report["kinds"].items():
        lines.append(f"  {k:16s} n={v['n']:4d} p50={v['p50_s']:.4f}s max={v['max_s']:.4f}s")
    for k, v in report["totals"].items():
        lines.append(f"  total {k} = {v:g}")
    for m, v in report["result"]["metrics"].items():
        lines.append(f"  {m:34s} {v['value']:.6g} {v['unit']}")
    return "\n".join(lines)
