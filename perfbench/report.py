"""Turns the Scala client's TSV output into the benchmark's metrics, the
trace's per-layer self times, and JSON.

`dumps` is the one JSON writer for everything the benchmark emits: the
result line, the run record and the spans.
"""
import itertools
import json
import math

# A span's parent is the latest-starting span of the same operation, of a
# layer allowed to hold it, whose interval holds the span's start. Spark
# and Catalyst stamp milliseconds, so containment allows one millisecond
# of slack.
CLIENT = {"op"}
PHASE_HOLDERS = {"engine.build", "execute"}
PARENTS = {"op": set(), "dialect.translate": CLIENT, "engine.build": CLIENT,
           "execute": CLIENT, "ops.call": CLIENT,
           "catalyst.parse": PHASE_HOLDERS, "catalyst.analyze": PHASE_HOLDERS,
           "catalyst.optimize": PHASE_HOLDERS, "catalyst.physical": PHASE_HOLDERS,
           "spark.job": PHASE_HOLDERS | {"ops.call"}, "spark.stage": {"spark.job"}}
SLACK_NS = 1_000_000
# layers whose self time is reported, as "<layer>.self_s"
SELF_LAYERS = ["op", "engine.build", "execute", "ops.call", "spark.job", "spark.stage"]


def _finite(obj):
    if isinstance(obj, float) and not math.isfinite(obj):
        raise ValueError(f"not a finite number: {obj}")
    if isinstance(obj, dict):
        for k, v in obj.items():
            if not isinstance(k, str):
                raise ValueError(f"non-string key: {k!r}")
            _finite(v)
    elif isinstance(obj, (list, tuple)):
        for v in obj:
            _finite(v)


def dumps(obj):
    """Strict JSON: keys escaped, and NaN or infinity refused rather than
    written as the bare tokens most parsers reject."""
    _finite(obj)
    return json.dumps(obj, allow_nan=False, sort_keys=False)


def read_client(path):
    """The client's TSV lines, grouped by kind."""
    out = {"setup": [], "warm": [], "op": [], "metric": {}, "span": [], "host": {}}
    with open(path, encoding="utf-8") as f:
        for line in f:
            f_ = line.rstrip("\n").split("\t")
            kind = f_[0]
            if kind == "setup":
                out["setup"].append((float(f_[1]), float(f_[2])))
            elif kind == "warm":
                out["warm"].append((f_[1], float(f_[2])))
            elif kind == "op":
                out["op"].append({"name": f_[1], "kind": f_[2], "latency_s": float(f_[3]),
                                  "status": f_[4], "rows": int(f_[5]),
                                  "matched": int(f_[6]), "expected": int(f_[7]),
                                  "reason": f_[8]})
            elif kind == "metric":
                out["metric"][f_[1]] = float(f_[2])
            elif kind == "span":
                out["span"].append((f_[1], f_[2], int(f_[3]), int(f_[4])))
            elif kind == "host":
                out["host"][f_[1]] = f_[2]
    return out


def hd_median(values):
    """The Harrell-Davis estimate of the median: every order statistic
    weighted by the Beta((n+1)/2, (n+1)/2) mass of its slot of [0, 1]. A
    pass has 14 or 15 operations of unlike cost, and the sample median
    jumps between neighbouring operations as the seeded literals move
    their costs; this estimate moves smoothly."""
    v = sorted(values)
    n, a, grid = len(v), (len(values) + 1) / 2, 4096
    # the Beta(a, a) density at the midpoints of a fine grid, accumulated
    density = ((((k + 0.5) / grid) * (1 - (k + 0.5) / grid)) ** (a - 1)
               for k in range(grid))
    cdf = list(itertools.accumulate(density, initial=0.0))
    return sum(x * (cdf[round((i + 1) * grid / n)] - cdf[round(i * grid / n)])
               for i, x in enumerate(v)) / cdf[-1]


def end_to_end(client):
    lat = [o["latency_s"] for o in client["op"]]
    return {
        "setup_s": client["setup"][0][0],
        "wall_s": sum(lat),
        "op_p50_s": hd_median(lat),
        "heap_retained_mb": client["metric"]["heap_retained_mb"],
    }


def _union_ns(intervals):
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def span_tree(spans):
    """Spans as dicts with a parent index and self time: the span's
    duration minus the part of it its children cover."""
    nodes = [{"op": op, "layer": layer, "start_ns": s, "end_ns": e, "parent": None}
             for op, layer, s, e in spans if layer in PARENTS]
    # jobs a streaming query runs on its own threads carry the query's job
    # group, not the operation's: they belong to the operation running then
    ops = [n for n in nodes if n["layer"] == "op"]
    names = {n["op"] for n in ops}
    for n in nodes:
        if n["op"] not in names:
            for o in ops:
                if o["start_ns"] - SLACK_NS <= n["start_ns"] <= o["end_ns"] + SLACK_NS:
                    n["op"] = o["op"]
    by_op = {}
    for i, n in enumerate(nodes):
        by_op.setdefault(n["op"], []).append(i)
    for ids in by_op.values():
        for i in ids:
            n = nodes[i]
            holders = [j for j in ids if nodes[j]["layer"] in PARENTS[n["layer"]]
                       and nodes[j]["start_ns"] - SLACK_NS <= n["start_ns"]
                       <= nodes[j]["end_ns"] + SLACK_NS]
            if holders:
                n["parent"] = max(holders, key=lambda j: nodes[j]["start_ns"])
    children = {}
    for i, n in enumerate(nodes):
        if n["parent"] is not None:
            children.setdefault(n["parent"], []).append(i)
    for i, n in enumerate(nodes):
        s, e = n["start_ns"], n["end_ns"]
        covered = _union_ns((max(s, nodes[c]["start_ns"]), min(e, nodes[c]["end_ns"]))
                            for c in children.get(i, [])
                            if min(e, nodes[c]["end_ns"]) > max(s, nodes[c]["start_ns"]))
        n["self_ns"] = max(0, e - s - covered)
    return nodes


def per_layer(client, names):
    """Every per-layer metric in `names`, 0 where the workload does not
    reach the layer."""
    m = dict(client["metric"])
    tree = span_tree(client["span"])

    def total(layer, key=None):
        return sum((n[key] if key else n["end_ns"] - n["start_ns"])
                   for n in tree if n["layer"] == layer) / 1e9

    out = {name: 0.0 for name in names}
    for layer in ["dialect.translate", "engine.build", "ops.call", "catalyst.parse",
                  "catalyst.analyze", "catalyst.optimize", "catalyst.physical"]:
        out[f"{layer}_s"] = total(layer)
    for layer in SELF_LAYERS:
        out[f"{layer}.self_s"] = total(layer, "self_ns")
    out["tables.register_s"] = client["setup"][0][1]
    for k, v in m.items():
        if k in out:
            out[k] = v
    jobs = _union_ns((n["start_ns"], n["end_ns"]) for n in tree if n["layer"] == "spark.job")
    if jobs:
        out["spark.idle_share"] = max(0.0, 1 - m["spark.task_run_s"] / (jobs / 1e9 * m["cores"]))
    d02 = [o for o in client["op"] if o["name"] == "d02x_minhash"]
    if d02 and m.get("ops.lsh_candidates"):
        out["ops.pair_yield"] = d02[0]["rows"] / m["ops.lsh_candidates"]
    dedup = [o for o in client["op"] if o["kind"] == "dedup"]
    if dedup:
        out["ops.dedup_recall"] = (sum(o["matched"] for o in dedup)
                                   / sum(o["expected"] for o in dedup))
    wall = sum(o["latency_s"] for o in client["op"])
    out["trace.overhead_share"] = m["trace.cost_s"] / (wall - m["trace.cost_s"])
    return {k: out[k] for k in names}, tree


def result(correct, attempted, failed, values, units):
    return {"correct": correct, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": values[k], "unit": units[k]} for k in units}}
