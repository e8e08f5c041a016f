"""Statistics, span self-times and output checks for perfbench/run.py.

Kept free of I/O so the self-tests can drive every rule directly.
"""

import math
import statistics


def median(xs):
    return statistics.median(xs) if xs else None


def percentile_with_tail(xs, p, min_beyond=10):
    """The nearest-rank p-th percentile of xs, or None when fewer than
    `min_beyond` samples lie beyond it (so the value would rest on a
    handful of samples)."""
    n = len(xs)
    if n == 0:
        return None
    rank = max(1, math.ceil(p / 100 * n))
    if n - rank < min_beyond:
        return None
    return sorted(xs)[rank - 1]


# ---- spans ---------------------------------------------------------------

def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def link(spans, slack_ms=2.0):
    """Give every span without a parent the innermost harness span that
    contains its start: Spark's jobs, planning phases and compiles are
    recorded by listeners that cannot see the harness's call stack. The
    listeners' millisecond clock may put a start up to `slack_ms` before
    the call that caused it. Of two equally long calls the inner one, which
    opened later and so has the larger id, wins."""
    harness = [s for s in spans if not s["name"].startswith("spark.")]
    for s in spans:
        if s["parent"] or s["name"] == "bench.pass":
            continue
        inside = [h for h in harness if h is not s and
                  h["start"] - slack_ms <= s["start"] <= h["end"]]
        if inside:
            s["parent"] = min(inside, key=lambda h: (h["end"] - h["start"],
                                                     -h["id"]))["id"]
    return spans


def layer_of(name):
    return name.split(".", 1)[0]


def layer_self_times(spans):
    """layer -> its self time as wall time: the union of the layer's
    spans minus the union of their children in other layers. Spans of
    one layer that run at the same time (a stage's tasks on several
    cores) count once, so no layer's self time exceeds the wall time its
    spans cover."""
    by_id = {s["id"]: s for s in spans}
    own, kids = {}, {}
    for s in spans:
        layer = layer_of(s["name"])
        own.setdefault(layer, []).append((s["start"], s["end"]))
        p = by_id.get(s["parent"])
        if p is not None and layer_of(p["name"]) != layer:
            kids.setdefault(layer_of(p["name"]), []).append(
                (max(s["start"], p["start"]), min(s["end"], p["end"])))
    # the children are clipped to their parents, so they lie inside the
    # parent layer's union
    return {layer: union_length(iv) - union_length(
        [(a, b) for a, b in kids.get(layer, []) if b > a])
        for layer, iv in own.items()}


def descendants(spans, root_id):
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out, todo = [], [root_id]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c["id"])
    return out


# ---- output checks -------------------------------------------------------

def check_etl(observed, expected):
    """Mismatches between one etl_warehouse pass and what the generator
    planted (empty when the pass is correct)."""
    bad = []
    for src, exp in expected["audit"].items():
        got = observed.get("audit", {}).get(src)
        if got is None:
            bad.append(f"audit {src}: missing")
            continue
        if got["missing"] != exp["missing"]:
            bad.append(f"audit {src} missing {got['missing']} != "
                       f"{exp['missing']}")
        if got["violations"] != exp["violations"]:
            bad.append(f"audit {src} violations {got['violations']} != "
                       f"{exp['violations']}")
        if "duplicate_columns" in exp and \
                got["duplicate_columns"] != exp["duplicate_columns"]:
            bad.append(f"audit {src} duplicate columns "
                       f"{got['duplicate_columns']}")
    if observed.get("anomalies") != expected["anomalies"]:
        bad.append(f"anomalies {observed.get('anomalies')} != "
                   f"{expected['anomalies']}")
    if observed.get("warehouse_rows") != expected["warehouse_rows"]:
        bad.append(f"warehouse rows {observed.get('warehouse_rows')} != "
                   f"{expected['warehouse_rows']}")
    return bad


def check_stream(observed, expected):
    bad = []
    want = sorted(int(d) for d, f in expected["flags"].items() if f)
    if sorted(observed.get("flagged", [])) != want:
        bad.append(f"exact-dup flags: {len(observed.get('flagged', []))} "
                   f"flagged, {len(want)} planted")
    rows = observed.get("index_rows", {})
    if rows.get("dedup") != expected["dedup_index_rows"]:
        bad.append(f"dedup index rows {rows.get('dedup')} != "
                   f"{expected['dedup_index_rows']}")
    if rows.get("spans") != expected["span_index_rows"]:
        bad.append(f"span index rows {rows.get('spans')} != "
                   f"{expected['span_index_rows']}")
    return bad


def check_fingerprint(name, got, pins):
    """One registry query's observed result fingerprint against its pin."""
    pin = pins.get(name)
    if pin is None:
        return [f"{name}: no pinned fingerprint"]
    if got is None:
        return [f"{name}: no fingerprint observed"]
    return [f"{name}: fingerprint {k} {got.get(k)} != {pin[k]}"
            for k in ("rows", "sum", "xor") if got.get(k) != pin[k]]
