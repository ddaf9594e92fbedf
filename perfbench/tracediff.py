"""Per-layer self time from a traced benchmark record, and diffs of records.

A record is the JSON file a traced run (`run.py --trace 1`) writes under
`.bench_build/traces/`: its spans (pass → call → Spark job / SQL
execution / streaming micro-batch), its raw counters and its per-layer
metrics.

    python3 perfbench/tracediff.py RECORD
        per-layer self time of one record, in seconds per traced pass
    python3 perfbench/tracediff.py --base A1 [A2 ...] --new B1 [B2 ...]
        per-layer self time and per-layer metrics of both sides, and the
        metrics whose medians moved by more than the run-to-run spread
        (the larger of the two sides' quartile distances)

Self time is a span's wall time minus the union of its children's
intervals, so children that overlap (jobs a call runs in parallel) are
not counted twice.
"""

import argparse
import json
import os
import statistics
import sys

KIND_LAYER = {"pass": "bench", "job": "spark", "sql": "plans", "batch": "streaming"}


def union_length(intervals, lo=None, hi=None):
    """Length of the union of (start, end) intervals, clipped to [lo, hi]."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    total, cur_s, cur_e = 0.0, None, None
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


def effective_parents(spans):
    """Span id → parent id. Spark spans (job, SQL execution, micro-batch)
    are recorded under the call that caused them; here each is nested
    under the shortest other Spark span of the same call that contains
    it in time, so a job inside a SQL execution inside a micro-batch is
    not counted three times."""
    spark_kinds = ("job", "sql", "batch")
    by_call = {}
    for s in spans:
        if s["kind"] in spark_kinds:
            by_call.setdefault(s["parent"], []).append(s)
    out = {s["id"]: s["parent"] for s in spans}
    for group in by_call.values():
        for s in group:
            best = None
            for c in group:
                if c is s or not (c["start"] <= s["start"] and s["end"] <= c["end"]):
                    continue
                wc, ws = c["end"] - c["start"], s["end"] - s["start"]
                if wc < ws or (wc == ws and c["id"] > s["id"]):
                    continue  # equal intervals nest the later span under the earlier
                if best is None or wc < best["end"] - best["start"]:
                    best = c
            if best is not None:
                out[s["id"]] = best["id"]
    return out


def self_times(spans):
    """Maps span id to its self time (same unit as the span times): its
    wall time minus the union of its children's intervals."""
    parents = effective_parents(spans)
    children = {}
    for s in spans:
        children.setdefault(parents[s["id"]], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"]) -
            union_length(children.get(s["id"], []), s["start"], s["end"])
            for s in spans}


def load_modules(root=None, in_pass_only=False):
    """key → module, from the benchmark's key table (only the keys a
    pass calls, with `in_pass_only`)."""
    path = os.path.join(root or os.path.dirname(os.path.abspath(__file__)), "keys.tsv")
    out = {}
    with open(path) as f:
        for line in f:
            if line.startswith("#") or line.startswith("key\t") or not line.strip():
                continue
            cols = line.rstrip("\n").split("\t")
            if cols[3] == "1" or not in_pass_only:
                out[cols[0]] = cols[2]
    return out


def layer_of(span, modules):
    if span["kind"] == "call":
        name = span["name"]
        if name in modules:
            return "operators." + modules[name]
        return "pipeline." + name.split(".", 1)[-1]
    return KIND_LAYER.get(span["kind"], span["kind"])


def layer_self_times(record, modules=None):
    """Layer → self time in seconds per traced pass (passes run before
    the listeners were attached carry no Spark spans and are left out)."""
    modules = modules if modules is not None else load_modules()
    spans = [s for s in record["spans"] if s["end"] is not None]
    traced_passes = {s["id"] for s in spans
                     if s["kind"] == "pass" and s["id"] >= record["first_traced_span"]}
    by_id = {s["id"]: s for s in spans}

    def top(s):
        while s["parent"] != -1 and s["parent"] in by_id:
            s = by_id[s["parent"]]
        return s["id"]

    keep = [s for s in spans if top(s) in traced_passes]
    st = self_times(keep)
    n = max(1, record.get("traced_passes", 1))
    out = {}
    for s in keep:
        layer = layer_of(s, modules)
        # the etl step-by-step pass runs once, after the traced passes
        per = 1 if by_id[top(s)]["name"] == "steps" else n
        out[layer] = out.get(layer, 0.0) + st[s["id"]] / 1e3 / per
    return out


def spread(values):
    """Distance between the first and third quartile."""
    if len(values) < 2:
        return 0.0
    q = statistics.quantiles(values, n=4)
    return q[2] - q[0]


def diff(base, new):
    """Rows (name, base median, new median, spread, moved) over the
    per-layer self times and metrics of two sets of records."""
    modules = load_modules()

    def table(records):
        t = {}
        for r in records:
            for k, v in layer_self_times(r, modules).items():
                t.setdefault("self." + k, []).append(v)
            for k, m in r.get("metrics", {}).items():
                t.setdefault(k, []).append(m["value"])
        return t

    a, b = table(base), table(new)
    rows = []
    for name in sorted(set(a) | set(b)):
        av, bv = a.get(name, [0.0]), b.get(name, [0.0])
        am, bm = statistics.median(av), statistics.median(bv)
        sp = max(spread(av), spread(bv))
        moved = abs(bm - am) > sp and (len(av) > 1 or len(bv) > 1 or am != bm)
        rows.append((name, am, bm, sp, moved))
    return rows


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("record", nargs="?")
    ap.add_argument("--base", nargs="+")
    ap.add_argument("--new", nargs="+")
    args = ap.parse_args(argv)

    def load(p):
        with open(p) as f:
            return json.load(f)

    if args.record:
        for layer, s in sorted(layer_self_times(load(args.record)).items()):
            print("%-40s %12.4f s" % (layer, s))
        return 0
    if not (args.base and args.new):
        ap.error("give one RECORD, or --base and --new")
    rows = diff([load(p) for p in args.base], [load(p) for p in args.new])
    print("%-40s %14s %14s %12s" % ("metric", "base", "new", "spread"))
    for name, am, bm, sp, moved in rows:
        print("%-40s %14.6g %14.6g %12.4g%s" % (name, am, bm, sp, "  MOVED" if moved else ""))
    return 0


if __name__ == "__main__":
    sys.exit(main())
