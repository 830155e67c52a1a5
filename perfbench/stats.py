"""Metric arithmetic for the benchmark: percentiles, span self times and
the end-to-end and per-layer metrics computed from one run's detail file."""

import math
import statistics

# Percentiles a latency can be reported at, lowest first.
LADDER = (0.5, 0.9, 0.99, 0.999)


def percentile(values, q):
    """Nearest-rank percentile: the smallest sample with at least a share q
    of the samples at or below it."""
    s = sorted(values)
    if not s:
        raise ValueError("no samples")
    return s[max(0, math.ceil(q * len(s)) - 1)]


def tail_percentile(values):
    """The highest percentile of LADDER with at least ten samples beyond
    it, as (q, value); None when even the median lacks ten."""
    best = None
    for q in LADDER:
        if len(values) - math.ceil(q * len(values)) >= 10:
            best = (q, percentile(values, q))
    return best


def union_length(intervals, lo, hi):
    """Length of the union of (start, end) intervals clipped to [lo, hi]."""
    total = 0
    cur_s = cur_e = None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
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


def self_times(spans):
    """Span id -> self time in ns: the span's duration minus the part of
    its interval that its child spans cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start_ns"], s["end_ns"]))
    return {
        s["id"]: (s["end_ns"] - s["start_ns"])
        - union_length(children.get(s["id"], []), s["start_ns"], s["end_ns"])
        for s in spans
    }


def layer_self_seconds(spans):
    """Self time summed per layer, the span name's first dotted part."""
    own = self_times(spans)
    out = {}
    for s in spans:
        layer = s["name"].split(".")[0]
        out[layer] = out.get(layer, 0.0) + own[s["id"]] / 1e9
    return out


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


def _ratio(num, den):
    return num / den if den else float("nan")


def by_kind(samples):
    """Samples per operation kind that metrics read: the measured part's,
    or the set-up's for a kind the measured part does not run."""
    measured, setup = {}, {}
    for s in samples:
        if s["phase"] in ("measure", "setup"):
            (measured if s["phase"] == "measure" else setup).setdefault(s["kind"], []).append(s)
    return dict(setup, **measured)


def end_to_end(d):
    """The end-to-end metrics of one run, name -> value."""
    by = by_kind(d["samples"])
    op_ms = {s["op"]: s["ms"] for s in d["samples"]}

    def ms(kind):
        return [s["ms"] for s in by.get(kind, [])]

    def rate(kind):
        xs = by.get(kind, [])
        return _ratio(sum(s["n"] for s in xs), sum(s["ms"] for s in xs) / 1000.0)

    q = ms("query")
    return {
        "setup_s": d["setup_s"],
        "heap_after_gc_mb": d["heap_after_gc_mb"],
        "ingest_cells_per_s": rate("ingest"),
        "manifest_build_s": _median(ms("manifest_build")) / 1000.0,
        "store_bytes_per_cell": _ratio(d["sizes"]["store_bytes"], d["sizes"]["input_cells"]),
        "query_p50_ms": _median(q),
        # interpolated between the two nearest ranks: with a dozen queries
        # the nearest rank is the largest or next-largest sample alone
        "query_p90_ms": statistics.quantiles(q, n=10, method="inclusive")[8]
        if len(q) > 1 else float("nan"),
        "traverse_cells_per_s": rate("traverse"),
        "traverse_prefiltered_cells_per_s": rate("traverse_prefiltered"),
        "traverse_first_cell_ms": _median(ms("iter_first")),
        # an append is an insert followed by its manifest refresh
        "append_p50_ms": _median([s["ms"] + op_ms[s["op"] - 1]
                                  for s in by.get("manifest_refresh", [])]),
        "query_after_append_p50_ms": _median(ms("query_after_append")),
    }


def counts(d):
    """Operations attempted and failed, checks included."""
    attempted = len(d["samples"]) + d["checks"]
    failed = sum(1 for s in d["samples"] if not s["ok"]) + sum(
        1 for f in d["failures"] if f["what"].startswith("check."))
    return attempted, failed


def per_layer(d):
    """The per-layer metrics of one traced run, name -> value. They read
    the same operations as the end-to-end metrics, plus the standalone
    compaction and rollup calls."""
    chosen = {s["op"] for xs in by_kind(d["samples"]).values() for s in xs}
    kind_of = {s["op"]: s["kind"] for s in d["samples"]}
    # traced-only operations that time a measured operation's inner steps
    phase_of = {s["op"]: s["phase"] for s in d["samples"]}
    steps = {op for op, k in kind_of.items()
             if k.endswith("_steps") and phase_of[op] == "measure"}
    op_ms = {s["op"]: s["ms"] for s in d["samples"]}
    spans = [s for s in d["spans"]
             if s["op"] in chosen | steps or kind_of.get(s["op"]) == "insert_layers"]

    def vals(name, ops=chosen | steps):
        return {op: x for op, x in d["values"].get(name, []) if op in ops}

    def med(name, kinds=None):
        return _median([(s["end_ns"] - s["start_ns"]) / 1e6 for s in spans
                        if s["name"] == name and (kinds is None or kind_of[s["op"]] in kinds)])

    def mean(name):
        xs = list(vals(name).values())
        return _ratio(sum(xs), len(xs))

    def total(name):
        return sum(vals(name).values())

    compact_s = med("insert.compact") / 1000
    rollup_s = med("insert.rollup") / 1000
    insert_s = med("store.insert", ("ingest",)) / 1000
    ingested_rows = sum(n for k, n in d["sizes"]["stored_rows"].items()
                        if k.startswith("compacted/") or k == "base/10")
    # each traced query is followed by the same probes without uncompaction
    on = vals("insert.uncompact_on_ms")
    off = vals("insert.uncompact_off_ms", {op + 1 for op in on})
    on_rows = vals("insert.uncompact_on_rows")
    off_rows = vals("insert.uncompact_off_rows", {op + 1 for op in on_rows})
    engine = [e for e in d["engine"] if e["op"] in chosen]
    iters = [e for e in engine if kind_of[e["op"]] == "iter_first"]

    def per_op(key, scale=1.0):
        return _ratio(sum(e[key] for e in engine) * scale, len(engine))

    return {
        "insert.compact_s": compact_s,
        "insert.rollup_s": rollup_s,
        "insert.compaction_ratio": _ratio(d["sizes"]["input_cells"], ingested_rows),
        "insert.uncompact_extra_ms": _median([on[op] - off[op + 1] for op in on if op + 1 in off]),
        "insert.uncompact_fanout": _ratio(sum(on_rows.values()), sum(off_rows.values())),
        "store.insert_s": insert_s,
        "store.insert_other_s": insert_s - compact_s - rollup_s,
        "store.files_written": mean("store.files_written"),
        "store.bytes_written": mean("store.bytes_written"),
        "store.files_total": d["sizes"]["store_files"],
        "store.manifest_refresh_s": med("store.refreshManifest") / 1000,
        "store.query_build_ms": med("store.queryCells", ("query",)),
        "store.query_plan_ms": med("store.plan", ("query",)),
        "store.query_exec_ms": med("store.exec", ("query",)),
        "store.files_read_per_query": mean("store.files_read"),
        "store.bytes_read_per_query": mean("store.bytes_read"),
        "store.rows_scanned_per_row_returned": _ratio(total("store.rows_scanned"),
                                                      total("store.rows_returned")),
        "traverse.cells_ms": med("traverse.traversalCells"),
        "traverse.prefilter_ms": med("traverse.prefilter"),
        "traverse.prefilter_keep_ratio": _ratio(total("traverse.prefilter_kept"),
                                                total("traverse.prefilter_in")),
        "traverse.bulk_plan_ms": med("traverse.plan"),
        "traverse.bulk_exec_ms": med("traverse.exec"),
        "traverse.iter_jobs_per_cell": _ratio(sum(e["jobs"] for e in iters), len(iters)),
        "spark.jobs_per_op": per_op("jobs"),
        "spark.tasks_per_op": per_op("tasks"),
        "spark.driver_only_ms": _ratio(
            sum(op_ms[e["op"]] - e["task_union_ms"] for e in engine), len(engine)),
        "spark.task_busy_s": per_op("run_ms", 1e-3),
        "spark.shuffle_write_bytes": per_op("shuffle_write_bytes"),
        "spark.spill_bytes": per_op("spill_bytes"),
        "spark.gc_s": per_op("gc_ms", 1e-3),
    }
