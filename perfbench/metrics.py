"""Metric definitions and their computation from a run report.

The measurement is a run's first pass, which executes each plan for the
first time in the session. End-to-end metrics come from it in an untraced
run, per-layer metrics from it in a traced run. Every metric of a set is
reported on every workload; a span a workload never runs reads 0.
"""
import statistics

import intervals

QUERIES = ["q_density", "q_degree_hist", "q_lpa1", "q_move1", "q_payoff",
           "q_spectrum", "q_ari", "q_topk_pagerank", "q_containment", "q_dup_survivors"]

SPANS = (["ingest.sha", "ingest.extract", "algo.hedonic", "algo.pagerank", "algo.lpa",
          "algo.cc", "algo.triangles"] + [f"query.{q}" for q in QUERIES])

# (family, unit, better)
FAMILIES = [
    ("wall_s", "s", "lower"),
    ("driver_s", "s", "lower"),
    ("jobs", "count", "lower"),
    ("stages", "count", "lower"),
    ("exec_cpu_s", "s", "lower"),
    ("gc_s", "s", "lower"),
    ("shuffle_write_mb", "MB", "lower"),
]

# (name, unit, better, bound)
END_TO_END = [
    ("wall_s", "s", "lower", 0.25),
    ("setup_s", "s", "lower", 0.25),
    ("peak_cached_mb", "MB", "lower", 0.1),
]

WORK_COUNTS = [
    ("algo.hedonic.supersteps", "count", "lower"),
    ("algo.hedonic.iter_s", "s", "lower"),
    ("algo.hedonic.build_s", "s", "lower"),
    ("algo.pagerank.iter_s", "s", "lower"),
    ("algo.pagerank.build_s", "s", "lower"),
    ("algo.hedonic.moved_per_edge", "ratio", "higher"),
    ("ingest.extract.shuffle_records_per_edge", "ratio", "lower"),
    ("algo.hedonic.checkpoint_mb", "MB", "lower"),
]

PER_LAYER = ([(f"{s}.{f}", u, b) for s in SPANS for f, u, b in FAMILIES] + WORK_COUNTS
             + [("trace.overhead_s", "s", "lower")])

# Figures printed as text lines above the result, not gated: each either
# exists on some workloads only or reads 0 when nothing leaks.
REPORTED = [
    ("hedonic_edges_per_s", "1/s"),
    ("pagerank_edges_per_s", "1/s"),
    ("extract_files_per_s", "1/s"),
    ("community_ari", "ratio"),
    ("retained_cached_mb", "MB"),
]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(report):
    first = report["passes"][0]
    setup = report["setup"]
    return {
        "wall_s": first["wall_s"],
        "setup_s": setup["session_s"] + median(setup["generate_s"]) + setup["prepare_s"],
        "peak_cached_mb": first["peak_cached_mb"],
    }


def reported(report):
    first = report["passes"][0]
    out = {name: first["values"][name] for name, _ in REPORTED if name in first["values"]}
    out["retained_cached_mb"] = first["retained_cached_mb"]
    return out


def per_layer(report, untraced_wall_s):
    """`untraced_wall_s`: the same measurement without tracing, for the
    tracing overhead (None when no untraced run is known: overhead 0)."""
    spans = report["spans"]
    groups = report["groups"]
    ops = {o["span"]: o for o in report["ops"]}
    first = report["passes"][0]
    vals = {name: 0.0 for name, _, _ in PER_LAYER}
    for s in spans:
        if s["parent"] != first["span"] or s["name"] not in SPANS:
            continue
        g = groups.get(ops[s["id"]]["group"], {})
        jobs = g.get("jobs", [])
        key = s["name"]
        vals[f"{key}.wall_s"] += (s["end_ms"] - s["start_ms"]) / 1000.0
        vals[f"{key}.driver_s"] += intervals.driver_ms(s, jobs) / 1000.0
        vals[f"{key}.jobs"] += len(jobs)
        for fam in ("stages", "exec_cpu_s", "gc_s", "shuffle_write_mb"):
            vals[f"{key}.{fam}"] += g.get(fam, 0)
        if key == "ingest.extract" and first["values"].get("edges"):
            vals["ingest.extract.shuffle_records_per_edge"] = (
                g.get("shuffle_write_records", 0) / first["values"]["edges"])
    for name, _, _ in WORK_COUNTS:
        if name in first["values"]:
            vals[name] = first["values"][name]
    if untraced_wall_s is not None:
        vals["trace.overhead_s"] = first["wall_s"] - untraced_wall_s
    return vals


def pass_self_s(report):
    """Benchmark time inside each pass that no op covered (checks, reads)."""
    spans = report["spans"]
    return [intervals.self_ms(s, spans) / 1000.0 for s in spans if s["name"] == "pass"]
