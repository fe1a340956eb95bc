"""Run one benchmark workload and print its metrics as the last stdout line.

    python3 perfbench/run.py --workload geo_dedup --seed 1 --seconds 10 --trace 0

Run from the repository root.  With ``--trace 0`` the result holds the
end-to-end metrics; with ``--trace 1`` requests are traced and untraced in
turn and the result holds the per-layer metrics (see perfbench/METRICS.md).
The line before the result is a ``detail`` object: host-noise record,
set-up split, per-series medians and samples, and any correctness failures.
"""

from __future__ import annotations

import argparse
import itertools
import json
import shutil
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import harness  # noqa: E402

#: every request type of every workload, in per-layer metric order
ALL_KINDS = (
    "cluster", "search", "geo_search", "agg_search", "build", "cache_postings",
    "append", "search_uncached", "phrase", "match_count", "exact_dup",
    "minhash_lsh", "simhash_pairs", "ngram_minhash", "band_near_pairs",
)
KIND_COUNTERS = ("jobs", "tasks", "task_ms", "driver_ms", "shuffle_bytes", "python_ms")
#: per-layer metric -> span whose mean self time (ms per call) it reports
SPAN_METRICS = {
    "clustering.cell_agg_ms": "clustering.geo_point_clustering",
    "merge.ms": "merge.merge_clusters",
    "query.search_ms": "query.search",
    "query.score_matches_ms": "query.score_matches",
    "query.df_of_ms": "query.df_of",
    "query.cache_postings_ms": "query.cache_postings",
    "query.refresh_ms": "query.refresh",
    "query.phrase_ms": "query.phrase_search",
    "query.match_count_ms": "query.match_count",
    "aggs.extended_stats_ms": "aggs.extended_stats",
    "aggs.histogram_ms": "aggs.histogram",
    "aggs.top_hits_ms": "aggs.top_hits",
    "index_build.build_ms": "index_build.build_index",
    "index_build.append_ms": "index_build.append_index",
    "dedup.exact_ms": "dedup.exact_dup_groups",
    "dedup.minhash_lsh_ms": "dedup.minhash_lsh_pairs",
    "dedup.simhash_pairs_ms": "dedup.simhash_near_pairs",
    "dedup.ngram_minhash_ms": "dedup.ngram_jaccard_pairs_minhash",
    "similarity.band_near_pairs_ms": "similarity.rp_band_near_pairs",
}
COUNT_METRICS = (
    "merge.candidates", "merge.clusters",
    "segments.files.build", "segments.bytes.build",
    "segments.files.append", "segments.bytes.append",
)
PYTHON_METRICS = ("run_ms", "bytes_sent", "bytes_received")

END_TO_END = {"setup_s": "s", "p50_ms": "ms"}


def per_layer_units() -> dict[str, str]:
    units = {}
    for kind in ALL_KINDS:
        for c in KIND_COUNTERS:
            units[f"{kind}.{c}"] = "bytes" if c.endswith("bytes") else ("ms" if c.endswith("ms") else "count")
    for m in PYTHON_METRICS:
        units[f"python.{m}"] = "ms" if m.endswith("ms") else "bytes"
    units["spark.spill_bytes"] = "bytes"
    units.update(dict.fromkeys(SPAN_METRICS, "ms"))
    for m in COUNT_METRICS:
        units[m] = "bytes" if ".bytes." in m else "count"
    units["merge.clusters_per_candidate"] = "ratio"
    units["request.driver_pct"] = "%"
    units["trace.overhead_pct"] = "%"
    return units


def _mean(values) -> float:
    return float(statistics.fmean(values)) if values else 0.0


def per_layer(tracer, timed_from: int, untraced_p50: dict, traced_p50: dict) -> dict[str, float]:
    """Reduce the traced half to the per-layer table.

    Counter metrics are means per request of that type, span metrics mean
    self time per call, counts means per call.  Types and spans that occur
    only in set-up (build, cache_postings) are read from the set-up call.
    """
    out: dict[str, float] = {}
    timed_rids = {r.rid for r in tracer.requests[timed_from:]}
    by_kind: dict[str, list[dict]] = {}
    for rec in tracer.requests[timed_from:]:
        by_kind.setdefault(rec.kind, []).append(rec.counters)
    timed_kinds = set(by_kind)
    for rec in tracer.requests[:timed_from]:  # set-up-only types: build, cache_postings
        if rec.kind not in timed_kinds:
            by_kind.setdefault(rec.kind, []).append(rec.counters)
    for kind in ALL_KINDS:
        recs = by_kind.get(kind, [])
        for c in KIND_COUNTERS:
            field = "run_ms" if c == "python_ms" else c
            out[f"{kind}.{c}"] = _mean([r[field] for r in recs])
    timed = [r.counters for r in tracer.requests[timed_from:]]
    for m in PYTHON_METRICS:
        out[f"python.{m}"] = _mean([r[m] for r in timed])
    out["spark.spill_bytes"] = _mean([r["spill_bytes"] for r in timed])
    timed_ms = tracer.self_times(timed_rids)
    all_ms = tracer.self_times()
    for metric, span in SPAN_METRICS.items():
        out[metric] = _mean(timed_ms.get(span) or all_ms.get(span, []))
    for m in COUNT_METRICS:
        out[m] = _mean(tracer.counts.get(m, []))
    cands = sum(tracer.counts.get("merge.candidates", []))
    out["merge.clusters_per_candidate"] = sum(tracer.counts.get("merge.clusters", [])) / cands if cands else 0.0
    walls = {s.rid: (s.end - s.start) * 1000.0 for s in tracer.spans if s.parent is None}
    wall = sum(walls.get(r.rid, 0.0) for r in tracer.requests[timed_from:])
    driver = sum(r.counters["driver_ms"] for r in tracer.requests[timed_from:])
    out["request.driver_pct"] = 100.0 * driver / wall if wall else 0.0
    shared = [k for k in traced_p50 if k in untraced_p50]
    if shared:
        ratio = harness.geomean([traced_p50[k] / untraced_p50[k] for k in shared])
        out["trace.overhead_pct"] = 100.0 * (ratio - 1.0)
    else:
        out["trace.overhead_pct"] = 0.0
    return out


def alternate_requests(wl, rt, tracer, deadline: float) -> tuple[dict, dict]:
    """Traced run: whole cycles (at least two) in which requests are traced
    and untraced in turn, the pattern shifted by one each cycle.  Every
    series then has traced and untraced samples, and the warm-up drift from
    one cycle to the next falls on the traced side for half the series and
    on the untraced side for the other half.  Returns the per-series medians
    (ms) of the traced and of the untraced requests."""
    sides: dict[bool, dict[str, list[float]]] = {False: {}, True: {}}
    tracer.uninstall()  # installed for set-up
    for c in itertools.count():
        if c >= 2 and time.perf_counter() >= deadline:
            break
        for i, req in enumerate(wl.cycle()):
            on = (i + c) % 2 == 1
            if on:
                tracer.install()
            rt.tracer = tracer if on else None
            series = req[4] or req[0]
            before = len(rt.samples.get(series, []))
            rt.timed(*req)
            tracer.uninstall()
            sides[on].setdefault(series, []).extend(rt.samples.get(series, [])[before:])
            wl.after(req[0])
    rt.tracer = None
    traced, untraced = ({k: statistics.median(v) * 1000.0 for k, v in side.items()} for side in (sides[True], sides[False]))
    return traced, untraced


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not harness.package_present():
        print(f"perfbench: {harness.PACKAGE}/ not found under {harness.ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(harness.ROOT))
    import tracing
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    host_before = harness.host_record()
    work = harness.make_work_dir(args.workload, args.seed)
    t0 = time.perf_counter()
    spark = harness.start_session(work)
    session_s = time.perf_counter() - t0
    try:
        tracer = tracing.Tracer(spark) if args.trace else None
        rt = harness.Runner(spark, tracer)
        wl = WORKLOADS[args.workload](rt, args.seed, work)
        if tracer:
            tracer.install()
        t = time.perf_counter()
        wl.prepare()
        prepare_s = time.perf_counter() - t
        t = time.perf_counter()
        wl.warm()
        warm_s = time.perf_counter() - t
        setup_s = time.perf_counter() - t0  # session start to the first timed request

        untraced_p50: dict = {}
        if tracer:
            timed_from = len(tracer.requests)
            p50, untraced_p50 = alternate_requests(wl, rt, tracer, time.perf_counter() + args.seconds)
        else:
            wl.loop(time.perf_counter() + args.seconds)
            p50 = rt.p50_ms()
        t = time.perf_counter()
        wl.finish()
        finish_s = time.perf_counter() - t
        if tracer:
            metrics = per_layer(tracer, timed_from, untraced_p50, p50)
            units = per_layer_units()
            trace_dir = harness.WORK_ROOT / "traces"
            trace_dir.mkdir(parents=True, exist_ok=True)
            (trace_dir / f"{args.workload}-{args.seed}.json").write_text(json.dumps(tracer.dump()))
        t = time.perf_counter()
        failed, messages = rt.gate(wl.check)
        gate_s = time.perf_counter() - t
    finally:
        harness.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    if not args.trace:
        metrics = {"setup_s": setup_s, "p50_ms": harness.geomean(list(p50.values()))}
        units = END_TO_END
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "host_before": host_before,
        "host_after": harness.host_record(),
        "setup": {"session_s": session_s, "prepare_s": prepare_s, "warm_s": warm_s},
        "after_loop": {"finish_s": finish_s, "gate_s": gate_s},
        "p50_ms_by_series": p50,
        "samples_ms_by_series": {k: [round(s * 1000.0, 1) for s in v] for k, v in rt.samples.items()},
        "facts": wl.facts,
        "failures": messages[:20],
    }
    if args.trace:
        detail["untraced_p50_ms_by_series"] = untraced_p50
    print(json.dumps({"detail": detail}))
    result = {
        "correct": failed == 0,
        "attempted": rt.attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
