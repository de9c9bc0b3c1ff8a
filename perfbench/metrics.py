"""Turn one raw run record (written by the JVM harness) into metrics.

End-to-end metrics come from untraced runs; per-layer metrics from traced
runs (see ``layers.json`` for which metric each layer should move, on
which workload). All statistics keep every sample: medians and quartiles,
never a minimum or a re-measure.
"""
import math
import statistics

MB = 1024.0 * 1024.0
MODULES = ["dedup", "similarity", "corpus", "multimodal", "embeddings",
           "contamination", "other"]


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------

def median(xs):
    return statistics.median(xs) if xs else 0.0


def quartiles(xs):
    """(q1, median, q3) as ``statistics.quantiles(n=4)`` gives them."""
    if len(xs) < 2:
        v = xs[0] if xs else 0.0
        return v, v, v
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def tail_percentile(n):
    """Highest whole percentile with at least 10 of ``n`` samples beyond
    its nearest-rank value, never below the median (50); ``n`` < 20
    leaves no percentile above the median that qualifies."""
    if n <= 10:
        return 50
    return max(50, math.floor(100.0 * (n - 10) / n))


def percentile(xs, p):
    """Nearest-rank percentile ``p`` (1..100) of the samples ``xs``."""
    s = sorted(xs)
    k = max(1, math.ceil(p / 100.0 * len(s)))
    return s[k - 1]


def tail(xs):
    """(value, percentile, samples beyond it) under :func:`tail_percentile`."""
    if not xs:
        return 0.0, 50, 0
    p = tail_percentile(len(xs))
    v = median(xs) if p == 50 else percentile(xs, p)
    return v, p, sum(1 for x in xs if x > v)


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------

def covered(intervals, lo, hi):
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    segs = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                  if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in segs:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans):
    """Span id -> self time (ms): its duration minus the part of its
    interval that its children's intervals cover (overlapping children
    count once)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        ch = [(c["start_ms"], c["end_ms"]) for c in kids.get(s["id"], [])]
        dur = s["end_ms"] - s["start_ms"]
        out[s["id"]] = dur - covered(ch, s["start_ms"], s["end_ms"])
    return out


def self_time_violations(spans, layers=("queries", "refresh"),
                         tol_ms=1e-6):
    """Trace roots (query and refresh spans) whose subtree self times do
    not add up to their wall."""
    selfs = self_times(spans)
    bad = []
    for root in spans:
        if root["layer"] not in layers or root["trace"] != root["id"]:
            continue
        total = sum(selfs[s["id"]] for s in spans
                    if s["trace"] == root["id"])
        wall = root["end_ms"] - root["start_ms"]
        if abs(total - wall) > tol_ms * max(1.0, wall):
            bad.append(f"{root['name']}#{root['id']}: self sum {total:.6f} "
                       f"ms vs wall {wall:.6f} ms")
    return bad


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------

# printed by untraced runs but not gated (see layers.json for why); the
# refresh_* and store_ names are provider_refresh's own names for metrics
# it also reports under the gated ones
INFO_UNITS = {"task_cpu_s": "s", "query_p50_s": "s", "query_tail_s": "s",
              "peak_rss_mb": "MB", "fail_ratio": "ratio",
              "refresh_full_s": "s", "refresh_incr_s": "s",
              "store_bytes_per_record": "B"}


def end_to_end(rec, ready_s):
    """The end-to-end metrics of an untraced run, with the detail lines
    (quartiles, sample counts, percentile) the launcher prints."""
    cold = [p["wall_s"] for p in rec["passes"] if p["kind"] == "cold"]
    warm = [p for p in rec["passes"] if p["kind"] == "warm"
            and not p["traced"]]
    warm_idx = {p["pass"] for p in warm}
    ops = [o["wall_s"] for o in rec["ops"] if o["pass"] in warm_idx]
    tail_v, tail_p, beyond = tail(ops)
    walls = [p["wall_s"] for p in warm]
    tasks = [p["task_s"] for p in warm]
    m = {
        "setup_s": ready_s + rec["counters"].get("staging_s", 0.0),
        "cold_pass_s": median(cold),
        "warm_pass_s": median(walls),
        "live_heap_mb": rec["counters"].get("live_heap_mb", 0.0),
        "peak_rss_mb": rec["peak_rss_mb"],
        "task_cpu_s": median(tasks),
        "query_p50_s": median(ops),
        "query_tail_s": tail_v,
        "fail_ratio": rec["failed"] / max(1, rec["attempted"]),
    }
    if rec["workload"] == "provider_refresh":
        m.update({
            "refresh_full_s": m["cold_pass_s"],
            "refresh_incr_s": m["warm_pass_s"],
            "store_bytes_per_record":
                rec["counters"].get("sinks.bytes_per_record", 0.0),
        })
    detail = {
        "cold_pass_s": _q(cold),
        "warm_pass_s": _q(walls),
        "task_cpu_s": _q(tasks),
        "query_p50_s": _q(ops),
        "query_tail_s": f"p{tail_p}, n={len(ops)}, {beyond} beyond",
        "peak_rss_mb": "VmHWM; the heap is fixed at -Xms = -Xmx",
        "fail_ratio": f"{rec['failed']} of {rec['attempted']} operations",
        "refresh_full_s": "= cold_pass_s",
        "refresh_incr_s": "= warm_pass_s",
        "store_bytes_per_record": "refreshed stores' parquet bytes / rows",
    }
    return m, detail


def _q(xs):
    q1, q2, q3 = quartiles(xs)
    return f"q1 {q1:.4f}, median {q2:.4f}, q3 {q3:.4f}, n={len(xs)}"


def per_layer(rec):
    """Every per-layer metric of a traced run. Catalog layers are per
    traced warm pass; provider layers are totals over the one traced full
    sync and the one traced refresh round."""
    spans = rec["spans"]
    by_id = {s["id"]: s for s in spans}
    traced_passes = {p["pass"] for p in rec["passes"] if p["traced"]}
    provider = rec["workload"] == "provider_refresh"

    kind = {p["pass"]: p["kind"] for p in rec["passes"]}

    def pass_of(s):
        while s is not None and s["layer"] != "pass":
            s = by_id.get(s["parent"])
        return int(s["name"].split("-")[1]) if s else None

    in_scope = {s["id"] for s in spans if pass_of(s) in traced_passes}
    npass = 1 if provider else max(1, len([
        p for p in rec["passes"] if p["traced"] and p["kind"] == "warm"]))
    stages = [st for st in rec["stages"]
              if st["span"] and int(st["span"]) in in_scope]
    jobs = [j for j in rec["jobs"]
            if j["span"] and int(j["span"]) in in_scope]

    def named(name, layer=None):
        return [s for s in spans if s["id"] in in_scope and s["name"] == name
                and (layer is None or s["layer"] == layer)]

    def wall(ss):
        return sum(s["end_ms"] - s["start_ms"] for s in ss) / 1000.0

    def attr(ss, key):
        return sum(s["attrs"].get(key, 0.0) for s in ss)

    def under(ss):
        """Stages launched inside any of the spans ``ss`` (or below)."""
        ids = {s["id"] for s in ss}
        hit = set()
        for s in spans:
            t = s
            while t is not None:
                if t["id"] in ids:
                    hit.add(s["id"])
                    break
                t = by_id.get(t["parent"])
        return [st for st in stages if int(st["span"]) in hit]

    m = {}
    # engine
    roots = [s for s in spans if s["id"] in in_scope
             and s["trace"] == s["id"] and s["layer"] in ("queries", "refresh")]
    gap, window = 0.0, 0.0
    for r in roots:
        kids = [s for s in spans if s["parent"] == r["id"]
                and s["name"] != "release"]
        if not kids:
            continue
        lo = min(k["start_ms"] for k in kids)
        hi = max(k["end_ms"] for k in kids)
        ivs = [(st["submit_ms"], st["complete_ms"]) for st in under([r])
               if st["complete_ms"] >= st["submit_ms"] > 0]
        window += hi - lo
        gap += (hi - lo) - covered(ivs, lo, hi)
    task_s = sum(st["run_ms"] for st in stages) / 1000.0
    m.update({
        "engine.jobs": len(jobs) / npass,
        "engine.stages": len(stages) / npass,
        "engine.tasks": sum(st["tasks"] for st in stages) / npass,
        "engine.task_s": task_s / npass,
        "engine.task_wait_s": sum(st["wait_ms"] for st in stages)
        / 1000.0 / npass,
        "engine.max_task_s": max([st["max_task_ms"] for st in stages],
                                 default=0) / 1000.0,
        "engine.gc_s": sum(st["gc_ms"] for st in stages) / 1000.0 / npass,
        "engine.input_mb": sum(st["input_bytes"] for st in stages)
        / MB / npass,
        "engine.shuffle_read_mb": sum(st["shuffle_read_bytes"]
                                      for st in stages) / MB / npass,
        "engine.shuffle_write_mb": sum(st["shuffle_write_bytes"]
                                       for st in stages) / MB / npass,
        "engine.spill_mb": sum(st["spill_bytes"] for st in stages)
        / MB / npass,
        "engine.driver_gap_s": gap / 1000.0 / npass,
        "engine.busy_share": (task_s * 1000.0 / (window * _cores(rec))
                              if window > 0 else 0.0),
    })
    # queries
    builds = named("build", "queries")
    build_ids = {s["id"] for s in builds}
    m.update({
        "queries.build_s": wall(builds) / npass,
        "queries.eager_jobs": len([j for j in jobs
                                   if int(j["span"]) in build_ids]) / npass,
        "queries.plan_s": wall(named("plan", "queries")) / npass,
        "queries.exec_s": wall(named("execute", "queries")) / npass,
        "queries.release_s": wall(named("release", "queries")) / npass,
    })
    # staging (set-up, traced in every run that stages)
    c = rec["counters"]
    m.update({
        "staging.prestage_s": c.get("staging_s", 0.0),
        "staging.fixtures_built": c.get("staging.fixtures_built", 0.0),
        "staging.bytes_mb": c.get("staging.bytes_mb", 0.0),
    })
    # operators, by the module each catalog query exercises
    modules = rec.get("modules", {})
    for mod in MODULES:
        qs = [r for r in roots if r["layer"] == "queries"
              and modules.get(r["name"]) == mod]
        kids = [s for s in spans if s["parent"] in {q["id"] for q in qs}
                and s["name"] != "release"]
        m[f"operators.{mod}.warm_s"] = wall(kids) / npass
        m[f"operators.{mod}.task_s"] = sum(
            st["run_ms"] for st in under(qs)) / 1000.0 / npass
    # functions
    for k in ("functions.rpm_cmp_ns", "functions.cvss_score_ns",
              "functions.purl_parse_ns"):
        m[k] = rec["probes"].get(k, 0.0)
    # sources, providers, sinks (provider_refresh only)
    scans = named("scan", "sources")
    transforms = named("transform", "providers")
    commits = named("commit", "sinks") + named("upsert_commit", "sinks")
    full = [s for s in commits if kind.get(pass_of(s)) == "cold"]
    m.update({
        "sources.scan_s": wall(scans),
        "sources.rows": attr(scans, "rows"),
        "sources.input_mb": sum(st["input_bytes"] for st in under(scans)) / MB,
        "providers.transform_s": wall(transforms),
        "providers.envelopes": attr(transforms, "envelopes"),
        "providers.filtered": attr(scans, "filtered"),
        "sinks.gate_s": wall(named("gate", "sinks")),
        "sinks.quarantined": attr(named("gate", "sinks"), "quarantined"),
        "sinks.commit_s": wall(full),
        "sinks.upsert_commit_s": wall([s for s in commits if s not in full]),
        "sinks.bytes_written_mb": attr(commits, "bytes_written") / MB,
        "sinks.files_written": attr(commits, "files_written"),
        "sinks.status_s": wall(named("status", "sinks")),
        "sinks.bytes_per_record": c.get("sinks.bytes_per_record", 0.0),
    })
    # tracing overhead: traced over untraced warm pass wall
    tw = [p["wall_s"] for p in rec["passes"]
          if p["kind"] == "warm" and p["traced"]]
    uw = [p["wall_s"] for p in rec["passes"]
          if p["kind"] == "warm" and not p["traced"]]
    m["trace.overhead"] = median(tw) / median(uw) if tw and uw else 0.0
    return m


def _cores(rec):
    return int(rec["env"]["master"].strip("local[]"))
