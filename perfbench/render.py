"""Per-layer table of a traced run, the workload-kind names of the
end-to-end metrics, and the tracing-overhead lines."""
import json
from collections import defaultdict

STREAM_PHASES = ["latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
                 "commitOffsets"]
BATCH_PHASES = ["build", "plan", "exec", "driver"]


def aliases(kind, res, failed, attempted):
    """The end-to-end metrics under the names of their workload kind."""
    e = res["e2e"]
    out = []
    if kind == "stream":
        pct = res["details"].get("latency_percentile")
        out += [("publish_latency_p50_ms", e["latency_p50_ms"], "ms"),
                (f"publish_latency_p{pct:g}_ms" if pct else "publish_latency_tail_ms",
                 e["latency_p99_ms"], "ms"),
                ("latency_samples", float(res["details"]["latency_samples"]), "count"),
                ("stream_capacity_eps", e["throughput_per_s"], "1/s")]
    else:
        out += [("suite_s", res["details"]["suite_s"], "s"),
                ("query_p50_s", res["details"]["query_p50_s"], "s")]
    out.append(("failed_frac", failed / attempted if attempted else 0.0, "ratio"))
    return out


def table(spans_path, kind):
    """One row per query or trigger; the phase columns and `other` add up to
    the row's wall time. The footer gives the share of wall time the phase
    columns cover."""
    spans = [json.loads(l) for l in open(spans_path) if l.strip()]
    top = "query" if kind == "batch" else "trigger"
    phases = BATCH_PHASES if kind == "batch" else STREAM_PHASES
    kids = defaultdict(dict)
    for s in spans:
        if s["kind"] in ("build", "plan", "exec", "driver", "phase"):
            kids[s["parent"]][s["name"]] = s["end_ms"] - s["start_ms"]
    rows = [s for s in spans if s["kind"] == top]
    w = 34 if kind == "batch" else 26
    head = f"  {top:<{w}} {'wall_ms':>9} " + " ".join(f"{p[:13]:>13}" for p in phases) + f" {'other':>9}"
    lines = [head]
    tot_wall = tot_cov = 0.0
    for s in rows:
        wall = s["end_ms"] - s["start_ms"]
        cols = [kids[s["id"]].get(p, 0.0) for p in phases]
        cov = sum(cols)
        tot_wall += wall
        tot_cov += cov
        label = s["name"] + (f" #{s['attrs'].get('pass')}" if kind == "batch"
                             else f" ({s['attrs'].get('rows')} rows)")
        lines.append(f"  {label:<{w}} {wall:>9.1f} " + " ".join(f"{c:>13.1f}" for c in cols)
                     + f" {wall - cov:>9.1f}")
    share = tot_cov / tot_wall if tot_wall else 0.0
    lines.append(f"  {len(rows)} {top} rows; phase columns cover {100 * share:.2f}% of "
                 f"{tot_wall / 1000:.3f} s wall")
    return "\n".join(lines) + "\n"


def overhead(untraced, traced, e2e_spec):
    lines = ["  tracing overhead (traced minus untraced, same seed):"]
    for m in e2e_spec:
        a, b = untraced[m["name"]], traced[m["name"]]
        rel = (b - a) / a * 100 if a else float("nan")
        lines.append(f"    {m['name']:<24} {b - a:>+12.4f} {m['unit']:<6} ({rel:+.1f}%)")
    return "\n".join(lines)
