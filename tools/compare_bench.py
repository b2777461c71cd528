#!/usr/bin/env python3
"""Anchor-normalized comparison of two graft.Bench JSON lines.

Usage: python3 tools/compare_bench.py OLD.json NEW.json [threshold]

graft.Bench writes one full bench line (BENCH_FULL*.json,
$SPARK_GRAFT_BENCH_OUT). This tool reads that line and also the archived
BENCH_r01-r14.json captures, which Bench no longer emits: a {"tail": ...}
wrapper around a bounded stdout tail, the r11-r14 chunked emission
(bench_chunk lines + minimal total line), or a head-truncated fragment.
Those parsers stay because the archived files stay in the repo. Ratios are
(new_sec / old_sec) / (new_anchor / old_anchor): the machine-speed anchor
cancels ambient variance, so a ratio > threshold (default 1.5) flags a
real plan/operator regression rather than a slow boot. Queries present in
only one run are listed separately.
"""
import json, re, sys


def load(path):
    txt = open(path).read()
    try:
        wrapper = json.loads(txt)
        if isinstance(wrapper, dict) and "tail" in wrapper:
            txt = wrapper["tail"]  # driver wrapper: bench line inside, unescaped by the parse
    except json.JSONDecodeError:
        pass
    # Preferred path: walk the capture in line order. The r11-r14
    # captures hold the per-query map as self-identifying
    # {"bench_chunk":i,"of":N,"queries":…} lines followed by a minimal
    # total line (no map of its own); chunk lines accumulate until a
    # "metric":"total" line closes the run, whose own "queries" map
    # (legacy full/minimal lines carry one) merges OVER the chunks. The
    # LAST closed run wins and the accumulator resets at every total
    # line, so two runs appended to one capture never mix. A
    # head-truncated capture loses only leading chunk lines (their parse
    # fails and they are skipped); "of" vs the chunks seen names exactly
    # what was lost.
    chunk_acc, chunks_seen, chunks_of, last = {}, set(), None, None
    for raw in txt.splitlines():
        start = raw.find('{"bench_chunk"')
        if start >= 0:
            try:
                j = json.loads(raw[start:])
                chunk_acc.update(j.get("queries", {}))
                chunks_seen.add(j.get("bench_chunk"))
                chunks_of = j.get("of", chunks_of)
            except json.JSONDecodeError:
                pass
            continue
        start = raw.find('{"metric":"total"')
        if start >= 0:
            try:
                j = json.loads(raw[start:])
                qs = dict(chunk_acc)
                qs.update(j.get("queries", {}))
                if qs:
                    j["queries"] = qs
                    if chunks_of and chunks_seen != set(range(1, chunks_of + 1)):
                        missing = sorted(set(range(1, chunks_of + 1)) - chunks_seen)
                        print(f"note: {path}: chunks {missing} of {chunks_of} lost to "
                              f"capture truncation ({len(qs)} queries recovered)",
                              file=sys.stderr)
                    last = j
            except json.JSONDecodeError:
                pass
            chunk_acc, chunks_seen, chunks_of = {}, set(), None
    if last is not None:
        return last
    # HEAD-TRUNCATED fragment (the r07 failure: the driver's bounded
    # stdout capture keeps the END of the line): reconstruct by regex.
    # Bench emits "queries" LAST among qNN-keyed objects ("remeasured"
    # precedes it), so a dict built in match order keeps the adjudicated
    # value; the "audit" array's bare "qNN" strings never match (they
    # lack the :number suffix).
    num = r'([0-9]+(?:\.[0-9]+)?)'
    queries = {q: float(v) for q, v in re.findall(r'"(q\d+[a-z]*)":' + num, txt)}
    if not queries:
        raise SystemExit(f"{path}: no bench line found")
    out = {"queries": queries, "_fragment": True}
    # Bare-string arrays ("audit", "merged") survive truncation often
    # enough to be worth recovering — losing "audit" silently relabels
    # ground-truth baselines as production postures downstream.
    for key in ("audit", "merged"):
        km = re.search(f'"{key}":\\[([^\\]]*)\\]', txt)
        if km and km.group(1).strip():
            out[key] = [x.strip().strip('"') for x in km.group(1).split(",")]
    for key in ("value", "anchor"):
        sm = re.search(f'"{key}":' + num, txt)
        if sm:
            out[key] = float(sm.group(1))
    am = re.search(r'"anchors":\[([^\]]*)\]', txt)
    if am and am.group(1).strip():
        out["anchors"] = [float(x) for x in am.group(1).split(",")]
        out.setdefault("anchor", out["anchors"][-1])
    out.setdefault("value", sum(queries.values()))
    rm = re.search(r'"remeasured":\{([^}]*)\}', txt)
    if rm:
        out["remeasured"] = {q: float(v) for q, v in
                             re.findall(r'"(q\d+[a-z]*)":' + num, rm.group(1))}
    sfm = re.search(r'"sf":"([^"]*)"', txt)
    if sfm:
        out["sf"] = sfm.group(1)
    print(f"note: {path} parsed as a truncated fragment "
          f"({len(queries)} queries recovered)", file=sys.stderr)
    return out


def main():
    old, new = load(sys.argv[1]), load(sys.argv[2])
    threshold = float(sys.argv[3]) if len(sys.argv) > 3 else 1.5
    if "anchor" in old and "anchor" in new:
        anchor_ratio = new["anchor"] / old["anchor"]
        anchor_note = f"{old['anchor']:.3f} -> {new['anchor']:.3f}"
    else:  # pre-round-5 lines have no anchor; compare raw
        anchor_ratio = 1.0
        anchor_note = "absent in one run - RAW ratios"
    common = sorted(set(old["queries"]) & set(new["queries"]))
    rows = []
    for q in common:
        raw = new["queries"][q] / old["queries"][q] if old["queries"][q] else float("inf")
        rows.append((q, old["queries"][q], new["queries"][q], raw / anchor_ratio))
    rows.sort(key=lambda r: -r[3])
    print(f"anchor: {anchor_note} "
          f"(machine ratio {anchor_ratio:.2f}); "
          f"total: {old['value']:.1f} -> {new['value']:.1f} s "
          f"({len(common)} common queries)")
    if "anchors" in new:
        a = new["anchors"]
        # Cumulative degradation is a TREND (late anchors slower than
        # early), not point noise — this box shows ±40% ambient swings on
        # a 0.1 s measurement.
        rising = len(a) >= 2 and max(a[-2:]) > 2 * min(a[:2])
        print(f"new-run mid-suite anchors: {a} "
              f"({'RISING - cumulative degradation?' if rising else 'flat'})")
    # Machine-readable audit marking (emitted by Bench since round 7):
    # ground-truth corpus-scale baselines are labeled so a reader doesn't
    # mistake their cost profile for a production posture's.
    audit = set(new.get("audit", []) or old.get("audit", []))
    # Self-adjudicated re-measurements (Bench re-ran flagged queries
    # min-of-3 at suite end when given SPARK_GRAFT_PRIOR): the query values
    # already incorporate them; surface which ones were adjudicated.
    remeasured = new.get("remeasured", {})
    if remeasured:
        print("self-adjudicated (re-measured at suite end): " +
              ", ".join(f"{q}={v:.2f}s" for q, v in sorted(remeasured.items())))
    flagged = [r for r in rows if r[3] > threshold]
    print(f"\n{len(flagged)} queries exceed {threshold}x anchor-normalized:")
    for q, o, n, r in flagged:
        tag = " [audit baseline]" if q in audit else ""
        print(f"  {q}: {o:.2f} -> {n:.2f} s ({r:.2f}x normalized){tag}")
    gone = sorted(set(old["queries"]) - set(new["queries"]))
    added = sorted(set(new["queries"]) - set(old["queries"]))
    if gone:
        print(f"\nremoved: {', '.join(gone)}")
    if added:
        nq = new["queries"]
        print("added: " + ", ".join(f"{q}={nq[q]:.2f}s" for q in added))
    csum = sum(old["queries"][q] for q in common)
    nsum = sum(new["queries"][q] for q in common)
    print(f"\ncommon-set sum: {csum:.1f} -> {nsum:.1f} s "
          f"(normalized ratio {(nsum / csum) / anchor_ratio:.2f})")
    prod = [q for q in common if q not in audit]
    if audit and len(prod) < len(common):
        psum_o = sum(old["queries"][q] for q in prod)
        psum_n = sum(new["queries"][q] for q in prod)
        print(f"production-only sum ({len(prod)} queries, audits excluded): "
              f"{psum_o:.1f} -> {psum_n:.1f} s "
              f"(normalized ratio {(psum_n / psum_o) / anchor_ratio:.2f})")


if __name__ == "__main__":
    main()
