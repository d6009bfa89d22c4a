#!/usr/bin/env python
"""Round-over-round bench diff — the committed adjudication tool (r11 verdict
item 2: "the round-over-round diff is a committed tool, not judge arithmetic").

Accepts ANY of the three artifact shapes a round produces:
  - driver wrapper  BENCH_r{N}.json        ({"tail": "...{compact line}..."})
  - compact line    (the JSON line bench.py prints)
  - full artifact   BENCH_local.json       (queries + queries_normalized +
                                            sentinel_adjacent + sentinel)

and emits per-query raw AND sentinel-normalized ratios over the COMMON query
set. Since r12 the compact line's query set is pinned (bench.py
COMPACT_PINNED, append-only), so the common set is stable by construction.

Normalization source, in preference order:
  1. queries_normalized (full artifact — min / median-of-adjacent-sentinels)
  2. raw / sentinel_median_sec (compact line / driver wrapper)

Flag rule: a query is a MOVER only when raw AND normalized ratios both
exceed the threshold (default 1.4, the attribution bar; ``--flag 1.5`` is
the older min-of-3 threshold this tool's predecessor used). One family
alone is a sentinel-shift / noise note. Movers mean "rerun solo on a quiet
box before believing", not "regression".

Usage:
  python tools/bench_diff.py OLD NEW [--flag 1.4] [--json OUT.json]
Exit code 0 always — this is a report, not a gate.
"""

from __future__ import annotations

import argparse
import json


def _load(path: str) -> dict:
    """Return {queries, normalized, sentinel_median} from any artifact shape."""
    with open(path) as fh:
        d = json.load(fh)
    if "tail" in d and "queries" not in d:  # driver wrapper: compact line in tail
        lines = [l for l in d["tail"].splitlines() if l.startswith('{"metric"')]
        if not lines:
            raise SystemExit(f"{path}: driver wrapper has no compact bench line")
        d = json.loads(lines[-1])
    queries = d.get("queries") or {}
    if not queries:
        raise SystemExit(f"{path}: no per-query timings found")
    if "queries_normalized" in d:  # full artifact
        norm = d["queries_normalized"]
        s_med = d.get("sentinel", {}).get("median")
        norm_source = "per-query"
    else:  # compact line: one global sentinel median
        s_med = d.get("sentinel_median_sec")
        norm = (
            {k: round(v / s_med, 3) for k, v in queries.items()} if s_med else {}
        )
        norm_source = "global" if s_med else None
    # r13 (r12 ADVICE): surface which normalization DEFINITION and SOURCE
    # each side used — mixing per-query adjacent medians with a global
    # sentinel median (or v1 with v2 semantics) skews norm_ratio, and the
    # report must say so instead of presenting apples-to-oranges silently.
    return {
        "queries": queries,
        "normalized": norm,
        "sentinel_median": s_med,
        "norm_source": norm_source,
        "norm_version": d.get("normalization_version") or d.get("norm_v"),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("old")
    ap.add_argument("new")
    ap.add_argument("--flag", type=float, default=1.4)
    ap.add_argument("--json", dest="json_out")
    args = ap.parse_args()

    old, new = _load(args.old), _load(args.new)
    ro, rn = old["queries"], new["queries"]
    no, nn = old["normalized"], new["normalized"]
    common = sorted(set(ro) & set(rn))
    norm_ok = bool(no) and bool(nn)

    rows = []
    for k in common:
        raw_ratio = rn[k] / max(ro[k], 1e-9)
        row = {"query": k, "raw_old": ro[k], "raw_new": rn[k],
               "raw_ratio": round(raw_ratio, 3)}
        if norm_ok and k in no and k in nn:
            row["norm_old"], row["norm_new"] = no[k], nn[k]
            row["norm_ratio"] = round(nn[k] / max(no[k], 1e-9), 3)
        rows.append(row)

    def both_over(r):
        return r["raw_ratio"] >= args.flag and r.get("norm_ratio", 0) >= args.flag

    def one_over(r):
        return (r["raw_ratio"] >= args.flag) != (r.get("norm_ratio", 0) >= args.flag)

    movers = sorted((r for r in rows if both_over(r)),
                    key=lambda r: -r.get("norm_ratio", r["raw_ratio"]))
    notes = sorted((r for r in rows if one_over(r)), key=lambda r: -r["raw_ratio"])
    raw_tot_o = sum(ro[k] for k in common)
    raw_tot_n = sum(rn[k] for k in common)
    report = {
        "old": args.old,
        "new": args.new,
        "flag_ratio": args.flag,
        "common_queries": len(common),
        "added": sorted(set(rn) - set(ro)),
        "removed": sorted(set(ro) - set(rn)),
        "sentinel_median": [old["sentinel_median"], new["sentinel_median"]],
        "norm_source": [old["norm_source"], new["norm_source"]],
        "norm_version": [old["norm_version"], new["norm_version"]],
        "norm_comparability": (
            "ok"
            if old["norm_source"] == new["norm_source"]
            and old["norm_version"] == new["norm_version"]
            else "MIXED — normalized ratios compare different definitions"
        ),
        "raw_total_sec": [round(raw_tot_o, 2), round(raw_tot_n, 2)],
        "raw_total_ratio": round(raw_tot_n / max(raw_tot_o, 1e-9), 3),
        "normalized_total_ratio": (
            round(
                sum(nn[k] for k in common if k in nn)
                / max(sum(no[k] for k in common if k in no), 1e-9),
                3,
            )
            if norm_ok
            else None
        ),
        "movers_raw_and_norm": movers,
        "one_sided_notes": notes,
    }
    out = json.dumps(report, indent=1)
    if args.json_out:
        with open(args.json_out, "w") as fh:
            fh.write(out + "\n")
    print(out)


if __name__ == "__main__":
    main()
