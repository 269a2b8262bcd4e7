#!/usr/bin/env python3
"""Regenerate bench_reference.json from same-HEAD full Bench reads.

Protocol (BENCHMARKS.md, round-17 "Ledger refresh"): per query the
MINIMUM across the post-change full reads (each itself best-of-2/3
interleaved passes; artifacts carry /proc/loadavg stamps), overridden
by explicit 5-run Profile medians for queries re-measured under the
re-pin protocol. The previous ledger is kept alongside for history.

Usage:
  refresh_ledger.py OUT read1.json read2.json [...] \
      --pin q225_leakage_gate_ingest=3.33 [--pin name=sec ...]
"""
import json
import sys


def main() -> None:
    args = sys.argv[1:]
    pins = {}
    rest = []
    i = 0
    while i < len(args):
        if args[i] == "--pin":
            name, val = args[i + 1].split("=")
            pins[name] = float(val)
            i += 2
        else:
            rest.append(args[i])
            i += 1
    out, *reads = rest
    datas = [json.load(open(p)) for p in reads]
    # pins are authoritative (5-run Profile medians) — include their
    # names even when absent/-1 in every read, so a typo'd or
    # failed-in-reads pin cannot silently vanish from the ledger
    names = sorted({k for d in datas for k in d["queries"]} | set(pins))
    merged = {}
    for q in names:
        vals = [d["queries"][q] for d in datas
                if d["queries"].get(q, -1) >= 0]
        if q in pins:
            merged[q] = pins[q]
        elif vals:
            merged[q] = min(vals)
    missing = [q for q in pins if q not in merged]
    assert not missing, f"pins failed to apply: {missing}"
    unknown = [q for q in pins
               if not any(q in d["queries"] for d in datas)]
    if unknown:
        print(f"WARNING: pinned queries absent from every read "
              f"(typo?): {unknown}", file=sys.stderr)
    total = sum(merged.values())
    doc = {
        "metric": "total",
        "value": round(total, 2),
        "unit": "sec",
        "queries": {k: round(v, 4) for k, v in sorted(merged.items())},
        "protocol": "r17 refresh: min across "
                    f"{len(reads)} same-HEAD full reads; "
                    f"{len(pins)} queries pinned at 5-run Profile medians",
        "loads": [d.get("load") for d in datas],
        "sf": datas[0].get("sf"),
    }
    with open(out, "w") as f:
        json.dump(doc, f, indent=1)
    print(f"wrote {out}: {len(merged)} pins, total {total:.2f}s")


if __name__ == "__main__":
    main()
