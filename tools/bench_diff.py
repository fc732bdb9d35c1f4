#!/usr/bin/env python3
"""Diff two bench JSON snapshots key-by-key.

Usage: python3 tools/bench_diff.py <old.json> <new.json> [threshold=1.5]

Prints keys slower than threshold x (regressions), faster than
1/threshold (improvements), and keys present in only one file. Use
with the committed per-round snapshots (BENCH_r16.json, ...) so
cross-round comparisons cover every key, not just stdout headliners.
Dev tooling only.
"""
import json, sys

def queries(path):
    """Accept both the raw bench.json shape and the driver's BENCH_rN
    wrapper (which nests it under 'parsed')."""
    d = json.load(open(path))
    return (d.get("queries") or d.get("parsed", {}).get("queries") or
            (_ for _ in ()).throw(ValueError(f"no queries in {path}")))

def main():
    old = queries(sys.argv[1])
    new = queries(sys.argv[2])
    thr = float(sys.argv[3]) if len(sys.argv) > 3 else 1.5
    common = sorted(set(old) & set(new))
    reg = [(new[k] / old[k], k) for k in common if new[k] > old[k] * thr]
    imp = [(new[k] / old[k], k) for k in common if new[k] < old[k] / thr]
    print(f"{len(common)} common keys | old total "
          f"{sum(old[k] for k in common):.1f}s -> new "
          f"{sum(new[k] for k in common):.1f}s")
    for title, rows in [("REGRESSIONS", sorted(reg, reverse=True)),
                        ("improvements", sorted(imp))]:
        print(f"-- {title} (>{thr}x): {len(rows)}")
        for r, k in rows:
            print(f"  {r:5.2f}x  {k}  {old[k]:.2f}s -> {new[k]:.2f}s")
    only_old = sorted(set(old) - set(new))
    only_new = sorted(set(new) - set(old))
    if only_old:
        print(f"-- removed: {', '.join(only_old)}")
    if only_new:
        print(f"-- added: {', '.join(only_new)}")

if __name__ == "__main__":
    main()
