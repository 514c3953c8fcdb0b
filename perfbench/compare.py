#!/usr/bin/env python3
"""Compare two full benchmark results (perfbench/out/results/*.json).

  python3 perfbench/compare.py BASE.json NEW.json

Refuses (exit 2) unless the two environment stamps agree on everything but
the commit: same workload, seed, trace mode, core count, JDK, Spark, session
confs, Runner threads and input files. Otherwise prints every metric of both
results with the relative change of NEW against BASE.
"""
import json
import sys


def main():
    if len(sys.argv) != 3:
        print(__doc__.strip(), file=sys.stderr)
        sys.exit(2)
    base, new = (json.load(open(p)) for p in sys.argv[1:])
    a = {k: v for k, v in base["stamp"].items() if k != "commit"}
    b = {k: v for k, v in new["stamp"].items() if k != "commit"}
    differ = sorted(k for k in set(a) | set(b) if a.get(k) != b.get(k))
    if differ:
        for k in differ:
            print(f"stamp differs in {k}: {a.get(k)!r} vs {b.get(k)!r}", file=sys.stderr)
        print("refusing to compare results from different environments", file=sys.stderr)
        sys.exit(2)
    print(f"{base['stamp']['workload']}: {base['stamp']['commit'][:12]} -> {new['stamp']['commit'][:12]}")
    for section in ("end_to_end", "per_layer"):
        for k, m in base[section].items():
            if k not in new[section]:
                continue
            x, y = m["value"], new[section][k]["value"]
            change = f"{(y - x) / x:+.1%}" if x else "n/a"
            print(f"  {k:32s} {x:14.6g} {y:14.6g} {m['unit']:6s} {change}")


if __name__ == "__main__":
    main()
