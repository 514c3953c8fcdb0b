#!/usr/bin/env python3
"""Per-workload layer table from traced results, with the bypass predictions.

  python3 perfbench/layers.py [--seed N] WORKLOAD... > perfbench/LAYERS.md

Reads perfbench/out/results/<workload>-s<seed>-t1.json (made by
`run.py --workload W --seed N --trace 1`) and prints one markdown table:
every per-layer metric (median per traced operation) for each workload,
then the predictions checked against them. Exits 1 if a prediction fails.
"""
import argparse
import json
import os

HERE = os.path.dirname(os.path.abspath(__file__))


def predictions(res):
    """(workload, statement, holds) for every prediction that applies."""
    out = []
    for w, r in res.items():
        m = {k: v["value"] for k, v in r["per_layer"].items()}
        out.append((w, f"unattributed root self time {m['trace.unattributed_share']:.1%} of an operation ≤ 5%",
                    m["trace.unattributed_share"] <= 0.05))
        if w == "query_serve":
            out.append((w, f"relations.store_calls = {m['relations.store_calls']:g} (no store of the build path)",
                        m["relations.store_calls"] == 0))
        if w == "wide_dag":
            out.append((w, f"spark.jobs = {m['spark.jobs']:g} inside the timed operations",
                        m["spark.jobs"] == 0))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("workloads", nargs="+")
    a = ap.parse_args()
    res = {}
    for w in a.workloads:
        with open(os.path.join(HERE, "out", "results", f"{w}-s{a.seed}-t1.json")) as f:
            res[w] = json.load(f)
    first = res[a.workloads[0]]
    stamp = first["stamp"]
    print("# Per-layer figures of the first traced run\n")
    print(f"Commit `{stamp['commit'][:12]}`, seed {a.seed}, {stamp['nproc']} cores, JDK {stamp['jdk']}, "
          f"Spark {stamp['spark']}, Runner threads {stamp['runner_threads']}, "
          f"`spark.sql.shuffle.partitions` = {stamp['confs']['spark.sql.shuffle.partitions']}. "
          "Each figure is the median over the traced operations of one "
          "`python3 perfbench/run.py --workload W --seed N --trace 1` run; regenerate with "
          f"`python3 perfbench/layers.py --seed {a.seed} {' '.join(a.workloads)}`.\n")
    print("| metric | unit | " + " | ".join(a.workloads) + " |")
    print("|---|---|" + "---|" * len(a.workloads))
    for k, m in first["per_layer"].items():
        vals = [f"{res[w]['per_layer'][k]['value']:.4g}" for w in a.workloads]
        print(f"| `{k}` | {m['unit']} | " + " | ".join(vals) + " |")
    print("| traced operations | count | " +
          " | ".join(str(sum(1 for s in res[w]["samples"] if s["traced"] and not s["warmup"]))
                     for w in a.workloads) + " |")
    print("\n## Predictions\n")
    ok = True
    for w, text, holds in predictions(res):
        ok &= holds
        print(f"- {'holds' if holds else 'FAILS'} — `{w}`: {text}")
    raise SystemExit(0 if ok else 1)


if __name__ == "__main__":
    main()
