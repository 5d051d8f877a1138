#!/usr/bin/env python3
"""Diff the per-layer ledgers of two benchmark runs.

    python3 perfbench/ledger_diff.py A.json B.json [--all]

A and B are run records (perfbench/out/record-<workload>-seed<n>-t1.json)
written by traced runs (`run.py --trace 1`), typically of the parent and
the changed commit with the same workload and seed. Prints, per metric,
both values, the change and the relative change, largest relative change
first; without --all only metrics that moved by at least 1 % are shown.
It also says whether the two runs gave the same answers, which a fixed
seed must reproduce.
"""
import json
import sys


def load(path):
    with open(path) as fh:
        return json.load(fh)


def rows(a, b, section):
    out = []
    for name in sorted(set(a[section]) | set(b[section])):
        va = (a[section].get(name) or {}).get("value")
        vb = (b[section].get(name) or {}).get("value")
        unit = (a[section].get(name) or b[section].get(name))["unit"]
        if va is None or vb is None:
            out.append((float("inf"), name, va, vb, None, unit))
            continue
        rel = (vb - va) / abs(va) if va else (0.0 if vb == va else float("inf"))
        out.append((abs(rel), name, va, vb, rel, unit))
    return sorted(out, reverse=True)


def main():
    args = [x for x in sys.argv[1:] if not x.startswith("--")]
    if len(args) != 2:
        sys.exit(__doc__)
    show_all = "--all" in sys.argv
    a, b = load(args[0]), load(args[1])
    if a["workload"] != b["workload"]:
        print(f"warning: different workloads {a['workload']} / {b['workload']}")
    same = a["seed"] == b["seed"]
    print(f"{a['workload']}: seeds {a['seed']} / {b['seed']}, "
          f"ops {a['attempted']} / {b['attempted']}, "
          f"correct {a['correct']} / {b['correct']}")
    if same:
        print("answers: " + ("identical" if a["answer_digest"] == b["answer_digest"]
                             else "DIFFER (same seed must give the same answers "
                                  "over the ops both runs completed)"))
    for section in ("end_to_end", "per_layer"):
        print(f"\n{section}:")
        print(f"  {'metric':36s} {'A':>14s} {'B':>14s} {'B-A':>14s} {'rel':>8s}")
        for key, name, va, vb, rel, unit in rows(a, b, section):
            if not show_all and rel is not None and key < 0.01:
                continue
            if rel is None:
                print(f"  {name:36s} {str(va):>14s} {str(vb):>14s}")
                continue
            print(f"  {name:36s} {va:>14.6g} {vb:>14.6g} {vb - va:>+14.6g} "
                  f"{rel:>+8.1%} {unit}")


if __name__ == "__main__":
    main()
