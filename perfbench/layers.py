"""Layer-by-layer view of traced runs.

    python3 perfbench/layers.py RESULT.json             # one run: self time per layer
    python3 perfbench/layers.py BEFORE.json AFTER.json  # two runs: per-layer difference

RESULT files are the ones a traced run (``--trace 1``) writes under
``.perfbench/results/``. Self time is a span's duration minus the part
of it its child spans cover, summed per span name over the timed phase;
the shares are of the timed phase's ``wall_s``. The second form also
diffs every per-layer metric, so a change can show where its saving
lands.
"""

from __future__ import annotations

import json
import sys


def load(path: str) -> dict:
    with open(path, encoding="utf-8") as f:
        doc = json.load(f)
    if "self_times" not in doc["result"]:
        raise SystemExit(f"{path}: not a traced run (run with --trace 1)")
    return doc


def shares(doc: dict) -> list[tuple[str, float, float]]:
    wall = doc["result"]["wall_s"]
    rows = sorted(doc["result"]["self_times"].items(), key=lambda kv: -kv[1])
    return [(name, s, s / wall) for name, s in rows]


def main(argv: list[str]) -> int:
    if len(argv) not in (1, 2):
        print(__doc__, file=sys.stderr)
        return 2
    docs = [load(p) for p in argv]
    if len(docs) == 1:
        d = docs[0]
        print(f"{d['workload']} seed={d['seed']} wall_s={d['result']['wall_s']:.4f}")
        for name, s, share in shares(d):
            print(f"  {name:<28} {s:9.4f} s  {share:6.1%}")
        return 0
    a, b = docs
    if a["workload"] != b["workload"]:
        print(f"warning: comparing {a['workload']} with {b['workload']}", file=sys.stderr)
    sa, sb = a["result"]["self_times"], b["result"]["self_times"]
    print(f"{'self time':<30} {'before':>10} {'after':>10} {'delta':>10}")
    for name in sorted(set(sa) | set(sb), key=lambda n: -max(sa.get(n, 0), sb.get(n, 0))):
        x, y = sa.get(name, 0.0), sb.get(name, 0.0)
        print(f"  {name:<28} {x:10.4f} {y:10.4f} {y - x:+10.4f}")
    ma, mb = a["metrics"], b["metrics"]
    print(f"{'per-layer metric':<30} {'before':>14} {'after':>14} {'delta':>14}")
    for name in ma:
        if name not in mb:
            continue
        x, y = ma[name]["value"], mb[name]["value"]
        if x == y == 0:
            continue
        print(f"  {name:<28} {x:14.4f} {y:14.4f} {y - x:+14.4f} {ma[name]['unit']}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
