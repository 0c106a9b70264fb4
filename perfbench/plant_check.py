"""Trace self-check: plant a fixed delay in one layer and find it there.

    python3 perfbench/plant_check.py [--seed 5] [--delay-ms 100]

Runs the traced search workload twice with the same seed, the second time
with `Searcher.lookup_terms` wrapped in a sleep. The dictionary layer's self
time per query must grow by the delay times its calls per query (within a
quarter), and every other query layer's self time must stay within the
benchmark's 0.25 bound (plus 2 ms for sub-millisecond layers). Exits 1 if
not.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
OTHER_LAYERS = ("analysis.analyze_query_ms", "query.parser.parse_ms", "query.executor.plan_ms",
                "query.executor.collect_ms", "query.other_ms")


def traced(seed: int, delay_ms: float) -> dict[str, float]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "search", "--seed",
         str(seed), "--seconds", "10", "--trace", "1", "--plant-delay-ms", str(delay_ms)],
        capture_output=True, text=True, check=True,
    ).stdout.splitlines()
    return {k: v["value"] for k, v in json.loads(out[-1])["metrics"].items()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=5)
    ap.add_argument("--delay-ms", type=float, default=100.0)
    a = ap.parse_args()
    base, planted = traced(a.seed, 0.0), traced(a.seed, a.delay_ms)
    ok = True
    key = "query.executor.lookup_terms_ms"
    want = a.delay_ms * planted["query.executor.lookups_per_query"]
    grew = planted[key] - base[key]
    good = abs(grew - want) <= 0.25 * want
    ok &= good
    print(f"{'ok ' if good else 'BAD'} {key}: +{grew:.1f} ms per query, expected +{want:.1f}")
    for k in OTHER_LAYERS:
        good = abs(planted[k] - base[k]) <= 0.25 * base[k] + 2.0
        ok &= good
        print(f"{'ok ' if good else 'BAD'} {k}: {base[k]:.2f} -> {planted[k]:.2f} ms per query")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
