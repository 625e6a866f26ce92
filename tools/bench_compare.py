"""Round-over-round bench comparison with a noise floor.

The suite's fast-cutoff (2 repeats for sub-second queries) makes small
queries noisy — a 0.14s query "regressing" to 0.33s is host-load jitter,
not a plan change. This tool compares two bench JSON records and flags
only movements that clear BOTH gates:

- ratio > ``--ratio`` (default 1.5x, either direction), AND
- the larger of the two timings > ``--floor`` seconds (default 0.5).

Usage:
    python tools/bench_compare.py BENCH_r03.json BENCH.json
    python tools/bench_compare.py old.json new.json --ratio 1.5 --floor 0.5

Accepts either the full bench record ({"queries": {name: sec}}) or the
driver's wrapper ({"parsed": {...}} / {"tail": "..."}): the first JSON
object found that carries a "queries" dict of floats wins.
"""

from __future__ import annotations

import argparse
import json
import re
import sys


def load_queries(path: str) -> dict[str, float]:
    with open(path) as fh:
        text = fh.read()
    # direct parse first; fall back to scanning for embedded JSON objects
    # (the driver's BENCH_r*.json wraps or truncates the bench line)
    candidates = []
    try:
        candidates.append(json.loads(text))
    except json.JSONDecodeError:
        pass
    for m in re.finditer(r"\{\"metric\".*", text):
        try:
            candidates.append(json.loads(m.group(0).splitlines()[0]))
        except json.JSONDecodeError:
            continue
    for obj in candidates:
        for probe in (obj, obj.get("parsed") if isinstance(obj, dict) else None):
            if (
                isinstance(probe, dict)
                and isinstance(probe.get("queries"), dict)
                and probe["queries"]
            ):
                return {
                    k: float(v)
                    for k, v in probe["queries"].items()
                    if isinstance(v, (int, float)) and v >= 0
                }
    # last resort: scrape "name": 1.23 pairs out of a front-truncated tail
    # capture (the driver's BENCH_r*.json when the JSON line outgrew the
    # capture window). The first scraped pair may be a partial name — drop it.
    for obj in candidates:
        if isinstance(obj, dict) and isinstance(obj.get("tail"), str):
            text = obj["tail"]  # unescaped quotes
            break
    pairs = re.findall(r"\"([a-z0-9_]+)\":\s*(-?\d+\.?\d*)", text)
    # exclude every non-query numeric key either bench stdout line can emit
    # (the full record AND the trailing summary line), so a tail holding the
    # two-line output can't inject fake query entries.
    non_query = {
        "n", "rc", "cpus", "sf", "value", "repeats",
        "n_queries", "n_failed", "total",
    }
    scraped = {
        k: float(v)
        for k, v in pairs
        if k not in non_query and float(v) >= 0
    }
    if len(scraped) > 1:
        first_key = next(iter(scraped))
        if not text.split(f'"{first_key}"')[0].rstrip().endswith(("{", ",")):
            scraped.pop(first_key, None)
        print(f"note: scraped {len(scraped)} queries from truncated tail in {path}")
        return scraped
    raise SystemExit(f"no parseable queries dict in {path}")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("old")
    ap.add_argument("new")
    ap.add_argument("--ratio", type=float, default=1.5)
    ap.add_argument("--floor", type=float, default=0.5)
    args = ap.parse_args()

    old, new = load_queries(args.old), load_queries(args.new)
    shared = sorted(set(old) & set(new))
    print(
        f"shared={len(shared)} old-only={len(set(old)-set(new))} "
        f"new-only={len(set(new)-set(old))}"
    )
    print(
        f"shared sum: {sum(old[q] for q in shared):.1f}s -> "
        f"{sum(new[q] for q in shared):.1f}s"
    )

    flagged = []
    for q in shared:
        a, b = old[q], new[q]
        if max(a, b) <= args.floor or min(a, b) <= 0:
            continue
        ratio = b / a
        if ratio > args.ratio or ratio < 1 / args.ratio:
            flagged.append((q, a, b, ratio))

    flagged.sort(key=lambda t: -abs(t[3] - 1))
    if not flagged:
        print(
            f"no movement >{args.ratio}x on queries >{args.floor}s "
            "(everything else is inside the noise floor)"
        )
        return
    for q, a, b, r in flagged:
        kind = "REGRESSION" if r > 1 else "improvement"
        print(f"{kind:>11} {q}: {a:.2f}s -> {b:.2f}s ({r:.2f}x)")
    sys.exit(2 if any(r > 1 for *_, r in flagged) else 0)


if __name__ == "__main__":
    main()
