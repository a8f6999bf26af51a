#!/usr/bin/env python3
"""Regenerate BASELINE.md's consolidated per-query bar table.

The per-query perf bars used to live only in round-by-round prose
(~1,200 lines); answering "is query X within its bar?" required
archaeology (VERDICT r12 #2). This script makes it a one-line lookup:

  python3 tools/bars.py [--check] [--force]

Inputs: every bench detail JSON checked into bench_details/ (named
r<N>_sf<SF>.json — Bench writes the detail file to /tmp/bench.json;
the end-of-round sweep copies it in). For each query the table shows
the LATEST round's median/min, the best min and worst median across
all recorded rounds (the band), and which rounds measured it. The
box's documented noise is +/-15-40% between idle and loaded runs —
the actionable signal is a LATEST MIN above the recorded band's max
median, which no amount of box noise explains (min filters load).

The table is rewritten in place between the BARS:BEGIN/END markers in
BASELINE.md; the prose history stays as history. --check exits 1 if
the table on disk is stale (CI-style guard, not used by the driver).
"""
import argparse
import json
import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
DETAILS = ROOT / "bench_details"
BASELINE = ROOT / "BASELINE.md"
BEGIN = "<!-- BARS:BEGIN (generated by tools/bars.py — do not edit) -->"
END = "<!-- BARS:END -->"


def declared_inventory():
    """Number of declared queries: the `"name" ->` entries of
    SparkEntry's registry (RegistrySpec pins this regex to the
    registry). tools/record_gate.py imports it from here."""
    src = (ROOT / "src/main/scala/graft/SparkEntry.scala").read_text()
    return len(set(re.findall(r'"(q[a-z0-9_]+)"\s*->', src)))


def load_rounds():
    rounds = []
    for p in sorted(DETAILS.glob("r*_sf*.json")):
        m = re.match(r"r(\d+)_sf([\d.]+)\.json", p.name)
        if not m:
            continue
        d = json.loads(p.read_text())
        rounds.append((int(m.group(1)), m.group(2), d.get("details", {})))
    return rounds


def guard_latest(rounds, force):
    """Refuse to regenerate from a LATEST detail file that covers less
    than the declared inventory — the guard that would have caught
    round 14's record loss (a 2-query targeted re-run overwrote the
    committed 197-query sweep, and bars.py happily regenerated from
    it, dropping the round's rows for 193 queries; VERDICT r14 #1).
    Earlier rounds naturally cover less (the inventory grows);
    --force overrides for genuinely partial records.
    """
    if not rounds or force:
        return
    latest = max(r for r, _, _ in rounds)
    inv = declared_inventory()
    for r, sf, det in rounds:
        if r == latest and len(det) < inv:
            sys.exit(
                f"r{r}_sf{sf}.json covers {len(det)} queries but "
                f"SparkEntry declares {inv} — refusing to regenerate "
                "from a partial latest-round record (--force overrides)"
            )


def build_table(rounds):
    if not rounds:
        return "(no bench detail files in bench_details/)"
    latest_round = max(r for r, _, _ in rounds)
    queries = sorted({q for _, _, det in rounds for q in det})
    lines = [
        "| query | last med | last min | best min | worst med | rounds |",
        "|---|---|---|---|---|---|",
    ]
    for q in queries:
        meds = {r: det[q]["median"] for r, _, det in rounds if q in det}
        mins = {r: det[q]["min"] for r, _, det in rounds if q in det}
        last = max(meds)
        stale = "" if last == latest_round else f" (r{last})"
        rs = ",".join(f"r{r}" for r in sorted(meds))
        lines.append(
            f"| {q} | {meds[last]:.2f}{stale} | {mins[last]:.2f} "
            f"| {min(mins.values()):.2f} | {max(meds.values()):.2f} | {rs} |"
        )
    n = len(queries)
    hdr = (
        f"Per-query bars at sf0.1 ({n} queries, rounds "
        + ", ".join(sorted({f'r{r}' for r, _, _ in rounds}))
        + "). Units: seconds. 'best min'/'worst med' across all recorded"
        " rounds form the band; a LATEST min above the band's worst med"
        " is out-of-band (box noise inflates medians, not mins).\n"
    )
    return hdr + "\n".join(lines)


def main():
    ap = argparse.ArgumentParser(
        description="Regenerate BASELINE.md's per-query bar table.")
    ap.add_argument("--check", action="store_true",
                    help="exit 1 if the table on disk is stale; write nothing")
    ap.add_argument("--force", action="store_true",
                    help="regenerate from a partial latest-round record")
    args = ap.parse_args()
    rounds = load_rounds()
    guard_latest(rounds, args.force)
    table = build_table(rounds)
    text = BASELINE.read_text()
    if BEGIN not in text:
        sys.exit("BARS markers missing from BASELINE.md")
    new = re.sub(
        re.escape(BEGIN) + r".*?" + re.escape(END),
        BEGIN + "\n\n" + table + "\n\n" + END,
        text,
        flags=re.S,
    )
    if args.check:
        if new != text:
            sys.exit("BASELINE.md bar table is stale — run tools/bars.py")
        print("bar table up to date")
        return
    BASELINE.write_text(new)
    print(f"wrote bar table ({len(rounds)} round files)")


if __name__ == "__main__":
    main()
