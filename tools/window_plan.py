"""Driver-window rotation planner.

The external correctness gate verifies only the FIRST 50 registry
entries per round (CORRECTNESS_r{N}.json). This tool reads every
CORRECTNESS_r*.json in the repo root plus the current registry and
reports:

- queries with a green driver row in some past round,
- queries checked rows-only (no_oracle) — by design,
- queries with NO driver row yet -> the set the next round's window
  rotation must cover,
- a STALENESS report (VERDICT r5 item 4): greens whose newest cert is
  >= STALE_ROUNDS rounds old by next round, oldest first — the
  steady-state rotation pool once the never-certified backlog is
  empty. Policy: every round's window = the 4 sentinels + all
  round-changed/new queries + the stalest certs filling the rest.

Usage: python tools/window_plan.py
"""

from __future__ import annotations

import glob
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# a green cert this many rounds old (or older) by next round's gate
# belongs in the rotation pool. With 195 registered queries and ~44
# free window slots per round (50 minus sentinels minus the round's
# new/changed queries) a full rotation takes ceil(195/44) = 5 rounds,
# so a 4-round ceiling is structurally unmeetable and would accrete a
# permanent "overdue" backlog; 5 is the smallest ceiling the window can
# sustain at this registry size. COVERAGE.md "certification window
# policy" states the same rule for the judge.
STALE_ROUNDS = 5


def main() -> int:
    from mit_6_5840_mapreduce_spark.operators import registry
    queries, oracles = registry()
    names = list(queries)

    green: dict[str, int] = {}      # name -> NEWEST green round
    rows_only: dict[str, int] = {}  # name -> NEWEST rows-only round
    latest = 0
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        rnd = int(os.path.basename(path)[len("CORRECTNESS_r"):-len(".json")])
        latest = max(latest, rnd)
        with open(path) as f:
            rows = json.load(f)
        for name, r in rows.items():
            if r.get("err") == "no_oracle" and r.get("spark_rows") is not None:
                rows_only[name] = rnd
            elif (r.get("rows_match") and r.get("schema_match")
                    and r.get("hash_match")):
                green[name] = rnd

    never = [n for n in names if n not in green and n not in rows_only]
    in_window = set(names[:50])
    print(f"registry: {len(names)} queries; driver-certified green: "
          f"{len(green)}; rows-only by design: {len(rows_only)}")
    print(f"\nno driver row yet ({len(never)}):")
    for n in never:
        mark = "IN WINDOW NOW" if n in in_window else "needs rotation"
        has_oracle = "oracle" if n in oracles else "rows-only"
        print(f"  {n:35s} {has_oracle:10s} {mark}")
    uncovered_next = [n for n in never if n not in in_window]
    if uncovered_next:
        print(f"\nnext-round rotation must pull in: {uncovered_next}")

    # staleness: a cert is stale when, by NEXT round's gate, it will be
    # STALE_ROUNDS or more rounds old. Oldest first, name tiebreak —
    # the deterministic fill order for the next window's free slots.
    next_round = latest + 1
    # newest cert round per name across BOTH kinds (ADVICE r6: letting
    # green override a newer rows-only round would understate freshness
    # and rotate recently re-checked queries back in early)
    certified = dict(rows_only)
    for n, r in green.items():
        certified[n] = max(r, certified.get(n, 0))
    for n, r in rows_only.items():
        certified[n] = max(r, certified.get(n, 0))
    stale = sorted(
        ((n, r) for n, r in certified.items()
         if n in set(names) and next_round - r >= STALE_ROUNDS),
        key=lambda t: (t[1], t[0]))
    print(f"\nstaleness (ceiling {STALE_ROUNDS} rounds, next round "
          f"r{next_round:02d}): {len(stale)} certs at/over the ceiling")
    for n, r in stale:
        # kind of the NEWEST cert (the one whose age we report)
        kind = "green" if green.get(n) == r else "rows-only"
        mark = "in window" if n in in_window else ""
        print(f"  r{r:02d} {n:35s} {kind:10s} {mark}")

    # mechanical draft of the next window under the steady-state
    # policy: sentinels + never-certified + oldest certs, oldest round
    # first with name tiebreak. The builder must still insert the
    # round's CHANGED queries (not knowable here) before freezing.
    sentinels = ["mr_wc", "mr_wc_rdd", "dedup_exact",
                 "stream_hourly_counts"]
    fill = sorted(((n, r) for n, r in certified.items()
                   if n in set(names) and n not in sentinels),
                  key=lambda t: (t[1], t[0]))
    draft = sentinels + never + [n for n, _ in fill]
    draft = list(dict.fromkeys(draft))[:50]
    print("\nsuggested next window (policy draft — splice in this "
          "round's changed queries before freezing):")
    for i in range(0, len(draft), 4):
        print("  " + ", ".join(draft[i:i + 4]))
    return 0


if __name__ == "__main__":
    try:
        raise SystemExit(main())
    except BrokenPipeError:     # reader (e.g. `| head`) closed early
        # CPython flushes sys.stdout again at interpreter shutdown; with
        # the pipe gone that flush raises a second time and turns the
        # exit status into 120 (ADVICE r5). Point stdout at devnull so
        # the shutdown flush has somewhere harmless to go.
        os.dup2(os.open(os.devnull, os.O_WRONLY), sys.stdout.fileno())
        raise SystemExit(0)
