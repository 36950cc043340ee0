#!/usr/bin/env python
"""Mechanical driver-green ledger (VERDICT r6 item #2).

Round 6's audit found the hand-maintained coverage claims had drifted:
d4/d5/x1 were reported driver-green but no ``CORRECTNESS_r*.json``
contains those keys, and o7/o8 were described as green when their only
driver rows ever were round-2 hash FAILURES. This script makes that
class of error impossible: the "green in some round" set is *derived*
by parsing every ``CORRECTNESS_r*.json`` in the repo root — a query
counts as driver-green iff some round recorded all three of
``rows_match``/``schema_match``/``hash_match`` as true.

Outputs (``--write`` regenerates both; a pytest asserts no drift):

* ``LEDGER.md`` — one row per ``queries()`` entry: green rounds, last
  driver status, oracle-bearing or rows-only, current-window membership.
* the rotation queue — (oracle-bearing) ∧ (never driver-green) ∧ (not
  in the current window), i.e. exactly the entries that still need a
  window slot (VERDICT r6 item #3).

Usage:
    python scripts/ledger.py            # print summary + queue
    python scripts/ledger.py --write    # regenerate LEDGER.md
"""

from __future__ import annotations

import glob
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

#: Entries whose driver check is rows-only *by design* (no SQL oracle
#: can exist: m1 writes files and reports codec sizes, m2 reports
#: filesystem bytes). Kept out of the window per ADVICE r5 so every
#: correctness-gate slot carries a hash-checked oracle.
ROWS_ONLY_BY_DESIGN = frozenset({"m1b_codec_sizes", "m2b_column_sizes"})


def load_rounds(rounds_filter: set[str] | None = None) -> dict[str, dict]:
    """Parse CORRECTNESS_r*.json into {round: {query: record}}.

    ``rounds_filter`` (round ids like ``{"01", "08"}``) restricts the
    parse to exactly those rounds — the drift test uses the input set
    stamped in LEDGER.md so a CORRECTNESS file the driver drops *after*
    the ledger was generated (i.e. at round close, after the last
    commit) cannot make the committed ledger look stale (VERDICT r8
    item #1).
    """
    rounds: dict[str, dict] = {}
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        rnd = os.path.basename(path).split("_r")[-1].split(".")[0]
        if rounds_filter is not None and rnd not in rounds_filter:
            continue
        with open(path) as fh:
            rounds[rnd] = json.load(fh)
    return rounds


def is_green(rec: dict) -> bool:
    return bool(
        rec.get("rows_match") and rec.get("schema_match") and rec.get("hash_match")
    )


def build_ledger(rounds_filter: set[str] | None = None) -> dict:
    """Return the derived ledger for every queries() entry."""
    from mirrulations_iceberg_spark.operators import DRIVER_WINDOW, collect_queries

    queries, oracle = collect_queries()
    rounds = load_rounds(rounds_filter)

    ledger: dict[str, dict] = {}
    for name in queries:
        green_rounds = []
        last = None  # (round, status)
        for rnd, data in rounds.items():
            rec = data.get(name)
            if rec is None:
                continue
            if is_green(rec):
                green_rounds.append(rnd)
                last = (rnd, "green")
            elif rec.get("err"):
                status = "rows-only" if rec["err"] == "no_oracle" else "error"
                last = (rnd, status)
            else:
                last = (rnd, "hash-fail")
        ledger[name] = {
            "oracle": name in oracle,
            "green_rounds": green_rounds,
            "last": last,
            "in_window": name in DRIVER_WINDOW,
        }
    return ledger


def rotation_queue(ledger: dict) -> list[str]:
    """Oracle-bearing, never driver-green, not already in the window."""
    return [
        n
        for n, rec in ledger.items()
        if rec["oracle"] and not rec["green_rounds"] and not rec["in_window"]
    ]


def parse_inputs(text: str) -> set[str]:
    """Recover the stamped CORRECTNESS-round input set from LEDGER.md.

    Returns round ids (``{"01", ..., "08"}``). An old ledger without a
    stamp yields the empty set; callers should fall back to all files.
    """
    for line in text.splitlines():
        if line.startswith("Inputs:"):
            return {tok[1:] for tok in line.split() if tok.startswith("r") and tok[1:].isdigit()}
    return set()


#: Heading of LEDGER.md's hand-written tail (the driver-window rotation
#: history); ``--write`` carries everything from it on into the new file.
HISTORY_HEADING = "## Driver-window rotation history"


def parse_history(text: str) -> str:
    """The hand-written tail of LEDGER.md, from :data:`HISTORY_HEADING`
    on (empty when the file has none)."""
    i = text.find("\n" + HISTORY_HEADING)
    return text[i + 1 :] if i >= 0 else ""


def render(ledger: dict, inputs: list[str] | None = None, history: str = "") -> str:
    if inputs is None:
        inputs = sorted(load_rounds())
    lines = [
        "# Driver-green ledger (generated — do not hand-edit)",
        "",
        "Regenerate with `python scripts/ledger.py --write`; "
        "`tests/test_ledger.py` fails on drift. Only the rotation history "
        "at the end is hand-written; regeneration keeps it.",
        "",
        "Inputs: " + " ".join(f"r{r}" for r in inputs)
        + " (CORRECTNESS files consumed at generation; the drift test "
        "compares against exactly this set, so a newer driver drop at "
        "round close cannot fail it)",
        "",
        "A query is **driver-green** iff some round's `CORRECTNESS_r*.json` "
        "recorded rows+schema+hash all true. `last` is the most recent driver "
        "row of any kind. Claims about rotated-out queries cite this table, "
        "never memory (VERDICT r6 item #2).",
        "",
        "| query | oracle | green rounds | last driver row | in window |",
        "|---|---|---|---|---|",
    ]
    for name in sorted(ledger):
        rec = ledger[name]
        greens = " ".join(f"r{r}" for r in rec["green_rounds"]) or "—"
        last = f"r{rec['last'][0]} {rec['last'][1]}" if rec["last"] else "never checked"
        oracle = "yes" if rec["oracle"] else "rows-only (by design)"
        lines.append(
            f"| {name} | {oracle} | {greens} | {last} | "
            f"{'yes' if rec['in_window'] else ''} |"
        )
    green_ever = [n for n, r in ledger.items() if r["green_rounds"]]
    never = [n for n, r in ledger.items() if not r["green_rounds"]]
    queue = rotation_queue(ledger)
    lines += [
        "",
        f"**Totals:** {len(ledger)} queries; {len(green_ever)} driver-green ever; "
        f"{len(never)} never green "
        f"({sum(1 for n in never if n in ROWS_ONLY_BY_DESIGN)} rows-only by design).",
        "",
        "**Rotation queue** (oracle-bearing ∧ never green ∧ not in window): "
        + (", ".join(sorted(queue)) if queue else "*empty*"),
        "",
    ]
    text = "\n".join(lines)
    return text + "\n" + history if history else text


def main() -> int:
    # Snapshot the input set ONCE and thread it through both build and
    # render — re-globbing inside render() could stamp a CORRECTNESS
    # file that landed between the two calls without its rows.
    inputs = sorted(load_rounds())
    ledger = build_ledger(set(inputs))
    out = os.path.join(REPO, "LEDGER.md")
    history = ""
    if os.path.exists(out):
        with open(out) as fh:
            history = parse_history(fh.read())
    text = render(ledger, inputs, history)
    if "--write" in sys.argv[1:]:
        with open(out, "w") as fh:
            fh.write(text)
        print(f"wrote {out}")
    else:
        print(text)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
