"""Round-close gate runner (VERDICT r7 item 5).

Runs ALL four gates — full DuckDB oracle sweep, pytest (including the
registry-wide plan sweep), the bench harness, and the registry count — at
ONE immutable SHA, then writes a single close record. It REFUSES to write
the record if:

- the working tree is dirty when it starts (uncommitted code would make the
  record describe a state that never existed in history), or
- HEAD moves while the gates run (the round-6 red and the round-7 3-query
  tail both came from registry changes landing after a recorded sweep).

Usage:

    python tools/close_gates.py --round 8            # full close (~15 min)
    python tools/close_gates.py --round 8 --skip-bench

The record lands in CLOSE_r{N}.json and is meant to be committed as the
round's final change; any commit after it invalidates it by definition.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", *args], cwd=REPO, capture_output=True, text=True, check=True
    ).stdout.strip()


def _dirty_lines(porcelain: str) -> list[str]:
    """Porcelain lines that should refuse a close record. The ONLY exempt
    states are the bench gate's own write of BENCH_AB.json: unstaged
    modification (XY = ' M') or untracked ('??'). Compared on the
    stripped line because ``_git`` strips stdout — the r13 close refused
    twice on ' M BENCH_AB.json' whose leading space strip() had eaten;
    a STAGED modification ('M  BENCH_AB.json', two inner spaces), a
    delete, or a rename still refuses."""
    return [
        ln
        for ln in porcelain.splitlines()
        if ln.strip() not in ("M BENCH_AB.json", "?? BENCH_AB.json")
    ]


def _run(cmd: list[str], env: dict | None = None) -> tuple[int, str]:
    proc = subprocess.run(
        cmd,
        cwd=REPO,
        capture_output=True,
        text=True,
        env={**os.environ, **(env or {})},
    )
    return proc.returncode, proc.stdout + proc.stderr


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--round", type=int, required=True)
    ap.add_argument("--skip-bench", action="store_true")
    ap.add_argument("--sf", default="sf0.01", help="oracle-sweep scale factor")
    ap.add_argument(
        "--expect-queries",
        type=int,
        required=True,
        help="registered-query count the round froze at; the registry and "
        "oracle-sweep gates go red on any other count (ADVICE r8: a wrong "
        "count must be able to redden the close record)",
    )
    args = ap.parse_args()

    if _git("status", "--porcelain"):
        print("REFUSED: working tree is dirty — commit or stash first.", file=sys.stderr)
        return 2
    sha = _git("rev-parse", "HEAD")
    record: dict = {"round": args.round, "sha": sha, "gates": {}}

    # Gate 1: registry shape (count + oracle coverage + window arithmetic)
    sys.path.insert(0, REPO)
    from ab_inbev_big_data_case_spark import registry

    registry.load_all()
    n_queries = len(registry.QUERIES)
    n_oracles = len(registry.ORACLE)
    changed = sorted(registry.changed_since_checked())
    window = set(registry._CHECK_FIRST)
    changed_outside = [n for n in changed if n not in window]
    record["gates"]["registry"] = {
        "queries": n_queries,
        "oracles": n_oracles,
        "rows_only": n_queries - n_oracles,
        "check_first": len(registry._CHECK_FIRST),
        "expected": args.expect_queries,
        # VERDICT r11 item 1: every changed-since-last-driver-check name
        # must be inside the upcoming driver window, or the close is red
        # (a changed name outside the window means never+changed overflow
        # the 50 slots — shrink the round's additions).
        "changed_since_checked": changed,
        "changed_outside_window": changed_outside,
        # ADVICE r8: green must be explicit — count pinned to the frozen
        # registry size, every query oracle-backed, full driver window.
        "green": (
            n_queries == args.expect_queries
            and n_oracles == n_queries
            and len(registry._CHECK_FIRST)
            == min(registry._WINDOW_SIZE, n_queries)
            and not changed_outside
        ),
    }

    # Gate 2: full oracle sweep at one SF (the driver's comparison, all names)
    rc, out = _run([sys.executable, "tools/check_oracle.py", "--sf", args.sf])
    m = re.search(r"(\d+) pass, (\d+) rows-only, (\d+) fail / (\d+) total", out)
    record["gates"]["oracle_sweep"] = {
        "rc": rc,
        "sf": args.sf,
        "summary": m.group(0) if m else out[-300:],
        # ADVICE r8: a rows-only regression (a query silently losing its
        # value oracle) and a total-count drift must both redden the gate.
        "green": bool(
            m
            and rc == 0
            and m.group(2) == "0"
            and m.group(3) == "0"
            and int(m.group(4)) == args.expect_queries
        ),
    }

    # Gate 3: pytest (plan sweep + property specs + live streaming included)
    rc, out = _run([sys.executable, "-m", "pytest", "tests/", "-q", "--tb=no"])
    m = re.search(r"(\d+) passed(?:, (\d+) failed)?", out)
    record["gates"]["pytest"] = {
        "rc": rc,
        "summary": (m.group(0) if m else out[-300:]),
        "green": rc == 0,
    }

    # Gate 4: bench harness (one JSON line; parse-or-fail)
    if args.skip_bench:
        record["gates"]["bench"] = {"skipped": True}
    else:
        rc, out = _run([sys.executable, "bench.py"])
        line = next(
            (ln for ln in out.splitlines() if ln.startswith("{")), None
        )
        bench = json.loads(line) if line else None
        load = (bench or {}).get("load") or {}
        record["gates"]["bench"] = {
            "rc": rc,
            "total_sec": bench["value"] if bench else None,
            "n_queries": len(bench["queries"]) if bench else 0,
            "load": load,
            # a bench measured under foreign load is not a number of
            # record (BENCH_NOTES r14 rule): any load-flagged query makes
            # the gate red so the close is re-run on a quiet host
            "green": rc == 0 and bench is not None and not load.get("flagged"),
        }

    # BENCH_AB.json is WRITTEN BY the bench gate itself (the r12 A/B
    # side-record that keeps the stdout JSON line parseable) — it is an
    # expected gate artifact, committed together with the close record,
    # not a sign the tree drifted. The exemption is STATUS-SPECIFIC
    # (ADVICE r12): only an unstaged modification or a brand-new untracked
    # file matches the bench gate's own write; a staged, deleted, renamed,
    # or otherwise-statused BENCH_AB.json still refuses, so a hand-edited
    # copy can't ride the exemption into a minted close record.
    dirty = _dirty_lines(_git("status", "--porcelain"))
    head_now = _git("rev-parse", "HEAD")
    if head_now != sha or dirty:
        print(
            "REFUSED: HEAD moved or tree went dirty during the gates — the "
            "record would not describe one SHA. Re-run at the final SHA. "
            f"[started at {sha[:10]}, now {head_now[:10]}; "
            f"dirty={dirty!r}]",
            file=sys.stderr,
        )
        return 3

    record["all_green"] = all(
        g.get("green", True) for g in record["gates"].values()
    )
    path = os.path.join(REPO, f"CLOSE_r{args.round:02d}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=2)
        f.write("\n")
    print(json.dumps(record, indent=2))
    print(f"\nwrote {path} at SHA {sha[:10]} — commit it as the round's final change.")
    return 0 if record["all_green"] else 1


if __name__ == "__main__":
    sys.exit(main())
