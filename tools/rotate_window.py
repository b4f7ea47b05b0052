"""Round-open chore automation (VERDICT r15 task 2).

Recomputes the forced head of the 50-slot driver window from the
committed CORRECTNESS_r*.json verdict history and splices the new
``_DRIVER_WINDOW`` literal into ``las/queries/__init__.py`` between
the BEGIN/END markers. Optionally restores ``BENCH_LOCAL.json`` (the
clean artifact of record) from the last non-driver commit that touched
it — the per-round driver run overwrites the working-tree copy with
its own noisier measurement (VERDICT r14/r15 "What's wrong" #2).

Window policy (mirrors tests/test_driver_session.py):
  1. FORCED: entries never verdicted, or whose latest PASSING verdict
     would exceed MAX_VERDICT_AGE after the next driver run. Registry
     order (the order the CI guard prints them).
  2. PINS: caller-supplied re-verdicts for queries whose code changed
     this round (``--pin a,b,c``), in the order given.
  3. PRE-FILLS: remaining slots go to the entries whose verdicts age
     out soonest (oldest latest-round first, alphabetical tiebreak),
     smoothing future rounds' forced load.

Usage:
  python tools/rotate_window.py                # dry-run, prints plan
  python tools/rotate_window.py --write        # splice the literal
  python tools/rotate_window.py --write --pin semdedup_embedding_cells
  python tools/rotate_window.py --restore-bench   # git-restore BENCH_LOCAL
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REGISTRY_FILE = os.path.join(
    REPO, "log_analysis_bigdata_spark", "queries", "__init__.py"
)
BEGIN = "# --- BEGIN DRIVER WINDOW (generated by tools/rotate_window.py) ---"
END = "# --- END DRIVER WINDOW ---"
MAX_VERDICT_AGE = 4
SLOTS = 50
# The driver's own round-close commits are titled "round N: ..." — the
# BENCH_LOCAL.json they carry is the driver's (noisy, shared-host) run,
# not the clean artifact of record this repo regenerates at round end.
DRIVER_COMMIT_RE = re.compile(r"^round \d+: ")


def verdict_history(repo: str = REPO) -> tuple[dict[str, int], int]:
    """name -> latest round with a PASSING driver verdict, plus the
    current (max) round number. Same pass rule as the CI guard: only
    hash_match, or err-free rows_match for oracle-less entries."""
    latest: dict[str, int] = {}
    rounds = []
    for f in sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))):
        r = int(re.search(r"_r(\d+)\.json$", f).group(1))
        rounds.append(r)
        for name, v in json.load(open(f)).items():
            passed = v.get("hash_match") is True or (
                v.get("hash_match") is None
                and v.get("err") is None
                and v.get("rows_match") is True
            )
            if passed:
                latest[name] = max(latest.get(name, 0), r)
    if not rounds:
        raise SystemExit("no committed CORRECTNESS_r*.json found")
    return latest, max(rounds)


def plan_window(
    registry_names: list[str],
    latest: dict[str, int],
    cur: int,
    pins: list[str],
) -> tuple[list[str], list[str], list[str]]:
    """Return (forced, pins, prefills) — concatenation is the window."""
    forced = [
        n
        for n in registry_names
        if n not in latest or (cur + 1) - latest[n] > MAX_VERDICT_AGE
    ]
    unknown = [p for p in pins if p not in registry_names]
    if unknown:
        raise SystemExit(f"--pin names not in registry: {unknown}")
    pins = [p for p in pins if p not in forced]
    head = forced + pins
    if len(head) > SLOTS:
        raise SystemExit(
            f"forced ({len(forced)}) + pins ({len(pins)}) exceed "
            f"{SLOTS} window slots — drop pins or raise the cap"
        )
    remaining = SLOTS - len(head)
    candidates = sorted(
        (n for n in registry_names if n not in head),
        key=lambda n: (latest.get(n, 0), n),
    )
    return forced, pins, candidates[:remaining]


def render_literal(
    forced: list[str], pins: list[str], prefills: list[str], cur: int
) -> str:
    def block(names: list[str]) -> str:
        return "".join(f'    "{n}",\n' for n in names)

    nxt = cur + 1
    return (
        f"{BEGIN}\n"
        f"# Round-{nxt} window: {len(forced)} forced (age cap / never-"
        f"verdicted),\n# {len(pins)} code-change re-verdict pins, "
        f"{len(prefills)} oldest-first pre-fills.\n"
        "_DRIVER_WINDOW = (\n"
        f"    # (1) forced: needing a r{nxt} verdict (registry order)\n"
        f"{block(forced)}"
        f"    # (2) pinned re-verdicts: code changed this round\n"
        f"{block(pins)}"
        f"    # (3) pre-fills: verdicts aging out soonest, alphabetical\n"
        f"{block(prefills)}"
        ")\n"
        f"{END}"
    )


def splice(literal: str) -> None:
    src = open(REGISTRY_FILE).read()
    b, e = src.find(BEGIN), src.find(END)
    if b < 0 or e < 0:
        raise SystemExit(f"markers not found in {REGISTRY_FILE}")
    open(REGISTRY_FILE, "w").write(src[:b] + literal + src[e + len(END):])


# Every artifact-of-record file the builder regenerates at round close.
# The driver's end-of-round snapshot can commit a partial / noisy copy of
# any of these over HEAD (VERDICT r16 "What's wrong" #2 hit
# BENCH_SF10_LOCAL.json with an `invariants: PENDING` truncation), so the
# restore covers the whole set, not just BENCH_LOCAL.json.
ARTIFACTS_OF_RECORD = (
    "BENCH_LOCAL.json",
    "BENCH_SF10_LOCAL.json",
    "BENCH_SF1_LOCAL.json",
)


def restore_one(path: str) -> bool:
    """git-checkout ``path`` from the newest commit that touched it whose
    subject is NOT a driver round-close commit. Returns True if restored."""
    log = subprocess.run(
        ["git", "log", "--format=%H %s", "--", path],
        cwd=REPO, capture_output=True, text=True, check=True,
    ).stdout.splitlines()
    for line in log:
        sha, _, subject = line.partition(" ")
        if not DRIVER_COMMIT_RE.match(subject):
            subprocess.run(
                ["git", "checkout", sha, "--", path],
                cwd=REPO, check=True,
            )
            print(f"restored {path} from {sha[:8]} ({subject})")
            return True
    return False


def restore_bench() -> None:
    restored = 0
    for pat in ARTIFACTS_OF_RECORD:
        paths = (
            sorted(
                os.path.relpath(p, REPO)
                for p in glob.glob(os.path.join(REPO, pat))
            )
            if any(ch in pat for ch in "*?[")
            else [pat]
        )
        for path in paths:
            restored += restore_one(path)
    if not restored:
        raise SystemExit("no non-driver commit touching any artifact found")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--write", action="store_true", help="splice the literal")
    ap.add_argument("--pin", default="", help="comma-separated re-verdicts")
    ap.add_argument("--restore-bench", action="store_true")
    args = ap.parse_args()

    if args.restore_bench:
        restore_bench()
        if not args.write and not args.pin:
            return

    sys.path.insert(0, REPO)
    # Import the query submodules directly (not all_queries(), whose
    # exactly-50-window validation can't pass mid-rewrite).
    import importlib
    import pkgutil

    import log_analysis_bigdata_spark.queries as qpkg

    for m in pkgutil.iter_modules(qpkg.__path__):
        importlib.import_module(f"{qpkg.__name__}.{m.name}")
    names = list(qpkg.REGISTRY)
    latest, cur = verdict_history()
    pins = [p for p in args.pin.split(",") if p]
    forced, pins, prefills = plan_window(names, latest, cur, pins)
    literal = render_literal(forced, pins, prefills, cur)
    if args.write:
        splice(literal)
        print(
            f"wrote r{cur + 1} window: {len(forced)} forced + "
            f"{len(pins)} pins + {len(prefills)} pre-fills"
        )
    else:
        print(literal)


if __name__ == "__main__":
    main()
