"""Derive the next round's ROTATION_WINDOW from the driver artifacts.

VERDICT r11 task #6: the r6/r7 rotations hit ordering hazards and r8's
was hand-arithmetic; the pre-sequencing prose in SURVEY §11 is long
enough to be its own bug surface.  This tool makes the derivation
mechanical and the hand-edited list checkable:

  window = priority keys (changed-after-their-stamp, passed explicitly
           via --priority in the order they should lead — the
           sort_multikey_nulls r9 precedent; default none)
         + remaining keys ordered by (stamp round ASC, registration
           index ASC), truncated to 50 total.

"Stamp" is the latest CORRECTNESS_r*.json round in which the key is
fully green (rows+schema+hash, no err); never-certified keys sort
before every stamped key.  "Registration index" is the pristine
decoration order (plans.REGISTRATION_ORDER — captured before the
window reorder, so the current window cannot perturb the next one).

The changed-after-stamp priority rule stays a human input on purpose:
deciding whether a diff invalidates a certification (engine body or
registered oracle text vs. comment/solver-layer) is a judgment call
made in the round log, not a git heuristic.  The tool's job is the
part that was error-prone: merging eleven artifacts and sequencing the
oldest-stamp mass.

Usage:
    python tools/gen_rotation.py [--priority k1,k2] [--exempt k3,k4] [--n 50]
    python tools/gen_rotation.py --check   # diff against ROTATION_WINDOW

--exempt records the OTHER changed-after-stamp decision (VERDICT r12
task #7): keys whose post-stamp edits were judged mechanical lifecycle/
cosmetic (the r11 ann_ext2 precedent class — e.g. mkdtemp →
new_temp_dir wrapping, import cleanups) and therefore ride normal
stamp order instead of leading the window.  Exempt keys do NOT change
the derivation; they are VALIDATED (registered, disjoint from
--priority) and echoed in the output as '# exempt:' comment lines, so
every changed-after-stamp judgment is visible in the committed artifact
(the ROTATION_WINDOW paste), not buried in a commit message.

--check exits 1 with a diff if the derived window differs from the
committed plans.ROTATION_WINDOW; tests/test_plans.py runs the same
derivation in-process so CI re-verifies membership every run.
"""
from __future__ import annotations

import argparse
import glob
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def merged_stamps(repo: str = REPO, max_round: int | None = None) -> dict[str, int]:
    """key -> latest round fully green (rows+schema+hash, no err).

    ``max_round`` bounds the merge to the artifacts that existed when
    the window was derived (the round-N window derives from artifacts
    through round N-1) — without it, the driver writing
    CORRECTNESS_r{N}.json at round close would retroactively change the
    derivation and fail the in-repo pin mid-verify.
    """
    stamps: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"r(\d+)", os.path.basename(path)).group(1))
        if max_round is not None and rnd > max_round:
            continue
        try:
            art = json.load(open(path))
        except Exception:
            continue
        for k, v in art.items():
            if not isinstance(v, dict):
                continue
            if (
                v.get("rows_match")
                and v.get("schema_match")
                and v.get("hash_match")
                and v.get("err") is None
            ):
                stamps[k] = max(stamps.get(k, 0), rnd)
    return stamps


def derive_window(
    registration_order: list[str],
    stamps: dict[str, int],
    priority: list[str] | None = None,
    n: int = 50,
    exempt: list[str] | None = None,
) -> list[str]:
    priority = priority or []
    exempt = exempt or []
    reg_idx = {k: i for i, k in enumerate(registration_order)}
    unknown = [k for k in priority if k not in reg_idx]
    if unknown:
        raise KeyError(f"--priority names unregistered keys: {unknown}")
    if len(priority) != len(set(priority)):
        raise KeyError("--priority contains duplicates")
    # Exemptions don't reorder anything — they are the recorded
    # judgment that a post-stamp edit was mechanical (VERDICT r12 #7).
    # Validate them the same way so a typo'd key name can't silently
    # record a decision about nothing.
    unknown_ex = [k for k in exempt if k not in reg_idx]
    if unknown_ex:
        raise KeyError(f"--exempt names unregistered keys: {unknown_ex}")
    overlap = sorted(set(exempt) & set(priority))
    if overlap:
        raise KeyError(
            f"keys cannot be both --priority and --exempt: {overlap} "
            "(a single edit is either certification-invalidating or "
            "mechanical, not both)"
        )
    rest = [k for k in registration_order if k not in set(priority)]
    # Never-certified (stamp 0) sorts before every stamped key; ties
    # break by pristine decoration order.
    rest.sort(key=lambda k: (stamps.get(k, 0), reg_idx[k]))
    return (priority + rest)[:n]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--priority", default="", help="comma-separated changed-after-stamp keys, lead the window")
    ap.add_argument("--exempt", default="", help="comma-separated changed-after-stamp keys judged mechanical; validated and echoed as '# exempt:' lines, never reordered")
    ap.add_argument("--n", type=int, default=50)
    ap.add_argument("--max-round", type=int, default=None, help="merge artifacts only through this round (round-N windows derive from rounds <= N-1)")
    ap.add_argument("--check", action="store_true", help="exit 1 if derived != plans.ROTATION_WINDOW")
    args = ap.parse_args()

    from climateiq_pipelines_spark import plans

    plans.load_all()
    priority = [k for k in args.priority.split(",") if k]
    exempt = [k for k in args.exempt.split(",") if k]

    def _derive(bound: int | None) -> list[str]:
        return derive_window(
            plans.REGISTRATION_ORDER,
            merged_stamps(max_round=bound),
            priority,
            args.n,
            exempt=exempt,
        )

    window = _derive(args.max_round)
    if args.check:
        committed = list(plans.ROTATION_WINDOW)
        if window == committed:
            print(f"OK — ROTATION_WINDOW matches the derived {len(window)}-key window")
            return 0
        if args.max_round is None:
            # Round-12 self-review: the round-N window derives from
            # artifacts r1..N-1, so the moment the driver commits the
            # round-N artifact an unbounded derivation includes the
            # fresh stamps and diverges from the (correct) committed
            # window.  Before reporting a mismatch, retry with the
            # latest artifact excluded; a match there means the window
            # is simply due for its next rotation, not wrong.
            rounds = sorted(
                int(re.search(r"r(\d+)", os.path.basename(p)).group(1))
                for p in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))
            )
            if rounds and _derive(rounds[-1] - 1) == committed:
                print(
                    f"OK — ROTATION_WINDOW matches the derivation from "
                    f"artifacts through r{rounds[-1] - 1}; the r{rounds[-1]} "
                    f"artifact has since landed, so the NEXT rotation is "
                    f"due (run without --check to see it)"
                )
                return 0
        only_derived = [k for k in window if k not in committed]
        only_committed = [k for k in committed if k not in window]
        print("MISMATCH")
        print(f"  derived-but-not-committed: {only_derived}")
        print(f"  committed-but-not-derived: {only_committed}")
        if not only_derived and not only_committed:
            print("  (same membership, different order)")
            for i, (d, c) in enumerate(zip(window, committed)):
                if d != c:
                    print(f"  first divergence at slot {i}: derived={d} committed={c}")
                    break
        return 1
    for k in exempt:
        print(f"# exempt: {k} — changed after stamp, judged mechanical "
              "(rides normal stamp order)")
    for k in window:
        print(k)
    return 0


if __name__ == "__main__":
    sys.exit(main())
