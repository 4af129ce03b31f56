"""Shared self-describing evidence line (VERDICT r11 task #2).

Every archived sweep/sim log must identify its own configuration on its
face — round 11 committed two robustness logs whose content was the
identical string "ALL 232 KEYS OK" and git recorded them as renames of
older logs.  One helper so the line SHAPE cannot drift between driver_sim and
determinism_probe.
"""
from __future__ import annotations

import json
import time


def evidence_line(tool: str, **fields) -> str:
    """One line of sorted-key JSON: {"tool": tool, "date_utc": now,
    **fields}.  No newlines; callers print it as the first stdout line
    (driver_sim) or immediately before the summary line
    (determinism_probe).
    """
    payload = {
        "tool": tool,
        "date_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    payload.update(fields)
    line = json.dumps(payload, sort_keys=True)
    assert "\n" not in line
    return line
