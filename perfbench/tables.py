"""Size counters of a Delta log table, read from its files (not through
the table's API, so the counters cost the program nothing)."""

from __future__ import annotations

import glob
import json
import os


def table_stats(roots: list[str]) -> dict[str, float]:
    """Versions, live files, log bytes and live data bytes, summed over
    ``roots``.  Live files come from replaying add/remove actions."""
    out = {"versions": 0, "live_files": 0, "log_bytes": 0, "data_bytes": 0}
    for root in roots:
        commits = sorted(glob.glob(os.path.join(root, "_delta_log", "*.json")))
        live: dict[str, int] = {}
        for path in commits:
            out["log_bytes"] += os.path.getsize(path)
            with open(path) as fh:
                for line in fh:
                    action = json.loads(line) if line.strip() else {}
                    if "add" in action:
                        live[action["add"]["path"]] = action["add"]["size"]
                    elif "remove" in action:
                        live.pop(action["remove"]["path"], None)
        out["versions"] += len(commits)
        out["live_files"] += len(live)
        out["data_bytes"] += sum(live.values())
    return out
