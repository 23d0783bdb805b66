"""Markdown per-call table from a traced run.

    python3 perfbench/report.py perfbench/out/trace-serve-s1.json

One row per public library call of the timed loop, then the set-up
calls and the lazy layers timed alone with a noop sink (names ending in
``[noop]``).
"""

from __future__ import annotations

import json
import sys

COLUMNS = ("calls", "wall_s", "jobs", "stages", "tasks", "failed_tasks",
           "exec_run_s", "exec_util", "shuffle_bytes", "rows_read_per_result")


def table(rows: dict) -> str:
    head = "| call | " + " | ".join(COLUMNS) + " |"
    lines = [head, "|---" * (len(COLUMNS) + 1) + "|"]
    for name, r in rows.items():
        cells = []
        for c in COLUMNS:
            v = r.get(c)
            cells.append("" if v is None else
                         f"{v:.3f}" if isinstance(v, float) and not v.is_integer()
                         else f"{v:.0f}")
        lines.append(f"| `{name}` | " + " | ".join(cells) + " |")
    return "\n".join(lines)


def main() -> int:
    for path in sys.argv[1:]:
        with open(path) as f:
            doc = json.load(f)
        d = doc["detail"]
        print(f"### {d['workload']}, seed {d['seed']}, "
              f"{d['units']} unit(s), nproc {d['fingerprint']['nproc']}\n")
        for title, key in (("Timed loop", "calls"),
                           ("Set-up", "setup_calls"),
                           ("Lazy layers alone (noop sink)", "isolated_calls")):
            if doc[key]:
                print(f"{title}:\n\n{table(doc[key])}\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
