#!/usr/bin/env python3
"""Print a benchmark run record: every metric by name with its unit, then
the per-query detail.

    python3 perfbench/show.py [RECORD.json ...]   # default: the newest record
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

RUNS = Path(__file__).resolve().parent.parent / ".perfbench" / "runs"


def show(path: Path) -> None:
    rec = json.loads(path.read_text())
    print(f"== {path.name}: workload {rec['workload']} seed {rec['seed']} "
          f"trace {rec['trace']}  env {rec['env']}")
    for name, m in rec["metrics"].items():
        print(f"  {name:36s} {m['value']:>16.6g} {m['unit']}")
    print(f"  failures: {rec['failures'] or 'none'}")
    print("  check pass (build s, eager executions, oracle, plan digest):")
    for q in rec["check_pass"]:
        print(f"    {q['query']:30s} {q.get('build_s', 0):7.3f} "
              f"{q.get('eager_executions', '-'):>4} {q['oracle']}  "
              f"{q.get('plan_digest', {})}")
    for key in ("warm_passes", "passes", "traced_passes"):
        for i, p in enumerate(rec.get(key, [])):
            print(f"  {key} #{i}: wall {p['wall_s']:.3f} s (unstolen "
                  f"{p['unstolen_s']:.3f} s), peak rss {p['peak_rss_mb']:.0f} MB")
            for q in p["queries"]:
                parts = " ".join(f"{k} {q[k]:.3f}" for k in
                                 ("wall_s", "unstolen_s", "build_s", "plan_s",
                                  "exec_s", "steal_s")
                                 if isinstance(q.get(k), float))
                extra = (f" eager {q['eager_executions']}"
                         if "eager_executions" in q else "")
                print(f"    {q['query']:30s} {parts}{extra}")


def main(argv: list[str]) -> int:
    paths = [Path(a) for a in argv] or sorted(
        RUNS.glob("*.json"), key=lambda p: p.stat().st_mtime)[-1:]
    if not paths:
        print(f"no run records under {RUNS}", file=sys.stderr)
        return 1
    for p in paths:
        show(p)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
