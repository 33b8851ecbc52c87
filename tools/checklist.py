#!/usr/bin/env python3
"""Generate an OPTIMIZATION round's per-key appendix: every gated key with
its baseline and final medians, its module (from LEDGER.md), and a status
word. Keys the status file does not name are "OK". Usage:
  checklist.py STATUS.json BASELINE.json FINAL.json > appendix.md
STATUS.json is {"round": "r18", "statuses": {"<key>": "<status>", ...}};
one per round lives in tools/checklist/.
"""
import json
import pathlib
import re
import sys


def main():
    if len(sys.argv) != 4:
        sys.exit(__doc__)
    status = json.load(open(sys.argv[1]))
    rnd, statuses = status["round"], status["statuses"]
    base = json.load(open(sys.argv[2]))["queries"]
    fin = json.load(open(sys.argv[3]))["queries"]
    mods = {}
    for line in open(pathlib.Path(__file__).resolve().parent.parent / "LEDGER.md"):
        m = re.match(r"\| `(\w+)` \| `([^`]+)`", line)
        if m:
            mods[m.group(1)] = m.group(2).split(" ")[0]
    print(f"| key | module | {rnd} baseline s | {rnd} final s | status |")
    print("| --- | --- | --- | --- | --- |")
    for k in sorted(fin):
        b = base.get(k, float("nan"))
        print(f"| `{k}` | `{mods.get(k, '?')}` | {b:.3f} | {fin[k]:.3f} "
              f"| {statuses.get(k, 'OK')} |")


if __name__ == "__main__":
    main()
