#!/usr/bin/env python3
"""Merge `graft.Dev parity` logs into the curated covered list.

    python3 scripts/parity_curate.py LOG [LOG...] [--max-sec S]

Reads `[parity] <name> <STATUS> [t=<sec>]` lines (later logs override
earlier ones per query), keeps OK entries, drops entries slower than
--max-sec (default 8 s — the spec re-runs every covered query on every
`sbt test`, so the certified list trades a few slow recursive replays
for a bounded suite time; slow-but-OK entries are reported so the
tradeoff is visible), and prints a Scala Seq literal for
graft.oracle.SparkSql.covered.
"""
import re
import sys

def main():
    max_sec = 8.0
    args = []
    skip = False
    for i, a in enumerate(sys.argv[1:], start=1):
        if skip:
            skip = False
            continue
        if a == "--max-sec":
            max_sec = float(sys.argv[i + 1])
            skip = True
        elif not a.startswith("--"):
            args.append(a)
    status = {}
    for path in args:
        for line in open(path):
            m = re.search(r"\[parity\] (\S+) (\S+).*?(?:t=([0-9.]+))?\s*$", line)
            if m:
                status[m.group(1)] = (m.group(2),
                                      float(m.group(3)) if m.group(3) else None)
    ok = sorted(q for q, (s, t) in status.items() if s == "OK")
    slow = sorted(q for q in ok if status[q][1] and status[q][1] > max_sec)
    fast = [q for q in ok if q not in slow]
    print(f"# scanned={len(status)} ok={len(ok)} "
          f"covered(fast)={len(fast)} slow-but-ok={len(slow)}", file=sys.stderr)
    if slow:
        print("# slow-but-ok (certified by scan, excluded from the spec "
              "list):", file=sys.stderr)
        for q in slow:
            print(f"#   {q} t={status[q][1]}", file=sys.stderr)
    print("  val covered: Seq[String] = Seq(")
    for i in range(0, len(fast), 3):
        row = ", ".join(f'"{q}"' for q in fast[i:i + 3])
        sep = "," if i + 3 < len(fast) else ")"
        print(f"    {row}{sep}")

if __name__ == "__main__":
    main()
