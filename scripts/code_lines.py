"""Count package code lines: non-blank lines that are not comment-only,
docstring lines included, per module of ``conveyorbelt_spark`` and in
total.

    python scripts/code_lines.py [package_dir]

Prints one ``<lines>  <module path>`` row per module, largest first, then
the total. Run it on two checkouts to compare a change's size."""

from __future__ import annotations

import os
import sys


def code_lines(path: str) -> int:
    with open(path, encoding="utf-8") as f:
        return sum(
            1 for line in f if line.strip() and not line.strip().startswith("#")
        )


def main(argv: list[str]) -> int:
    root = argv[1] if len(argv) > 1 else os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "..", "conveyorbelt_spark"
    )
    root = os.path.normpath(root)
    counts = {}
    for d, _, files in os.walk(root):
        for name in files:
            if name.endswith(".py"):
                p = os.path.join(d, name)
                counts[os.path.relpath(p, os.path.dirname(root))] = code_lines(p)
    for rel, n in sorted(counts.items(), key=lambda kv: (-kv[1], kv[0])):
        print(f"{n:7d}  {rel}")
    print(f"{sum(counts.values()):7d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
