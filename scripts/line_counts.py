"""Print the package, test and entry-file line counts that CHANGES.md records
for each change: the newline count (``wc -l``) summed over every ``.py`` file
under ``incubator_druid_spark/`` and ``tests/``, and of ``__spark_entry__.py``.

Usage:  python scripts/line_counts.py [checkout]   (default: this checkout)
"""

from __future__ import annotations

import os
import sys


def lines(path: str) -> int:
    with open(path, "rb") as fh:
        return fh.read().count(b"\n")


def tree_lines(root: str) -> int:
    return sum(lines(os.path.join(d, f))
               for d, _, files in os.walk(root)
               for f in files if f.endswith(".py"))


def main() -> None:
    root = sys.argv[1] if len(sys.argv) > 1 else \
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    counts = (tree_lines(os.path.join(root, "incubator_druid_spark")),
              tree_lines(os.path.join(root, "tests")),
              lines(os.path.join(root, "__spark_entry__.py")))
    print("package / tests / __spark_entry__.py: "
          + " / ".join(f"{n:,}" for n in counts))


if __name__ == "__main__":
    main()
