#!/usr/bin/env python3
"""Regenerate golden.json: the digests every op is checked against at the
default seed.

    python3 perfbench/golden.py

The MC digests come from the serial numpy reference (no Spark), the
query digests from each query's DuckDB oracle over the sf0.01 tables in
``tables/``, which do not depend on the seed. Other seeds compute the MC
digests at the start of each run.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import mcload, querymix  # noqa: E402
from perfbench.run import DEFAULT_SEED, GOLDEN  # noqa: E402


def main() -> int:
    digests = {
        w: mcload.reference_digests(w, DEFAULT_SEED, mcload.configs(w))
        for w in mcload.WORKLOADS
    }
    digests["query_mix"] = querymix.oracle_digests(querymix.tables_dir("full"))
    with open(GOLDEN, "w") as fh:
        json.dump({"seed": DEFAULT_SEED, "command": "python3 perfbench/golden.py",
                   "digests": digests}, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
