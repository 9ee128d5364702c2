"""Regenerate ``answer_key.json``: result digests of the catalog
workload's entries, computed by the DuckDB oracles (``all_oracles()``)
over every dataset variant the workload can run.

    python3 perfbench/answer_key.py

Run it from the repository root after changing the table generator,
the entry lists or an oracle. It takes a few minutes: the dedup-cluster
oracle alone is tens of seconds per variant.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import ROOT  # noqa: E402

sys.path.append(ROOT)

from catalog_bench import ANSWER_KEY, build_answer_key  # noqa: E402

if __name__ == "__main__":
    os.environ["TZ"] = "UTC"
    time.tzset()
    key = build_answer_key()
    with open(ANSWER_KEY, "w") as fh:
        json.dump(key, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"wrote {ANSWER_KEY}")
