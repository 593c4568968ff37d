"""Regenerate ``expected_digests.json``: the DuckDB oracle's result digest
for each reference query on the benchmark's generated tables.

    python3 perfbench/make_expected.py

Run it only when the generator or a query's definition changes; the
benchmark compares Spark's results against the committed file.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

from checks import frame_digest  # noqa: E402
from datagen import write_tpch  # noqa: E402

from hhek2sqlite_spark.plans.reference import ORACLE_SQL  # noqa: E402
from hhek2sqlite_spark.testing.parity import run_oracle  # noqa: E402


def main() -> int:
    with tempfile.TemporaryDirectory(dir=HERE) as tmp:
        write_tpch(tmp)
        digests = {name: frame_digest(run_oracle(sql, tmp)) for name, sql in sorted(ORACLE_SQL.items())}
    with open(os.path.join(HERE, "expected_digests.json"), "w", encoding="utf-8") as fh:
        json.dump(digests, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"wrote {len(digests)} digests")
    return 0


if __name__ == "__main__":
    sys.exit(main())
