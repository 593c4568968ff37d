"""Print a result digest per registered query, or compare the digests
with a git revision's.

    python scripts/query_digests.py SF_DIR NAME... [--against REV]

Without ``--against``: one ``<rows> <digest> <name>`` line per query,
where the digest is ``perfbench/checks.frame_digest`` over the Spark
result, i.e. the parity gate's canonical form (order-insensitive,
repr-strict, column kinds included). A query that raises prints
``error <exception type> <name>`` instead.

With ``--against REV``: the same run happens a second time in a child
process over ``git archive REV hhek2sqlite_spark`` unpacked into a
temporary directory (no checkout, the working tree is not touched).
Only the queries whose lines differ are printed, as a ``- `` line for
REV and a ``+ `` line for the working tree; the exit status is 1 if any
differ. ``frame_digest`` comes from the working tree's ``perfbench/``
on both sides (its canonical form from each side's own
``testing/parity.py``).
"""

from __future__ import annotations

import io
import os
import subprocess
import sys
import tarfile
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = os.path.join(ROOT, "scripts")
PERFBENCH = os.path.join(ROOT, "perfbench")

# the child finds the unpacked package first: ``-c`` puts its cwd at
# the head of sys.path, ahead of the ROOT that ``digest_lines`` appends
_CHILD = "import sys, query_digests; sys.exit(query_digests.main(sys.argv[1:]))"


def digest_lines(sf_dir: str, names: list[str]) -> list[str]:
    sys.path += [ROOT, PERFBENCH]
    from checks import frame_digest

    from hhek2sqlite_spark.operators.util import release_local_checkpoints
    from hhek2sqlite_spark.plans import QUERIES
    from hhek2sqlite_spark.session import get_spark

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    lines = []
    for name in names:
        try:
            df = QUERIES[name](spark, sf_dir)
            try:
                got = frame_digest(df.toPandas())
            finally:
                release_local_checkpoints(df)
            lines.append(f"{got['rows']} {got['digest']} {name}")
        except Exception as exc:  # noqa: BLE001 - a failing query is a result too
            lines.append(f"error {type(exc).__name__} {name}")
    return lines


def _lines_at(rev: str, sf_dir: str, names: list[str]) -> list[str]:
    tar = subprocess.run(
        ["git", "archive", "--format=tar", rev, "hhek2sqlite_spark"],
        cwd=ROOT, check=True, capture_output=True,
    ).stdout
    with tempfile.TemporaryDirectory() as tmp:
        with tarfile.open(fileobj=io.BytesIO(tar)) as tf:
            tf.extractall(tmp)
        env = dict(os.environ)
        env["PYTHONPATH"] = os.pathsep.join(
            [p for p in (tmp, SCRIPTS, env.get("PYTHONPATH")) if p]
        )
        out = subprocess.run(
            [sys.executable, "-c", _CHILD, sf_dir, *names],
            cwd=tmp, env=env, check=True, stdout=subprocess.PIPE, text=True,
        ).stdout
    return out.splitlines()


def main(argv: list[str]) -> int:
    rev = None
    if "--against" in argv:
        i = argv.index("--against")
        rev, argv = argv[i + 1], argv[:i] + argv[i + 2:]
    if len(argv) < 2:
        print("usage: query_digests.py SF_DIR NAME... [--against REV]", file=sys.stderr)
        return 2
    sf_dir, names = argv[0], argv[1:]
    if rev is None:
        for line in digest_lines(sf_dir, names):
            print(line)
        return 0
    before = _lines_at(rev, sf_dir, names)
    after = digest_lines(sf_dir, names)
    differ = [(old, new) for old, new in zip(before, after) if old != new]
    for old, new in differ:
        print(f"- {old}\n+ {new}")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
