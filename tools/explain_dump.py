r"""Dump .explain("formatted") for declared queries to plans/r06/.

Usage:
    python tools/explain_dump.py <suffix> [query ...]

Writes plans/r06/<query>_<suffix>.txt for each named query, or for
every ``queries()`` entry when none is named — the full plan set a
refactor is compared by (``diff`` two suffixes after masking the
session counters: ``#\d+`` expression ids, ``plan_id=\d+`` and
``RDD[\d+]``, which shift even between two runs of one commit). Uses
the same session shape as bench.py.
"""

from __future__ import annotations

import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def main() -> None:
    if len(sys.argv) < 2:
        print("usage: explain_dump.py <suffix> [query ...]")
        sys.exit(2)
    suffix = sys.argv[1]

    from contextlib import redirect_stdout

    import __spark_entry__ as entry_mod
    from lexoid_spark.session import get_spark

    spark = get_spark("lexoid_spark_explain", cores=CPUS,
                      shuffle_partitions=int(CPUS))
    qs = entry_mod.queries()
    names = sys.argv[2:] or list(qs)
    outdir = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "plans", "r06")
    os.makedirs(outdir, exist_ok=True)
    for name in names:
        df = qs[name](spark, SF_DIR)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(buf.getvalue())
        print("wrote", path)
    spark.stop()


if __name__ == "__main__":
    main()
