"""Dump .explain('formatted') for headline queries.

Usage: python scripts/dump_plans.py [--out DIR] <suffix> [query ...]
Writes DIR/<query>_<suffix>.txt for each query (default: all
bench.HEADLINE queries).  suffix is 'before' or 'after'.  DIR defaults
to dump_plans/ under the system temp dir, so a run never overwrites
the committed snapshots in plans/.
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", type=Path,
                    default=Path(tempfile.gettempdir()) / "dump_plans")
    ap.add_argument("suffix")
    ap.add_argument("names", nargs="*", metavar="query")
    args = ap.parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import __spark_entry__ as E
    from bench import HEADLINE
    from ner_extractor_spark.session import get_spark

    names = args.names or HEADLINE
    qs = E.queries()
    out_dir = args.out
    out_dir.mkdir(parents=True, exist_ok=True)

    spark = get_spark(app_name="dump-plans")
    for n in names:
        df = qs[n](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        (out_dir / f"{n}_{args.suffix}.txt").write_text(plan)
        print(f"wrote {out_dir / f'{n}_{args.suffix}.txt'} "
              f"({plan.count('Exchange')} Exchange refs)")
    spark.stop()


if __name__ == "__main__":
    main()
