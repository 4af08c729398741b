"""Capture `.explain("formatted")` output of declared queries to files.

Usage: python tools/plan_capture.py <outdir> <suffix> [query ...]

Writes ``<outdir>/<query>_<suffix>.txt`` for each named query (default: a
representative set of blocking/scoring/dedup queries). Uses the same
session shape as bench.py so the captured plans reflect the measured
configuration. Queries whose builders run side-effecting batch protocols
(the incremental_* family) are skipped here — their internal plans are
captured by tools/resolve_plan_capture.py instead.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

DEFAULT_QUERIES = [
    "block_candidates",
    "jaccard_scored",
    "link_fuzzy_full",
    "link_many",
    "merge_entities",
    "stop_grams",
    "minhash_lsh_pairs",
    "simhash_pairs",
    "ngram_dup_pairs",
    "containment_pairs",
    "embedding_neardup_lsh",
    "embedding_neardup_multiprobe",
]


def main() -> None:
    outdir = sys.argv[1] if len(sys.argv) > 1 else "plans/r07"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    names = sys.argv[3:] or DEFAULT_QUERIES
    os.makedirs(outdir, exist_ok=True)

    from bench import _session

    spark = _session(int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as entry

    qs = entry.queries()
    for name in names:
        df = qs[name](spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")
    spark.stop()


if __name__ == "__main__":
    main()
