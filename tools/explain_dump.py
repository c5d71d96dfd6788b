"""Dump ``.explain("formatted")`` for registered queries to files.

Captures the physical plan of each named query (or every query) into
``<out_dir>/<query>_<tag>.txt`` — the before/after plan evidence for the
optimization rounds (plans/r13/...).

    python tools/explain_dump.py <out_dir> <tag> [sf_dir] [query ...]

Every token that changes from run to run without the plan changing is
normalized (:func:`normalize`), so two trees dumped into two out_dirs
with the same tag prove plan identity with one ``diff -r``.
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

# (pattern, replacement) for the run-dependent tokens of a formatted plan
_VOLATILE = (
    # expression ids: vec_id#123L
    (re.compile(r"#\d+"), "#N"),
    # exchange plan ids: [plan_id=123]
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    # lambda-variable counters: lambda x_61
    (re.compile(r"\blambda (\w+?)_\d+\b"), r"lambda \1_N"),
    # the random seed F.shuffle draws per plan build (rule_gate staging)
    (re.compile(r"(shuffle\(.*?), Some\(-?\d+\)\)"), r"\1, Some(N))"),
    # RDD ids of scanned existing RDDs: RDD[17]
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
)


def normalize(plan: str) -> str:
    """``plan`` with expression ids, ``plan_id``, lambda-variable
    counters, the ``F.shuffle`` seed and ``RDD[n]`` ids replaced by
    fixed tokens."""
    for pattern, repl in _VOLATILE:
        plan = pattern.sub(repl, plan)
    return plan


def formatted(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def main() -> None:
    out_dir = Path(sys.argv[1])
    tag = sys.argv[2]
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.01"
    only = sys.argv[4:]

    import __spark_entry__ as entrymod
    from nr_rfc_dischargeobs_spark.plans.extensions import release_plan_caches
    from nr_rfc_dischargeobs_spark.session import get_spark

    spark = get_spark("explain-dump")
    spark.sparkContext.setLogLevel("ERROR")
    out_dir.mkdir(parents=True, exist_ok=True)

    # Raw plans (no _ordered wrapper): the canonical ORDER BY is compare-
    # harness plumbing, not operator semantics — same choice bench.py makes.
    queries = entrymod._raw_queries()
    names = only or list(queries)
    for name in names:
        try:
            plan = normalize(formatted(queries[name](spark, sf_dir)))
        except Exception as ex:  # noqa: BLE001 — report, keep dumping
            plan = f"PLAN FAILED: {ex}"
        finally:
            release_plan_caches()
        (out_dir / f"{name}_{tag}.txt").write_text(plan)
        print(f"wrote {name}_{tag}.txt")


if __name__ == "__main__":
    main()
