"""Plan fingerprints of every registry query: did this query's plan change?

``python tools/plan_fingerprint.py`` builds each ``queries()`` entry at
``SF_DIR`` in a session built as ``tests/conftest.py`` builds it (8 local
cores and 8 shuffle partitions, which enter plan strings) and writes
``plans/fingerprints.json``. For each query it holds the hash of the
normalized optimized logical plan, of the normalized initial physical plan
(before AQE runs a stage, so a plan that AQE re-plans differently from run
to run, such as ``graphrag_local``'s BuildLeft/BuildRight, still has one
fingerprint), and of its ``oracle_sql()`` text (``null`` where it has
none). ``tests/test_plans.py::test_plan_fingerprints_match`` recomputes
the file and names every query whose hashes differ. A change that moves a
plan on purpose regenerates the file, so its diff names the queries it
moved.

``python tools/plan_fingerprint.py <query> ...`` prints those queries'
normalized plans and oracle texts instead. Run it in two checkouts and
diff the output to see what moved.

Normalizing replaces what differs between processes or checkouts while the
plan stays the same:

- the checkout root, in file paths and oracle texts;
- expression ids (``#<n>``) and exchange ids (``plan_id=<n>``), each
  renumbered in order of first appearance, so which attributes are one
  attribute is kept;
- the counter suffix PySpark appends to a lambda variable (``x_12``);
- a file scan's ``Location``, ``DataFilters`` and ``PartitionFilters``.
  Spark cuts each at ``spark.sql.maxMetadataStringLength`` characters, so
  where it cuts depends on the length of the checkout path and on how many
  digits the expression ids have. The Filter node above the scan states
  the same filters in full, and the files a query reads are fingerprinted
  from ``inputFiles()``.

A plan string that Spark truncated (``... more fields``, past
``spark.sql.debug.maxToStringFields``) is refused: the cut would hide a
change.

Not fingerprinted:

- Job counts. Two processes counted 15 and 16 jobs for ``lpa_hierarchy``,
  and the first read of each table runs the schema-inference job of
  ``session.read_parquet``'s cache, so a count depends on which test read
  the table first.
- The plans an iterative query's loop runs while it is built. A
  fingerprint covers only the plan its caller runs: ``paths_2hop``'s
  normalized logical plan is a ``Union`` of three ``LogicalRDD``s. Those
  loops stay covered by the job-count tests in ``tests/test_local_solve.py``.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = "/root/testdata/sf0.001"
FINGERPRINTS = os.path.join(ROOT, "plans", "fingerprints.json")
# Spark's marker for a plan string cut at spark.sql.debug.maxToStringFields
TRUNCATED = "more fields"

_SCAN_METADATA = re.compile(r"(DataFilters|Location|PartitionFilters): .*?(?=, (?:Format|PartitionFilters|PushedFilters): )")
_LAMBDA = re.compile(r"(lambda \w+?)_\d+(?=#)")
_IDS = re.compile(r"(#|plan_id=)(\d+)")


def normalize(text: str) -> str:
    """``text`` with the checkout root, scan locations and filters,
    lambda-variable suffixes and renumbered expression and exchange ids
    replaced."""
    text = _LAMBDA.sub(r"\1_", _SCAN_METADATA.sub(r"\1: <cut>", text.replace(ROOT, "<root>")))
    seen: dict[tuple[str, str], int] = {}
    return _IDS.sub(lambda m: f"{m[1]}{seen.setdefault((m[1], m[2]), len(seen))}", text)


def plans(df) -> tuple[str, str]:
    """The normalized (optimized logical, initial physical) plans of an
    unexecuted ``df``; the physical one ends with the files it reads."""
    qe = df._jdf.queryExecution()
    logical, physical = qe.optimizedPlan().toString(), qe.executedPlan().toString()
    if TRUNCATED in logical or TRUNCATED in physical:
        raise ValueError(f"plan string truncated ({TRUNCATED!r}): raise spark.sql.debug.maxToStringFields")
    files = sorted(f.replace("file://", "file:").replace(ROOT, "<root>") for f in df.inputFiles())
    return normalize(logical), "\n".join([normalize(physical), "inputs:", *files])


def build_plans(spark) -> dict[str, tuple[str, str]]:
    """Each registry query's name -> its ``plans``, built at ``SF_DIR``."""
    import __spark_entry__ as entry

    out = {}
    for name, q in entry.queries().items():
        # a frame another caller cached would enter the plan
        spark.catalog.clearCache()
        try:
            out[name] = plans(q(spark, SF_DIR))
        except ValueError as e:
            raise ValueError(f"{name}: {e}") from None
    return out


def oracle_texts() -> dict[str, str]:
    import __spark_entry__ as entry

    return {name: sql.replace(ROOT, "<root>") for name, sql in entry.oracle_sql().items()}


def _hash(text: str | None) -> str | None:
    return None if text is None else hashlib.sha256(text.encode()).hexdigest()[:16]


def fingerprints(built: dict[str, tuple[str, str]]) -> dict[str, dict[str, str | None]]:
    """Query name -> the hashes of its logical plan, physical plan and
    oracle text."""
    sql = oracle_texts()
    return {
        name: {"logical": _hash(logical), "physical": _hash(physical), "oracle_sql": _hash(sql.get(name))}
        for name, (logical, physical) in sorted(built.items())
    }


def main() -> int:
    from semstreams_spark.session import get_spark

    spark = get_spark("plan_fingerprint", cores=8, shuffle_partitions=8)
    import __spark_entry__ as entry

    names = sys.argv[1:]
    if not names:
        built = build_plans(spark)
        with open(FINGERPRINTS, "w") as f:
            f.write(json.dumps(fingerprints(built), indent=1, sort_keys=True) + "\n")
        print(f"wrote {os.path.relpath(FINGERPRINTS, ROOT)} ({len(built)} queries)", file=sys.stderr)
        return 0
    qs, sql = entry.queries(), oracle_texts()
    unknown = [n for n in names if n not in qs]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2
    for n in names:
        spark.catalog.clearCache()
        logical, physical = plans(qs[n](spark, SF_DIR))
        print(f"== {n}: logical ==\n{logical}\n== {n}: physical ==\n{physical}\n== {n}: oracle_sql ==\n{sql.get(n)}\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
