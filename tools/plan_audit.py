"""Physical-plan audit: every registry query's ``explain("formatted")``
is checked against scale rules before it counts as done.

Rules (violations exit non-zero; run in CI via tests/test_plans.py):

* **no-row-python** — ``BatchEvalPython`` (row-at-a-time Python UDF) may
  appear nowhere; Python is allowed only as ``ArrowEvalPython`` /
  ``MapInPandas`` / ``FlatMapGroupsInPandas`` (Arrow-vectorized), and
  only in queries that declare a UDF stage (BASELINE.json input_hint:
  "no per-row Python").
* **broadcast-dict** — queries joining the tiny currency/country/catalog
  dimension tables must use ``BroadcastHashJoin`` (never shuffle the
  fact side for a 200-row dict; ConvertWorker.java:90-122's in-memory
  maps ≙ broadcast join at 10^12 rows).
* **pushdown** — queries that filter parquet-native columns must show a
  non-empty ``PushedFilters`` on the scan node.
* **codegen** — plans must contain at least one WholeStageCodegen span
  (expressions stayed JVM-side).
* **pruning** — scans of wide tables must not read all columns when the
  query projects few (ReadSchema column count cap, per-query).

Usage: python tools/plan_audit.py [sf_dir] [name ...]
"""

from __future__ import annotations

import re
import sys

sys.path.insert(0, ".")

from linkedspending_spark.queries import QUERIES  # noqa: E402
from linkedspending_spark.session import get_spark  # noqa: E402

# queries with a declared (Arrow) UDF stage — the only place Python may run
ARROW_UDF_OK = {
    "mention_triples",
    "doc_profile",  # language-ID pandas UDF (per-document lang_guess)
    "lang_share",
    "multimodal_features",
    "obs_triples",  # mention scoring shares the convert pipeline
}

# queries that must broadcast their dictionary/dimension side
MUST_BROADCAST = {
    "mention_triples",
    "broadcast_lookup",
    "territory_links",
    "set_ops",  # the anti-join side (subsumes anti_join)
    "full_dict_lookup",
}

# queries whose parquet scan must carry pushed filters (they filter
# parquet-native columns, so the predicate must reach the reader)
MUST_PUSH_FILTERS = {
    "set_ops",
    "shingle_jaccard",
    "cosine_pairs",
    "sig_profile",
}

# query → max column count allowed in any parquet ReadSchema (pruning)
READ_SCHEMA_CAP = {
    "corpus_stats": 1,  # COUNT(*) needs zero data columns; years need ts only
    "order_fields": 2,
    "token_stats": 1,  # text only
    "doc_profile": 3,  # doc_id + text (+ source for the lang CTE parity)
    "sig_profile": 2,
    "dedup_exact": 2,
}

_READ_SCHEMA = re.compile(r"ReadSchema: struct<([^>]*)>")
_PUSHED = re.compile(r"PushedFilters: \[([^\]]*)\]")


def plan_of(df) -> str:
    qe = df._jdf.queryExecution()
    return df._sc._jvm.PythonSQLUtils.explainString(qe, "formatted")


# formatted mode annotates every codegen node with "[codegen id : N]"
_CODEGEN_NODE = re.compile(r"\[codegen id : \d+\]")


def audit_one(name: str, plan: str) -> list[str]:
    errs = []
    if "BatchEvalPython" in plan:
        errs.append("row-at-a-time Python UDF (BatchEvalPython) in plan")
    has_arrow = any(
        tag in plan for tag in ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas")
    )
    if has_arrow and name not in ARROW_UDF_OK:
        errs.append("undeclared Python (Arrow) stage in plan")
    if name in MUST_BROADCAST and "BroadcastHashJoin" not in plan:
        errs.append("dictionary join did not broadcast")
    if name in MUST_PUSH_FILTERS:
        pushed = _PUSHED.findall(plan)
        if not any(p.strip() for p in pushed):
            errs.append("no PushedFilters on parquet scan")
    if "Scan parquet" in plan and not _CODEGEN_NODE.search(plan):
        errs.append("no WholeStageCodegen span")
    cap = READ_SCHEMA_CAP.get(name)
    if cap is not None:
        for m in _READ_SCHEMA.finditer(plan):
            cols = [c for c in m.group(1).split(",") if ":" in c]
            if len(cols) > cap:
                errs.append(
                    f"scan reads {len(cols)} columns (cap {cap}): {m.group(1)[:80]}"
                )
    return errs


def main(argv: list[str]) -> int:
    sf_dir = argv[1] if len(argv) > 1 else "/root/testdata/sf0.001"
    names = argv[2:] or sorted(QUERIES)
    # AQE off for the audit only: with AQE the pre-execution plan is the
    # un-finalized AdaptiveSparkPlan, which hides codegen markers.
    spark = get_spark(
        8,
        app_name="plan_audit",
        shuffle_partitions=8,
        extra_conf={"spark.sql.adaptive.enabled": "false"},
    )
    bad = 0
    for name in names:
        try:
            plan = plan_of(QUERIES[name](spark, sf_dir))
        except Exception as exc:  # pragma: no cover - plan build failure
            print(f"FAIL {name} plan build: {exc}")
            bad += 1
            continue
        errs = audit_one(name, plan)
        if errs:
            bad += 1
            print(f"FAIL {name}: " + "; ".join(errs))
        else:
            print(f"OK   {name}")
    print(f"{len(names) - bad}/{len(names)} plans clean")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
