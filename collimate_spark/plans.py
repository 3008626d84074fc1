"""Physical-plan introspection helpers — the programmatic form of the
`.explain("formatted")` review the 100 TB design rules require.

``plan_features`` distills an executed plan into the quantities that
matter at scale (exchanges, broadcasts, scans, codegen spans, pushed
filters); ``assert_scalable`` turns the common red flags into one call.
tests/test_plans.py pins specific operators; these helpers are the
reusable surface for ad-hoc checks, CI gates on user queries, and
notebook "why is this slow" triage.
"""

from __future__ import annotations

import json
import re
from collections import Counter

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def formatted_plan(df: DataFrame) -> str:
    sc = df.sparkSession.sparkContext
    return sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def plan_graph(df: DataFrame) -> dict:
    """The physical plan as Spark's own ``SparkPlanInfo`` tree — the graph
    the SQL UI and the event log draw — decoded from its JSON form.
    ``fromSparkPlan`` already descends into what runs: an adaptive plan's
    current plan (never its initial one), query stages, a cached
    relation's build plan, a reused exchange's target and subqueries."""
    jvm = df.sparkSession._jvm
    info = jvm.org.apache.spark.sql.execution.SparkPlanInfo.fromSparkPlan(
        df._jdf.queryExecution().executedPlan()
    )
    scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper().registerModule(
        scala.__getattr__("MODULE$")
    )
    return json.loads(mapper.writeValueAsString(info))


def plan_nodes(df: DataFrame) -> list[dict]:
    """Every physical node of the plan, each counted once.

    A node is identified by the SQL-metric accumulator ids of itself and
    its subtree. A cached or reused subtree appears under every reader
    with the same accumulators, so it counts once; identical uncached
    siblings each own their accumulators, so each counts."""
    nodes: dict[tuple, dict] = {}

    def visit(node: dict) -> frozenset:
        accs = frozenset(m["accumulatorId"] for m in node["metrics"]).union(
            *map(visit, node["children"])
        )
        nodes.setdefault((node["nodeName"], accs), node)
        return accs

    visit(plan_graph(df))
    return list(nodes.values())


# a file-source scan is named "Scan <format> <table or empty>"; RDD and
# one-row scans ("Scan ExistingRDD", "Scan OneRowRelation") read no file
_FILE_SCAN = re.compile(r"Scan \S+ |BatchScan")


def plan_features(df: DataFrame) -> dict:
    """Distill the physical plan into scale-relevant counts, read from the
    plan graph (see ``plan_nodes``: a node runs once however often it is
    referenced).

    Keys: ops (Counter of node names), n_exchanges (shuffle and broadcast
    exchanges), n_broadcasts, n_scans (file scans), n_codegen_spans
    (WholeStageCodegen stages), has_cartesian, has_bnl_join
    (BroadcastNestedLoop — fine for 1-row/dim frames, a red flag between
    facts), pushed_filters (each file scan's pushed filter list)."""
    nodes = plan_nodes(df)
    ops = Counter(n["nodeName"] for n in nodes)
    scans = [n for n in nodes if _FILE_SCAN.match(n["nodeName"])]
    return {
        "ops": ops,
        "n_exchanges": ops["Exchange"] + ops["BroadcastExchange"],
        "n_broadcasts": ops["BroadcastExchange"],
        "n_scans": len(scans),
        "n_codegen_spans": sum(
            c for name, c in ops.items() if name.startswith("WholeStageCodegen")
        ),
        "has_cartesian": ops["CartesianProduct"] > 0,
        "has_bnl_join": ops["BroadcastNestedLoopJoin"] > 0,
        "pushed_filters": [
            s["metadata"]["PushedFilters"][1:-1]
            for s in scans
            if "PushedFilters" in s["metadata"]
        ],
    }


def assert_scalable(
    df: DataFrame,
    max_exchanges: int | None = None,
    allow_bnl: bool = True,
    require_pushdown: bool = False,
) -> dict:
    """Raise AssertionError on the plan shapes that kill 100× scale-ups:
    cartesian products always; BroadcastNestedLoop joins unless
    ``allow_bnl`` (they are legitimate for 1-row bound frames); more
    shuffles than ``max_exchanges`` when given; zero pushed filters when
    ``require_pushdown``. Returns the feature dict for further checks."""
    f = plan_features(df)
    assert not f["has_cartesian"], "plan contains a CartesianProduct"
    if not allow_bnl:
        assert not f["has_bnl_join"], "plan contains BroadcastNestedLoopJoin"
    if max_exchanges is not None:
        assert f["n_exchanges"] <= max_exchanges, (
            f"{f['n_exchanges']} exchanges > allowed {max_exchanges}"
        )
    if require_pushdown:
        assert any(p.strip() for p in f["pushed_filters"]), "no filters pushed to scan"
    return f


_PLANS_HEADER = """# Physical-plan audit

Scale-relevant features of every registered query's physical plan at
sf0.001 (regenerate: `make plans`), counted over the plan graph with
each node that runs counted once. Columns: shuffles = Exchange and
BroadcastExchange nodes (a reused exchange counts once), scans = file-scan
nodes, bcast = BroadcastExchange nodes, wscg = WholeStageCodegen stages,
cart/bnlj = CartesianProduct / BroadcastNestedLoopJoin present
(bnlj is legitimate only against 1-row/dimension frames; the blanket test
tests/test_plans.py::test_no_cartesian_products_anywhere enforces the
cartesian ban). Oracle = driver-verifiable DuckDB twin registered.
Iterative operators (kcore, pagerank, CC) report their FINAL composed
plan; per-round shapes are described in their docstrings.

| query | shuffles | scans | bcast | wscg | cart | bnlj | oracle |
|---|---|---|---|---|---|---|---|
"""


def regenerate_plans_md(out_path: str, sf_dir: str = "/root/testdata/sf0.001") -> str:
    """Rebuild the PLANS.md audit table over every registered query."""
    import io

    from collimate_spark.operators import all_oracles, all_queries
    from collimate_spark.session import get_session

    spark = get_session("plan-audit")
    queries, oracles = all_queries(), all_oracles()
    buf = io.StringIO()
    buf.write(_PLANS_HEADER)
    max_sh, max_q, n_cart = -1, "", 0
    for name in sorted(queries):
        f = plan_features(queries[name](spark, sf_dir))
        sh = f["n_exchanges"]
        if sh > max_sh:
            max_sh, max_q = sh, name
        n_cart += bool(f["has_cartesian"])
        buf.write(
            "| {} | {} | {} | {} | {} | {} | {} | {} |\n".format(
                name,
                sh,
                f["n_scans"],
                f["n_broadcasts"],
                f["n_codegen_spans"],
                "X" if f["has_cartesian"] else "",
                "X" if f["has_bnl_join"] else "",
                "yes" if name in oracles else "rows-only",
            )
        )
    buf.write(
        f"\n{len(queries)} queries audited; {n_cart} cartesian products; "
        f"max shuffles {max_sh} ({max_q}).\n"
    )
    text = buf.getvalue()
    with open(out_path, "w") as fh:
        fh.write(text)
    return text


if __name__ == "__main__":
    import os
    import sys

    out = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"
    )
    regenerate_plans_md(out)
    print(f"wrote {out}")
