"""Physical-plan regression guards — the scale story, enforced.

BENCH/PLANS.md records a per-query audit of the executed plans; these
tests pin the two invariants that must never regress silently:

1. **No per-row Python evals** (``BatchEvalPython``) anywhere.  The
   north rule's input hint forbids per-row Python, not built-ins:
   sha256 and import extraction are plain column expressions
   (``sources/extract.py``), and the only Python left in a batch plan
   is the Arrow-batched multimodal decode ``mapInPandas``.
2. **No sort-merge joins** in the audited analytical queries — every
   join is either a broadcast of a provably small side or a
   SHUFFLE_HASH of co-keyed aggregates; an SMJ appearing here means a
   hint was lost and the edge/corpus side would re-sort at scale.

The audit reuses ``tools/plan_audit.py::audit_plan`` on the executed
plan string at sf0.001 (compiling a query may execute its iterative
build — cheap at that scale).
"""

import importlib.util
import os

import pytest

_TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
_spec = importlib.util.spec_from_file_location(
    "plan_audit", os.path.join(_TOOLS, "plan_audit.py")
)
plan_audit = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(_spec and plan_audit)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.001")

# non-iterative (or cheap-build) queries whose joins must stay
# broadcast/SHJ; window top-k queries are excluded (their per-key
# sorts are bounded, documented in BENCH/PLANS.md)
AUDITED = [
    "tfidf_docs",
    "bm25_docs",
    "pmi_bigrams_docs",
    "conductance_cop",
    "modularity_cop",
    "dedup_exact_docs",
    "token_counts_docs",
    "quality_docs",
    "minhash_lsh_docs",
    "contamination_docs",
]


@pytest.fixture(scope="module")
def audits(spark):
    if not os.path.isdir(SF_DIR):
        pytest.skip(f"no testdata at {SF_DIR}")
    from neo4j_graph_algorithms_spark import driver_queries as dq

    out = {}
    for name in AUDITED:
        df = dq.QUERIES[name](spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
        out[name] = plan_audit.audit_plan(plan)
    return out


def test_no_per_row_python_evals(audits):
    bad = {n: a["python_eval"] for n, a in audits.items() if a["python_eval"]}
    assert not bad, f"per-row Python evals crept into plans: {bad}"


def test_no_sort_merge_joins(audits):
    bad = {n: a["smj"] for n, a in audits.items() if a["smj"]}
    assert not bad, f"sort-merge joins crept into plans: {bad}"


def test_joins_present_where_expected(audits):
    # broadcast df table in tfidf; broadcast idf+dl pattern in bm25;
    # SHJ post-agg join in conductance — the shapes PLANS.md records
    assert audits["tfidf_docs"]["bhj"] >= 1
    assert audits["bm25_docs"]["bhj"] >= 1  # idf broadcast; dl is carried inline
    assert audits["conductance_cop"]["shj"] >= 1
