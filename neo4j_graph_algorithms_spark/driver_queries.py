"""Driver-contract queries: engine operators on the TPC-H-ish testdata,
each paired with DuckDB oracle SQL over the same parquet views.

Two deterministic graphs are derived from the tables (both engines use
textually-equivalent derivations):

- ``cs_edges``  — directed bipartite customer→supplier:
  ``(o_custkey, 200000 + l_suppkey)`` distinct via orders ⋈ lineitem.
  Exercises PageRank (suppliers are dangling), degrees, threshold WCC.
- ``cop_edges`` — undirected co-purchase part graph oriented low→high:
  parts appearing in the same order.  Dense, triangle-rich — exercises
  triangles, clustering coefficients, WCC, label propagation.

Conventions that make the value-hash comparison exact:
- every id/count cast to BIGINT on both sides;
- every double rounded to 6 digits on both sides;
- PageRank's alpha written ``(1.0 - 0.85)`` on both sides (float64
  0.15000000000000002, matching the reference's Java arithmetic);
- iterative oracles are *unrolled* SQL (20 PageRank supersteps, 4 LP
  supersteps) generated by the same loop count the engine runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions import algo_list
from .functions import dedup as dd
from .functions import similarity as sim
from .functions import textstats as ts
from .functions import sampling as smp
from .functions import scaling as sc
from .graph import Graph
from .operators import (
    all_shortest_paths_unweighted,
    conductance,
    fastrp,
    k_truss,
    modularity,
    sample_subgraph,
    article_rank,
    betweenness_centrality,
    eigenvector_centrality,
    hits,
    closeness_centrality,
    harmonic_centrality,
    core_numbers,
    k_core,
    label_propagation,
    louvain,
    neighbor_similarity,
    minimum_spanning_forest,
    neighborhood_function,
    node2vec_walks,
    pagerank,
    random_walks,
    scc,
    shortest_path_nodes,
    shortest_paths,
    doulion_estimate,
    triangle_count,
    triangle_stream,
    wcc,
    wcc_two_phase,
)
from .sources.extract import repo_edges
from .sources.repo_source import synthetic_repo_files
from .streaming.incremental_wcc import incremental_wcc_batch

SUPPLIER_OFFSET = 200000
PR_ITERS = 20
LP_ITERS = 4

# ------------------------------------------------------------------ #
# shared table / graph loaders (Spark side)
# ------------------------------------------------------------------ #


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def cs_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").cast("long").alias("src"),
            (F.lit(SUPPLIER_OFFSET) + F.col("l_suppkey")).cast("long").alias("dst"),
        )
        .distinct()
    )


def cs_weighted_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer→supplier with weight = number of supplying lineitems."""
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy(
            F.col("o_custkey").cast("long").alias("src"),
            (F.lit(SUPPLIER_OFFSET) + F.col("l_suppkey")).cast("long").alias("dst"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("weight"))
    )


def cop_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    a, b = li.alias("a"), li.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").cast("long").alias("src"),
            F.col("b.l_partkey").cast("long").alias("dst"),
        )
        .distinct()
    )


# ------------------------------------------------------------------ #
# shared oracle CTE fragments (DuckDB side)
# ------------------------------------------------------------------ #

CS_EDGES_CTE = f"""cs_edges AS (
  SELECT DISTINCT CAST(o_custkey AS BIGINT) AS src,
         CAST({SUPPLIER_OFFSET} + l_suppkey AS BIGINT) AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
)"""

CS_WEIGHTED_CTE = f"""cs_w AS (
  SELECT CAST(o_custkey AS BIGINT) AS src,
         CAST({SUPPLIER_OFFSET} + l_suppkey AS BIGINT) AS dst,
         CAST(count(*) AS DOUBLE) AS weight
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  GROUP BY 1, 2
)"""

COP_EDGES_CTE = """cop_edges AS (
  SELECT DISTINCT CAST(a.l_partkey AS BIGINT) AS src,
         CAST(b.l_partkey AS BIGINT) AS dst
  FROM lineitem a
  JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
)"""

# tokens / shingles — definitions mirrored from functions/textstats.py
TOKS_CTE = """toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> x != '') AS t,
         text
  FROM documents
)"""

SHINGLES_CTE = """sh AS (
  SELECT doc_id,
         list_distinct(
           CASE WHEN len(t) >= 3
                THEN list_transform(generate_series(1, len(t) - 2),
                                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                ELSE [] END) AS s
  FROM toks
)"""

# corpus/probe split + 5-gram streams shared by the two contamination
# oracles (mirrors q_contamination_docs' deterministic doc_id % 17 slice;
# DuckDB generate_series is not lateral-capable — unnest() in SELECT)
_CONTAM_CTES = """pr AS (SELECT doc_id AS probe_id, t FROM toks WHERE doc_id % 17 = 3),
co AS (SELECT doc_id, t FROM toks WHERE doc_id % 17 <> 3),
pgi AS (
  SELECT probe_id, t,
         unnest(generate_series(1, greatest(len(t) - 4, 0))) AS i
  FROM pr
),
pg AS (
  SELECT DISTINCT probe_id,
         t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4] AS gram
  FROM pgi
),
cgi AS (
  SELECT doc_id, t,
         unnest(generate_series(1, greatest(len(t) - 4, 0))) AS i
  FROM co
),
cg AS (
  SELECT doc_id, i - 1 AS pos,
         t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4] AS gram
  FROM cgi
)"""


def _pagerank_oracle(iters: int = PR_ITERS) -> str:
    parts = [
        CS_EDGES_CTE.replace("cs_edges AS (", "cs_edges AS MATERIALIZED ("),
        "v AS MATERIALIZED (SELECT src AS id FROM cs_edges UNION SELECT dst FROM cs_edges)",
        "outdeg AS MATERIALIZED (SELECT src, count(*) AS d FROM cs_edges GROUP BY src)",
        "it0 AS MATERIALIZED (SELECT id, CAST(1.0 - 0.85 AS DOUBLE) AS rank FROM v)",
    ]
    for k in range(1, iters + 1):
        parts.append(
            f"""it{k} AS MATERIALIZED (
  SELECT v.id, (1.0 - 0.85) + 0.85 * coalesce(m.s, 0.0) AS rank
  FROM v LEFT JOIN (
    SELECT e.dst AS id, sum(p.rank / o.d) AS s
    FROM cs_edges e
    JOIN it{k - 1} p ON e.src = p.id
    JOIN outdeg o ON o.src = e.src
    GROUP BY e.dst
  ) m ON m.id = v.id
)"""
        )
    return (
        "WITH " + ",\n".join(parts) + f"\nSELECT id, round(rank, 6) AS score FROM it{iters}"
    )


def _pagerank_weighted_oracle(iters: int = PR_ITERS) -> str:
    parts = [
        CS_WEIGHTED_CTE.replace("cs_w AS (", "cs_w AS MATERIALIZED ("),
        "v AS MATERIALIZED (SELECT src AS id FROM cs_w UNION SELECT dst FROM cs_w)",
        """sh AS MATERIALIZED (
  SELECT e.src, e.dst, e.weight / t.ws AS share
  FROM cs_w e JOIN (SELECT src, sum(weight) AS ws FROM cs_w GROUP BY src) t
    ON t.src = e.src
)""",
        "it0 AS MATERIALIZED (SELECT id, CAST(1.0 - 0.85 AS DOUBLE) AS rank FROM v)",
    ]
    for k in range(1, iters + 1):
        parts.append(
            f"""it{k} AS MATERIALIZED (
  SELECT v.id, (1.0 - 0.85) + 0.85 * coalesce(m.s, 0.0) AS rank
  FROM v LEFT JOIN (
    SELECT e.dst AS id, sum(p.rank * e.share) AS s
    FROM sh e JOIN it{k - 1} p ON e.src = p.id
    GROUP BY e.dst
  ) m ON m.id = v.id
)"""
        )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT id, round(rank, 6) AS score FROM it{iters}"
    )


def _article_rank_oracle(iters: int = PR_ITERS) -> str:
    """SQL twin of ``operators/pagerank.py::article_rank``: the PageRank
    unroll with push divisor ``outdeg + avg_outdeg`` (exact integer
    sum/count divided once in double — both engines compute the
    identical offset)."""
    parts = [
        CS_EDGES_CTE.replace("cs_edges AS (", "cs_edges AS MATERIALIZED ("),
        "v AS MATERIALIZED (SELECT src AS id FROM cs_edges UNION SELECT dst FROM cs_edges)",
        "outdeg AS MATERIALIZED (SELECT src, count(*) AS d FROM cs_edges GROUP BY src)",
        "off AS MATERIALIZED (SELECT CAST(sum(d) AS DOUBLE) / count(*) AS o FROM outdeg)",
        "it0 AS MATERIALIZED (SELECT id, CAST(1.0 - 0.85 AS DOUBLE) AS rank FROM v)",
    ]
    for k in range(1, iters + 1):
        parts.append(
            f"""it{k} AS MATERIALIZED (
  SELECT v.id, (1.0 - 0.85) + 0.85 * coalesce(m.s, 0.0) AS rank
  FROM v LEFT JOIN (
    SELECT e.dst AS id, sum(p.rank / (o.d + f.o)) AS s
    FROM cs_edges e
    JOIN it{k - 1} p ON e.src = p.id
    JOIN outdeg o ON o.src = e.src
    CROSS JOIN off f
    GROUP BY e.dst
  ) m ON m.id = v.id
)"""
        )
    return (
        "WITH " + ",\n".join(parts) + f"\nSELECT id, round(rank, 6) AS score FROM it{iters}"
    )


def _fastrp_oracle(d: int = 8, weights=(0.0, 1.0, 1.0), seed: int = 0) -> str:
    """SQL twin of ``operators/fastrp.py`` on the undirected cop graph:
    identical md5 very-sparse init (60-bit bigint mod 6), neighbor-mean
    gather, per-node L2 normalization, weighted level sum."""
    import math as _math

    v3 = _math.sqrt(3.0) / _math.sqrt(float(d))
    init_cols = []
    for j in range(d):
        h = _HEX15_TO_BIGINT.format(
            h=f"substr(md5('{seed}:{j}:' || CAST(id AS VARCHAR)), 1, 15)"
        )
        init_cols.append(
            f"CASE ({h}) % 6 WHEN 0 THEN {v3!r} WHEN 1 THEN {-v3!r} "
            f"ELSE 0.0 END AS x{j}"
        )
    parts = [
        COP_EDGES_CTE.replace("cop_edges AS (", "cop_edges AS MATERIALIZED ("),
        "ue AS MATERIALIZED (SELECT src, dst FROM cop_edges UNION SELECT dst, src FROM cop_edges)",
        "v AS MATERIALIZED (SELECT DISTINCT src AS id FROM ue)",
        "it0 AS MATERIALIZED (SELECT id, "
        + ", ".join(init_cols)
        + ", "
        + ", ".join(f"CAST(0.0 AS DOUBLE) AS e{j}" for j in range(d))
        + " FROM v)",
    ]
    for l, w in enumerate(weights, start=1):
        gsel = ", ".join(f"avg(p.x{j}) AS g{j}" for j in range(d))
        csel = ", ".join(
            f"coalesce(m.g{j}, 0.0) AS g{j}" for j in range(d)
        )
        esel = ", ".join(f"p.e{j} AS pe{j}" for j in range(d))
        nrm = " + ".join(f"g{j} * g{j}" for j in range(d))
        xsel = ", ".join(
            f"CASE WHEN nrm > 0 THEN g{j} / nrm ELSE 0.0 END AS x{j}"
            for j in range(d)
        )
        accsel = ", ".join(
            f"pe{j} + {float(w)!r} * (CASE WHEN nrm > 0 THEN g{j} / nrm "
            f"ELSE 0.0 END) AS e{j}"
            for j in range(d)
        )
        parts.append(
            f"""m{l} AS (
  SELECT e.dst AS id, {gsel}
  FROM ue e JOIN it{l - 1} p ON e.src = p.id GROUP BY e.dst
),
r{l} AS (
  SELECT p.id, {csel}, {esel}
  FROM it{l - 1} p LEFT JOIN m{l} m ON m.id = p.id
),
it{l} AS MATERIALIZED (
  SELECT id, {xsel}, {accsel}
  FROM (SELECT *, sqrt({nrm}) AS nrm FROM r{l})
)"""
        )
    out = ", ".join(f"round(e{j}, 6) AS e{j}" for j in range(d))
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT id, {out} FROM it{len(weights)}"
    )


def _eigenvector_oracle(iters: int = PR_ITERS, interval: int = 4) -> str:
    """SQL twin of ``operators/eigenvector.py`` on the UNDIRECTED cop
    graph: power iteration with the engine's batched normalization
    schedule — ``raw_k`` = gather every level, L2-normalize only when k
    is a ``check_interval`` boundary or the final level, zero-guarded
    exactly like the engine."""
    parts = [
        COP_EDGES_CTE.replace("cop_edges AS (", "cop_edges AS MATERIALIZED ("),
        "ue AS MATERIALIZED (SELECT src, dst FROM cop_edges UNION SELECT dst, src FROM cop_edges)",
        "v AS MATERIALIZED (SELECT DISTINCT src AS id FROM ue)",
        "it0 AS MATERIALIZED (SELECT id, CAST(1.0 AS DOUBLE) AS score FROM v)",
    ]
    for k in range(1, iters + 1):
        boundary = (k % interval == 0) or (k == iters)
        raw = f"""(
    SELECT v.id, coalesce(m.s, 0.0) AS score
    FROM v LEFT JOIN (
      SELECT e.dst AS id, sum(p.score) AS s
      FROM ue e JOIN it{k - 1} p ON e.src = p.id
      GROUP BY e.dst
    ) m ON m.id = v.id
  )"""
        if boundary:
            parts.append(
                f"""raw{k} AS MATERIALIZED {raw},
it{k} AS MATERIALIZED (
  SELECT id, CASE WHEN n.nrm > 0 THEN score / n.nrm ELSE 0.0 END AS score
  FROM raw{k} CROSS JOIN (SELECT sqrt(sum(score * score)) AS nrm FROM raw{k}) n
)"""
            )
        else:
            parts.append(f"it{k} AS MATERIALIZED {raw}")
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT id, round(score, 6) AS score FROM it{iters}"
    )


def _hits_oracle(iters: int = PR_ITERS, interval: int = 4) -> str:
    """SQL twin of ``operators/hits.py``: Kleinberg update order
    (authorities from previous hubs, hubs from CURRENT authorities),
    both vectors L2-normalized only at ``check_interval`` boundaries
    and the final level, zero-guarded exactly like the engine."""
    parts = [
        CS_EDGES_CTE.replace("cs_edges AS (", "cs_edges AS MATERIALIZED ("),
        "v AS MATERIALIZED (SELECT src AS id FROM cs_edges UNION SELECT dst FROM cs_edges)",
        "it0 AS MATERIALIZED (SELECT id, CAST(1.0 AS DOUBLE) AS hub, CAST(1.0 AS DOUBLE) AS authority FROM v)",
    ]
    for k in range(1, iters + 1):
        boundary = (k % interval == 0) or (k == iters)
        parts.append(
            f"""a{k} AS MATERIALIZED (
  SELECT v.id, coalesce(m.s, 0.0) AS authority
  FROM v LEFT JOIN (
    SELECT e.dst AS id, sum(p.hub) AS s
    FROM cs_edges e JOIN it{k - 1} p ON e.src = p.id GROUP BY e.dst
  ) m ON m.id = v.id
)"""
        )
        parts.append(
            f"""hraw{k} AS MATERIALIZED (
  SELECT v.id, coalesce(m.s, 0.0) AS hub
  FROM v LEFT JOIN (
    SELECT e.src AS id, sum(q.authority) AS s
    FROM cs_edges e JOIN a{k} q ON e.dst = q.id GROUP BY e.src
  ) m ON m.id = v.id
)"""
        )
        if boundary:
            parts.append(
                f"""it{k} AS MATERIALIZED (
  SELECT h.id,
         CASE WHEN n.hn > 0 THEN h.hub / n.hn ELSE 0.0 END AS hub,
         CASE WHEN n.an > 0 THEN a.authority / n.an ELSE 0.0 END AS authority
  FROM hraw{k} h JOIN a{k} a ON a.id = h.id
  CROSS JOIN (
    SELECT (SELECT sqrt(sum(hub * hub)) FROM hraw{k}) AS hn,
           (SELECT sqrt(sum(authority * authority)) FROM a{k}) AS an
  ) n
)"""
            )
        else:
            parts.append(
                f"""it{k} AS MATERIALIZED (
  SELECT h.id, h.hub, a.authority
  FROM hraw{k} h JOIN a{k} a ON a.id = h.id
)"""
            )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT id, round(hub, 6) AS hub, round(authority, 6) AS authority FROM it{iters}"
    )


def _pagerank_personalized_oracle(n_sources: int = 5, iters: int = PR_ITERS) -> str:
    parts = [
        CS_EDGES_CTE.replace("cs_edges AS (", "cs_edges AS MATERIALIZED ("),
        "v AS MATERIALIZED (SELECT src AS id FROM cs_edges UNION SELECT dst FROM cs_edges)",
        f"srcs AS MATERIALIZED (SELECT id FROM v ORDER BY id LIMIT {n_sources})",
        "outdeg AS MATERIALIZED (SELECT src, count(*) AS d FROM cs_edges GROUP BY src)",
        """it0 AS MATERIALIZED (
  SELECT v.id,
         CASE WHEN s.id IS NOT NULL THEN CAST(1.0 - 0.85 AS DOUBLE) ELSE 0.0 END AS rank
  FROM v LEFT JOIN srcs s ON s.id = v.id
)""",
    ]
    for k in range(1, iters + 1):
        parts.append(
            f"""it{k} AS MATERIALIZED (
  SELECT v.id,
         CASE WHEN s.id IS NOT NULL THEN (1.0 - 0.85) ELSE 0.0 END
           + 0.85 * coalesce(m.s, 0.0) AS rank
  FROM v LEFT JOIN srcs s ON s.id = v.id
  LEFT JOIN (
    SELECT e.dst AS id, sum(p.rank / o.d) AS s
    FROM cs_edges e
    JOIN it{k - 1} p ON e.src = p.id
    JOIN outdeg o ON o.src = e.src
    GROUP BY e.dst
  ) m ON m.id = v.id
)"""
        )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT id, round(rank, 6) AS score FROM it{iters}"
    )


def _pagerank_converged_oracle(tol: float = 1e-6, max_iters: int = 100) -> str:
    """Tolerance-mode PageRank as a genuine recursive convergence loop:
    the recursion stops producing iteration k+1 once iteration k's
    max(delta) < tol (exactly the engine's break condition), and the
    final kept iteration is returned.  NOTE: under ``WITH RECURSIVE``
    DuckDB 1.0 does not deduplicate plain ``UNION`` in helper CTEs, so
    vertex sets use explicit DISTINCT over UNION ALL."""
    return f"""WITH RECURSIVE {CS_EDGES_CTE.replace("cs_edges AS (", "cs_edges AS MATERIALIZED (")},
v AS MATERIALIZED (SELECT DISTINCT id FROM (
  SELECT src AS id FROM cs_edges UNION ALL SELECT dst FROM cs_edges)),
outdeg AS MATERIALIZED (SELECT src, count(*) AS d FROM cs_edges GROUP BY src),
loop(it, id, rank, delta) AS (
  SELECT 0, id, CAST(1.0 - 0.85 AS DOUBLE), CAST(1.0 - 0.85 AS DOUBLE) FROM v
  UNION ALL
  SELECT l.it + 1, l.id,
         l.rank + 0.85 * coalesce(m.s, 0.0),
         0.85 * coalesce(m.s, 0.0)
  FROM loop l
  LEFT JOIN (
      SELECT e.dst AS id, sum(p.delta / o.d) AS s
      FROM cs_edges e JOIN loop p ON e.src = p.id AND p.delta > 0
      JOIN outdeg o ON o.src = e.src
      GROUP BY e.dst
  ) m ON m.id = l.id
  WHERE l.it < {max_iters} AND (SELECT max(delta) FROM loop) >= {tol}
)
SELECT id, round(rank, 6) AS score FROM loop
WHERE it = (SELECT max(it) FROM loop)"""


# 60-bit hex → BIGINT, exact integer arithmetic (16^14 overflows the
# 53-bit double mantissa, so shifts, not power()).
_HEX15_TO_BIGINT = (
    "CAST(list_sum(list_transform(range(0, 15), i -> "
    "CAST(strpos('0123456789abcdef', substr({h}, CAST(i AS INT) + 1, 1)) - 1 AS BIGINT)"
    " << ((14 - CAST(i AS INT)) * 4))) AS BIGINT)"
)


def _simhash_pairs_oracle(max_hamming: int = 6, nbits: int = 60) -> str:
    """SQL twin of ``functions/dedup.py:simhash_near_pairs``: same
    simhash derivation, same band widths/offsets, same pigeonhole band
    join + exact bit_count(xor) filter; empty docs excluded like the
    driver query."""
    b = max_hamming + 1
    width = nbits // b
    widths = [width + (1 if i < nbits % b else 0) for i in range(b)]
    offsets = [sum(widths[:i]) for i in range(b)]
    h = _HEX15_TO_BIGINT.format(h="substr(md5(tok), 1, 15)")
    votes = ",\n         ".join(
        f"sum(CASE WHEN (h >> {x}) & 1 = 1 THEN 1 ELSE -1 END) AS b{x}"
        for x in range(nbits)
    )
    sim = " + ".join(
        f"CASE WHEN b{x} > 0 THEN CAST(1 AS BIGINT) << {x} ELSE 0 END"
        for x in range(nbits)
    )
    band_rows = "\n  UNION ALL ".join(
        f"SELECT id, {i} AS band, (simhash >> {offsets[i]}) & {(1 << widths[i]) - 1} AS val FROM sh"
        for i in range(b)
    )
    return f"""WITH {TOKS_CTE},
tok AS (SELECT doc_id, unnest(t) AS tok FROM toks),
hh AS (SELECT doc_id, {h} AS h FROM tok),
votes AS (
  SELECT doc_id,
         {votes}
  FROM hh GROUP BY doc_id
),
hashed AS (SELECT doc_id, CAST({sim} AS BIGINT) AS simhash FROM votes),
sh AS MATERIALIZED (
  SELECT CAST(d.doc_id AS BIGINT) AS id,
         coalesce(h.simhash, CAST(0 AS BIGINT)) AS simhash
  FROM documents d LEFT JOIN hashed h ON h.doc_id = d.doc_id
  WHERE length(d.text) > 0
),
bands AS MATERIALIZED (
  {band_rows}
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.val = b.val AND a.id < b.id
)
SELECT c.id_a, c.id_b,
       CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS hamming
FROM cand c JOIN sh x ON x.id = c.id_a JOIN sh y ON y.id = c.id_b
WHERE bit_count(xor(x.simhash, y.simhash)) <= {max_hamming}"""


def _dedup_clusters_oracle() -> str:
    """SQL twin of ``near_dup_clusters(simhash_near_pairs(...))``: the
    simhash pair derivation (nested verbatim as a materialized CTE) +
    recursive transitive closure — min reachable id per node is exactly
    the min-member-id component the engine's WCC emits."""
    return f"""WITH RECURSIVE pairs AS MATERIALIZED (
{_simhash_pairs_oracle()}
),
und AS (SELECT id_a AS a, id_b AS b FROM pairs
        UNION ALL SELECT id_b, id_a FROM pairs),
reach(id, r) AS (
  SELECT DISTINCT a, a FROM und
  UNION
  SELECT reach.id, und.b FROM reach JOIN und ON und.a = reach.r
)
SELECT CAST(id AS BIGINT) AS doc_id,
       CAST(min(r) AS BIGINT) AS cluster_id,
       CAST(CASE WHEN id = min(r) THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM reach GROUP BY id"""


def _simhash_oracle(nbits: int = 60) -> str:
    """Mirrors ``functions/dedup.py:simhash``: token hash = first 15 md5
    hex chars as a 60-bit integer; bit b of the simhash is 1 iff the
    ±1 vote sum over tokens for bit b is > 0; zero-token docs get 0."""
    h = _HEX15_TO_BIGINT.format(h="substr(md5(tok), 1, 15)")
    votes = ",\n         ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(nbits)
    )
    sim = " + ".join(
        f"CASE WHEN b{b} > 0 THEN CAST(1 AS BIGINT) << {b} ELSE 0 END"
        for b in range(nbits)
    )
    return f"""WITH {TOKS_CTE},
tok AS (SELECT doc_id, unnest(t) AS tok FROM toks),
h AS (SELECT doc_id, {h} AS h FROM tok),
votes AS (
  SELECT doc_id,
         {votes}
  FROM h GROUP BY doc_id
),
hashed AS (SELECT doc_id, CAST({sim} AS BIGINT) AS simhash FROM votes)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       coalesce(h.simhash, CAST(0 AS BIGINT)) AS simhash
FROM documents d LEFT JOIN hashed h ON h.doc_id = d.doc_id"""


def _repo_pagerank_oracle(
    n_repos: int = 60, files_per_repo: int = 10, max_imports: int = 4, iters: int = PR_ITERS
) -> str:
    """Rebuilds the deterministic synthetic repo→repo link graph of
    ``sources/repo_source.py:synthetic_repo_files`` (+ the import
    extraction of ``sources/extract.py:repo_edges``) in pure SQL —
    file f imports module m{{(f·31+j·17+7) mod R}}_* for
    j < f mod (max_imports+1) — then runs the same unrolled PageRank
    keyed by repo name."""
    n_files = n_repos * files_per_repo
    parts = [
        f"""refs AS MATERIALIZED (
  SELECT 'repo-' || CAST(f // {files_per_repo} AS VARCHAR) AS src,
         'repo-' || CAST((f * 31 + j * 17 + 7) % {n_repos} AS VARCHAR) AS dst
  FROM (SELECT f, unnest(range(0, f % {max_imports + 1})) AS j
        FROM generate_series(0, {n_files - 1}) t(f))
)""",
        "redges AS MATERIALIZED (SELECT DISTINCT src, dst FROM refs WHERE src != dst)",
        "v AS MATERIALIZED (SELECT DISTINCT id FROM ("
        "SELECT src AS id FROM redges UNION ALL SELECT dst FROM redges))",
        "outdeg AS MATERIALIZED (SELECT src, count(*) AS d FROM redges GROUP BY src)",
        "it0 AS MATERIALIZED (SELECT id, CAST(1.0 - 0.85 AS DOUBLE) AS rank FROM v)",
    ]
    for k in range(1, iters + 1):
        parts.append(
            f"""it{k} AS MATERIALIZED (
  SELECT v.id, (1.0 - 0.85) + 0.85 * coalesce(m.s, 0.0) AS rank
  FROM v LEFT JOIN (
    SELECT e.dst AS id, sum(p.rank / o.d) AS s
    FROM redges e
    JOIN it{k - 1} p ON e.src = p.id
    JOIN outdeg o ON o.src = e.src
    GROUP BY e.dst
  ) m ON m.id = v.id
)"""
        )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT id AS repo, round(rank, 6) AS score FROM it{iters}"
    )


def _betweenness_oracle(n_sources: int = 16) -> str:
    """Sampled Brandes over the undirected cop graph, mirroring
    ``operators/betweenness.py``: forward BFS with path counting (the
    recursion re-emits the accumulated seen set each level so the
    working table can serve as both frontier and visited filter),
    then the level-by-level dependency back-sum, scaled by n/|S|."""
    return f"""WITH RECURSIVE {COP_EDGES_CTE.replace("cop_edges AS (", "cop_edges AS MATERIALIZED (")},
ue AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
  SELECT src, dst FROM cop_edges UNION ALL SELECT dst, src FROM cop_edges)),
v AS MATERIALIZED (SELECT DISTINCT src AS id FROM ue),
s AS MATERIALIZED (SELECT id FROM v ORDER BY id LIMIT {n_sources}),
walk(s_id, id, d, sigma) AS (
  SELECT id, id, 0, CAST(1 AS DOUBLE) FROM s
  UNION ALL
  (
    WITH cur AS (SELECT max(d) AS cd FROM walk),
    nf AS (
      SELECT t.s_id, e.dst AS id, sum(t.sigma) AS sigma
      FROM walk t JOIN cur ON t.d = cur.cd
      JOIN ue e ON e.src = t.id
      LEFT JOIN walk seen ON seen.s_id = t.s_id AND seen.id = e.dst
      WHERE seen.id IS NULL
      GROUP BY t.s_id, e.dst
    )
    SELECT w.s_id, w.id, w.d, w.sigma FROM walk w WHERE EXISTS (SELECT 1 FROM nf)
    UNION ALL
    SELECT s_id, id, (SELECT cd FROM cur) + 1, sigma FROM nf
  )
),
lv AS MATERIALIZED (SELECT DISTINCT s_id, id, d, sigma FROM walk),
maxd AS (SELECT max(d) AS md FROM lv),
back(d, s_id, id, sigma, delta) AS (
  SELECT (SELECT md FROM maxd), s_id, id, sigma, CAST(0 AS DOUBLE)
  FROM lv WHERE d = (SELECT md FROM maxd)
  UNION ALL
  SELECT b2.cd - 1, l.s_id, l.id, l.sigma, coalesce(c.val, 0.0)
  FROM (SELECT min(d) AS cd FROM back) b2
  JOIN lv l ON l.d = b2.cd - 1
  LEFT JOIN (
    SELECT b.s_id, e.src AS pid,
           sum(p.sigma / b.sigma * (1 + b.delta)) AS val
    FROM back b
    JOIN ue e ON e.dst = b.id
    JOIN lv p ON p.s_id = b.s_id AND p.id = e.src AND p.d = b.d - 1
    GROUP BY b.s_id, e.src
  ) c ON c.s_id = l.s_id AND c.pid = l.id
  WHERE b2.cd >= 1
),
fin AS (SELECT id, sum(delta) AS c FROM back WHERE id != s_id GROUP BY id),
n AS (SELECT count(*) AS n FROM v)
SELECT v.id AS id,
       round(coalesce(f.c, 0.0) * (CAST(n.n AS DOUBLE) / {n_sources}.0), 6) AS centrality
FROM v CROSS JOIN n LEFT JOIN fin f ON f.id = v.id"""


def _anf_loop_cte(k: int = 8, seed: int = 0) -> tuple[str, str, str]:
    """Shared recursive-CTE chain of the ANF oracles: identical
    md5-derived FM sketch masks, identical bit_or propagation to the
    same fixpoint as operators/anf.py.  Returns (cte_sql, b_sum, ms):
    the WITH body (ending at the ``loop`` CTE), the per-row
    lowest-zero-bit sum expression, and the mask column list."""
    ms = ", ".join(f"m{r}" for r in range(k))
    h_cols = ",\n       ".join(
        _HEX15_TO_BIGINT.format(
            h=f"substr(md5('{seed}:{r}:' || CAST(id AS VARCHAR)), 1, 15)"
        )
        + f" AS h{r}"
        for r in range(k)
    )
    mask_cols = ",\n       ".join(
        f"(CAST(1 AS BIGINT) << CAST(least(bit_count((h{r} & -h{r}) - 1), 62)"
        f" AS INT)) AS m{r}"
        for r in range(k)
    )
    g_cols = ", ".join(f"bit_or(c.m{r}) AS g{r}" for r in range(k))
    or_cols = ",\n             ".join(
        f"cur.m{r} | coalesce(g.g{r}, 0) AS m{r}" for r in range(k)
    )
    change = " OR ".join(f"n.m{r} <> c.m{r}" for r in range(k))
    b_sum = " + ".join(
        f"bit_count((xor(m{r}, -1) & -xor(m{r}, -1)) - 1)" for r in range(k)
    )
    cte = COP_EDGES_CTE.replace("cop_edges AS (", "cop_edges AS MATERIALIZED (")
    return f"""WITH RECURSIVE {cte},
ue AS MATERIALIZED (SELECT src, dst FROM cop_edges UNION SELECT dst, src FROM cop_edges),
v AS MATERIALIZED (SELECT DISTINCT src AS id FROM ue),
hs AS MATERIALIZED (SELECT id,
       {h_cols}
FROM v),
init AS MATERIALIZED (SELECT id,
       {mask_cols}
FROM hs),
loop(it, id, {ms}) AS (
  SELECT 0, id, {ms} FROM init
  UNION ALL
  (
    WITH cur AS (SELECT * FROM loop WHERE it = (SELECT max(it) FROM loop)),
    g AS (SELECT e.src AS id, {g_cols}
          FROM ue e JOIN cur c ON c.id = e.dst GROUP BY e.src),
    nxt AS (SELECT cur.it + 1 AS it, cur.id,
             {or_cols}
            FROM cur LEFT JOIN g ON g.id = cur.id)
    SELECT it, id, {ms} FROM nxt
    WHERE EXISTS (SELECT 1 FROM nxt n JOIN cur c ON c.id = n.id WHERE {change})
  )
)""", b_sum, ms


def _anf_oracle(k: int = 8, seed: int = 0) -> str:
    cte, b_sum, ms = _anf_loop_cte(k, seed)
    return f"""{cte}
SELECT id, round(pow(2.0, ({b_sum}) / {k}.0) / 0.77351, 6) AS reachable_estimate
FROM loop WHERE it = (SELECT max(it) FROM loop)"""


def _anf_effdiam_oracle(k: int = 8, seed: int = 0, q: float = 0.9) -> str:
    """Effective diameter from the SAME ANF recursion: per-level
    NF(t) = Σ_v estimate_v, target = q·NF(max) (masks are absorbing so
    max(nf) is the converged value), linear interpolation at the first
    crossing level — AnfResult.effective_diameter's walk verbatim."""
    cte, b_sum, _ = _anf_loop_cte(k, seed)
    return f"""{cte},
lvl AS (
  SELECT it, sum(pow(2.0, ({b_sum}) / {k}.0) / 0.77351) AS nf
  FROM loop GROUP BY it
),
tgt AS (SELECT {q} * max(nf) AS target FROM lvl),
c AS (SELECT min(it) AS t1 FROM lvl, tgt WHERE nf >= target),
cur AS (SELECT nf AS v1 FROM lvl, c WHERE it = t1),
prev AS (
  SELECT coalesce(max(nf), 0.0) AS v0, coalesce(max(it), 0) AS t0
  FROM lvl, c WHERE it = t1 - 1
)
SELECT round(CASE
         WHEN c.t1 = 0 THEN 0.0
         WHEN cur.v1 = prev.v0 THEN CAST(c.t1 AS DOUBLE)
         ELSE prev.t0 + (tgt.target - prev.v0) / (cur.v1 - prev.v0)
              * (c.t1 - prev.t0)
       END, 4) AS effective_diameter_90
FROM c, cur, prev, tgt"""


def _labelprop_oracle(iters: int = LP_ITERS) -> str:
    parts = [
        COP_EDGES_CTE.replace("cop_edges AS (", "cop_edges AS MATERIALIZED ("),
        "ue AS MATERIALIZED (SELECT src, dst FROM cop_edges UNION ALL SELECT dst, src FROM cop_edges)",
        "v AS MATERIALIZED (SELECT DISTINCT src AS id FROM ue)",
        "it0 AS MATERIALIZED (SELECT id, id AS label FROM v)",
    ]
    for k in range(1, iters + 1):
        parts.append(
            f"""tally{k} AS MATERIALIZED (
  SELECT ue.src AS voter, p.label AS cand, count(*) AS c
  FROM ue JOIN it{k - 1} p ON ue.dst = p.id
  GROUP BY 1, 2
)"""
        )
        parts.append(
            f"""best{k} AS (
  SELECT voter, cand FROM (
    SELECT voter, cand,
           row_number() OVER (PARTITION BY voter ORDER BY c DESC, cand ASC) AS rn
    FROM tally{k}
  ) WHERE rn = 1
)"""
        )
        parts.append(
            f"""it{k} AS MATERIALIZED (
  SELECT p.id, coalesce(b.cand, p.label) AS label
  FROM it{k - 1} p LEFT JOIN best{k} b ON b.voter = p.id
)"""
        )
    return "WITH " + ",\n".join(parts) + f"\nSELECT id, label FROM it{iters}"


def _wcc_comp_cte(edges_name: str, extra_where: str = "") -> str:
    """Min-label fixpoint as a level-synchronized recursive CTE —
    O(V · diameter) working rows instead of the O(V²) pair closure a
    naive reachability CTE materializes (measured ~70 s → <1 s on the
    cop graph).  Produces ``comp`` and a final ``fin(id, set_id)``."""
    return f"""ue AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
  SELECT src, dst FROM {edges_name}{extra_where}
  UNION ALL SELECT dst, src FROM {edges_name}{extra_where})),
v AS MATERIALIZED (SELECT DISTINCT id FROM (
  SELECT src AS id FROM {edges_name} UNION ALL SELECT dst FROM {edges_name})),
comp(it, id, c) AS (
  SELECT 0, id, id FROM v
  UNION ALL
  (
    WITH cur AS (SELECT max(it) AS ci FROM comp),
    nc AS (
      SELECT ue.dst AS id, min(p.c) AS cand
      FROM comp p JOIN ue ON ue.src = p.id
      GROUP BY ue.dst
    ),
    merged AS (
      SELECT p.id, least(p.c, coalesce(n.cand, p.c)) AS c,
             CASE WHEN coalesce(n.cand, p.c) < p.c THEN 1 ELSE 0 END AS imp
      FROM comp p LEFT JOIN nc n ON n.id = p.id
    )
    SELECT (SELECT ci FROM cur) + 1, id, c FROM merged
    WHERE EXISTS (SELECT 1 FROM merged WHERE imp = 1)
  )
),
fin AS (SELECT id, c AS set_id FROM comp WHERE it = (SELECT max(it) FROM comp))"""


KATZ_ALPHA, KATZ_BETA, KATZ_ITERS = 0.005, 1.0, 8


def _katz_oracle(iters: int = KATZ_ITERS) -> str:
    """SQL twin of ``operators/katz.py`` on the UNDIRECTED cop graph:
    x0=0, x_k = beta + alpha·Σ in-neighbor x_{k-1}, one final L2
    normalization — identical float order to the engine."""
    parts = [
        COP_EDGES_CTE.replace("cop_edges AS (", "cop_edges AS MATERIALIZED ("),
        "ue AS MATERIALIZED (SELECT src, dst FROM cop_edges UNION SELECT dst, src FROM cop_edges)",
        "v AS MATERIALIZED (SELECT DISTINCT src AS id FROM ue)",
        "it0 AS MATERIALIZED (SELECT id, CAST(0.0 AS DOUBLE) AS score FROM v)",
    ]
    for k in range(1, iters + 1):
        parts.append(
            f"""it{k} AS MATERIALIZED (
  SELECT v.id, {KATZ_BETA} + {KATZ_ALPHA} * coalesce(m.s, 0.0) AS score
  FROM v LEFT JOIN (
    SELECT e.dst AS id, sum(p.score) AS s
    FROM ue e JOIN it{k - 1} p ON e.src = p.id
    GROUP BY e.dst
  ) m ON m.id = v.id
)"""
        )
    return (
        "WITH " + ",\n".join(parts)
        + f"""
SELECT id, round(CASE WHEN n.nrm > 0 THEN score / n.nrm ELSE score END, 6) AS score
FROM it{iters} CROSS JOIN (SELECT sqrt(sum(score * score)) AS nrm FROM it{iters}) n"""
    )


def _generated_edges_oracle(
    n: int = 500, m: int = 3000, salt: str = "bench", k: int = 3
) -> str:
    """SQL twin of ``sources/generate.py::random_edges`` (skewed,
    deduped): endpoint = min of k 60-bit md5 draws mod n, per row of
    ``range(m)``."""
    cols = []
    for t in ("s", "d"):
        for i in range(k):
            hexpr = "substr(md5('{}{}:{}:' || CAST(r.range AS VARCHAR)), 1, 15)".format(
                t, i, salt
            )
            cols.append(f"{_HEX15_TO_BIGINT.format(h=hexpr)} % {n} AS {t}{i}")
    s_min = "s0" if k == 1 else "least(" + ", ".join(f"s{i}" for i in range(k)) + ")"
    d_min = "d0" if k == 1 else "least(" + ", ".join(f"d{i}" for i in range(k)) + ")"
    return f"""SELECT DISTINCT CAST({s_min} AS BIGINT) AS src, CAST({d_min} AS BIGINT) AS dst
FROM (
  SELECT {", ".join(cols)}
  FROM range(0, {m}) r
) draws WHERE {s_min} <> {d_min}"""


def _mis_oracle() -> str:
    """Recursive replay of ``operators/mis.py``: per round, live
    priority-maxima join the set, their live neighbors are excluded.
    The winners derived table appears twice (membership + exclusion),
    hence the generated SQL."""
    rnd = "(SELECT max(it) FROM loop) + 1"
    pri = (
        f"md5(CAST({rnd} AS VARCHAR) || ':' || CAST({{c}}.id AS VARCHAR))"
        f" || lpad(CAST({{c}}.id AS VARCHAR), 20, '0')"
    )
    winners = f"""
      SELECT q.id FROM (
        SELECT l2.id, {pri.format(c="l2")} AS pri
        FROM loop l2 WHERE l2.in_set IS NULL
      ) q
      LEFT JOIN (
        SELECT e.v AS id, max({pri.format(c="n")}) AS mx
        FROM ue e JOIN loop n ON e.u = n.id AND n.in_set IS NULL
        GROUP BY e.v
      ) g ON g.id = q.id
      WHERE g.mx IS NULL OR q.pri > g.mx"""
    return f"""WITH RECURSIVE {COP_EDGES_CTE.replace("cop_edges AS (", "cop_edges AS MATERIALIZED (")},
ue AS MATERIALIZED (
  SELECT src AS u, dst AS v FROM cop_edges
  UNION ALL SELECT dst, src FROM cop_edges
),
v AS MATERIALIZED (SELECT DISTINCT u AS id FROM ue),
loop(it, id, in_set) AS (
  SELECT 0, id, CAST(NULL AS BOOLEAN) FROM v
  UNION ALL
  SELECT l.it + 1, l.id,
         CASE WHEN l.in_set IS NOT NULL THEN l.in_set
              WHEN w.id IS NOT NULL THEN TRUE
              WHEN x.id IS NOT NULL THEN FALSE
              ELSE NULL END
  FROM loop l
  LEFT JOIN ({winners}) w ON w.id = l.id
  LEFT JOIN (
    SELECT DISTINCT e2.v AS id FROM ue e2 JOIN ({winners}) w2 ON w2.id = e2.u
  ) x ON x.id = l.id
  WHERE (SELECT count(*) FROM loop WHERE in_set IS NULL) > 0
)
SELECT CAST(id AS BIGINT) AS id, in_set
FROM loop WHERE it = (SELECT max(it) FROM loop)"""


def _k1coloring_oracle(cap: int = 64) -> str:
    """Recursive replay of ``operators/coloring.py::k1coloring``'s
    deterministic speculative schedule: per round every uncolored
    vertex picks the md5-indexed entry of its absent-color window,
    then equal-pick neighbor conflicts back off by md5 priority.  The
    tentative-pick derived table appears twice (the winner check needs
    the neighbor's pick), hence the generated SQL."""
    rnd = "(SELECT max(it) FROM loop) + 1"
    h = _HEX15_TO_BIGINT.format(h="q.hx")
    tent = f"""
      SELECT q.id, q.absent[CAST({h} % least(q.ud + 1, {cap}, len(q.absent)) + 1 AS INT)] AS tent,
             q.pri
      FROM (
        SELECT l2.id,
               list_filter(generate_series(0, len(coalesce(g.used, [])) + least(coalesce(g.ud, 0), {cap})),
                           c -> NOT list_contains(coalesce(g.used, []), c)) AS absent,
               coalesce(g.ud, 0) AS ud,
               substr(md5('c' || CAST({rnd} AS VARCHAR) || ':' || CAST(l2.id AS VARCHAR)), 1, 15) AS hx,
               md5(CAST({rnd} AS VARCHAR) || ':' || CAST(l2.id AS VARCHAR))
                 || lpad(CAST(l2.id AS VARCHAR), 20, '0') AS pri
        FROM loop l2
        LEFT JOIN (
          SELECT e.v AS id,
                 list(DISTINCT n.color) FILTER (n.color IS NOT NULL) AS used,
                 count(*) FILTER (n.color IS NULL) AS ud
          FROM ue e JOIN loop n ON e.u = n.id
          GROUP BY e.v
        ) g ON g.id = l2.id
        WHERE l2.color IS NULL
      ) q"""
    return f"""WITH RECURSIVE {COP_EDGES_CTE.replace("cop_edges AS (", "cop_edges AS MATERIALIZED (")},
ue AS MATERIALIZED (
  SELECT src AS u, dst AS v FROM cop_edges
  UNION ALL SELECT dst, src FROM cop_edges
),
v AS MATERIALIZED (SELECT DISTINCT u AS id FROM ue),
loop(it, id, color) AS (
  SELECT 0, id, CAST(NULL AS BIGINT) FROM v
  UNION ALL
  SELECT l.it + 1, l.id, coalesce(l.color, w.tent)
  FROM loop l
  LEFT JOIN (
    SELECT t1.id, t1.tent
    FROM ({tent}) t1
    WHERE NOT EXISTS (
      SELECT 1 FROM ue e2 JOIN ({tent}) t2 ON t2.id = e2.u
      WHERE e2.v = t1.id AND t2.tent = t1.tent AND t2.pri > t1.pri
    )
  ) w ON w.id = l.id
  WHERE (SELECT count(*) FROM loop WHERE color IS NULL) > 0
)
SELECT CAST(id AS BIGINT) AS id, color
FROM loop WHERE it = (SELECT max(it) FROM loop)"""


def _wcc_oracle(edges_cte: str, edges_name: str, extra_where: str = "") -> str:
    return f"""WITH RECURSIVE {edges_cte},
{_wcc_comp_cte(edges_name, extra_where)}
SELECT id, set_id FROM fin"""


def _msf_oracle() -> str:
    """Prim's algorithm as a recursive CTE over the canonical total
    order ``(weight, lo, hi)`` — under that order every edge weight is
    distinct, so the MSF is unique and Prim here returns exactly the
    edge set of the engine's Borůvka (``operators/mst.py``).  One tree
    node is added per recursion step; when a component is exhausted the
    ``unseen`` branch re-seeds at the smallest unvisited node, so the
    oracle covers forests, not just connected graphs.  The recursion
    re-emits the accumulated tree each step (the working table is both
    frontier and visited set), total O(n²) rows."""
    return f"""WITH RECURSIVE {CS_WEIGHTED_CTE.replace("cs_w AS (", "cs_w AS MATERIALIZED (")},
ue AS MATERIALIZED (
  SELECT least(src, dst) AS lo, greatest(src, dst) AS hi, min(weight) AS weight
  FROM (SELECT src, dst, weight FROM cs_w
        UNION ALL SELECT dst, src, weight FROM cs_w)
  WHERE src != dst GROUP BY 1, 2
),
v AS MATERIALIZED (SELECT DISTINCT id FROM (
  SELECT lo AS id FROM ue UNION ALL SELECT hi FROM ue)),
grow(step, id, elo, ehi, ew) AS (
  SELECT 0, (SELECT min(id) FROM v),
         CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE)
  UNION ALL
  (
    WITH cur AS (SELECT max(step) AS cs FROM grow),
    cross_e AS (
      SELECT e.lo, e.hi, e.weight,
             CASE WHEN tl.id IS NULL THEN e.lo ELSE e.hi END AS newnode
      FROM ue e
      LEFT JOIN grow tl ON tl.id = e.lo
      LEFT JOIN grow th ON th.id = e.hi
      WHERE (tl.id IS NULL) != (th.id IS NULL)
    ),
    pick AS (SELECT * FROM cross_e ORDER BY weight, lo, hi LIMIT 1),
    unseen AS (
      SELECT min(v.id) AS id FROM v
      WHERE NOT EXISTS (SELECT 1 FROM grow g WHERE g.id = v.id)
    ),
    nxt AS (
      SELECT newnode AS id, lo, hi, weight FROM pick
      UNION ALL
      SELECT u.id, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE)
      FROM unseen u
      WHERE u.id IS NOT NULL AND NOT EXISTS (SELECT 1 FROM pick)
    )
    SELECT g.step, g.id, g.elo, g.ehi, g.ew FROM grow g
    WHERE EXISTS (SELECT 1 FROM nxt)
    UNION ALL
    SELECT (SELECT cs FROM cur) + 1, n.id, n.lo, n.hi, n.weight FROM nxt n
  )
)
SELECT elo AS src, ehi AS dst, round(ew, 6) AS weight
FROM (SELECT DISTINCT id, elo, ehi, ew FROM grow)
WHERE elo IS NOT NULL"""


# ------------------------------------------------------------------ #
# Spark-side query callables — one per operator surface
# ------------------------------------------------------------------ #


def q_degrees_cs(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = Graph.from_edges(cs_edges(spark, sf_dir))
    out = g.out_degrees().withColumnRenamed("degree", "out_degree")
    inn = g.in_degrees().withColumnRenamed("degree", "in_degree")
    return out.join(inn.hint("SHUFFLE_HASH"), "id").select(
        "id",
        F.col("out_degree").cast("long").alias("out_degree"),
        F.col("in_degree").cast("long").alias("in_degree"),
    )


def q_degree_hist_cs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-degree histogram of the customer→supplier graph."""
    g = Graph.from_edges(cs_edges(spark, sf_dir))
    return g.degree_distribution("OUT").select("degree", "frequency")


def q_pagerank_cs(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = Graph.from_edges(cs_edges(spark, sf_dir))
    res = pagerank(g, damping=0.85, max_iterations=PR_ITERS)
    return res.scores.select("id", F.round("score", 6).alias("score"))


def q_pagerank_weighted_cs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank (push share = w(s,t)/W(s)) on the weighted
    customer→supplier graph — beyond-reference GDS-era variant."""
    g = Graph.from_edges(cs_weighted_edges(spark, sf_dir), weight="weight")
    res = pagerank(g, max_iterations=PR_ITERS, weighted=True)
    return res.scores.select("id", F.round("score", 6).alias("score"))


def q_pagerank_personalized_cs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank seeded at the 5 lowest vertex ids."""
    g = Graph.from_edges(cs_edges(spark, sf_dir))
    srcs = [int(r["id"]) for r in g.vertices.orderBy("id").limit(5).collect()]
    res = pagerank(g, max_iterations=PR_ITERS, source_nodes=srcs)
    return res.scores.select("id", F.round("score", 6).alias("score"))


def q_article_rank_cs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ArticleRank (divisor outdeg+avg) on the customer→supplier graph."""
    g = Graph.from_edges(cs_edges(spark, sf_dir))
    res = article_rank(g, max_iterations=PR_ITERS)
    return res.scores.select("id", F.round("score", 6).alias("score"))


def q_eigenvector_cop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eigenvector centrality (L2-normalized power iteration) on the
    UNDIRECTED co-purchase graph — a symmetric adjacency matrix, so the
    dominant eigenvector is genuinely non-trivial.  (The directed
    bipartite cs graph has nilpotent Aᵀ: every score would reach the
    all-zeros fixpoint — correct but a vacuous correctness check.)"""
    g = Graph.from_edges(cop_edges(spark, sf_dir)).undirected()
    res = eigenvector_centrality(g, max_iterations=PR_ITERS, check_interval=4)
    return res.scores.select("id", F.round("score", 6).alias("score"))


def q_hits_cs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hub/authority scores on the bipartite customer→supplier
    graph — customers get hub scores, suppliers authority scores, both
    non-trivial."""
    g = Graph.from_edges(cs_edges(spark, sf_dir))
    res = hits(g, max_iterations=PR_ITERS, check_interval=4)
    return res.scores.select(
        "id", F.round("hub", 6).alias("hub"), F.round("authority", 6).alias("authority")
    )


def q_pagerank_cs_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tolerance mode (supersteps to 1e-6); the oracle runs the same
    convergence loop as a recursive CTE, so the data-dependent
    iteration count is checked too."""
    g = Graph.from_edges(cs_edges(spark, sf_dir))
    res = pagerank(g, max_iterations=100, tolerance=1e-6)
    return res.scores.select("id", F.round("score", 6).alias("score"))


def q_wcc_cop(spark: SparkSession, sf_dir: str) -> DataFrame:
    # check_interval=4: fixpoint tested per batch (components invariant
    # to the <=3 no-op overshoot supersteps; oracle is the fixpoint CTE)
    g = Graph.from_edges(cop_edges(spark, sf_dir))
    return wcc(g, check_interval=4).components.select("id", "set_id")


def q_wcc_incremental_cop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental WCC: the cop edges arrive as 3 deterministic delta
    loads (pmod(src+dst, 3)) folded through
    ``streaming.incremental_wcc_batch`` — contraction + relabel per
    fold.  The fold is provably equal to batch WCC over the accumulated
    edges (labels are min member ids in both), so it shares wcc_cop's
    exact fixpoint oracle."""
    e = cop_edges(spark, sf_dir)
    comp = None
    for i in range(3):
        batch = e.filter(F.pmod(F.col("src") + F.col("dst"), F.lit(3)) == i)
        comp = incremental_wcc_batch(comp, batch)
    return comp.select("id", "set_id")


def q_k_truss_cop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """12-truss of the co-purchase graph (every surviving edge is in
    >= 10 triangles of the surviving subgraph); the oracle replays the
    identical peel in a recursive CTE."""
    g = Graph.from_edges(cop_edges(spark, sf_dir))
    return k_truss(g, k=12).edges.select("src", "dst")


def q_writeback_cs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-mode WCC end-to-end through the Exporter analogue
    (``Exporter.java:47-50``): union-find components of the
    customer–supplier graph are written back onto the vertex table as
    a ``set_id`` node property (``algo.unionFind`` write mode's
    ``partitionProperty``) with a real distributed parquet write, the
    updated table is read back, and THAT is the result — vertices
    outside the graph (customers with no orders) take the default
    ``-1`` (sources/writeback.py write_node_property)."""
    import os
    import tempfile

    from .sources.writeback import write_node_property

    g = Graph.from_edges(cs_edges(spark, sf_dir))
    comps = wcc(g, check_interval=4).components.select("id", "set_id")
    cust = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("long").alias("id"),
        F.round(F.col("c_acctbal").cast("double"), 2).alias("acctbal"),
    )
    supp = load(spark, sf_dir, "supplier").select(
        (F.lit(SUPPLIER_OFFSET) + F.col("s_suppkey")).cast("long").alias("id"),
        F.round(F.col("s_acctbal").cast("double"), 2).alias("acctbal"),
    )
    vertices = cust.unionByName(supp)
    # per-process deterministic path + overwrite mode: repeated
    # bench/parity runs within one process rewrite in place (no mkdtemp
    # leak per call), while the pid component keeps concurrent runs on
    # the same sf — or a leftover dir owned by another user on a shared
    # host — from racing/colliding on one shared path
    path = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_writeback_cs_{os.path.basename(os.path.normpath(sf_dir))}"
        f"_{os.getpid()}",
        "vertices",
    )
    write_node_property(vertices, comps, "set_id", path, default=-1)
    return spark.read.parquet(path).select(
        "id", "acctbal", F.col("set_id").cast("long").alias("set_id")
    )


def q_k_truss_spectrum_cop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-edge truss numbers of the co-purchase graph — the whole
    k-truss spectrum in one triangle enumeration (every k_truss(k) at
    once, the way core_numbers generalizes k_core).  The oracle
    replays the identical level-synchronous peel in one recursive CTE
    that emits a tombstone row (removal level embedded) for every
    edge; both sides iterate to the true fixpoint, so no level cap
    can diverge (operators/ktruss.py truss_decomposition)."""
    from .operators import truss_decomposition

    g = Graph.from_edges(cop_edges(spark, sf_dir))
    return truss_decomposition(g).per_edge.select("src", "dst", "truss")


def q_k_truss_multi_cop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-trusses for k = 12, 14, 16 in ONE shared peel: each truss is
    peeled from the previous truss's edges (k-truss(G) =
    k-truss(j-truss(G)) for j <= k), so the three together cost about
    one k_truss(12) call.  Output is (src, dst, k) membership rows;
    the oracle chains three recursive peels the same way, each
    re-checking support on its final level so an EMPTY truss (16-truss
    at small sf) is returned as empty rather than as the last
    non-empty iterate (operators/ktruss.py k_truss_multi)."""
    from .operators import k_truss_multi

    g = Graph.from_edges(cop_edges(spark, sf_dir))
    res = k_truss_multi(g, [12, 14, 16])
    out = None
    for k in sorted(res):
        part = res[k].edges.select(
            "src", "dst", F.lit(k).cast("long").alias("k")
        )
        out = part if out is None else out.unionAll(part)
    return out


def q_graph_stats_cop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row graph profile (counts, density, max degree, Newman
    degree assortativity) — Graph.summary_stats()."""
    g = Graph.from_edges(cop_edges(spark, sf_dir))
    return g.summary_stats().select(
        "nodes",
        "edges",
        "undirected_edges",
        F.round("density", 6).alias("density"),
        F.round("avg_degree", 6).alias("avg_degree"),
        "max_degree",
        F.round("degree_assortativity", 6).alias("assortativity"),
    )


def q_fastrp_cop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FastRP embeddings (d=8, weights (0,1,1), md5 very-sparse init)
    on the undirected cop graph; the oracle replays every float."""
    g = Graph.from_edges(cop_edges(spark, sf_dir))
    res = fastrp(g, embedding_dim=8, iteration_weights=(0.0, 1.0, 1.0))
    return res.embeddings.select(
        "id", *[F.round(f"e{j}", 6).alias(f"e{j}") for j in range(8)]
    )


def q_events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min gap) via ``session_window`` in
    batch mode; the streaming twin is ``streaming.streaming_sessions``.
    Oracle replays the gaps-and-islands merge (session_end = last event
    + gap, Spark's session-window contract)."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def q_modularity_cop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-community modularity decomposition of a deterministic 8-way
    partition (pmod(id, 8)) of the cop graph — Q = sum(contribution)."""
    g = Graph.from_edges(cop_edges(spark, sf_dir))
    a = g.vertices.select("id", F.pmod("id", F.lit(8)).alias("community"))
    return modularity(g, a).select(
        "community",
        F.round("intra_weight", 6).alias("intra_weight"),
        F.round("degree_weight", 6).alias("degree_weight"),
        F.round("contribution", 6).alias("contribution"),
    )


def q_transitivity_cop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global transitivity (closed-wedge fraction) of the cop graph —
    3·triangles / Σ deg·(deg−1)/2."""
    from .operators import transitivity

    return transitivity(Graph.from_edges(cop_edges(spark, sf_dir))).select(
        "triangles", "wedges", F.round("transitivity", 6).alias("transitivity")
    )


def q_mis_cop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Luby maximal independent set of the cop graph —
    the oracle replays the identical round schedule."""
    from .operators import maximal_independent_set

    g = Graph.from_edges(cop_edges(spark, sf_dir))
    return maximal_independent_set(g).members.select(
        F.col("id").cast("long").alias("id"), "in_set"
    )


def q_k1coloring_cop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Jones–Plassmann K-1 coloring of the cop graph —
    every round and every color is a pure function of the graph, so the
    oracle replays the identical schedule as a recursive CTE."""
    from .operators import k1coloring

    g = Graph.from_edges(cop_edges(spark, sf_dir))
    return k1coloring(g).colors.select(
        F.col("id").cast("long").alias("id"), F.col("color").cast("long").alias("color")
    )


def q_generated_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hub-skewed synthetic graph (sources/generate.py):
    500 vertices, 3000 draws, skew_k=3 (endpoint = min of 3 uniform
    md5 draws), deduped — the replayable benchmark-input generator."""
    from .sources.generate import random_edges

    return random_edges(
        spark, n_vertices=500, n_edges=3000, salt="bench", skew_k=3, dedup=True
    ).select(F.col("src").cast("long").alias("src"), F.col("dst").cast("long").alias("dst"))


def q_katz_cop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Katz centrality on the undirected cop graph — α=0.005 (safely
    under 1/λ₁ ≈ 1/116 for this co-purchase density), 8 fixed
    iterations, one final L2 normalization."""
    from .operators import katz_centrality

    e = cop_edges(spark, sf_dir)
    und = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    res = katz_centrality(
        Graph.from_edges(und), alpha=KATZ_ALPHA, beta=KATZ_BETA,
        max_iterations=KATZ_ITERS, normalize=True,
    )
    return res.scores.select(
        F.col("id").cast("long").alias("id"), F.round("score", 6).alias("score")
    )


def q_topo_levels_cop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topological levels (longest path ending at each vertex) of the
    jump-DAG: cop edges oriented low→high with a ≥150 id gap — acyclic
    by construction, 12 levels deep at sf0.01."""
    from .operators import topological_levels

    e = cop_edges(spark, sf_dir).filter(F.col("dst") - F.col("src") >= 150)
    res = topological_levels(Graph.from_edges(e))
    return res.levels.select(
        F.col("id").cast("long").alias("id"), F.col("level").cast("long").alias("level")
    )


def q_conductance_cop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-community conductance of the same deterministic 8-way
    partition modularity_cop scores — φ = cut / min(vol, 2m − vol)."""
    g = Graph.from_edges(cop_edges(spark, sf_dir))
    a = g.vertices.select("id", F.pmod("id", F.lit(8)).alias("community"))
    return conductance(g, a).select(
        "community",
        F.round("cut_weight", 6).alias("cut_weight"),
        F.round("volume", 6).alias("volume"),
        F.round("conductance", 6).alias("conductance"),
    )


def q_rwr_sample_cop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Walk-based subgraph sample: deterministic md5 walks (length 6)
    from the 1%% seed set ``id %% 100 == 0``, then the induced edge set.
    The oracle replays the identical walks and induction."""
    g = Graph.from_edges(cop_edges(spark, sf_dir))
    seeds = g.vertices.filter(F.pmod("id", F.lit(100)) == 0).select("id")
    sub = sample_subgraph(g, seeds, walk_length=6, walks_per_node=1, seed=0)
    return sub.edges.select("src", "dst")


def q_scale_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature scaling (minmax + stdscore + l2norm across two columns)
    of the events table — the pre-training normalization step."""
    ev = load(spark, sf_dir, "events").select("event_id", "value", "user_id")
    out = sc.scale_properties(ev, ["value"], scaler="minmax")
    out = sc.scale_properties(out, ["value"], scaler="stdscore", suffix="_std")
    out = sc.scale_properties(
        out.withColumn("uid_d", F.col("user_id").cast("double")),
        ["value", "uid_d"], scaler="l2norm", suffix="_l2",
    )
    return out.select(
        "event_id",
        F.round("value_scaled", 6).alias("value_minmax"),
        F.round("value_std", 6).alias("value_std"),
        F.round("value_l2", 6).alias("value_l2"),
        F.round("uid_d_l2", 6).alias("uid_l2"),
    )


def q_simhash_neardup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash Hamming near-pairs (pigeonhole band join, exact recall
    by construction, max_hamming=6); empty docs dropped (they all hash
    to 0 and form one trivial cluster exact dedup already owns)."""
    docs = load(spark, sf_dir, "documents").filter(F.length("text") > 0)
    return dd.simhash_near_pairs(docs, max_hamming=6).select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        "hamming",
    )


def q_split_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment by md5 hash
    bucket — every doc labeled, labels stable under growth/retries."""
    docs = load(spark, sf_dir, "documents").select("doc_id")
    out = smp.hash_split(
        docs, {"train": 0.8, "val": 0.1, "test": 0.1}, id_col="doc_id"
    )
    return out.select(F.col("doc_id").cast("long").alias("doc_id"), "split")


def q_stratified_sample_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type deterministic downsampling (class re-balancing):
    clicks to 10%, purchases kept whole, everything else 25%."""
    ev = load(spark, sf_dir, "events").select("event_id", "event_type")
    out = smp.stratified_sample(
        ev,
        {"click": 0.10, "purchase": 1.0},
        strata_col="event_type",
        id_col="event_id",
        default_fraction=0.25,
    )
    return out.select(
        F.col("event_id").cast("long").alias("event_id"), "event_type"
    )


def q_dedup_clusters_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup clustering: simhash Hamming pairs (same
    derivation as ``simhash_neardup_docs``) → engine WCC → one
    canonical survivor per transitive duplicate group.  The graph
    engine and the dedup tier composing — the C4/RefinedWeb pipeline
    step."""
    docs = load(spark, sf_dir, "documents").filter(F.length("text") > 0)
    pairs = dd.simhash_near_pairs(docs, max_hamming=6)
    return dd.near_dup_clusters(pairs).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
        F.col("keep").cast("long").alias("keep"),
    )


def q_bipartite_project_li(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-class bipartite projection (order, part) → part–part
    co-occurrence edges with counts, min_count=2 and the skew guard
    engaged (max_group_size=100 keeps every real group; the guard is
    exercised, not bypassed)."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    g = Graph.project_bipartite(
        li, "l_orderkey", "l_partkey", min_count=2, max_group_size=100
    )
    return g.edges.select("src", "dst", F.col("weight").cast("long").alias("n_orders"))


def q_wcc_twophase_cop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same components via large-star/small-star contraction
    (``wcc_two_phase``, O(log n) rounds regardless of diameter);
    shares q_wcc_cop's exact fixpoint oracle — both emit the min
    member id, so the partitions must hash-match."""
    g = Graph.from_edges(cop_edges(spark, sf_dir))
    return wcc_two_phase(g).components.select("id", "set_id")


def q_wcc_threshold_cs(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = Graph.from_edges(cs_weighted_edges(spark, sf_dir), weight="weight")
    return wcc(g, threshold=3.0, check_interval=4).components.select("id", "set_id")


def q_triangle_counts_cop(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = Graph.from_edges(cop_edges(spark, sf_dir))
    res = triangle_count(g, with_summary=False)
    return res.per_node.select("id", F.col("triangles").cast("long").alias("triangles"))


def q_triangle_total_cop(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = Graph.from_edges(cop_edges(spark, sf_dir))
    return triangle_stream(g).agg(F.count(F.lit(1)).alias("triangles"))


def q_clustering_coeff_cop(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = Graph.from_edges(cop_edges(spark, sf_dir))
    res = triangle_count(g, with_summary=False)
    return res.per_node.select("id", F.round("coefficient", 6).alias("coefficient"))


def q_node_similarity_cop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard neighbor-similarity over the co-purchase graph
    (beyond-reference pipeline operator, ``operators/linkpred.py``)."""
    g = Graph.from_edges(cop_edges(spark, sf_dir))
    return neighbor_similarity(g, "jaccard", min_common=18).select(
        "id_a", "id_b", "common", "score"
    )


def q_adamic_adar_cop(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = Graph.from_edges(cop_edges(spark, sf_dir))
    return neighbor_similarity(g, "adamic_adar", min_common=18).select(
        "id_a", "id_b", "common", "score"
    )


def q_core_numbers_cop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coreness of every vertex (h-index fixpoint; oracle runs the
    identical iteration as a recursive CTE)."""
    g = Graph.from_edges(cop_edges(spark, sf_dir))
    return core_numbers(g, check_interval=4).core.select("id", "core")


def q_k_core_cop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vertex set of the 60-core (peeling; oracle peels too — an
    algorithmically independent check of the coreness query).  k is
    chosen below the graph's max coreness (82 at sf0.01): a recursive
    CTE cannot emit an empty final level, so the oracle requires a
    NON-empty k-core (the engine handles empty cores fine — covered in
    pytest)."""
    g = Graph.from_edges(cop_edges(spark, sf_dir))
    return k_core(g, 60).vertices.select("id")


def q_random_walks_cop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic md5-hash walks (the node2vec/DeepWalk corpus
    input); the oracle replays the identical hash arithmetic."""
    g = Graph.from_edges(cop_edges(spark, sf_dir))
    res = random_walks(g, walk_length=6, walks_per_node=1, seed=0)
    return res.steps.select(
        "walk_id", F.col("step").cast("long").alias("step"), "vertex"
    )


def q_anf_cop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANF reachable-set-size estimates (deterministic FM sketches, 8
    replicas) on the undirected cop graph.  The sketches are md5-derived
    — no RNG — so the oracle recomputes the identical masks with the
    identical bit arithmetic and the *approximate* estimates match
    exactly (operators/anf.py)."""
    g = Graph.from_edges(cop_edges(spark, sf_dir))
    res = neighborhood_function(g, max_distance=16, replicas=8, seed=0)
    return res.per_vertex.select(
        "id", F.round("reachable_estimate", 6).alias("reachable_estimate")
    )


def q_node2vec_walks_cop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-order biased (node2vec) walks, p=2 q=0.5 (in-out
    exploring, return-damped; quantized weights 2/4/8).  The choice is
    exact weighted sampling by min-of-W-md5-draws, so the oracle
    replays every transition bit-for-bit (operators/walks.py)."""
    g = Graph.from_edges(cop_edges(spark, sf_dir))
    res = node2vec_walks(
        g, walk_length=4, walks_per_node=1, p=2.0, q=0.5,
        weight_scale=4, seed=0,
    )
    return res.steps.select(
        "walk_id", F.col("step").cast("long").alias("step"), "vertex"
    )


def q_labelprop_cop(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = Graph.from_edges(cop_edges(spark, sf_dir))
    res = label_propagation(
        g, direction="BOTH", max_iterations=LP_ITERS, aggregate_interval=LP_ITERS
    )
    return res.labels.select("id", F.col("label").cast("long").alias("label"))


def dir_cycle_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed graph with cycles: customer→supplier on odd lineitem
    linenumbers, supplier→customer on even — exercises SCC."""
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    j = orders.join(li, orders.o_orderkey == li.l_orderkey)
    fwd = j.filter(F.col("l_linenumber") % 2 == 1).select(
        F.col("o_custkey").cast("long").alias("src"),
        (F.lit(SUPPLIER_OFFSET) + F.col("l_suppkey")).cast("long").alias("dst"),
    )
    bwd = j.filter(F.col("l_linenumber") % 2 == 0).select(
        (F.lit(SUPPLIER_OFFSET) + F.col("l_suppkey")).cast("long").alias("src"),
        F.col("o_custkey").cast("long").alias("dst"),
    )
    return fwd.union(bwd).distinct()


def q_sssp_cop(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = Graph.from_edges(cop_edges(spark, sf_dir)).undirected()
    source = g.vertices.agg(F.min("id")).first()[0]
    res = shortest_paths(g, int(source))
    return res.distances.select("id", F.col("distance").cast("double").alias("distance"))


def q_wcc_stats_cop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-mode YIELD stats row (``UnionFindResult.java:26-30``),
    deterministic columns only: nodes, setCount, and the superstep
    count (min-label propagation converges in exactly
    ``max_v dist(v, min-of-component(v)) + 1`` supersteps, which the
    oracle recomputes as a BFS from each component's minimum id)."""
    g = Graph.from_edges(cop_edges(spark, sf_dir))
    res = wcc(g, compute_set_count=True)
    return res.stats().select("nodes", "set_count", "iterations")


def q_shortest_path_nodes_cs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``algo.shortestPath.stream`` parity: the materialized node
    sequence (step, node_id, cost) of the weighted shortest path from
    the smallest to the largest vertex id of the undirected
    customer–supplier graph.  The canonical predecessor tree
    (min tight pred over the converged float64 distances) makes the
    path unique, so the oracle re-derives the identical sequence."""
    g = Graph.from_edges(cs_weighted_edges(spark, sf_dir), weight="weight").undirected()
    lo, hi = g.vertices.agg(F.min("id"), F.max("id")).first()
    path = shortest_path_nodes(g, int(lo), int(hi))
    return path.select("step", "node_id", F.round("cost", 6).alias("cost"))


def q_apsp_weighted_cs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted all-pairs shortest paths (reference
    ``impl/AllShortestPaths.java:21-60`` — multi-source weighted
    Dijkstra), batched over the 8 smallest vertex ids of the weighted
    undirected customer–supplier graph.  One ``(source, target,
    distance)`` row per reached pair; integer weights keep every
    float64 sum exact, so the oracle's level-synchronized Bellman-Ford
    reproduces identical doubles."""
    from .operators import all_shortest_paths_weighted

    g = Graph.from_edges(
        cs_weighted_edges(spark, sf_dir), weight="weight"
    ).undirected()
    srcs = g.vertices.orderBy("id").limit(8).select("id")
    res = all_shortest_paths_weighted(g, sources=srcs)
    return res.select(
        "source_node_id",
        "target_node_id",
        F.round("distance", 6).alias("distance"),
    )


def q_scc_cycles(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = Graph.from_edges(dir_cycle_edges(spark, sf_dir))
    return scc(g).components.select("id", "scc_id")


def q_scc_fwbw_seed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seed-scoped forward-backward SCC (reference
    ``algo.scc.forwardBackward.stream(startNodeId)``,
    ``impl/ForwardBackwardScc.java:46-66``): ONLY the strongly
    connected component containing the seed (the graph's min vertex
    id), one ``node_id`` row per member — the reference's exact YIELD
    shape, not the full-partition superset (VERDICT r3)."""
    from .operators import scc_forward_backward

    g = Graph.from_edges(dir_cycle_edges(spark, sf_dir))
    seed = g.vertices.agg(F.min("id")).first()[0]
    return scc_forward_backward(g, int(seed))


def q_condensation_gen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCC quotient (condensation) DAG of a sparse generated directed
    graph (many nontrivial SCCs, rich quotient) — the cyclic→DAG route
    that feeds topological_levels."""
    from .operators import condensation
    from .sources.generate import random_edges

    e = random_edges(spark, n_vertices=300, n_edges=600, salt="scc", dedup=True)
    g = Graph.from_edges(e)
    return condensation(g).select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
        F.col("edge_count").cast("long").alias("edge_count"),
    )


def q_louvain_cop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection — deterministic synchronous modularity-greedy
    (md5-parity move schedule), hash-matched against an unrolled SQL
    twin (``_louvain_unrolled_sql``)."""
    g = Graph.from_edges(cop_edges(spark, sf_dir)).undirected()
    res = louvain(g, max_iterations=20, check_interval=4)
    return res.communities.select("id", F.col("community").cast("long").alias("community"))


def q_louvain_multilevel_cop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beyond-reference multi-level Louvain (2 coarsening levels, 10
    move iterations each); deterministic end to end, hash-matched
    against the 2-level unrolled SQL twin."""
    g = Graph.from_edges(cop_edges(spark, sf_dir)).undirected()
    res = louvain(g, max_iterations=10, levels=2, check_interval=4)
    return res.communities.select("id", F.col("community").cast("long").alias("community"))


def q_closeness_cop_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = Graph.from_edges(cop_edges(spark, sf_dir))
    sample = [r["id"] for r in g.vertices.orderBy("id").limit(62).collect()]
    res = closeness_centrality(g, sample=sample)
    return res.centrality.select("id", F.round("centrality", 6).alias("centrality"))


def q_harmonic_cop_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = Graph.from_edges(cop_edges(spark, sf_dir))
    sample = [r["id"] for r in g.vertices.orderBy("id").limit(62).collect()]
    res = harmonic_centrality(g, sample=sample)
    return res.centrality.select("id", F.round("centrality", 6).alias("centrality"))


def q_apsp_cop_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = Graph.from_edges(cop_edges(spark, sf_dir))
    sample = [r["id"] for r in g.vertices.orderBy("id").limit(16).collect()]
    out = all_shortest_paths_unweighted(g, sources=sample)
    return out.select("source", "target", "distance")


def q_triangle_triples_cop(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = Graph.from_edges(cop_edges(spark, sf_dir))
    return triangle_stream(g).select("a", "b", "c")


def q_wcc_sizes_cop(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = Graph.from_edges(cop_edges(spark, sf_dir))
    return (
        wcc(g, check_interval=4)
        .set_sizes()
        .select("set_id", F.col("size").cast("long").alias("size"))
    )


def q_algo_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    return algo_list(spark)


def q_repo_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-rule flagship path: deterministic synthetic source-repo table
    (repo, path, commit, lang, content) → vectorized sha256 + import
    extraction → repo→repo edge graph → PageRank.  The input is generated,
    not read from sf_dir, but it is a pure function of (row id, modular
    arithmetic), so the oracle rebuilds the same link graph symbolically;
    the sha256 per-row invariant is asserted inside ``repo_edges``."""
    files = synthetic_repo_files(spark, n_repos=60, files_per_repo=10)
    edges = repo_edges(files, verify_invariant=True)
    g = Graph.from_edges(edges)  # src/dst are xxhash64 repo ids
    res = pagerank(g, damping=0.85, max_iterations=PR_ITERS)
    mapping = (
        edges.select(F.col("src").alias("id"), F.col("src_repo").alias("repo"))
        .union(edges.select(F.col("dst").alias("id"), F.col("dst_repo").alias("repo")))
        .distinct()
    )
    return (
        res.scores.join(mapping, "id")
        .select("repo", F.round("score", 6).alias("score"))
        .orderBy("repo")
    )


def q_betweenness_cop_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = Graph.from_edges(cop_edges(spark, sf_dir))
    sample = [r["id"] for r in g.vertices.orderBy("id").limit(16).collect()]
    res = betweenness_centrality(g, sample=sample, direction_both=True)
    return res.centrality.select("id", F.round("centrality", 6).alias("centrality"))


def q_msf_cs(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = Graph.from_edges(cs_weighted_edges(spark, sf_dir), weight="weight")
    res = minimum_spanning_forest(g)
    return res.edges.select("src", "dst", F.round("weight", 6).alias("weight"))


def q_dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.exact_duplicates(load(spark, sf_dir, "documents")).select(
        "text_hash",
        F.col("dup_count").cast("long").alias("dup_count"),
        F.col("keep_id").cast("long").alias("keep_id"),
    )


def q_token_counts_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        ts.token_count(F.col("text")).alias("n_tokens"),
    )


def q_winnow_fp_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) fingerprints — local rolling-window minima of
    60-bit k-gram hashes; the oracle replays the identical window-min."""
    return ts.winnowing_fingerprints(load(spark, sf_dir, "documents")).select(
        F.col("doc_id").cast("long").alias("doc_id"), "fp"
    )


def q_token_pieces_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-flavored piece counting next to whitespace tokens.  The
    engine splits with lookaround boundaries; the oracle counts the
    equivalent matches of ``[a-zA-Z0-9]+|[^a-zA-Z0-9\\s]+`` (RE2 has
    no lookarounds) — proven equivalent for all piece shapes."""
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        ts.token_count(F.col("text")).alias("n_tokens"),
        ts.bpe_ish_piece_count(F.col("text")).alias("n_pieces"),
    )


def q_quality_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = ts.quality_stats(load(spark, sf_dir, "documents"))
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "n_chars",
        "n_tokens",
        "mean_token_len",
        "space_ratio",
        "stopword_ratio",
    )


def q_lang_id_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = ts.language_id(load(spark, sf_dir, "documents"))
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "en_hits",
        "de_hits",
        "fr_hits",
        "lang_pred",
    )


def q_fingerprints_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = ts.fingerprints(load(spark, sf_dir, "documents"))
    return out.select(F.col("doc_id").cast("long").alias("doc_id"), "content_fp", "shingle_fp")


def q_tfidf_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic TF-IDF term weights over the documents table — one
    corpus scan, map-side-combined (doc, term) aggregate, broadcast
    df join (``textstats.tfidf``)."""
    return ts.tfidf(load(spark, sf_dir, "documents")).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "term",
        F.col("tf").cast("long").alias("tf"),
        F.col("df").cast("long").alias("df"),
        "tfidf",
    )


BM25_QUERY_TERMS = ["spark", "hash", "window", "merge"]


def q_bm25_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 relevance (Lucene idf) of every document matching the
    fixed query — the corpus side stays one scan with the query-term
    filter inside codegen (``textstats.bm25_score``)."""
    return ts.bm25_score(
        load(spark, sf_dir, "documents"), BM25_QUERY_TERMS
    ).select(F.col("doc_id").cast("long").alias("doc_id"), "score")


def q_pmi_bigrams_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent-bigram PMI collocations (word2phrase statistic) —
    vocab²-sized output from map-side-combined counts
    (``textstats.pmi_bigrams``)."""
    return ts.pmi_bigrams(load(spark, sf_dir, "documents"), min_count=5).select(
        "w1", "w2", F.col("pair_count").cast("long").alias("pair_count"), "pmi"
    )


def q_lm_perplexity_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM perplexity quality signal (CCNet-style fluency
    filter), self-trained on the corpus with Laplace smoothing —
    collapsed per-doc bigram multiset, broadcast vocabulary join
    (``textstats.lm_perplexity``)."""
    return ts.lm_perplexity(load(spark, sf_dir, "documents"), add_k=1.0).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "n_bigrams",
        "cross_entropy",
        "perplexity",
    )


def q_repetition_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/MassiveText within-doc repetition signals — top-n-gram
    and duplicated-n-gram occurrence fractions for n=2,3,4
    (``textstats.repetition_stats``); the template/boilerplate page
    filter of a corpus quality gate."""
    return ts.repetition_stats(load(spark, sf_dir, "documents")).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "top2gram_frac",
        "dup2gram_frac",
        "top3gram_frac",
        "dup3gram_frac",
        "top4gram_frac",
        "dup4gram_frac",
    )


def q_pack_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing (budget=512, 8 shards) — the
    deterministic concat-and-cut assignment of documents to fixed
    training sequences (``sampling.pack_sequences``); all-integer,
    window cumsum per shard, no global sort."""
    return smp.pack_sequences(
        load(spark, sf_dir, "documents"), budget=512, n_shards=8
    ).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("shard").cast("long").alias("shard"),
        "seq",
        "n_tokens",
        "tok_offset",
    )


def q_profile_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus distribution profile — count / mean / exact p50/p90/p99
    of every quality metric (``textstats.corpus_profile``); the
    dataset-card statistics and filter-threshold inputs.  Exact
    percentiles here for the oracle; ``approx=True`` is the 100-TB
    sketch path."""
    return ts.corpus_profile(load(spark, sf_dir, "documents"))


def q_neighbor_sample_cs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GraphSAGE fixed-fanout 2-hop neighbor sampling on the undirected
    customer↔supplier graph — 10% hash-selected customer seeds, fanouts
    (3, 2), md5-ranked deterministic picks
    (``operators.sampling.neighbor_sample``); the GNN mini-batch block
    builder."""
    from .functions.sampling import hash_bucket
    from .operators.sampling import neighbor_sample

    g = Graph.from_edges(cs_edges(spark, sf_dir)).undirected()
    seeds = (
        cs_edges(spark, sf_dir)
        .select(F.col("src").alias("id"))
        .distinct()
        .filter(hash_bucket(F.col("id"), "sage-seeds") < 100_000)
    )
    return neighbor_sample(g, seeds, fanouts=(3, 2)).select(
        F.col("hop").cast("long").alias("hop"), "src", "dst"
    )


def q_butterflies_cs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Butterfly (2x2-biclique) participation counts per supplier on
    the bipartite customer→supplier graph
    (``operators.butterflies.butterflies``) — the bipartite cohesion
    motif (KDD'18 butterfly counting)."""
    from .operators.butterflies import butterflies

    g = Graph.from_edges(cs_edges(spark, sf_dir))
    return butterflies(g).per_right.select("id", "butterflies")


def q_funnel_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered first-touch funnel view→click→purchase over the events
    table (``functions.behavior.funnel``) — per-stage reached-user
    counts, each stage a user-count-sized filtered min-aggregate."""
    from .functions.behavior import funnel

    return funnel(load(spark, sf_dir, "events"), ("view", "click", "purchase"))


def q_retention_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts over the events table
    (``functions.behavior.retention_cohorts``) — cohort = week of
    first event, activity weeks counted 0-based."""
    from .functions.behavior import retention_cohorts

    return retention_cohorts(load(spark, sf_dir, "events"))


def q_minhash_lsh_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    n_part = spark.sparkContext.defaultParallelism
    return dd.minhash_lsh_candidates(
        load(spark, sf_dir, "documents"), num_partitions=n_part
    ).select(
        F.col("id_a").cast("long").alias("id_a"), F.col("id_b").cast("long").alias("id_b")
    )


def q_ngram_jaccard_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.ngram_jaccard_pairs(
        load(spark, sf_dir, "documents"), threshold=0.5, max_shingle_df=10
    ).select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        "jaccard",
    )


def q_repeated_spans_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal cross-document repeated 5-gram spans (exact-substring
    dedup building block); oracle replays the same gaps-and-islands
    merge in SQL."""
    return dd.repeated_spans(
        load(spark, sf_dir, "documents"), n=5, min_docs=2
    ).select(F.col("doc_id").cast("long").alias("doc_id"), "start", "end", "n_tokens")


def q_contamination_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-decontamination report: docs whose word 5-grams
    overlap a deterministic 'benchmark' probe slice (doc_id % 17 == 3);
    the probe slice itself is excluded from the corpus side.  Oracle
    replays the gram join + distinct-position counting in SQL."""
    docs = load(spark, sf_dir, "documents")
    probes = docs.filter(F.col("doc_id") % 17 == 3)
    corpus = docs.filter(F.col("doc_id") % 17 != 3)
    rep = dd.contamination_report(corpus, probes, n=5)
    return rep.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "contaminated_grams",
        "total_grams",
        F.round("contaminated_frac", 6).alias("contaminated_frac"),
        "probes_hit",
    )


def q_contamination_spans_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal contaminated 5-gram spans (the removable regions) for
    the same corpus/probe split as ``contamination_docs``."""
    docs = load(spark, sf_dir, "documents")
    probes = docs.filter(F.col("doc_id") % 17 == 3)
    corpus = docs.filter(F.col("doc_id") % 17 != 3)
    return dd.contamination_spans(corpus, probes, n=5).select(
        F.col("doc_id").cast("long").alias("doc_id"), "start", "end", "n_tokens"
    )


def q_simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit simhash per doc; the oracle re-derives the token hash
    with exact BIGINT shift arithmetic (not double powers)."""
    return dd.simhash(load(spark, sf_dir, "documents")).select(
        F.col("id").cast("long").alias("doc_id"), "simhash"
    )


def q_cosine_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return sim.cosine_topk(emb, emb.filter(F.col("vec_id") < 10), k=5).select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("vec_id").cast("long").alias("vec_id"),
        "sim",
        "rank",
    )


def q_ivf_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantizer ANN (16 centroids, probe 4) — the scale
    path next to the exact cosine baseline; fully deterministic, so
    the oracle replays centroid draw, assignment, probing, scoring."""
    emb = load(spark, sf_dir, "embeddings")
    return sim.ivf_topk(emb, emb.filter(F.col("vec_id") < 10), k=5).select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("vec_id").cast("long").alias("vec_id"),
        "sim",
        "rank",
    )


def q_knn_graph_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-backed kNN graph over the whole embedding table — the
    embeddings→link-graph bridge (every point a query, k=5)."""
    emb = load(spark, sf_dir, "embeddings")
    return sim.knn_graph(emb, k=5).select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
        "weight",
    )


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return sim.embedding_near_duplicates(emb, threshold=0.4, use_lsh=False).select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        "sim",
    )


def q_embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-pruned variant — approximate vs exact dedup (4 planes × 8
    tables: ~(1-(1-(1-θ/π)^4)^8) ≈ 0.75 recall at sim 0.4, vs ~0.1 with
    the 8×4 default tuned for high-threshold dedup) but fully
    deterministic: md5-derived hyperplanes let the oracle reproduce the
    exact bucket assignment and candidate set."""
    emb = load(spark, sf_dir, "embeddings")
    return sim.embedding_near_duplicates(
        emb, threshold=0.4, use_lsh=True, num_planes=4, num_tables=8
    ).select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        "sim",
    )


def q_events_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def q_dsir_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (hashed unigram+bigram features, 1024
    buckets, add-1 smoothing) scoring every document against the
    English subset as the target distribution
    (``textstats.dsir_log_weights``) — the importance-resampling data
    selector of an LLM pretraining pipeline."""
    docs = load(spark, sf_dir, "documents")
    return ts.dsir_log_weights(
        docs,
        n_buckets=1024,
        target_ids=docs.filter(F.col("lang") == "en").select("doc_id"),
    ).select(
        F.col("doc_id").cast("long").alias("doc_id"), "n_features", "log_weight"
    )


def q_kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Lloyd k-means over the embeddings table (k=8, one
    update round, md5-seeded centroids, exact scaled-integer means —
    ``similarity.kmeans``); the coarse quantizer of SemDeDup/IVF."""
    return sim.kmeans(
        load(spark, sf_dir, "embeddings"), k=8, iterations=1
    ).select("vec_id", F.col("cluster").cast("long").alias("cluster"))


def q_semdedup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic near-duplicate pruning: k-means clusters, then
    keep-lowest-id within each cluster at cosine ≥ 0.3
    (``similarity.semdedup``) — candidate pairs are cluster-bounded,
    never corpus²."""
    return sim.semdedup(
        load(spark, sf_dir, "embeddings"), threshold=0.3, k=8, iterations=1
    ).select("vec_id", F.col("cluster").cast("long").alias("cluster"), "kept")


def q_doulion_cop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOULION sampled triangle estimate (p=0.5, md5 edge coins) on the
    co-purchase graph (``operators.triangles.doulion_estimate``) — the
    unbiased sparsifying estimator for triangle counting at edge-scan
    scale."""
    g = Graph.from_edges(cop_edges(spark, sf_dir))
    return doulion_estimate(g, p=0.5)


def q_effdiam_cop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effective diameter (q=0.9, ANF interpolation) of the undirected
    cop graph — THE whole-graph distance statistic at 10^12-edge scale
    (exact APSP is quadratic; the FM sketches are md5-deterministic so
    even the approximation is oracle-exact).  One row."""
    g = Graph.from_edges(cop_edges(spark, sf_dir))
    res = neighborhood_function(g, max_distance=16, replicas=8, seed=0)
    # the oracle's recursive CTE iterates to the TRUE fixpoint; the
    # engine caps at 16 levels — assert the cap was not hit so a
    # higher-diameter graph fails loudly instead of silently diverging
    # from the oracle (ADVICE r3)
    assert res.converged, "ANF did not converge within max_distance=16"
    d = res.effective_diameter(0.9)
    return spark.createDataFrame(
        [(round(float(d), 4),)], "effective_diameter_90 double"
    )


def q_cms_terms_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy-hitter terms (depth 4 × width 1024,
    estimate ≥ 100) over the documents corpus
    (``textstats.cms_term_counts``) — the mergeable bounded-memory
    heavy-hitter sketch; md5 hashes make the approximate counts exact
    replayable integers."""
    return ts.cms_term_counts(
        load(spark, sf_dir, "documents"), depth=4, width=1024, min_estimate=100
    )


def q_powerlaw_cs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-law exponent MLE of the customer→supplier out-degree
    distribution (Clauset-Shalizi-Newman discrete estimator,
    ``Graph.powerlaw_alpha``) — the heavy-tail statistic that decides
    whether hub-splitting is mandatory for a link graph."""
    g = Graph.from_edges(cs_edges(spark, sf_dir))
    return g.powerlaw_alpha(x_min=1)


def q_fm_distinct_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct terms per language by Flajolet–Martin sketches (16
    replicas, md5 bits — ``textstats.fm_distinct``): mergeable
    fixed-size distinct counting, the relational twin of the ANF
    operator's reach sketches; deterministic, so the approximate
    estimates are oracle-exact."""
    docs = load(spark, sf_dir, "documents")
    rows = ts.term_rows(docs).join(
        docs.select(F.col("doc_id").cast("long").alias("doc_id"), "lang"), "doc_id"
    )
    return ts.fm_distinct(rows, "lang", "term", replicas=16)


def q_weighted_sample_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sample without replacement (A-ES, derandomized Gumbel
    keys) of 100 events with inclusion probability ∝ value
    (``sampling.weighted_sample``) — importance-weighted subset
    selection for training mixes."""
    return smp.weighted_sample(
        load(spark, sf_dir, "events"), n=100, weight_col="value", id_col="event_id"
    ).select(F.col("event_id").cast("long").alias("event_id"), "sample_key")


def _media_table(spark: SparkSession, sf_dir: str, kind: str) -> DataFrame:
    """Deterministic 64-row media table for the multimodal driver
    queries: media_id = the first 64 p_partkeys, payloads generated by
    the oracle-replicable encoders (``make_bmp_div3`` / ``make_wav_int``
    — see their docstrings for the exactness argument).  The payloads
    are REAL encoded BMP/WAV bytes built inside ``mapInPandas``
    workers, so the driver query exercises the actual distributed
    decode path (binary column → batch iterator → stdlib codec), not a
    pre-decoded shortcut."""
    from collections.abc import Iterator

    import pandas as pd

    from .sources.multimodal import MEDIA_SCHEMA, make_bmp_div3, make_wav_int

    ids = (
        load(spark, sf_dir, "part")
        .select(F.col("p_partkey").cast("long").alias("media_id"))
        .filter(F.col("media_id") <= 64)
        .repartition(8, "media_id")
    )

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                if kind == "image":
                    rows.append(
                        (mid, "image", make_bmp_div3(mid), "image/bmp",
                         16, 16, None, None)
                    )
                else:
                    rows.append(
                        (mid, "audio", make_wav_int(mid), "audio/wav",
                         None, None, 125, 8000)
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "kind", "media", "mime",
                    "width", "height", "duration_ms", "sample_rate",
                ],
            )

    return ids.mapInPandas(_gen, schema=MEDIA_SCHEMA)


def q_multimodal_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image decode → feature-extract through the real multimodal path
    (``sources/multimodal.py extract_features``: mapInPandas batch
    iterator → stdlib 24-bit-BMP decode → 4×4 block-mean gray thumb +
    per-channel means).  One row per (media_id, feature_idx): idx 0-15
    the row-major thumbnail, 16/17/18 the R/G/B means.  The DuckDB
    oracle regenerates the pixel grid arithmetically and aggregates the
    identical exact-in-float64 means — value-hash-exact because the
    div3 payload makes every intermediate an order-independent dyadic
    sum (make_bmp_div3 docstring)."""
    from .sources.multimodal import extract_features

    feats = extract_features(_media_table(spark, sf_dir, "image"))
    return feats.select(
        F.col("media_id").cast("long").alias("media_id"),
        F.col("frames").cast("int").alias("frames"),
        F.col("decode_ok"),
        F.posexplode("feature").alias("feature_idx", "feat"),
    ).select(
        "media_id",
        F.col("feature_idx").cast("int").alias("feature_idx"),
        F.col("feat").cast("double").alias("feat"),
        "frames",
        "decode_ok",
    )


def q_multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio decode → feature-extract through the real multimodal path
    (stdlib PCM-WAV decode → 16-window RMS energies, mono float64).
    One row per (media_id, window_idx).  The integer-arithmetic WAV
    payload (``make_wav_int``) keeps every window's Σx² an exact
    dyadic-rational sum, so the DuckDB oracle's sqrt(Σx²/count)
    matches bit-for-bit."""
    from .sources.multimodal import extract_features

    feats = extract_features(_media_table(spark, sf_dir, "audio"))
    return feats.select(
        F.col("media_id").cast("long").alias("media_id"),
        F.col("frames").cast("int").alias("frames"),
        F.col("decode_ok"),
        F.posexplode("feature").alias("window_idx", "rms"),
    ).select(
        "media_id",
        F.col("window_idx").cast("int").alias("window_idx"),
        F.col("rms").cast("double").alias("rms"),
        "frames",
        "decode_ok",
    )


# ------------------------------------------------------------------ #
# registry
# ------------------------------------------------------------------ #

QUERIES = {
    "degrees_cs": q_degrees_cs,
    "degree_hist_cs": q_degree_hist_cs,
    "pagerank_cs": q_pagerank_cs,
    "pagerank_weighted_cs": q_pagerank_weighted_cs,
    "article_rank_cs": q_article_rank_cs,
    "eigenvector_cop": q_eigenvector_cop,
    "hits_cs": q_hits_cs,
    "pagerank_personalized_cs": q_pagerank_personalized_cs,
    "pagerank_cs_converged": q_pagerank_cs_converged,
    "wcc_cop": q_wcc_cop,
    "wcc_twophase_cop": q_wcc_twophase_cop,
    "wcc_incremental_cop": q_wcc_incremental_cop,
    "wcc_threshold_cs": q_wcc_threshold_cs,
    "triangle_counts_cop": q_triangle_counts_cop,
    "triangle_total_cop": q_triangle_total_cop,
    "clustering_coeff_cop": q_clustering_coeff_cop,
    "labelprop_cop": q_labelprop_cop,
    "node_similarity_cop": q_node_similarity_cop,
    "adamic_adar_cop": q_adamic_adar_cop,
    "core_numbers_cop": q_core_numbers_cop,
    "k_core_cop": q_k_core_cop,
    "k_truss_cop": q_k_truss_cop,
    "k_truss_spectrum_cop": q_k_truss_spectrum_cop,
    "k_truss_multi_cop": q_k_truss_multi_cop,
    "writeback_cs": q_writeback_cs,
    "graph_stats_cop": q_graph_stats_cop,
    "fastrp_cop": q_fastrp_cop,
    "random_walks_cop": q_random_walks_cop,
    "node2vec_walks_cop": q_node2vec_walks_cop,
    "anf_cop": q_anf_cop,
    "sssp_cop": q_sssp_cop,
    "shortest_path_nodes_cs": q_shortest_path_nodes_cs,
    "wcc_stats_cop": q_wcc_stats_cop,
    "scc_cycles": q_scc_cycles,
    "scc_fwbw_seed": q_scc_fwbw_seed,
    "apsp_weighted_cs": q_apsp_weighted_cs,
    "condensation_gen": q_condensation_gen,
    "louvain_cop": q_louvain_cop,
    "louvain_multilevel_cop": q_louvain_multilevel_cop,
    "closeness_cop_sampled": q_closeness_cop_sampled,
    "harmonic_cop_sampled": q_harmonic_cop_sampled,
    "apsp_cop_sampled": q_apsp_cop_sampled,
    "triangle_triples_cop": q_triangle_triples_cop,
    "wcc_sizes_cop": q_wcc_sizes_cop,
    "algo_list": q_algo_list,
    "repo_pagerank": q_repo_pagerank,
    "betweenness_cop_sampled": q_betweenness_cop_sampled,
    "msf_cs": q_msf_cs,
    "dedup_exact_docs": q_dedup_exact_docs,
    "token_counts_docs": q_token_counts_docs,
    "tfidf_docs": q_tfidf_docs,
    "bm25_docs": q_bm25_docs,
    "pmi_bigrams_docs": q_pmi_bigrams_docs,
    "lm_perplexity_docs": q_lm_perplexity_docs,
    "repetition_docs": q_repetition_docs,
    "pack_docs": q_pack_docs,
    "profile_docs": q_profile_docs,
    "neighbor_sample_cs": q_neighbor_sample_cs,
    "butterflies_cs": q_butterflies_cs,
    "funnel_events": q_funnel_events,
    "retention_events": q_retention_events,
    "token_pieces_docs": q_token_pieces_docs,
    "winnow_fp_docs": q_winnow_fp_docs,
    "quality_docs": q_quality_docs,
    "lang_id_docs": q_lang_id_docs,
    "fingerprints_docs": q_fingerprints_docs,
    "minhash_lsh_docs": q_minhash_lsh_docs,
    "ngram_jaccard_docs": q_ngram_jaccard_docs,
    "repeated_spans_docs": q_repeated_spans_docs,
    "contamination_docs": q_contamination_docs,
    "contamination_spans_docs": q_contamination_spans_docs,
    "simhash_docs": q_simhash_docs,
    "cosine_topk_embeddings": q_cosine_topk_embeddings,
    "ivf_topk_embeddings": q_ivf_topk_embeddings,
    "knn_graph_embeddings": q_knn_graph_embeddings,
    "embedding_neardup": q_embedding_neardup,
    "embedding_neardup_lsh": q_embedding_neardup_lsh,
    "events_window_counts": q_events_window_counts,
    "events_sessions": q_events_sessions,
    "modularity_cop": q_modularity_cop,
    "conductance_cop": q_conductance_cop,
    "k1coloring_cop": q_k1coloring_cop,
    "mis_cop": q_mis_cop,
    "transitivity_cop": q_transitivity_cop,
    "topo_levels_cop": q_topo_levels_cop,
    "katz_cop": q_katz_cop,
    "generated_edges": q_generated_edges,
    "rwr_sample_cop": q_rwr_sample_cop,
    "scale_events": q_scale_events,
    "simhash_neardup_docs": q_simhash_neardup_docs,
    "dedup_clusters_docs": q_dedup_clusters_docs,
    "split_docs": q_split_docs,
    "stratified_sample_events": q_stratified_sample_events,
    "bipartite_project_li": q_bipartite_project_li,
    "dsir_docs": q_dsir_docs,
    "kmeans_embeddings": q_kmeans_embeddings,
    "semdedup_embeddings": q_semdedup_embeddings,
    "doulion_cop": q_doulion_cop,
    "effdiam_cop": q_effdiam_cop,
    "weighted_sample_events": q_weighted_sample_events,
    "cms_terms_docs": q_cms_terms_docs,
    "fm_distinct_langs": q_fm_distinct_langs,
    "powerlaw_cs": q_powerlaw_cs,
    "multimodal_image_features": q_multimodal_image_features,
    "multimodal_audio_features": q_multimodal_audio_features,
}


def _sig_sql(i: int) -> str:
    """Mirror of ``dedup.minhash_signatures``: sig_i = min over shingles
    of the (i%2)-th 60-bit half of md5((i//2) ':' shingle), as exact
    BIGINT arithmetic."""
    j, half = divmod(i, 2)
    h = _HEX15_TO_BIGINT.format(h=f"substr(md5('{j}:' || x), {1 + 16 * half}, 15)")
    return f"list_min(list_transform(s, x -> {h}))"


_COP_UE_PREFIX = f"""{COP_EDGES_CTE.replace("cop_edges AS (", "cop_edges AS MATERIALIZED (")},
ue AS MATERIALIZED (SELECT src, dst FROM cop_edges UNION SELECT dst, src FROM cop_edges),
v AS MATERIALIZED (SELECT DISTINCT src AS id FROM ue)"""


def _sampled_walk(n_sources: int, max_depth: int = 20) -> str:
    """BFS-walk CTE from the ``n_sources`` lowest vertex ids over the
    undirected cop graph; ``md`` holds min depth per (source, vertex).

    If any (source, vertex) pair's MIN depth reaches ``max_depth`` the
    BFS may be truncated: that vertex's neighbors were never expanded,
    so a distance-(max_depth+1) vertex would silently go missing (note
    raw walk rows reach the cap on every graph — revisits at higher
    depths via back-and-forth paths are normal; only the *shortest*
    depth hitting the cap signals truncation).  ``md`` then raises a
    DuckDB error() instead of returning quietly-wrong distances — the
    cap failing loudly is part of the oracle contract."""
    return f"""{_COP_UE_PREFIX},
s AS MATERIALIZED (SELECT id FROM v ORDER BY id LIMIT {n_sources}),
walk(s_id, id, d) AS (
  SELECT id, id, 0 FROM s
  UNION
  SELECT walk.s_id, ue.dst, walk.d + 1 FROM walk JOIN ue ON ue.src = walk.id
  WHERE walk.d < {max_depth}
),
md0 AS MATERIALIZED (SELECT s_id, id, min(d) AS d FROM walk GROUP BY 1, 2),
md AS MATERIALIZED (
  SELECT s_id, id,
         CASE WHEN (SELECT max(d) FROM md0) >= {max_depth}
              THEN error('sampled-walk BFS truncated at max_depth={max_depth}; raise the cap')
              ELSE d END AS d
  FROM md0)"""


def _shortest_path_nodes_oracle() -> str:
    """Weighted Bellman-Ford to the fixpoint (level-synchronized
    recursive CTE — the working table carries the full distance map and
    stops when an iteration improves nothing), then the canonical
    predecessor tree ``pred(v) = min{u : d(u) + w(u,v) = d(v), d(u) <
    d(v)}`` over the converged float64 distances (identical to the
    engine's post-convergence pass), then the chain walk-back from the
    target.  Integer weights make every float sum exact."""
    return f"""WITH RECURSIVE {CS_WEIGHTED_CTE.replace("cs_w AS (", "cs_w AS MATERIALIZED (")},
ue AS MATERIALIZED (
  SELECT src, dst, min(weight) AS weight FROM (
    SELECT src, dst, weight FROM cs_w
    UNION ALL SELECT dst, src, weight FROM cs_w)
  GROUP BY 1, 2
),
v AS MATERIALIZED (SELECT DISTINCT src AS id FROM ue),
s AS (SELECT min(id) AS sid FROM v),
t AS (SELECT max(id) AS tid FROM v),
relax(it, id, d) AS (
  SELECT 0, sid, CAST(0 AS DOUBLE) FROM s
  UNION ALL
  (
    WITH cur AS (SELECT max(it) AS ci FROM relax),
    nd AS (
      SELECT e.dst AS id, min(r.d + e.weight) AS d
      FROM relax r JOIN ue e ON e.src = r.id
      GROUP BY e.dst
    ),
    merged AS (
      SELECT coalesce(r.id, n.id) AS id,
             least(coalesce(r.d, 1e308), coalesce(n.d, 1e308)) AS d,
             CASE WHEN r.id IS NULL OR n.d < r.d THEN 1 ELSE 0 END AS imp
      FROM relax r FULL JOIN nd n ON n.id = r.id
    )
    SELECT (SELECT ci FROM cur) + 1, id, d FROM merged
    WHERE EXISTS (SELECT 1 FROM merged WHERE imp = 1)
  )
),
fin AS MATERIALIZED (SELECT id, d FROM relax WHERE it = (SELECT max(it) FROM relax)),
pred AS MATERIALIZED (
  SELECT e.dst AS id, min(e.src) AS pred
  FROM ue e JOIN fin fs ON fs.id = e.src JOIN fin fd ON fd.id = e.dst
  WHERE fs.d + e.weight = fd.d AND fs.d < fd.d
  GROUP BY e.dst
),
walk(node, d) AS (
  SELECT t.tid, f.d FROM t JOIN fin f ON f.id = t.tid
  UNION ALL
  SELECT p.pred, f.d
  FROM walk JOIN pred p ON p.id = walk.node JOIN fin f ON f.id = p.pred
)
SELECT CAST(row_number() OVER (ORDER BY d) - 1 AS BIGINT) AS step,
       node AS node_id, round(d, 6) AS cost
FROM walk"""


def _embedding_neardup_lsh_oracle(
    threshold: float = 0.4, num_planes: int = 4, num_tables: int = 8, dim: int = 64
) -> str:
    """The LSH near-dup query is *approximate vs exact dedup* but fully
    deterministic: hyperplanes are md5-derived constants
    (``similarity._hyperplane``), so the oracle embeds the identical
    plane vectors as literals and reproduces bucket assignment, the
    bucket self-join, and the rounded-cosine filter exactly."""
    from .functions.similarity import _hyperplane

    def bucket_sql(t: int) -> str:
        parts = []
        for p in range(num_planes):
            arr = "[" + ",".join(repr(x) for x in _hyperplane(dim, p, t)) + "]"
            parts.append(
                f"CASE WHEN list_dot_product(v, {arr}) > 0 THEN {2 ** p} ELSE 0 END"
            )
        return " + ".join(parts)

    tables = "\nUNION ALL\n".join(
        f"SELECT id, {t} AS tbl, {bucket_sql(t)} AS bucket FROM v"
        for t in range(num_tables)
    )
    return f"""WITH v AS (SELECT CAST(vec_id AS BIGINT) AS id, embedding::DOUBLE[] AS v FROM embeddings),
b AS (
{tables}
),
pairs AS (
  SELECT DISTINCT x.id AS id_a, y.id AS id_b
  FROM b x JOIN b y ON x.tbl = y.tbl AND x.bucket = y.bucket AND x.id < y.id
)
SELECT p.id_a, p.id_b, round(list_cosine_similarity(a.v, c.v), 6) AS sim
FROM pairs p JOIN v a ON a.id = p.id_a JOIN v c ON c.id = p.id_b
WHERE round(list_cosine_similarity(a.v, c.v), 6) >= {threshold}"""


def _algo_list_oracle() -> str:
    from .functions import _PROCEDURES

    values = ",\n".join(
        f"('{n}', '{k}', '{i}')" for n, k, i in _PROCEDURES
    )
    return (
        f"SELECT * FROM (VALUES\n{values}\n) AS t(name, type, implementation)"
    )


def _louvain_unrolled_sql(iterations: int = 20, levels: int = 1) -> str:
    """SQL twin of ``operators/louvain.py``: the engine's Louvain is
    synchronous and fully deterministic (gain argmax with smallest-
    community tie-break; md5-parity move eligibility, restarting at
    iteration 1 per level), so each superstep is plain relational
    algebra.  Unrolled to ``iterations`` CTE generations per level —
    a fixpoint superstep is a no-op, so unrolling to the engine's
    ``max_iterations`` is exact even when the engine converges (and
    stops) earlier; likewise an engine-skipped no-move level replays
    as an identity contraction + no-op level here.  All gain
    arithmetic is integer-valued doubles (weight/degree sums), so the
    IEEE results are bit-identical across DuckDB and Spark.

    ``levels > 1`` adds the multi-level contraction between move
    phases: edges re-keyed to communities with summed weights (intra
    edges become self-loops), vertices = distinct communities
    (left-joined degree so isolated communities keep deg 0)."""
    parts = [
        COP_EDGES_CTE,
        # MATERIALIZED: referenced once per unrolled superstep — without
        # it DuckDB inlines the parquet scan 20×+ and runs out of fds.
        "e1 AS MATERIALIZED (SELECT src, dst, CAST(1.0 AS DOUBLE) AS w FROM"
        " (SELECT src, dst FROM cop_edges"
        "  UNION SELECT dst AS src, src AS dst FROM cop_edges))",
        "verts1 AS MATERIALIZED (SELECT src AS id, SUM(w) AS deg"
        " FROM e1 GROUP BY 1)",
        "m AS MATERIALIZED (SELECT SUM(deg) AS m2, SUM(deg) * SUM(deg) AS mq2 FROM verts1)",
        "c1_0 AS (SELECT id, id AS community FROM verts1)",
    ]
    for lv in range(1, levels + 1):
        if lv > 1:
            prev = f"c{lv - 1}_{iterations}"
            parts.append(
                f"e{lv} AS MATERIALIZED (SELECT ca.community AS src,"
                f" cb.community AS dst, SUM(e.w) AS w"
                f" FROM e{lv - 1} e JOIN {prev} ca ON e.src = ca.id"
                f" JOIN {prev} cb ON e.dst = cb.id GROUP BY 1, 2)"
            )
            parts.append(
                f"verts{lv} AS MATERIALIZED (SELECT cm.id,"
                f" COALESCE(d.deg, CAST(0.0 AS DOUBLE)) AS deg FROM"
                f" (SELECT DISTINCT community AS id FROM {prev}) cm LEFT JOIN"
                f" (SELECT src AS id, SUM(w) AS deg FROM e{lv} GROUP BY 1) d"
                f" ON d.id = cm.id)"
            )
            parts.append(f"c{lv}_0 AS (SELECT id, id AS community FROM verts{lv})")
        for k in range(1, iterations + 1):
            p = k - 1
            parts.append(
                f"stot{lv}_{k} AS (SELECT community, SUM(v.deg) AS stot"
                f" FROM c{lv}_{p} c JOIN verts{lv} v ON v.id = c.id GROUP BY 1)"
            )
            parts.append(
                f"winto{lv}_{k} AS (SELECT e.src AS id, c.community AS tc,"
                f" SUM(e.w) AS w_in"
                f" FROM e{lv} e JOIN c{lv}_{p} c ON e.dst = c.id GROUP BY 1, 2)"
            )
            parts.append(
                f"""best{lv}_{k} AS (
  SELECT id, tc AS best_comm FROM (
    SELECT w.id, w.tc,
           (w.w_in / m.m2 - v.deg * s.stot / m.mq2) AS gain,
           row_number() OVER (
             PARTITION BY w.id
             ORDER BY (w.w_in / m.m2 - v.deg * s.stot / m.mq2) DESC, w.tc ASC
           ) AS rn
    FROM winto{lv}_{k} w
    JOIN verts{lv} v ON v.id = w.id
    JOIN stot{lv}_{k} s ON s.community = w.tc
    CROSS JOIN m)
  WHERE rn = 1 AND gain >= 0.0)"""
            )
            parts.append(
                f"""c{lv}_{k} AS MATERIALIZED (
  SELECT c.id,
         CASE WHEN b.best_comm IS NOT NULL AND b.best_comm != c.community
                   AND substr(md5(CAST(c.id AS VARCHAR) || ':{k}'), 1, 1)
                       IN ('0','2','4','6','8','a','c','e')
              THEN b.best_comm ELSE c.community END AS community
  FROM c{lv}_{p} c LEFT JOIN best{lv}_{k} b ON b.id = c.id)"""
            )
    # compose level assignments back to original vertex ids
    joins = [f"c1_{iterations} c1"]
    for lv in range(2, levels + 1):
        joins.append(f"JOIN c{lv}_{iterations} c{lv} ON c{lv}.id = c{lv - 1}.community")
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT c1.id, CAST(c{levels}.community AS BIGINT) AS community FROM "
        + " ".join(joins)
    )


# Lloyd k-means CTE chain shared by the kmeans/semdedup oracles —
# mirrors similarity.kmeans (k=8, iterations=1): exact scaled-integer
# vectors, md5-seeded centroids, 6-dp cosine argmax, integer-sum means
_KMEANS_CTES = """c AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id,
         list_transform(embedding::DOUBLE[], x -> CAST(round(x * 1000000) AS BIGINT)) AS sv
  FROM embeddings
),
cv AS (SELECT vec_id, list_transform(sv, v -> CAST(v AS DOUBLE) / 1000000) AS v FROM c),
cents0 AS (
  SELECT vec_id AS cent_id, v AS cent_v FROM cv
  ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 8
),
a0 AS (
  SELECT vec_id, cent_id FROM (
    SELECT cv.vec_id, c0.cent_id,
           row_number() OVER (PARTITION BY cv.vec_id
             ORDER BY round(list_cosine_similarity(cv.v, c0.cent_v), 6) DESC,
                      c0.cent_id ASC) AS rn
    FROM cv CROSS JOIN cents0 c0
  ) WHERE rn = 1
),
dimi AS (
  SELECT a0.cent_id, sv, unnest(generate_series(1, len(sv))) AS pos
  FROM a0 JOIN c USING (vec_id)
),
m1 AS (
  SELECT cent_id, pos, CAST(sum(sv[pos]) AS DOUBLE) / count(*) / 1000000 AS md
  FROM dimi GROUP BY 1, 2
),
cents1 AS (SELECT cent_id, list(md ORDER BY pos) AS cent_v FROM m1 GROUP BY 1),
a1 AS (
  SELECT vec_id, cent_id FROM (
    SELECT cv.vec_id, c1.cent_id,
           row_number() OVER (PARTITION BY cv.vec_id
             ORDER BY round(list_cosine_similarity(cv.v, c1.cent_v), 6) DESC,
                      c1.cent_id ASC) AS rn
    FROM cv CROSS JOIN cents1 c1
  ) WHERE rn = 1
)"""

def _truss_peel_chain(name: str, src: str, min_sup: int) -> str:
    """One link of the chained multi-k truss oracle: recursive peel of
    ``src`` at support >= ``min_sup``, then a final support re-check on
    the last recorded level (the recursion's last iterate is the level
    BEFORE an empty fixpoint, so an empty truss needs the re-check to
    come back empty instead of echoing that level)."""
    return f"""{name}p(it, src, dst) AS (
  SELECT 0, src, dst FROM {src}
  UNION ALL
  (
    WITH cur AS (SELECT max(it) AS ci FROM {name}p),
    inc AS (SELECT src AS n, dst AS w FROM {name}p UNION ALL SELECT dst, src FROM {name}p),
    sup AS (
      SELECT e.src, e.dst, count(*) AS s
      FROM {name}p e JOIN inc a ON a.n = e.src JOIN inc b ON b.n = e.dst AND b.w = a.w
      GROUP BY e.src, e.dst
    ),
    nxt AS (
      SELECT e.src, e.dst FROM {name}p e
      JOIN sup s ON s.src = e.src AND s.dst = e.dst AND s.s >= {min_sup}
    )
    SELECT (SELECT ci FROM cur) + 1, src, dst FROM nxt
    WHERE (SELECT count(*) FROM nxt) < (SELECT count(*) FROM {name}p)
  )
),
{name}f AS MATERIALIZED (
  SELECT src, dst FROM {name}p WHERE it = (SELECT max(it) FROM {name}p)),
{name}i AS (SELECT src AS n, dst AS w FROM {name}f
            UNION ALL SELECT dst, src FROM {name}f),
{name} AS MATERIALIZED (
  SELECT e.src, e.dst
  FROM {name}f e JOIN {name}i a ON a.n = e.src
  JOIN {name}i b ON b.n = e.dst AND b.w = a.w
  GROUP BY e.src, e.dst HAVING count(*) >= {min_sup})"""


_KT_MULTI_ORACLE = (
    "WITH RECURSIVE "
    + COP_EDGES_CTE.replace("cop_edges AS (", "cop_edges AS MATERIALIZED (")
    + ",\n"
    + _truss_peel_chain("t12", "cop_edges", 10)
    + ",\n"
    + _truss_peel_chain("t14", "t12", 12)
    + ",\n"
    + _truss_peel_chain("t16", "t14", 14)
    + """
SELECT src, dst, CAST(12 AS BIGINT) AS k FROM t12
UNION ALL SELECT src, dst, 14 FROM t14
UNION ALL SELECT src, dst, 16 FROM t16"""
)


ORACLES = {
    "k_truss_multi_cop": _KT_MULTI_ORACLE,
    "louvain_cop": _louvain_unrolled_sql(20),
    "louvain_multilevel_cop": _louvain_unrolled_sql(10, levels=2),
    "degrees_cs": f"""WITH {CS_EDGES_CTE},
v AS (SELECT src AS id FROM cs_edges UNION SELECT dst FROM cs_edges)
SELECT v.id AS id, coalesce(o.c, 0) AS out_degree, coalesce(i.c, 0) AS in_degree
FROM v
LEFT JOIN (SELECT src, count(*) AS c FROM cs_edges GROUP BY src) o ON o.src = v.id
LEFT JOIN (SELECT dst, count(*) AS c FROM cs_edges GROUP BY dst) i ON i.dst = v.id""",
    "degree_hist_cs": f"""WITH {CS_EDGES_CTE},
v AS (SELECT src AS id FROM cs_edges UNION SELECT dst FROM cs_edges),
deg AS (
  SELECT v.id, CAST(coalesce(o.c, 0) AS BIGINT) AS degree
  FROM v LEFT JOIN (SELECT src, count(*) AS c FROM cs_edges GROUP BY src) o
    ON o.src = v.id
)
SELECT degree, count(*) AS frequency FROM deg GROUP BY degree""",
    "pagerank_cs": _pagerank_oracle(),
    "pagerank_cs_converged": _pagerank_converged_oracle(),
    "pagerank_weighted_cs": _pagerank_weighted_oracle(),
    "article_rank_cs": _article_rank_oracle(),
    "eigenvector_cop": _eigenvector_oracle(),
    "fastrp_cop": _fastrp_oracle(),
    "hits_cs": _hits_oracle(),
    "pagerank_personalized_cs": _pagerank_personalized_oracle(),
    "simhash_docs": _simhash_oracle(),
    "repo_pagerank": _repo_pagerank_oracle(),
    "betweenness_cop_sampled": _betweenness_oracle(),
    "msf_cs": _msf_oracle(),
    "shortest_path_nodes_cs": _shortest_path_nodes_oracle(),
    "embedding_neardup_lsh": _embedding_neardup_lsh_oracle(),
    "knn_graph_embeddings": """WITH c AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id, embedding::DOUBLE[] AS cv FROM embeddings
),
cents AS (
  SELECT vec_id AS cent_id, cv AS cent_v FROM c
  ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 16
),
assign AS (
  SELECT vec_id, cv, cent_id FROM (
    SELECT c.vec_id, c.cv, ct.cent_id,
           row_number() OVER (
             PARTITION BY c.vec_id
             ORDER BY round(list_cosine_similarity(c.cv, ct.cent_v), 6) DESC,
                      ct.cent_id ASC) AS rn
    FROM c CROSS JOIN cents ct) WHERE rn = 1
),
q AS (
  SELECT CAST(vec_id AS BIGINT) AS query_id, embedding::DOUBLE[] AS qv
  FROM embeddings
),
probes AS (
  SELECT query_id, qv, cent_id FROM (
    SELECT q.query_id, q.qv, ct.cent_id,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY round(list_cosine_similarity(q.qv, ct.cent_v), 6) DESC,
                      ct.cent_id ASC) AS rn
    FROM q CROSS JOIN cents ct) WHERE rn <= 4
),
scored AS (
  SELECT DISTINCT p.query_id, a.vec_id,
         round(list_cosine_similarity(p.qv, a.cv), 6) AS sim
  FROM assign a JOIN probes p ON p.cent_id = a.cent_id
  WHERE a.vec_id != p.query_id
)
SELECT src, dst, weight FROM (
  SELECT query_id AS src, vec_id AS dst, sim AS weight,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS rank
  FROM scored)
WHERE rank <= 5""",
    "ivf_topk_embeddings": """WITH c AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id, embedding::DOUBLE[] AS cv FROM embeddings
),
cents AS (
  SELECT vec_id AS cent_id, cv AS cent_v FROM c
  ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 16
),
assign AS (
  SELECT vec_id, cv, cent_id FROM (
    SELECT c.vec_id, c.cv, ct.cent_id,
           row_number() OVER (
             PARTITION BY c.vec_id
             ORDER BY round(list_cosine_similarity(c.cv, ct.cent_v), 6) DESC,
                      ct.cent_id ASC) AS rn
    FROM c CROSS JOIN cents ct) WHERE rn = 1
),
q AS (
  SELECT CAST(vec_id AS BIGINT) AS query_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id < 10
),
probes AS (
  SELECT query_id, qv, cent_id FROM (
    SELECT q.query_id, q.qv, ct.cent_id,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY round(list_cosine_similarity(q.qv, ct.cent_v), 6) DESC,
                      ct.cent_id ASC) AS rn
    FROM q CROSS JOIN cents ct) WHERE rn <= 4
),
scored AS (
  SELECT DISTINCT p.query_id, a.vec_id,
         round(list_cosine_similarity(p.qv, a.cv), 6) AS sim
  FROM assign a JOIN probes p ON p.cent_id = a.cent_id
  WHERE a.vec_id != p.query_id
)
SELECT query_id, vec_id, sim, CAST(rank AS BIGINT) AS rank FROM (
  SELECT query_id, vec_id, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS rank
  FROM scored)
WHERE rank <= 5""",
    "wcc_stats_cop": f"""WITH RECURSIVE {COP_EDGES_CTE.replace("cop_edges AS (", "cop_edges AS MATERIALIZED (")},
{_wcc_comp_cte("cop_edges")},
seeds AS MATERIALIZED (SELECT DISTINCT set_id FROM fin),
bfs(m, id, d) AS (
  SELECT set_id, set_id, 0 FROM seeds
  UNION
  SELECT bfs.m, ue.dst, bfs.d + 1 FROM bfs JOIN ue ON ue.src = bfs.id
  WHERE bfs.d < 30
),
md AS MATERIALIZED (
  SELECT m, id,
         CASE WHEN (SELECT max(x.d) FROM (SELECT m, id, min(d) AS d FROM bfs GROUP BY 1, 2) x) >= 30
              THEN error('wcc-stats BFS truncated at depth 30; raise the cap')
              ELSE min(d) END AS d
  FROM bfs GROUP BY 1, 2)
SELECT (SELECT count(*) FROM v) AS nodes,
       (SELECT count(*) FROM seeds) AS set_count,
       (SELECT max(c.d) + 1 FROM md c JOIN fin ON fin.id = c.id AND fin.set_id = c.m) AS iterations""",
    "wcc_cop": _wcc_oracle(COP_EDGES_CTE, "cop_edges"),
    "wcc_twophase_cop": _wcc_oracle(COP_EDGES_CTE, "cop_edges"),
    "wcc_incremental_cop": _wcc_oracle(COP_EDGES_CTE, "cop_edges"),
    "wcc_threshold_cs": f"""WITH RECURSIVE {CS_WEIGHTED_CTE},
fe AS (SELECT src, dst FROM cs_w WHERE weight >= 3.0),
ue AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
  SELECT src, dst FROM fe UNION ALL SELECT dst, src FROM fe)),
v AS MATERIALIZED (SELECT DISTINCT id FROM (
  SELECT src AS id FROM cs_w UNION ALL SELECT dst FROM cs_w)),
comp(it, id, c) AS (
  SELECT 0, id, id FROM v
  UNION ALL
  (
    WITH cur AS (SELECT max(it) AS ci FROM comp),
    nc AS (
      SELECT ue.dst AS id, min(p.c) AS cand
      FROM comp p JOIN ue ON ue.src = p.id
      GROUP BY ue.dst
    ),
    merged AS (
      SELECT p.id, least(p.c, coalesce(n.cand, p.c)) AS c,
             CASE WHEN coalesce(n.cand, p.c) < p.c THEN 1 ELSE 0 END AS imp
      FROM comp p LEFT JOIN nc n ON n.id = p.id
    )
    SELECT (SELECT ci FROM cur) + 1, id, c FROM merged
    WHERE EXISTS (SELECT 1 FROM merged WHERE imp = 1)
  )
)
SELECT id, c AS set_id FROM comp WHERE it = (SELECT max(it) FROM comp)""",
    "triangle_counts_cop": f"""WITH {COP_EDGES_CTE},
v AS (SELECT src AS id FROM cop_edges UNION SELECT dst FROM cop_edges),
tri AS (
  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
  FROM cop_edges e1
  JOIN cop_edges e2 ON e1.dst = e2.src
  JOIN cop_edges e3 ON e3.src = e1.src AND e3.dst = e2.dst
),
m AS (SELECT a AS id FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri),
cnt AS (SELECT id, count(*) AS triangles FROM m GROUP BY id)
SELECT v.id AS id, coalesce(cnt.triangles, 0) AS triangles
FROM v LEFT JOIN cnt ON cnt.id = v.id""",
    "triangle_total_cop": f"""WITH {COP_EDGES_CTE}
SELECT count(*) AS triangles FROM (
  SELECT 1
  FROM cop_edges e1
  JOIN cop_edges e2 ON e1.dst = e2.src
  JOIN cop_edges e3 ON e3.src = e1.src AND e3.dst = e2.dst
)""",
    "clustering_coeff_cop": f"""WITH {COP_EDGES_CTE},
deg AS (
  SELECT id, count(*) AS degree FROM (
    SELECT src AS id FROM cop_edges UNION ALL SELECT dst FROM cop_edges
  ) GROUP BY id
),
tri AS (
  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
  FROM cop_edges e1
  JOIN cop_edges e2 ON e1.dst = e2.src
  JOIN cop_edges e3 ON e3.src = e1.src AND e3.dst = e2.dst
),
m AS (SELECT a AS id FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri),
cnt AS (SELECT id, count(*) AS triangles FROM m GROUP BY id)
SELECT deg.id AS id,
       round(CASE WHEN deg.degree >= 2
                  THEN 2.0 * coalesce(cnt.triangles, 0) / (deg.degree * (deg.degree - 1))
                  ELSE 0.0 END, 6) AS coefficient
FROM deg LEFT JOIN cnt ON cnt.id = deg.id""",
    "labelprop_cop": _labelprop_oracle(),
    "random_walks_cop": f"""WITH RECURSIVE {COP_EDGES_CTE.replace("cop_edges AS (", "cop_edges AS MATERIALIZED (")},
ue AS MATERIALIZED (SELECT src, dst FROM cop_edges UNION SELECT dst, src FROM cop_edges),
v AS MATERIALIZED (SELECT DISTINCT src AS id FROM ue),
adj AS MATERIALIZED (SELECT src, list(dst ORDER BY dst) AS nb FROM ue GROUP BY src),
walk(walk_id, step, vertex) AS (
  SELECT id, 0, id FROM v
  UNION ALL
  SELECT w.walk_id, w.step + 1,
         a.nb[CAST(({_HEX15_TO_BIGINT.format(h="substr(md5('0:' || CAST(w.walk_id AS VARCHAR) || ':' || CAST(w.step + 1 AS VARCHAR) || ':' || CAST(w.vertex AS VARCHAR)), 1, 15)")}) % len(a.nb) + 1 AS INT)]
  FROM walk w JOIN adj a ON a.src = w.vertex
  WHERE w.step < 6
)
SELECT walk_id, CAST(step AS BIGINT) AS step, vertex FROM walk""",
    "anf_cop": _anf_oracle(),
    "node2vec_walks_cop": f"""WITH RECURSIVE {COP_EDGES_CTE.replace("cop_edges AS (", "cop_edges AS MATERIALIZED (")},
ue AS MATERIALIZED (SELECT src, dst FROM cop_edges UNION SELECT dst, src FROM cop_edges),
v AS MATERIALIZED (SELECT DISTINCT src AS id FROM ue),
adj AS MATERIALIZED (SELECT src, list(dst ORDER BY dst) AS nb FROM ue GROUP BY src),
-- node2vec p=2 q=0.5 weight_scale=4 -> quantized weights: back 2, common 4, far 8;
-- candidate c draws W(c) md5 keys and the global min key wins (exact
-- weighted sampling, same arithmetic as operators/walks.py); the key
-- is 32 hex chars + ':' so the winner id starts at position 34
walk(walk_id, step, prev, vertex) AS (
  SELECT id, 0, CAST(NULL AS BIGINT), id FROM v
  UNION ALL
  SELECT w.walk_id, w.step + 1, w.vertex,
    CAST(substr(list_min(list_transform(a.nb, c ->
      list_min(list_transform(range(
        CASE WHEN w.step = 0 THEN 1
             WHEN c = w.prev THEN 2
             WHEN list_contains(ap.nb, c) THEN 4
             ELSE 8 END), i ->
        md5('0:' || CAST(w.walk_id AS VARCHAR) || ':' || CAST(w.step + 1 AS VARCHAR)
            || ':' || CAST(w.vertex AS VARCHAR) || ':' || CAST(c AS VARCHAR)
            || ':' || CAST(i AS VARCHAR))))
      || ':' || lpad(CAST(c AS VARCHAR), 12, '0'))), 34, 12) AS BIGINT)
  FROM walk w
  JOIN adj a ON a.src = w.vertex
  LEFT JOIN adj ap ON ap.src = w.prev
  WHERE w.step < 4
)
SELECT walk_id, CAST(step AS BIGINT) AS step, vertex FROM walk""",
    "core_numbers_cop": f"""WITH RECURSIVE {COP_EDGES_CTE.replace("cop_edges AS (", "cop_edges AS MATERIALIZED (")},
inc AS MATERIALIZED (SELECT src AS id, dst AS nbr FROM cop_edges
                     UNION ALL SELECT dst, src FROM cop_edges),
v AS MATERIALIZED (SELECT DISTINCT id FROM inc),
loop(it, id, est) AS (
  SELECT 0, id, count(*) FROM inc GROUP BY id
  UNION ALL
  (
    WITH cur AS (SELECT max(it) AS ci FROM loop),
    ne AS (
      SELECT inc.id, l.est AS nbr_est FROM inc JOIN loop l ON l.id = inc.nbr
    ),
    hh AS (
      SELECT id, max(least(nbr_est, rn)) AS h FROM (
        SELECT id, nbr_est,
               row_number() OVER (PARTITION BY id ORDER BY nbr_est DESC) AS rn
        FROM ne) GROUP BY id
    ),
    nxt AS (
      SELECT l.id, least(l.est, coalesce(hh.h, 0)) AS est,
             CASE WHEN least(l.est, coalesce(hh.h, 0)) < l.est THEN 1 ELSE 0 END AS imp
      FROM loop l LEFT JOIN hh ON hh.id = l.id
    )
    SELECT (SELECT ci FROM cur) + 1, id, est FROM nxt
    WHERE EXISTS (SELECT 1 FROM nxt WHERE imp = 1)
  )
)
SELECT v.id, CAST(coalesce(f.est, 0) AS BIGINT) AS core
FROM v LEFT JOIN (
  SELECT id, est FROM loop WHERE it = (SELECT max(it) FROM loop)
) f ON f.id = v.id""",
    "graph_stats_cop": f"""WITH {COP_EDGES_CTE.replace("cop_edges AS (", "cop_edges AS MATERIALIZED (")},
deg AS MATERIALIZED (
  SELECT id, count(*) AS degree FROM (
    SELECT src AS id FROM cop_edges UNION ALL SELECT dst FROM cop_edges)
  GROUP BY id
),
sym AS (SELECT src, dst FROM cop_edges UNION ALL SELECT dst, src FROM cop_edges),
pairs AS (
  SELECT a.degree AS sdeg, b.degree AS ddeg
  FROM sym JOIN deg a ON a.id = sym.src JOIN deg b ON b.id = sym.dst
)
SELECT (SELECT count(*) FROM deg) AS nodes,
       (SELECT count(*) FROM cop_edges) AS edges,
       (SELECT count(*) FROM cop_edges) AS undirected_edges,
       round(2.0 * (SELECT count(*) FROM cop_edges)
             / ((SELECT count(*) FROM deg) * ((SELECT count(*) FROM deg) - 1)), 6) AS density,
       round(2.0 * (SELECT count(*) FROM cop_edges) / (SELECT count(*) FROM deg), 6) AS avg_degree,
       (SELECT max(degree) FROM deg) AS max_degree,
       (SELECT round(corr(sdeg, ddeg), 6) FROM pairs) AS assortativity""",
    "events_sessions": """WITH d AS (
  SELECT user_id, ts, value,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
  FROM events
),
s AS (
  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS sid
  FROM d
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       count(*) AS n_events,
       round(sum(value), 6) AS total_value
FROM s GROUP BY user_id, sid""",
    "modularity_cop": f"""WITH {COP_EDGES_CTE.replace("cop_edges AS (", "cop_edges AS MATERIALIZED (")},
e AS MATERIALIZED (
  SELECT src % 8 AS cs, dst % 8 AS cd, 1.0 AS weight FROM cop_edges
),
m AS (SELECT sum(weight) AS m FROM e),
intra AS (
  SELECT cs AS community, sum(weight) AS intra_weight FROM e
  WHERE cs = cd GROUP BY cs
),
deg AS (
  SELECT community, sum(weight) AS degree_weight FROM (
    SELECT cs AS community, weight FROM e
    UNION ALL SELECT cd, weight FROM e)
  GROUP BY community
)
SELECT CAST(d.community AS BIGINT) AS community,
       round(coalesce(i.intra_weight, 0.0), 6) AS intra_weight,
       round(d.degree_weight, 6) AS degree_weight,
       round(coalesce(i.intra_weight, 0.0) / (SELECT m FROM m)
             - (d.degree_weight / (2.0 * (SELECT m FROM m))) ^ 2, 6) AS contribution
FROM deg d LEFT JOIN intra i ON i.community = d.community""",
    # speculative-coloring replay — see _k1coloring_oracle()
    "k1coloring_cop": _k1coloring_oracle(),
    "mis_cop": _mis_oracle(),
    # global transitivity: 3-join triangle total over the oriented
    # canonical edges + wedge sum over undirected degrees
    "transitivity_cop": f"""WITH {COP_EDGES_CTE.replace("cop_edges AS (", "cop_edges AS MATERIALIZED (")},
ue AS (SELECT src, dst FROM cop_edges UNION ALL SELECT dst, src FROM cop_edges),
deg AS (SELECT src, count(*) AS d FROM ue GROUP BY src),
w AS (SELECT sum(d * (d - 1) / 2) AS w FROM deg),
tri AS (
  SELECT count(*) AS c
  FROM cop_edges e1
  JOIN cop_edges e2 ON e1.dst = e2.src
  JOIN cop_edges e3 ON e3.src = e1.src AND e3.dst = e2.dst
)
SELECT CAST(tri.c AS BIGINT) AS triangles,
       CAST(w.w AS BIGINT) AS wedges,
       round(3.0 * tri.c / w.w, 6) AS transitivity
FROM tri CROSS JOIN w""",
    "katz_cop": _katz_oracle(),
    # generator replay: same md5 endpoint arithmetic over range(3000)
    "generated_edges": _generated_edges_oracle(),
    # longest path ending at each vertex: every vertex seeds depth 0,
    # walks extend through the jump-DAG, level = max depth reached
    "topo_levels_cop": f"""WITH RECURSIVE {COP_EDGES_CTE.replace("cop_edges AS (", "cop_edges AS MATERIALIZED (")},
dag AS MATERIALIZED (SELECT src, dst FROM cop_edges WHERE dst - src >= 150),
v AS MATERIALIZED (SELECT DISTINCT id FROM (
  SELECT src AS id FROM dag UNION ALL SELECT dst FROM dag)),
walk(id, d) AS (
  SELECT id, 0 FROM v
  UNION
  SELECT e.dst, w.d + 1 FROM walk w JOIN dag e ON e.src = w.id
)
SELECT CAST(id AS BIGINT) AS id, CAST(max(d) AS BIGINT) AS level
FROM walk GROUP BY id""",
    # conductance — same label attach as modularity_cop, then
    # cut / min(vol, 2m − vol) with the engine's float order
    "conductance_cop": f"""WITH {COP_EDGES_CTE.replace("cop_edges AS (", "cop_edges AS MATERIALIZED (")},
e AS MATERIALIZED (
  SELECT src % 8 AS cs, dst % 8 AS cd, 1.0 AS weight FROM cop_edges
),
m AS (SELECT sum(weight) AS m FROM e),
intra AS (
  SELECT cs AS community, sum(weight) AS intra_weight FROM e
  WHERE cs = cd GROUP BY cs
),
cut AS (
  SELECT community, sum(weight) AS cut_weight FROM (
    SELECT cs AS community, weight FROM e WHERE cs <> cd
    UNION ALL SELECT cd, weight FROM e WHERE cs <> cd)
  GROUP BY community
),
j AS (
  SELECT coalesce(i.community, c.community) AS community,
         coalesce(c.cut_weight, 0.0) AS cut_weight,
         2.0 * coalesce(i.intra_weight, 0.0) + coalesce(c.cut_weight, 0.0) AS volume
  FROM intra i FULL JOIN cut c ON i.community = c.community
)
SELECT CAST(community AS BIGINT) AS community,
       round(cut_weight, 6) AS cut_weight,
       round(volume, 6) AS volume,
       CASE WHEN least(volume, 2.0 * (SELECT m FROM m) - volume) > 0.0
            THEN round(cut_weight / least(volume, 2.0 * (SELECT m FROM m) - volume), 6)
            ELSE NULL END AS conductance
FROM j""",
    "rwr_sample_cop": f"""WITH RECURSIVE {COP_EDGES_CTE.replace("cop_edges AS (", "cop_edges AS MATERIALIZED (")},
ue AS MATERIALIZED (SELECT src, dst FROM cop_edges UNION SELECT dst, src FROM cop_edges),
v AS MATERIALIZED (SELECT DISTINCT src AS id FROM ue),
adj AS MATERIALIZED (SELECT src, list(dst ORDER BY dst) AS nb FROM ue GROUP BY src),
walk(walk_id, step, vertex) AS (
  SELECT id, 0, id FROM v WHERE id % 100 = 0
  UNION ALL
  SELECT w.walk_id, w.step + 1,
         a.nb[CAST(({_HEX15_TO_BIGINT.format(h="substr(md5('0:' || CAST(w.walk_id AS VARCHAR) || ':' || CAST(w.step + 1 AS VARCHAR) || ':' || CAST(w.vertex AS VARCHAR)), 1, 15)")}) % len(a.nb) + 1 AS INT)]
  FROM walk w JOIN adj a ON a.src = w.vertex
  WHERE w.step < 6
)
SELECT e.src, e.dst
FROM cop_edges e
JOIN (SELECT DISTINCT vertex FROM walk) a ON a.vertex = e.src
JOIN (SELECT DISTINCT vertex FROM walk) b ON b.vertex = e.dst""",
    "bipartite_project_li": """WITH g AS (
  SELECT DISTINCT l_orderkey AS grp, CAST(l_partkey AS BIGINT) AS i FROM lineitem
),
ok AS (SELECT grp FROM g GROUP BY grp HAVING count(*) <= 100),
gg AS (SELECT g.grp, g.i FROM g JOIN ok ON ok.grp = g.grp)
SELECT a.i AS src, b.i AS dst, count(*) AS n_orders
FROM gg a JOIN gg b ON a.grp = b.grp AND a.i < b.i
GROUP BY a.i, b.i HAVING count(*) >= 2""",
    "simhash_neardup_docs": _simhash_pairs_oracle(),
    "dedup_clusters_docs": _dedup_clusters_oracle(),
    "split_docs": f"""WITH b AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         {_HEX15_TO_BIGINT.format(h="substr(md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 15)")} % 1000000 AS bucket
  FROM documents
)
SELECT doc_id,
       CASE WHEN bucket < 800000 THEN 'train'
            WHEN bucket < 900000 THEN 'val'
            ELSE 'test' END AS split
FROM b""",
    "stratified_sample_events": f"""WITH b AS (
  SELECT CAST(event_id AS BIGINT) AS event_id, event_type,
         {_HEX15_TO_BIGINT.format(h="substr(md5(CAST(event_id AS VARCHAR) || ':sample'), 1, 15)")} % 1000000 AS bucket
  FROM events
)
SELECT event_id, event_type
FROM b
WHERE bucket < CASE event_type WHEN 'click' THEN 100000
                               WHEN 'purchase' THEN 1000000
                               ELSE 250000 END""",
    "scale_events": """WITH s AS (
  SELECT min(value) AS mn, max(value) AS mx,
         avg(value) AS mean, stddev_pop(value) AS sd
  FROM events
)
SELECT CAST(event_id AS BIGINT) AS event_id,
       round(CASE WHEN s.mx - s.mn > 0 THEN (value - s.mn) / (s.mx - s.mn) ELSE 0.0 END, 6) AS value_minmax,
       round(CASE WHEN s.sd > 0 THEN (value - s.mean) / s.sd ELSE 0.0 END, 6) AS value_std,
       round(CASE WHEN sqrt(value * value + user_id * user_id) > 0
                  THEN value / sqrt(value * value + user_id * user_id) ELSE 0.0 END, 6) AS value_l2,
       round(CASE WHEN sqrt(value * value + user_id * user_id) > 0
                  THEN user_id / sqrt(value * value + user_id * user_id) ELSE 0.0 END, 6) AS uid_l2
FROM events CROSS JOIN s""",
    "writeback_cs": f"""WITH RECURSIVE {CS_EDGES_CTE},
ue AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
  SELECT src, dst FROM cs_edges UNION ALL SELECT dst, src FROM cs_edges)),
v AS MATERIALIZED (SELECT DISTINCT id FROM (
  SELECT src AS id FROM cs_edges UNION ALL SELECT dst FROM cs_edges)),
comp(it, id, c) AS (
  SELECT 0, id, id FROM v
  UNION ALL
  (
    WITH cur AS (SELECT max(it) AS ci FROM comp),
    nc AS (
      SELECT ue.dst AS id, min(p.c) AS cand
      FROM comp p JOIN ue ON ue.src = p.id
      GROUP BY ue.dst
    ),
    merged AS (
      SELECT p.id, least(p.c, coalesce(n.cand, p.c)) AS c,
             CASE WHEN coalesce(n.cand, p.c) < p.c THEN 1 ELSE 0 END AS imp
      FROM comp p LEFT JOIN nc n ON n.id = p.id
    )
    SELECT (SELECT ci FROM cur) + 1, id, c FROM merged
    WHERE EXISTS (SELECT 1 FROM merged WHERE imp = 1)
  )
),
fin AS (SELECT id, c FROM comp WHERE it = (SELECT max(it) FROM comp)),
verts AS (
  SELECT CAST(c_custkey AS BIGINT) AS id,
         round(CAST(c_acctbal AS DOUBLE), 2) AS acctbal FROM customer
  UNION ALL
  SELECT CAST({SUPPLIER_OFFSET} + s_suppkey AS BIGINT),
         round(CAST(s_acctbal AS DOUBLE), 2) FROM supplier
)
SELECT verts.id, verts.acctbal, CAST(coalesce(fin.c, -1) AS BIGINT) AS set_id
FROM verts LEFT JOIN fin ON fin.id = verts.id""",
    # level-synchronous truss peel: each step removes every edge whose
    # support within the alive set is <= the current level (the level
    # jumps straight to the minimum surviving support), emitting a
    # tombstone row whose lvl is the removal level — truss = lvl + 2.
    # Dead rows accumulate in the recursion's union while the working
    # table carries the alive survivors forward; at least one edge
    # dies per step, so the recursion terminates at the empty graph.
    "k_truss_spectrum_cop": f"""WITH RECURSIVE {COP_EDGES_CTE.replace("cop_edges AS (", "cop_edges AS MATERIALIZED (")},
peel(it, lvl, dead, src, dst) AS (
  SELECT 0, -1, FALSE, src, dst FROM cop_edges
  UNION ALL
  (
    WITH alive AS (SELECT * FROM peel WHERE NOT dead),
    cur AS (SELECT max(it) AS ci, max(lvl) AS cl FROM alive),
    inc AS (SELECT src AS n, dst AS w FROM alive UNION ALL SELECT dst, src FROM alive),
    sup AS (
      SELECT e.src, e.dst, count(*) AS s
      FROM alive e JOIN inc a ON a.n = e.src JOIN inc b ON b.n = e.dst AND b.w = a.w
      GROUP BY e.src, e.dst
    ),
    supx AS (
      SELECT e.src, e.dst, coalesce(s.s, 0) AS s
      FROM alive e LEFT JOIN sup s ON s.src = e.src AND s.dst = e.dst
    ),
    nl AS (SELECT greatest((SELECT cl FROM cur), (SELECT min(s) FROM supx)) AS l)
    SELECT (SELECT ci FROM cur) + 1, (SELECT l FROM nl),
           s <= (SELECT l FROM nl), src, dst
    FROM supx
  )
)
SELECT src, dst, CAST(lvl + 2 AS BIGINT) AS truss FROM peel WHERE dead""",
    "k_truss_cop": f"""WITH RECURSIVE {COP_EDGES_CTE.replace("cop_edges AS (", "cop_edges AS MATERIALIZED (")},
peel(it, src, dst) AS (
  SELECT 0, src, dst FROM cop_edges
  UNION ALL
  (
    WITH cur AS (SELECT max(it) AS ci FROM peel),
    inc AS (SELECT src AS n, dst AS w FROM peel UNION ALL SELECT dst, src FROM peel),
    sup AS (
      SELECT e.src, e.dst, count(*) AS s
      FROM peel e JOIN inc a ON a.n = e.src JOIN inc b ON b.n = e.dst AND b.w = a.w
      GROUP BY e.src, e.dst
    ),
    nxt AS (
      SELECT e.src, e.dst FROM peel e
      JOIN sup s ON s.src = e.src AND s.dst = e.dst AND s.s >= 10
    )
    SELECT (SELECT ci FROM cur) + 1, src, dst FROM nxt
    WHERE (SELECT count(*) FROM nxt) < (SELECT count(*) FROM peel)
  )
)
SELECT src, dst FROM peel WHERE it = (SELECT max(it) FROM peel)""",
    "k_core_cop": f"""WITH RECURSIVE {COP_EDGES_CTE.replace("cop_edges AS (", "cop_edges AS MATERIALIZED (")},
peel(it, src, dst) AS (
  SELECT 0, src, dst FROM cop_edges
  UNION ALL
  (
    WITH cur AS (SELECT max(it) AS ci FROM peel),
    deg AS (
      SELECT id, count(*) AS d FROM (
        SELECT src AS id FROM peel UNION ALL SELECT dst FROM peel) GROUP BY id
    ),
    keep AS (SELECT id FROM deg WHERE d >= 60),
    nxt AS (
      SELECT p.src, p.dst FROM peel p
      JOIN keep a ON a.id = p.src JOIN keep b ON b.id = p.dst
    )
    SELECT (SELECT ci FROM cur) + 1, src, dst FROM nxt
    WHERE (SELECT count(*) FROM nxt) < (SELECT count(*) FROM peel)
  )
)
SELECT DISTINCT id FROM (
  SELECT src AS id FROM peel WHERE it = (SELECT max(it) FROM peel)
  UNION ALL SELECT dst FROM peel WHERE it = (SELECT max(it) FROM peel))""",
    "node_similarity_cop": f"""WITH {COP_EDGES_CTE.replace("cop_edges AS (", "cop_edges AS MATERIALIZED (")},
inc AS MATERIALIZED (SELECT src AS n, dst AS w FROM cop_edges
                     UNION ALL SELECT dst, src FROM cop_edges),
deg AS MATERIALIZED (SELECT n, count(*) AS d FROM inc GROUP BY n),
pairs AS (
  SELECT a.n AS id_a, b.n AS id_b, count(*) AS common
  FROM inc a JOIN inc b ON a.w = b.w AND a.n < b.n
  GROUP BY 1, 2 HAVING count(*) >= 18
)
SELECT p.id_a, p.id_b, CAST(p.common AS BIGINT) AS common,
       round(p.common / (x.d + y.d - p.common), 6) AS score
FROM pairs p JOIN deg x ON x.n = p.id_a JOIN deg y ON y.n = p.id_b""",
    "adamic_adar_cop": f"""WITH {COP_EDGES_CTE.replace("cop_edges AS (", "cop_edges AS MATERIALIZED (")},
inc AS MATERIALIZED (SELECT src AS n, dst AS w FROM cop_edges
                     UNION ALL SELECT dst, src FROM cop_edges),
deg AS MATERIALIZED (SELECT n, count(*) AS d FROM inc GROUP BY n),
pairs AS (
  SELECT a.n AS id_a, b.n AS id_b, count(*) AS common,
         sum(1.0 / ln(wd.d)) AS aa
  FROM inc a JOIN inc b ON a.w = b.w AND a.n < b.n
  JOIN deg wd ON wd.n = a.w
  GROUP BY 1, 2 HAVING count(*) >= 18
)
SELECT id_a, id_b, CAST(common AS BIGINT) AS common, round(aa, 6) AS score
FROM pairs""",
    "sssp_cop": f"""WITH RECURSIVE {COP_EDGES_CTE.replace("cop_edges AS (", "cop_edges AS MATERIALIZED (")},
ue AS MATERIALIZED (SELECT src, dst FROM cop_edges UNION SELECT dst, src FROM cop_edges),
v AS MATERIALIZED (SELECT DISTINCT src AS id FROM ue),
s AS (SELECT min(id) AS sid FROM v),
walk(id, d) AS (
  SELECT sid, 0 FROM s
  UNION
  SELECT ue.dst, walk.d + 1 FROM walk JOIN ue ON ue.src = walk.id WHERE walk.d < 15
)
SELECT v.id AS id,
       coalesce(CAST(m.d AS DOUBLE), CAST('infinity' AS DOUBLE)) AS distance
FROM v LEFT JOIN (SELECT id, min(d) AS d FROM walk GROUP BY id) m ON m.id = v.id""",
    "scc_cycles": f"""WITH RECURSIVE dir_e AS MATERIALIZED (
  SELECT DISTINCT CAST(o_custkey AS BIGINT) AS src,
         CAST({SUPPLIER_OFFSET} + l_suppkey AS BIGINT) AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey WHERE l_linenumber % 2 = 1
  UNION
  SELECT DISTINCT CAST({SUPPLIER_OFFSET} + l_suppkey AS BIGINT) AS src,
         CAST(o_custkey AS BIGINT) AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey WHERE l_linenumber % 2 = 0
),
v AS MATERIALIZED (SELECT DISTINCT src AS id FROM dir_e UNION SELECT dst FROM dir_e),
fwd(a, b) AS (
  SELECT id, id FROM v
  UNION
  SELECT fwd.a, e.dst FROM fwd JOIN dir_e e ON e.src = fwd.b
)
SELECT f.a AS id, min(f.b) AS scc_id
FROM fwd f JOIN fwd g ON g.a = f.b AND g.b = f.a
GROUP BY f.a""",
    # multi-source weighted Bellman-Ford to the fixpoint: the working
    # table carries the full (source, id) distance map per iteration
    # and stops when nothing improves — the same level-synchronized
    # scheme as _shortest_path_nodes_oracle, with `source` carried
    # through (integer weights keep every double sum exact)
    "apsp_weighted_cs": f"""WITH RECURSIVE {CS_WEIGHTED_CTE.replace("cs_w AS (", "cs_w AS MATERIALIZED (")},
ue AS MATERIALIZED (
  SELECT src, dst, min(weight) AS weight FROM (
    SELECT src, dst, weight FROM cs_w
    UNION ALL SELECT dst, src, weight FROM cs_w)
  GROUP BY 1, 2
),
v AS MATERIALIZED (SELECT DISTINCT src AS id FROM ue),
s AS MATERIALIZED (SELECT id AS source FROM v ORDER BY id LIMIT 8),
relax(it, source, id, d) AS (
  SELECT 0, source, source, CAST(0 AS DOUBLE) FROM s
  UNION ALL
  (
    WITH cur AS (SELECT max(it) AS ci FROM relax),
    nd AS (
      SELECT r.source, e.dst AS id, min(r.d + e.weight) AS d
      FROM relax r JOIN ue e ON e.src = r.id
      GROUP BY r.source, e.dst
    ),
    merged AS (
      SELECT coalesce(r.source, n.source) AS source,
             coalesce(r.id, n.id) AS id,
             least(coalesce(r.d, 1e308), coalesce(n.d, 1e308)) AS d,
             CASE WHEN r.id IS NULL OR n.d < r.d THEN 1 ELSE 0 END AS imp
      FROM relax r FULL JOIN nd n ON n.source = r.source AND n.id = r.id
    )
    SELECT (SELECT ci FROM cur) + 1, source, id, d FROM merged
    WHERE EXISTS (SELECT 1 FROM merged WHERE imp = 1)
  )
)
SELECT source AS source_node_id, id AS target_node_id, round(d, 6) AS distance
FROM relax WHERE it = (SELECT max(it) FROM relax)""",
    # seed-scoped FW-BW: descendants of the seed, then ancestors of the
    # seed restricted to descendants; the SCC is the intersection
    # (ForwardBackwardScc.java:46-66 — scc.retainAll(descendant))
    "scc_fwbw_seed": f"""WITH RECURSIVE dir_e AS MATERIALIZED (
  SELECT DISTINCT CAST(o_custkey AS BIGINT) AS src,
         CAST({SUPPLIER_OFFSET} + l_suppkey AS BIGINT) AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey WHERE l_linenumber % 2 = 1
  UNION
  SELECT DISTINCT CAST({SUPPLIER_OFFSET} + l_suppkey AS BIGINT) AS src,
         CAST(o_custkey AS BIGINT) AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey WHERE l_linenumber % 2 = 0
),
seed AS MATERIALIZED (
  SELECT min(id) AS s FROM (SELECT src AS id FROM dir_e UNION SELECT dst FROM dir_e)
),
fwd(id) AS (
  SELECT s FROM seed
  UNION
  SELECT e.dst FROM fwd JOIN dir_e e ON e.src = fwd.id
),
bwd(id) AS (
  SELECT s FROM seed
  UNION
  SELECT e.src FROM bwd JOIN dir_e e ON e.dst = bwd.id
  WHERE e.src IN (SELECT id FROM fwd)
)
SELECT b.id AS node_id FROM bwd b WHERE b.id IN (SELECT id FROM fwd)""",
    # SCC quotient over the generated sparse directed graph: replay
    # the generator arithmetic, transitive-closure component labeling
    # (same shape as scc_cycles), then group inter-component edges
    "condensation_gen": f"""WITH RECURSIVE gen AS MATERIALIZED (
{_generated_edges_oracle(n=300, m=600, salt="scc", k=1).replace(chr(10), chr(10) + "  ")}
),
v AS MATERIALIZED (SELECT DISTINCT src AS id FROM gen UNION SELECT dst FROM gen),
fwd(a, b) AS (
  SELECT id, id FROM v
  UNION
  SELECT fwd.a, e.dst FROM fwd JOIN gen e ON e.src = fwd.b
),
comp AS MATERIALIZED (
  SELECT f.a AS id, min(f.b) AS scc_id
  FROM fwd f JOIN fwd g ON g.a = f.b AND g.b = f.a
  GROUP BY f.a
)
SELECT c1.scc_id AS src, c2.scc_id AS dst, CAST(count(*) AS BIGINT) AS edge_count
FROM gen e JOIN comp c1 ON c1.id = e.src JOIN comp c2 ON c2.id = e.dst
WHERE c1.scc_id <> c2.scc_id
GROUP BY 1, 2""",
    "closeness_cop_sampled": f"""WITH RECURSIVE {_sampled_walk(62)},
far AS (SELECT id, sum(d) AS farness FROM md WHERE d > 0 GROUP BY id),
n AS (SELECT count(*) AS n FROM v)
SELECT v.id AS id,
       round(CASE WHEN coalesce(far.farness, 0) > 0
                  THEN CAST(n.n - 1 AS DOUBLE) / far.farness
                  ELSE 0.0 END, 6) AS centrality
FROM v CROSS JOIN n LEFT JOIN far ON far.id = v.id""",
    "harmonic_cop_sampled": f"""WITH RECURSIVE {_sampled_walk(62)},
hs AS (SELECT id, sum(1.0 / d) AS s FROM md WHERE d > 0 GROUP BY id),
n AS (SELECT count(*) AS n FROM v)
SELECT v.id AS id,
       round(coalesce(hs.s, 0.0) / (n.n - 1), 6) AS centrality
FROM v CROSS JOIN n LEFT JOIN hs ON hs.id = v.id""",
    "apsp_cop_sampled": f"""WITH RECURSIVE {_sampled_walk(16)}
SELECT s_id AS source, id AS target, CAST(d AS DOUBLE) AS distance FROM md""",
    "triangle_triples_cop": f"""WITH {COP_EDGES_CTE}
SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
FROM cop_edges e1
JOIN cop_edges e2 ON e1.dst = e2.src
JOIN cop_edges e3 ON e3.src = e1.src AND e3.dst = e2.dst""",
    "wcc_sizes_cop": f"""WITH RECURSIVE {COP_EDGES_CTE},
{_wcc_comp_cte("cop_edges")}
SELECT set_id, count(*) AS size FROM fin GROUP BY set_id""",
    "algo_list": _algo_list_oracle(),
    "dedup_exact_docs": """SELECT md5(text) AS text_hash,
       count(*) AS dup_count,
       CAST(min(doc_id) AS BIGINT) AS keep_id
FROM documents GROUP BY 1""",
    "winnow_fp_docs": f"""WITH {TOKS_CTE},
shp AS (
  SELECT doc_id, CAST(u.i - 1 AS INT) AS pos,
         t[u.i] || ' ' || t[u.i + 1] || ' ' || t[u.i + 2] AS s
  FROM toks, unnest(range(1, len(t) - 1)) AS u(i)
  WHERE len(t) >= 3
),
hh AS (SELECT doc_id, pos, {_HEX15_TO_BIGINT.format(h="substr(md5(s), 1, 15)")} AS h FROM shp),
wm AS (
  SELECT doc_id,
         min(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
         count(*) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wn
  FROM hh)
SELECT DISTINCT CAST(doc_id AS BIGINT) AS doc_id, fp FROM wm WHERE wn = 4""",
    "token_pieces_docs": rf"""WITH {TOKS_CTE}
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(len(t) AS BIGINT) AS n_tokens,
       CAST(len(regexp_extract_all(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9\s]+')) AS BIGINT) AS n_pieces
FROM toks""",
    "token_counts_docs": f"""WITH {TOKS_CTE}
SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(len(t) AS BIGINT) AS n_tokens FROM toks""",
    # tf·ln(N/df), identical arithmetic order to textstats.tfidf
    "tfidf_docs": f"""WITH {TOKS_CTE},
tf AS (
  SELECT doc_id, u.term, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest(t) AS term FROM toks) u
  GROUP BY 1, 2
),
docfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents)
SELECT CAST(tf.doc_id AS BIGINT) AS doc_id, tf.term, tf.tf, docfreq.df,
       round(CAST(tf.tf AS DOUBLE) * ln(CAST(nd.n AS DOUBLE) / CAST(docfreq.df AS DOUBLE)), 6) AS tfidf
FROM tf JOIN docfreq USING (term) CROSS JOIN nd""",
    # Okapi BM25, Lucene idf; k1=1.2, b=0.75, query terms fixed —
    # avgdl / N / every float op replayed in the engine's order
    "bm25_docs": f"""WITH {TOKS_CTE},
dl AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM toks),
corpus AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                  CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
hits AS (
  SELECT doc_id, u.term, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest(t) AS term FROM toks) u
  WHERE u.term IN ('hash', 'merge', 'spark', 'window')
  GROUP BY 1, 2
),
docfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM hits GROUP BY 1),
per_term AS (
  SELECT hits.doc_id,
         ln(1.0 + (CAST(corpus.n_docs AS DOUBLE) - docfreq.df + 0.5) / (docfreq.df + 0.5))
         * (CAST(hits.tf AS DOUBLE) * 2.2)
         / (CAST(hits.tf AS DOUBLE)
            + 1.2 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE) / corpus.avgdl)) AS part
  FROM hits JOIN docfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN corpus
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, round(sum(part), 6) AS score
FROM per_term GROUP BY 1""",
    # adjacent-bigram PMI, min_count=5 — counts exact, ln replayed
    "pmi_bigrams_docs": f"""WITH {TOKS_CTE},
bgi AS (
  SELECT t, unnest(generate_series(1, greatest(len(t) - 1, 0))) AS i FROM toks
),
big AS (
  SELECT t[i] AS w1, t[i+1] AS w2, CAST(count(*) AS BIGINT) AS pair_count
  FROM bgi GROUP BY 1, 2
),
uni AS (
  SELECT u.term, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT unnest(t) AS term FROM toks) u GROUP BY 1
),
tot AS (SELECT (SELECT CAST(sum(c) AS BIGINT) FROM uni) AS u,
               (SELECT CAST(sum(pair_count) AS BIGINT) FROM big) AS b)
SELECT big.w1, big.w2, big.pair_count,
       round(ln((CAST(big.pair_count AS DOUBLE) / CAST(tot.b AS DOUBLE))
                / ((CAST(c1.c AS DOUBLE) / CAST(tot.u AS DOUBLE))
                   * (CAST(c2.c AS DOUBLE) / CAST(tot.u AS DOUBLE)))), 6) AS pmi
FROM big
JOIN uni c1 ON c1.term = big.w1
JOIN uni c2 ON c2.term = big.w2
CROSS JOIN tot
WHERE big.pair_count >= 5""",
    # bigram-LM perplexity, self-trained, add-k=1 (Laplace) — counts
    # exact, ln/exp replayed in the engine's order
    "lm_perplexity_docs": f"""WITH {TOKS_CTE},
bgi AS (
  SELECT doc_id, t, unnest(generate_series(1, greatest(len(t) - 1, 0))) AS i FROM toks
),
dp AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, t[i] AS w1, t[i+1] AS w2,
         CAST(count(*) AS BIGINT) AS m
  FROM bgi GROUP BY 1, 2, 3
),
big AS (SELECT w1, w2, CAST(sum(m) AS BIGINT) AS cb FROM dp GROUP BY 1, 2),
uni AS (
  SELECT u.term, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT unnest(t) AS term FROM toks) u GROUP BY 1
),
v AS (SELECT CAST(count(*) AS BIGINT) AS v FROM uni),
scored AS (
  SELECT dp.doc_id, dp.m,
         ln((CAST(big.cb AS DOUBLE) + 1.0)
            / (CAST(uni.c AS DOUBLE) + 1.0 * CAST(v.v AS DOUBLE))) AS logp
  FROM dp JOIN big USING (w1, w2) JOIN uni ON uni.term = dp.w1 CROSS JOIN v
)
SELECT doc_id,
       CAST(sum(m) AS BIGINT) AS n_bigrams,
       round(-sum(m * logp) / sum(m), 6) AS cross_entropy,
       round(exp(-sum(m * logp) / sum(m)), 6) AS perplexity
FROM scored GROUP BY 1""",
    # Gopher repetition filters: top/duplicated n-gram occurrence
    # fractions, n=2,3,4 — counts exact, one round(6) per fraction
    "repetition_docs": f"""WITH {TOKS_CTE},
g2 AS (SELECT doc_id, t[i] || ' ' || t[i+1] AS s
       FROM (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t) - 1, 0))) AS i FROM toks)),
g3 AS (SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
       FROM (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t) - 2, 0))) AS i FROM toks)),
g4 AS (SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] AS s
       FROM (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t) - 3, 0))) AS i FROM toks)),
c2 AS (SELECT doc_id, s, count(*) AS c FROM g2 GROUP BY 1, 2),
c3 AS (SELECT doc_id, s, count(*) AS c FROM g3 GROUP BY 1, 2),
c4 AS (SELECT doc_id, s, count(*) AS c FROM g4 GROUP BY 1, 2),
a2 AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
              round(max(c) / CAST(sum(c) AS DOUBLE), 6) AS top2gram_frac,
              round(sum(CASE WHEN c > 1 THEN c ELSE 0 END) / CAST(sum(c) AS DOUBLE), 6) AS dup2gram_frac
       FROM c2 GROUP BY 1),
a3 AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
              round(max(c) / CAST(sum(c) AS DOUBLE), 6) AS top3gram_frac,
              round(sum(CASE WHEN c > 1 THEN c ELSE 0 END) / CAST(sum(c) AS DOUBLE), 6) AS dup3gram_frac
       FROM c3 GROUP BY 1),
a4 AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
              round(max(c) / CAST(sum(c) AS DOUBLE), 6) AS top4gram_frac,
              round(sum(CASE WHEN c > 1 THEN c ELSE 0 END) / CAST(sum(c) AS DOUBLE), 6) AS dup4gram_frac
       FROM c4 GROUP BY 1)
SELECT a2.doc_id, a2.top2gram_frac, a2.dup2gram_frac,
       a3.top3gram_frac, a3.dup3gram_frac,
       a4.top4gram_frac, a4.dup4gram_frac
FROM a2 LEFT JOIN a3 USING (doc_id) LEFT JOIN a4 USING (doc_id)""",
    # corpus quality-metric profile: exact quantile_cont replays
    # Spark's exact percentile (same index = q*(n-1) linear interpolation)
    "profile_docs": f"""WITH {TOKS_CTE},
m AS (
  SELECT CAST(length(text) AS DOUBLE) AS n_chars,
         CAST(len(t) AS DOUBLE) AS n_tokens,
         CASE WHEN len(t) > 0
              THEN round(CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE) / len(t), 6)
              ELSE 0.0 END AS mean_token_len,
         CASE WHEN length(text) > 0
              THEN round(CAST(length(text) - length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE) / length(text), 6)
              ELSE 0.0 END AS space_ratio,
         CASE WHEN len(t) > 0
              THEN round(CAST(len(list_filter(t, x -> list_contains(['the','and','of','to','is','in','that','it'], x))) AS DOUBLE) / len(t), 6)
              ELSE 0.0 END AS stopword_ratio
  FROM toks
)
SELECT 'n_chars' AS metric, CAST(count(n_chars) AS BIGINT) AS n, round(avg(n_chars), 6) AS mean,
       round(quantile_cont(n_chars, 0.5), 6) AS p50, round(quantile_cont(n_chars, 0.9), 6) AS p90,
       round(quantile_cont(n_chars, 0.99), 6) AS p99 FROM m
UNION ALL
SELECT 'n_tokens', CAST(count(n_tokens) AS BIGINT), round(avg(n_tokens), 6),
       round(quantile_cont(n_tokens, 0.5), 6), round(quantile_cont(n_tokens, 0.9), 6),
       round(quantile_cont(n_tokens, 0.99), 6) FROM m
UNION ALL
SELECT 'mean_token_len', CAST(count(mean_token_len) AS BIGINT), round(avg(mean_token_len), 6),
       round(quantile_cont(mean_token_len, 0.5), 6), round(quantile_cont(mean_token_len, 0.9), 6),
       round(quantile_cont(mean_token_len, 0.99), 6) FROM m
UNION ALL
SELECT 'space_ratio', CAST(count(space_ratio) AS BIGINT), round(avg(space_ratio), 6),
       round(quantile_cont(space_ratio, 0.5), 6), round(quantile_cont(space_ratio, 0.9), 6),
       round(quantile_cont(space_ratio, 0.99), 6) FROM m
UNION ALL
SELECT 'stopword_ratio', CAST(count(stopword_ratio) AS BIGINT), round(avg(stopword_ratio), 6),
       round(quantile_cont(stopword_ratio, 0.5), 6), round(quantile_cont(stopword_ratio, 0.9), 6),
       round(quantile_cont(stopword_ratio, 0.99), 6) FROM m""",
    # GraphSAGE 2-hop fixed-fanout sampling: md5 rank + row_number
    # replayed exactly; seeds = 10% md5 bucket of customers
    "neighbor_sample_cs": f"""WITH {CS_EDGES_CTE},
und AS (SELECT src, dst FROM cs_edges UNION SELECT dst, src FROM cs_edges),
seeds AS (
  SELECT DISTINCT src FROM cs_edges
  WHERE {_HEX15_TO_BIGINT.format(h="substr(md5(CAST(src AS VARCHAR) || ':sage-seeds'), 1, 15)")} % 1000000 < 100000
),
h0 AS (
  SELECT 0 AS hop, src, dst FROM (
    SELECT e.src, e.dst,
           row_number() OVER (
             PARTITION BY e.src
             ORDER BY md5('sage:0:' || CAST(e.src AS VARCHAR) || ':' || CAST(e.dst AS VARCHAR)), e.dst
           ) AS rn
    FROM und e JOIN seeds s ON e.src = s.src
  ) WHERE rn <= 3
),
f1 AS (SELECT DISTINCT dst AS src FROM h0),
h1 AS (
  SELECT 1 AS hop, e.src, e.dst FROM (
    SELECT e.src, e.dst,
           row_number() OVER (
             PARTITION BY e.src
             ORDER BY md5('sage:1:' || CAST(e.src AS VARCHAR) || ':' || CAST(e.dst AS VARCHAR)), e.dst
           ) AS rn
    FROM und e JOIN f1 USING (src)
  ) e WHERE rn <= 2
)
SELECT CAST(hop AS BIGINT) AS hop, src, dst FROM h0
UNION ALL
SELECT CAST(hop AS BIGINT) AS hop, src, dst FROM h1""",
    # butterfly (2x2 biclique) counting: wedge pair counts C(cnt,2),
    # per right-layer vertex — exact integer arithmetic
    "butterflies_cs": f"""WITH {CS_EDGES_CTE},
pairs AS (
  SELECT a.dst AS r1, b.dst AS r2, CAST(count(*) AS BIGINT) AS cnt
  FROM cs_edges a JOIN cs_edges b ON a.src = b.src AND a.dst < b.dst
  GROUP BY 1, 2
),
bf AS (
  SELECT r1, r2, CAST(cnt * (cnt - 1) / 2 AS BIGINT) AS bf
  FROM pairs WHERE cnt >= 2
)
SELECT id, CAST(sum(bf) AS BIGINT) AS butterflies
FROM (SELECT r1 AS id, bf FROM bf UNION ALL SELECT r2 AS id, bf FROM bf)
GROUP BY 1""",
    # first-touch funnel + weekly retention: min-aggregate chains and
    # date_trunc('week') (Monday) replayed exactly
    "funnel_events": """WITH s1 AS (
  SELECT user_id AS u, min(ts) AS touch FROM events WHERE event_type = 'view' GROUP BY 1
),
s2 AS (
  SELECT e.user_id AS u, min(e.ts) AS touch
  FROM events e JOIN s1 ON e.user_id = s1.u AND e.ts > s1.touch
  WHERE e.event_type = 'click' GROUP BY 1
),
s3 AS (
  SELECT e.user_id AS u, min(e.ts) AS touch
  FROM events e JOIN s2 ON e.user_id = s2.u AND e.ts > s2.touch
  WHERE e.event_type = 'purchase' GROUP BY 1
)
SELECT CAST(1 AS BIGINT) AS stage, 'view' AS event_type, CAST(count(*) AS BIGINT) AS users FROM s1
UNION ALL
SELECT CAST(2 AS BIGINT), 'click', CAST(count(*) AS BIGINT) FROM s2
UNION ALL
SELECT CAST(3 AS BIGINT), 'purchase', CAST(count(*) AS BIGINT) FROM s3""",
    "retention_events": """WITH first AS (
  SELECT user_id AS u, date_trunc('week', min(ts)) AS cohort FROM events GROUP BY 1
),
active AS (
  SELECT DISTINCT user_id AS u, date_trunc('week', ts) AS wk FROM events
),
per AS (
  SELECT cohort, CAST(date_diff('day', cohort, wk) / 7 AS BIGINT) AS period,
         CAST(count(*) AS BIGINT) AS users
  FROM active JOIN first USING (u) GROUP BY 1, 2
),
sz AS (SELECT cohort, CAST(count(*) AS BIGINT) AS n FROM first GROUP BY 1)
SELECT CAST(per.cohort AS DATE) AS cohort, period, users,
       round(CAST(users AS DOUBLE) / sz.n, 6) AS retention
FROM per JOIN sz ON per.cohort = sz.cohort""",
    # token-budget sequence packing, budget=512, 8 shards — md5 shard
    # and order keys replayed, all-integer outputs
    "pack_docs": f"""WITH {TOKS_CTE},
b AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         {_HEX15_TO_BIGINT.format(h="substr(md5(CAST(doc_id AS VARCHAR) || ':pack'), 1, 15)")} % 8 AS shard,
         {_HEX15_TO_BIGINT.format(h="substr(md5(CAST(doc_id AS VARCHAR) || ':pack:order'), 1, 15)")} % 1000000 AS okey,
         CAST(len(t) AS BIGINT) AS n_tokens
  FROM toks
),
w AS (
  SELECT doc_id, shard, n_tokens,
         sum(n_tokens) OVER (PARTITION BY shard ORDER BY okey, doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         - n_tokens AS bef
  FROM b
)
SELECT doc_id, shard,
       CAST(floor(bef / 512) AS BIGINT) AS seq,
       n_tokens,
       CAST(bef % 512 AS BIGINT) AS tok_offset
FROM w""",
    "quality_docs": f"""WITH {TOKS_CTE}
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(len(t) AS BIGINT) AS n_tokens,
       CASE WHEN len(t) > 0
            THEN round(CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE) / len(t), 6)
            ELSE 0.0 END AS mean_token_len,
       CASE WHEN length(text) > 0
            THEN round(CAST(length(text) - length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE) / length(text), 6)
            ELSE 0.0 END AS space_ratio,
       CASE WHEN len(t) > 0
            THEN round(CAST(len(list_filter(t, x -> list_contains(['the','and','of','to','is','in','that','it'], x))) AS DOUBLE) / len(t), 6)
            ELSE 0.0 END AS stopword_ratio
FROM toks""",
    "lang_id_docs": f"""WITH {TOKS_CTE},
hits AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         CAST(len(list_filter(t, x -> list_contains(['the','and','of','to','is','in','that','it'], x))) AS BIGINT) AS en_hits,
         CAST(len(list_filter(t, x -> list_contains(['der','die','das','und','ist','nicht','mit','ein'], x))) AS BIGINT) AS de_hits,
         CAST(len(list_filter(t, x -> list_contains(['le','la','les','et','est','dans','que','pour'], x))) AS BIGINT) AS fr_hits
  FROM toks
)
SELECT doc_id, en_hits, de_hits, fr_hits,
       CASE WHEN en_hits >= de_hits AND en_hits >= fr_hits AND en_hits > 0 THEN 'en'
            WHEN de_hits >= fr_hits AND de_hits > 0 THEN 'de'
            WHEN fr_hits > 0 THEN 'fr'
            ELSE 'unknown' END AS lang_pred
FROM hits""",
    "fingerprints_docs": f"""WITH {TOKS_CTE},
shl AS (
  SELECT doc_id, text,
         CASE WHEN len(t) >= 3
              THEN list_transform(generate_series(1, len(t) - 2),
                                  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
              ELSE [] END AS s
  FROM toks
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       substr(sha256(text), 1, 16) AS content_fp,
       list_min(list_transform(s, x -> md5(x))) AS shingle_fp
FROM shl""",
    "minhash_lsh_docs": f"""WITH {TOKS_CTE},
{SHINGLES_CTE},
sig AS (
  SELECT doc_id, [{", ".join(_sig_sql(i) for i in range(16))}] AS sig
  FROM sh WHERE len(s) > 0
),
bands AS (
  SELECT doc_id, u.band,
         md5(CAST(sig[u.band * 4 + 1] AS VARCHAR) || '|' ||
             CAST(sig[u.band * 4 + 2] AS VARCHAR) || '|' ||
             CAST(sig[u.band * 4 + 3] AS VARCHAR) || '|' ||
             CAST(sig[u.band * 4 + 4] AS VARCHAR)) AS band_hash
  FROM sig CROSS JOIN unnest([0, 1, 2, 3]) AS u(band)
)
SELECT DISTINCT CAST(a.doc_id AS BIGINT) AS id_a, CAST(b.doc_id AS BIGINT) AS id_b
FROM bands a
JOIN bands b ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id""",
    "repeated_spans_docs": f"""WITH {TOKS_CTE},
shpi AS (
  SELECT doc_id, t,
         unnest(generate_series(1, greatest(len(t) - 4, 0))) AS i
  FROM toks
),
shp AS (
  SELECT doc_id, i - 1 AS pos,
         t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4] AS gram
  FROM shpi
),
hot AS (
  SELECT gram FROM (SELECT DISTINCT doc_id, gram FROM shp)
  GROUP BY gram HAVING count(*) >= 2
),
hits AS (SELECT doc_id, pos FROM shp WHERE gram IN (SELECT gram FROM hot)),
isl AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM hits
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(min(pos) AS BIGINT) AS start,
       CAST(max(pos) + 4 AS BIGINT) AS "end",
       CAST(max(pos) + 4 - min(pos) + 1 AS BIGINT) AS n_tokens
FROM isl GROUP BY doc_id, grp""",
    "contamination_docs": f"""WITH {TOKS_CTE},
{_CONTAM_CTES},
hits AS (SELECT c.doc_id, c.pos, p.probe_id FROM cg c JOIN pg p ON p.gram = c.gram),
tot AS (SELECT doc_id, greatest(len(t) - 4, 0) AS total_grams FROM co)
SELECT CAST(h.doc_id AS BIGINT) AS doc_id,
       CAST(count(DISTINCT h.pos) AS BIGINT) AS contaminated_grams,
       CAST(any_value(tot.total_grams) AS BIGINT) AS total_grams,
       round(CAST(count(DISTINCT h.pos) AS DOUBLE) / any_value(tot.total_grams), 6)
         AS contaminated_frac,
       CAST(count(DISTINCT h.probe_id) AS BIGINT) AS probes_hit
FROM hits h JOIN tot ON tot.doc_id = h.doc_id
GROUP BY h.doc_id""",
    "contamination_spans_docs": f"""WITH {TOKS_CTE},
{_CONTAM_CTES},
hits AS (SELECT DISTINCT c.doc_id, c.pos FROM cg c JOIN pg p ON p.gram = c.gram),
isl AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM hits
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(min(pos) AS BIGINT) AS start,
       CAST(max(pos) + 4 AS BIGINT) AS "end",
       CAST(max(pos) + 4 - min(pos) + 1 AS BIGINT) AS n_tokens
FROM isl GROUP BY doc_id, grp""",
    "ngram_jaccard_docs": f"""WITH {TOKS_CTE},
{SHINGLES_CTE},
shx AS (SELECT doc_id, unnest(s) AS sh FROM sh),
sizes AS (SELECT doc_id, count(*) AS n FROM shx GROUP BY doc_id),
rare AS (SELECT sh FROM shx GROUP BY sh HAVING count(*) <= 10),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM shx a JOIN shx b ON a.sh = b.sh AND a.doc_id < b.doc_id
  WHERE a.sh IN (SELECT sh FROM rare)
),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS i
  FROM cand c
  JOIN shx x ON x.doc_id = c.id_a
  JOIN shx y ON y.doc_id = c.id_b AND y.sh = x.sh
  GROUP BY 1, 2
)
SELECT CAST(inter.id_a AS BIGINT) AS id_a, CAST(inter.id_b AS BIGINT) AS id_b,
       round(CAST(i AS DOUBLE) / (na.n + nb.n - i), 6) AS jaccard
FROM inter
JOIN sizes na ON na.doc_id = inter.id_a
JOIN sizes nb ON nb.doc_id = inter.id_b
WHERE round(CAST(i AS DOUBLE) / (na.n + nb.n - i), 6) >= 0.5""",
    "cosine_topk_embeddings": """WITH q AS (
  SELECT CAST(vec_id AS BIGINT) AS query_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id < 10
),
c AS (SELECT CAST(vec_id AS BIGINT) AS vec_id, embedding::DOUBLE[] AS cv FROM embeddings),
scored AS (
  SELECT query_id, vec_id, round(list_cosine_similarity(qv, cv), 6) AS sim
  FROM q CROSS JOIN c WHERE vec_id != query_id
),
ranked AS (
  SELECT query_id, vec_id, sim,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS BIGINT) AS rank
  FROM scored
)
SELECT query_id, vec_id, sim, rank FROM ranked WHERE rank <= 5""",
    "embedding_neardup": """WITH e AS (
  SELECT CAST(vec_id AS BIGINT) AS id, embedding::DOUBLE[] AS v FROM embeddings
)
SELECT a.id AS id_a, b.id AS id_b, round(list_cosine_similarity(a.v, b.v), 6) AS sim
FROM e a JOIN e b ON a.id < b.id
WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.4""",
    "events_window_counts": """SELECT time_bucket(INTERVAL '5 minutes', ts) AS window_start,
       event_type,
       count(*) AS n,
       round(sum(value), 6) AS total_value
FROM events GROUP BY 1, 2""",
    # DSIR importance weights — mirrors textstats.dsir_log_weights:
    # hashed unigram+bigram features (md5 '<f>:dsir' % 1024), add-1
    # smoothed bucket log-prob ratio target(lang='en') vs raw corpus
    "dsir_docs": f"""WITH {TOKS_CTE},
uf AS (SELECT doc_id, unnest(t) AS f FROM toks),
bf AS (SELECT doc_id, t[i] || ' ' || t[i+1] AS f
       FROM (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t) - 1, 0))) AS i FROM toks)),
af AS (
  SELECT doc_id,
         {_HEX15_TO_BIGINT.format(h="substr(md5(f || ':dsir'), 1, 15)")} % 1024 AS b
  FROM (SELECT * FROM uf UNION ALL SELECT * FROM bf)
),
dp AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, b, CAST(count(*) AS BIGINT) AS m
       FROM af GROUP BY 1, 2),
raw AS (SELECT b, CAST(sum(m) AS BIGINT) AS cr FROM dp GROUP BY 1),
tr AS (SELECT CAST(sum(m) AS BIGINT) AS v FROM dp),
tgt AS (SELECT af.b FROM af JOIN documents USING (doc_id) WHERE lang = 'en'),
tc AS (SELECT b, CAST(count(*) AS BIGINT) AS ct FROM tgt GROUP BY 1),
tt AS (SELECT CAST(count(*) AS BIGINT) AS v FROM tgt),
scored AS (
  SELECT dp.doc_id, dp.m,
         ln((CAST(coalesce(tc.ct, 0) AS DOUBLE) + 1.0) / (CAST(tt.v AS DOUBLE) + 1024.0))
       - ln((CAST(raw.cr AS DOUBLE) + 1.0) / (CAST(tr.v AS DOUBLE) + 1024.0)) AS w
  FROM dp JOIN raw USING (b) LEFT JOIN tc USING (b) CROSS JOIN tt CROSS JOIN tr
)
SELECT doc_id,
       CAST(sum(m) AS BIGINT) AS n_features,
       round(sum(m * w), 6) AS log_weight
FROM scored GROUP BY 1""",
    # Lloyd k-means, k=8, one update round — mirrors similarity.kmeans:
    # md5-seeded centroids, 6-dp-rounded cosine argmax, exact
    # scaled-integer dimension means
    "kmeans_embeddings": f"""WITH {_KMEANS_CTES}
SELECT vec_id, cent_id AS cluster FROM a1""",
    "semdedup_embeddings": f"""WITH {_KMEANS_CTES},
dropped AS (
  SELECT DISTINCT hi.vec_id AS vec_id
  FROM a1 hi
  JOIN a1 lo ON hi.cent_id = lo.cent_id AND lo.vec_id < hi.vec_id
  JOIN cv ch ON ch.vec_id = hi.vec_id
  JOIN cv cl ON cl.vec_id = lo.vec_id
  WHERE round(list_cosine_similarity(cl.v, ch.v), 6) >= 0.3
)
SELECT a1.vec_id, a1.cent_id AS cluster, d.d IS NULL AS kept
FROM a1 LEFT JOIN (SELECT vec_id, 1 AS d FROM dropped) d USING (vec_id)""",
    # DOULION p=0.5 sampled triangle estimate — md5 coin per canonical
    # edge, triangles over the sparsified graph, scale by 1/p^3 = 8
    "doulion_cop": f"""WITH {COP_EDGES_CTE},
s AS (
  SELECT src, dst FROM cop_edges
  WHERE {_HEX15_TO_BIGINT.format(h="substr(md5(CAST(src AS VARCHAR) || ':' || CAST(dst AS VARCHAR) || ':doulion'), 1, 15)")} % 1000000 < 500000
),
t AS (SELECT CAST(count(*) AS BIGINT) AS tri FROM (
  SELECT 1 FROM s e1
  JOIN s e2 ON e1.dst = e2.src
  JOIN s e3 ON e3.src = e1.src AND e3.dst = e2.dst
))
SELECT (SELECT CAST(count(*) AS BIGINT) FROM s) AS sampled_edges,
       t.tri AS sampled_triangles,
       round(CAST(t.tri AS DOUBLE) * 8.0, 6) AS est_triangles
FROM t""",
    "effdiam_cop": _anf_effdiam_oracle(),
    # A-ES weighted sample: key = ln(u)/w with u the md5-derandomized
    # uniform, top-100 — mirrors sampling.weighted_sample
    "weighted_sample_events": f"""WITH b AS (
  SELECT CAST(event_id AS BIGINT) AS event_id,
         round(ln(({_HEX15_TO_BIGINT.format(h="substr(md5(CAST(event_id AS VARCHAR) || ':wsample'), 1, 15)")} % 1000000
                   + 0.5) / 1000000.0) / CAST(value AS DOUBLE), 9) AS sample_key
  FROM events WHERE value > 0
)
SELECT event_id, sample_key FROM b
ORDER BY sample_key DESC, event_id ASC LIMIT 100""",
    # count-min sketch replay — identical md5('<j>:<term>') % 1024
    # buckets, identical depth-4 counter table, all-integer min
    "cms_terms_docs": f"""WITH {TOKS_CTE},
tr AS (SELECT unnest(t) AS term FROM toks),
bkt AS (
  SELECT term, j,
         {_HEX15_TO_BIGINT.format(h="substr(md5(CAST(j AS VARCHAR) || ':' || term), 1, 15)")} % 1024 AS b
  FROM tr, unnest(generate_series(0, 3)) AS u(j)
),
sketch AS (SELECT j, b, CAST(count(*) AS BIGINT) AS c FROM bkt GROUP BY 1, 2),
probe AS (SELECT DISTINCT term, j, b FROM bkt)
SELECT p.term, CAST(min(s.c) AS BIGINT) AS est_count
FROM probe p JOIN sketch s USING (j, b)
GROUP BY 1 HAVING min(s.c) >= 100""",
    # FM distinct sketch replay — identical md5('0:<r>:<term>') bits,
    # identical bit_or masks, identical estimator (textstats.fm_distinct)
    "fm_distinct_langs": f"""WITH {TOKS_CTE},
tr AS (SELECT doc_id, unnest(t) AS term FROM toks),
tl AS (SELECT d.lang, tr.term FROM tr JOIN documents d USING (doc_id)),
h AS (SELECT lang,
       CAST(list_sum(list_transform(range(0, 15), i -> CAST(strpos('0123456789abcdef', substr(substr(md5('0:0:' || term), 1, 15), CAST(i AS INT) + 1, 1)) - 1 AS BIGINT) << ((14 - CAST(i AS INT)) * 4))) AS BIGINT) AS h0,
       CAST(list_sum(list_transform(range(0, 15), i -> CAST(strpos('0123456789abcdef', substr(substr(md5('0:1:' || term), 1, 15), CAST(i AS INT) + 1, 1)) - 1 AS BIGINT) << ((14 - CAST(i AS INT)) * 4))) AS BIGINT) AS h1,
       CAST(list_sum(list_transform(range(0, 15), i -> CAST(strpos('0123456789abcdef', substr(substr(md5('0:2:' || term), 1, 15), CAST(i AS INT) + 1, 1)) - 1 AS BIGINT) << ((14 - CAST(i AS INT)) * 4))) AS BIGINT) AS h2,
       CAST(list_sum(list_transform(range(0, 15), i -> CAST(strpos('0123456789abcdef', substr(substr(md5('0:3:' || term), 1, 15), CAST(i AS INT) + 1, 1)) - 1 AS BIGINT) << ((14 - CAST(i AS INT)) * 4))) AS BIGINT) AS h3,
       CAST(list_sum(list_transform(range(0, 15), i -> CAST(strpos('0123456789abcdef', substr(substr(md5('0:4:' || term), 1, 15), CAST(i AS INT) + 1, 1)) - 1 AS BIGINT) << ((14 - CAST(i AS INT)) * 4))) AS BIGINT) AS h4,
       CAST(list_sum(list_transform(range(0, 15), i -> CAST(strpos('0123456789abcdef', substr(substr(md5('0:5:' || term), 1, 15), CAST(i AS INT) + 1, 1)) - 1 AS BIGINT) << ((14 - CAST(i AS INT)) * 4))) AS BIGINT) AS h5,
       CAST(list_sum(list_transform(range(0, 15), i -> CAST(strpos('0123456789abcdef', substr(substr(md5('0:6:' || term), 1, 15), CAST(i AS INT) + 1, 1)) - 1 AS BIGINT) << ((14 - CAST(i AS INT)) * 4))) AS BIGINT) AS h6,
       CAST(list_sum(list_transform(range(0, 15), i -> CAST(strpos('0123456789abcdef', substr(substr(md5('0:7:' || term), 1, 15), CAST(i AS INT) + 1, 1)) - 1 AS BIGINT) << ((14 - CAST(i AS INT)) * 4))) AS BIGINT) AS h7,
       CAST(list_sum(list_transform(range(0, 15), i -> CAST(strpos('0123456789abcdef', substr(substr(md5('0:8:' || term), 1, 15), CAST(i AS INT) + 1, 1)) - 1 AS BIGINT) << ((14 - CAST(i AS INT)) * 4))) AS BIGINT) AS h8,
       CAST(list_sum(list_transform(range(0, 15), i -> CAST(strpos('0123456789abcdef', substr(substr(md5('0:9:' || term), 1, 15), CAST(i AS INT) + 1, 1)) - 1 AS BIGINT) << ((14 - CAST(i AS INT)) * 4))) AS BIGINT) AS h9,
       CAST(list_sum(list_transform(range(0, 15), i -> CAST(strpos('0123456789abcdef', substr(substr(md5('0:10:' || term), 1, 15), CAST(i AS INT) + 1, 1)) - 1 AS BIGINT) << ((14 - CAST(i AS INT)) * 4))) AS BIGINT) AS h10,
       CAST(list_sum(list_transform(range(0, 15), i -> CAST(strpos('0123456789abcdef', substr(substr(md5('0:11:' || term), 1, 15), CAST(i AS INT) + 1, 1)) - 1 AS BIGINT) << ((14 - CAST(i AS INT)) * 4))) AS BIGINT) AS h11,
       CAST(list_sum(list_transform(range(0, 15), i -> CAST(strpos('0123456789abcdef', substr(substr(md5('0:12:' || term), 1, 15), CAST(i AS INT) + 1, 1)) - 1 AS BIGINT) << ((14 - CAST(i AS INT)) * 4))) AS BIGINT) AS h12,
       CAST(list_sum(list_transform(range(0, 15), i -> CAST(strpos('0123456789abcdef', substr(substr(md5('0:13:' || term), 1, 15), CAST(i AS INT) + 1, 1)) - 1 AS BIGINT) << ((14 - CAST(i AS INT)) * 4))) AS BIGINT) AS h13,
       CAST(list_sum(list_transform(range(0, 15), i -> CAST(strpos('0123456789abcdef', substr(substr(md5('0:14:' || term), 1, 15), CAST(i AS INT) + 1, 1)) - 1 AS BIGINT) << ((14 - CAST(i AS INT)) * 4))) AS BIGINT) AS h14,
       CAST(list_sum(list_transform(range(0, 15), i -> CAST(strpos('0123456789abcdef', substr(substr(md5('0:15:' || term), 1, 15), CAST(i AS INT) + 1, 1)) - 1 AS BIGINT) << ((14 - CAST(i AS INT)) * 4))) AS BIGINT) AS h15
FROM tl),
m AS (SELECT lang,
       bit_or(CAST(1 AS BIGINT) << CAST(least(bit_count((h0 & -h0) - 1), 62) AS INT)) AS m0,
       bit_or(CAST(1 AS BIGINT) << CAST(least(bit_count((h1 & -h1) - 1), 62) AS INT)) AS m1,
       bit_or(CAST(1 AS BIGINT) << CAST(least(bit_count((h2 & -h2) - 1), 62) AS INT)) AS m2,
       bit_or(CAST(1 AS BIGINT) << CAST(least(bit_count((h3 & -h3) - 1), 62) AS INT)) AS m3,
       bit_or(CAST(1 AS BIGINT) << CAST(least(bit_count((h4 & -h4) - 1), 62) AS INT)) AS m4,
       bit_or(CAST(1 AS BIGINT) << CAST(least(bit_count((h5 & -h5) - 1), 62) AS INT)) AS m5,
       bit_or(CAST(1 AS BIGINT) << CAST(least(bit_count((h6 & -h6) - 1), 62) AS INT)) AS m6,
       bit_or(CAST(1 AS BIGINT) << CAST(least(bit_count((h7 & -h7) - 1), 62) AS INT)) AS m7,
       bit_or(CAST(1 AS BIGINT) << CAST(least(bit_count((h8 & -h8) - 1), 62) AS INT)) AS m8,
       bit_or(CAST(1 AS BIGINT) << CAST(least(bit_count((h9 & -h9) - 1), 62) AS INT)) AS m9,
       bit_or(CAST(1 AS BIGINT) << CAST(least(bit_count((h10 & -h10) - 1), 62) AS INT)) AS m10,
       bit_or(CAST(1 AS BIGINT) << CAST(least(bit_count((h11 & -h11) - 1), 62) AS INT)) AS m11,
       bit_or(CAST(1 AS BIGINT) << CAST(least(bit_count((h12 & -h12) - 1), 62) AS INT)) AS m12,
       bit_or(CAST(1 AS BIGINT) << CAST(least(bit_count((h13 & -h13) - 1), 62) AS INT)) AS m13,
       bit_or(CAST(1 AS BIGINT) << CAST(least(bit_count((h14 & -h14) - 1), 62) AS INT)) AS m14,
       bit_or(CAST(1 AS BIGINT) << CAST(least(bit_count((h15 & -h15) - 1), 62) AS INT)) AS m15
FROM h GROUP BY 1)
SELECT lang,
       round(pow(2.0, (bit_count((xor(m0, -1) & -xor(m0, -1)) - 1) + bit_count((xor(m1, -1) & -xor(m1, -1)) - 1) + bit_count((xor(m2, -1) & -xor(m2, -1)) - 1) + bit_count((xor(m3, -1) & -xor(m3, -1)) - 1) + bit_count((xor(m4, -1) & -xor(m4, -1)) - 1) + bit_count((xor(m5, -1) & -xor(m5, -1)) - 1) + bit_count((xor(m6, -1) & -xor(m6, -1)) - 1) + bit_count((xor(m7, -1) & -xor(m7, -1)) - 1) + bit_count((xor(m8, -1) & -xor(m8, -1)) - 1) + bit_count((xor(m9, -1) & -xor(m9, -1)) - 1) + bit_count((xor(m10, -1) & -xor(m10, -1)) - 1) + bit_count((xor(m11, -1) & -xor(m11, -1)) - 1) + bit_count((xor(m12, -1) & -xor(m12, -1)) - 1) + bit_count((xor(m13, -1) & -xor(m13, -1)) - 1) + bit_count((xor(m14, -1) & -xor(m14, -1)) - 1) + bit_count((xor(m15, -1) & -xor(m15, -1)) - 1)) / 16.0) / 0.77351, 6) AS est_distinct
FROM m""",
    # CSN discrete power-law MLE over out-degrees (zeros excluded by
    # x_min=1) — mirrors Graph.powerlaw_alpha
    "powerlaw_cs": f"""WITH {CS_EDGES_CTE},
v AS (SELECT src AS id FROM cs_edges UNION SELECT dst FROM cs_edges),
deg AS (
  SELECT v.id, CAST(coalesce(o.c, 0) AS BIGINT) AS degree
  FROM v LEFT JOIN (SELECT src, count(*) AS c FROM cs_edges GROUP BY src) o
    ON o.src = v.id
),
t AS (SELECT degree FROM deg WHERE degree >= 1),
a AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(ln(degree / 0.5)) AS s FROM t)
SELECT CAST(1 AS BIGINT) AS x_min,
       n AS n_tail,
       round(1.0 + n / s, 6) AS alpha,
       round((n / s) / sqrt(n), 6) AS sigma
FROM a""",
    # regenerate the div3 BMP pixel grid arithmetically and replay the
    # decoder's feature math (multimodal._pixels_to_feature): gray =
    # (r+g+b)/3 (exact — channel sum divisible by 3), 4x4 block means
    # /16 /255, channel means /256 /255.  Every sum is over exact
    # integer-valued doubles, so SUM order vs numpy's pairwise mean
    # cannot diverge; the REAL cast mirrors the array<float> element.
    "multimodal_image_features": """WITH ids AS (
  SELECT CAST(p_partkey AS BIGINT) AS media_id FROM part WHERE p_partkey <= 64
),
grid AS (
  SELECT xs.x AS x, ys.y AS y
  FROM (SELECT unnest(range(16)) AS x) xs, (SELECT unnest(range(16)) AS y) ys
),
px AS (
  SELECT media_id, x, y,
         (media_id*37 + x*11 + y*7) % 256 AS r,
         (media_id*57 + x*5 + y*13) % 256 AS g,
         (media_id*97 + x*3 + y*17) % 256 AS b0
  FROM ids, grid
),
px2 AS (
  SELECT media_id, x, y, r, g,
         CASE WHEN b0 - ((r+g+b0) % 3) < 0 THEN b0 - ((r+g+b0) % 3) + 3
              ELSE b0 - ((r+g+b0) % 3) END AS b
  FROM px
),
thumb AS (
  SELECT media_id, CAST((y // 4) * 4 + (x // 4) AS INT) AS feature_idx,
         CAST(CAST(SUM((r+g+b) / 3.0) / 16 / 255 AS REAL) AS DOUBLE) AS feat
  FROM px2 GROUP BY 1, 2
),
chan AS (
  SELECT media_id, CAST(16 AS INT) AS feature_idx,
         CAST(CAST(SUM(r) / 256.0 / 255 AS REAL) AS DOUBLE) AS feat
  FROM px2 GROUP BY 1
  UNION ALL
  SELECT media_id, CAST(17 AS INT),
         CAST(CAST(SUM(g) / 256.0 / 255 AS REAL) AS DOUBLE)
  FROM px2 GROUP BY 1
  UNION ALL
  SELECT media_id, CAST(18 AS INT),
         CAST(CAST(SUM(b) / 256.0 / 255 AS REAL) AS DOUBLE)
  FROM px2 GROUP BY 1
)
SELECT media_id, feature_idx, feat,
       CAST(1 AS INT) AS frames, TRUE AS decode_ok
FROM (SELECT * FROM thumb UNION ALL SELECT * FROM chan)""",
    # replay make_wav_int's integer samples and the decoder's RMS math
    # (multimodal._rms_feature, window k = ceil(1000/16) = 63): x =
    # s/32768 and x*x are dyadic rationals on a 2^-30 grid with window
    # sums < 2^36, so SUM is exact and order-independent; /count and
    # sqrt are single IEEE ops on identical inputs.
    "multimodal_audio_features": """WITH ids AS (
  SELECT CAST(p_partkey AS BIGINT) AS media_id FROM part WHERE p_partkey <= 64
),
samp AS (
  SELECT media_id, i, ((media_id*31 + i*17) % 4001) - 2000 AS s
  FROM ids, (SELECT unnest(range(1000)) AS i) ii
),
win AS (
  SELECT media_id, CAST(i // 63 AS INT) AS window_idx,
         (s / 32768.0) * (s / 32768.0) AS x2
  FROM samp
)
SELECT media_id, window_idx,
       CAST(CAST(sqrt(SUM(x2) / COUNT(*)) AS REAL) AS DOUBLE) AS rms,
       CAST(1000 AS INT) AS frames, TRUE AS decode_ok
FROM win GROUP BY 1, 2""",
}
