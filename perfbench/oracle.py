"""Independent reference computations for every benchmarked operation.

Nothing here touches Spark.  PageRank and WCC are numpy replays; label
propagation and the triangle family are the repo's DuckDB oracle SQL
(``driver_queries._labelprop_oracle`` and the ``triangle_counts_cop`` /
``transitivity_cop`` statements) with the fixture's edge CTE replaced by
the workload's own edge table.

Every check returns a list of human-readable mismatch strings; an empty
list means the engine's output is correct.
"""

from __future__ import annotations

import hashlib

import duckdb
import numpy as np
import pandas as pd

DAMPING = 0.85
SCORE_TOL = 1e-6


class DenseGraph:
    """Edges over dense indices ``0..n-1`` whose order equals id order,
    so "smallest index" and "smallest id" coincide."""

    def __init__(self, src_ids: np.ndarray, dst_ids: np.ndarray):
        self.ids, inv = np.unique(np.concatenate([src_ids, dst_ids]), return_inverse=True)
        m = src_ids.size
        self.src, self.dst = inv[:m], inv[m:]
        self.n = self.ids.size


def pagerank_replay(g: DenseGraph, iterations: int) -> tuple[np.ndarray, list[float]]:
    """Reference delta-push PageRank: ``iterations`` supersteps of
    ``rank += d * sum(delta/outdeg)``; dangling vertices keep their mass.
    Returns the ranks and each superstep's max |delta|."""
    outdeg = np.bincount(g.src, minlength=g.n).astype(np.float64)
    rank = np.full(g.n, 1.0 - DAMPING)
    delta = rank.copy()
    max_deltas = []
    for _ in range(iterations):
        msg = np.bincount(g.dst, weights=delta[g.src] / outdeg[g.src], minlength=g.n)
        delta = DAMPING * msg
        rank = rank + delta
        max_deltas.append(float(np.abs(delta).max()))
    return rank, max_deltas


def converged_iterations(max_deltas: list[float], tol: float, interval: int, cap: int) -> int:
    """The superstep at which a run that tests ``max|delta| < tol`` every
    ``interval`` supersteps (and at ``cap``) stops."""
    for it in range(1, cap + 1):
        if (it % interval == 0 or it >= cap) and max_deltas[it - 1] < tol:
            return it
    return cap


def _by_id(df: pd.DataFrame, col: str) -> pd.Series:
    return df.set_index("id")[col].sort_index()


def check_scores(g: DenseGraph, scores: pd.DataFrame, expected: np.ndarray, what: str) -> list[str]:
    got = _by_id(scores, "score")
    if got.index.size != g.n or not np.array_equal(got.index.to_numpy(), g.ids):
        return [f"{what}: vertex set differs ({got.index.size} rows, expected {g.n})"]
    bad = ~np.isclose(got.to_numpy(), expected, rtol=SCORE_TOL, atol=SCORE_TOL)
    if bad.any():
        i = int(np.flatnonzero(bad)[0])
        return [f"{what}: {int(bad.sum())} scores off, e.g. id {g.ids[i]}: {got.iloc[i]} vs {expected[i]}"]
    return []


class PageRankReference:
    """Replays ``cap`` supersteps once and answers checks for any run of a
    tolerance-mode PageRank over the same graph."""

    def __init__(self, g: DenseGraph, tol: float, interval: int, cap: int):
        self.g = g
        rank, max_deltas = pagerank_replay(g, cap)
        self.stop = converged_iterations(max_deltas, tol, interval, cap)
        self.rank = rank if self.stop == cap else pagerank_replay(g, self.stop)[0]

    def check(self, scores: pd.DataFrame, iterations_ran: int) -> list[str]:
        if iterations_ran != self.stop:
            return [f"pagerank: stopped after {iterations_ran} supersteps, reference stops at {self.stop}"]
        return check_scores(self.g, scores, self.rank, "pagerank")


def components(g: DenseGraph) -> np.ndarray:
    """Minimum member id of each vertex's weakly connected component."""
    lab = np.arange(g.n)
    while True:
        new = lab.copy()
        np.minimum.at(new, g.src, lab[g.dst])
        np.minimum.at(new, g.dst, lab[g.src])
        new = new[new]  # pointer jump: new[x] <= x and stays in x's component
        if np.array_equal(new, lab):
            return g.ids[lab]
        lab = new


def check_wcc(g: DenseGraph, comps: pd.DataFrame, want: np.ndarray) -> list[str]:
    got = _by_id(comps, "set_id")
    if not np.array_equal(got.index.to_numpy(), g.ids):
        return [f"wcc: vertex set differs ({got.index.size} rows, expected {g.n})"]
    bad = got.to_numpy() != want
    return [f"wcc: {int(bad.sum())} vertices carry a wrong set_id"] if bad.any() else []


def _con(edges: pd.DataFrame) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.register("edges_df", edges)
    con.execute("CREATE TABLE edges AS SELECT CAST(src AS BIGINT) src, CAST(dst AS BIGINT) dst FROM edges_df")
    return con


def labelprop_sql(iterations: int) -> str:
    """``_labelprop_oracle`` over the directed table ``edges``: BOTH
    direction votes are the UNION ALL of both orientations, so a
    reciprocal pair votes twice, exactly as the engine's vote union."""
    parts = [
        "ue AS MATERIALIZED (SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges)",
        "v AS MATERIALIZED (SELECT DISTINCT src AS id FROM ue)",
        "it0 AS MATERIALIZED (SELECT id, id AS label FROM v)",
    ]
    for k in range(1, iterations + 1):
        parts.append(f"""tally{k} AS MATERIALIZED (
  SELECT ue.src AS voter, p.label AS cand, count(*) AS c
  FROM ue JOIN it{k - 1} p ON ue.dst = p.id GROUP BY 1, 2)""")
        parts.append(f"""best{k} AS (
  SELECT voter, cand FROM (
    SELECT voter, cand,
           row_number() OVER (PARTITION BY voter ORDER BY c DESC, cand ASC) AS rn
    FROM tally{k}) WHERE rn = 1)""")
        parts.append(f"""it{k} AS MATERIALIZED (
  SELECT p.id, coalesce(b.cand, p.label) AS label
  FROM it{k - 1} p LEFT JOIN best{k} b ON b.voter = p.id)""")
    return "WITH " + ",\n".join(parts) + f"\nSELECT id, label FROM it{iterations} ORDER BY id"


def labelprop_reference(edges: pd.DataFrame, iterations: int) -> pd.DataFrame:
    with _con(edges) as con:
        return con.execute(labelprop_sql(iterations)).df()


def check_labelprop(want: pd.DataFrame, labels: pd.DataFrame) -> list[str]:
    got = labels.sort_values("id").reset_index(drop=True)
    if not np.array_equal(got["id"].to_numpy(), want["id"].to_numpy()):
        return [f"labelprop: vertex set differs ({len(got)} rows, expected {len(want)})"]
    bad = got["label"].to_numpy() != want["label"].to_numpy()
    return [f"labelprop: {int(bad.sum())} vertices carry a wrong label"] if bad.any() else []


# triangle_counts_cop / transitivity_cop over the canonical undirected
# (src < dst) view of the workload's directed edge table
_TRIANGLE_SQL = """
WITH und AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS src, greatest(src, dst) AS dst
  FROM edges WHERE src <> dst),
v AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
deg AS (SELECT id, count(*) AS degree FROM (
  SELECT src AS id FROM und UNION ALL SELECT dst FROM und) GROUP BY id),
tri AS MATERIALIZED (
  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
  FROM und e1
  JOIN und e2 ON e1.dst = e2.src
  JOIN und e3 ON e3.src = e1.src AND e3.dst = e2.dst),
m AS (SELECT a AS id FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri),
cnt AS (SELECT id, count(*) AS triangles FROM m GROUP BY id)
SELECT v.id AS id, coalesce(cnt.triangles, 0) AS triangles, coalesce(deg.degree, 0) AS degree
FROM v LEFT JOIN cnt ON cnt.id = v.id LEFT JOIN deg ON deg.id = v.id
ORDER BY v.id"""


class TriangleReference:
    def __init__(self, edges: pd.DataFrame):
        with _con(edges) as con:
            df = con.execute(_TRIANGLE_SQL).df()
        self.ids = df["id"].to_numpy()
        self.triangles = df["triangles"].to_numpy(np.int64)
        d = df["degree"].to_numpy(np.int64)
        self.coefficient = np.where(d >= 2, 2.0 * self.triangles / np.maximum(d * (d - 1), 1), 0.0)
        self.total = int(self.triangles.sum()) // 3
        self.wedges = int((d * (d - 1)).sum()) // 2


def check_triangle_count(ref: TriangleReference, per_node: pd.DataFrame, total: int,
                         node_count: int, avg_coeff: float) -> list[str]:
    got = per_node.sort_values("id").reset_index(drop=True)
    if not np.array_equal(got["id"].to_numpy(), ref.ids):
        return [f"triangle_count: vertex set differs ({len(got)} rows, expected {ref.ids.size})"]
    errs = []
    bad = got["triangles"].to_numpy() != ref.triangles
    if bad.any():
        errs.append(f"triangle_count: {int(bad.sum())} per-node counts wrong")
    if not np.allclose(got["coefficient"].to_numpy(), ref.coefficient, rtol=1e-12, atol=1e-12):
        errs.append("triangle_count: clustering coefficients differ")
    if total != ref.total:
        errs.append(f"triangle_count: total {total}, expected {ref.total}")
    if node_count != ref.ids.size:
        errs.append(f"triangle_count: node_count {node_count}, expected {ref.ids.size}")
    if not np.isclose(avg_coeff, ref.coefficient.mean(), rtol=1e-9, atol=1e-12):
        errs.append(f"triangle_count: average coefficient {avg_coeff}, expected {ref.coefficient.mean()}")
    return errs


def check_transitivity(ref: TriangleReference, row: pd.DataFrame) -> list[str]:
    r = row.iloc[0]
    errs = []
    if int(r["triangles"]) != ref.total or int(r["wedges"]) != ref.wedges:
        errs.append(f"transitivity: ({r['triangles']}, {r['wedges']}) vs ({ref.total}, {ref.wedges})")
    want = 3.0 * ref.total / ref.wedges if ref.wedges else 0.0
    if not np.isclose(float(r["transitivity"]), want, rtol=1e-12, atol=0.0):
        errs.append(f"transitivity: {r['transitivity']} vs {want}")
    return errs


def check_extract(edges: pd.DataFrame, shas: pd.DataFrame, files: dict, want_pairs) -> list[str]:
    """Extracted pairs against the generator's edge list, ids consistent
    per file name, and content_sha256 per row against hashlib."""
    errs = []
    got = set(zip(edges["src_file"], edges["dst_file"]))
    want = set(zip(*want_pairs))
    if len(edges) != len(got):
        errs.append(f"extract: {len(edges) - len(got)} duplicate pairs")
    if got != want:
        errs.append(f"extract: {len(want - got)} pairs missing, {len(got - want)} unexpected")
    names = pd.concat([
        edges[["src_file", "src"]].set_axis(["name", "id"], axis=1),
        edges[["dst_file", "dst"]].set_axis(["name", "id"], axis=1),
    ]).drop_duplicates()
    if names["name"].duplicated().any() or names["id"].duplicated().any():
        errs.append("extract: file names and vertex ids are not one-to-one")
    key = [r + "::" + p for r, p in zip(files["repo"], files["path"])]
    want_sha = {k: hashlib.sha256(c.encode("utf-8")).hexdigest() for k, c in zip(key, files["content"])}
    got_sha = dict(zip(shas["repo"] + "::" + shas["path"], shas["content_sha256"]))
    if got_sha != want_sha:
        bad = sum(1 for k, v in want_sha.items() if got_sha.get(k) != v)
        errs.append(f"extract: content_sha256 wrong or missing on {bad} of {len(want_sha)} rows")
    return errs
