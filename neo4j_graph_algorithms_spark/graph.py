"""Graph abstraction: two DataFrames instead of an in-memory snapshot.

The reference engine's core abstraction is an immutable adjacency
snapshot loaded out of Neo4j (``core/src/main/java/org/neo4j/graphalgo/
api/Graph.java:27`` — IdMapping + Degrees + iterate-neighbors).  Here a
graph is just:

- ``edges``    : DataFrame ``(src long, dst long, weight double)``
- ``vertices`` : DataFrame ``(id long, ...optional property columns)``

kept distributed end-to-end.  Dense-id remapping (``IdMap.java:36-40``)
is unnecessary for DataFrame joins — ids stay ``long`` — but a
deterministic dense mapping is available for positional/bitmask kernels
(``dense_ids``).  Degrees are DataFrames (``edges.groupBy(src).count``),
not arrays; "load direction" (``GraphLoader.withDirection``,
``GraphLoader.java:203-296``) becomes edge-table reversal / union.

The reference's delta-compressed CSR (``HugeGraphFactory.java:360-395``)
has no separate layout here: every operator scatters over the flat
edge rows, and hub skew is absorbed by the map-side partial aggregation
of each gather.  A salted CSR-style block layout was tried for
PageRank, WCC and label propagation and lost its A/B measurements, so
it was removed (README, "Scale design").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EDGE_COLS = ("src", "dst", "weight")


class Graph:
    """Immutable wrapper around a normalized edge DataFrame."""

    def __init__(
        self,
        edges: DataFrame,
        vertices: DataFrame | None = None,
        default_weight: float = 1.0,
        src_partitioned: bool = False,
        symmetrized: bool = False,
    ):
        self.spark: SparkSession = edges.sparkSession
        self.default_weight = float(default_weight)
        # True when `edges` is already hash-clustered by src (a bucketed
        # table from sources/graph_store.py): operators preparing a
        # src-side layout skip their repartition — the edge-side
        # exchange was paid once at write time.  The flag is advisory;
        # the projection below is narrow, so Catalyst still sees the
        # scan's HashPartitioning either way.
        self.src_partitioned = bool(src_partitioned)
        # True when `edges` already holds the undirected message view:
        # (src, dst) present iff (dst, src) present, and (src, dst)
        # unique (self-loops may remain; consumers filter them — a
        # narrow, exchange-free op).  Undirected operators (wcc,
        # labelPropagation BOTH, triangle family) then skip the
        # symmetrize union + dedup entirely; combined with
        # src_partitioned their whole load phase is exchange-free.
        self.symmetrized = bool(symmetrized)
        cols = edges.columns
        if "weight" not in cols:
            edges = edges.withColumn("weight", F.lit(self.default_weight))
        self.edges = (
            edges.select(
                F.col("src").cast("long").alias("src"),
                F.col("dst").cast("long").alias("dst"),
                F.coalesce(F.col("weight").cast("double"), F.lit(self.default_weight)).alias(
                    "weight"
                ),
            )
        )
        if vertices is not None:
            vcols = vertices.columns
            first = "id" if "id" in vcols else vcols[0]
            self._vertices = vertices.withColumn("id", F.col(first).cast("long"))
        else:
            self._vertices = None

    # ------------------------------------------------------------------ #
    # constructors
    # ------------------------------------------------------------------ #
    @classmethod
    def project_bipartite(
        cls,
        df,
        group_col: str,
        item_col: str,
        min_count: int = 1,
        max_group_size: int | None = None,
    ) -> "Graph":
        """Item–item co-occurrence graph from a bipartite
        ``(group, item)`` table — the projection every co-purchase /
        co-citation / co-occurrence analysis starts from (the repo's
        own cop fixture is this projection written by hand).

        Edge ``(a < b, weight = #groups containing both)``; ``min_count``
        prunes weak ties.  **``max_group_size`` is the skew guard the
        projection needs at scale**: a single group with g items emits
        g·(g−1)/2 pairs — one 10^6-item group is 5·10^11 rows — so
        groups above the cap are dropped from pair generation (a
        documented coverage cut, same contract as
        ``ngram_jaccard_pairs.max_shingle_df``).  Both the size filter
        and the pair count are map-side-combinable aggregates; the pair
        self-join is an equi-join on the group key, never all-pairs
        across groups."""
        g = df.select(
            F.col(group_col).alias("g"), F.col(item_col).cast("long").alias("i")
        ).dropDuplicates(["g", "i"])
        if max_group_size is not None:
            ok = (
                g.groupBy("g")
                .agg(F.count(F.lit(1)).alias("sz"))
                .filter(F.col("sz") <= max_group_size)
                .select("g")
            )
            g = g.join(ok.hint("SHUFFLE_HASH"), "g", "left_semi")
        pairs = (
            g.alias("a")
            .join(g.alias("b"), "g")
            .filter(F.col("a.i") < F.col("b.i"))
            .groupBy(F.col("a.i").alias("src"), F.col("b.i").alias("dst"))
            .agg(F.count(F.lit(1)).cast("double").alias("weight"))
            .filter(F.col("weight") >= float(min_count))
        )
        return cls(pairs)

    @classmethod
    def from_edges(
        cls,
        df: DataFrame,
        src: str = "src",
        dst: str = "dst",
        weight: str | None = None,
        vertices: DataFrame | None = None,
        default_weight: float = 1.0,
    ) -> "Graph":
        sel = [F.col(src).alias("src"), F.col(dst).alias("dst")]
        if weight is not None and weight in df.columns:
            sel.append(F.col(weight).alias("weight"))
        return cls(df.select(*sel), vertices=vertices, default_weight=default_weight)

    @classmethod
    def from_edge_list(
        cls,
        spark: SparkSession,
        edge_list,
        vertices=None,
        default_weight: float = 1.0,
    ) -> "Graph":
        """Tiny-fixture constructor: ``[(src, dst[, weight]), ...]``."""
        rows = [
            (
                int(e[0]),
                int(e[1]),
                float(e[2]) if len(e) > 2 and e[2] is not None else float(default_weight),
            )
            for e in edge_list
        ]
        edges = spark.createDataFrame(rows, "src long, dst long, weight double")
        vdf = None
        if vertices is not None:
            vdf = spark.createDataFrame([(int(v),) for v in vertices], "id long")
        return cls(edges, vertices=vdf, default_weight=default_weight)

    # ------------------------------------------------------------------ #
    # vertex / degree views
    # ------------------------------------------------------------------ #
    @property
    def vertices(self) -> DataFrame:
        """``(id long)`` — provided vertex table, else src ∪ dst.

        On a symmetrized graph every vertex appears on the src side, so
        the dst leg is dropped — and on a bucketed store the distinct
        reuses the scan's ``HashPartitioning(src)`` with no exchange."""
        if self._vertices is not None:
            return self._vertices
        if self.symmetrized:
            return self.edges.select(F.col("src").alias("id")).distinct()
        return (
            self.edges.select(F.col("src").alias("id"))
            .union(self.edges.select(F.col("dst").alias("id")))
            .distinct()
        )

    def out_degrees(self, weighted: bool = False) -> DataFrame:
        """``(id, degree)`` — zero-degree vertices included (degree=0)."""
        agg = F.sum("weight") if weighted else F.count(F.lit(1))
        deg = self.edges.groupBy(F.col("src").alias("id")).agg(agg.alias("degree"))
        return (
            self.vertices.select("id")
            .join(deg.hint("SHUFFLE_HASH"), "id", "left")
            .select("id", F.coalesce("degree", F.lit(0)).cast("double" if weighted else "long").alias("degree"))
        )

    def in_degrees(self) -> DataFrame:
        deg = self.edges.groupBy(F.col("dst").alias("id")).agg(F.count(F.lit(1)).alias("degree"))
        return (
            self.vertices.select("id")
            .join(deg.hint("SHUFFLE_HASH"), "id", "left")
            .select("id", F.coalesce("degree", F.lit(0)).alias("degree"))
        )

    # ------------------------------------------------------------------ #
    # derived edge views (the reference's load-time projections)
    # ------------------------------------------------------------------ #
    def reverse(self) -> "Graph":
        """Direction INCOMING (``GraphLoader.withDirection(Direction.INCOMING)``)."""
        return Graph(
            self.edges.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), "weight"
            ),
            vertices=self._vertices,
            default_weight=self.default_weight,
        )

    def undirected(self, dedup: bool = True) -> "Graph":
        """Direction BOTH / ``asUndirected(true)`` (``GraphLoader.java:136-139``):
        each edge materialized both ways; optional dedup.

        Dedup merges per-pair weights with ``max`` — the same
        direction-merge ``save_graph(symmetrize=True)`` applies at
        write time — so both directions of a pair always carry the SAME
        weight and a downstream ``filter_weight`` keeps or drops the
        pair atomically (``>= t`` on the max ⟺ directed-filter-then-
        symmetrize, the engine's threshold semantics).  A plain
        ``dropDuplicates`` here would keep an arbitrary per-direction
        weight and let a later threshold filter break the symmetry the
        ``symmetrized`` flag promises."""
        both = self.edges.union(
            self.edges.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), "weight"
            )
        )
        if dedup:
            both = both.groupBy("src", "dst").agg(F.max("weight").alias("weight"))
        return Graph(
            both,
            vertices=self._vertices,
            default_weight=self.default_weight,
            symmetrized=dedup,
        )

    def canonical_undirected_edges(self) -> DataFrame:
        """Undirected edge set oriented low→high, deduped, self-loops dropped:
        ``(src < dst)`` — the triangle-counting input (``TriangleProc.java:103-104``
        loads undirected+sorted+dedup).

        On a symmetrized graph each unordered pair is already unique per
        direction, so ``src < dst`` alone selects exactly one canonical
        row — no dedup shuffle."""
        if self.symmetrized:
            return self.edges.select("src", "dst").filter(F.col("src") < F.col("dst"))
        e = self.edges.select(
            F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
        )
        return e.filter(F.col("src") != F.col("dst")).dropDuplicates(["src", "dst"])

    def filter_weight(self, threshold: float) -> "Graph":
        """Keep edges with ``weight >= threshold`` — the unionFind threshold
        semantics (``GraphUnionFind.java:82-99``, note ``>=``).

        A filter is narrow, so both layout flags survive.  On a
        symmetrized store the per-pair weight is direction-merged at
        write time (``save_graph(symmetrize=True)`` keeps ``max``), so
        the filter keeps or drops both directions together — the
        symmetry invariant holds."""
        return Graph(
            self.edges.filter(F.col("weight") >= F.lit(float(threshold))),
            vertices=self._vertices,
            default_weight=self.default_weight,
            src_partitioned=self.src_partitioned,
            symmetrized=self.symmetrized,
        )

    def accumulate_weights(self) -> "Graph":
        """Sum weights of parallel edges (``GraphLoader.withAccumulateWeights``)."""
        return Graph(
            self.edges.groupBy("src", "dst").agg(F.sum("weight").alias("weight")),
            vertices=self._vertices,
            default_weight=self.default_weight,
        )

    def degree_distribution(self, direction: str = "OUT") -> DataFrame:
        """``(degree long, frequency long)`` histogram over all vertices
        (zero-degree vertices included) — the summary a capacity plan or
        skew audit reads first.  One shuffle (the degree groupBy) plus a
        tiny histogram aggregation."""
        if direction == "OUT":
            deg = self.out_degrees()
        elif direction == "IN":
            deg = self.in_degrees()
        else:
            raise ValueError(f"direction must be OUT or IN, got {direction!r}")
        return (
            deg.groupBy(F.col("degree").cast("long").alias("degree"))
            .agg(F.count(F.lit(1)).alias("frequency"))
        )

    def powerlaw_alpha(self, x_min: int = 1, direction: str = "OUT") -> DataFrame:
        """One-row power-law exponent fit of the degree distribution —
        ``(x_min, n_tail, alpha, sigma)``: the discrete MLE
        ``α̂ = 1 + n / Σ ln(d_i / (x_min − ½))`` over the n_tail
        vertices with degree ≥ x_min, with standard error
        ``σ = (α̂ − 1)/√n`` (Clauset, Shalizi & Newman 2009, eq. 3.7 —
        the estimator every web-graph degree-distribution claim is
        fitted with).  Real link graphs are heavy-tailed; α̂ ∈ [2, 3]
        is the regime where a few hubs dominate the gather shuffles,
        so this is the capacity-planning statistic read before
        choosing the partition strategy.  ``alpha`` is NULL when
        no vertex reaches x_min.  One degree aggregate + one global
        aggregate — map-side combined, no windows."""
        if direction == "OUT":
            deg = self.out_degrees()
        elif direction == "IN":
            deg = self.in_degrees()
        else:
            raise ValueError(f"direction must be OUT or IN, got {direction!r}")
        tail = deg.filter(F.col("degree") >= int(x_min))
        ratio = F.col("n_tail") / F.col("s")
        return (
            tail.agg(
                F.count(F.lit(1)).alias("n_tail"),
                F.sum(F.log(F.col("degree") / F.lit(float(x_min) - 0.5))).alias("s"),
            )
            .select(
                F.lit(int(x_min)).cast("long").alias("x_min"),
                F.col("n_tail").cast("long").alias("n_tail"),
                F.round(F.lit(1.0) + ratio, 6).alias("alpha"),
                F.round(ratio / F.sqrt(F.col("n_tail")), 6).alias("sigma"),
            )
        )

    def summary_stats(self) -> DataFrame:
        """One-row graph profile — the numbers a capacity plan, a skew
        audit, or a partitioning decision reads before any algorithm
        runs: ``(nodes, edges, undirected_edges, density, avg_degree,
        max_degree, degree_assortativity)``.

        ``degree_assortativity`` is Newman's r — the Pearson
        correlation of endpoint degrees over the symmetrized edge list
        (both orientations, so the statistic is orientation-free;
        matches ``networkx.degree_assortativity_coefficient``).  NULL
        on degenerate graphs (all degrees equal — zero variance).

        Scale shape: the input edge set is materialized ONCE (eager
        lineage cut) and every statistic reads that copy — a profile
        over an expensive upstream projection must not re-run it per
        aggregate; then one degree groupBy + two co-keyed joins + a
        single global aggregate, all map-side combinable, no windows,
        no driver-side per-row work."""
        from .plans.checkpoint import truncate_lineage

        e = truncate_lineage(self.edges.select("src", "dst"))
        und = (
            e.select(
                F.least("src", "dst").alias("src"),
                F.greatest("src", "dst").alias("dst"),
            )
            .filter(F.col("src") != F.col("dst"))
            .dropDuplicates(["src", "dst"])
        )
        und = truncate_lineage(und)
        deg = (
            und.select(F.col("src").alias("id"))
            .union(und.select(F.col("dst").alias("id")))
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias("degree"))
        )
        sym = und.union(
            und.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        pairs = sym.join(
            deg.select(F.col("id").alias("src"), F.col("degree").alias("sdeg")), "src"
        ).join(
            deg.select(F.col("id").alias("dst"), F.col("degree").alias("ddeg")), "dst"
        )
        # corr() raises DIVIDE_BY_ZERO under ANSI mode on zero-variance
        # (regular) graphs; assemble Pearson r from its pieces instead
        cr = pairs.agg(
            F.covar_pop("sdeg", "ddeg").alias("cov"),
            F.stddev_pop("sdeg").alias("sx"),
            F.stddev_pop("ddeg").alias("sy"),
        ).collect()[0]
        r = None
        if cr["sx"] and cr["sy"]:
            r = cr["cov"] / (cr["sx"] * cr["sy"])
        d = deg.agg(
            F.max("degree").alias("mx"), F.count(F.lit(1)).alias("nd")
        ).collect()[0]
        if self._vertices is not None:
            n = self._vertices.count()
        else:
            n = (
                e.select(F.col("src").alias("id"))
                .union(e.select(F.col("dst").alias("id")))
                .distinct()
                .count()
            )
        m_dir = e.count()
        m_und = und.count()
        density = (2.0 * m_und / (n * (n - 1))) if n > 1 else 0.0
        return self.spark.createDataFrame(
            [
                (
                    n,
                    m_dir,
                    m_und,
                    float(density),
                    2.0 * m_und / n if n else 0.0,
                    int(d["mx"] or 0),
                    float(r) if r is not None else None,
                )
            ],
            "nodes long, edges long, undirected_edges long, density double, "
            "avg_degree double, max_degree long, degree_assortativity double",
        )

    # ------------------------------------------------------------------ #
    # misc
    # ------------------------------------------------------------------ #
    def dense_ids(self, num_partitions: int | None = None) -> DataFrame:
        """Deterministic dense rank ``(id, vid)`` with vid in 0..n-1 —
        the ``IdMap`` equivalent (``core/IdMap.java:36-40``), kept as a
        join dimension (never an in-place renumber).

        Scale shape: range-partition by id, sort within partitions,
        then ``zipWithIndex`` (one extra job to count per-partition
        sizes, no global single-partition sort).  Deterministic given
        the same vertex set — ranks follow the total order on id."""
        spark = self.spark
        if num_partitions is None:
            num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
        v = (
            self.vertices.select("id")
            .repartitionByRange(num_partitions, "id")
            .sortWithinPartitions("id")
        )
        rdd = v.rdd.map(lambda r: r[0]).zipWithIndex()
        return spark.createDataFrame(rdd, "id long, vid long")

    def num_vertices(self) -> int:
        return self.vertices.count()

    def num_edges(self) -> int:
        return self.edges.count()

    def cache(self) -> "Graph":
        self.edges.cache()
        return self


def derived_vertices(graph: "Graph", cached_edges) -> "DataFrame":
    """Operator-load-phase vertex table: the user-provided table when
    one exists, else ``src ∪ dst`` of the operator's already-persisted
    edge projection — never re-evaluates the user's edge subtree (the
    edge input is arbitrary SQL; ``graph.vertices`` re-runs it when no
    explicit vertex table was given)."""
    if graph._vertices is not None:  # noqa: SLF001
        return graph.vertices
    return (
        cached_edges.select(F.col("src").alias("id"))
        .union(cached_edges.select(F.col("dst").alias("id")))
        .distinct()
    )
