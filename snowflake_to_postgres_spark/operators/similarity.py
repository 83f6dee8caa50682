"""Similarity search over the ``embeddings`` table (array<float>, dim 64).

Beyond-reference surface (driver north star): brute-force cosine top-k as
the correctness baseline, an IVF-bucketed variant as the scale path, and
embedding-cosine near-dup pairs.

Determinism strategy (the oracle hash is exact): dot products and squared
norms are computed on DECIMAL(18,9)-cast components — decimal arithmetic
is exact and associative, so Spark's partial aggregation and DuckDB's
single-threaded sum agree bit-for-bit. Only the final
``dot / (sqrt(n1)*sqrt(n2))`` happens in IEEE doubles (identical inputs →
identical outputs in both engines). Ranking ties break on vec_id.

Scale shape: embeddings are exploded to (vec_id, idx, val) and joined on
idx — the sparse-matmul formulation. For a 10⁹-vector corpus you'd
partition the exploded table by idx (co-located join, no broadcast of the
corpus) and broadcast only the query block; IVF then cuts the candidate
set by the fanout factor. A dense Pandas-UDF path (numpy matmul per
partition) is the single-node fast path; since round 8 it is ALSO
oracle-checked — components snap to the 1e-9 grid and the cosine to the
1e-8 grid, which absorbs the BLAS-vs-decimal reduction difference (see
``sim_topk_dense``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from snowflake_to_postgres_spark.operators.common import partition_exchange
from snowflake_to_postgres_spark.registry import QuerySpec
from snowflake_to_postgres_spark.sources import load_table
from snowflake_to_postgres_spark.util.sqlview import temp_view_for

N_QUERIES = 5        # query set: vec_id < 5
TOP_K = 5
N_CENTROIDS = 8      # IVF: centroid set = first 8 vectors (deterministic stand-in)
N_PROBE = 2          # IVF: cells probed per query
NEARDUP_COS = 0.40   # embedding near-dup threshold (fixture max ≈ 0.51)


def _components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, idx, val DECIMAL(18,9)) exploded embedding components."""
    emb = load_table(spark, sf_dir, "embeddings")
    # float → double → 1e-9 grid → decimal. The grid step is the tie-free
    # floor(x·1e9 + 0.5): a direct double→decimal cast resolves a double
    # landing EXACTLY on a .5e-9 boundary HALF_UP in Spark but half-even
    # in DuckDB — observed first in emb_quantize_int8's old formulation
    # and again at (vec 364, dim 58) = 0.1494140625 once emb_dim_stats
    # exposed raw sums. floor-based rounding is identical IEEE double
    # arithmetic in both engines (x·1e9 exact-nearest, +0.5 exact, floor
    # exact), so no boundary case exists; the integer result is exact in
    # DECIMAL(18,0) (|x|<2^31 · 1e9 < 2^53 < 10^18) and the /1e9 rescale
    # is an exact decimal scale change.
    comp = emb.select(
        "vec_id", F.posexplode("embedding").alias("idx", "fval")
    ).select(
        "vec_id", "idx",
        (
            F.floor(F.col("fval").cast("double") * F.lit(1000000000.0) + F.lit(0.5))
            .cast("decimal(18,0)")
            / F.lit(1000000000).cast("decimal(10,0)")
        ).cast("decimal(18,9)").alias("val"),
    )
    # Parallelism guard: a small parquet input scans as 1-2 partitions
    # (files don't split below maxPartitionBytes), and every consumer
    # here does heavy decimal math IN THE SCAN STAGE (broadcast joins +
    # map-side partial aggregation) — measured 10x wall-clock loss on a
    # 20k-vector corpus from exactly this (PERFORMANCE.md). Repartition
    # only when the scan is under-parallel; at real scale inputs arrive
    # with thousands of partitions and this is a no-op.
    target = emb.sparkSession.sparkContext.defaultParallelism
    if emb.rdd.getNumPartitions() < max(2, target // 2):
        comp = comp.repartition(target, "vec_id")
    return comp


_COMP_CTES = """
WITH comp AS (
  SELECT vec_id, i AS idx,
         CAST(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000000.0 + 0.5) AS DECIMAL(18,0))
              / CAST(1000000000 AS DECIMAL(10,0)) AS DECIMAL(18,9)) AS val
  FROM embeddings, unnest(generate_series(1, len(embedding))) AS g(i)
),
norms AS (
  SELECT vec_id, CAST(SUM(val * val) AS DECIMAL(38,18)) AS n2 FROM comp GROUP BY vec_id
)
"""


# ---------------------------------------------------------------------------
# Spark SQL fragments: the one text of each shared kernel. Each builder
# returns one SELECT over the relations it is given, by name or as a
# parenthesized subquery (_sub); the registered queries and the DataFrame
# helpers nest the same builders, each helper in one spark.sql call. Hints
# sit where the kernels broadcast: centroids, hyperplanes, probe lists,
# the query block and the query norms.
#
# Every frame, the components included, enters through temp_view_for,
# never as a spark.sql parameter: substitution drops the cache entry of
# any plan-equal frame (util/sqlview.py), and emb_matryoshka_recall
# persists a components frame that every other build here would match.
# The helpers build without a WITH so callers can cache their frames: on
# Spark 4.1.2 a cached plan that contains a WITH is found again only when
# its CTEs come first in the reading plan (the cache lookup renumbers CTE
# ids across the whole plan).
# ---------------------------------------------------------------------------


def _sub(sql: str) -> str:
    """``sql`` as a parenthesized relation for another fragment."""
    return f"(\n{sql}\n)"


def _norms_sql(comp: str) -> str:
    """SELECT of (vec_id, n2): exact squared norms, typed by the sum of
    ``val * val`` (DECIMAL(38,18) over the DECIMAL(18,9) grid)."""
    return f"SELECT vec_id, SUM(val * val) AS n2 FROM {comp} GROUP BY vec_id"


def _cosine_sql(
    comp: str, cand: str | None = None, k: int | None = None, n_queries: int = N_QUERIES
) -> str:
    """SELECT of (qid, neighbor_id, cosine): exact decimal cosine of each
    query vector (vec_id < ``n_queries``) against the whole corpus or,
    given the relation ``cand`` of (qid, vec_id) pairs, against those
    candidates only (the exact rescore of every bucketed ANN path). With
    ``k``, (qid, rank, neighbor_id, cosine) of the k best per query, ties
    on neighbor_id.

    ``comp`` is any (vec_id, idx, val) relation of exact decimals: dots
    and norms are typed by their sums, so integer components (DECIMAL
    with scale 0, as the hashed document features) keep dots past 1e20
    exact. Rounded to DECIMAL(10,8): DuckDB's wide-decimal→double
    conversion can differ from the JVM's by 1 ULP; 8 decimals collapses
    that while keeping a meaningful similarity score. Ranking uses the
    rounded value."""
    norms = _sub(_norms_sql(comp))
    q = f"(SELECT vec_id AS qid, idx, val AS qval FROM {comp} WHERE vec_id < {n_queries})"
    if cand is None:
        qid = "q.qid"
        dots_from = f"{comp} c JOIN {q} q ON q.idx = c.idx WHERE c.vec_id != q.qid"
    else:
        qid = "s.qid"
        dots_from = (
            f"{comp} c JOIN {cand} s ON s.vec_id = c.vec_id\n"
            f"    JOIN {q} q ON q.qid = s.qid AND q.idx = c.idx"
        )
    ranked = f"""SELECT /*+ BROADCAST(qn) */ d.qid, d.vec_id AS neighbor_id,
       CAST(CAST(dot AS DOUBLE)
            / (SQRT(CAST(qn.n2 AS DOUBLE)) * SQRT(CAST(nn.n2 AS DOUBLE)))
            AS DECIMAL(10,8)) AS cosine
FROM (
  SELECT /*+ BROADCAST(q) */ {qid}, c.vec_id, SUM(c.val * q.qval) AS dot
  FROM {dots_from}
  GROUP BY {qid}, c.vec_id
) d
JOIN (SELECT vec_id AS qid, n2 FROM {norms}) qn ON qn.qid = d.qid
JOIN {norms} nn ON nn.vec_id = d.vec_id"""
    if k is None:
        return ranked
    return f"""SELECT qid, rank, neighbor_id, cosine FROM (
  SELECT qid, neighbor_id, cosine,
         CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, neighbor_id)
              AS BIGINT) AS rank
  FROM {_sub(ranked)}
) WHERE rank <= {k}"""


# The two in-block dedups share the pair scoring below but not their dot
# stages, because the better candidate form depends on block size. Label
# blocks (dedup_embedding_cosine_pairs) hold about 200 vectors at sf0.1
# and grow with N: their shuffle self-join on (label, idx) ran 4.54 s,
# the in-block explode 7.77 s. Semantic cells (dedup_semantic_clusters)
# are held near SEM_TARGET_OCC: there the explode beat the self-join,
# 2.109 → 1.930 s at sf0.1 (6 alternating rounds; a SHUFFLE_HASH hint on
# the join measured 1.943 s).
def _pair_cosine_sql(dots: str, comp: str) -> str:
    """SELECT of (va, vb, cosine): the exact cosine of each (va, vb, dot)
    pair of ``dots`` over the squared norms of ``comp``, on the
    _cosine_sql grid. Hint-free: both sides are corpus-cardinality."""
    return f"""SELECT d.va, d.vb,
       CAST(CAST(d.dot AS DOUBLE)
            / (SQRT(CAST(na.n2 AS DOUBLE)) * SQRT(CAST(nb.n2 AS DOUBLE)))
            AS DECIMAL(10,8)) AS cosine
FROM {dots} d
JOIN {_sub(_norms_sql(comp))} na ON na.vec_id = d.va
JOIN {_sub(_norms_sql(comp))} nb ON nb.vec_id = d.vb"""


def _ivf_cent_sql(comp: str, n_cent: int | str) -> str:
    """SELECT of (cid, idx, cval): the first ``n_cent`` corpus vectors, a
    deterministic stand-in for trained centroids — N_CENTROIDS for the
    IVF search paths, a corpus-sized count expression for semantic
    dedup."""
    return f"SELECT vec_id AS cid, idx, val AS cval FROM {comp} WHERE vec_id < {n_cent}"


def _ivf_d2_sql(comp: str, cent: str) -> str:
    """SELECT of (vec_id, cid, d2): exact squared L2 of every ``comp``
    vector to every centroid of ``cent``."""
    return f"""SELECT /*+ BROADCAST(cent) */ vec_id, cid,
       CAST(SUM((val - cval) * (val - cval)) AS DECIMAL(38,18)) AS d2
FROM {comp} JOIN {cent} cent USING (idx) GROUP BY vec_id, cid"""


def _ivf_ranked_sql(d2: str) -> str:
    """SELECT of (vec_id, cid, rn): every vector's centroids of the
    (vec_id, cid, d2) relation ``d2`` ranked by distance, ties on cid."""
    return f"""SELECT vec_id, cid,
       ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) AS rn
FROM {d2}"""


def _ivf_assign_sql(d2: str) -> str:
    """SELECT of (vec_id, cell): each vector's nearest centroid."""
    return f"SELECT vec_id, cid AS cell FROM {_sub(_ivf_ranked_sql(d2))} WHERE rn = 1"


def _ivf_cells_sql(d2: str) -> str:
    """SELECT of (qid, cell, rn): each query's cells by distance."""
    return (
        f"SELECT vec_id AS qid, cid AS cell, rn FROM {_sub(_ivf_ranked_sql(d2))} "
        f"WHERE vec_id < {N_QUERIES}"
    )


def _ivf_probes_sql(cells: str) -> str:
    """SELECT of (qid, cell): the N_PROBE nearest cells per query."""
    return f"SELECT qid, cell FROM {cells} WHERE rn <= {N_PROBE}"


def _ivf_stages(comp: str) -> tuple[str, str]:
    """The assign and cells stages of IVF over ``comp`` (centroids from
    the corpus itself) as subqueries."""
    d2 = _sub(_ivf_d2_sql(comp, _sub(_ivf_cent_sql(comp, N_CENTROIDS))))
    return _sub(_ivf_assign_sql(d2)), _sub(_ivf_cells_sql(d2))


def _ivf_cand_sql(comp: str) -> str:
    """SELECT of (qid, vec_id): IVF cell pruning — the vectors assigned to
    a query's N_PROBE nearest cells."""
    assign, cells = _ivf_stages(comp)
    return f"""SELECT /*+ BROADCAST(probes) */ qid, vec_id
FROM {assign} assign JOIN {_sub(_ivf_probes_sql(cells))} probes USING (cell)
WHERE vec_id != qid"""


def _bf_cosines(
    spark: SparkSession, sf_dir: str, n_queries: int = N_QUERIES
) -> DataFrame:
    """(qid, neighbor_id, cosine): every query vector scored against the
    full corpus — the exact-cosine block shared by the brute-force
    top-k, the radius (range) search, and the label-noise audit (which
    widens the query block via ``n_queries``)."""
    comp = temp_view_for(_components(spark, sf_dir), "comp")
    return spark.sql(_cosine_sql(comp, n_queries=n_queries))


def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: every query vector against the full
    corpus. Join on component idx, exact-decimal dot, rank per query."""
    comp = temp_view_for(_components(spark, sf_dir), "comp")
    return spark.sql(_cosine_sql(comp, k=TOP_K))


SIM_TOPK_ORACLE = _COMP_CTES + f""",
q AS (SELECT vec_id AS qid, idx, val AS qval FROM comp WHERE vec_id < {N_QUERIES}),
dots AS (
  SELECT qid, vec_id, CAST(SUM(val * qval) AS DECIMAL(38,18)) AS dot
  FROM comp JOIN q USING (idx)
  WHERE vec_id <> qid
  GROUP BY qid, vec_id
),
ranked AS (
  SELECT qid, dots.vec_id AS neighbor_id,
         CAST(CAST(dot AS DOUBLE) / (sqrt(CAST(qn.n2 AS DOUBLE)) * sqrt(CAST(nn.n2 AS DOUBLE))) AS DECIMAL(10,8)) AS cosine
  FROM dots
  JOIN norms qn ON qn.vec_id = dots.qid
  JOIN norms nn ON nn.vec_id = dots.vec_id
)
SELECT qid, rank, neighbor_id, cosine FROM (
  SELECT qid, neighbor_id, cosine,
         CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
  FROM ranked
) WHERE rank <= {TOP_K}
"""


def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed ANN: assign every vector to its nearest of
    N_CENTROIDS cells (exact-decimal L2², ties on centroid id), probe the
    N_PROBE nearest cells per query, search only those candidates.

    The centroid set is the first N_CENTROIDS vectors — a deterministic
    stand-in for k-means training (which is iterative and not
    SQL-oracle-able); the *search* topology is the real IVF plan: the
    candidate join shuffles on cell id, cutting scanned vectors by
    ~N_PROBE/N_CENTROIDS."""
    comp = temp_view_for(_components(spark, sf_dir), "comp")
    return spark.sql(_cosine_sql(comp, _sub(_ivf_cand_sql(comp)), 3))


def _ivf_centroids(comp: DataFrame) -> DataFrame:
    """(cid, idx, cval) — the deterministic centroid set."""
    return comp.sparkSession.sql(_ivf_cent_sql(temp_view_for(comp, "comp"), N_CENTROIDS))


def _ivf_cell_d2(vectors: DataFrame, cent: DataFrame) -> DataFrame:
    """(vec_id, cid, d2) — exact squared L2 to every centroid."""
    return vectors.sparkSession.sql(
        _ivf_d2_sql(temp_view_for(vectors, "ivf_vectors"), temp_view_for(cent, "ivf_cent"))
    )


def _ivf_assign(d2: DataFrame) -> DataFrame:
    """(vec_id, cell) — nearest-centroid cell per vector."""
    return d2.sparkSession.sql(_ivf_assign_sql(temp_view_for(d2, "ivf_d2")))


def _ivf_candidates(comp: DataFrame) -> DataFrame:
    """(qid, vec_id) — IVF cell pruning: every vector assigned to its
    nearest centroid cell, candidates = vectors in the N_PROBE cells
    nearest each query: :func:`_ivf_cand_sql`, the candidates that
    sim_ivf_topk (exact in-cell scoring) and sim_ivf_pq_topk (ADC
    in-cell scoring) nest, as a frame."""
    return comp.sparkSession.sql(_ivf_cand_sql(temp_view_for(comp, "comp")))


def _rank_candidates(comp: DataFrame, candidates: DataFrame, k: int) -> DataFrame:
    """Exact-cosine scoring + per-query top-k over a (qid, vec_id)
    candidate set — the shared tail of every bucketed ANN variant (IVF,
    RP-LSH). Candidate frames are tiny relative to the corpus (that is
    the point of bucketing), so the query block and norms broadcast."""
    sql = _cosine_sql(temp_view_for(comp, "comp"), temp_view_for(candidates, "cand"), k)
    return comp.sparkSession.sql(sql)


SIM_IVF_ORACLE = _COMP_CTES + f""",
cent AS (SELECT vec_id AS cid, idx, val AS cval FROM comp WHERE vec_id < {N_CENTROIDS}),
d2 AS (
  SELECT vec_id, cid,
         CAST(SUM((val - cval) * (val - cval)) AS DECIMAL(38,18)) AS d2
  FROM comp JOIN cent USING (idx) GROUP BY vec_id, cid
),
assign AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM d2
  ) WHERE rn = 1
),
probes AS (
  SELECT vec_id AS qid, cid AS cell FROM (
    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
    FROM d2 WHERE vec_id < {N_QUERIES}
  ) WHERE rn <= {N_PROBE}
),
candidates AS (
  SELECT qid, vec_id FROM assign JOIN probes USING (cell) WHERE vec_id <> qid
),
q AS (SELECT vec_id AS qid, idx, val AS qval FROM comp WHERE vec_id < {N_QUERIES}),
dots AS (
  SELECT c.qid, c.vec_id, CAST(SUM(comp.val * q.qval) AS DECIMAL(38,18)) AS dot
  FROM candidates c
  JOIN comp ON comp.vec_id = c.vec_id
  JOIN q ON q.qid = c.qid AND q.idx = comp.idx
  GROUP BY c.qid, c.vec_id
),
ranked AS (
  SELECT qid, dots.vec_id AS neighbor_id,
         CAST(CAST(dot AS DOUBLE) / (sqrt(CAST(qn.n2 AS DOUBLE)) * sqrt(CAST(nn.n2 AS DOUBLE))) AS DECIMAL(10,8)) AS cosine
  FROM dots
  JOIN norms qn ON qn.vec_id = dots.qid
  JOIN norms nn ON nn.vec_id = dots.vec_id
)
SELECT qid, rank, neighbor_id, cosine FROM (
  SELECT qid, neighbor_id, cosine,
         CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
  FROM ranked
) WHERE rank <= 3
"""


RP_BITS = 6          # RP-LSH: hyperplanes / signature bits → 2^6 buckets
# Recall design (round-11 verdict #2: radius-1 single-table measured
# 0.47 mean recall@3 at sf0.1 — below any production bar). Two standard
# LSH knobs, both applied:
#   - Multi-probe (Lv et al. 2007): probe every bucket within Hamming
#     distance RP_PROBE_RADIUS of the query signature. Probe count grows
#     as C(bits, ≤r) ~ bits^r while bits grows only as
#     log2(N/bucket_occupancy), so the probed FRACTION shrinks with N.
#   - Multiple independent tables (Indyk-Motwani): RP_TABLES signature
#     tables over disjoint hyperplane sets; a neighbor is a candidate if
#     ANY table probes its bucket — recall_L = 1-(1-r_1)^L. Measured
#     ladder at (sf0.01, sf0.1): radius-1 × 1 table (0.47); radius-2 ×
#     1 (0.60, 0.67); radius-1 × 4 (0.73, 0.73); radius-2 × 4 tables =
#     (1.00, 0.867) — clears ANN_RECALL_BAR = 0.8 at both SFs
#     (PERFORMANCE.md round-12 recall table, measured by sim_ann_recall).
ANN_RECALL_BAR = 0.8
RP_TABLES = 4
RP_PROBE_RADIUS = 2


def _probe_masks(bits: int, radius: int) -> list[int]:
    """All XOR masks of Hamming weight <= radius, enumerated as
    C(bits, <=radius) combinations of bit POSITIONS — O(bits^radius),
    not O(2^bits): the kernel's own scale story raises bits to
    log2(N/occupancy) (~30 at 10^9 vectors), where a full 2^bits scan
    would hang the driver for the ~466 masks combinations yield
    directly (round-13 review finding)."""
    from itertools import combinations

    return sorted(
        sum(1 << p for p in pos)
        for r in range(radius + 1)
        for pos in combinations(range(bits), r)
    )


RP_PROBE_MASKS = _probe_masks(RP_BITS, RP_PROBE_RADIUS)

#: Occupancy target for the AUTO bits rule (round-13 verdict watch #2):
#: bits = floor(log2(N / RP_TARGET_OCCUPANCY)). The measured ladder
#: (tools/rp_ladder.py, PERFORMANCE.md round 13) brackets the value:
#: bits=10 at ~2 vectors/bucket drops below ANN_RECALL_BAR at BOTH
#: measured corpora, while the passing rungs sit at ≥ ~8 vectors/bucket
#: (bits=8 at 2000 vectors) — 4 is the conservative edge of that band,
#: and on the fixture it reproduces exactly the hand-picked rungs:
#: 500 → 6 (the shipped config, recall 1.000) and 2000 → 8 (0.867).
RP_TARGET_OCCUPANCY = 4
RP_BITS_MAX = 30  # C(30,≤2)=466 probe masks; bucket fits a BIGINT


def rp_auto_bits(n_vectors: int, tables: int = RP_TABLES) -> int:
    """Signature width per the measured occupancy rule: the bits dial
    grows as log2(N/occupancy) so bucket occupancy — the quantity the
    ladder showed recall actually depends on — stays ~constant as the
    corpus grows, and the probed fraction tables·C(bits,≤r)/2^bits
    collapses. Clamped to [1, RP_BITS_MAX] and to the hyperplane
    budget: planes are differences of the first tables·2·bits corpus
    vectors, so 2·bits·tables can never exceed N."""
    from math import floor, log2

    if n_vectors <= RP_TARGET_OCCUPANCY:
        return 1
    bits = min(RP_BITS_MAX, floor(log2(n_vectors / RP_TARGET_OCCUPANCY)))
    return max(1, min(bits, n_vectors // (2 * tables)))


def _rp_lsh_sql(
    comp: str, bits: int = RP_BITS, tables: int = RP_TABLES, radius: int = RP_PROBE_RADIUS
) -> str:
    """SELECT of the RP-LSH candidate pairs (qid, vec_id) over ``comp``:
    hyper — table t's hyperplane h is v_{t·2B+h} − v_{t·2B+B+h} (disjoint
    corpus-vector slices per table, so the ``tables`` signatures are
    independent draws from the same direction-unbiased family) → proj
    (exact decimal projections) → bucketed(vec_id, t, bucket) — the
    ``bits``-bit sign signature per table → variants — every bucket
    within Hamming distance ``radius`` of a query's signature → the
    distinct pairs sharing a bucket, so a neighbor probed by several
    tables scores once."""
    span = 2 * bits
    masks = ", ".join(
        f"CAST(bucket ^ {m} AS BIGINT)" for m in _probe_masks(bits, radius)
    )
    src = f"""(
    SELECT CAST(FLOOR(vec_id / {span}) AS INT) AS t,
           CAST(vec_id % {span} AS INT) AS r, idx, val
    FROM {comp} WHERE vec_id < {tables * span})"""
    hyper = f"""(
    SELECT t, h, idx, av - bv AS hval
    FROM (SELECT t, r AS h, idx, val AS av FROM {src} WHERE r < {bits}) ha
    JOIN (SELECT t, r - {bits} AS h, idx, val AS bv FROM {src} WHERE r >= {bits}) hb
    USING (t, h, idx))"""
    proj = f"""(
    SELECT /*+ BROADCAST(hyper) */ c.vec_id, hyper.t, hyper.h,
           CAST(SUM(c.val * hyper.hval) AS DECIMAL(38,18)) AS p
    FROM {comp} c JOIN {hyper} hyper USING (idx)
    GROUP BY c.vec_id, hyper.t, hyper.h)"""
    bucketed = f"""(
    SELECT vec_id, t,
           CAST(SUM(CASE WHEN p > 0 THEN CAST(SHIFTLEFT(1, h) AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS bucket
    FROM {proj} GROUP BY vec_id, t)"""
    variants = f"""(
    SELECT vec_id AS qid, t, explode(array({masks})) AS bucket
    FROM {bucketed} WHERE vec_id < {N_QUERIES})"""
    return f"""SELECT /*+ BROADCAST(v) */ DISTINCT v.qid, b.vec_id
  FROM {bucketed} b JOIN {variants} v ON v.t = b.t AND v.bucket = b.bucket
  WHERE b.vec_id != v.qid"""


def sim_rp_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-random-projection (SimHash-for-vectors) LSH ANN — the
    second bucketed scale path next to IVF (Charikar's random-hyperplane
    family: P[sign match] = 1 − θ/π).

    RP_BITS hyperplanes; bit_j = (⟨v, h_j⟩ > 0); bucket = the bit
    signature as an integer. Queries probe every bucket within Hamming
    distance RP_PROBE_RADIUS of their own signature (multi-probe —
    recovers near-misses that differ on marginal hyperplanes without
    extra hash tables; see the radius note at RP_PROBE_MASKS).
    Candidates then get exact-decimal cosine + top-k via the same tail
    as IVF.

    Determinism: hyperplanes must be identical in Spark and the DuckDB
    oracle, so instead of an RNG they are DIFFERENCES OF CORPUS VECTORS
    (h_j = v_j − v_{j+RP_BITS}) — deterministic, data-derived (difference
    vectors of i.i.d. samples are direction-unbiased), and exact under
    the shared decimal arithmetic, so the sign test never straddles an
    engine-rounding boundary.

    Scale shape: signatures are one broadcast join (hyperplanes are
    RP_BITS×dim) + one groupBy per vector — O(corpus) with no
    corpus-sized shuffle wider than (vec_id, bucket). The candidate join
    shuffles bucket-ids only; the exact-rescore touches candidates, not
    the corpus. For 10⁹ vectors you'd raise RP_BITS so bucket occupancy
    stays ~constant (bits ≈ log2(N / target_bucket_size)).

    The registered query runs the pinned module constants through the
    same fragment as the parameterized :func:`rp_lsh_candidates` (the
    ladder tool and the auto-bits path)."""
    comp = temp_view_for(_components(spark, sf_dir), "comp")
    return spark.sql(_cosine_sql(comp, _sub(_rp_lsh_sql(comp)), 3))


def rp_lsh_candidates(
    comp: DataFrame,
    bits: int | None = RP_BITS,
    tables: int = RP_TABLES,
    radius: int = RP_PROBE_RADIUS,
) -> DataFrame:
    """(qid, vec_id) RP-LSH candidate pairs over a components frame —
    the parameterized kernel behind :func:`sim_rp_lsh_topk` (its module
    constants are the defaults). ``bits``/``tables``/``radius`` are THE
    scale dials: bits ≈ log2(N/occupancy) grows with the corpus so the
    probed bucket fraction tables·C(bits,≤radius)/2^bits collapses —
    tools/rp_ladder.py measures recall and candidate volume along that
    ladder (round-12 verdict #2) instead of leaving it prose math.

    ``bits=None`` applies the ladder's rule AUTOMATICALLY (round-13
    verdict watch #2): a bounded corpus count — one column-pruned MAX
    over dense vec_ids, the estimate+raise idiom — feeds
    :func:`rp_auto_bits`, so a grown corpus gets a wider signature
    without anyone re-picking the constant. The registered query keeps
    the pinned ``RP_BITS`` rung (its DuckDB oracle bakes the same
    constant); the auto path is for production corpora whose size the
    caller does not know at authoring time."""
    if bits is None:
        n_vectors = int(
            comp.select("vec_id").agg(F.max("vec_id")).first()[0] or 0
        ) + 1
        bits = rp_auto_bits(n_vectors, tables)
    return comp.sparkSession.sql(
        _rp_lsh_sql(temp_view_for(comp, "comp"), bits, tables, radius)
    )


SIM_RP_LSH_ORACLE = _COMP_CTES + f""",
src AS (SELECT vec_id // {2 * RP_BITS} AS t, vec_id % {2 * RP_BITS} AS r, idx, val
        FROM comp WHERE vec_id < {RP_TABLES * 2 * RP_BITS}),
ha AS (SELECT t, r AS h, idx, val AS av FROM src WHERE r < {RP_BITS}),
hb AS (SELECT t, r - {RP_BITS} AS h, idx, val AS bv FROM src WHERE r >= {RP_BITS}),
hyper AS (SELECT t, h, idx, av - bv AS hval FROM ha JOIN hb USING (t, h, idx)),
proj AS (
  SELECT comp.vec_id, t, h, CAST(SUM(val * hval) AS DECIMAL(38,18)) AS p
  FROM comp JOIN hyper USING (idx) GROUP BY comp.vec_id, t, h
),
bucket AS (
  SELECT vec_id, t,
         CAST(SUM(CASE WHEN p > 0 THEN (CAST(1 AS BIGINT) << h) ELSE 0 END) AS BIGINT) AS bucket
  FROM proj GROUP BY vec_id, t
),
variants AS (
  SELECT b.vec_id AS qid, b.t, xor(b.bucket, CAST(m.m AS BIGINT)) AS bucket
  FROM bucket b, (SELECT UNNEST({RP_PROBE_MASKS}) AS m) m
  WHERE b.vec_id < {N_QUERIES}
),
candidates AS (
  SELECT DISTINCT v.qid, b.vec_id
  FROM bucket b JOIN variants v USING (t, bucket)
  WHERE b.vec_id <> v.qid
),
q AS (SELECT vec_id AS qid, idx, val AS qval FROM comp WHERE vec_id < {N_QUERIES}),
dots AS (
  SELECT c.qid, c.vec_id, CAST(SUM(comp.val * q.qval) AS DECIMAL(38,18)) AS dot
  FROM candidates c
  JOIN comp ON comp.vec_id = c.vec_id
  JOIN q ON q.qid = c.qid AND q.idx = comp.idx
  GROUP BY c.qid, c.vec_id
),
ranked AS (
  SELECT qid, dots.vec_id AS neighbor_id,
         CAST(CAST(dot AS DOUBLE) / (sqrt(CAST(qn.n2 AS DOUBLE)) * sqrt(CAST(nn.n2 AS DOUBLE))) AS DECIMAL(10,8)) AS cosine
  FROM dots
  JOIN norms qn ON qn.vec_id = dots.qid
  JOIN norms nn ON nn.vec_id = dots.vec_id
)
SELECT qid, rank, neighbor_id, cosine FROM (
  SELECT qid, neighbor_id, cosine,
         CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
  FROM ranked
) WHERE rank <= 3
"""


def dedup_embedding_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: cosine ≥ NEARDUP_COS among same-label
    blocks (label blocking bounds the pair space, the same trick as LSH
    bands; at scale the block key comes from a coarse quantizer)."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    comp = _components(spark, sf_dir)
    # emb (one label row per vector) and the norms are corpus-cardinality
    # — never force-broadcast them; the join keys (vec_id, then va/vb)
    # are the existing shuffle keys.
    labeled = comp.join(emb, "vec_id")
    a = labeled.alias("a")
    b = labeled.alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.idx") == F.col("b.idx"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .groupBy(F.col("a.vec_id").alias("va"), F.col("b.vec_id").alias("vb"))
        .agg(F.sum(F.col("a.val") * F.col("b.val")).alias("dot"))
    )
    pairs = _pair_cosine_sql(temp_view_for(dots, "pair_dots"), temp_view_for(comp, "comp"))
    return (
        spark.sql(pairs)
        .select(F.col("va").alias("d1"), F.col("vb").alias("d2"), "cosine")
        .filter(F.col("cosine") >= NEARDUP_COS)
    )


DEDUP_EMB_ORACLE = _COMP_CTES + f""",
labeled AS (
  SELECT comp.vec_id, idx, val, label FROM comp JOIN embeddings USING (vec_id)
),
dots AS (
  SELECT a.vec_id AS d1, b.vec_id AS d2,
         CAST(SUM(a.val * b.val) AS DECIMAL(38,18)) AS dot
  FROM labeled a JOIN labeled b
    ON a.label = b.label AND a.idx = b.idx AND a.vec_id < b.vec_id
  GROUP BY 1, 2
)
SELECT d1, d2,
       CAST(CAST(dot AS DOUBLE) / (sqrt(CAST(n1.n2 AS DOUBLE)) * sqrt(CAST(nn2.n2 AS DOUBLE))) AS DECIMAL(10,8)) AS cosine
FROM dots
JOIN norms n1 ON n1.vec_id = d1
JOIN norms nn2 ON nn2.vec_id = d2
WHERE CAST(CAST(dot AS DOUBLE) / (sqrt(CAST(n1.n2 AS DOUBLE)) * sqrt(CAST(nn2.n2 AS DOUBLE))) AS DECIMAL(10,8)) >= {NEARDUP_COS}
"""


#: Fixed symmetric int8 scale — valid while |component| ≤ 1.0 (the
#: quantizer asserts this via max_abs_q ≤ QUANT_SCALE in its test).
QUANT_SCALE = 127


def emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector maintenance pass a production ANN index needs: fixed-scale
    symmetric int8 quantization summary per vector (n_dims, quantized L2
    norm, Σq, Σ|q|, nnz, max|q|).

    Engine-portability: the quantizer is ``floor(x·127 + 0.5)`` computed
    ENTIRELY in exact double arithmetic — a float32 payload has a 24-bit
    mantissa, so x·127 is exact in double (31 < 53 bits), +0.5 is exact,
    and floor is deterministic; no decimal rounding anywhere, hence no
    tie whose direction the engines could disagree on (a float→
    DECIMAL(18,9) formulation hit exactly such a tie at sf0.1). The norm
    is derived from the quantized integers: sqrt(Σq²)/127 — Σq² is an
    exact int64, and sqrt/divide are correctly-rounded IEEE ops in both
    engines. Scale shape: one narrow explode + one groupBy on vec_id —
    linear, one shuffle."""
    emb = load_table(spark, sf_dir, "embeddings")
    comp = emb.select("vec_id", F.explode("embedding").alias("fval"))
    q = comp.select(
        "vec_id",
        F.floor(F.col("fval").cast("double") * QUANT_SCALE + F.lit(0.5))
        .cast("bigint")
        .alias("q"),
    )
    agg = q.groupBy("vec_id").agg(
        F.count("*").cast("bigint").alias("n_dims"),
        F.sum(F.col("q") * F.col("q")).alias("sq"),
        F.sum("q").cast("bigint").alias("sum_q"),
        F.sum(F.abs("q")).cast("bigint").alias("sum_abs_q"),
        F.count(F.when(F.col("q") != 0, 1)).alias("nnz_q"),
        F.max(F.abs("q")).cast("bigint").alias("max_abs_q"),
    )
    return agg.select(
        "vec_id",
        "n_dims",
        (F.sqrt(F.col("sq").cast("double")) / QUANT_SCALE).alias("l2_norm_q8"),
        "sum_q",
        "sum_abs_q",
        "nnz_q",
        "max_abs_q",
    )


EMB_QUANT_ORACLE = f"""
WITH q AS (
  SELECT vec_id,
         CAST(floor(CAST(x AS DOUBLE) * {QUANT_SCALE} + 0.5) AS BIGINT) AS q
  FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings)
)
SELECT vec_id, COUNT(*) AS n_dims,
       sqrt(CAST(SUM(q * q) AS DOUBLE)) / {QUANT_SCALE} AS l2_norm_q8,
       CAST(SUM(q) AS BIGINT) AS sum_q,
       CAST(SUM(abs(q)) AS BIGINT) AS sum_abs_q,
       COUNT(CASE WHEN q <> 0 THEN 1 END) AS nnz_q,
       CAST(MAX(abs(q)) AS BIGINT) AS max_abs_q
FROM q
GROUP BY vec_id
"""


ANN_EVAL_K = 3  # matches the bucketed paths' k


def sim_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN index quality gate: recall@k of BOTH bucketed paths (IVF,
    RP-LSH) against brute-force ground truth, per query. The operator a
    production pipeline runs before trusting an index — approximate
    search without a measured recall is a silent-quality bug, not a
    speedup.

    Emits (method, qid, hits, recall_at_3): hits = |approx ∩ truth| at
    k=3; queries the bucketed path missed entirely still appear with 0.

    Scale shape: ground truth is the expensive part by definition
    (exact top-k), so at corpus scale this runs over a SAMPLED query
    set — the qid < N_QUERIES block here — never all queries; the
    sampled truth is one brute-force pass, the approx sides reuse the
    index's own search path unchanged, and the comparison is a
    per-query semi-join over k-row sets."""
    truth = (
        sim_topk_bruteforce(spark, sf_dir)
        .filter(F.col("rank") <= ANN_EVAL_K)
        .select("qid", "neighbor_id")
    )
    qids = truth.select("qid").distinct()
    out = None
    for method, fn in (
        ("ivf", sim_ivf_topk),
        ("rp_lsh", sim_rp_lsh_topk),
        ("pq_adc", sim_pq_adc_topk),
        ("ivf_pq", sim_ivf_pq_topk),
    ):
        approx = (
            fn(spark, sf_dir)
            .filter(F.col("rank") <= ANN_EVAL_K)
            .select("qid", "neighbor_id")
        )
        hits = (
            truth.join(approx, ["qid", "neighbor_id"], "left_semi")
            .groupBy("qid")
            .agg(F.count("*").alias("hits"))
        )
        m = qids.join(hits, "qid", "left").select(
            F.lit(method).alias("method"),
            "qid",
            F.coalesce("hits", F.lit(0)).cast("bigint").alias("hits"),
            (F.coalesce("hits", F.lit(0)) / F.lit(ANN_EVAL_K))
            .cast("double")
            .alias("recall_at_3"),
        )
        out = m if out is None else out.unionByName(m)
    return out


SEM_CELLS = 32       # semantic-dedup cell FLOOR (see SEM_TARGET_OCC)
SEM_TARGET_OCC = 64  # target vectors per cell: cells = max(SEM_CELLS, N/OCC)
SEMDEDUP_COS = 0.35  # semantic near-dup threshold (fixture within-cell p99 ~ 0.32)


def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space, compare vectors ONLY
    within their cluster, and drop any vector whose within-cluster cosine
    to a lower-id vector exceeds SEMDEDUP_COS. Returns every vector with
    its cell and a ``kept`` verdict — the semantic analogue of
    ``dedup_fuzzy_corpus``'s canonical-corpus output.

    The cell set here is the first SEM_CELLS vectors (the same
    deterministic stand-in as sim_ivf_topk, so the operator is
    SQL-oracle-able); in production you'd feed ``train_ivf_centroids``'s
    k-means cells instead — the search topology is identical.

    100-TB shape: assignment is one broadcast join (centroids are
    k x dim) + one groupBy; the pairwise stage shuffles on (cell, idx)
    so each vector's components meet only its own cell's — the
    quadratic is bounded per cell at occupancy^2, and k SCALES WITH THE
    CORPUS: k = max(SEM_CELLS, N / SEM_TARGET_OCC), derived from the
    same COUNT in both engines, holding cell occupancy (and
    cost-per-vector) constant as N grows. Measured: the 10x rehearsal
    corpus (20k vectors) ran 34 s with k pinned at 32 (occupancy 625)
    and ~6 s with this rule (k=312, occupancy ~64) — PERFORMANCE.md.
    The corpus-sized frames never self-join globally."""
    comp = _components(spark, sf_dir)
    comp_v = temp_view_for(comp, "comp")
    emb = temp_view_for(load_table(spark, sf_dir, "embeddings"), "embeddings")
    k_cells = f"GREATEST({SEM_CELLS}, (SELECT COUNT(*) FROM {emb}) DIV {SEM_TARGET_OCC})"
    d2 = _sub(_ivf_d2_sql(comp_v, _sub(_ivf_cent_sql(comp_v, k_cells))))
    # cached: (vec_id, cell) is two narrow columns — O(N) rows, and it
    # feeds BOTH sides of the within-cell self-join below; uncached the
    # whole assignment subtree (broadcast join + agg + window) runs twice
    assign = spark.sql(_ivf_assign_sql(d2)).cache()
    mem = comp.join(assign, "vec_id")
    # In-cell dots in explode form (see _pair_cosine_sql): each (cell,
    # idx) bucket becomes one array whose in-bucket cross product the
    # (va < vb) filter halves. The arrays are bounded by design: the
    # k = max(SEM_CELLS, N/SEM_TARGET_OCC) rule pins cell occupancy at
    # ~SEM_TARGET_OCC regardless of corpus size.
    cellarr = mem.groupBy("cell", "idx").agg(
        F.collect_list(F.struct("vec_id", "val")).alias("items")
    )
    dots = (
        cellarr.select(F.explode("items").alias("a"), "items")
        .select("a", F.explode("items").alias("b"))
        .filter(F.col("a.vec_id") < F.col("b.vec_id"))
        .groupBy(F.col("a.vec_id").alias("va"), F.col("b.vec_id").alias("vb"))
        .agg(F.sum(F.col("a.val") * F.col("b.val")).alias("dot"))
    )
    # drop the HIGHER id of every over-threshold pair: one deterministic
    # representative (the lowest id) survives each semantic-dup chain
    dropped = (
        spark.sql(_pair_cosine_sql(temp_view_for(dots, "pair_dots"), comp_v))
        .filter(F.col("cosine") >= SEMDEDUP_COS)
        .select(F.col("vb").alias("vec_id"))
        .distinct()
        .withColumn("is_dup", F.lit(True))
    )
    return (
        assign.join(dropped, "vec_id", "left")
        .select("vec_id", "cell", F.col("is_dup").isNull().alias("kept"))
    )


DEDUP_SEMANTIC_ORACLE = _COMP_CTES + f""",
cent AS (
  SELECT vec_id AS cid, idx, val AS cval FROM comp
  WHERE vec_id < GREATEST({SEM_CELLS},
                          (SELECT COUNT(*) FROM embeddings) // {SEM_TARGET_OCC})
),
d2 AS (
  SELECT vec_id, cid,
         CAST(SUM((val - cval) * (val - cval)) AS DECIMAL(38,18)) AS d2
  FROM comp JOIN cent USING (idx) GROUP BY vec_id, cid
),
assign AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM d2
  ) WHERE rn = 1
),
mem AS (SELECT c.vec_id, c.idx, c.val, a.cell FROM comp c JOIN assign a USING (vec_id)),
dots AS (
  SELECT a.vec_id AS va, b.vec_id AS vb, CAST(SUM(a.val * b.val) AS DECIMAL(38,18)) AS dot
  FROM mem a JOIN mem b ON a.cell = b.cell AND a.idx = b.idx AND a.vec_id < b.vec_id
  GROUP BY 1, 2
),
dropped AS (
  SELECT DISTINCT vb AS vec_id FROM (
    SELECT vb,
           CAST(CAST(dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS DECIMAL(10,8)) AS cosine
    FROM dots JOIN norms na ON na.vec_id = va JOIN norms nb ON nb.vec_id = vb
  ) WHERE cosine >= {SEMDEDUP_COS}
)
SELECT a.vec_id, a.cell, d.vec_id IS NULL AS kept
FROM assign a LEFT JOIN dropped d ON d.vec_id = a.vec_id
"""


PQ_BLOCKS = 8        # product quantization: subspaces per vector
PQ_CODEBOOK = 4      # centroids per subspace (codes 0..3 -> 2 bits/block)


# The PQ-ADC kernel, one text per stage in the style of the IVF builders
# above: codebook (cid, block, idx, cval) → codes (vec_id, block, code)
# and lookup table (qid, block, cid, t) → ADC scores. Spark's exploded
# idx is 0-based, so a block is idx / subdim.
_PQ_BLOCK = f"CAST(idx / {64 // PQ_BLOCKS} AS INT)"


def _pq_cb_sql(comp: str) -> str:
    """SELECT of (cid, block, idx, cval): the subvectors of the first
    PQ_CODEBOOK corpus vectors, the per-block codebook."""
    return (
        f"SELECT vec_id AS cid, {_PQ_BLOCK} AS block, idx, val AS cval "
        f"FROM {comp} WHERE vec_id < {PQ_CODEBOOK}"
    )


def _pq_codes_sql(comp: str, cb: str) -> str:
    """SELECT of (vec_id, block, code): every ``comp`` subvector's nearest
    codebook entry of ``cb`` by exact squared L2, ties on cid."""
    d2 = f"""SELECT /*+ BROADCAST(cb) */ c.vec_id, c.block, cb.cid,
       CAST(SUM((c.val - cb.cval) * (c.val - cb.cval)) AS DECIMAL(38,18)) AS d2
FROM (SELECT vec_id, {_PQ_BLOCK} AS block, idx, val FROM {comp}) c
JOIN {cb} cb ON cb.block = c.block AND cb.idx = c.idx
GROUP BY c.vec_id, c.block, cb.cid"""
    return f"""SELECT vec_id, block, cid AS code FROM (
  SELECT vec_id, block, cid,
         ROW_NUMBER() OVER (PARTITION BY vec_id, block ORDER BY d2 ASC, cid ASC) AS rn
  FROM {_sub(d2)}
) WHERE rn = 1"""


def _pq_lut_sql(comp: str, cb: str) -> str:
    """SELECT of (qid, block, cid, t): the per-query lookup table, each
    query subvector's exact dot with every codebook entry of its block.
    The join keeps ``block`` in its key: an idx-only join plans one more
    exchange."""
    q = (
        f"(SELECT vec_id AS qid, {_PQ_BLOCK} AS block, idx, val AS qval "
        f"FROM {comp} WHERE vec_id < {N_QUERIES})"
    )
    return f"""SELECT q.qid, cb.block, cb.cid, CAST(SUM(qval * cval) AS DECIMAL(38,18)) AS t
FROM {q} q JOIN {cb} cb ON cb.block = q.block AND cb.idx = q.idx
GROUP BY q.qid, cb.block, cb.cid"""


def _pq_stages(comp: str) -> tuple[str, str]:
    """The codes and lookup-table stages of PQ over ``comp`` (codebook
    from the corpus itself) as subqueries."""
    cb = _sub(_pq_cb_sql(comp))
    return _sub(_pq_codes_sql(comp, cb)), _sub(_pq_lut_sql(comp, cb))


def _pq_adc_sql(
    codes: str, lut: str, cand: str | None = None, n: int | None = None
) -> str:
    """SELECT of (qid, neighbor_id, adot): the ADC score of a corpus
    vector for a query, the SUM of the lookup-table entries its codes
    select. Without ``cand`` every vector of ``codes`` is scored against
    every query (flat ADC); with ``cand`` only the pairs it selects: a
    (qid, vec_id) candidate relation, or a (qid, cell) probe list over
    cell-partitioned codes — ``cand`` joins ``codes`` on the columns they
    share. With ``n``, (qid, rank, neighbor_id, adot) of the n best per
    query, ties on neighbor_id (the ADC shortlist)."""
    if cand is None:
        qid, pairs, on_qid = "lut.qid", f"{codes} c", ""
    else:
        qid, pairs = "s.qid", f"{cand} s NATURAL JOIN {codes} c"
        on_qid = "lut.qid = s.qid AND "
    scored = f"""SELECT qid, vec_id AS neighbor_id, CAST(SUM(t) AS DECIMAL(38,18)) AS adot
FROM (
  SELECT /*+ BROADCAST(lut) */ {qid}, c.vec_id, lut.t
  FROM {pairs}
  JOIN {lut} lut ON {on_qid}lut.block = c.block AND lut.cid = c.code
  WHERE c.vec_id != {qid}
)
GROUP BY qid, vec_id"""
    if n is None:
        return scored
    return f"""SELECT qid, rank, neighbor_id, adot FROM (
  SELECT qid, neighbor_id, adot,
         CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adot DESC, neighbor_id)
              AS BIGINT) AS rank
  FROM {_sub(scored)}
) WHERE rank <= {n}"""


def _pq_shortlist_sql(codes: str, lut: str, cand: str | None = None) -> str:
    """SELECT of (qid, vec_id): the ADC_SHORTLIST best ADC candidates per
    query, the candidate relation of the exact rescore."""
    adc = _sub(_pq_adc_sql(codes, lut, cand, ADC_SHORTLIST))
    return f"SELECT qid, neighbor_id AS vec_id FROM {adc}"


def emb_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization (Jegou et al. 2011): split each embedding
    into PQ_BLOCKS contiguous subvectors and encode each as the id of
    its nearest subspace centroid — compressing dim x float32 down to
    PQ_BLOCKS x log2(PQ_CODEBOOK) bits per vector (here 64x32 bits ->
    16 bits, x128). The memory layer under billion-vector ANN: IVF
    partitions the corpus, PQ codes make the in-cell scan fit in RAM,
    and lookup-table (ADC) scoring replaces float math at query time.

    Codebooks here are subvectors of the first PQ_CODEBOOK corpus
    vectors (the same deterministic k-means stand-in as sim_ivf_topk /
    dedup_semantic_clusters, keeping the operator SQL-oracle-able);
    `train_ivf_centroids` is the production trainer, run per subspace.

    100-TB shape: ONE broadcast join (codebook is
    PQ_BLOCKS x PQ_CODEBOOK x subdim — KBs) + one map-side-combined
    aggregation keyed (vec_id, block, cid) + an argmin window over
    PQ_CODEBOOK rows per key. The corpus shuffles only its exploded
    components once; emitted codes are 3 small ints per block."""
    comp = temp_view_for(_components(spark, sf_dir), "comp")
    return spark.sql(_pq_codes_sql(comp, _sub(_pq_cb_sql(comp))))


# DuckDB's comp CTE is 1-based (generate_series(1, len)); Spark's
# posexplode is 0-based — the block derivation subtracts 1 so both
# engines slice identical 8-component subvectors.
EMB_PQ_ORACLE = _COMP_CTES + f""",
comp2 AS (
  SELECT vec_id, idx, val, CAST(((idx - 1) // {64 // PQ_BLOCKS}) AS INT) AS block FROM comp
),
cb AS (
  SELECT vec_id AS cid, block, idx, val AS cval FROM comp2 WHERE vec_id < {PQ_CODEBOOK}
),
d2 AS (
  SELECT c.vec_id, c.block, cb.cid,
         CAST(SUM((c.val - cb.cval) * (c.val - cb.cval)) AS DECIMAL(38,18)) AS d2
  FROM comp2 c JOIN cb ON cb.block = c.block AND cb.idx = c.idx
  GROUP BY 1, 2, 3
)
SELECT vec_id, block, cid AS code FROM (
  SELECT vec_id, block, cid,
         ROW_NUMBER() OVER (PARTITION BY vec_id, block ORDER BY d2, cid) AS rn
  FROM d2
) WHERE rn = 1
"""


def _pq_adc_scores(comp: DataFrame, candidates: DataFrame | None = None) -> DataFrame:
    """(qid, neighbor_id, adot DECIMAL(38,18)) — ADC scores via per-query
    lookup tables (:func:`_pq_adc_sql`). Without ``candidates``, every
    corpus vector is scored against every query (flat ADC); with a
    (qid, vec_id) candidate frame (e.g. IVF cell pruning), only those
    pairs are scored — the scan touches codes of in-cell vectors only."""
    comp_v = temp_view_for(comp, "comp")
    cand = None if candidates is None else temp_view_for(candidates, "cand")
    return comp.sparkSession.sql(_pq_adc_sql(*_pq_stages(comp_v), cand))


def sim_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes — the query side of
    the FAISS IVF-ADC architecture: the RAW query meets only the
    compressed corpus. Per query, a lookup table of the query-subvector
    dot product with every subspace centroid (PQ_BLOCKS x PQ_CODEBOOK
    entries); a candidate's approximate dot is the SUM of table entries
    selected by its codes — no float math against corpus vectors at all.

    100-TB shape: the tables are N_QUERIES x PQ_BLOCKS x PQ_CODEBOOK
    rows (KBs, broadcast); the scan side touches only the code columns
    (3 small ints per block — the 128x-compressed representation), and
    the shuffle reduces (qid, vec_id) partial sums. Combined with IVF
    cell pruning this is how a billion-vector search fits one machine's
    scan budget. Ranking is on the EXACT decimal approximate dot (the
    arithmetic is decimal end to end), ties on neighbor_id; the score is
    emitted as the decimal's canonical string because an 8-dp rounding
    cut can land exactly on a .5 tie that Spark (HALF_UP) and DuckDB
    resolve differently — observed at sf0.01 — while the exact value
    needs no rounding at all."""
    comp = temp_view_for(_components(spark, sf_dir), "comp")
    top = _sub(_pq_adc_sql(*_pq_stages(comp), n=TOP_K))
    return spark.sql(
        f"SELECT qid, rank, neighbor_id, CAST(adot AS STRING) AS approx_dot FROM {top}"
    )


SIM_PQ_ADC_ORACLE = _COMP_CTES + f""",
comp2 AS (
  SELECT vec_id, idx, val, CAST(((idx - 1) // {64 // PQ_BLOCKS}) AS INT) AS block FROM comp
),
cb AS (
  SELECT vec_id AS cid, block, idx, val AS cval FROM comp2 WHERE vec_id < {PQ_CODEBOOK}
),
d2 AS (
  SELECT c.vec_id, c.block, cb.cid,
         CAST(SUM((c.val - cb.cval) * (c.val - cb.cval)) AS DECIMAL(38,18)) AS d2
  FROM comp2 c JOIN cb ON cb.block = c.block AND cb.idx = c.idx
  GROUP BY 1, 2, 3
),
codes AS (
  SELECT vec_id, block, cid AS code FROM (
    SELECT vec_id, block, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id, block ORDER BY d2, cid) AS rn
    FROM d2
  ) WHERE rn = 1
),
q AS (
  SELECT vec_id AS qid, block, idx, val AS qval FROM comp2 WHERE vec_id < {N_QUERIES}
),
tbl AS (
  SELECT qid, q.block, cb.cid, CAST(SUM(qval * cval) AS DECIMAL(38,18)) AS t
  FROM q JOIN cb ON cb.block = q.block AND cb.idx = q.idx
  GROUP BY 1, 2, 3
),
approx AS (
  SELECT qid, codes.vec_id AS neighbor_id,
         CAST(SUM(t) AS DECIMAL(38,18)) AS adot
  FROM codes JOIN tbl ON tbl.block = codes.block AND tbl.cid = codes.code
  WHERE codes.vec_id <> qid
  GROUP BY 1, 2
)
SELECT qid, rank, neighbor_id, approx_dot FROM (
  SELECT qid, neighbor_id, CAST(adot AS VARCHAR) AS approx_dot,
         CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adot DESC, neighbor_id) AS BIGINT) AS rank
  FROM approx
) WHERE rank <= {TOP_K}
"""


# Rescored ADC: candidates fed to the exact rescore. Measured recall@3
# at sf0.1 (2000 vectors) vs shortlist depth: 10 -> 0.33, 25 -> 0.47,
# 50 -> 0.67, 100 -> 0.73 (raw ADC with no rescore: 0.20). 50 exact-
# scores 2.5% of this corpus; at scale the ratio is the tuning knob.
ADC_SHORTLIST = 50


def sim_pq_adc_rescore_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC with exact rescoring — the production form of PQ search and
    the documented remedy for the raw ADC path's measured recall (0.20
    at sf0.1 with 2-bit codebooks): the compressed scan produces an
    ADC_SHORTLIST-deep candidate list per query, then ONLY those
    candidates are scored at exact decimal cosine (the same
    ``_cosine_sql`` rescore as IVF and RP-LSH).

    100-TB shape: the expensive exact pass touches
    N_QUERIES x ADC_SHORTLIST vectors no matter how large the corpus —
    the corpus itself is only ever read as codes."""
    comp = temp_view_for(_components(spark, sf_dir), "comp")
    shortlist = _sub(_pq_shortlist_sql(*_pq_stages(comp)))
    return spark.sql(_cosine_sql(comp, shortlist, ANN_EVAL_K))


SIM_PQ_ADC_RESCORE_ORACLE = _COMP_CTES + f""",
comp2 AS (
  SELECT vec_id, idx, val, CAST(((idx - 1) // {64 // PQ_BLOCKS}) AS INT) AS block FROM comp
),
cb AS (
  SELECT vec_id AS cid, block, idx, val AS cval FROM comp2 WHERE vec_id < {PQ_CODEBOOK}
),
pqd2 AS (
  SELECT c.vec_id, c.block, cb.cid,
         CAST(SUM((c.val - cb.cval) * (c.val - cb.cval)) AS DECIMAL(38,18)) AS d2
  FROM comp2 c JOIN cb ON cb.block = c.block AND cb.idx = c.idx
  GROUP BY 1, 2, 3
),
codes AS (
  SELECT vec_id, block, cid AS code FROM (
    SELECT vec_id, block, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id, block ORDER BY d2, cid) AS rn
    FROM pqd2
  ) WHERE rn = 1
),
qq AS (
  SELECT vec_id AS qid, block, idx, val AS qval FROM comp2 WHERE vec_id < {N_QUERIES}
),
tbl AS (
  SELECT qid, qq.block, cb.cid, CAST(SUM(qval * cval) AS DECIMAL(38,18)) AS t
  FROM qq JOIN cb ON cb.block = qq.block AND cb.idx = qq.idx
  GROUP BY 1, 2, 3
),
shortlist AS (
  SELECT qid, vec_id FROM (
    SELECT qid, codes.vec_id,
           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY SUM(t) DESC, codes.vec_id) AS rn
    FROM codes JOIN tbl ON tbl.block = codes.block AND tbl.cid = codes.code
    WHERE codes.vec_id <> qid
    GROUP BY qid, codes.vec_id
  ) WHERE rn <= {ADC_SHORTLIST}
),
q AS (SELECT vec_id AS qid, idx, val AS qval FROM comp WHERE vec_id < {N_QUERIES}),
dots AS (
  SELECT s.qid, s.vec_id, CAST(SUM(comp.val * q.qval) AS DECIMAL(38,18)) AS dot
  FROM shortlist s
  JOIN comp ON comp.vec_id = s.vec_id
  JOIN q ON q.qid = s.qid AND q.idx = comp.idx
  GROUP BY s.qid, s.vec_id
),
ranked AS (
  SELECT qid, dots.vec_id AS neighbor_id,
         CAST(CAST(dot AS DOUBLE) / (sqrt(CAST(qn.n2 AS DOUBLE)) * sqrt(CAST(nn.n2 AS DOUBLE))) AS DECIMAL(10,8)) AS cosine
  FROM dots
  JOIN norms qn ON qn.vec_id = dots.qid
  JOIN norms nn ON nn.vec_id = dots.vec_id
)
SELECT qid, rank, neighbor_id, cosine FROM (
  SELECT qid, neighbor_id, cosine,
         CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
  FROM ranked
) WHERE rank <= {ANN_EVAL_K}
"""


def _ivf_pq_ranked(spark: SparkSession, comp: DataFrame, k: int) -> DataFrame:
    """(qid, rank, neighbor_id, cosine): the k best per query of the
    composed IVF → PQ-ADC → exact-rescore chain (the sim_ivf_pq_topk
    pipeline) as ONE ``spark.sql`` over the shared builders — the IVF
    candidates (:func:`_ivf_cand_sql`) are ADC-scored from their codes,
    the ADC_SHORTLIST best per query (:func:`_pq_shortlist_sql`) are
    rescored at exact cosine (:func:`_cosine_sql`)."""
    comp = temp_view_for(comp, "comp")
    shortlist = _pq_shortlist_sql(*_pq_stages(comp), _sub(_ivf_cand_sql(comp)))
    return spark.sql(_cosine_sql(comp, _sub(shortlist), k))


def sim_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF + PQ-ADC + exact rescore composed — the full billion-scale
    ANN architecture (FAISS IVFADC, Jegou et al. 2011): coarse cells
    prune the corpus to N_PROBE/N_CENTROIDS of its vectors, the ADC
    lookup-table scan scores ONLY in-cell candidates against the
    compressed codes, and the exact decimal cosine touches just the
    ADC_SHORTLIST survivors per query.

    100-TB shape: per query the work is (cells probed × cell size)
    code-column rows + ADC_SHORTLIST full vectors — both independent of
    corpus size; the corpus is read once to build codes and cell
    assignments, both of which persist as bucketed artifacts in a real
    deployment. The chain is :func:`_ivf_pq_ranked`: one ``spark.sql``
    over the IVF, PQ-ADC and exact-cosine builders that every other
    IVF, ADC and rescore path nests too.

    Measured mean recall@3 at sf0.01 (sim_ann_recall): ivf_pq 0.867 —
    vs 0.267 for the flat un-rescored ADC scan (the exact rescore is
    what recovers quality) and 0.933 for exact-scored IVF (the 2-bit
    PQ compression costs ~0.07 recall for a code-only corpus scan)."""
    return _ivf_pq_ranked(spark, _components(spark, sf_dir), ANN_EVAL_K)


# Shared through `ranked` so the MMR-ANN oracle can reuse the exact
# IVF+PQ+rescore chain with a different final top-k (round 8).
_IVF_PQ_RANKED_CTES = _COMP_CTES + f""",
cent AS (SELECT vec_id AS cid, idx, val AS cval FROM comp WHERE vec_id < {N_CENTROIDS}),
celld2 AS (
  SELECT vec_id, cid, CAST(SUM((val - cval) * (val - cval)) AS DECIMAL(38,18)) AS d2
  FROM comp JOIN cent USING (idx) GROUP BY vec_id, cid
),
assign AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM celld2
  ) WHERE rn = 1
),
probes AS (
  SELECT vec_id AS qid, cid AS cell FROM (
    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
    FROM celld2 WHERE vec_id < {N_QUERIES}
  ) WHERE rn <= {N_PROBE}
),
candidates AS (
  SELECT qid, vec_id FROM assign JOIN probes USING (cell) WHERE vec_id <> qid
),
comp2 AS (
  SELECT vec_id, idx, val, CAST(((idx - 1) // {64 // PQ_BLOCKS}) AS INT) AS block FROM comp
),
cb AS (SELECT vec_id AS cid, block, idx, val AS cval FROM comp2 WHERE vec_id < {PQ_CODEBOOK}),
pqd2 AS (
  SELECT c.vec_id, c.block, cb.cid,
         CAST(SUM((c.val - cb.cval) * (c.val - cb.cval)) AS DECIMAL(38,18)) AS d2
  FROM comp2 c JOIN cb ON cb.block = c.block AND cb.idx = c.idx
  GROUP BY 1, 2, 3
),
codes AS (
  SELECT vec_id, block, cid AS code FROM (
    SELECT vec_id, block, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id, block ORDER BY d2, cid) AS rn
    FROM pqd2
  ) WHERE rn = 1
),
qq AS (SELECT vec_id AS qid, block, idx, val AS qval FROM comp2 WHERE vec_id < {N_QUERIES}),
tbl AS (
  SELECT qid, qq.block, cb.cid, CAST(SUM(qval * cval) AS DECIMAL(38,18)) AS t
  FROM qq JOIN cb ON cb.block = qq.block AND cb.idx = qq.idx
  GROUP BY 1, 2, 3
),
shortlist AS (
  SELECT qid, vec_id FROM (
    SELECT ca.qid, ca.vec_id,
           ROW_NUMBER() OVER (PARTITION BY ca.qid ORDER BY SUM(t) DESC, ca.vec_id) AS rn
    FROM candidates ca
    JOIN codes ON codes.vec_id = ca.vec_id
    JOIN tbl ON tbl.qid = ca.qid AND tbl.block = codes.block AND tbl.cid = codes.code
    GROUP BY ca.qid, ca.vec_id
  ) WHERE rn <= {ADC_SHORTLIST}
),
q AS (SELECT vec_id AS qid, idx, val AS qval FROM comp WHERE vec_id < {N_QUERIES}),
dots AS (
  SELECT s.qid, s.vec_id, CAST(SUM(comp.val * q.qval) AS DECIMAL(38,18)) AS dot
  FROM shortlist s
  JOIN comp ON comp.vec_id = s.vec_id
  JOIN q ON q.qid = s.qid AND q.idx = comp.idx
  GROUP BY s.qid, s.vec_id
),
ranked AS (
  SELECT qid, dots.vec_id AS neighbor_id,
         CAST(CAST(dot AS DOUBLE) / (sqrt(CAST(qn.n2 AS DOUBLE)) * sqrt(CAST(nn.n2 AS DOUBLE))) AS DECIMAL(10,8)) AS cosine
  FROM dots
  JOIN norms qn ON qn.vec_id = dots.qid
  JOIN norms nn ON nn.vec_id = dots.vec_id
)"""

SIM_IVF_PQ_ORACLE = _IVF_PQ_RANKED_CTES + f"""
SELECT qid, rank, neighbor_id, cosine FROM (
  SELECT qid, neighbor_id, cosine,
         CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
  FROM ranked
) WHERE rank <= {ANN_EVAL_K}
"""


# Recall gate oracle: all FOUR approximate paths (IVF, RP-LSH, flat
# PQ-ADC, and the composed IVF+PQ+rescore), composed from their oracles
# as subqueries (DuckDB allows CTEs inside parenthesized subqueries), so
# the ground truth and approx sides are the EXACT oracles the individual
# entries already match. Defined below the oracles it composes.
SIM_ANN_RECALL_ORACLE = f"""
WITH bf AS (
  SELECT qid, neighbor_id FROM ({SIM_TOPK_ORACLE}) WHERE rank <= {ANN_EVAL_K}
),
ivf AS (SELECT qid, neighbor_id FROM ({SIM_IVF_ORACLE}) WHERE rank <= {ANN_EVAL_K}),
rp AS (SELECT qid, neighbor_id FROM ({SIM_RP_LSH_ORACLE}) WHERE rank <= {ANN_EVAL_K}),
adc AS (SELECT qid, neighbor_id FROM ({SIM_PQ_ADC_ORACLE}) WHERE rank <= {ANN_EVAL_K}),
ivfpq AS (SELECT qid, neighbor_id FROM ({SIM_IVF_PQ_ORACLE}) WHERE rank <= {ANN_EVAL_K}),
qids AS (SELECT DISTINCT qid FROM bf),
ivf_hits AS (
  SELECT bf.qid, COUNT(*) AS hits FROM bf
  WHERE EXISTS (SELECT 1 FROM ivf WHERE ivf.qid = bf.qid AND ivf.neighbor_id = bf.neighbor_id)
  GROUP BY bf.qid
),
rp_hits AS (
  SELECT bf.qid, COUNT(*) AS hits FROM bf
  WHERE EXISTS (SELECT 1 FROM rp WHERE rp.qid = bf.qid AND rp.neighbor_id = bf.neighbor_id)
  GROUP BY bf.qid
),
adc_hits AS (
  SELECT bf.qid, COUNT(*) AS hits FROM bf
  WHERE EXISTS (SELECT 1 FROM adc WHERE adc.qid = bf.qid AND adc.neighbor_id = bf.neighbor_id)
  GROUP BY bf.qid
),
ivfpq_hits AS (
  SELECT bf.qid, COUNT(*) AS hits FROM bf
  WHERE EXISTS (SELECT 1 FROM ivfpq WHERE ivfpq.qid = bf.qid AND ivfpq.neighbor_id = bf.neighbor_id)
  GROUP BY bf.qid
)
SELECT 'ivf' AS method, qids.qid,
       CAST(COALESCE(ivf_hits.hits, 0) AS BIGINT) AS hits,
       CAST(COALESCE(ivf_hits.hits, 0) AS DOUBLE) / {ANN_EVAL_K} AS recall_at_3
FROM qids LEFT JOIN ivf_hits ON ivf_hits.qid = qids.qid
UNION ALL
SELECT 'rp_lsh' AS method, qids.qid,
       CAST(COALESCE(rp_hits.hits, 0) AS BIGINT) AS hits,
       CAST(COALESCE(rp_hits.hits, 0) AS DOUBLE) / {ANN_EVAL_K} AS recall_at_3
FROM qids LEFT JOIN rp_hits ON rp_hits.qid = qids.qid
UNION ALL
SELECT 'pq_adc' AS method, qids.qid,
       CAST(COALESCE(adc_hits.hits, 0) AS BIGINT) AS hits,
       CAST(COALESCE(adc_hits.hits, 0) AS DOUBLE) / {ANN_EVAL_K} AS recall_at_3
FROM qids LEFT JOIN adc_hits ON adc_hits.qid = qids.qid
UNION ALL
SELECT 'ivf_pq' AS method, qids.qid,
       CAST(COALESCE(ivfpq_hits.hits, 0) AS BIGINT) AS hits,
       CAST(COALESCE(ivfpq_hits.hits, 0) AS DOUBLE) / {ANN_EVAL_K} AS recall_at_3
FROM qids LEFT JOIN ivfpq_hits ON ivfpq_hits.qid = qids.qid
"""


MRL_DIMS = 16   # truncated-embedding search: leading dims kept


def sim_truncated_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated-dimension (Matryoshka-style) search: exact cosine
    top-k using only the LEADING MRL_DIMS components of every vector —
    the cheap first pass when embeddings were trained with
    importance-ordered dimensions (MRL, Kusupati et al. 2022). A 4x
    dim cut means 4x less scan, shuffle, and dot-product work; rescore
    survivors at full dim exactly like the ADC shortlist path.

    Spark's exploded idx is 0-based, DuckDB's 1-based — the truncation
    predicates (idx < k vs idx <= k) select the identical leading
    block. tests measure recall vs the full-dim truth."""
    comp = _components(spark, sf_dir).filter(F.col("idx") < MRL_DIMS)
    return spark.sql(_cosine_sql(temp_view_for(comp, "comp"), k=ANN_EVAL_K))


SIM_TRUNCATED_ORACLE = f"""
WITH comp AS (
  SELECT vec_id, i AS idx, CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(18,9)) AS val
  FROM embeddings, unnest(generate_series(1, len(embedding))) AS g(i)
  WHERE i <= {MRL_DIMS}
),
norms AS (
  SELECT vec_id, CAST(SUM(val * val) AS DECIMAL(38,18)) AS n2 FROM comp GROUP BY vec_id
),
q AS (SELECT vec_id AS qid, idx, val AS qval FROM comp WHERE vec_id < {N_QUERIES}),
dots AS (
  SELECT qid, vec_id, CAST(SUM(val * qval) AS DECIMAL(38,18)) AS dot
  FROM comp JOIN q USING (idx)
  WHERE vec_id <> qid
  GROUP BY qid, vec_id
),
ranked AS (
  SELECT qid, dots.vec_id AS neighbor_id,
         CAST(CAST(dot AS DOUBLE) / (sqrt(CAST(qn.n2 AS DOUBLE)) * sqrt(CAST(nn.n2 AS DOUBLE))) AS DECIMAL(10,8)) AS cosine
  FROM dots
  JOIN norms qn ON qn.vec_id = dots.qid
  JOIN norms nn ON nn.vec_id = dots.vec_id
)
SELECT qid, rank, neighbor_id, cosine FROM (
  SELECT qid, neighbor_id, cosine,
         CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
  FROM ranked
) WHERE rank <= {ANN_EVAL_K}
"""


def emb_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension feature health over the embedding corpus: count,
    mean, std, min, max for each of the 64 components — the profile a
    pipeline checks before training or indexing (a dead or exploding
    dimension shows up here first, and IVF/PQ both assume roughly
    comparable per-dim scales).

    Determinism: Σx and Σx² accumulate in exact decimal (order-free).
    Two engine quirks meet here: DuckDB's int128-decimal→double
    conversion is not correctly rounded above 2^53 (1-ulp divergence vs
    the JVM's BigDecimal), and DuckDB TRUNCATES decimal downcasts where
    Spark rounds HALF_UP — so neither a direct wide cast nor a
    downcast-then-convert is cross-engine stable. The stable route is
    decimal → STRING → double: both engines print the exact decimal
    canonically and parse strings to the correctly-rounded nearest
    double, giving bit-identical inputs to the identical mean/variance
    double arithmetic (variance clamped at zero against rounding
    residue).

    100-TB shape: ONE map-side-combined aggregation keyed on the
    64-value dim index — partial aggregation does the heavy lifting in
    the scan stage, and the final exchange moves 64 rows per partial."""
    comp = _components(spark, sf_dir)
    s = F.sum("val").cast("decimal(38,18)")
    s2 = F.sum(F.col("val") * F.col("val")).cast("decimal(38,18)")
    agg = comp.groupBy("idx").agg(
        F.count("*").cast("bigint").alias("n"),
        s.cast("string").cast("double").alias("s"),
        s2.cast("string").cast("double").alias("s2"),
        F.min("val").cast("double").alias("vmin"),
        F.max("val").cast("double").alias("vmax"),
    )
    mean = F.col("s") / F.col("n").cast("double")
    var = F.greatest(
        F.lit(0.0),
        F.col("s2") / F.col("n").cast("double") - mean * mean,
    )
    return agg.select(
        "idx", "n", mean.alias("mean"), F.sqrt(var).alias("std"), "vmin", "vmax"
    )


#  DuckDB's comp CTE is 1-based, Spark's posexplode 0-based — shift output
EMB_DIM_STATS_ORACLE = _COMP_CTES + """
SELECT CAST(idx - 1 AS INT) AS idx, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(CAST(CAST(SUM(val) AS DECIMAL(38,18)) AS VARCHAR) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS mean,
       sqrt(GREATEST(0.0,
         CAST(CAST(CAST(SUM(val * val) AS DECIMAL(38,18)) AS VARCHAR) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
         - (CAST(CAST(CAST(SUM(val) AS DECIMAL(38,18)) AS VARCHAR) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))
           * (CAST(CAST(CAST(SUM(val) AS DECIMAL(38,18)) AS VARCHAR) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))
       )) AS std,
       CAST(MIN(val) AS DOUBLE) AS vmin,
       CAST(MAX(val) AS DOUBLE) AS vmax
FROM comp GROUP BY idx
"""


SPECS = [
    QuerySpec("sim_topk_bruteforce", sim_topk_bruteforce, SIM_TOPK_ORACLE),
    QuerySpec("emb_dim_stats", emb_dim_stats, EMB_DIM_STATS_ORACLE),
    QuerySpec("sim_ivf_topk", sim_ivf_topk, SIM_IVF_ORACLE),
    QuerySpec("sim_rp_lsh_topk", sim_rp_lsh_topk, SIM_RP_LSH_ORACLE),
    QuerySpec("dedup_embedding_cosine_pairs", dedup_embedding_cosine_pairs, DEDUP_EMB_ORACLE),
    QuerySpec("emb_quantize_int8", emb_quantize_int8, EMB_QUANT_ORACLE),
    QuerySpec("sim_ann_recall", sim_ann_recall, SIM_ANN_RECALL_ORACLE),
    QuerySpec("dedup_semantic_clusters", dedup_semantic_clusters, DEDUP_SEMANTIC_ORACLE),
    QuerySpec("emb_pq_codes", emb_pq_codes, EMB_PQ_ORACLE),
    QuerySpec("sim_pq_adc_topk", sim_pq_adc_topk, SIM_PQ_ADC_ORACLE),
    QuerySpec("sim_pq_adc_rescore_topk", sim_pq_adc_rescore_topk, SIM_PQ_ADC_RESCORE_ORACLE),
    QuerySpec("sim_ivf_pq_topk", sim_ivf_pq_topk, SIM_IVF_PQ_ORACLE),
    QuerySpec("sim_truncated_topk", sim_truncated_topk, SIM_TRUNCATED_ORACLE),
]


def sim_topk_dense(spark: SparkSession, sf_dir: str, top_k: int = TOP_K) -> DataFrame:
    """Dense fast path: per-partition numpy matmul against the broadcast
    query block, emitting only each batch's local top-k per query before
    the global re-rank — the partial-top-k trick that keeps the shuffle
    O(batches × k) instead of O(corpus).

    Oracle-checked since round 8 (round-7 verdict #5) via the two-grid
    idiom: components snap to the 1e-9 grid (the same floor(x·1e9+0.5)
    used by ``_components``), and the final cosine snaps to the 1e-8
    grid — coarse enough to absorb the ~1e-15 relative difference
    between a BLAS float64 reduction and DuckDB's exact-decimal dot
    (residual boundary-flip probability ~1e-7 per value, same honest
    probabilistic argument as PageRank's PR_GRID). Ranking ties break on
    neighbor_id, and the LOCAL prune ranks by the identical
    (snapped desc, neighbor_id) key so the per-batch top-k provably
    contains the global top-k under the global order."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    def _grid9(a):
        return np.floor(a * 1e9 + 0.5) / 1e9

    emb = load_table(spark, sf_dir, "embeddings")
    q_rows = emb.filter(F.col("vec_id") < N_QUERIES).collect()
    qids = np.array([r["vec_id"] for r in q_rows])
    Q = _grid9(np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in q_rows]))
    q_norm = np.sqrt((Q * Q).sum(axis=1))

    out_schema = T.StructType([
        T.StructField("qid", T.LongType()),
        T.StructField("neighbor_id", T.LongType()),
        T.StructField("cosine", T.DoubleType()),
    ])

    def batches(it):
        for pdf in it:
            M = _grid9(
                np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
            )
            ids = pdf["vec_id"].to_numpy()
            m_norm = np.sqrt((M * M).sum(axis=1))
            sims = (M @ Q.T) / (m_norm[:, None] * q_norm[None, :])
            # snap to the 1e-8 grid BEFORE pruning: the local order must
            # be the global (and oracle) order or a boundary tie could be
            # pruned here yet win the global tie-break on neighbor_id
            sims = np.floor(sims * 1e8 + 0.5) / 1e8
            frames = []
            for j, qid in enumerate(qids):
                col = sims[:, j]
                mask = ids != qid
                cand_ids, cand_sims = ids[mask], col[mask]
                k = min(top_k, len(cand_ids))
                # local top-k only — bounded emit per batch; lexsort's
                # LAST key is primary: (-cosine, neighbor_id)
                order = np.lexsort((cand_ids, -cand_sims))[:k]
                frames.append(pd.DataFrame({
                    "qid": np.full(k, qid, dtype=np.int64),
                    "neighbor_id": cand_ids[order].astype(np.int64),
                    "cosine": cand_sims[order],
                }))
            yield pd.concat(frames, ignore_index=True)

    partials = emb.select("vec_id", "embedding").mapInPandas(batches, out_schema)
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        partials.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= top_k)
        .select("qid", "rank", "neighbor_id", "cosine")
    )


# The oracle replays the EXACT-decimal dot over the same 1e-9-gridded
# components (the _COMP_CTES shared with sim_topk_bruteforce), converts
# once to double, and snaps to the same 1e-8 cosine grid — identical
# operands → identical IEEE ops, up to the documented boundary-flip
# residual that the grid absorbs.
SIM_TOPK_DENSE_ORACLE = _COMP_CTES + f""",
q AS (SELECT vec_id AS qid, idx, val AS qval FROM comp WHERE vec_id < {N_QUERIES}),
dots AS (
  SELECT qid, vec_id, CAST(SUM(val * qval) AS DECIMAL(38,18)) AS dot
  FROM comp JOIN q USING (idx)
  WHERE vec_id <> qid
  GROUP BY qid, vec_id
),
ranked AS (
  SELECT qid, dots.vec_id AS neighbor_id,
         FLOOR(CAST(dot AS DOUBLE) / (sqrt(CAST(qn.n2 AS DOUBLE)) * sqrt(CAST(nn.n2 AS DOUBLE))) * 1e8 + 0.5) / 1e8 AS cosine
  FROM dots
  JOIN norms qn ON qn.vec_id = dots.qid
  JOIN norms nn ON nn.vec_id = dots.vec_id
)
SELECT qid, rank, neighbor_id, cosine FROM (
  SELECT qid, neighbor_id, cosine,
         CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
  FROM ranked
) WHERE rank <= {TOP_K}
"""


SPECS.append(QuerySpec("sim_topk_dense", sim_topk_dense, SIM_TOPK_DENSE_ORACLE))


def train_ivf_centroids(
    emb: DataFrame, k: int = N_CENTROIDS, iterations: int = 5, dim: int = 64
) -> list[list[float]]:
    """Lloyd's k-means over DataFrames — the principled IVF training step
    (sim_ivf_topk's oracle uses deterministic seed centroids; this
    float-path trainer is convergence-tested in pytest, and its
    exact-decimal registered twin :func:`emb_kmeans` is oracle-checked
    via unrolled CTE rounds — the emb_pca_direction discipline).

    Per iteration: one Spark job (assignment via an argmin over k
    broadcast-literal distance expressions + 64 avg aggregates); only the
    k×dim centroid matrix ever reaches the driver. Scale: O(iterations)
    passes over the corpus, no shuffle wider than k cells."""
    centroids = [
        list(r["embedding"])
        for r in emb.orderBy("vec_id").limit(k).collect()
    ]
    for _ in range(iterations):
        dists = F.array(
            *[
                F.aggregate(
                    F.zip_with(
                        "embedding",
                        F.array(*[F.lit(float(x)) for x in c]),
                        lambda x, y: (x - y) * (x - y),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                for c in centroids
            ]
        )
        assigned = emb.withColumn(
            "cell", F.array_position(dists, F.array_min(dists)) - 1
        )
        new_rows = (
            assigned.groupBy("cell")
            .agg(*[F.avg(F.col("embedding")[i]).alias(f"c{i}") for i in range(dim)])
            .collect()
        )
        by_cell = {int(r["cell"]): [r[f"c{i}"] for i in range(dim)] for r in new_rows}
        centroids = [by_cell.get(j, centroids[j]) for j in range(k)]
    return centroids


def kmeans_sse(emb: DataFrame, centroids: list[list[float]]) -> float:
    """Total within-cluster squared error for a centroid set."""
    dists = F.array(
        *[
            F.aggregate(
                F.zip_with(
                    "embedding",
                    F.array(*[F.lit(float(x)) for x in c]),
                    lambda x, y: (x - y) * (x - y),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            for c in centroids
        ]
    )
    return emb.select(F.array_min(dists).alias("d")).agg(F.sum("d")).collect()[0][0]


# ---------------------------------------------------------------------------
# Materialized ANN index: the production split of sim_ivf_pq_topk.
#
# The registered query rebuilds cells/codes in-query (what keeps it
# oracle-checkable); a deployment builds them ONCE and searches many
# times. build_ann_index persists every artifact; sim_ivf_pq_search
# answers queries touching only the probed cells' partitions (real
# partition pruning, plan-asserted in tests) + the shortlist vectors.


def build_ann_index(spark: SparkSession, sf_dir: str, index_dir: str) -> None:
    """Persist the IVF+PQ index artifacts for a corpus:

    * ``codes/``      — (vec_id, block, code) partitioned BY CELL, so a
      probe reads only its cells' files (hive partition pruning);
    * ``centroids/``  — the N_CENTROIDS coarse centroids (KBs);
    * ``codebook/``   — the PQ subspace codebook (KBs);
    * ``components/`` + ``norms/`` — exact vectors and squared norms
      for the shortlist rescore.

    One corpus read builds everything (cells and codes both derive from
    the same exploded components)."""
    comp = _components(spark, sf_dir)
    cent = _ivf_centroids(comp)
    assign = _ivf_assign(_ivf_cell_d2(comp, cent))
    comp_v = temp_view_for(comp, "comp")
    cb = spark.sql(_pq_cb_sql(comp_v))
    codes = spark.sql(_pq_codes_sql(comp_v, _sub(_pq_cb_sql(comp_v))))
    (
        partition_exchange(codes.join(assign, "vec_id"), "cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(f"{index_dir}/codes")
    )
    cent.write.mode("overwrite").parquet(f"{index_dir}/centroids")
    cb.write.mode("overwrite").parquet(f"{index_dir}/codebook")
    comp.write.mode("overwrite").parquet(f"{index_dir}/components")
    spark.sql(_norms_sql(comp_v)).write.mode("overwrite").parquet(f"{index_dir}/norms")


def sim_ivf_pq_search(spark: SparkSession, index_dir: str) -> DataFrame:
    """Search the materialized index for the standard query block
    (qid < N_QUERIES, taken from the stored components): probe the
    N_PROBE nearest cells per query, ADC-score ONLY the probed cells'
    codes — the scan carries a partition filter on ``cell``, so
    unprobed cells are never read — then exact-rescore the
    ADC_SHORTLIST survivors. Returns the same shape as the in-query
    sim_ivf_pq_topk and must agree with it row for row (tested)."""
    comp = spark.read.parquet(f"{index_dir}/components")
    d2 = _ivf_d2_sql(
        temp_view_for(comp.filter(F.col("vec_id") < N_QUERIES), "ivf_vectors"),
        temp_view_for(spark.read.parquet(f"{index_dir}/centroids"), "ivf_cent"),
    )
    probe_rows = spark.sql(  # N_QUERIES x N_PROBE — driver-sized
        _ivf_probes_sql(_sub(_ivf_cells_sql(_sub(d2))))
    ).collect()
    cells = sorted({r["cell"] for r in probe_rows})
    codes = temp_view_for(
        spark.read.parquet(f"{index_dir}/codes").filter(
            F.col("cell").isin(cells)  # static partition pruning
        ),
        "pq_codes",
    )
    probes = temp_view_for(
        F.broadcast(spark.createDataFrame(probe_rows, "qid BIGINT, cell BIGINT")),
        "ivf_probes",
    )
    cb = temp_view_for(spark.read.parquet(f"{index_dir}/codebook"), "pq_codebook")
    comp = temp_view_for(comp, "comp")
    # The probe collect and the STATIC cell partition filter above are
    # what the plan audit asserts prunes unprobed cells; the probe list
    # selects the in-cell codes through the ADC builder's candidate join
    # (shared column: cell). Pinned equal to sim_ivf_pq_topk in
    # test_sim_dense.py.
    shortlist = _pq_shortlist_sql(codes, _sub(_pq_lut_sql(comp, cb)), probes)
    return spark.sql(_cosine_sql(comp, _sub(shortlist), ANN_EVAL_K))


#: materialized index fixtures written this session — the write-once
#: discipline of the bucketed PageRank edges: one build per session,
#: every subsequent call searches the resident artifacts.
_ANN_INDEX_FIXTURES: set[tuple[str, str]] = set()


def sim_ann_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registered form of the build/search split (round-8): build
    the IVF+PQ index artifacts ONCE per session (cell-partitioned codes,
    centroids, codebook, exact components for rescore), then answer the
    standard query block from the resident index — the production shape
    at 100 TB, where the index is a maintained artifact and queries pay
    only the pruned probe. Must reproduce ``sim_ivf_pq_topk`` row for
    row (pytest-pinned in test_sim_dense.py), so it shares its DuckDB
    oracle; the code scan carries a static partition filter on cell
    (plan-asserted), so unprobed cells are never read."""
    import re as _re

    tag = _re.sub(r"[^0-9a-z]+", "_", sf_dir.strip("/").lower())
    # per-application path: two concurrent sessions must not race on one
    # index location (same reasoning as the bucketed PageRank fixture)
    app = _re.sub(r"[^0-9a-z]+", "_", spark.sparkContext.applicationId.lower())
    idx = f"/tmp/spark_graft_ann_index_{tag}_{app}"
    key = (spark.sparkContext.applicationId, idx)
    if key not in _ANN_INDEX_FIXTURES:
        build_ann_index(spark, sf_dir, idx)
        # best-effort removal of this process's own index tree at exit —
        # the components copy is corpus-sized, and per-app paths would
        # otherwise accumulate across sessions (round-8 review finding)
        import atexit
        import shutil

        atexit.register(shutil.rmtree, idx, True)
        _ANN_INDEX_FIXTURES.add(key)
    return sim_ivf_pq_search(spark, idx)


SPECS.append(QuerySpec("sim_ann_index_search", sim_ann_index_search, SIM_IVF_PQ_ORACLE))


PCA_ITERATIONS = 12  # power iteration rounds (fixed for determinism)


def emb_top_component(spark: SparkSession, sf_dir: str, iterations: int = PCA_ITERATIONS):
    """Leading principal direction of the (mean-centered) embedding
    corpus by POWER ITERATION — in-engine linear algebra in the same
    family as the closed-form OLS and the k-means trainer: per round,
    w = Xᵀ(Xv) via TWO map-side-combined aggregations over the exploded
    components, then a driver-side normalize of the dim-sized vector.
    Only O(dim) floats ever reach the driver per round; the corpus is
    never collected.

    Returns (vector list[float], eigenvalue estimate float). Iterative →
    not SQL-oracle-able; pinned against numpy's eigendecomposition in
    tests (direction up to sign) on a planted-spike corpus — power
    iteration converges at rate (λ2/λ1)^k, so the test plants a large
    eigengap; on an i.i.d. corpus (like the synthetic fixture) the gap
    is Marchenko-Pastur-tiny and MORE iterations are needed. The production use is embedding
    whitening / dominant-direction removal (a standard embedding
    post-process, e.g. the "all-but-the-top" cleanup of Mu & Viswanath
    2018 — public paper)."""
    comp = _components(spark, sf_dir).select(
        "vec_id", "idx", F.col("val").cast("double").alias("v")
    )
    means = {
        r["idx"]: r["m"]
        for r in comp.groupBy("idx").agg(F.avg("v").alias("m")).collect()
    }
    dim = len(means)
    mean_col = F.array(*[F.lit(float(means[i])) for i in range(dim)])
    centered = comp.withColumn("v", F.col("v") - F.element_at(mean_col, F.col("idx") + 1))
    centered = centered.localCheckpoint()  # one materialization; rounds reuse it

    # deterministic start: e_0 basis vector
    vec = [1.0] + [0.0] * (dim - 1)
    eig = 0.0
    for _ in range(iterations):
        v_col = F.array(*[F.lit(float(x)) for x in vec])
        # s(vec_id) = <x_i, v>   (one agg);  w(idx) = Σ_i s_i · x_i[idx]
        s = centered.groupBy("vec_id").agg(
            F.sum(F.col("v") * F.element_at(v_col, F.col("idx") + 1)).alias("s")
        )
        w_rows = (
            centered.join(s, "vec_id")
            .groupBy("idx")
            .agg(F.sum(F.col("v") * F.col("s")).alias("w"))
            .collect()
        )
        w = [0.0] * dim
        for r in w_rows:
            w[r["idx"]] = r["w"]
        norm = sum(x * x for x in w) ** 0.5
        if norm == 0.0:
            break
        eig = norm  # ||X^T X v|| with unit v -> eigenvalue estimate
        vec = [x / norm for x in w]
    return vec, eig


def emb_remove_top_component(
    spark: SparkSession, sf_dir: str, iterations: int = PCA_ITERATIONS
) -> DataFrame:
    """All-but-the-top embedding cleanup (Mu & Viswanath 2018): center
    the corpus and project out the leading principal direction —
    x' = (x − μ) − ⟨x − μ, v⟩·v — the standard post-process that
    removes the dominant "common direction" before similarity search.

    The direction comes from :func:`emb_top_component` (driver-bounded
    power iteration); the projection itself is one codegen'd pass over
    the exploded components with μ and v as broadcast literals — no
    shuffle beyond the per-vector dot product's aggregation. Returns
    (vec_id, idx, val double) corrected components; tests assert the
    corpus variance along v collapses to ~0 while total variance drops
    by exactly the removed eigenvalue."""
    vec, _eig = emb_top_component(spark, sf_dir, iterations)
    comp = _components(spark, sf_dir).select(
        "vec_id", "idx", F.col("val").cast("double").alias("v")
    )
    means = {
        r["idx"]: r["m"]
        for r in comp.groupBy("idx").agg(F.avg("v").alias("m")).collect()
    }
    dim = len(means)
    mean_col = F.array(*[F.lit(float(means[i])) for i in range(dim)])
    v_col = F.array(*[F.lit(float(x)) for x in vec])
    centered = comp.withColumn(
        "v", F.col("v") - F.element_at(mean_col, F.col("idx") + 1)
    )
    proj = centered.groupBy("vec_id").agg(
        F.sum(F.col("v") * F.element_at(v_col, F.col("idx") + 1)).alias("p")
    )
    return (
        centered.join(proj, "vec_id")
        .select(
            "vec_id",
            "idx",
            (F.col("v") - F.col("p") * F.element_at(v_col, F.col("idx") + 1)).alias("val"),
        )
    )


def emb_pca_direction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered form of the power-iteration principal direction:
    (idx, loading, eigenvalue) rows, loadings and eigenvalue snapped to
    the 1e-8 grid. ORACLE-CHECKED since round 8: the DuckDB oracle
    replays all PCA_ITERATIONS power rounds as unrolled MATERIALIZED
    CTEs over the same double-cast components and grids identically at
    the end. No per-round grid is needed — power iteration is
    SELF-CORRECTING (cross-engine summation-order perturbations decay
    by λ2/λ1 per round except along the dominant direction, where
    normalization cancels them), so the end-to-end divergence stays
    ~1e-13 and the single 1e-8 end-grid absorbs it (same residual
    boundary-flip caveat as PR_GRID). numpy parity additionally pinned
    in tests/test_kmeans_ivf.py."""
    import math

    vec, eig = emb_top_component(spark, sf_dir)

    def g8(x: float) -> float:
        return math.floor(x * 1e8 + 0.5) / 1e8

    return spark.createDataFrame(
        [(i, g8(float(x)), g8(float(eig))) for i, x in enumerate(vec)],
        "idx INT, loading DOUBLE, eigenvalue DOUBLE",
    )


def _pca_probes(spark: SparkSession, sf_dir: str) -> "dict[str, DataFrame]":
    """Construction-phase plans of the power iteration (round-7 verdict
    #2): the per-dimension mean aggregation and one w = Xᵀ(Xv) round.
    The collected means / normalized vector enter the real plan only as
    ARRAY LITERALS, so zero/e₀ stand-ins reproduce the identical plan
    STRUCTURE (scans, exchanges, join shape) without any driver work."""
    comp = _components(spark, sf_dir).select(
        "vec_id", "idx", F.col("val").cast("double").alias("v")
    )
    means = comp.groupBy("idx").agg(F.avg("v").alias("m"))
    dim = 64
    mean_col = F.array(*[F.lit(0.0)] * dim)
    centered = comp.withColumn(
        "v", F.col("v") - F.element_at(mean_col, F.col("idx") + 1)
    )
    v_col = F.array(*([F.lit(1.0)] + [F.lit(0.0)] * (dim - 1)))
    s = centered.groupBy("vec_id").agg(
        F.sum(F.col("v") * F.element_at(v_col, F.col("idx") + 1)).alias("s")
    )
    power_round = (
        centered.join(s, "vec_id")
        .groupBy("idx")
        .agg(F.sum(F.col("v") * F.col("s")).alias("w"))
    )
    return {"means": means, "power_round": power_round}


def _pca_oracle() -> str:
    """All PCA_ITERATIONS power rounds unrolled as MATERIALIZED CTEs
    (default inlining would branch exponentially — the converged-
    PageRank lesson): s = Xᵀ-projection per vector, w = re-projection
    per dimension, normalize, iterate; grid loadings + eigenvalue at
    1e-8 at the end only."""
    rounds = []
    for k in range(1, PCA_ITERATIONS + 1):
        rounds.append(
            f"""s{k} AS MATERIALIZED (
  SELECT c.vec_id, SUM(c.v * v.x) AS s
  FROM centered c JOIN v{k - 1} v USING (idx) GROUP BY c.vec_id
),
w{k} AS MATERIALIZED (
  SELECT c.idx, SUM(c.v * s.s) AS w
  FROM centered c JOIN s{k} s USING (vec_id) GROUP BY c.idx
),
n{k} AS (SELECT sqrt(SUM(w * w)) AS nrm FROM w{k}),
v{k} AS MATERIALIZED (SELECT idx, w / nrm AS x FROM w{k}, n{k})"""
        )
    chain = ",\n".join(rounds)
    return (
        _COMP_CTES
        + f""",
compd AS MATERIALIZED (SELECT vec_id, idx, CAST(val AS DOUBLE) AS v FROM comp),
means AS MATERIALIZED (SELECT idx, AVG(v) AS m FROM compd GROUP BY idx),
centered AS MATERIALIZED (
  SELECT c.vec_id, c.idx, c.v - m.m AS v FROM compd c JOIN means m USING (idx)
),
v0 AS (
  -- comp's idx is 1-BASED here (generate_series in _COMP_CTES) vs
  -- Spark's 0-based posexplode: e0 = dimension 0 = DuckDB idx 1, and
  -- the final projection shifts back with idx - 1
  SELECT i AS idx, CASE WHEN i = 1 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS x
  FROM unnest(generate_series(1, 64)) AS g(i)
),
{chain}
SELECT CAST(v.idx - 1 AS INT) AS idx,
       FLOOR(v.x * 1e8 + 0.5) / 1e8 AS loading,
       FLOOR(n.nrm * 1e8 + 0.5) / 1e8 AS eigenvalue
FROM v{PCA_ITERATIONS} v, n{PCA_ITERATIONS} n
"""
    )


SPECS.append(
    QuerySpec("emb_pca_direction", emb_pca_direction, _pca_oracle(),
              probes=_pca_probes)
)


MMR_LAMBDA = 0.7     # relevance weight; 1-λ weights diversity
MMR_SHORTLIST = 20   # candidates per query fed to the greedy rerank
MMR_K = 5            # final selections per query


def _mmr_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query rerank shortlist: top-MMR_SHORTLIST cosine candidates
    (exact-decimal dots, the sim_topk kernel) joined back to their raw
    embedding arrays — (qid, neighbor_id, cosine, embedding).

    One spark.sql statement over the brute-force cosine fragment."""
    comp = temp_view_for(_components(spark, sf_dir), "comp")
    emb = temp_view_for(load_table(spark, sf_dir, "embeddings"), "embeddings")
    return spark.sql(
        f"""
SELECT s.qid, s.neighbor_id, CAST(s.cosine AS DOUBLE) AS cosine, e.embedding
FROM {_sub(_cosine_sql(comp, k=MMR_SHORTLIST))} s
JOIN (SELECT vec_id AS neighbor_id, embedding FROM {emb}) e USING (neighbor_id)
"""
    )


def _mmr_greedy(cands: DataFrame) -> DataFrame:
    """The MMR greedy stage shared by both shortlist providers:
    ``cands`` is (qid, neighbor_id, cosine double, embedding) — bounded
    per query — and the output is the per-query diversified top-MMR_K.
    `applyInPandas` grouped BY QUERY: each group is a SHORTLIST×dim
    matrix, so the quadratic greedy is O(shortlist²) per query
    regardless of corpus size, parallel across queries."""
    import numpy as np
    import pandas as pd

    def mmr(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(
            ["cosine", "neighbor_id"], ascending=[False, True]
        ).reset_index(drop=True)
        vecs = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
        vecs = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
        # candidate-pair similarities snap to the 1e-8 grid (round 8):
        # rel is already bit-identical cross-engine (the exact-decimal
        # kernel), so gridding the one float-reduction input makes every
        # greedy SCORE bit-identical too — that is what lets the DuckDB
        # oracle replay the argmax sequence itself (the sim_topk_dense /
        # PR_GRID argument, same boundary-flip residual)
        pair = vecs @ vecs.T
        pair = np.floor(pair * 1e8 + 0.5) / 1e8
        rel = pdf["cosine"].to_numpy()
        nid = pdf["neighbor_id"].to_numpy()
        selected: list[int] = []
        remaining = list(range(len(pdf)))
        out = []
        while remaining and len(selected) < MMR_K:
            # deterministic argmax: score, then smaller neighbor_id
            best = max(
                remaining,
                key=lambda i: (
                    MMR_LAMBDA * rel[i]
                    - (1.0 - MMR_LAMBDA)
                    * (max(pair[i][j] for j in selected) if selected else 0.0),
                    -int(nid[i]),
                ),
            )
            score = MMR_LAMBDA * rel[best] - (1.0 - MMR_LAMBDA) * (
                max(pair[best][j] for j in selected) if selected else 0.0
            )
            selected.append(best)
            remaining.remove(best)
            # tie-free 1e-8 grid, not round() (Python round is half-even
            # vs SQL's varying conventions — the floor idiom is identical
            # IEEE arithmetic in both engines)
            out.append(
                (
                    int(pdf["qid"][best]),
                    len(selected),
                    int(nid[best]),
                    float(np.floor(float(score) * 1e8 + 0.5) / 1e8),
                )
            )
        return pd.DataFrame(
            out, columns=["qid", "sel_rank", "neighbor_id", "mmr_score"]
        )

    return (
        cands.groupBy("qid")
        .applyInPandas(mmr, "qid bigint, sel_rank int, neighbor_id bigint, mmr_score double")
        .orderBy("qid", "sel_rank")
    )


def sim_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity-aware rerank of retrieval shortlists: Maximal Marginal
    Relevance (Carbonell & Goldstein 1998) — greedily pick the candidate
    maximizing λ·sim(query, d) − (1−λ)·max_{s∈selected} sim(d, s), so
    near-duplicate neighbors don't crowd the final k. The training-data
    use: diversified exemplar selection from an over-fetched shortlist.

    This form feeds the greedy from the EXACT brute-force shortlist —
    the quality ceiling the ANN-fed twin (:func:`sim_mmr_ann`, the
    production path at corpus scale) is judged against. ORACLE-CHECKED
    since round 8: the greedy argmax is order-dependent but
    SQL-REPLAYABLE — the DuckDB oracle unrolls the MMR_K selection
    rounds (the PageRank-unroll idiom) over bit-identical inputs (rel
    from the shared exact-decimal kernel; pair similarities snapped to
    the 1e-8 grid in both engines). Parity additionally pinned against
    an independent pure-python MMR in tests/test_round6_ops.py."""
    return _mmr_greedy(_mmr_candidates(spark, sf_dir))


def _mmr_ann_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN-fed rerank shortlist (round-6 verdict #5): the IVF+PQ+rescore
    pipeline of sim_ivf_pq_topk — coarse cells prune the corpus, ADC
    scores only in-cell codes, exact cosine rescores the ADC survivors —
    kept to MMR_SHORTLIST and joined back to raw embeddings. Per query
    the candidate work is (probed cells × cell size) code rows, never a
    corpus scan; this is the shortlist provider that survives 100 TB.
    The chain is :func:`_ivf_pq_ranked`, one ``spark.sql`` over the
    shared IVF, PQ-ADC and exact-cosine builders."""
    ranked = _ivf_pq_ranked(spark, _components(spark, sf_dir), MMR_SHORTLIST)
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("neighbor_id"), "embedding"
    )
    return ranked.join(emb, "neighbor_id").select(
        "qid", "neighbor_id", F.col("cosine").cast("double").alias("cosine"), "embedding"
    )


def sim_mmr_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`sim_mmr_rerank` with the shortlist stage swapped to the
    IVF+PQ ANN pipeline — the composed production form (round-6 verdict
    #5: the docstring claimed interchangeability; this registers and
    verifies it). Same greedy, same output schema; ORACLE-CHECKED since
    round 8 (the IVF+PQ shortlist chain composed with the unrolled
    greedy, see sim_mmr_rerank); shortlist recall vs the exact provider
    is measured in tests/test_round7_ops.py."""
    return _mmr_greedy(_mmr_ann_candidates(spark, sf_dir))


# MMR oracle machinery (round 8): the greedy argmax IS SQL-replayable —
# unroll the MMR_K selection rounds like PageRank's iterations. The two
# float inputs are made bit-identical first: `rel` already is (the
# exact-decimal kernel both engines share), and the candidate-pair
# similarities snap to the 1e-8 grid in both engines, so every score is
# an identical chain of IEEE ops and the per-round argmax (score DESC,
# nid) picks the same candidate. Residual: the usual grid boundary-flip
# probability on pairsim (~1e-7/value over ~2k values per run).

_MMR_EXACT_CAND_CTES = _COMP_CTES + f""",
q AS (SELECT vec_id AS qid, idx, val AS qval FROM comp WHERE vec_id < {N_QUERIES}),
dots AS (
  SELECT qid, vec_id, CAST(SUM(val * qval) AS DECIMAL(38,18)) AS dot
  FROM comp JOIN q USING (idx)
  WHERE vec_id <> qid
  GROUP BY qid, vec_id
),
rankedc AS (
  SELECT qid, dots.vec_id AS nid,
         CAST(CAST(dot AS DOUBLE) / (sqrt(CAST(qn.n2 AS DOUBLE)) * sqrt(CAST(nn.n2 AS DOUBLE))) AS DECIMAL(10,8)) AS cosine
  FROM dots
  JOIN norms qn ON qn.vec_id = dots.qid
  JOIN norms nn ON nn.vec_id = dots.vec_id
),
cand AS MATERIALIZED (
  SELECT qid, nid, CAST(cosine AS DOUBLE) AS rel FROM (
    SELECT qid, nid, cosine,
           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rn
    FROM rankedc
  ) WHERE rn <= {MMR_SHORTLIST}
)"""

_MMR_ANN_CAND_CTES = _IVF_PQ_RANKED_CTES + f""",
cand AS MATERIALIZED (
  SELECT qid, neighbor_id AS nid, CAST(cosine AS DOUBLE) AS rel FROM (
    SELECT qid, neighbor_id, cosine,
           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, neighbor_id) AS rn
    FROM ranked
  ) WHERE rn <= {MMR_SHORTLIST}
)"""


def _mmr_greedy_sql(cand_ctes: str) -> str:
    """Append the unrolled greedy to a provider chain ending in
    ``cand(qid, nid, rel)``: pairwise gridded cosines over the raw
    embeddings (the same vectors numpy normalizes — NOT the 1e-9
    component grid), then MMR_K argmax rounds, each MATERIALIZED."""
    lam = repr(MMR_LAMBDA)
    oml = repr(1.0 - MMR_LAMBDA)  # embeds the exact double 1.0-λ
    rounds = [
        f"""s1 AS MATERIALIZED (
  SELECT qid, nid, {lam} * rel AS score FROM (
    SELECT qid, nid, rel,
           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY {lam} * rel DESC, nid) AS rn
    FROM cand) WHERE rn = 1
),
sel1 AS (SELECT qid, nid FROM s1)"""
    ]
    for k in range(2, MMR_K + 1):
        rounds.append(
            f"""s{k} AS MATERIALIZED (
  SELECT qid, nid, score FROM (
    SELECT d.qid, d.nid, {lam} * d.rel - {oml} * d.mx AS score,
           ROW_NUMBER() OVER (
             PARTITION BY d.qid
             ORDER BY ({lam} * d.rel - {oml} * d.mx) DESC, d.nid) AS rn
    FROM (
      SELECT c.qid, c.nid, c.rel, MAX(p.ps) AS mx
      FROM cand c
      JOIN sel{k - 1} s ON s.qid = c.qid
      JOIN pairsim p ON p.qid = c.qid AND p.a = c.nid AND p.b = s.nid
      WHERE NOT EXISTS (
        SELECT 1 FROM sel{k - 1} x WHERE x.qid = c.qid AND x.nid = c.nid)
      GROUP BY c.qid, c.nid, c.rel
    ) d
  ) WHERE rn = 1
),
sel{k} AS (SELECT qid, nid FROM sel{k - 1} UNION ALL SELECT qid, nid FROM s{k})"""
        )
    final_union = "\nUNION ALL\n".join(
        f"SELECT qid, {k} AS k, nid, score FROM s{k}" for k in range(1, MMR_K + 1)
    )
    chain = ",\n".join(rounds)
    return (
        cand_ctes
        + f""",
rawcomp AS MATERIALIZED (
  SELECT vec_id, i AS idx, CAST(embedding[i] AS DOUBLE) AS v
  FROM embeddings, unnest(generate_series(1, len(embedding))) AS g(i)
),
rawnorm AS MATERIALIZED (SELECT vec_id, sqrt(SUM(v * v)) AS nrm FROM rawcomp GROUP BY vec_id),
cpair AS (
  SELECT c1.qid, c1.nid AS a, c2.nid AS b
  FROM cand c1 JOIN cand c2 ON c1.qid = c2.qid AND c1.nid <> c2.nid
),
pairsim AS MATERIALIZED (
  SELECT cp.qid, cp.a, cp.b,
         FLOOR(SUM((ra.v / na.nrm) * (rb.v / nb.nrm)) * 1e8 + 0.5) / 1e8 AS ps
  FROM cpair cp
  JOIN rawcomp ra ON ra.vec_id = cp.a
  JOIN rawcomp rb ON rb.vec_id = cp.b AND rb.idx = ra.idx
  JOIN rawnorm na ON na.vec_id = cp.a
  JOIN rawnorm nb ON nb.vec_id = cp.b
  GROUP BY cp.qid, cp.a, cp.b
),
{chain}
SELECT qid, CAST(k AS INT) AS sel_rank, nid AS neighbor_id,
       FLOOR(score * 1e8 + 0.5) / 1e8 AS mmr_score
FROM ({final_union})
ORDER BY qid, sel_rank
"""
    )


SIM_MMR_ORACLE = _mmr_greedy_sql(_MMR_EXACT_CAND_CTES)
SIM_MMR_ANN_ORACLE = _mmr_greedy_sql(_MMR_ANN_CAND_CTES)


SPECS.append(QuerySpec("sim_mmr_rerank", sim_mmr_rerank, SIM_MMR_ORACLE))
SPECS.append(QuerySpec("sim_mmr_ann", sim_mmr_ann, SIM_MMR_ANN_ORACLE))


EMB_OUTLIER_Z = 3.0  # |z| threshold on the vector-norm distribution


def emb_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding quality control: flag vectors whose L2 NORM is a
    population outlier (|z| > {EMB_OUTLIER_Z}) — degenerate embeddings
    (near-zero norms from empty inputs, blown-up norms from overflow)
    are the standard upstream-failure signature, and norm z-scoring is
    the cheap always-on gate before any ANN index ingests a batch.

    Determinism: sqrt is IEEE correctly-rounded (unlike ln/exp), so
    norms snap to the 1e-8 grid identically in both engines; mean and
    variance accumulate in exact decimal from the gridded norms; the
    final z is one double division.

    100-TB shape: norms come from the existing map-side component
    aggregate; the (mean, var) reduce to one row broadcast back; the
    z-projection is a map — nothing corpus-sized shuffles twice."""
    comp = _components(spark, sf_dir)
    grid = lambda x: (  # noqa: E731
        F.floor(x * 1e8 + F.lit(0.5)).cast("decimal(28,0)")
        / F.lit(100000000).cast("decimal(10,0)")
    ).cast("decimal(18,8)")
    norms = spark.sql(_norms_sql(temp_view_for(comp, "comp"))).select(
        "vec_id", grid(F.sqrt(F.col("n2").cast("double"))).alias("norm")
    )
    stats = norms.agg(
        F.count("*").alias("n"),
        F.sum("norm").alias("s"),
        F.sum(F.col("norm") * F.col("norm")).alias("s2"),
    ).collect()[0]
    n = stats["n"]
    mean = float(stats["s"]) / n
    var = max(float(stats["s2"]) / n - mean * mean, 0.0)
    std = var ** 0.5
    if std == 0:
        z = F.lit(0.0)
    else:
        z = (F.col("norm").cast("double") - F.lit(mean)) / F.lit(std)
    return norms.select(
        "vec_id",
        "norm",
        grid(z).alias("zscore"),
        (F.abs(grid(z)) > EMB_OUTLIER_Z).alias("is_outlier"),
    )


EMB_OUTLIERS_ORACLE = _COMP_CTES + f""",
nv AS (
  SELECT vec_id,
         CAST(CAST(floor(sqrt(CAST(n2 AS DOUBLE)) * 100000000.0 + 0.5) AS DECIMAL(28,0))
              / CAST(100000000 AS DECIMAL(10,0)) AS DECIMAL(18,8)) AS norm
  FROM norms),
st AS (
  SELECT COUNT(*) AS n, SUM(norm) AS s, SUM(norm * norm) AS s2 FROM nv),
zs AS (
  -- s/s2 are wide decimals: DuckDB's int128→double conversion is not
  -- correctly rounded above 2^53, so route through VARCHAR (parsed
  -- correctly-rounded in both engines — the emb_dim_stats idiom);
  -- python float(Decimal) on the Spark side is always correctly rounded
  SELECT vec_id, norm,
         CASE WHEN (CAST(CAST(s2 AS VARCHAR) AS DOUBLE) / n
                    - (CAST(CAST(s AS VARCHAR) AS DOUBLE) / n)
                      * (CAST(CAST(s AS VARCHAR) AS DOUBLE) / n)) <= 0
              THEN 0.0
              ELSE (CAST(norm AS DOUBLE) - CAST(CAST(s AS VARCHAR) AS DOUBLE) / n)
                   / sqrt(CAST(CAST(s2 AS VARCHAR) AS DOUBLE) / n
                          - (CAST(CAST(s AS VARCHAR) AS DOUBLE) / n)
                            * (CAST(CAST(s AS VARCHAR) AS DOUBLE) / n))
         END AS zraw
  FROM nv, st)
SELECT vec_id, norm,
       CAST(CAST(floor(zraw * 100000000.0 + 0.5) AS DECIMAL(28,0))
            / CAST(100000000 AS DECIMAL(10,0)) AS DECIMAL(18,8)) AS zscore,
       abs(CAST(CAST(floor(zraw * 100000000.0 + 0.5) AS DECIMAL(28,0))
            / CAST(100000000 AS DECIMAL(10,0)) AS DECIMAL(18,8))) > {EMB_OUTLIER_Z} AS is_outlier
FROM zs
"""


SPECS.append(QuerySpec("emb_outliers", emb_outliers, EMB_OUTLIERS_ORACLE))


#: Hard negatives returned per query (sim_hard_negatives).
HARD_NEG_K = 3

#: Relative false-negative margin: candidates scoring within this
#: fraction of the per-query top-1 cosine are treated as likely
#: positives (near-duplicates / same-entity hits) and EXCLUDED from the
#: negative pool. A relative margin stays meaningful at any score
#: scale — an absolute near-dup threshold (0.9+) is vacuous on a
#: corpus whose true neighbors score 0.4.
HARD_NEG_REL = 0.95


def sim_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: per query, the
    HARD_NEG_K highest-cosine candidates from the IVF+PQ+rescore
    shortlist AFTER dropping everything within HARD_NEG_REL of the
    top-1 score (the likely-positive band — serving those as negatives
    poisons the loss with false negatives; filtering them is the
    standard dense-retrieval protocol, e.g. RocketQA's denoised hard
    negatives).

    Composition-only: the candidates are sim_ivf_pq_topk's chain
    (:func:`_ivf_pq_ranked`) kept ADC_SHORTLIST deep; this adds one
    per-query top-1 broadcast join and a re-rank of the bounded
    shortlist. Per-query cost remains (probed cells x cell size) codes
    + ADC_SHORTLIST exact scores, corpus-size-independent.

    Determinism: cosines are the shared DECIMAL(10,8) grid; the margin
    test compares doubles derived from identical decimals in both
    engines, so the excluded band is identical — no boundary-flip
    surface."""
    deep = _ivf_pq_ranked(spark, _components(spark, sf_dir), ADC_SHORTLIST)
    top1 = deep.filter(F.col("rank") == 1).select(
        "qid", F.col("cosine").cast("double").alias("_top1")
    )
    # The relative band is only well-formed for POSITIVE top-1 scores:
    # with top1 < 0, `cosine < REL*top1` INVERTS (REL*top1 sits above
    # top1, so the filter keeps the top-1 itself and every candidate —
    # round-8 review finding). With a non-positive top-1 there is no
    # likely-positive band to denoise; only the rank-1 row (the
    # positive) is excluded.
    hard = (
        deep.join(F.broadcast(top1), "qid")
        .filter(
            (F.col("rank") > 1)
            & (
                (F.col("_top1") <= 0)
                | (
                    F.col("cosine").cast("double")
                    < F.lit(HARD_NEG_REL) * F.col("_top1")
                )
            )
        )
        .select("qid", "neighbor_id", "cosine")
    )
    w2 = Window.partitionBy("qid").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        hard.withColumn("rank", F.row_number().over(w2).cast("bigint"))
        .filter(F.col("rank") <= HARD_NEG_K)
        .select("qid", "rank", "neighbor_id", "cosine")
    )


SIM_HARD_NEGATIVES_ORACLE = _IVF_PQ_RANKED_CTES + f""",
deep AS (
  SELECT qid, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, neighbor_id) AS rn
  FROM ranked
),
top1 AS (SELECT qid, CAST(cosine AS DOUBLE) AS top1 FROM deep WHERE rn = 1),
hard AS (
  SELECT d.qid, d.neighbor_id, d.cosine
  FROM deep d JOIN top1 USING (qid)
  WHERE d.rn > 1
    AND (top1 <= 0 OR CAST(d.cosine AS DOUBLE) < {HARD_NEG_REL} * top1)
)
SELECT qid, rank, neighbor_id, cosine FROM (
  SELECT qid, neighbor_id, cosine,
         CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
  FROM hard
) WHERE rank <= {HARD_NEG_K}
"""


SPECS.append(
    QuerySpec("sim_hard_negatives", sim_hard_negatives, SIM_HARD_NEGATIVES_ORACLE)
)


#: Drift-flag threshold: |share_a - share_b| above this marks a cell
#: (emb_centroid_drift). At fixture sizes sampling noise alone sits
#: around sqrt(p(1-p)/(n/2)) ~ 0.02-0.03, so some cells flag — the
#: monitor is exercised, not vacuous.
DRIFT_EPS = 0.02


def emb_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-distribution drift monitor: split the corpus into two
    deterministic halves (md5 parity of vec_id — stand-in for the real
    deployment's train-snapshot vs serving-window split), assign BOTH
    halves to the SHARED IVF centroids, and compare per-cell occupancy
    shares. A cell whose share moves more than DRIFT_EPS between halves
    is flagged — the alarm that retrains the coarse quantizer before
    recall silently decays (cells drifting empty stop pruning; cells
    drifting hot stop bounding the scan).

    Everything reuses the oracle-checked IVF assignment blocks; the
    split adds one md5 test, the comparison is one count-pivot over
    |cells| rows. Shares are exact-integer-derived doubles — no grid
    needed.

    100-TB shape: one corpus pass for assignment (already resident in a
    real deployment), one |cells|-sized aggregate. Nothing new
    shuffles."""
    comp = _components(spark, sf_dir)
    d2 = _ivf_cell_d2(comp, _ivf_centroids(comp))
    assign = _ivf_assign(d2)
    half = F.when(
        F.substring(F.md5(F.col("vec_id").cast("string")), 1, 1) < "8", "a"
    ).otherwise("b")
    counts = (
        assign.withColumn("half", half)
        .groupBy("cell")
        .agg(
            F.sum(F.when(F.col("half") == "a", 1).otherwise(0))
            .cast("bigint")
            .alias("n_a"),
            F.sum(F.when(F.col("half") == "b", 1).otherwise(0))
            .cast("bigint")
            .alias("n_b"),
        )
    )
    tot = counts.agg(
        F.sum("n_a").alias("ta"), F.sum("n_b").alias("tb")
    ).collect()[0]
    ta = int(tot["ta"] or 0)
    tb = int(tot["tb"] or 0)
    if ta == 0 or tb == 0:
        # Empty corpus (SUM over zero rows is NULL) or a fully
        # one-sided split: short-circuit to a well-formed empty monitor
        # result instead of crashing / dividing by zero.
        counts = counts.limit(0)
        ta = tb = 1
    share_a = F.col("n_a").cast("double") / F.lit(float(ta))
    share_b = F.col("n_b").cast("double") / F.lit(float(tb))
    return (
        counts.select(
            "cell",
            "n_a",
            "n_b",
            share_a.alias("share_a"),
            share_b.alias("share_b"),
            F.abs(share_a - share_b).alias("drift"),
            (F.abs(share_a - share_b) > DRIFT_EPS).alias("flagged"),
        )
        .orderBy("cell")
    )


EMB_CENTROID_DRIFT_ORACLE = _COMP_CTES + f""",
cent AS (SELECT vec_id AS cid, idx, val AS cval FROM comp WHERE vec_id < {N_CENTROIDS}),
celld2 AS (
  SELECT vec_id, cid, CAST(SUM((val - cval) * (val - cval)) AS DECIMAL(38,18)) AS d2
  FROM comp JOIN cent USING (idx) GROUP BY vec_id, cid
),
assign AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
    FROM celld2
  ) WHERE rn = 1
),
halves AS (
  SELECT cell,
         CASE WHEN substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) < '8'
              THEN 'a' ELSE 'b' END AS half
  FROM assign
),
counts AS (
  SELECT cell,
         CAST(SUM(CASE WHEN half = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(SUM(CASE WHEN half = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS n_b
  FROM halves GROUP BY cell
),
tot AS (SELECT SUM(n_a) AS ta, SUM(n_b) AS tb FROM counts)
SELECT cell, n_a, n_b,
       CAST(n_a AS DOUBLE) / CAST(ta AS DOUBLE) AS share_a,
       CAST(n_b AS DOUBLE) / CAST(tb AS DOUBLE) AS share_b,
       abs(CAST(n_a AS DOUBLE) / CAST(ta AS DOUBLE)
           - CAST(n_b AS DOUBLE) / CAST(tb AS DOUBLE)) AS drift,
       abs(CAST(n_a AS DOUBLE) / CAST(ta AS DOUBLE)
           - CAST(n_b AS DOUBLE) / CAST(tb AS DOUBLE)) > {DRIFT_EPS} AS flagged
FROM counts, tot
ORDER BY cell
"""


SPECS.append(
    QuerySpec("emb_centroid_drift", emb_centroid_drift, EMB_CENTROID_DRIFT_ORACLE)
)


# ---------------------------------------------------------------------------
# Radius (range) similarity search — the other standard retrieval API
# next to top-k: ALL neighbors above a similarity floor.
# ---------------------------------------------------------------------------

RANGE_TAU = 0.25  # cosine floor (fixture: ~6-14 corpus neighbors/query)


def sim_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (radius) search: every corpus vector with cosine >=
    RANGE_TAU of each query — the retrieval API deduplication and
    contamination sweeps want ("everything this similar"), where top-k
    would silently truncate dense neighborhoods and pad sparse ones.

    This is the EXACT baseline (shared cosine block with
    sim_topk_bruteforce, so the scored set is identical algebra); the
    banded scale path for radius work is the LSH family
    (dedup_embedding_cosine_pairs / sim_rp_lsh_topk), whose recall
    against thresholds like this is measured in sim_ann_recall.

    100-TB shape: one broadcast of the query components, one
    map-side-combinable dot aggregation, a scan-stage filter — the
    selective-filter twin of the brute-force scorer with no per-query
    k-heap needed."""
    scored = _bf_cosines(spark, sf_dir)
    return scored.filter(F.col("cosine") >= RANGE_TAU).orderBy(
        "qid", F.col("cosine").desc(), "neighbor_id"
    )


SIM_RANGE_ORACLE = _COMP_CTES + f""",
q AS (SELECT vec_id AS qid, idx, val AS qval FROM comp WHERE vec_id < {N_QUERIES}),
dots AS (
  SELECT qid, vec_id, CAST(SUM(val * qval) AS DECIMAL(38,18)) AS dot
  FROM comp JOIN q USING (idx)
  WHERE vec_id <> qid
  GROUP BY qid, vec_id
),
scored AS (
  SELECT qid, dots.vec_id AS neighbor_id,
         CAST(CAST(dot AS DOUBLE)
              / (sqrt(CAST(qn.n2 AS DOUBLE)) * sqrt(CAST(n.n2 AS DOUBLE)))
              AS DECIMAL(10,8)) AS cosine
  FROM dots
  JOIN norms n ON dots.vec_id = n.vec_id
  JOIN norms qn ON dots.qid = qn.vec_id
)
SELECT qid, neighbor_id, cosine FROM scored
WHERE cosine >= {RANGE_TAU}
ORDER BY qid, cosine DESC, neighbor_id
"""


SPECS.append(QuerySpec("sim_range_search", sim_range_search, SIM_RANGE_ORACLE))


# ---------------------------------------------------------------------------
# Filtered ANN — metadata predicate pushed INSIDE the probe (the
# tenant/shard/freshness filter every production vector store needs).
# ---------------------------------------------------------------------------

FILTER_MOD = 2  # stand-in metadata predicate: vec_id % 2 = 0 ("shard 0")

#: Adaptive-probe floor for filtered ANN (round-10 verdict #3): a
#: query's probed cells must together hold at least this many ELIGIBLE
#: vectors (4×ANN_EVAL_K), else the probe list grows to the next-nearest
#: cells until they do. Selective filters starve fixed-n_probe cells
#: (sim_filtered_recall measured the dip: min recall 0.667 at 1/16
#: selectivity at sf0.01); growing probes ONLY where eligible density is
#: low keeps recall without a global n_probe bump.
FILTERED_MIN_ELIGIBLE = 12

#: Exact-fallback threshold for filtered ANN (the second tier of the
#: round-10 verdict-#3 policy, and what production vector stores do —
#: pre-filtering switches to an exact scan of the eligible posting when
#: the filter is very selective): if the filter leaves at most this many
#: eligible vectors IN TOTAL, IVF cell pruning is skipped and every
#: eligible vector is scored exactly (recall 1.0 by construction, cost
#: |eligible|·d — CHEAPER than multi-cell probing at this cardinality).
#: The value is the point where the adaptive rule would expect to probe
#: everything anyway: min_eligible per probe budget spread uniformly
#: over all cells → FILTERED_MIN_ELIGIBLE · N_CENTROIDS / N_PROBE.
FILTERED_BRUTE_MAX = FILTERED_MIN_ELIGIBLE * N_CENTROIDS // N_PROBE


def _eligible_pairs_sql(mod: int, assign: str) -> str:
    """SELECT of every (query, eligible vector) pair over ``assign`` —
    the exact tier's candidate set. A map-side explode of the constant
    query-id range, NOT a cross join (keeps the global no-cartesian
    plan invariant; a qid with no stored vector scores to nothing
    downstream, so over-generating from the literal range is safe)."""
    qids = ", ".join(str(i) for i in range(N_QUERIES))
    return f"""SELECT qid, vec_id FROM (
    SELECT vec_id, explode(array({qids})) AS qid FROM {assign} WHERE vec_id % {mod} = 0
  ) WHERE vec_id != qid"""


def _adaptive_probes_sql(
    cells: str,
    elig: str,
    n_probe: int = N_PROBE,
    min_eligible: int = FILTERED_MIN_ELIGIBLE,
) -> str:
    """SELECT of (qid, cell) over the query cells ``cells`` (qid, cell,
    rn): the ``n_probe`` nearest cells per query, EXTENDED while the
    cumulative eligible count of strictly-nearer cells is below
    ``min_eligible`` — a cell is probed iff rn ≤ n_probe OR the cells
    ranked before it hold fewer than min_eligible eligible vectors.
    Deterministic (rank ties on cid, exact integer counts) and replayed
    verbatim by the SQL oracles. ``elig`` is (cell, n_elig) — bounded at
    N_CENTROIDS rows, hence the broadcast."""
    return f"""SELECT qid, cell FROM (
  SELECT /*+ BROADCAST(e) */ r.qid, r.cell, r.rn,
         COALESCE(SUM(COALESCE(e.n_elig, 0)) OVER (
           PARTITION BY r.qid ORDER BY r.rn
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_prev
  FROM {cells} r LEFT JOIN {elig} e ON e.cell = r.cell
) WHERE rn <= {n_probe} OR cum_prev < {min_eligible}"""


def _filtered_cand_sql(mod: int, n_elig_total: int, comp: str) -> str:
    """SELECT of (qid, vec_id): the eligible (vec_id % mod = 0) IVF
    candidates over ``comp`` under the two-tier filtered-search policy —
    every eligible vector when the filter leaves at most
    FILTERED_BRUTE_MAX of them in total (exact tier), else the eligible
    vectors of the ADAPTIVELY probed cells (the filter runs inside the
    probe, and the probe list grows per query where the filter starves
    the nearest cells)."""
    assign, cells = _ivf_stages(comp)
    if n_elig_total <= FILTERED_BRUTE_MAX:
        return _eligible_pairs_sql(mod, assign)
    elig = _sub(
        f"SELECT cell, COUNT(*) AS n_elig FROM {assign} "
        f"WHERE vec_id % {mod} = 0 GROUP BY cell"
    )
    return f"""SELECT /*+ BROADCAST(p) */ p.qid, a.vec_id
FROM {assign} a JOIN {_sub(_adaptive_probes_sql(cells, elig))} p ON p.cell = a.cell
WHERE a.vec_id % {mod} = 0 AND a.vec_id != p.qid"""


def _all_eligible_pairs(assign: DataFrame, mod: int) -> DataFrame:
    """(qid, vec_id) — every (query, eligible vector) pair of an
    assignment frame (see :func:`_eligible_pairs_sql`)."""
    return assign.sparkSession.sql(
        _eligible_pairs_sql(mod, temp_view_for(assign, "ivf_assign"))
    )


def _ivf_probes_adaptive(
    d2: DataFrame,
    elig_cells: DataFrame,
    n_probe: int = N_PROBE,
    min_eligible: int = FILTERED_MIN_ELIGIBLE,
) -> DataFrame:
    """(qid, cell) — the adaptive probe list of :func:`_adaptive_probes_sql`
    over a (vec_id, cid, d2) frame and a (cell, n_elig) frame."""
    cells = _sub(_ivf_cells_sql(temp_view_for(d2, "ivf_d2")))
    elig = temp_view_for(elig_cells, "ivf_elig")
    return d2.sparkSession.sql(_adaptive_probes_sql(cells, elig, n_probe, min_eligible))


def _ivf_candidates_filtered(
    comp: DataFrame, mod: int, n_elig_total: int | None = None
) -> DataFrame:
    """(qid, vec_id) — eligible candidates (vec_id % mod = 0) under the
    two-tier filtered-search policy of :func:`_filtered_cand_sql`. The
    tier choice is an exact integer count (bounded 1-row result), so the
    SQL oracles replay the same branch with the same condition.

    ``n_elig_total`` lets the caller supply that count from a cheaper
    but PROVABLY identical plan (round 14, guide §1.2 "don't compute
    things you throw away"): every vector with ≥1 component appears in
    the assignment (the d2 join is on the shared idx domain and the
    argmin always exists), so counting eligible assigned vectors ==
    counting eligible embedding rows with a non-empty vector — no
    centroid join, no window. sim_filtered_ann passes the scan-side
    count; equality of the two counts is pinned in
    tests/test_round14_ops.py."""
    spark = comp.sparkSession
    comp = temp_view_for(comp, "comp")
    if n_elig_total is None:
        assign, _ = _ivf_stages(comp)
        n_elig_total = spark.sql(
            f"SELECT COUNT(*) FROM {assign} WHERE vec_id % {mod} = 0"
        ).first()[0]
    return spark.sql(_filtered_cand_sql(mod, n_elig_total, comp))


def sim_filtered_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search: top-k among ONLY the corpus vectors
    passing a metadata predicate (here the deterministic shard stand-in
    vec_id % FILTER_MOD = 0 — in production a tenant / language /
    freshness column), with the filter applied INSIDE the IVF probe,
    between cell pruning and scoring. Post-filtering the final top-k
    instead is the classic production bug — a full-k result where every
    hit fails the predicate returns an empty page; pre-filtering the
    candidate set keeps k results whenever the probed cells hold k
    eligible vectors.

    The probe count is ADAPTIVE per query (round-10 verdict #3): cells
    are probed in distance order until they hold FILTERED_MIN_ELIGIBLE
    eligible vectors (at least N_PROBE cells always), so selective
    filters keep recall without a global n_probe bump — the dense-shard
    fast path is untouched.

    100-TB shape: identical to sim_ivf_topk plus one scan-stage
    predicate on the candidate frame and one bounded (≤N_CENTROIDS-row)
    eligible-count aggregate feeding the probe window — the filter
    narrows work, never widens it; no extra data-scaled shuffle.

    Round 14: the tier-choice scalar comes from a pushed-filter parquet
    count of eligible non-empty embedding rows instead of running the
    full assign pipeline (centroid join + argmin window) just to count
    its rows — the counts are identical by construction (see
    _ivf_candidates_filtered) and the construct-phase job drops from
    the full d2 chain to a column-pruned scan. ASSUMPTION the shortcut
    leans on (round-14 ADVICE): the two counts coincide only when every
    non-empty vector survives the _ivf_cell_d2 inner join, i.e. its idx
    range intersects the centroid components' idx domain — true for
    FIXED-LENGTH embeddings with non-empty centroid seeds (vec_id 0..7),
    which sources.tables validates for this fixture family. For ragged
    embeddings or empty seed vectors the scan count can EXCEED the
    assign count and flip the brute/ANN tier choice vs the exact count;
    a deployment on such a corpus must revert to counting the assign
    frame. The equality is pinned across all four selectivity rungs in
    tests/test_round14_ops.py::TestFilteredTierCountShortcut."""
    n_elig = (
        load_table(spark, sf_dir, "embeddings")
        .filter((F.col("vec_id") % FILTER_MOD == 0) & (F.size("embedding") > 0))
        .count()
    )
    comp = temp_view_for(_components(spark, sf_dir), "comp")
    cand = _sub(_filtered_cand_sql(FILTER_MOD, n_elig, comp))
    return spark.sql(_cosine_sql(comp, cand, 3))


SIM_FILTERED_ANN_ORACLE = _COMP_CTES + f""",
cent AS (SELECT vec_id AS cid, idx, val AS cval FROM comp WHERE vec_id < {N_CENTROIDS}),
d2 AS (
  SELECT vec_id, cid,
         CAST(SUM((val - cval) * (val - cval)) AS DECIMAL(38,18)) AS d2
  FROM comp JOIN cent USING (idx) GROUP BY vec_id, cid
),
assign AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM d2
  ) WHERE rn = 1
),
elig AS (
  SELECT cell, COUNT(*) AS n_elig FROM assign
  WHERE vec_id % {FILTER_MOD} = 0 GROUP BY cell
),
probes AS (
  SELECT qid, cell FROM (
    SELECT r.qid, r.cell, r.rn,
           COALESCE(SUM(COALESCE(e.n_elig, 0)) OVER (
             PARTITION BY r.qid ORDER BY r.rn
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_prev
    FROM (
      SELECT vec_id AS qid, cid AS cell,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
      FROM d2 WHERE vec_id < {N_QUERIES}
    ) r LEFT JOIN elig e USING (cell)
  ) WHERE rn <= {N_PROBE} OR cum_prev < {FILTERED_MIN_ELIGIBLE}
),
eligtot AS (SELECT COUNT(*) AS t FROM assign WHERE vec_id % {FILTER_MOD} = 0),
candidates AS (
  -- two-tier policy: adaptive IVF probes above FILTERED_BRUTE_MAX
  -- eligible vectors, exact scan of the eligible set at or below it
  SELECT qid, vec_id FROM assign JOIN probes USING (cell)
  WHERE vec_id <> qid AND vec_id % {FILTER_MOD} = 0
    AND (SELECT t FROM eligtot) > {FILTERED_BRUTE_MAX}
  UNION ALL
  SELECT qs.qid, a.vec_id
  FROM (SELECT DISTINCT vec_id AS qid FROM comp WHERE vec_id < {N_QUERIES}) qs, assign a
  WHERE a.vec_id % {FILTER_MOD} = 0 AND a.vec_id <> qs.qid
    AND (SELECT t FROM eligtot) <= {FILTERED_BRUTE_MAX}
),
q AS (SELECT vec_id AS qid, idx, val AS qval FROM comp WHERE vec_id < {N_QUERIES}),
dots AS (
  SELECT c.qid, c.vec_id, CAST(SUM(comp.val * q.qval) AS DECIMAL(38,18)) AS dot
  FROM candidates c
  JOIN comp ON comp.vec_id = c.vec_id
  JOIN q ON q.qid = c.qid AND q.idx = comp.idx
  GROUP BY c.qid, c.vec_id
),
ranked AS (
  SELECT qid, dots.vec_id AS neighbor_id,
         CAST(CAST(dot AS DOUBLE) / (sqrt(CAST(qn.n2 AS DOUBLE)) * sqrt(CAST(nn.n2 AS DOUBLE))) AS DECIMAL(10,8)) AS cosine
  FROM dots
  JOIN norms qn ON qn.vec_id = dots.qid
  JOIN norms nn ON nn.vec_id = dots.vec_id
)
SELECT qid, rank, neighbor_id, cosine FROM (
  SELECT qid, neighbor_id, cosine,
         CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
  FROM ranked
) WHERE rank <= 3
"""


SPECS.append(
    QuerySpec("sim_filtered_ann", sim_filtered_ann, SIM_FILTERED_ANN_ORACLE)
)


#: Selectivity ladder for the filtered-ANN recall gate: 1/2, 1/4, 1/16
#: of the corpus eligible. The most selective rung is the case the
#: round-9 verdict called out — selective filters starve probed cells,
#: the regime where n_probe must grow.
FILTERED_RECALL_MODS = (2, 4, 16)


def sim_filtered_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall gate for filtered ANN (round-9 verdict #7 —
    sim_ann_recall's discipline applied to the filtered path): per
    query and per filter selectivity, recall of the pre-filter IVF
    search against the EXACT filtered top-k (brute force restricted to
    the same predicate). Emits (filter_mod, qid, truth_n, hits,
    recall): truth_n is the eligible ground-truth size (selective
    filters can leave fewer than k eligible neighbors — recall
    normalizes by what exists, not by k), and a query whose probed
    cells hold NO eligible vector still appears with 0.

    Scale shape: same as sim_ann_recall — exact truth over the sampled
    query block only; each rung's approx side is literally
    sim_filtered_ann's plan (the TWO-TIER policy: exact eligible scan
    at or below FILTERED_BRUTE_MAX total eligible, ADAPTIVE probes with
    the filter INSIDE the probe above it) at that selectivity; the
    candidate score block is computed ONCE
    over the union of the rungs' probed cells (exact cosine is
    filter-independent — only the probe membership and rank cut move
    per rung), then semi-joined to each rung's probe set. The per-rung
    probe frames are bounded (≤ N_QUERIES·N_CENTROIDS rows), collected
    eagerly (query/probe-bounded collect class) so their window lineage
    is not re-run per rung."""
    comp = _components(spark, sf_dir)
    bf = _bf_cosines(spark, sf_dir).cache()
    d2 = _ivf_cell_d2(comp, _ivf_centroids(comp)).persist()
    assign = _ivf_assign(d2).persist()
    # tier choice per rung: exact eligible scan at or below
    # FILTERED_BRUTE_MAX total eligible, adaptive IVF probes above.
    # All rungs' tier counts come from ONE conditional-sum aggregate
    # and all adaptive rungs' probe sets from ONE ranked-cells pass
    # (per-mod cumulative-eligible columns over the same window,
    # bounded N_QUERIES × N_CENTROIDS rows) — the per-rung form ran
    # 3 + 3 separate jobs for the same exact integers (measured
    # 0.6 + 2.5 s of the 8.6 s warm total at sf0.1; see
    # PERFORMANCE.md round-11). The probe RULE is unchanged and the
    # oracle replays it verbatim.
    tier = assign.agg(
        *[
            F.sum(F.when(F.col("vec_id") % m == 0, 1).otherwise(0))
            .cast("long")
            .alias(f"t{m}")
            for m in FILTERED_RECALL_MODS
        ]
    ).collect()[0]
    adaptive = [m for m in FILTERED_RECALL_MODS if tier[f"t{m}"] > FILTERED_BRUTE_MAX]
    probe_sets: dict = {m: None for m in FILTERED_RECALL_MODS}
    cand_frames: list = [
        _all_eligible_pairs(assign, m)
        for m in FILTERED_RECALL_MODS
        if tier[f"t{m}"] <= FILTERED_BRUTE_MAX
    ]
    n_exact = len(cand_frames)
    if adaptive:
        elig_mat = assign.groupBy("cell").agg(
            *[
                F.sum(F.when(F.col("vec_id") % m == 0, 1).otherwise(0)).alias(f"n{m}")
                for m in adaptive
            ]
        )
        ranked = spark.sql(_ivf_cells_sql(temp_view_for(d2, "ivf_d2")))
        w_prev = (
            Window.partitionBy("qid")
            .orderBy("rn")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        j = ranked.join(F.broadcast(elig_mat), "cell", "left")
        for m in adaptive:
            j = j.withColumn(
                f"cum{m}",
                F.coalesce(
                    F.sum(F.coalesce(F.col(f"n{m}"), F.lit(0))).over(w_prev),
                    F.lit(0),
                ),
            )
        pschema = T.StructType([j.schema["qid"], j.schema["cell"]])
        jrows = j.collect()  # bounded: N_QUERIES × N_CENTROIDS
        for m in adaptive:
            sel = [
                (r["qid"], r["cell"])
                for r in jrows
                if r["rn"] <= N_PROBE or r[f"cum{m}"] < FILTERED_MIN_ELIGIBLE
            ]
            probe_sets[m] = spark.createDataFrame(sel, pschema)
            cand_frames.append(
                assign.join(F.broadcast(probe_sets[m]), "cell")
                .filter(F.col("vec_id") != F.col("qid"))
                .select("qid", "vec_id")
            )
    # adaptive frames first: with an exact-tier frame leading the union,
    # Spark 4.1.2 drops the union's vec_id hash partitioning and the
    # distinct shuffles the candidates once more (measured at sf0.01)
    union_cand = None
    for cf in cand_frames[n_exact:] + cand_frames[:n_exact]:
        union_cand = cf if union_cand is None else union_cand.unionByName(cf)
    union_cand = union_cand.distinct()
    nb_cell = assign.select(F.col("vec_id").alias("neighbor_id"), "cell")
    cand_scored = (
        _rank_candidates(comp, union_cand, k=1 << 62)
        .select("qid", "neighbor_id", "cosine")
        .join(nb_cell, "neighbor_id")
        .cache()
    )
    qids = bf.select("qid").distinct()
    out = None
    for mod in FILTERED_RECALL_MODS:
        w = Window.partitionBy("qid").orderBy(
            F.col("cosine").desc(), F.col("neighbor_id")
        )
        truth = (
            bf.filter(F.col("neighbor_id") % mod == 0)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= ANN_EVAL_K)
            .select("qid", "neighbor_id")
        )
        base = (
            cand_scored
            if probe_sets[mod] is None  # exact tier: all eligible scored
            else cand_scored.join(
                F.broadcast(probe_sets[mod]), ["qid", "cell"], "left_semi"
            )
        )
        approx = (
            base.filter(F.col("neighbor_id") % mod == 0)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= ANN_EVAL_K)
            .select("qid", "neighbor_id")
        )
        tn = truth.groupBy("qid").agg(F.count("*").alias("truth_n"))
        hits = (
            truth.join(approx, ["qid", "neighbor_id"], "left_semi")
            .groupBy("qid")
            .agg(F.count("*").alias("hits"))
        )
        m = (
            qids.join(tn, "qid", "left")
            .join(hits, "qid", "left")
            .select(
                F.lit(mod).cast("bigint").alias("filter_mod"),
                "qid",
                F.coalesce("truth_n", F.lit(0)).cast("bigint").alias("truth_n"),
                F.coalesce("hits", F.lit(0)).cast("bigint").alias("hits"),
                F.when(
                    F.coalesce("truth_n", F.lit(0)) > 0,
                    F.coalesce("hits", F.lit(0)).cast("double")
                    / F.col("truth_n").cast("double"),
                )
                .otherwise(F.lit(None).cast("double"))
                .alias("recall"),
            )
        )
        out = m if out is None else out.unionByName(m)
    # the result is bounded (|MODS| x |queries| rows): collect it
    # eagerly so the cached frames unpersist before returning
    final = out.orderBy("filter_mod", "qid")
    rows, schema = final.collect(), final.schema
    bf.unpersist()
    cand_scored.unpersist()
    d2.unpersist()
    assign.unpersist()
    return spark.createDataFrame(rows, schema)


def _filtered_recall_oracle() -> str:
    """Oracle for sim_filtered_recall: the shared score blocks (exact
    all-pairs + candidate scores over the UNION of the rungs' adaptive
    probe sets) once, one truth/approx/hits rung per selectivity,
    UNION ALL — generated from the same FILTERED_RECALL_MODS and
    adaptive-probe rule (_ivf_probes_adaptive) the Spark side runs."""
    shared = _COMP_CTES + f""",
q AS (SELECT vec_id AS qid, idx, val AS qval FROM comp WHERE vec_id < {N_QUERIES}),
bfdots AS (
  SELECT qid, vec_id, CAST(SUM(val * qval) AS DECIMAL(38,18)) AS dot
  FROM comp JOIN q USING (idx)
  WHERE vec_id <> qid
  GROUP BY qid, vec_id
),
bfres AS (
  SELECT qid, bfdots.vec_id AS neighbor_id,
         CAST(CAST(dot AS DOUBLE) / (sqrt(CAST(qn.n2 AS DOUBLE)) * sqrt(CAST(nn.n2 AS DOUBLE))) AS DECIMAL(10,8)) AS cosine
  FROM bfdots
  JOIN norms qn ON qn.vec_id = bfdots.qid
  JOIN norms nn ON nn.vec_id = bfdots.vec_id
),
cent AS (SELECT vec_id AS cid, idx, val AS cval FROM comp WHERE vec_id < {N_CENTROIDS}),
celld2 AS (
  SELECT vec_id, cid,
         CAST(SUM((val - cval) * (val - cval)) AS DECIMAL(38,18)) AS d2
  FROM comp JOIN cent USING (idx) GROUP BY vec_id, cid
),
assign AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM celld2
  ) WHERE rn = 1
),
ranked_cells AS (
  SELECT vec_id AS qid, cid AS cell,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
  FROM celld2 WHERE vec_id < {N_QUERIES}
)"""
    probe_ctes = []
    for mod in FILTERED_RECALL_MODS:
        probe_ctes.append(f""",
eligtot{mod} AS (
  SELECT COUNT(*) AS t FROM assign WHERE vec_id % {mod} = 0
),
elig{mod} AS (
  SELECT cell, COUNT(*) AS n_elig FROM assign
  WHERE vec_id % {mod} = 0 GROUP BY cell
),
probes{mod} AS MATERIALIZED (
  SELECT qid, cell FROM (
    SELECT r.qid, r.cell, r.rn,
           COALESCE(SUM(COALESCE(e.n_elig, 0)) OVER (
             PARTITION BY r.qid ORDER BY r.rn
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_prev
    FROM ranked_cells r LEFT JOIN elig{mod} e USING (cell)
  ) WHERE rn <= {N_PROBE} OR cum_prev < {FILTERED_MIN_ELIGIBLE}
)""")
    union_sql = "\n    UNION ALL ".join(
        f"SELECT qid, cell FROM probes{mod}" for mod in FILTERED_RECALL_MODS
    )
    brute_or = "\n     OR ".join(
        f"(a.vec_id % {mod} = 0 AND (SELECT t FROM eligtot{mod}) <= {FILTERED_BRUTE_MAX})"
        for mod in FILTERED_RECALL_MODS
    )
    scored = f""",
unionprobes AS (
  SELECT DISTINCT qid, cell FROM ({union_sql})
),
qset AS (SELECT DISTINCT vec_id AS qid FROM comp WHERE vec_id < {N_QUERIES}),
allcand AS (
  -- probe-tier pairs from every rung's probed cells, plus exact-tier
  -- pairs (all eligible) for rungs at or below FILTERED_BRUTE_MAX;
  -- a superset scored frame is harmless — each rung's app cut keeps
  -- only its own tier's pairs
  SELECT DISTINCT qid, vec_id, cell FROM (
    SELECT up.qid, a.vec_id, a.cell FROM assign a JOIN unionprobes up USING (cell)
    WHERE a.vec_id <> up.qid
    UNION ALL
    SELECT qs.qid, a.vec_id, a.cell FROM qset qs, assign a
    WHERE a.vec_id <> qs.qid AND ({brute_or})
  )
),
cdots AS (
  SELECT c.qid, c.vec_id, CAST(SUM(comp.val * q.qval) AS DECIMAL(38,18)) AS dot
  FROM allcand c
  JOIN comp ON comp.vec_id = c.vec_id
  JOIN q ON q.qid = c.qid AND q.idx = comp.idx
  GROUP BY c.qid, c.vec_id
),
cres AS MATERIALIZED (
  SELECT qid, cdots.vec_id AS neighbor_id,
         CAST(CAST(dot AS DOUBLE) / (sqrt(CAST(qn.n2 AS DOUBLE)) * sqrt(CAST(nn.n2 AS DOUBLE))) AS DECIMAL(10,8)) AS cosine,
         a.cell
  FROM cdots
  JOIN norms qn ON qn.vec_id = cdots.qid
  JOIN norms nn ON nn.vec_id = cdots.vec_id
  JOIN assign a ON a.vec_id = cdots.vec_id
),
qids AS (SELECT DISTINCT qid FROM bfres)"""
    rungs = []
    blocks = []
    for mod in FILTERED_RECALL_MODS:
        rungs.append(f""",
truth{mod} AS (
  SELECT qid, neighbor_id FROM (
    SELECT qid, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, neighbor_id) AS rn
    FROM bfres WHERE neighbor_id % {mod} = 0
  ) WHERE rn <= {ANN_EVAL_K}
),
app{mod} AS (
  SELECT qid, neighbor_id FROM (
    SELECT cres.qid, cres.neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY cres.qid ORDER BY cres.cosine DESC, cres.neighbor_id) AS rn
    FROM cres
    WHERE cres.neighbor_id % {mod} = 0
      AND ((SELECT t FROM eligtot{mod}) <= {FILTERED_BRUTE_MAX}
           OR EXISTS (SELECT 1 FROM probes{mod} p
                      WHERE p.qid = cres.qid AND p.cell = cres.cell))
  ) WHERE rn <= {ANN_EVAL_K}
),
tn{mod} AS (SELECT qid, COUNT(*) AS truth_n FROM truth{mod} GROUP BY qid),
h{mod} AS (
  SELECT t.qid, COUNT(*) AS hits FROM truth{mod} t
  WHERE EXISTS (SELECT 1 FROM app{mod} a
                WHERE a.qid = t.qid AND a.neighbor_id = t.neighbor_id)
  GROUP BY t.qid
)""")
        blocks.append(f"""
SELECT CAST({mod} AS BIGINT) AS filter_mod, qids.qid,
       CAST(COALESCE(tn{mod}.truth_n, 0) AS BIGINT) AS truth_n,
       CAST(COALESCE(h{mod}.hits, 0) AS BIGINT) AS hits,
       CASE WHEN COALESCE(tn{mod}.truth_n, 0) > 0
            THEN CAST(COALESCE(h{mod}.hits, 0) AS DOUBLE) / tn{mod}.truth_n
            ELSE NULL END AS recall
FROM qids
LEFT JOIN tn{mod} ON tn{mod}.qid = qids.qid
LEFT JOIN h{mod} ON h{mod}.qid = qids.qid""")
    return (
        shared + "".join(probe_ctes) + scored + "".join(rungs) + "\n"
        + "\nUNION ALL\n".join(blocks)
        + "\nORDER BY filter_mod, qid"
    )


SIM_FILTERED_RECALL_ORACLE = _filtered_recall_oracle()


def _filtered_recall_probes(spark: SparkSession, sf_dir: str) -> dict:
    """Construction-phase plans for the audit (round-10 ADVICE —
    sim_filtered_recall collects its bounded |MODS|×|queries| result
    eagerly, so without probes the brute-force cosine block and the
    candidate ranking escape the global cartesian/nested-loop guard):
    the exact all-pairs score block, the IVF candidate ranking, and one
    selectivity rung's truth/approx semi-join."""
    comp = _components(spark, sf_dir)
    bf = _bf_cosines(spark, sf_dir)
    mod = FILTERED_RECALL_MODS[-1]  # the most selective rung
    cand_mod = _ivf_candidates_filtered(comp, mod)
    cand_scored = _rank_candidates(comp, cand_mod, k=1 << 62).select(
        "qid", "neighbor_id", "cosine"
    )
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    truth = (
        bf.filter(F.col("neighbor_id") % mod == 0)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= ANN_EVAL_K)
        .select("qid", "neighbor_id")
    )
    approx = (
        cand_scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= ANN_EVAL_K)
        .select("qid", "neighbor_id")
    )
    hits = (
        truth.join(approx, ["qid", "neighbor_id"], "left_semi")
        .groupBy("qid")
        .agg(F.count("*").alias("hits"))
    )
    return {"bf_cosine": bf, "candidate_rank": cand_scored, "rung_hits": hits}


SPECS.append(
    QuerySpec(
        "sim_filtered_recall",
        sim_filtered_recall,
        SIM_FILTERED_RECALL_ORACLE,
        probes=_filtered_recall_probes,
    )
)


LABEL_AUDIT_QUERIES = 50  # audited block (vec_id < this)
LABEL_AUDIT_K = 5         # neighbors voting


def emb_label_noise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN label-noise audit (Confident-Learning's cheap cousin, the
    pass a labeled-corpus pipeline runs before training): for every
    vector in the audited block, the majority label among its
    LABEL_AUDIT_K exact nearest neighbors; a vector whose own label
    loses the vote is a relabel/review candidate. Emits (vec_id,
    label, predicted, votes_for_predicted, is_suspect).

    Determinism: neighbor ranking is the engine's grid-snapped exact
    cosine with neighbor_id tie-break; votes are integers; the
    majority tie-break is (votes DESC, label ASC).

    Scale shape: the audit runs over a SAMPLED block (the sim-family
    convention — exact kNN is the expensive part by definition); at
    the corpus scale the same vote runs on the ANN shortlist instead
    (sim_ann_index_search's output schema is drop-in)."""
    bf = _bf_cosines(spark, sf_dir, n_queries=LABEL_AUDIT_QUERIES)
    w = Window.partitionBy("qid").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    topk = (
        bf.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= LABEL_AUDIT_K)
        .select("qid", "neighbor_id")
    )
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    votes = (
        topk.join(emb.select(F.col("vec_id").alias("neighbor_id"),
                             F.col("label").alias("nl")), "neighbor_id")
        .groupBy("qid", "nl")
        .agg(F.count("*").alias("votes"))
    )
    wv = Window.partitionBy("qid").orderBy(F.col("votes").desc(), F.col("nl"))
    pred = (
        votes.withColumn("rn", F.row_number().over(wv))
        .filter(F.col("rn") == 1)
        .select("qid", F.col("nl").alias("predicted"),
                F.col("votes").alias("votes_for_predicted"))
    )
    return (
        emb.filter(F.col("vec_id") < LABEL_AUDIT_QUERIES)
        .join(pred, emb.vec_id == pred.qid)
        .select(
            "vec_id",
            "label",
            "predicted",
            F.col("votes_for_predicted").cast("bigint").alias("votes_for_predicted"),
            (F.col("predicted") != F.col("label")).alias("is_suspect"),
        )
        .orderBy("vec_id")
    )


EMB_LABEL_NOISE_ORACLE = _COMP_CTES + f""",
q AS (SELECT vec_id AS qid, idx, val AS qval FROM comp WHERE vec_id < {LABEL_AUDIT_QUERIES}),
dots AS (
  SELECT qid, vec_id, CAST(SUM(val * qval) AS DECIMAL(38,18)) AS dot
  FROM comp JOIN q USING (idx)
  WHERE vec_id <> qid
  GROUP BY qid, vec_id
),
scored AS (
  SELECT qid, dots.vec_id AS neighbor_id,
         CAST(CAST(dot AS DOUBLE) / (sqrt(CAST(qn.n2 AS DOUBLE)) * sqrt(CAST(nn.n2 AS DOUBLE))) AS DECIMAL(10,8)) AS cosine
  FROM dots
  JOIN norms qn ON qn.vec_id = dots.qid
  JOIN norms nn ON nn.vec_id = dots.vec_id
),
topk AS (
  SELECT qid, neighbor_id FROM (
    SELECT qid, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, neighbor_id) AS rn
    FROM scored
  ) WHERE rn <= {LABEL_AUDIT_K}
),
votes AS (
  SELECT t.qid, e.label AS nl, COUNT(*) AS votes
  FROM topk t JOIN embeddings e ON e.vec_id = t.neighbor_id
  GROUP BY 1, 2
),
pred AS (
  SELECT qid, nl AS predicted, votes FROM (
    SELECT qid, nl, votes,
           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY votes DESC, nl) AS rn
    FROM votes
  ) WHERE rn = 1
)
SELECT e.vec_id, e.label, p.predicted,
       CAST(p.votes AS BIGINT) AS votes_for_predicted,
       p.predicted <> e.label AS is_suspect
FROM embeddings e JOIN pred p ON p.qid = e.vec_id
WHERE e.vec_id < {LABEL_AUDIT_QUERIES}
ORDER BY e.vec_id
"""


SPECS.append(QuerySpec("emb_label_noise", emb_label_noise, EMB_LABEL_NOISE_ORACLE))


def sim_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN index health report — the numbers an operator reads before
    trusting (or re-training) an IVF index: per-cell occupancy of the
    corpus assignment, as cells, occupied cells, min/max/mean
    occupancy, and the hot-cell ratio max/mean (a skewed quantizer
    sends every query to the same few cells, turning the probe into a
    scan; occupancy balance is the index's partition-balance story).
    One row; all counts exact, the two ratios grid-snapped.

    100-TB shape: the assignment is the index's own (vector, cell)
    frame; stats are one map-side-combinable per-cell count plus a
    bounded |cells|-row aggregate."""
    comp = _components(spark, sf_dir)
    d2 = _ivf_cell_d2(comp, _ivf_centroids(comp))
    assign = _ivf_assign(d2)
    occ = assign.groupBy("cell").agg(F.count("*").alias("n"))
    n_vecs = comp.select("vec_id").distinct().count()
    return occ.agg(
        F.lit(int(N_CENTROIDS)).cast("bigint").alias("n_cells"),
        F.count("*").cast("bigint").alias("occupied_cells"),
        F.lit(n_vecs).cast("bigint").alias("n_vectors"),
        F.min("n").cast("bigint").alias("min_occ"),
        F.max("n").cast("bigint").alias("max_occ"),
        (
            F.floor(
                F.sum("n").cast("double") / F.count("*").cast("double") * 1e9
                + F.lit(0.5)
            )
            / 1e9
        ).alias("mean_occ"),
        (
            F.floor(
                F.max("n").cast("double")
                / (F.sum("n").cast("double") / F.count("*").cast("double"))
                * 1e9
                + F.lit(0.5)
            )
            / 1e9
        ).alias("hot_cell_ratio"),
    )


SIM_INDEX_STATS_ORACLE = _COMP_CTES + f""",
cent AS (SELECT vec_id AS cid, idx, val AS cval FROM comp WHERE vec_id < {N_CENTROIDS}),
d2 AS (
  SELECT vec_id, cid,
         CAST(SUM((val - cval) * (val - cval)) AS DECIMAL(38,18)) AS d2
  FROM comp JOIN cent USING (idx) GROUP BY vec_id, cid
),
assign AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM d2
  ) WHERE rn = 1
),
occ AS (SELECT cell, COUNT(*) AS n FROM assign GROUP BY cell)
SELECT CAST({N_CENTROIDS} AS BIGINT) AS n_cells,
       CAST(COUNT(*) AS BIGINT) AS occupied_cells,
       (SELECT CAST(COUNT(DISTINCT vec_id) AS BIGINT) FROM comp) AS n_vectors,
       CAST(MIN(n) AS BIGINT) AS min_occ,
       CAST(MAX(n) AS BIGINT) AS max_occ,
       floor(CAST(SUM(n) AS DOUBLE) / COUNT(*) * 1000000000.0 + 0.5) / 1000000000.0
         AS mean_occ,
       floor(CAST(MAX(n) AS DOUBLE) / (CAST(SUM(n) AS DOUBLE) / COUNT(*))
             * 1000000000.0 + 0.5) / 1000000000.0 AS hot_cell_ratio
FROM occ
"""


SPECS.append(QuerySpec("sim_index_stats", sim_index_stats, SIM_INDEX_STATS_ORACLE))


# ---------------------------------------------------------------------------
# Registered Lloyd's k-means (round 11) — promotes train_ivf_centroids'
# pytest-only capability to an oracle-checked query, the PCA precedent
# (emb_pca_direction round 8: "iterative is not SQL-oracle-able" was
# wrong — unroll the rounds as CTEs over the same gridded components).
# ---------------------------------------------------------------------------

KMEANS_K = 8
KMEANS_ITERS = 3


def emb_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd's k-means over the embedding components:
    (cid, n_members, inertia) after :data:`KMEANS_ITERS` exact
    assignment/update rounds from the deterministic seed set (first
    :data:`KMEANS_K` vectors — the IVF-centroid convention).

    Determinism (the emb_pca_direction discipline, applied to the OTHER
    classic iterative kernel): assignment distances are the exact-
    decimal ``_ivf_cell_d2`` sums (ties on cid), so the argmin is exact;
    each centroid update is one IEEE division (decimal SUM / count)
    snapped to the component grid (1e-9, half-up) before it re-enters
    the next round — both engines iterate over IDENTICAL decimal
    centroid tables, so no drift can accumulate. The DuckDB oracle
    unrolls every round as CTEs over the same gridded components.
    Empty clusters keep their previous centroid (LEFT JOIN + COALESCE,
    mirrored).

    100-TB shape: per round, one broadcast of the K×dim centroid table
    onto the component frame (the IVF assignment topology — no shuffle
    grows with K) and one (cid, idx) mean aggregate (map-side
    combinable, K·dim result rows).

    Round 14 (guide §2.6/§7.3): the per-round K×dim driver COLLECT is
    gone — each round's centroid frame now re-enters the next round as
    a lazy BROADCAST SUBPLAN, so the whole recurrence executes as ONE
    Spark job (the broadcast builds are its internal stages, and
    Spark's exchange reuse dedupes the shared prefixes) instead of
    KMEANS_ITERS sequential collect jobs + a final job, each paying a
    scheduling round trip and re-running the shared lineage. Paired
    in-JVM ABAB at sf0.1 (5 alternating rounds): med 4.02 → 3.07 s,
    construct 3.15 → 0.40 s; rows proven identical both directions
    (the collect/createDataFrame hop performed no arithmetic — the
    grid-snapped mean expressions are unchanged). Plan-size honesty
    (round-14 ADVICE): cents is referenced twice per round (the left
    join and the means subtree), so the LOGICAL tree grows ~2^ITERS —
    fine at KMEANS_ITERS=3 (round-15 executed-plan dump
    plans/r15/emb_kmeans_executed.txt: isFinalPlan=true with 22
    ReusedExchange nodes — AQE dedupes the shared subtrees at runtime,
    and a comp localCheckpoint/persist ABAB measured a wash: med
    3.95/3.80/3.95 s). Raising KMEANS_ITERS materially requires
    re-introducing a periodic collect or localCheckpoint every few
    rounds to cap the tree (the pagerank cadence discipline) — the
    EXECUTED work per round is flat, but analysis/broadcast nesting is
    not. The model never needs to visit the driver at all;
    train_ivf_centroids remains the fast float-path trainer for IVF
    builds."""
    # NOT persisted (round-14 negative A/B, guide §5's "caching is only
    # worth it when recomputing is more expensive than the memory
    # pressure"): comp feeds ~8 subtrees across the rounds, but
    # persisting it measured SLOWER at sf0.1 (warm median 5.23 → 6.54 s)
    # — the scan+posexplode+grid pipeline is fully codegen-fused and
    # cheaper to re-run than the columnar cache is to build and decode.
    comp = _components(spark, sf_dir)
    cents = comp.filter(F.col("vec_id") < KMEANS_K).select(
        F.col("vec_id").alias("cid"), "idx", F.col("val").alias("cval")
    )
    # Round 15 (guide §1.2 per-task work): the per-round argmin is a
    # map-side-combinable MIN of struct(d2, cid) — lexicographic struct
    # ordering IS (d2 ASC, cid ASC), the exact selection the
    # row_number window made, with the window's per-round SORT removed
    # (4 sorts per execution: 3 rounds + final best). ABAB (7 rounds,
    # one JVM): med 2.708 → 2.591 s; rows identical both ways. Kept
    # LOCAL to this 4-pass query: in the single-pass IVF consumers
    # (_ivf_assign_sql) the same argmin plans as SortAggregate + Sort;
    # on 5 IVF keys the exchange and sort counts stayed the same and
    # only 1-2 Window nodes went away — not a clear win there.
    for _ in range(KMEANS_ITERS):
        d2 = _ivf_cell_d2(comp, cents)
        assign = (
            d2.groupBy("vec_id")
            .agg(F.min(F.struct("d2", "cid")).alias("m"))
            .select("vec_id", F.col("m.cid").alias("cid"))
        )
        means = (
            assign.join(comp, "vec_id")
            .groupBy("cid", "idx")
            .agg(
                (
                    F.floor(
                        (F.sum("val").cast("double") / F.count("*"))
                        * F.lit(1e9)
                        + F.lit(0.5)
                    )
                    / F.lit(1e9)
                )
                .cast(cents.schema["cval"].dataType.simpleString())
                .alias("mval")
            )
        )
        # the next round's centroid frame stays LAZY — it enters the
        # following _ivf_cell_d2 as a broadcast subplan (see docstring)
        cents = cents.join(means, ["cid", "idx"], "left").select(
            "cid", "idx", F.coalesce("mval", F.col("cval")).alias("cval")
        )
    final = _ivf_cell_d2(comp, cents)
    best = (
        final.groupBy("vec_id")
        .agg(F.min(F.struct("d2", "cid")).alias("m"))
        .select(F.col("m.cid").alias("cid"), F.col("m.d2").alias("d2"))
    )
    return (
        best.groupBy("cid")
        .agg(
            F.count("*").cast("bigint").alias("n_members"),
            # double first (the wide-decimal→double conversion may
            # differ by 1 ULP across engines — the _bf_cosines caveat),
            # then the 1e-6 snap absorbs it (the PSI grid idiom;
            # decimal-domain downscaling instead rounds HALF-differently
            # across engines — measured 1-unit mismatches at scale 10)
            (
                F.floor(F.sum("d2").cast("double") * F.lit(1e6) + F.lit(0.5))
                / F.lit(1e6)
            ).alias("inertia"),
        )
        .orderBy("cid")
    )


def _kmeans_probes(spark: SparkSession, sf_dir: str) -> "dict[str, DataFrame]":
    """Construction plans of one k-means round (the collected centroid
    table enters the next round only as a literal frame, so the seed
    stand-in reproduces the identical round-plan structure)."""
    comp = _components(spark, sf_dir)
    cents = comp.filter(F.col("vec_id") < KMEANS_K).select(
        F.col("vec_id").alias("cid"), "idx", F.col("val").alias("cval")
    )
    assign = _ivf_assign(_ivf_cell_d2(comp, cents))
    means = (
        assign.join(comp, "vec_id")
        .groupBy("cell", "idx")
        .agg(F.sum("val").alias("s"), F.count("*").alias("n"))
    )
    return {"kmeans_round_update": means}


def _kmeans_oracle() -> str:
    k, iters = KMEANS_K, KMEANS_ITERS
    parts = [
        _COMP_CTES,
        f""",
c0 AS (SELECT vec_id AS cid, idx, val AS cval FROM comp WHERE vec_id < {k})""",
    ]
    prev = "c0"
    for t in range(1, iters + 1):
        parts.append(f""",
d{t} AS (
  SELECT comp.vec_id, cid,
         CAST(SUM((val - cval) * (val - cval)) AS DECIMAL(38,18)) AS d2
  FROM comp JOIN {prev} USING (idx)
  GROUP BY comp.vec_id, cid),
a{t} AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
    FROM d{t}) r WHERE rn = 1),
m{t} AS (
  SELECT a{t}.cid, comp.idx,
         CAST(FLOOR(CAST(SUM(comp.val) AS DOUBLE) / COUNT(*) * 1000000000.0 + 0.5)
              / 1000000000.0 AS DECIMAL(18,9)) AS mval
  FROM a{t} JOIN comp USING (vec_id)
  GROUP BY a{t}.cid, comp.idx),
c{t} AS (
  SELECT {prev}.cid, {prev}.idx, COALESCE(m{t}.mval, {prev}.cval) AS cval
  FROM {prev} LEFT JOIN m{t} ON m{t}.cid = {prev}.cid AND m{t}.idx = {prev}.idx)""",
        )
        prev = f"c{t}"
    parts.append(f""",
dfin AS (
  SELECT comp.vec_id, cid,
         CAST(SUM((val - cval) * (val - cval)) AS DECIMAL(38,18)) AS d2
  FROM comp JOIN {prev} USING (idx)
  GROUP BY comp.vec_id, cid),
afin AS (
  SELECT vec_id, cid, d2 FROM (
    SELECT vec_id, cid, d2,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
    FROM dfin) r WHERE rn = 1)
SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_members,
       FLOOR(CAST(SUM(d2) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS inertia
FROM afin
GROUP BY cid
ORDER BY cid""",
    )
    return "".join(parts)


SPECS.append(
    QuerySpec("emb_kmeans", emb_kmeans, _kmeans_oracle(), probes=_kmeans_probes)
)


# ---------------------------------------------------------------------------
# Incremental IVF index maintenance (round 11) — the delta-ingest half of
# the index lifecycle. build_ann_index / sim_index_stats cover build and
# health; this covers APPEND: new vectors are quantized against the
# FROZEN centroid set (never retrained per batch — that is what keeps
# delta ingest cheap), and the per-cell growth report is what decides
# when a retrain (emb_kmeans) is due. Complements dedup_incremental
# (probe-vs-corpus) on the dedup side.
# ---------------------------------------------------------------------------

DELTA_MOD = 10       # vec_id % 10 >= DELTA_SPLIT → delta batch
DELTA_SPLIT = 8      # 80% base corpus / 20% arriving batch
DELTA_REBALANCE = 0.5  # flag cells growing >50% in one batch


def emb_index_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell ingest report for one delta batch: base occupancy, delta
    occupancy, growth ratio, and the rebalance flag. The deterministic
    80/20 split on ``vec_id % 10`` stands in for base-corpus vs arriving
    batch (same device as dedup_incremental's probe split).

    Shape: the corpus components explode ONCE; base and delta are
    filters over that one frame, each assigned by the shared
    exact-decimal argmin kernel (_ivf_cell_d2 + _ivf_assign) against the
    SAME frozen centroids. 100-TB shape: the base assignment is the
    index's own stored (vector, cell) frame — a real deployment reads
    it, paying only |delta| quantizations (one broadcast of the K×D
    centroid matrix onto the delta components, one map-side-combined
    distance aggregate, one bounded per-cell count). The growth join is
    |cells| vs |cells| — bounded metadata."""
    comp = _components(spark, sf_dir)
    cent = _ivf_centroids(comp)
    base = comp.filter(F.col("vec_id") % DELTA_MOD < DELTA_SPLIT)
    delta = comp.filter(F.col("vec_id") % DELTA_MOD >= DELTA_SPLIT)
    base_occ = (
        _ivf_assign(_ivf_cell_d2(base, cent))
        .groupBy("cell")
        .agg(F.count("*").alias("base_n"))
    )
    delta_occ = (
        _ivf_assign(_ivf_cell_d2(delta, cent))
        .groupBy("cell")
        .agg(F.count("*").alias("delta_n"))
    )
    # full outer: a cell can be empty on either side (unoccupied base
    # cell receiving its first vectors is exactly the rebalance case)
    joined = base_occ.join(delta_occ, "cell", "full_outer").select(
        F.col("cell").cast("bigint").alias("cell"),
        F.coalesce("base_n", F.lit(0)).cast("bigint").alias("base_n"),
        F.coalesce("delta_n", F.lit(0)).cast("bigint").alias("delta_n"),
    )
    growth = (
        F.floor(
            F.col("delta_n").cast("double")
            / F.greatest(F.col("base_n").cast("double"), F.lit(1.0))
            * 1e6
            + F.lit(0.5)
        )
        / 1e6
    )
    return (
        joined.withColumn("growth", growth)
        .withColumn(
            "rebalance",
            (F.col("base_n") == 0) | (F.col("growth") > F.lit(DELTA_REBALANCE)),
        )
        .orderBy("cell")
    )


EMB_INDEX_DELTA_ORACLE = _COMP_CTES + f""",
cent AS (SELECT vec_id AS cid, idx, val AS cval FROM comp WHERE vec_id < {N_CENTROIDS}),
d2 AS (
  SELECT comp.vec_id, cid,
         CAST(SUM((val - cval) * (val - cval)) AS DECIMAL(38,18)) AS d2
  FROM comp JOIN cent USING (idx) GROUP BY comp.vec_id, cid
),
assign AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM d2
  ) WHERE rn = 1
),
base_occ AS (
  SELECT cell, COUNT(*) AS base_n FROM assign
  WHERE vec_id % {DELTA_MOD} < {DELTA_SPLIT} GROUP BY cell
),
delta_occ AS (
  SELECT cell, COUNT(*) AS delta_n FROM assign
  WHERE vec_id % {DELTA_MOD} >= {DELTA_SPLIT} GROUP BY cell
),
joined AS (
  SELECT CAST(COALESCE(b.cell, d.cell) AS BIGINT) AS cell,
         CAST(COALESCE(base_n, 0) AS BIGINT) AS base_n,
         CAST(COALESCE(delta_n, 0) AS BIGINT) AS delta_n
  FROM base_occ b FULL OUTER JOIN delta_occ d USING (cell)
)
SELECT cell, base_n, delta_n,
       FLOOR(CAST(delta_n AS DOUBLE) / GREATEST(CAST(base_n AS DOUBLE), 1.0)
             * 1000000.0 + 0.5) / 1000000.0 AS growth,
       (base_n = 0
        OR FLOOR(CAST(delta_n AS DOUBLE) / GREATEST(CAST(base_n AS DOUBLE), 1.0)
                 * 1000000.0 + 0.5) / 1000000.0 > {DELTA_REBALANCE}) AS rebalance
FROM joined
ORDER BY cell
"""

SPECS.append(QuerySpec("emb_index_delta", emb_index_delta, EMB_INDEX_DELTA_ORACLE))


# ---------------------------------------------------------------------------
# Matryoshka truncation audit (round 14, session 2) — MRL embeddings
# (Kusupati et al. 2022) promise that a prefix of the vector is a
# usable embedding; production then serves truncated dims for cost.
# Before flipping that switch you MEASURE what top-k agreement each
# prefix keeps. Same discipline as sim_ann_recall: recall is computed,
# never assumed.
# ---------------------------------------------------------------------------

MRL_LADDER = (8, 16, 32)  # prefix lengths audited against the full 64-dim truth
#            (distinct from MRL_DIMS above — sim_truncated_topk's single serving dim)


def _trunc_topk(comp: DataFrame, d: "int | None") -> DataFrame:
    """(qid, neighbor_id) top-TOP_K by cosine over the first ``d``
    components (full vector when d is None) — :func:`_cosine_sql` with a
    prefix filter pushed into the component scan."""
    c = comp.filter(F.col("idx") < d) if d is not None else comp
    top = _cosine_sql(temp_view_for(c, "comp"), k=TOP_K)
    return comp.sparkSession.sql(top).select("qid", "neighbor_id")


def emb_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per truncation dim: (trunc_dim, n_queries, k, hits, recall_ppm)
    — hits = |topK(prefix) ∩ topK(full)| summed over the query set,
    recall in exact ppm. The go/no-go table for serving truncated
    embeddings.

    100-TB shape: each prefix run is the brute-force block with
    idx < d pushed into the scan (the prefix SHRINKS the join input
    — exactly the cost model MRL promises); the component frame is
    shared via persist; the output is |MRL_LADDER| rows."""
    from pyspark import StorageLevel

    comp = _components(spark, sf_dir).persist(StorageLevel.MEMORY_AND_DISK)
    full = _trunc_topk(comp, None)
    outs = []
    for d in MRL_LADDER:
        hits = _trunc_topk(comp, d).join(full, ["qid", "neighbor_id"])
        outs.append(
            hits.agg(
                F.lit(d).cast("bigint").alias("trunc_dim"),
                F.countDistinct("qid").cast("bigint").alias("n_queries"),
                F.lit(int(TOP_K)).cast("bigint").alias("k"),
                F.count("*").cast("bigint").alias("hits"),
                F.expr(
                    f"div(count(*) * 1000000L, {int(N_QUERIES) * int(TOP_K)}L)"
                )
                .cast("bigint")
                .alias("recall_ppm"),
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res.orderBy("trunc_dim")


def _mrl_oracle() -> str:
    def block(tag: str, d: "int | None") -> str:
        # oracle comp.idx is 1-BASED (generate_series(1, len)); Spark's
        # posexplode idx is 0-based — "first d components" is idx <= d
        # here and idx < d in _trunc_topk
        where = f"WHERE idx <= {d}" if d is not None else ""
        return f"""
c{tag} AS (SELECT vec_id, idx, val FROM comp {where}),
n{tag} AS (SELECT vec_id, CAST(SUM(val * val) AS DECIMAL(38,18)) AS n2
           FROM c{tag} GROUP BY vec_id),
d{tag} AS (
  SELECT q.vec_id AS qid, c.vec_id,
         CAST(SUM(c.val * q.val) AS DECIMAL(38,18)) AS dot
  FROM c{tag} c JOIN c{tag} q USING (idx)
  WHERE q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
  GROUP BY q.vec_id, c.vec_id),
r{tag} AS (
  SELECT qid, neighbor_id FROM (
    SELECT qid, d.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (
             PARTITION BY qid
             ORDER BY CAST(CAST(dot AS DOUBLE)
                           / (sqrt(CAST(qn.n2 AS DOUBLE)) * sqrt(CAST(nn.n2 AS DOUBLE)))
                           AS DECIMAL(10,8)) DESC, d.vec_id) AS rnk
    FROM d{tag} d
    JOIN n{tag} qn ON qn.vec_id = d.qid
    JOIN n{tag} nn ON nn.vec_id = d.vec_id)
  WHERE rnk <= {TOP_K})"""

    parts = [_COMP_CTES.rstrip(), ",", block("full", None)]
    selects = []
    for d in MRL_LADDER:
        parts.append("," + block(f"t{d}", d))
        selects.append(f"""
SELECT CAST({d} AS BIGINT) AS trunc_dim,
       CAST(COUNT(DISTINCT h.qid) AS BIGINT) AS n_queries,
       CAST({TOP_K} AS BIGINT) AS k,
       CAST(COUNT(*) AS BIGINT) AS hits,
       CAST((COUNT(*) * 1000000) // {int(N_QUERIES) * int(TOP_K)} AS BIGINT) AS recall_ppm
FROM rt{d} h JOIN rfull USING (qid, neighbor_id)""")
    return "".join(parts) + "\nUNION ALL\n".join(selects) + "\nORDER BY trunc_dim"


SPECS.append(
    QuerySpec("emb_matryoshka_recall", emb_matryoshka_recall, _mrl_oracle())
)


# ---------------------------------------------------------------------------
# Binary (sign-bit) embedding retrieval audit (round 14, session 2) —
# the 1-bit quantization craze done honestly: pack sign bits into two
# 32-bit words per vector (16 bytes instead of 64 floats), search by
# popcount Hamming distance, and MEASURE what top-k agreement survives
# against the exact-cosine truth (the int8/PQ/matryoshka discipline at
# the most aggressive compression point on the curve).
# ---------------------------------------------------------------------------


def _sign_packed(comp: DataFrame) -> DataFrame:
    """(vec_id, lo, hi): sign bits of the 64 gridded components packed
    into two int64-held 32-bit words. The sign predicate (val > 0 on
    the exact decimal grid) is engine-identical; the packed sum is
    exact integer arithmetic."""
    bit = F.when(F.col("val") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), CAST(idx % 32 AS INT))")).otherwise(
        F.lit(0).cast("bigint")
    )
    return comp.groupBy("vec_id").agg(
        F.sum(F.when(F.col("idx") < 32, bit).otherwise(F.lit(0))).alias("lo"),
        F.sum(F.when(F.col("idx") >= 32, bit).otherwise(F.lit(0))).alias("hi"),
    )


HAMMING_SALT = 32  # equi-key fanout for the query broadcast (see _hamming_distances)


def _hamming_distances(packed: DataFrame) -> DataFrame:
    """(qid, neighbor_id, hamming) for every (corpus vector, query)
    pair with vec_id != qid — the popcount scan both binary-retrieval
    queries share.

    The pairing is all-pairs BY DESIGN (scanning every packed code IS
    the binary search), but it is keyed as an EQUI-join rather than a
    crossJoin: each corpus row carries salt = pmod(vec_id, HAMMING_SALT)
    and the broadcast query side is exploded once per salt value, so
    each corpus row meets each query exactly once through a
    BroadcastHashJoin. Identical pair set and results; the salt never
    reaches the output. This keeps the engine's no-nested-loop plan
    invariant (test_plan_quality) — the crossJoin form planned a
    BroadcastNestedLoopJoin — and at scale spreads probe work by key
    instead of riding one nested loop (guide §2.5/§3.1)."""
    q = packed.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("lo").alias("qlo"),
        F.col("hi").alias("qhi"),
    )
    qx = q.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(HAMMING_SALT - 1)))
    )
    return (
        packed.withColumn(
            "salt", F.pmod(F.col("vec_id"), F.lit(HAMMING_SALT)).cast("int")
        )
        .join(F.broadcast(qx), "salt")
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            F.col("vec_id").alias("neighbor_id"),
            (
                F.expr("bit_count(lo ^ qlo)") + F.expr("bit_count(hi ^ qhi)")
            ).alias("hamming"),
        )
    )


def emb_binary_hamming_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row: (k, n_queries, hits, recall_ppm) — top-K agreement of
    sign-bit Hamming search with the full-precision cosine truth.
    Hamming ties break on neighbor_id (total order, engine-identical).

    100-TB shape: the packed table is 3 int64 per vector — the
    whole-corpus scan the binary trick exists for: the 'distance' is
    two XOR+popcounts per candidate (register-speed, whole-stage
    codegen), and the packed frame is ~40× smaller than the float
    vectors it summarizes. Recall is measured, never assumed — on the
    fixture's random vectors it is the honest baseline number a
    deployment would demand before switching."""
    from pyspark import StorageLevel

    comp = _components(spark, sf_dir).persist(StorageLevel.MEMORY_AND_DISK)
    packed = _sign_packed(comp)
    ham = _hamming_distances(packed)
    w = Window.partitionBy("qid").orderBy("hamming", "neighbor_id")
    topb = (
        ham.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select("qid", "neighbor_id")
    )
    full = _trunc_topk(comp, None)
    hits = topb.join(full, ["qid", "neighbor_id"])
    return hits.agg(
        F.lit(int(TOP_K)).cast("bigint").alias("k"),
        F.lit(int(N_QUERIES)).cast("bigint").alias("n_queries"),
        F.count("*").cast("bigint").alias("hits"),
        F.expr(f"div(count(*) * 1000000L, {int(N_QUERIES) * int(TOP_K)}L)")
        .cast("bigint")
        .alias("recall_ppm"),
    )


def _binary_hamming_oracle() -> str:
    # oracle comp.idx is 1-BASED: bit position (idx-1) % 32, halves split
    # at idx <= 32 / idx > 32
    full_block = """
cfull AS (SELECT vec_id, idx, val FROM comp),
nfull AS (SELECT vec_id, CAST(SUM(val * val) AS DECIMAL(38,18)) AS n2
          FROM cfull GROUP BY vec_id),
dfull AS (
  SELECT q.vec_id AS qid, c.vec_id,
         CAST(SUM(c.val * q.val) AS DECIMAL(38,18)) AS dot
  FROM cfull c JOIN cfull q USING (idx)
  WHERE q.vec_id < {nq} AND c.vec_id <> q.vec_id
  GROUP BY q.vec_id, c.vec_id),
rfull AS (
  SELECT qid, neighbor_id FROM (
    SELECT qid, d.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (
             PARTITION BY qid
             ORDER BY CAST(CAST(dot AS DOUBLE)
                           / (sqrt(CAST(qn.n2 AS DOUBLE)) * sqrt(CAST(nn.n2 AS DOUBLE)))
                           AS DECIMAL(10,8)) DESC, d.vec_id) AS rnk
    FROM dfull d
    JOIN nfull qn ON qn.vec_id = d.qid
    JOIN nfull nn ON nn.vec_id = d.vec_id)
  WHERE rnk <= {k})""".format(nq=N_QUERIES, k=TOP_K)
    return (
        _COMP_CTES.rstrip()
        + ","
        + full_block
        + f""",
packed AS (
  SELECT vec_id,
         SUM(CASE WHEN idx <= 32 AND val > 0
                  THEN CAST(1 AS BIGINT) << ((idx - 1) % 32) ELSE 0 END) AS lo,
         SUM(CASE WHEN idx > 32 AND val > 0
                  THEN CAST(1 AS BIGINT) << ((idx - 1) % 32) ELSE 0 END) AS hi
  FROM comp GROUP BY vec_id),
ham AS (
  SELECT q.vec_id AS qid, p.vec_id AS neighbor_id,
         bit_count(xor(p.lo, q.lo)) + bit_count(xor(p.hi, q.hi)) AS hamming
  FROM packed p, packed q
  WHERE q.vec_id < {N_QUERIES} AND p.vec_id <> q.vec_id),
topb AS (
  SELECT qid, neighbor_id FROM (
    SELECT qid, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY hamming, neighbor_id) AS rnk
    FROM ham)
  WHERE rnk <= {TOP_K})
SELECT CAST({TOP_K} AS BIGINT) AS k,
       CAST({N_QUERIES} AS BIGINT) AS n_queries,
       CAST(COUNT(*) AS BIGINT) AS hits,
       CAST((COUNT(*) * 1000000) // {int(N_QUERIES) * int(TOP_K)} AS BIGINT) AS recall_ppm
FROM topb JOIN rfull USING (qid, neighbor_id)"""
    )


SPECS.append(
    QuerySpec(
        "emb_binary_hamming_recall",
        emb_binary_hamming_recall,
        _binary_hamming_oracle(),
    )
)


HAMMING_SHORTLIST_MULT = 8  # shortlist = 8×k candidates per query


def sim_hamming_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage binary retrieval — the production pattern the raw
    sign-bit audit motivates: a cheap XOR+popcount Hamming SHORTLIST
    (:data:`HAMMING_SHORTLIST_MULT`×k per query) followed by exact
    decimal-cosine rescoring of only those candidates (the PQ/ADC
    rescore discipline at 1 bit). Returns the reranked (qid, rank,
    neighbor_id, cosine) top-k.

    100-TB shape: stage 1 scans 16-byte packed codes (register math,
    no float); stage 2 touches full vectors for only mult·k·|queries|
    candidates — the float read is output-sized, not corpus-sized."""
    from pyspark import StorageLevel

    comp = _components(spark, sf_dir).persist(StorageLevel.MEMORY_AND_DISK)
    packed = _sign_packed(comp)
    ham = _hamming_distances(packed)
    wham = Window.partitionBy("qid").orderBy("hamming", "neighbor_id")
    shortlist = (
        ham.withColumn("rnk", F.row_number().over(wham))
        .filter(F.col("rnk") <= HAMMING_SHORTLIST_MULT * TOP_K)
        .select("qid", F.col("neighbor_id").alias("vec_id"))
    )
    comp_v = temp_view_for(comp, "comp")
    return spark.sql(_cosine_sql(comp_v, temp_view_for(shortlist, "cand"), TOP_K))


def _hamming_rerank_oracle() -> str:
    m = HAMMING_SHORTLIST_MULT * TOP_K
    return (
        _COMP_CTES.rstrip()
        + f""",
packed AS (
  SELECT vec_id,
         SUM(CASE WHEN idx <= 32 AND val > 0
                  THEN CAST(1 AS BIGINT) << ((idx - 1) % 32) ELSE 0 END) AS lo,
         SUM(CASE WHEN idx > 32 AND val > 0
                  THEN CAST(1 AS BIGINT) << ((idx - 1) % 32) ELSE 0 END) AS hi
  FROM comp GROUP BY vec_id),
ham AS (
  SELECT q.vec_id AS qid, p.vec_id AS neighbor_id,
         bit_count(xor(p.lo, q.lo)) + bit_count(xor(p.hi, q.hi)) AS hamming
  FROM packed p, packed q
  WHERE q.vec_id < {N_QUERIES} AND p.vec_id <> q.vec_id),
shortlist AS (
  SELECT qid, neighbor_id FROM (
    SELECT qid, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY hamming, neighbor_id) AS rnk
    FROM ham)
  WHERE rnk <= {m}),
dots AS (
  SELECT s.qid, s.neighbor_id,
         CAST(SUM(c.val * q.val) AS DECIMAL(38,18)) AS dot
  FROM shortlist s
  JOIN comp c ON c.vec_id = s.neighbor_id
  JOIN comp q ON q.vec_id = s.qid AND q.idx = c.idx
  GROUP BY s.qid, s.neighbor_id),
scored AS (
  SELECT qid, dots.neighbor_id,
         CAST(CAST(dot AS DOUBLE)
              / (sqrt(CAST(qn.n2 AS DOUBLE)) * sqrt(CAST(nn.n2 AS DOUBLE)))
              AS DECIMAL(10,8)) AS cosine
  FROM dots
  JOIN norms qn ON qn.vec_id = dots.qid
  JOIN norms nn ON nn.vec_id = dots.neighbor_id)
SELECT qid, rank, neighbor_id, cosine FROM (
  SELECT qid, neighbor_id, cosine,
         CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, neighbor_id)
              AS BIGINT) AS rank
  FROM scored)
WHERE rank <= {TOP_K}"""
    )


SPECS.append(
    QuerySpec(
        "sim_hamming_rerank", sim_hamming_rerank, _hamming_rerank_oracle()
    )
)
