"""Similarity search over embedding columns (`embeddings` table:
vec_id, embedding array<float>, label).

Two paths, same contract:
- `brute_force_topk`: exact cosine top-k — the correctness baseline.
  Dot products are native `zip_with`+`aggregate` expressions (JVM-side,
  no Python), accumulated in double left-to-right so the DuckDB oracle
  (`list_cosine_similarity`) matches to ~1 ulp; results round to 6dp.
- `ivf_topk`: IVF-style scale path — k-means-ish centroid assignment via
  deterministic hyperplane buckets, probe only matching buckets. At 100 TB
  this turns an O(N) scan per query into an O(N/buckets · probes) scan
  with the bucket id as a partition-prunable column.

Paper hooks (PAPERS.md): "Incremental ... Top-K Similarity Search" (EDBT
2020), "Continuously Adaptive Similarity Search" (SIGMOD 2020) — the
bucketed probe structure follows their filter-then-verify shape.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import persist_scoped


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ in double, sequential fold (native, codegen-friendly)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def brute_force_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine to a constant query vector.

    The query vector is a literal array (broadcast by constant-folding);
    the scan computes one fused projection then a global top-k
    (TakeOrderedAndProject — no full sort of N rows).
    """
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    scored = emb.select(
        F.col(id_col),
        F.round(cosine(F.col(vec_col).cast("array<double>"), q), 6).alias("cos_sim"),
    )
    return scored.orderBy(F.desc("cos_sim"), F.col(id_col)).limit(k)


def label_centroid_sums(
    emb: DataFrame, label_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """Per-label element-wise vector sums (long format: label, pos,
    sum_val, n) — the shuffle-light building block for centroids /
    k-means steps: posexplode → partial-aggregated sum per (label, pos).
    Sums go through DECIMAL(18,9) so they are order-independent and
    oracle-exact; centroid = sum_val / n."""
    pos = emb.select(
        F.col(label_col).alias("label"),
        F.posexplode(F.col(vec_col)).alias("pos", "val"),
    )
    # round-in-double before the decimal cast: Spark's float→decimal uses
    # the float's shortest decimal repr while other engines expand the
    # full binary value — a 9dp double round makes both sides land on the
    # identical 9-decimal value before the exact decimal sum
    return (
        pos.groupBy("label", "pos")
        .agg(
            F.sum(F.round(F.col("val").cast("double"), 9).cast("decimal(18,9)"))
            .cast("double")
            .alias("sum_val"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("label", "pos")
    )


def _sql_double_matrix(mat: list[list[float]]) -> str:
    """SQL array<array<double>> literal text. repr() is the shortest
    round-trip decimal, which Spark's correctly-rounded parse maps back
    to the identical double — bit-for-bit the same constants the Column
    API would embed."""
    return (
        "array("
        + ",".join(
            "array(" + ",".join(repr(float(x)) + "D" for x in r) + ")"
            for r in mat
        )
        + ")"
    )


def hyperplane_bucket(
    vec: Column | str, planes: list[list[float]]
) -> Column:
    """Deterministic random-hyperplane LSH bucket id: bit i = sign(v·hᵢ).
    Returns a bitstring column — the IVF partition key.

    ``vec`` as a SQL fragment (column name or cast expression) takes the
    ONE-expr path: the whole bucket expression — planes matrix included —
    is built as a single SQL string parsed server-side in one py4j call.
    The Column form builds n_planes×dim literal nodes through py4j
    (~0.3 s of driver time per call at dim 64), which was the dominant
    fixed cost of every IVF-PQ tick's plan construction; the SQL parse is
    ~1 ms. Bit-identical output: same per-plane zip_with/aggregate fold,
    same cast-to-double element math, CASE == when/otherwise, and
    array_join over the in-order transform == concat of the per-plane
    bits (pinned in tests/test_ann_recall.py::test_hyperplane_sql_parity)."""
    if isinstance(vec, str):
        return F.expr(
            f"array_join(transform({_sql_double_matrix(planes)}, "
            f"h -> CASE WHEN aggregate(zip_with({vec}, h, "
            "(a, b) -> CAST(a AS DOUBLE) * CAST(b AS DOUBLE)), 0.0D, "
            "(acc, x) -> acc + x) >= 0 THEN '1' ELSE '0' END), '')"
        )
    bits = []
    for h in planes:
        hcol = F.array(*[F.lit(float(x)) for x in h])
        bits.append(F.when(dot(vec, hcol) >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def fixed_planes(dim: int, n_planes: int = 4) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (LCG-based, no RNG dep)."""
    planes = []
    state = 1234567891
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
            row.append((state / float(1 << 63)) * 2.0 - 1.0)
        planes.append(row)
    return planes


def assign_clusters(
    emb: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cluster, vec, _dist): nearest-centroid assignment by squared
    L2 — a native argmin over the centroid MATRIX joined in as broadcast
    DATA on a constant key (map-side hash join, no shuffle).

    Data-not-literals matters twice: the expression tree is identical
    every iteration, so whole-stage codegen compiles ONCE for the whole
    k-means run (literal centroids would re-codegen k·dim constants per
    iteration); and at 100 TB the centroid matrix rides the broadcast
    path like any dimension table instead of bloating the plan.
    Tie-break: array_min over (dist, cluster) structs — lowest cluster
    id wins equal distances, deterministically.
    """
    spark = emb.sparkSession
    cdf = spark.createDataFrame(
        [(1, [[float(x) for x in c] for c in centroids])],
        "_ck int, _cents array<array<double>>",
    )
    v = F.col(vec_col).cast("array<double>")
    darr = F.transform(
        F.col("_cents"),
        lambda c: F.aggregate(
            F.zip_with(v, c, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    ds = F.zip_with(
        darr,
        F.sequence(F.lit(0), F.size(F.col("_cents")) - 1),
        lambda d, i: F.struct(d.alias("d"), i.alias("c")),
    )
    m = F.array_min(ds)
    return (
        emb.withColumn("_ck", F.lit(1))
        .join(F.broadcast(cdf), "_ck")
        .select(
            F.col(id_col),
            m["c"].cast("int").alias("cluster"),
            F.col(vec_col),
            m["d"].alias("_dist"),
        )
    )


def kmeans(
    emb: DataFrame,
    k: int = 4,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, list[float]]:
    """Lloyd's k-means, the engine's iterative-algorithm representative.

    Per iteration: one scan with the broadcast-centroid argmin
    (assign_clusters) + one (cluster, pos) aggregation whose k×dim
    result is collected to the driver — the ONLY driver-side data is
    the centroid matrix (k·dim floats), never rows. Deterministic:
    init = the k lowest-id vectors, ties impossible; at 100 TB each
    iteration is a single map + partial-agg shuffle of k×dim×partitions
    partials.

    Returns (final assignment DataFrame, per-iteration inertia list —
    non-increasing by Lloyd's guarantee, pinned in tests).
    """
    centroids, inertia = _kmeans_iterate(emb, k, iters, id_col, vec_col)
    return (
        assign_clusters(emb, centroids, id_col, vec_col).drop("_dist"),
        inertia,
    )


def _kmeans_iterate(
    emb: DataFrame, k: int, iters: int, id_col: str, vec_col: str
) -> tuple[list[list[float]], list[float]]:
    """Lloyd's loop, returning the CENTROID MATRIX (k×dim floats) and
    the inertia trace — shared by kmeans (which returns the final
    assignment frame) and the residual-IVF coarse quantizer (which
    needs the centroids themselves, frozen into the index sidecar)."""
    first = emb.orderBy(id_col).limit(k).select(vec_col).collect()
    centroids = [[float(x) for x in r[0]] for r in first]
    inertia: list[float] = []
    dim = len(centroids[0])
    for _ in range(iters):
        assigned = assign_clusters(emb, centroids, id_col, vec_col)
        # one pass: per-(cluster,pos) sums for the new centroids AND the
        # _dist sum (each row contributes its _dist at every pos, so the
        # global inertia is Σ sum_dist / dim)
        stats = (
            assigned.select(
                "cluster",
                "_dist",
                F.posexplode(F.col(vec_col).cast("array<double>")),
            )
            .groupBy("cluster", "pos")
            .agg(
                F.sum("col").alias("s"),
                F.count(F.lit(1)).alias("n"),
                F.sum("_dist").alias("sd"),
            )
            .collect()
        )
        by_cluster: dict[int, dict[int, float]] = {}
        counts: dict[int, int] = {}
        for r in stats:
            by_cluster.setdefault(r["cluster"], {})[r["pos"]] = r["s"]
            counts[r["cluster"]] = r["n"]
        inertia.append(sum(r["sd"] for r in stats) / dim)
        centroids = [
            [by_cluster[c][p] / counts[c] for p in range(dim)]
            if c in by_cluster
            else centroids[c]  # empty cluster keeps its centroid
            for c in range(k)
        ]
    return centroids, inertia


def knn_join(
    left: DataFrame,
    right: DataFrame,
    k: int = 5,
    left_id: str = "vec_id",
    right_id: str = "vec_id",
    left_vec: str = "embedding",
    right_vec: str = "embedding",
    exclude_self: bool = False,
) -> DataFrame:
    """Exact kNN join: for EVERY left row, the top-k right rows by
    cosine — the batch retrieval primitive (RAG candidate generation,
    embedding-dedup verification, eval-set nearest-neighbor audits).

    Contract: `left` is the QUERY BATCH (small — thousands), `right` is
    the corpus (arbitrarily large). The plan broadcasts the query batch
    against the corpus scan (one fused projection per right row, no
    shuffle of the corpus), then takes top-k per query through a
    rank-limit window: Spark's WindowGroupLimit pushes the k-limit
    below the exchange, so each map task emits at most k rows per query
    and the post-shuffle state is |L|·k rows — never |L|·|R|. Both
    norms are computed once per side, not per pair.

    Output: (query_id, neighbor_id, cos_sim, rank), rank 1-based by
    (cos_sim desc, neighbor_id) — total-ordered, oracle-exact.
    `exclude_self` drops query_id == neighbor_id rows (self-join use).
    """
    from pyspark.sql import Window

    l = left.select(
        F.col(left_id).alias("query_id"),
        F.col(left_vec).cast("array<double>").alias("_qv"),
    ).withColumn("_qn", norm(F.col("_qv")))
    r = right.select(
        F.col(right_id).alias("neighbor_id"),
        F.col(right_vec).cast("array<double>").alias("_nv"),
    ).withColumn("_nn", norm(F.col("_nv")))
    pairs = r.join(F.broadcast(l))
    if exclude_self:
        pairs = pairs.filter(F.col("query_id") != F.col("neighbor_id"))
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        F.round(
            dot(F.col("_qv"), F.col("_nv")) / (F.col("_qn") * F.col("_nn")), 6
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def _probe_buckets(vec: Column | str, planes: list[list[float]]) -> Column:
    """Array of bucket ids within Hamming distance 1 of the vector's own
    hyperplane bucket (own bucket first) — the query-side probe set."""
    n = len(planes)
    bits = hyperplane_bucket(vec, planes)
    probes = [bits]
    for i in range(n):
        flipped = F.when(
            F.substring(bits, i + 1, 1) == "1", F.lit("0")
        ).otherwise(F.lit("1"))
        probes.append(
            F.concat(F.substring(bits, 1, i), flipped, F.substring(bits, i + 2, n - i - 1))
        )
    return F.array(*probes)


def knn_join_lsh(
    left: DataFrame,
    right: DataFrame,
    k: int = 5,
    left_id: str = "vec_id",
    right_id: str = "vec_id",
    left_vec: str = "embedding",
    right_vec: str = "embedding",
    exclude_self: bool = False,
    n_planes: int = 4,
    broadcast_queries: bool = True,
) -> DataFrame:
    """Approximate kNN join — the scale path when the corpus side is too
    large for per-query full scans: bucket both sides by hyperplane LSH,
    expand each query to its Hamming≤1 probe buckets, equi-join on the
    bucket, exact-rank within candidates. Probes cover (n_planes+1)/2^n
    of the space, so a full-corpus scan per query becomes a bucket-local
    one; recall < 1.0 by construction — `knn_join` is the oracle (tests
    pin candidates ⊆ brute ranking and measured recall).

    With ``broadcast_queries=True`` (default) the probe-expanded query
    batch ((n_planes+1)·|L| rows) is broadcast — the retrieval shape,
    where |L| is a query batch and the corpus band frame is never
    collected or shuffled. For a LARGE left side — kNN-GRAPH
    construction, every corpus doc querying every other — pass
    ``broadcast_queries=False``: the join becomes a plain shuffle
    equi-join on the bucket (both sides partition by bucket; neither is
    ever collected), the same never-broadcast-the-corpus rule as the
    MinHash band join. Each (query, neighbor) pair arises at most once:
    a right row has exactly one bucket and the probe set is
    duplicate-free, so no distinct stage is needed before ranking.
    Output schema matches knn_join.
    """
    from pyspark.sql import Window

    first = left.select(left_vec).first()
    if first is None:
        raise ValueError(
            "knn_join_lsh: query batch is empty — the plane dimension "
            "cannot be probed; nothing to search"
        )
    planes = fixed_planes(len(first[0]), n_planes)
    l = left.select(
        F.col(left_id).alias("query_id"),
        F.col(left_vec).cast("array<double>").alias("_qv"),
    ).select(
        "query_id",
        "_qv",
        norm(F.col("_qv")).alias("_qn"),
        F.explode(_probe_buckets("_qv", planes)).alias("_bucket"),
    )
    r = right.select(
        F.col(right_id).alias("neighbor_id"),
        F.col(right_vec).cast("array<double>").alias("_nv"),
    ).select(
        "neighbor_id",
        "_nv",
        norm(F.col("_nv")).alias("_nn"),
        hyperplane_bucket("_nv", planes).alias("_bucket"),
    )
    pairs = r.join(F.broadcast(l) if broadcast_queries else l, "_bucket")
    if exclude_self:
        pairs = pairs.filter(F.col("query_id") != F.col("neighbor_id"))
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        F.round(
            dot(F.col("_qv"), F.col("_nv")) / (F.col("_qn") * F.col("_nn")), 6
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def build_ivf_index(
    emb: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 4,
) -> list[list[float]]:
    """Persist the IVF index: vectors written PARTITIONED BY their
    hyperplane bucket. At query time only the probed buckets' files are
    read (partition pruning — tests pin PartitionFilters in the scan),
    so a query touches ~probes/2^n_planes of the stored bytes. This is
    the ingest-side half of the scale path `ivf_topk` computes on the
    fly. Returns the plane matrix (persist alongside the index in a
    real deployment)."""
    first = emb.select(vec_col).first()
    if first is None:
        raise ValueError(
            "build_ivf_index: embeddings frame is empty — the plane "
            "dimension cannot be probed; nothing to index"
        )
    dim = len(first[0])
    planes = fixed_planes(dim, n_planes)
    bucketed = emb.select(
        F.col(id_col),
        F.col(vec_col),
        hyperplane_bucket(f"cast(`{vec_col}` as array<double>)", planes).alias(
            "bucket"
        ),
    )
    bucketed.write.mode("overwrite").partitionBy("bucket").parquet(path)
    return planes


def ivf_query_indexed(
    spark,
    path: str,
    query_vec: list[float],
    planes: list[list[float]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_hamming: int = 1,
) -> DataFrame:
    """Top-k over a persisted IVF index: filter on the bucket PARTITION
    column (prunes to the probed directories before any file is opened),
    exact-rank within the probes. Same probe set as ivf_topk."""
    probes = probe_buckets(query_vec, planes, probe_hamming)
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    indexed = spark.read.parquet(path)
    return (
        indexed.filter(F.col("bucket").isin(list(probes)))
        .select(
            F.col(id_col),
            F.round(cosine(F.col(vec_col).cast("array<double>"), q), 6).alias(
                "cos_sim"
            ),
        )
        .orderBy(F.desc("cos_sim"), F.col(id_col))
        .limit(k)
    )


def ivf_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 4,
    probe_hamming: int = 1,
) -> DataFrame:
    """Bucketed ANN: assign every vector to a hyperplane bucket, probe the
    query's bucket ± `probe_hamming` bit flips, exact-rank within probes.

    Scale path: the bucket column is computed once at ingest and stored/
    partitioned on; a query then scans ~(probes/2^n_planes) of the data.
    Recall < 1.0 by construction — `brute_force_topk` is the oracle.
    """
    dim = len(query_vec)
    planes = fixed_planes(dim, n_planes)
    bucketed = emb.select(
        F.col(id_col),
        F.col(vec_col),
        hyperplane_bucket(f"cast(`{vec_col}` as array<double>)", planes).alias("bucket"),
    )
    # query bucket + all buckets within `probe_hamming` bit flips
    probes = probe_buckets(query_vec, planes, probe_hamming)
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        bucketed.filter(F.col("bucket").isin(list(probes)))
        .select(
            F.col(id_col),
            F.round(cosine(F.col(vec_col).cast("array<double>"), q), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.col(id_col))
        .limit(k)
    )


def semantic_dedup(
    emb: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the
    embeddings, then within each cluster keep ONE representative of
    every semantic near-duplicate group — a row is dropped when a
    LOWER-id same-cluster partner sits within ``threshold`` cosine.

    Output: (id_col, cluster, keep) for every input row.

    Scale shape — this is the whole point of the method: the pairwise
    cosine join is scoped to equal cluster ids, so candidate pairs are
    Σ_c |c|² instead of N². With k ∝ N/target_occupancy (the same rule
    embedding_neardup_lsh applies to its planes) expected occupancy is
    constant and the join is linear in N. Near-dup pairs that straddle
    a cluster boundary are missed by construction — the documented
    recall trade-off of the published method (the paper's k-means is
    our `kmeans`; deterministic fixed centroids keep the oracle exact).
    """
    # Cast + norm are computed ONCE per row here, not once per pair:
    # inside the pair join they would rerun O(Σ|c|²) times (and at 19 s
    # per bench pass they dominated the operator). dot/(n_a·n_b) over
    # the precomputed values is bit-identical to cosine() over per-pair
    # casts — same doubles, same operation order.
    vecd = F.col(vec_col).cast("array<double>")
    # persist: the frame is referenced THREE times below (both pair-join
    # sides + the keep-flag left side), and lazy evaluation re-ran the
    # centroid-argmin scan for each — measured 3× ~1 s per call at
    # sf0.1 while the cluster-scoped pair join itself was ~0.6 s
    # (OPTIMIZATION_r15.md). One materialization, three readers;
    # previous invocation's CacheManager entry released on the next
    # call (session.persist_scoped).
    assigned = persist_scoped(
        assign_clusters(emb, centroids, id_col, vec_col).select(
            id_col, "cluster", vecd.alias("_vecd"), norm(vecd).alias("_nrm")
        ),
        "similarity.semantic_dedup_assigned",
    )
    a, b = assigned.alias("_a"), assigned.alias("_b")
    cs = dot(F.col("_a._vecd"), F.col("_b._vecd")) / (
        F.col("_a._nrm") * F.col("_b._nrm")
    )
    losers = (
        a.join(
            b,
            (F.col("_a.cluster") == F.col("_b.cluster"))
            & (F.col(f"_a.{id_col}") < F.col(f"_b.{id_col}")),
        )
        .filter(F.round(cs, 6) >= threshold)
        .select(F.col(f"_b.{id_col}").alias(id_col))
        .distinct()
        .withColumn("_lose", F.lit(True))
    )
    return (
        assigned.select(id_col, "cluster")
        .join(losers, id_col, "left")
        .select(
            id_col, "cluster", F.col("_lose").isNull().alias("keep")
        )
    )


# --- Product quantization (PQ / ADC) -------------------------------------
#
# Jégou, Douze, Schmid 2011 ("Product quantization for nearest neighbor
# search", TPAMI). A D-dim vector is split into m subvectors; each
# subspace has its own ksub-centroid codebook; a vector stores only its
# m centroid codes (m bytes at ksub≤256 vs 4·D bytes of floats — the
# memory shape that lets a billion-vector index fit a cluster's RAM).
# Query-time ADC (asymmetric distance computation): build an m×ksub
# table of exact query-to-centroid distances ONCE, then every vector's
# approximate distance is m table lookups + a sum — no float vector is
# ever touched again.
#
# Spark shapes: codebooks and the ADC table are tiny (m·ksub·(D/m) and
# m·ksub doubles) — they travel as broadcast DATA on a constant key
# (the assign_clusters pattern: codegen compiles once, the matrix never
# bloats the plan); encoding is one scan; search is scan + lookup-sum +
# TakeOrderedAndProject. Deterministic codebooks (subvectors of the
# ksub lowest-id vectors — the kmeans_assign init rule) keep the
# encode/search path SQL-oracle-able; k-means-trained codebooks
# (pq_train) are the quality path and stay under pytest recall bounds,
# same split as kmeans_assign vs the Lloyd loop.


def pq_codebooks_deterministic(
    emb: DataFrame,
    m: int = 4,
    ksub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """codebooks[j][c] = subvector j of the c-th lowest-id vector —
    deterministic, collection bounded by ksub rows."""
    first = emb.orderBy(id_col).limit(ksub).select(vec_col).collect()
    vecs = [[float(x) for x in r[0]] for r in first]
    d = len(vecs[0])
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    ds = d // m
    return [
        [v[j * ds : (j + 1) * ds] for v in vecs] for j in range(m)
    ]


def pq_train(
    emb: DataFrame,
    m: int = 4,
    ksub: int = 16,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """k-means-trained codebooks: one Lloyd run per subspace over the
    subvector frame (driver only ever holds ksub×(D/m) floats per
    subspace)."""
    d = len(emb.select(vec_col).first()[0])
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    ds = d // m
    books = []
    for j in range(m):
        sub = emb.select(
            F.col(id_col),
            F.slice(F.col(vec_col), j * ds + 1, ds).alias(vec_col),
        )
        assigned, _ = kmeans(sub, k=ksub, iters=iters, id_col=id_col,
                             vec_col=vec_col)
        cents = (
            assigned.select("cluster", F.posexplode(F.col(vec_col).cast("array<double>")))
            .groupBy("cluster", "pos")
            .agg(F.avg("col").alias("v"))
            .collect()
        )
        by_c: dict[int, dict[int, float]] = {}
        for r in cents:
            by_c.setdefault(r["cluster"], {})[r["pos"]] = r["v"]
        books.append(
            [
                [by_c[c][p] for p in range(ds)] if c in by_c else [0.0] * ds
                for c in range(ksub)
            ]
        )
    return books


def _pq_codes_col(vec_col, codebooks, m: int, ds: int):
    """codes array<int>: per subspace, argmin centroid (squared L2,
    lowest code wins ties) — computed against the broadcast `_books`
    column (array<array<array<double>>>), pure native expressions.
    ``vec_col``: a column name OR a Column (the residual form passes
    the already-computed x − centroid expression)."""
    v = (
        vec_col.cast("array<double>")
        if isinstance(vec_col, Column)
        else F.col(vec_col).cast("array<double>")
    )

    def code_j(j: int):
        sub = F.slice(v, j * ds + 1, ds)
        dists = F.transform(
            F.element_at(F.col("_books"), j + 1),
            lambda c: F.aggregate(
                F.zip_with(sub, c, lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )
        ds_structs = F.zip_with(
            dists,
            F.sequence(F.lit(0), F.size(F.element_at(F.col("_books"), j + 1)) - 1),
            lambda dd, i: F.struct(dd.alias("d"), i.alias("c")),
        )
        return F.array_min(ds_structs)["c"].cast("int")

    return F.array(*[code_j(j) for j in range(m)])


def pq_encode(
    emb: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes array<int>) — the compressed index, one scan."""
    m = len(codebooks)
    ds = len(codebooks[0][0])
    spark = emb.sparkSession
    bdf = spark.createDataFrame(
        [(1, [[[float(x) for x in c] for c in book] for book in codebooks])],
        "_bk int, _books array<array<array<double>>>",
    )
    return (
        emb.withColumn("_bk", F.lit(1))
        .join(F.broadcast(bdf), "_bk")
        .select(
            F.col(id_col),
            _pq_codes_col(vec_col, codebooks, m, ds).alias("codes"),
        )
    )


def pq_topk(
    codes_df: DataFrame,
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """ADC top-k over the compressed index: the m×ksub distance table
    is computed ONCE driver-side (tiny), broadcast as data; each row
    costs m lookups + a sum; the global top-k compiles to
    TakeOrderedAndProject. Output: (id, approx_dist) rounded to 6
    decimals (cross-engine float hygiene), ties broken by id."""
    m = len(codebooks)
    ds = len(codebooks[0][0])
    table = [
        [
            sum(
                (query_vec[j * ds + p] - c[p]) ** 2 for p in range(ds)
            )
            for c in codebooks[j]
        ]
        for j in range(m)
    ]
    spark = codes_df.sparkSession
    tdf = spark.createDataFrame(
        [(1, [[float(x) for x in row] for row in table])],
        "_tk int, _table array<array<double>>",
    )
    dist = F.aggregate(
        F.zip_with(
            F.col("codes"),
            F.col("_table"),
            lambda code, row: F.element_at(row, code + 1),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        codes_df.withColumn("_tk", F.lit(1))
        .join(F.broadcast(tdf), "_tk")
        .select(
            F.col(id_col), F.round(dist, 6).alias("approx_dist")
        )
        .orderBy("approx_dist", id_col)
        .limit(k)
    )


def pq_topk_rerank(
    codes_df: DataFrame,
    emb: DataFrame,
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    k: int = 10,
    shortlist: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC shortlist + exact re-rank (the standard PQ serving pattern):
    the compressed index nominates ``shortlist`` candidates, then the
    exact squared-L2 runs on THOSE rows only (broadcast semi-join into
    the float table — at scale the full-precision vectors are read for
    R rows, not the corpus). Output: (id, dist) exact distances, top-k.

    Quantization-recall note, measured on the synthetic near-uniform
    64-dim test embeddings (the HARD case for PQ — no cluster structure
    to exploit): raw ADC@10 recall 0.2, shortlist=100 re-rank 0.8. Real
    embedding corpora cluster, which is what the codebooks compress;
    recall targets there are set by tuning m/ksub/shortlist.
    """
    cand = pq_topk(
        codes_df, codebooks, query_vec, k=shortlist, id_col=id_col
    ).select(id_col)
    return _exact_l2_rerank(emb, cand, query_vec, k, id_col, vec_col)


def _exact_l2_rerank(
    emb: DataFrame,
    cand: DataFrame,
    query_vec: list[float],
    k: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Exact squared-L2 top-k over a nominated candidate set: broadcast
    semi-join into the float table (full-precision vectors read for the
    shortlist rows only), one fused distance projection, (dist, id)
    top-k. The ONE exact-distance expression shared by pq_topk_rerank
    and ivf_pq_topk_rerank — the rounding contract lives here."""
    spark = emb.sparkSession
    qdf = spark.createDataFrame(
        [(1, [float(x) for x in query_vec])], "_qk int, _q array<double>"
    )
    v = F.col(vec_col).cast("array<double>")
    exact = F.aggregate(
        F.zip_with(v, F.col("_q"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        emb.join(F.broadcast(cand), id_col, "left_semi")
        .withColumn("_qk", F.lit(1))
        .join(F.broadcast(qdf), "_qk")
        .select(F.col(id_col), F.round(exact, 6).alias("dist"))
        .orderBy("dist", id_col)
        .limit(k)
    )


# --- Scalar (int8) quantization ------------------------------------------


def quantize_embeddings(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: (id, scale, qvec) with
    ``q_i = round(v_i / scale × 127)``, scale = max |v_i| — 4×
    smaller than float32 at ~0.3% cosine error (the standard
    storage/serving trade, e.g. faiss SQ8). Pure column expressions;
    a zero vector quantizes to scale 0 / all-zero codes.

    Unlike PQ (codebooks, m bytes/vector, needs training) this is
    training-free and per-vector exact-scale — the right first step
    before PQ when the corpus is still warm enough to re-read."""
    v = F.col(vec_col).cast("array<double>")
    scale = F.array_max(F.transform(v, lambda x: F.abs(x)))
    q = F.transform(
        v,
        lambda x: F.when(scale > 0, F.round(x / scale * 127))
        .otherwise(F.lit(0.0))
        .cast("int"),
    )
    return emb.select(
        F.col(id_col), scale.alias("scale"), q.alias("qvec")
    )


def quantized_cosine_topk(
    quantized: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Top-k by cosine over int8 codes: the query is quantized ONCE
    (driver-side, same formula), the integer dot product and norms run
    as codegen aggregates, and scales cancel out of cosine entirely —
    the float scale column is not even read. Output: (id, qcos) rounded
    to 6 decimals, ties by id; compiles to TakeOrderedAndProject."""
    qs = max(abs(x) for x in query_vec) or 1.0
    qq = [round(x / qs * 127) for x in query_vec]
    spark = quantized.sparkSession
    qdf = spark.createDataFrame(
        [(1, [int(x) for x in qq])], "_qk int, _q array<int>"
    )
    dot = F.aggregate(
        F.zip_with(
            F.col("qvec"), F.col("_q"), lambda a, b: (a * b).cast("long")
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    n1 = F.aggregate(
        F.transform(F.col("qvec"), lambda a: (a * a).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    n2 = float(sum(x * x for x in qq)) or 1.0
    qcos = F.when(
        n1 > 0,
        dot.cast("double")
        / (F.sqrt(n1.cast("double")) * F.sqrt(F.lit(n2))),
    ).otherwise(F.lit(0.0))
    return (
        quantized.withColumn("_qk", F.lit(1))
        .join(F.broadcast(qdf), "_qk")
        .select(F.col(id_col), F.round(qcos, 6).alias("qcos"))
        .orderBy(F.desc("qcos"), id_col)
        .limit(k)
    )


# --- IVF-PQ (coarse quantizer over product codes) ------------------------
#
# The FAISS IVFADC serving shape (Jégou et al. 2011 §V): a coarse
# quantizer prunes the corpus to a few probed cells, and within the
# probes distance runs over m-byte PQ codes via the ADC lookup table —
# the float vectors are touched only by an optional exact re-rank of the
# shortlist. Both halves already exist here (`ivf_topk`'s hyperplane
# buckets, `pq_topk`'s ADC); these functions are the composition, which
# is what a billion-vector deployment actually runs: the index is
# (id, bucket, codes) — 8+m bytes a row — partitioned by bucket, so a
# query reads ~probes/2^n_planes of an already-25×-compressed table.


def probe_buckets(
    query_vec: list[float], planes: list[list[float]], probe_hamming: int = 1
) -> set[str]:
    """The query's hyperplane bucket plus every bucket within
    ``probe_hamming`` bit flips — the probe set shared by all IVF
    variants (driver-side: n_planes sign dots on one vector).
    probe_hamming=h really does yield the full Hamming-≤h ball
    (Σ C(n_planes, i) buckets — combinations, not just single flips;
    r9 review fixed h ≥ 2 silently probing the h=1 set)."""
    from itertools import combinations

    qbits = ""
    for h in planes:
        qbits += "1" if sum(q * x for q, x in zip(query_vec, h)) >= 0 else "0"
    probes = {qbits}
    flip = {"0": "1", "1": "0"}
    for d in range(1, min(probe_hamming, len(planes)) + 1):
        for idxs in combinations(range(len(planes)), d):
            bits = list(qbits)
            for i in idxs:
                bits[i] = flip[bits[i]]
            probes.add("".join(bits))
    return probes


def ivf_pq_topk(
    emb: DataFrame,
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    k: int = 10,
    n_planes: int = 4,
    probe_hamming: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ top-k computed from the raw float table in one pass:
    coarse-prune to the probed buckets FIRST, PQ-encode only the
    survivors, rank them by ADC. Output: (id, approx_dist), ties by id.

    A vector's codes depend on nothing but itself and the codebooks, so
    encode-after-prune is result-identical to encode-everything-then-
    prune while doing the O(m·ksub·ds) encode work on probes/2^n_planes
    of the rows — the right order whenever the index isn't persisted.
    Recall is bounded by the coarse quantizer (same probe set as
    `ivf_topk`); within the probes ADC error is PQ's (`pq_topk_rerank`
    is the quality path)."""
    dim = len(query_vec)
    planes = fixed_planes(dim, n_planes)
    probes = probe_buckets(query_vec, planes, probe_hamming)
    pruned = emb.filter(
        hyperplane_bucket(f"cast(`{vec_col}` as array<double>)", planes).isin(
            sorted(probes)
        )
    )
    codes = pq_encode(pruned, codebooks, id_col, vec_col)
    return pq_topk(codes, codebooks, query_vec, k=k, id_col=id_col)


def _cell_expr(vec, centroids_col) -> "F.Column":
    """Coarse cell of a vector: argmin squared-L2 over the broadcast
    centroid matrix column (array<array<double>>), lowest cell wins
    ties — the same native argmin shape as _pq_codes_col."""
    dists = F.transform(
        centroids_col,
        lambda c: F.aggregate(
            F.zip_with(vec, c, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    structs = F.zip_with(
        dists,
        F.sequence(F.lit(0), F.size(centroids_col) - 1),
        lambda d, i: F.struct(d.alias("d"), i.alias("c")),
    )
    return F.array_min(structs)["c"].cast("int")


def _ivfpq_rows(
    emb: DataFrame,
    codebooks: list[list[list[float]]],
    planes: list[list[float]] | None,
    id_col: str,
    vec_col: str,
    seq: int,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """One batch's index rows (id, bucket, codes, seq) — shared by the
    one-shot build and the append tick so the encode expression exists
    once. ``seq`` is the batch liveness stamp from the index's
    PERSISTED monotonic counter (search/index.alloc_index_seqs — the
    posting index's tombstone model: a row is live iff newer than its
    id's latest tombstone, by counter order, never wall clock).

    Two coarse-quantizer forms, selected by the index's frozen
    sidecar:

    - hyperplane (``planes``): bucket = the sign-bit string, codes
      encode the RAW vector;
    - k-means RESIDUAL (``centroids`` — IVFADC, Jégou et al. 2011
      §V.A): bucket = ``r<cell>`` (argmin centroid), codes encode the
      residual x − centroid(x). At the same code budget the residual
      has far less variance than the raw vector, which is where
      IVFADC's recall advantage comes from.
    """
    m = len(codebooks)
    ds = len(codebooks[0][0])
    spark = emb.sparkSession
    books_lit = [[[float(x) for x in c] for c in book] for book in codebooks]
    v = F.col(vec_col).cast("array<double>")
    if centroids is not None:
        bdf = spark.createDataFrame(
            [(1, books_lit, [[float(x) for x in c] for c in centroids])],
            "_bk int, _books array<array<array<double>>>, "
            "_cents array<array<double>>",
        )
        cell = _cell_expr(v, F.col("_cents"))
        residual = F.zip_with(
            v, F.element_at(F.col("_cents"), cell + 1), lambda a, b: a - b
        )
        return (
            emb.withColumn("_bk", F.lit(1))
            .join(F.broadcast(bdf), "_bk")
            .select(
                F.col(id_col),
                F.concat(F.lit("r"), cell.cast("string")).alias("bucket"),
                _pq_codes_col(residual, codebooks, m, ds).alias("codes"),
                F.lit(int(seq)).cast("long").alias("seq"),
            )
        )
    bdf = spark.createDataFrame(
        [(1, books_lit)],
        "_bk int, _books array<array<array<double>>>",
    )
    return (
        emb.withColumn("_bk", F.lit(1))
        .join(F.broadcast(bdf), "_bk")
        .select(
            F.col(id_col),
            hyperplane_bucket(
                f"cast(`{vec_col}` as array<double>)", planes
            ).alias("bucket"),
            _pq_codes_col(vec_col, codebooks, m, ds).alias("codes"),
            F.lit(int(seq)).cast("long").alias("seq"),
        )
    )


def _ivfpq_meta_path(path: str) -> str:
    import os

    return os.path.join(path, "_ivfpq_meta.json")


def _ivfpq_meta(path: str) -> dict:
    """Full sidecar dict: frozen quantizers + the commit watermarks
    (next_seq / committed_seq / dead_ranges). A sidecar with no
    counter (the pre-commit-protocol format) raises ValueError:
    rebuild the index."""
    import json

    with open(_ivfpq_meta_path(path), encoding="utf-8") as fh:
        meta = json.load(fh)
    if meta.get("committed_seq") is None:
        raise ValueError(
            f"ivfpq index at {path} has no seq counter in its sidecar — "
            "an unsupported pre-counter format; rebuild it"
        )
    return meta


def read_ivfpq_meta(path: str) -> tuple[list, list]:
    """(codebooks, planes) from the index's sidecar JSON — appends and
    queries NEVER retrain; the codebooks are frozen at build time (how
    production IVF deployments version their quantizers)."""
    meta = _ivfpq_meta(path)
    return meta["codebooks"], meta["planes"]


def _ivfpq_root(path: str, meta: dict | None = None) -> str:
    """Physical root of the codes table: ``path`` itself until a
    no-rename generation swap moves the pointer (search/index._gen_root
    — the manifest-pointer form of the metastore contract). Readers
    resolve through the sidecar's ``generation``; POSIX indexes never
    set it, so their plans are unchanged."""
    import os

    from ..search.index import _gen_root

    if meta is None:
        meta = (
            _ivfpq_meta(path)
            if os.path.exists(_ivfpq_meta_path(path))
            else None
        )
    return _gen_root(path, meta)


def _ivfpq_reclaim(path: str, keep: int) -> None:
    """Remove superseded generations (and, once the pointer left the
    bare root, the root-level codes/docstore/tombstones a pre-swap
    history left). Under the writer lease only, after the pointer
    publish."""
    import os

    from ..metastore import get_metastore

    store = get_metastore()
    try:
        entries = store.listdir(path)
    except OSError:
        return
    for d in entries:
        if d.startswith("_gen-") and d != f"_gen-{int(keep)}":
            store.remove_tree(os.path.join(path, d))
    if keep:
        for d in entries:
            if (
                d.startswith("bucket=")
                or d in ("_docstore", "_tombstones", "_SUCCESS")
            ):
                store.remove_tree(os.path.join(path, d))


def _ivfpq_store_batch(
    emb: DataFrame,
    id_col: str,
    store_cols: tuple[str, ...],
    seq: int,
    path: str,
    mode: str,
    n_store_buckets: int,
) -> None:
    """One batch's STORED FIELDS for the vector index (the posting
    index's docstore tier mirrored onto the ANN side): (id, payload,
    seq) partitioned by the id's crc32 bucket under `_docstore/`
    (underscore-prefixed — the codes table at the index root uses
    partition discovery, which a non-key=value sibling dir would
    poison). Same commit/tombstone liveness as the codes: an upserted
    vector's new payload replaces the old one under the one atomic
    sidecar commit, so a serve query returns (id, payload, score) with
    the float corpus never in the plan."""
    import os

    from ..search.index import _store_bucket

    missing = [c for c in store_cols if c not in emb.columns]
    if missing:
        raise ValueError(
            f"ivfpq index at {path} stores fields {list(store_cols)}; "
            f"the batch lacks {missing} — stored fields ride every tick"
        )
    (
        emb.select(
            F.col(id_col),
            *[F.col(c) for c in store_cols],
            F.lit(int(seq)).cast("long").alias("seq"),
            _store_bucket(F.col(id_col), n_store_buckets).alias("vsb"),
        )
        .repartition("vsb")
        .sortWithinPartitions("vsb", id_col)
        .write.mode(mode)
        .partitionBy("vsb")
        .parquet(os.path.join(path, "_docstore"))
    )


def ivfpq_fetch_payload(
    spark, path: str, ids, id_col: str = "vec_id"
) -> DataFrame:
    """Point lookup into the vector index's stored-fields tier — the
    ANN twin of search/index.fetch_docs: prunes to the ids' `vsb`
    bucket directories (driver-side crc32 partition filter from the
    persisted n_store_buckets) plus a pushed `id IN`, returns live
    payload rows. O(|ids| buckets), never a corpus or store scan."""
    import os

    from ..search.index import _apply_tombstones, store_buckets

    meta = _ivfpq_meta(path)
    if not meta.get("store_cols"):
        raise ValueError(
            f"ivfpq index at {path} has no stored-fields tier — build "
            "it with store_cols to serve payload from the index"
        )
    ids = list(ids)
    store = spark.read.parquet(
        os.path.join(_ivfpq_root(path, meta), "_docstore")
    ).filter(
        F.col("vsb").isin(store_buckets(ids, meta.get("n_store_buckets", 16)))
        & F.col(id_col).isin(ids)
    )
    store = _apply_tombstones(spark, path, store, key=id_col, meta=meta)
    return store.drop("seq", "vsb")


def ivfpq_topk_stored(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    probe_hamming: int = 1,
    id_col: str = "vec_id",
) -> DataFrame:
    """Fully index-resident ANN serve: probe the bucket-pruned codes
    (ADC, quantizers from the sidecar), then attach the hits' payload
    from the index's OWN stored-fields tier — neither the embeddings
    float table nor any corpus table appears in the plan (plan-pinned
    in tests/test_ivfpq_store.py). The top-k page (k rows) is
    collected to drive the store's partition pruning — the audited
    top-k-page collect pattern, k-bounded by construction. Output:
    (id, *store_cols, approx_dist), ADC order, ties by id."""
    import os

    meta = _ivfpq_meta(path)
    if not meta.get("store_cols"):
        raise ValueError(
            f"ivfpq index at {path} has no stored-fields tier — build "
            "it with store_cols to serve payload from the index"
        )
    hits = ivfpq_query_indexed(
        spark, path, meta["codebooks"], query_vec, meta["planes"],
        k=k, probe_hamming=probe_hamming, id_col=id_col,
    ).collect()
    if not hits:
        # typed-empty with the STORE's real payload schema (string
        # guesses would schema-split against the non-empty case)
        empty = (
            spark.read.parquet(
                os.path.join(_ivfpq_root(path, meta), "_docstore")
            )
            .drop("seq", "vsb")
            .filter(F.lit(False))
        )
        return empty.withColumn(
            "approx_dist", F.lit(None).cast("double")
        )
    hdf = spark.createDataFrame(
        [(r[id_col], r["approx_dist"]) for r in hits],
        f"{id_col} long, approx_dist double",
    )
    payload = ivfpq_fetch_payload(
        spark, path, [r[id_col] for r in hits], id_col=id_col
    )
    return (
        payload.join(F.broadcast(hdf), id_col)
        .orderBy("approx_dist", id_col)
    )


def ivfpq_serve_rerank(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    shortlist: int = 50,
    probe_hamming: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The FULL IVFADC serving path, entirely index-resident: ADC
    shortlist off the bucket-pruned codes, then EXACT squared-L2
    re-rank over full-precision vectors fetched from the index's OWN
    stored-fields tier (`_docstore/` built with the vector column in
    ``store_cols``) — the embeddings source table is never in the
    plan. This is how a deployed FAISS/Lucene-HNSW serving node works:
    quantized probe + exact re-read of shortlist vectors from its own
    storage. Reads: probed code buckets + the shortlist ids' store
    buckets (point-lookup pruned). Output (id, dist) exact, 6dp, top-k
    — shares `_exact_l2_rerank`'s distance expression, so the rounding
    contract exists once."""
    meta = _ivfpq_meta(path)
    stored = meta.get("store_cols") or []
    if vec_col not in stored:
        raise ValueError(
            f"ivfpq index at {path} stores {stored}; exact re-rank "
            f"needs {vec_col!r} in store_cols at build time"
        )
    cand = ivfpq_query_indexed(
        spark, path, meta["codebooks"], query_vec, meta["planes"],
        k=shortlist, probe_hamming=probe_hamming, id_col=id_col,
    ).select(id_col).collect()
    ids = [r[id_col] for r in cand]
    if not ids:
        return spark.createDataFrame([], f"{id_col} long, dist double")
    vecs = ivfpq_fetch_payload(spark, path, ids, id_col=id_col)
    keys = spark.createDataFrame([(i,) for i in ids], f"{id_col} long")
    return _exact_l2_rerank(vecs, keys, query_vec, k, id_col, vec_col)



# --- Residual-encoding IVF-PQ (IVFADC, Jégou et al. 2011 §V.A) ------------
#
# The r14 hyperplane-coarse IVF-PQ encodes RAW vectors; FAISS's IVFADC
# encodes the RESIDUAL x − centroid(x) against a k-means coarse
# quantizer, which at the same code budget sharply improves recall
# (the residual's variance is a fraction of the vector's). Same
# persisted layout, commit protocol, tombstones, docstore, compaction
# and generation swaps as the hyperplane form — only the bucket rule
# (argmin centroid, `r<cell>` partitions) and the per-cell ADC table
# differ. Reference scope note: the reference app has no vector tier
# at all; this is part of the engine's LLM-data-pipeline surface.


def coarse_centroids_deterministic(
    emb: DataFrame,
    nlist: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Deterministic coarse quantizer: the ``nlist`` lowest-id vectors
    — the pq_codebooks_deterministic init rule applied to the coarse
    stage, which keeps assignment + residual + ADC fully
    SQL-expressible for the DuckDB oracles. Quality deployments use
    train_coarse_centroids (Lloyd) instead."""
    first = emb.orderBy(id_col).limit(nlist).select(vec_col).collect()
    return [[float(x) for x in r[0]] for r in first]


def train_coarse_centroids(
    emb: DataFrame,
    nlist: int = 8,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Lloyd-trained coarse quantizer (the FAISS IVF training step):
    deterministic (lowest-id init, argmin ties by cell), one scan +
    one k×dim partial-agg collect per iteration — the driver only ever
    holds the centroid matrix."""
    centroids, _inertia = _kmeans_iterate(emb, nlist, iters, id_col, vec_col)
    return centroids


def residual_codebooks_deterministic(
    emb: DataFrame,
    centroids: list[list[float]],
    m: int = 4,
    ksub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """codebooks[j][c] = subvector j of the RESIDUAL of the c-th
    lowest-id vector — deterministic and SQL-expressible (the oracle
    derives the identical books). Collection bounded by ksub rows;
    residuals computed driver-side from the frozen centroid matrix."""
    first = emb.orderBy(id_col).limit(ksub).select(vec_col).collect()
    vecs = [[float(x) for x in r[0]] for r in first]
    d = len(vecs[0])
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    ds = d // m

    def _residual(v):
        best = min(
            range(len(centroids)),
            key=lambda c: (
                sum((v[p] - centroids[c][p]) ** 2 for p in range(d)),
                c,
            ),
        )
        return [v[p] - centroids[best][p] for p in range(d)]

    res = [_residual(v) for v in vecs]
    return [[r[j * ds:(j + 1) * ds] for r in res] for j in range(m)]


def train_residual_codebooks(
    emb: DataFrame,
    centroids: list[list[float]],
    m: int = 4,
    ksub: int = 16,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """pq_train over the RESIDUAL frame (x − centroid(x), computed
    engine-side against the broadcast centroid matrix) — the IVFADC
    training recipe: the product quantizer learns the residual
    distribution, not the raw vectors'."""
    spark = emb.sparkSession
    cdf = spark.createDataFrame(
        [(1, [[float(x) for x in c] for c in centroids])],
        "_ck int, _cents array<array<double>>",
    )
    v = F.col(vec_col).cast("array<double>")
    cell = _cell_expr(v, F.col("_cents"))
    residuals = (
        emb.withColumn("_ck", F.lit(1))
        .join(F.broadcast(cdf), "_ck")
        .select(
            F.col(id_col),
            F.zip_with(
                v,
                F.element_at(F.col("_cents"), cell + 1),
                lambda a, b: a - b,
            ).alias(vec_col),
        )
    )
    return pq_train(
        residuals, m=m, ksub=ksub, iters=iters, id_col=id_col,
        vec_col=vec_col,
    )


def residual_probe_cells(
    query_vec: list[float], centroids: list[list[float]], nprobe: int
) -> list[int]:
    """The ``nprobe`` nearest coarse cells to the query (squared L2,
    ties by cell id) — driver-side over the nlist×dim matrix, the
    partition filter of every residual probe."""
    d = len(query_vec)
    ranked = sorted(
        range(len(centroids)),
        key=lambda c: (
            sum((query_vec[p] - centroids[c][p]) ** 2 for p in range(d)),
            c,
        ),
    )
    return ranked[: max(1, int(nprobe))]


def residual_ivfpq_topk(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
) -> DataFrame:
    """IVFADC serve over the persisted residual index: prune to the
    ``nprobe`` nearest cells (a PARTITION-column predicate — directory
    pruning before any file opens), then rank the probed codes by the
    PER-CELL ADC table (the residual form's one extra piece: the
    lookup table depends on q − centroid(cell), so each probed cell
    gets its own m×ksub table — nprobe·m·ksub doubles, broadcast).
    Tombstone liveness + commit visibility as everywhere. Output:
    (id, approx_dist) rounded 6dp, ties by id."""
    from ..search.index import _apply_tombstones, _read_or_empty

    meta = _ivfpq_meta(path)
    centroids = meta.get("centroids")
    if centroids is None:
        raise ValueError(
            f"ivfpq index at {path} is not residual-encoded (no coarse "
            "centroids in the sidecar) — use ivfpq_query_indexed"
        )
    books = meta["codebooks"]
    m = len(books)
    ds = len(books[0][0])
    cells = residual_probe_cells(query_vec, centroids, nprobe)
    # per-cell ADC tables: table[j][c] = || (q - cent)_j - book_j[c] ||²
    luts = []
    for cell in cells:
        qr = [query_vec[p] - centroids[cell][p] for p in range(len(query_vec))]
        luts.append((
            f"r{cell}",
            [
                [
                    sum((qr[j * ds + p] - c[p]) ** 2 for p in range(ds))
                    for c in books[j]
                ]
                for j in range(m)
            ],
        ))
    tdf = spark.createDataFrame(
        luts, "bucket string, _lut array<array<double>>"
    )
    codes_df = _read_or_empty(
        spark, _ivfpq_root(path, meta),
        f"{id_col} long, codes array<int>, seq long, bucket string",
    ).filter(F.col("bucket").isin([b for b, _ in luts]))
    codes_df = _apply_tombstones(spark, path, codes_df, key=id_col, meta=meta)
    dist = F.aggregate(
        F.zip_with(
            F.col("codes"),
            F.col("_lut"),
            lambda code, row: F.element_at(row, code + 1),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        codes_df.join(F.broadcast(tdf), "bucket")
        .select(F.col(id_col), F.round(dist, 6).alias("approx_dist"))
        .orderBy("approx_dist", id_col)
        .limit(k)
    )


def residual_ivfpq_serve_rerank(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    shortlist: int = 50,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Full residual IVFADC with exact re-rank, entirely
    index-resident: per-cell ADC shortlist → exact squared-L2 over
    full-precision vectors fetched from the index's OWN stored tier
    (build with the vector column in store_cols). The deployed-FAISS
    serving shape; shares _exact_l2_rerank's rounding contract."""
    meta = _ivfpq_meta(path)
    stored = meta.get("store_cols") or []
    if vec_col not in stored:
        raise ValueError(
            f"ivfpq index at {path} stores {stored}; exact re-rank "
            f"needs {vec_col!r} in store_cols at build time"
        )
    cand = residual_ivfpq_topk(
        spark, path, query_vec, k=shortlist, nprobe=nprobe, id_col=id_col
    ).select(id_col).collect()
    ids = [r[id_col] for r in cand]
    if not ids:
        return spark.createDataFrame([], f"{id_col} long, dist double")
    vecs = ivfpq_fetch_payload(spark, path, ids, id_col=id_col)
    keys = spark.createDataFrame([(i,) for i in ids], f"{id_col} long")
    return _exact_l2_rerank(vecs, keys, query_vec, k, id_col, vec_col)


def residual_ivfpq_index_cached(
    spark,
    sf_dir: str,
    nlist: int = 8,
    m: int = 4,
    ksub: int = 16,
    trained: bool = False,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cache_root: str | None = None,
    store_cols: tuple[str, ...] | None = None,
) -> tuple[str, list[list[float]], list[list[list[float]]]]:
    """Build-once persisted RESIDUAL IVF-PQ index (the
    ivfpq_index_cached posture). ``trained`` selects Lloyd centroids +
    residual-trained codebooks (the quality/recall path, still fully
    deterministic) over the lowest-id deterministic quantizers (the
    SQL-oracle path). Returns (path, centroids, codebooks)."""
    import hashlib
    import json
    import os
    import tempfile

    src = os.path.join(sf_dir, f"{table}.parquet")
    parts = [src]
    if os.path.isdir(src):
        parts = sorted(
            os.path.join(r, f)
            for r, _d, fs in os.walk(src)
            for f in fs
            if f.endswith(".parquet")
        ) or [src]
    ident = [os.path.abspath(src), f"nlist={nlist}", f"m={m}",
             f"ksub={ksub}", f"trained={trained}", id_col, vec_col,
             f"store={','.join(store_cols or ())}", "residual-v1"]
    for pth in parts:
        st = os.stat(pth)
        ident.append(f"{pth}:{st.st_mtime_ns}:{st.st_size}")
    key = hashlib.md5("\x1f".join(ident).encode()).hexdigest()[:16]
    root = cache_root or os.environ.get(
        "SPARK_GRAFT_INDEX_CACHE",
        os.path.join(tempfile.gettempdir(), "spark_graft_index_cache"),
    )
    path = os.path.join(root, f"rivfpq-{table}-{key}")
    meta_path = os.path.join(path, "_ivfpq_meta.json")
    if os.path.exists(meta_path):
        with open(meta_path, encoding="utf-8") as fh:
            meta = json.load(fh)
        if os.path.exists(
            os.path.join(_ivfpq_root(path, meta), "_SUCCESS")
        ):
            return path, meta["centroids"], meta["codebooks"]
    emb = spark.read.parquet(src)
    if trained:
        centroids = train_coarse_centroids(
            emb, nlist=nlist, id_col=id_col, vec_col=vec_col
        )
        books = train_residual_codebooks(
            emb, centroids, m=m, ksub=ksub, id_col=id_col, vec_col=vec_col
        )
    else:
        centroids = coarse_centroids_deterministic(
            emb, nlist=nlist, id_col=id_col, vec_col=vec_col
        )
        books = residual_codebooks_deterministic(
            emb, centroids, m=m, ksub=ksub, id_col=id_col, vec_col=vec_col
        )
    tmp = f"{path}.build-{os.getpid()}"
    build_ivfpq_index(
        emb, tmp, books, id_col=id_col, vec_col=vec_col,
        store_cols=store_cols, coarse_centroids=centroids,
    )
    try:
        os.rename(tmp, path)
    except OSError:
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)
    return path, centroids, books


def build_ivfpq_index(
    emb: DataFrame,
    path: str,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 4,
    store_cols: tuple[str, ...] | None = None,
    n_store_buckets: int = 16,
    coarse_centroids: list[list[float]] | None = None,
) -> list[list[float]] | None:
    """Persist the IVF-PQ index: (id, codes) PARTITIONED BY the coarse
    bucket — REPARTITIONED by it first, so each bucket directory is
    written by one task (bounded writer memory, one file per bucket per
    batch — the posting-index write lesson). One scan of the float
    table at ingest; the stored table is 8+m bytes a row and a query
    opens only the probed buckets' directories (partition pruning —
    pinned in tests). The codebooks + plane matrix are persisted as a
    sidecar `_ivfpq_meta.json` (Spark ignores `_` files) so append
    ticks and queries reuse the FROZEN quantizers; the sidecar also
    carries the index's monotonic seq counter + commit watermark
    (search/index.py commit protocol — ticks publish atomically, no
    wall-clock liveness). Returns the plane matrix.

    ``store_cols`` adds the STORED-FIELDS tier (`_docstore/`): payload
    columns persisted with the index, id-bucket partitioned, carried
    by every tick under the same commits — ANN serves then return
    (id, payload, score) without the float table or corpus in the
    plan (ivfpq_topk_stored).

    Takes the single-writer LEASE before the rebuild: a rebuild resets
    the seq counter, so racing a live ticker is counter corruption
    (its commit would stamp a watermark above a fresh counter). The
    rebuild is STAGED: the new generation (rows + docstore + meta + a
    copy of OUR lease) is written into a temp dir and renamed into
    place — the live path's lease file survives the whole build, and
    the swapped-in directory carries the claim from its first instant,
    so a tick starting mid-rebuild fails fast at allocation instead of
    committing into a generation about to be clobbered (r13 advice
    #4; the ivfpq_index_cached / compaction staging pattern)."""
    import os

    from ..metastore import get_metastore
    from ..search.index import (
        _acquire_writer_lease,
        _lease_heartbeats,
        _lease_path,
        _lease_token,
        _release_lease_on_error,
        _release_writer_lease,
    )

    mpath = _ivfpq_meta_path(path)
    _acquire_writer_lease(mpath)
    with _release_lease_on_error(mpath), _lease_heartbeats(mpath):
        store = get_metastore()
        if not store.supports_rename:
            # GENERATION form (no atomic rename): stage the complete
            # new generation under the root, publish the sidecar (the
            # pointer CAS **is** the swap — a crash before it leaves
            # the old generation served, after it leaves reclaimable
            # debris), then reclaim superseded generations under the
            # lease. The lease file at the root is untouched, so no
            # lease-carry is needed. A genuinely FRESH path (no
            # sidecar) needs no swap: write at the bare root exactly
            # like POSIX — a crash mid-build leaves no sidecar, which
            # reads as no index (loud), never a torn one.
            has_data = os.path.exists(mpath) or (
                store.exists(path)
                and any(
                    d.startswith(("bucket=", "_gen-")) or d == "_SUCCESS"
                    for d in store.listdir(path)
                )
            )
            if not has_data:
                groot, gen = path, 0
            else:
                prev_gen = 0
                if os.path.exists(mpath):
                    prev_gen = int(
                        (store.load_meta(mpath) or {}).get("generation")
                        or 0
                    )
                gen = prev_gen + 1
                groot = os.path.join(path, f"_gen-{gen}")
                store.remove_tree(groot)
            planes = _build_ivfpq_staged(
                emb, groot, codebooks, id_col, vec_col, n_planes,
                store_cols, n_store_buckets, meta_path=mpath,
                generation=gen, centroids=coarse_centroids,
            )
            if gen:
                _ivfpq_reclaim(path, gen)
            _release_writer_lease(mpath)
            return planes
        tmp = f"{path}.build-{os.getpid()}"
        store.remove_tree(tmp)
        planes = _build_ivfpq_staged(
            emb, tmp, codebooks, id_col, vec_col, n_planes, store_cols,
            n_store_buckets, centroids=coarse_centroids,
        )
        store.put_text(_lease_path(_ivfpq_meta_path(tmp)), _lease_token())
        old = f"{path}.build-old-{os.getpid()}"
        store.remove_tree(old)
        if store.exists(path):
            store.rename(path, old)
        store.rename(tmp, path)
        store.remove_tree(old)
    _release_writer_lease(mpath)
    return planes


def _build_ivfpq_staged(
    emb, path, codebooks, id_col, vec_col, n_planes, store_cols,
    n_store_buckets, meta_path: str | None = None, generation: int = 0,
    centroids: list[list[float]] | None = None,
):
    """Write one complete index generation into ``path``. POSIX
    staging passes the default meta_path (sidecar INSIDE the staging
    dir — the rename carries it); the generation form passes the LIVE
    sidecar path plus the generation number, making the publish itself
    the pointer swap."""
    from ..metastore import get_metastore

    m = len(codebooks)
    ds = len(codebooks[0][0])
    planes = None if centroids is not None else fixed_planes(m * ds, n_planes)
    (
        _ivfpq_rows(
            emb, codebooks, planes, id_col, vec_col, seq=1,
            centroids=centroids,
        )
        .repartition("bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(path)
    )
    if store_cols:
        _ivfpq_store_batch(
            emb, id_col, tuple(store_cols), 1, path, "overwrite",
            n_store_buckets,
        )
    # meta lands AFTER the data: a crash in between leaves no new
    # sidecar (POSIX: none in the staging dir; generation form: the
    # pointer still on the previous generation) and the LIVE view
    # untouched
    get_metastore().publish_meta(
        meta_path or _ivfpq_meta_path(path),
        {
            "codebooks": codebooks,
            "planes": planes,
            **(
                {"centroids": [[float(x) for x in c] for c in centroids]}
                if centroids is not None
                else {}
            ),
            "store_cols": list(store_cols) if store_cols else None,
            "n_store_buckets": int(n_store_buckets),
            "next_seq": 1,
            "committed_seq": 1,
            "dead_ranges": [],
            **({"generation": int(generation)} if generation else {}),
        },
    )
    return planes


def append_ivfpq_index(
    new_emb: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Tick upkeep of the vector index: encode ONE batch with the
    index's FROZEN codebooks/planes (sidecar meta — no retrain, no
    corpus scan) and append its (id, bucket, codes) rows — O(batch),
    the vector-tier sibling of search/index.append_posting_index.
    Recall note: frozen quantizers drift as the embedding distribution
    shifts; periodic re-train + rebuild is the maintenance pass (the
    FAISS posture), and N-ticks == one-shot holds exactly for a FIXED
    codebook, which is what the oracle pins. Published by one atomic
    sidecar commit: a crash mid-append is invisible, and a re-delivered
    batch lands under fresh seqs with the orphans fenced dead."""
    from ..search.index import (
        _lease_heartbeats,
        _release_lease_on_error,
        alloc_index_seqs,
        commit_index_seq,
    )

    books, planes = read_ivfpq_meta(path)
    centroids = _ivfpq_meta(path).get("centroids")
    store_cols = _ivfpq_meta(path).get("store_cols")
    n_store = _ivfpq_meta(path).get("n_store_buckets", 16)
    mpath = _ivfpq_meta_path(path)
    seq = alloc_index_seqs(mpath, 1)
    with _release_lease_on_error(mpath), _lease_heartbeats(mpath):
        root = _ivfpq_root(path)

        # both writes read only the batch and are invisible until the
        # commit — run them concurrently (the posting-tick pool
        # discipline: per-tick wall is the largest write, not the sum)
        def w_codes():
            (
                _ivfpq_rows(
                    new_emb, books, planes, id_col, vec_col, seq=seq,
                    centroids=centroids,
                )
                .repartition("bucket")
                .write.mode("append")
                .partitionBy("bucket")
                .parquet(root)
            )

        writes = [w_codes]
        if store_cols:
            writes.append(
                lambda: _ivfpq_store_batch(
                    new_emb, id_col, tuple(store_cols), seq, root, "append",
                    n_store,
                )
            )
        _run_concurrently(writes)
        commit_index_seq(mpath, seq)


def _run_concurrently(writes) -> None:
    """Run independent batch writes in one thread pool (the posting
    tick's slim-write discipline): all are invisible until the commit,
    so ordering between them is immaterial and the wall is max(write),
    not sum."""
    from concurrent.futures import ThreadPoolExecutor

    if len(writes) == 1:
        writes[0]()
        return
    with ThreadPoolExecutor(max_workers=len(writes)) as ex:
        for fut in [ex.submit(w) for w in writes]:
            fut.result()


def delete_from_ivfpq_index(
    ids: DataFrame, path: str, id_col: str = "vec_id"
) -> None:
    """Tombstone vectors out of the index without rewriting it — same
    (key, seq) liveness model as delete_from_posting_index (a deleted
    or re-embedded vector's old code rows become invisible to
    ivfpq_query_indexed); seqs come from the index's persisted counter,
    so liveness ordering survives driver restarts and clock steps."""
    import os

    from ..search.index import (
        _lease_heartbeats,
        _release_lease_on_error,
        alloc_index_seqs,
        commit_index_seq,
    )

    mpath = _ivfpq_meta_path(path)
    seq = alloc_index_seqs(mpath, 1)
    with _release_lease_on_error(mpath), _lease_heartbeats(mpath):
        ids.select(
            F.col(id_col), F.lit(int(seq)).cast("long").alias("seq")
        ).write.mode("append").parquet(
            os.path.join(_ivfpq_root(path), "_tombstones")
        )
        commit_index_seq(mpath, seq)


def upsert_ivfpq_index(
    new_emb: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Re-embed CHANGED items: tombstone the old codes, append the new
    ones (newer counter seq wins) — the tombstones and the re-added
    rows publish under a SINGLE commit, so a re-embedded document moves
    to its new bucket atomically from the reader's perspective and a
    crash anywhere mid-upsert serves the pre-tick view."""
    import os

    from ..search.index import (
        _lease_heartbeats,
        _release_lease_on_error,
        alloc_index_seqs,
        commit_index_seq,
    )

    books, planes = read_ivfpq_meta(path)
    centroids = _ivfpq_meta(path).get("centroids")
    store_cols = _ivfpq_meta(path).get("store_cols")
    n_store = _ivfpq_meta(path).get("n_store_buckets", 16)
    mpath = _ivfpq_meta_path(path)
    seq_t = alloc_index_seqs(mpath, 2)
    seq_a = seq_t + 1
    with _release_lease_on_error(mpath), _lease_heartbeats(mpath):
        root = _ivfpq_root(path)

        # tombstones, codes, and the stored tier are all batch-derived
        # and invisible until the single commit — one concurrent pool
        def w_tombstones():
            new_emb.select(
                F.col(id_col), F.lit(int(seq_t)).cast("long").alias("seq")
            ).write.mode("append").parquet(
                os.path.join(root, "_tombstones")
            )

        def w_codes():
            (
                _ivfpq_rows(
                    new_emb, books, planes, id_col, vec_col, seq=seq_a,
                    centroids=centroids,
                )
                .repartition("bucket")
                .write.mode("append")
                .partitionBy("bucket")
                .parquet(root)
            )

        writes = [w_tombstones, w_codes]
        if store_cols:
            writes.append(
                lambda: _ivfpq_store_batch(
                    new_emb, id_col, tuple(store_cols), seq_a, root, "append",
                    n_store,
                )
            )
        _run_concurrently(writes)
        commit_index_seq(mpath, seq_a)


def compact_ivfpq_index(spark, path: str, id_col: str = "vec_id") -> None:
    """Apply tombstones physically and fold per-tick files — one task
    and file-set per bucket after the slim shuffle; tombstones reset.

    Staged through a sibling temp dir + two renames (the
    writers.compact_parquet discipline) instead of an in-place
    overwrite: the overwrite would clear the directory INCLUDING the
    sidecar meta, and a crash before the meta re-write would lose the
    frozen codebooks permanently — they were trained on the original
    corpus state and are NOT re-derivable. With the swap, a crash
    leaves the old index intact or the new one complete (meta is
    written into the temp dir before the swap) — except inside the
    two-rename window itself, the same instant-between-renames window
    writers.compact_parquet documents (a transactional table format
    removes it; its `tx_compact` is the zero-window form). The swap
    also retires the applied tombstones (they live inside the old
    directory).

    Runs under the index's single-writer LEASE (r13): the pass reads
    the sidecar at start and writes a copy into the swap — a tick
    committing mid-pass would otherwise have its watermark bump
    silently replaced by the stale copy (rows invisible AND their seqs
    re-allocatable: corruption, not staleness)."""
    from ..search.index import (
        _acquire_writer_lease,
        _lease_heartbeats,
        _release_writer_lease,
    )

    _acquire_writer_lease(_ivfpq_meta_path(path))
    try:
        with _lease_heartbeats(_ivfpq_meta_path(path)):
            _compact_ivfpq_locked(spark, path, id_col)
    finally:
        _release_writer_lease(_ivfpq_meta_path(path))


def _compact_ivfpq_locked(spark, path: str, id_col: str) -> None:
    import json
    import os
    import shutil

    from ..search.index import _apply_tombstones, _read_or_empty
    from ..session import free_local_checkpoint

    from ..metastore import get_metastore
    from ..search.index import _lease_path, _lease_token

    ms = get_metastore()
    meta = _ivfpq_meta(path)
    cur_root = _ivfpq_root(path, meta)
    raw = _read_or_empty(
        spark, cur_root,
        f"{id_col} long, codes array<int>, seq long, bucket string",
    )
    live = _apply_tombstones(
        spark, path, raw, key=id_col, meta=meta
    ).localCheckpoint(eager=True)
    if ms.supports_rename:
        new_gen = 0
        tmp = f"{path}.compact-{os.getpid()}"
    else:
        new_gen = int(meta.get("generation") or 0) + 1
        tmp = os.path.join(path, f"_gen-{new_gen}")
    ms.remove_tree(tmp)
    live.repartition("bucket").write.mode("overwrite").partitionBy(
        "bucket"
    ).parquet(tmp)
    free_local_checkpoint(live)
    if os.path.isdir(os.path.join(cur_root, "_docstore")):
        # the stored-fields tier rides the swap: live payload only
        store = _apply_tombstones(
            spark, path,
            spark.read.parquet(os.path.join(cur_root, "_docstore")),
            key=id_col, meta=meta,
        ).localCheckpoint(eager=True)
        store.repartition("vsb").sortWithinPartitions(
            "vsb", id_col
        ).write.mode("overwrite").partitionBy("vsb").parquet(
            os.path.join(tmp, "_docstore")
        )
        free_local_checkpoint(store)
    # counters carry across the swap (seq monotonicity outlives any
    # number of compactions); the applied orphan ranges reset
    if not ms.supports_rename:
        # the pointer CAS is the swap; superseded generations reclaimed
        # under the lease (see build_ivfpq_index's generation form)
        ms.publish_meta(
            _ivfpq_meta_path(path),
            {**meta, "dead_ranges": [], "generation": new_gen},
        )
        _ivfpq_reclaim(path, new_gen)
        return
    # POSIX: the swapped-in generation carries OUR lease so the live
    # path is never lease-less mid-swap (see build_ivfpq_index)
    ms.publish_meta(_ivfpq_meta_path(tmp), {**meta, "dead_ranges": []})
    ms.put_text(_lease_path(_ivfpq_meta_path(tmp)), _lease_token())
    old = f"{path}.compact-old-{os.getpid()}"
    ms.rename(path, old)
    ms.rename(tmp, path)
    ms.remove_tree(old)


def ivfpq_index_cached(
    spark,
    sf_dir: str,
    m: int = 4,
    ksub: int = 16,
    n_planes: int = 4,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cache_root: str | None = None,
    store_cols: tuple[str, ...] | None = None,
) -> tuple[str, list[list[list[float]]], list[list[float]]]:
    """Build-once persisted IVF-PQ index (the `analyzed_corpus_cached`
    posture from search/index.py, applied to the ANN tier): the float
    table is scanned ONCE per corpus version at ingest; every serving
    query probes the bucket-partitioned codes table and reads the
    codebooks/planes from the sidecar JSON — no corpus scan, no
    driver-side retraining, on the query path.

    Cache key = corpus file identity (abspath + mtime_ns + size of
    every part file) + the PQ/plane params, so data regeneration or a
    parameter change invalidates. The codebooks and plane matrix are
    stored as `_ivfpq_meta.json` INSIDE the index directory (Spark
    ignores `_`-prefixed files), which is exactly the "store it beside
    the codebooks" deployment note on build_ivfpq_index.

    Returns (index_path, codebooks, planes).
    """
    import hashlib
    import json
    import os
    import tempfile

    src = os.path.join(sf_dir, f"{table}.parquet")
    parts = [src]
    if os.path.isdir(src):
        parts = sorted(
            os.path.join(r, f)
            for r, _d, fs in os.walk(src)
            for f in fs
            if f.endswith(".parquet")
        ) or [src]
    ident = [os.path.abspath(src), f"m={m}", f"ksub={ksub}",
             f"planes={n_planes}", id_col, vec_col,
             f"store={','.join(store_cols or ())}"]
    for p in parts:
        st = os.stat(p)
        ident.append(f"{p}:{st.st_mtime_ns}:{st.st_size}")
    key = hashlib.md5("\x1f".join(ident).encode()).hexdigest()[:16]
    root = cache_root or os.environ.get(
        "SPARK_GRAFT_INDEX_CACHE",
        os.path.join(tempfile.gettempdir(), "spark_graft_index_cache"),
    )
    path = os.path.join(root, f"ivfpq-{table}-{key}")
    meta_path = os.path.join(path, "_ivfpq_meta.json")
    if os.path.exists(meta_path):
        with open(meta_path, encoding="utf-8") as fh:
            meta = json.load(fh)
        # the build's codes land under the current generation root
        # (bare path on POSIX; _gen-<g> on no-rename backends)
        if os.path.exists(
            os.path.join(_ivfpq_root(path, meta), "_SUCCESS")
        ):
            return path, meta["codebooks"], meta["planes"]
    emb = spark.read.parquet(src)
    books = pq_codebooks_deterministic(
        emb, m=m, ksub=ksub, id_col=id_col, vec_col=vec_col
    )
    # build into a pid-suffixed dir, then one atomic rename — two
    # concurrent cache-missing builders must not interleave writes into
    # the SHARED cache path (the analyzed_corpus_cached discipline,
    # search/index.py; build_ivfpq_index writes the sidecar meta, so
    # the rename carries index + quantizers together). The loser
    # discards its build and reuses the winner's.
    tmp = f"{path}.build-{os.getpid()}"
    planes = build_ivfpq_index(
        emb, tmp, books, id_col=id_col, vec_col=vec_col, n_planes=n_planes,
        store_cols=store_cols,
    )
    try:
        os.rename(tmp, path)
    except OSError:
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)
    return path, books, planes


def ivfpq_query_indexed(
    spark,
    path: str,
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    planes: list[list[float]],
    k: int = 10,
    probe_hamming: int = 1,
    id_col: str = "vec_id",
) -> DataFrame:
    """Top-k over a persisted IVF-PQ index: the bucket filter is a
    PARTITION-column predicate (prunes directories before any file
    opens), then ADC ranks the probed codes — the float table is never
    read. Same probe set and ADC arithmetic as `ivf_pq_topk`. Rows
    retired by delete_from_ivfpq_index / upsert_ivfpq_index are
    excluded via the shared tombstone liveness filter (no-op when no
    tombstones exist), and only COMMITTED ticks are visible (the
    sidecar watermark — a crashed half-written append can never serve
    partial results)."""
    from ..search.index import _apply_tombstones, _read_or_empty

    meta = _ivfpq_meta(path)
    probes = probe_buckets(query_vec, planes, probe_hamming)
    codes_df = _read_or_empty(
        spark, _ivfpq_root(path, meta),
        f"{id_col} long, codes array<int>, seq long, bucket string",
    ).filter(F.col("bucket").isin(sorted(probes)))
    codes_df = _apply_tombstones(spark, path, codes_df, key=id_col, meta=meta)
    return pq_topk(codes_df, codebooks, query_vec, k=k, id_col=id_col)


def ivf_pq_topk_rerank(
    emb: DataFrame,
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    k: int = 10,
    shortlist: int = 100,
    n_planes: int = 4,
    probe_hamming: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The full IVFADC serving path: coarse-prune → ADC shortlist →
    exact squared-L2 re-rank of the shortlist rows only (semi-join into
    the float table — full-precision vectors are read for ``shortlist``
    rows, never the corpus). Output: (id, dist) exact, top-k.

    The re-rank tail delegates to ``_exact_l2_rerank`` (shared with
    pq_topk_rerank) so the exact-distance expression exists ONCE —
    two hand-kept copies had to stay bit-identical for the rounding
    assertions (r9 review)."""
    cand = ivf_pq_topk(
        emb, codebooks, query_vec, k=shortlist, n_planes=n_planes,
        probe_hamming=probe_hamming, id_col=id_col, vec_col=vec_col,
    ).select(id_col)
    return _exact_l2_rerank(emb, cand, query_vec, k, id_col, vec_col)


def mmr_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 8,
    shortlist: int = 40,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance re-rank (Carbonell & Goldstein,
    SIGIR 1998) — the diversity-aware top-k every retrieval stack puts
    behind its ANN shortlist: greedily pick the candidate maximizing

        mmr(c) = λ·rel(c) − (1−λ)·max_{s ∈ selected} sim(c, s)

    where rel = cosine(query, c) and sim = candidate-pair cosine. The
    first pick is the plain relevance argmax (empty selected set).

    Two stages, both bounded:
      1. Shortlist: exact cosine top-``shortlist`` over the corpus —
         TakeOrderedAndProject (per-partition top-m, no global sort),
         the identical plan shape to brute_force_topk; swap in the
         IVF/PQ shortlist at scale, the re-rank stage is unchanged.
      2. Greedy: the m-candidate relevance vector and m×(m−1) pairwise
         cosine matrix (computed in COLUMN space with the same
         `cosine` fold as every other similarity op, rounded to 6dp —
         so the oracle sees bit-identical doubles) feed ONE
         applyInPandas group whose input is m² CONSTANT-bounded rows.
         The greedy loop is pure integer/compare logic over already-
         rounded values — no float re-derivation in Python, hence no
         cross-engine drift. Per-query state is O(shortlist²),
         independent of corpus size; a batch of queries parallelizes
         by query id (the group key), which is why the greedy is not
         a driver-side loop.

    Determinism: rel and sim rounded to 6dp; each step's score
    rounded to 6dp; ties break on ascending id at every step.

    Output: the k selected rows (ord, id, rel, mmr_score), ord 1..k in
    selection order; step 1's score is round(λ·rel, 6).
    """
    cand = brute_force_topk(
        emb, query_vec, k=shortlist, id_col=id_col, vec_col=vec_col
    ).select(
        F.lit(0).cast("long").alias("qid"),
        F.col(id_col).alias("id"),
        F.col("cos_sim").alias("rel"),
    )
    return mmr_rerank(
        cand, emb, k=k, lam=lam, id_col=id_col, vec_col=vec_col
    ).drop("qid").orderBy("ord")


def mmr_rerank(
    cand: DataFrame,
    emb: DataFrame,
    k: int = 8,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    normalize_rel: bool = False,
) -> DataFrame:
    """Greedy MMR over PRECOMPUTED per-query shortlists — the re-rank
    stage of mmr_topk factored out so ANY retrieval path can feed it:
    brute_force_topk (mmr_topk), knn_join batches (mmr_topk_batch), or
    the IVF/PQ shortlists at scale.

    ``cand`` = (qid, id, rel) with rel already rounded to 6dp; ``emb``
    supplies the vectors for the pairwise-cosine matrix. qid and id may
    each be LONG (any integral type) or STRING — the reference's own
    domain keys are UUID strings (etl/main.py:70), so string-keyed doc
    tables feed the greedy directly, no surrogate mapping (VERDICT r9
    "what's wrong" #1). The applyInPandas schema and per-step tie-break
    follow the input type: ascending numeric for longs, ascending
    lexicographic (binary collation, same as DuckDB) for strings.
    Candidates with no vector row in ``emb`` are dropped (a stale
    persisted shortlist against a refreshed embedding table must not
    crash the greedy), as are NaN-relevance candidates (zero-norm
    vectors: cosine 0/0 — Spark sorts NaN LARGEST, so a zero vector
    would otherwise hijack the shortlist while the greedy's NaN
    comparisons silently misselect). Pairs are built per qid (shuffle
    on the query id; within-query volume is shortlist², a constant)
    and each query's greedy runs as ONE applyInPandas group — Q
    queries re-rank as Q independent tasks.

    Output: (qid, ord, id, rel, mmr_score), ord 1..k per qid; qid/id
    keep the input types.
    """
    import pandas as pd

    def _key_sql(dtype: str, col: str) -> str:
        if dtype == "string":
            return "string"
        if dtype in ("bigint", "int", "smallint", "tinyint"):
            return "long"
        raise TypeError(
            f"mmr_rerank: column {col!r} must be an integral or string "
            f"key, got {dtype!r}"
        )

    ctypes = dict(cand.dtypes)
    qid_sql = _key_sql(ctypes.get("qid", "bigint"), "qid")
    id_sql = _key_sql(ctypes.get("id", "bigint"), "id")
    # normalizers: Arrow hands the greedy numpy scalars (and float64
    # for a nullable long id_b column) — collapse both key columns to
    # plain python ints/strs so dict keys from the pair rows and the
    # rel rows always match
    qid_py = str if qid_sql == "string" else lambda x: int(x)
    id_py = str if id_sql == "string" else lambda x: int(x)

    vecs = emb.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("_v")
    )
    cv = cand.filter(~F.isnan(F.col("rel"))).join(vecs, "id")
    if normalize_rel:
        # min-max squash rel to [0,1] WITHIN each query's surviving
        # shortlist (after the NaN/no-vector drops, so the range covers
        # exactly the greedy's candidate set). Unbounded relevance
        # sources (BM25 ~1-10) would otherwise dwarf the cosine-bounded
        # diversity term and reduce λ·rel − (1−λ)·max_sim to plain
        # relevance order (ADVICE r9). Degenerate all-equal shortlists
        # map to 1.0; rounded 6dp like every greedy input. The window
        # runs over shortlist-sized groups — constant per query.
        from pyspark.sql import Window

        w = Window.partitionBy("qid")
        mn = F.min("rel").over(w)
        mx = F.max("rel").over(w)
        cv = cv.withColumn(
            "rel",
            F.round(
                F.when(mx == mn, F.lit(1.0)).otherwise(
                    (F.col("rel") - mn) / (mx - mn)
                ),
                6,
            ),
        )
    # persist: cv is read THREE times below (both pair-join sides + the
    # solo branch), and cand is typically an EXPENSIVE shortlist — a
    # BM25 score over the corpus, a knn_join scan, or an IVF-PQ probe.
    # Left lazy, the whole shortlist subtree executed once per reader
    # (mmr_hybrid_topk's plan carried the BM25 scoring tree 3×,
    # plans/r15/mmr_hybrid_topk_before.txt). One materialization of the
    # Q×shortlist-row frame; previous invocation's CacheManager entry
    # released on the next call (session.persist_scoped).
    cv = persist_scoped(cv, "similarity.mmr_cv")
    a = cv.select(
        "qid",
        F.col("id").alias("id_a"),
        F.col("rel").alias("rel_a"),
        F.col("_v").alias("_va"),
    )
    b = cv.select(
        F.col("qid").alias("_qb"),
        F.col("id").alias("id_b"),
        F.col("_v").alias("_vb"),
    )
    pairs = (
        a.join(
            b,
            (F.col("qid") == F.col("_qb"))
            & (F.col("id_a") != F.col("id_b")),
        )
        .select(
            "qid",
            "id_a",
            "rel_a",
            "id_b",
            F.round(
                cosine(
                    F.col("_va").cast("array<double>"),
                    F.col("_vb").cast("array<double>"),
                ),
                6,
            ).alias("sim"),
        )
    )

    kk, ll = int(k), float(lam)

    def _round6(x: float) -> float:
        # Spark F.round semantics (BigDecimal of the double's shortest
        # decimal repr, HALF_UP) — NOT builtin round(), whose half-even
        # on the binary value diverges from both engines when a greedy
        # score lands exactly on a 6dp half boundary (seen with
        # normalize_rel: 0.4704325 → engine 0.470432 vs oracle
        # 0.470433). DuckDB's round agrees with HALF_UP on every value
        # the oracle suite exercises.
        from decimal import ROUND_HALF_UP, Decimal

        return float(
            Decimal(repr(x)).quantize(
                Decimal("0.000001"), rounding=ROUND_HALF_UP
            )
        )

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        qid = qid_py(pdf["qid"].iloc[0])
        rel = {
            id_py(r.id_a): float(r.rel_a)
            for r in pdf[["id_a", "rel_a"]].drop_duplicates().itertuples()
        }
        sim: dict[tuple, float] = {
            (id_py(r.id_a), id_py(r.id_b)): float(r.sim)
            for r in pdf.itertuples()
            if pd.notna(r.id_b)  # solo rows carry no pair
        }
        remaining = sorted(rel)
        out = []
        selected: list[int] = []
        for step in range(1, min(kk, len(remaining)) + 1):
            best = None
            for c in remaining:
                if selected:
                    mx = max(sim[(c, s)] for s in selected)
                    score = _round6(ll * rel[c] - (1.0 - ll) * mx)
                else:
                    score = _round6(ll * rel[c])
                if best is None or score > best[0] or (
                    score == best[0] and c < best[1]
                ):
                    best = (score, c)
            score, pick = best
            out.append((qid, step, pick, rel[pick], score))
            selected.append(pick)
            remaining.remove(pick)
        return pd.DataFrame(
            out, columns=["qid", "ord", "id", "rel", "mmr_score"]
        )

    # union the bare candidate rows (id_b NULL) so a 1-candidate
    # shortlist still reaches the greedy group — built from cv, NOT
    # cand, so a candidate without a vector row cannot re-enter the
    # greedy with no sim entries (KeyError at step ≥ 2)
    solo = cv.select(
        "qid",
        F.col("id").alias("id_a"),
        F.col("rel").alias("rel_a"),
        F.lit(None).cast(id_sql).alias("id_b"),
        F.lit(None).cast("double").alias("sim"),
    )
    return (
        pairs.unionByName(solo)
        .groupBy("qid")
        .applyInPandas(
            greedy,
            schema=(
                f"qid {qid_sql}, ord int, id {id_sql}, "
                "rel double, mmr_score double"
            ),
        )
        .orderBy("qid", "ord")
    )


def mmr_topk_batch(
    queries: DataFrame,
    emb: DataFrame,
    k: int = 8,
    shortlist: int = 40,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Batch MMR: diversity re-rank for EVERY query row at once — the
    scale form the single-query mmr_topk documents. Shortlists come
    from knn_join (query batch broadcast against the corpus scan,
    WindowGroupLimit rank cap → |Q|·shortlist candidate rows), then
    each query's greedy runs as an independent applyInPandas task via
    mmr_rerank — a thousand queries re-rank as a thousand tasks, no
    driver loop anywhere.

    Output: (qid, ord, id, rel, mmr_score), ord 1..k per query.
    """
    cand = knn_join(
        queries,
        emb,
        k=shortlist,
        left_id=id_col,
        right_id=id_col,
        left_vec=vec_col,
        right_vec=vec_col,
    ).select(
        F.col("query_id").alias("qid"),
        F.col("neighbor_id").alias("id"),
        F.col("cos_sim").alias("rel"),
    )
    return mmr_rerank(cand, emb, k=k, lam=lam, id_col=id_col, vec_col=vec_col)
