"""Similarity search over embedding columns (array<float>).

Training-pipeline component: brute-force cosine top-k as the correctness
baseline, plus an LSH-bucketed (random hyperplane) variant as the scale
path. Dot products and norms are pure column expressions
(``zip_with`` + ``aggregate``) — JVM-side, no Python on the hot path.

Scale note: brute force is O(Q x N) — fine for small Q (point lookups)
with a broadcast query side; the hyperplane-bucket variant turns that into
a bucket-equi-join whose cost follows bucket occupancy, the standard
ANN/LSH trade (recall < 1.0, candidates verified exactly).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ocr_parallel_spark.fanout import fan_out

# Hard per-cell occupancy bound for SemDedup pairing (the MAX_BAND_BUCKET
# pattern from operators/neardup.py): a dup-heavy hot cell pairs at most
# MAX_CELL members (O(MAX_CELL^2) work) instead of growing quadratically
# without bound. Shared by semdedup_marks' within-run pair join and
# curation_pipeline.py's cross-run combined (new + committed) cell cap.
MAX_CELL = 4096


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)
    )


def cosine_from_norms(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """Cosine similarity ``dot(a, b) / (na * nb)``, 0.0 when either norm
    is 0, with the per-side norms supplied as precomputed columns: inside
    a pair join, norms computed inline would be recomputed per pair."""
    d = na * nb
    return F.when(d > 0, dot(a, b) / d).otherwise(F.lit(0.0))


def _prep_vec(df: DataFrame, vec_col: str, prefix: str) -> DataFrame:
    """Materialize the double-cast vector and its norm ONCE per row
    (referenced inside pair expressions they would re-evaluate per pair)."""
    out = df.withColumn(f"{prefix}vec", F.col(vec_col).cast("array<double>"))
    return out.withColumn(f"{prefix}norm", norm(F.col(f"{prefix}vec")))


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k per query: broadcast the (small) query side,
    score all pairs, window-rank per query. Output: query_id, vec_id,
    cos_sim, rank."""
    from pyspark.sql import Window

    q = _prep_vec(
        queries.select(F.col(query_id_col), F.col(vec_col).alias("_q")),
        "_q",
        "_q",
    ).drop("_q")
    v = _prep_vec(
        fan_out(vectors.select(id_col, vec_col)), vec_col, "_v"
    ).drop(vec_col)
    pairs = v.crossJoin(F.broadcast(q))
    scored = pairs.withColumn(
        "cos_sim",
        cosine_from_norms(
            F.col("_vvec"), F.col("_qvec"), F.col("_vnorm"), F.col("_qnorm")
        ),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cos_sim").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, F.round("cos_sim", 4).alias("cos_sim"), "rank")
    )


def hyperplane_planes(dim: int, n_planes: int = 16, seed: int = 42) -> list[list[float]]:
    """Deterministic random hyperplanes for sign-LSH bucketing."""
    rng = np.random.RandomState(seed)
    return rng.standard_normal((n_planes, dim)).round(6).tolist()


def _plane_lit(plane: list[float]) -> Column:
    """ONE array Literal per plane (not CreateArray over 64 scalar
    Literals): the value is identical (verified bit-for-bit), but the
    expression tree is 64x smaller — with 16 planes x (bucket +
    probe-margin) trees the CreateArray form put thousands of nodes
    through every optimizer rule and driver planning dominated the
    query wall (guide §7.3; measured 1.7s -> 0.8s per pass on the
    16-dot projection). ``F.lit(list)`` expands back to CreateArray, so
    the numpy path — which PySpark maps to a single array Literal — is
    load-bearing."""
    return F.lit(np.asarray([float(x) for x in plane], dtype=np.float64))


def _bucket_expr(v: Column, planes: list[list[float]]) -> Column:
    bucket = F.lit(0).cast("bigint")
    for i, plane in enumerate(planes):
        bit = F.when(dot(v, _plane_lit(plane)) > 0, F.lit(1)).otherwise(
            F.lit(0)
        ).cast("bigint")
        bucket = bucket + F.shiftleft(bit, i)
    return bucket


def _query_probe_buckets(
    v: Column, dim: int, n_planes: int, n_tables: int, n_probes: int,
    seed: int = 42,
) -> Column:
    """Query-directed multi-probe bucket array: per table, the home
    bucket plus the ``n_probes`` buckets reached by flipping the LEAST
    CONFIDENT signature bits — the planes with the smallest |dot(v, p)|,
    where a near-neighbor is most likely to land on the other side (Lv
    et al.'s multi-probe LSH). Flipping by ascending margin reaches a
    given recall with far fewer probes than a fixed flip set: the
    planted-cluster test matches 8-table recall with 4 tables x 4
    probes. Pure expressions; the margin dots are computed on the QUERY
    side only (a handful of rows), never on the corpus."""
    shifts = F.array(*[F.lit(1 << j).cast("bigint") for j in range(n_planes)])
    per_table = []
    for t in range(n_tables):
        planes = hyperplane_planes(dim, n_planes, seed + 1000 * t)
        home = _bucket_expr(v, planes) + F.lit(t << n_planes).cast("bigint")
        margins = F.array(
            *[
                F.struct(
                    F.abs(dot(v, _plane_lit(p))).alias("m"),
                    F.lit(j).alias("j"),
                )
                for j, p in enumerate(planes)
            ]
        )
        flips = F.slice(F.array_sort(margins), 1, n_probes)
        per_table.append(
            F.concat(
                F.array(home),
                F.transform(
                    flips,
                    lambda s, home=home: home.bitwiseXOR(
                        F.element_at(shifts, s["j"] + 1)
                    ),
                ),
            )
        )
    return F.flatten(F.array(*per_table))


def with_lsh_buckets(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 8,
    n_tables: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Multi-table sign-LSH: ``lsh_buckets`` = one bucket id per hash
    table, each table drawing its own ``n_planes`` hyperplanes from an
    independent seed. Bucket ids are table-offset (table t owns the id
    range [t << n_planes, (t+1) << n_planes)) so a single equi-join
    column spans all tables without cross-table collisions. This is the
    standard L-table LSH construction: per-table collision probability
    for neighbors at angle theta is (1 - theta/pi)^n_planes, and the
    UNION over ``n_tables`` independent tables lifts recall to
    1 - (1 - p^b)^L while random-pair candidates stay ~L/2^b of the
    corpus per query. ``n_tables=1`` degrades to classic single-table
    sign-LSH. Bucket computation is a pure expression over literal plane
    arrays — no Python, and the same literal planes reproduce identical
    buckets everywhere; the vector is cast ONCE per row (per-plane
    expressions reference the materialized column)."""
    out = df.withColumn("_lshv", F.col(vec_col).cast("array<double>"))
    v = F.col("_lshv")
    buckets = []
    for t in range(n_tables):
        planes = hyperplane_planes(dim, n_planes, seed + 1000 * t)
        buckets.append(_bucket_expr(v, planes) + F.lit(t << n_planes).cast("bigint"))
    return out.withColumn("lsh_buckets", F.array(*buckets)).drop("_lshv")


def ivf_assign(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    nprobe: int = 1,
) -> DataFrame:
    """IVF cell assignment: nearest ``nprobe`` centroids per vector by
    cosine, as pure column expressions over literal centroid arrays.
    Centroids ship in the plan (tiny; at scale they come from a sampled
    k-means run and are broadcast the same way)."""
    import math

    out = df.withColumn(
        "_ivfv", F.col(vec_col).cast("array<double>")
    ).withColumn("_ivfn", norm(F.col("_ivfv")))
    v, vn = F.col("_ivfv"), F.col("_ivfn")
    scored = F.array(
        *[
            F.struct(
                # the centroid norm is a DRIVER-side constant — Catalyst
                # does NOT fold aggregate() over literal arrays (verified
                # on the optimized plan), so compute it here: Python's
                # left-to-right float sum performs the exact IEEE double
                # additions the aggregate would, then one sqrt — the
                # result is bit-identical. The row norm is the
                # materialized column, once per row not per cell.
                cosine_from_norms(
                    v,
                    _plane_lit(c),
                    vn,
                    F.lit(math.sqrt(sum((float(x) * float(x) for x in c), 0.0))),
                ).alias("sim"),
                F.lit(i).alias("cell"),
            )
            for i, c in enumerate(centroids)
        ]
    )
    top = F.slice(F.reverse(F.array_sort(scored)), 1, nprobe)
    return out.withColumn(
        "ivf_cells", F.transform(top, lambda s: s["cell"])
    ).drop("_ivfv", "_ivfn")


def kmeans_centroids(
    vectors: DataFrame,
    n_cells: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_cap: int = 4096,
    iters: int = 5,
    seed: int = 7,
) -> list[list[float]]:
    """Sampled k-means for IVF centroids: a deterministic hash-ordered
    sample of at most ``sample_cap`` vectors is collected to the driver
    (cap x dim doubles — trivially small), then seeded k-means++ init +
    ``iters`` Lloyd rounds with COSINE assignment run in numpy. Fully
    deterministic: the sample is ordered by xxhash64(id) (spreads across
    the key space — id-prefix sampling would inherit any id-order skew),
    ties broken by id, rows re-sorted by id before Lloyd so float
    summation order is fixed, and all randomness comes from one seeded
    RandomState. Centroids round to 6 decimals (compact plan literals,
    cross-run stability) and feed ``ivf_assign`` unchanged.

    At 100 TB the same shape holds: the sample collect is a single
    column-pruned pushed-filter scan; Lloyd on <=4096 x dim doubles is
    microseconds of driver time; the resulting centroids ship in the
    plan as literals exactly like the hyperplanes."""
    import numpy as np

    rows = (
        vectors.select(id_col, vec_col)
        .orderBy(F.xxhash64(F.col(id_col)), F.col(id_col))
        .limit(sample_cap)
        .collect()
    )
    rows.sort(key=lambda r: r[0])
    X = np.array([list(map(float, r[1])) for r in rows], dtype=np.float64)
    n = len(X)
    if n == 0:
        raise ValueError("kmeans_centroids: no vectors to sample")
    k = min(n_cells, n)
    rng = np.random.RandomState(seed)
    # Lloyd assigns by COSINE, so seed on the normalized rows too:
    # D^2 on raw vectors would favor high-NORM outliers (Euclidean
    # distance is large even at cosine ~1), seeding duplicate-direction
    # centroids that cosine assignment then leaves empty forever.
    Xn = X / np.maximum(np.linalg.norm(X, axis=1), 1e-12)[:, None]
    # k-means++ init: D^2-weighted seeding on the unit sphere
    cents = [Xn[rng.randint(n)]]
    for _ in range(k - 1):
        d2 = np.min([((Xn - c) ** 2).sum(axis=1) for c in cents], axis=0)
        total = d2.sum()
        if total <= 0:  # all points identical to a centroid
            cents.append(Xn[rng.randint(n)])
            continue
        cents.append(Xn[rng.choice(n, p=d2 / total)])
    C = np.array(cents)
    for _ in range(iters):
        Cn = C / np.maximum(np.linalg.norm(C, axis=1), 1e-12)[:, None]
        assign = np.argmax(Xn @ Cn.T, axis=1)
        for j in range(k):
            members = assign == j
            if members.any():
                C[j] = X[members].mean(axis=0)
    return np.round(C, 6).tolist()


def build_ivf_index(
    vectors: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Corpus-side IVF index: ``(id, cell)`` rows — the nearest-centroid
    assignment amortized across query batches, exactly like
    ``build_lsh_index``'s bucket rows. Persist together with the
    centroid list (queries still need the centroids to pick probe cells;
    ``scripts/job_index.py`` pins them as JSON) and pass back via
    ``ivf_topk(index=...)``."""
    return ivf_assign(
        fan_out(vectors.select(id_col, vec_col)), centroids, vec_col, 1
    ).select(id_col, F.element_at("ivf_cells", 1).alias("cell"))


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    nprobe: int = 2,
    index: DataFrame | None = None,
) -> DataFrame:
    """IVF approximate top-k: vectors live in their nearest cell (nprobe=1),
    queries probe their ``nprobe`` nearest cells; exact cosine ranks within
    the probed cells. The candidate join is a cell-equi-join — cost follows
    cell occupancy, the standard IVF trade. Pass a persisted
    ``build_ivf_index`` result via ``index`` to skip re-assigning the
    corpus (queries are still assigned inline — they are tiny).

    Staleness contract (ADVICE r4): vectors ABSENT from a persisted
    index are NOT dropped — the index left-joins the corpus and
    unindexed rows take an inline cell from a coalesced assignment
    expression (codegen short-circuits it, so indexed rows skip the
    centroid scan and the corpus is read once), keeping a build-once
    index fully covering a grown corpus (in steady state the remainder
    is the small post-build delta; re-run build_ivf_index when it
    stops being small)."""
    from pyspark.sql import Window

    if index is not None:
        # ONE pass over the corpus: left-join the persisted assignment
        # and inline-assign only the unindexed remainder via
        # coalesce — codegen short-circuits the second argument, so
        # indexed rows never pay the n_cells centroid scan (the cost
        # the index exists to skip) and the corpus is scanned once,
        # not twice (inner + anti).
        joined = ivf_assign(
            fan_out(vectors.select(id_col, vec_col)).join(
                index.select(id_col, F.col("cell").alias("_idx_cell")),
                id_col,
                "left",
            ),
            centroids,
            vec_col,
            1,
        )
        # after Catalyst's projection collapse the ivf_cells expression
        # lives only inside this coalesce, whose codegen short-circuits
        assigned = joined.select(
            id_col,
            vec_col,
            F.coalesce(
                F.col("_idx_cell"), F.element_at("ivf_cells", 1)
            ).alias("cell"),
        )
    else:
        assigned = ivf_assign(
            fan_out(vectors.select(id_col, vec_col)), centroids, vec_col, 1
        ).select(id_col, vec_col, F.element_at("ivf_cells", 1).alias("cell"))
    # drop the raw vectors after prep: only the double-cast copy + norm
    # cross the broadcast/join (no dead array bytes per candidate row)
    vc = _prep_vec(assigned, vec_col, "_v").drop(vec_col)
    qc = _prep_vec(
        ivf_assign(
            queries.select(query_id_col, F.col(vec_col).alias("_q")),
            centroids,
            "_q",
            nprobe,
        ).select(query_id_col, "_q", F.explode("ivf_cells").alias("cell")),
        "_q",
        "_q",
    ).drop("_q")
    cands = vc.join(F.broadcast(qc), "cell")
    scored = cands.withColumn(
        "cos_sim",
        cosine_from_norms(
            F.col("_vvec"), F.col("_qvec"), F.col("_vnorm"), F.col("_qnorm")
        ),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cos_sim").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, F.round("cos_sim", 4).alias("cos_sim"), "rank")
    )


def semdedup_marks(
    vectors: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cell: int = MAX_CELL,
) -> DataFrame:
    """SemDedup-style semantic dedup (Abbas et al. 2023, public): cluster
    embeddings with k-means (``kmeans_centroids`` — driver-sampled, the
    centroid list ships in the plan), then WITHIN each cluster mark every
    vector that has a lower-id cluster-mate at cosine >= ``threshold``.
    The lowest id per epsilon-group survives — the same arrival-order
    keep-first canon as the exact/MinHash dedup family (operators/
    dedup.py keep-first, neardup.py canonical member). ``dup_of`` is
    the LOWEST-id close partner; because epsilon-closeness is not
    transitive, in a chain a < b < c with (a,b) and (b,c) close but
    (a,c) not, c's dup_of is b, which is itself marked — a consumer
    needing a KEPT representative follows the dup_of chain (bounded by
    the chain's length) or runs the marks through
    operators/graph.py connected_components, exactly like the
    MinHash-cluster canon.

    Scale shape: the only quadratic work is the within-cell pair join,
    bounded by cell occupancy — the clustering exists precisely to turn
    the O(n^2) all-pairs baseline (q_embedding_neardup) into
    sum(|cell|^2). Occupancy is further HARD-bounded by ``max_cell``:
    members rank by (xxhash64(id), id) within their cell and only the
    first ``max_cell`` participate in pairing (the same deterministic
    occupancy cap as MAX_BAND_BUCKET in operators/neardup.py:35);
    overflow members pass through unmarked — a bounded, documented
    recall trade instead of an unbounded straggler on a dup-heavy cell,
    which at 100 TB is exactly where the hot cell sits. Cross-cell near
    pairs are missed by design (the SemDedup trade); the
    ``semdedup_recall`` gate measures what survives.

    Output: (id, cell, is_sem_dup, dup_of) — one row per input vector,
    dup_of NULL for kept rows. No collects beyond the centroid fit; the
    pair join shuffles (id, cell, unit-vector) rows only."""
    from pyspark.sql import Window

    assigned = ivf_assign(
        fan_out(vectors.select(id_col, vec_col)), centroids, vec_col, 1
    ).select(id_col, vec_col, F.element_at("ivf_cells", 1).alias("cell"))
    # assigned feeds the occupancy window, BOTH pair-join sides, and the
    # final marks join — four consumers that would each re-run the
    # n_cells-cosine assignment; materialize it once (round 6: 1.9s ->
    # 1.6s at sf0.1, and a 4x cut in assignment work at any scale).
    assigned = assigned.localCheckpoint(eager=False)
    wcell = Window.partitionBy("cell").orderBy(
        F.xxhash64(F.col(id_col)), F.col(id_col)
    )
    eligible = (
        assigned.withColumn("_rk", F.row_number().over(wcell))
        .filter(F.col("_rk") <= max_cell)
        .drop("_rk")
    )
    v = _prep_vec(eligible, vec_col, "_v").drop(vec_col)
    a = v.select(
        F.col("cell"),
        F.col(id_col).alias("_id_a"),
        F.col("_vvec").alias("_va"),
        F.col("_vnorm").alias("_na"),
    )
    b = v.select(
        F.col("cell").alias("_cell_b"),
        F.col(id_col).alias("_id_b"),
        F.col("_vvec").alias("_vb"),
        F.col("_vnorm").alias("_nb"),
    )
    pairs = a.join(
        b, (F.col("cell") == F.col("_cell_b")) & (F.col("_id_a") < F.col("_id_b"))
    )
    close = pairs.filter(
        F.round(
            cosine_from_norms(
                F.col("_va"), F.col("_vb"), F.col("_na"), F.col("_nb")
            ),
            4,
        )
        >= threshold
    )
    marks = close.groupBy(F.col("_id_b").alias(id_col)).agg(
        F.min("_id_a").alias("dup_of")
    )
    return assigned.join(marks, id_col, "left").select(
        id_col,
        "cell",
        F.col("dup_of").isNotNull().alias("is_sem_dup"),
        "dup_of",
    )


def semdedup_canon(
    marks: DataFrame, id_col: str = "vec_id"
) -> DataFrame:
    """Resolve SemDedup marks to a KEPT canonical per doc: epsilon-
    closeness is not transitive, so ``dup_of`` can point at a doc that
    is itself marked (a < b < c chain — see ``semdedup_marks``); this
    runs the (id, dup_of) edges through pointer-doubling connected
    components, labeling every marked doc with its chain's minimum id —
    which is unmarked by construction (it had no lower close partner).
    Same composition as the MinHash cluster canon (q_minhash_clusters).
    Output: one row per input doc — (id, canon_id, is_sem_dup);
    canon_id == id for kept docs."""
    from ocr_parallel_spark.operators.graph import connected_components

    edges = marks.filter(F.col("is_sem_dup")).select(
        F.col(id_col).alias("src"), F.col("dup_of").alias("dst")
    )
    cc = connected_components(
        edges, nodes=marks.select(F.col(id_col).alias("node"))
    )
    return marks.select(id_col, "is_sem_dup").join(
        cc.select(F.col("node").alias(id_col), F.col("component").alias("canon_id")),
        id_col,
    ).select(id_col, "canon_id", "is_sem_dup")


def build_lsh_index(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 8,
    n_tables: int = 8,
) -> DataFrame:
    """Corpus-side multi-table LSH index: (id, lsh_bucket) long rows,
    ``n_tables`` per vector. Pure expressions — one scan, no shuffle;
    persist the result (and pass it back via ``lsh_topk(index=...)``)
    to amortize the hashing across query batches."""
    return with_lsh_buckets(
        fan_out(vectors.select(id_col, vec_col)), vec_col, dim, n_planes, n_tables
    ).select(id_col, F.explode("lsh_buckets").alias("lsh_bucket"))


def lsh_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    dim: int = 64,
    n_planes: int = 8,
    n_tables: int = 8,
    n_probes: int = 0,
    index: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k via multi-table sign-LSH: a candidate shares the
    query's bucket in ANY of the ``n_tables`` hash tables; exact cosine
    ranks within candidates. Dials: more planes => smaller buckets =>
    fewer candidates but lower per-table recall; more tables => the union
    restores recall at ~linear candidate cost; ``n_probes`` > 0 turns on
    QUERY-DIRECTED MULTI-PROBE: each query additionally probes the
    buckets reached by flipping its ``n_probes`` least-confident
    signature bits per table (smallest |dot| margins — where a true
    neighbor most likely sits on the other side; Lv et al.'s multi-probe
    LSH, public). Probing expands ONLY the broadcast query index — the
    corpus index stays at L rows per vector — so it buys the recall of
    extra tables without their index memory and build shuffle: the
    standard trade when the corpus side dominates cost, which at 100 TB
    it always does. Production corpora
    (clustered, near-neighbors at cos >= 0.8) run wide-and-many (e.g.
    n_planes=12, n_tables=12: random-pair candidates ~12/4096 = 0.3% of
    the corpus per query, neighbor recall ~0.87); the sandbox's synthetic
    embeddings are near-RANDOM (5th-neighbor cos ~0.35), so the gated
    config is narrow (n_planes=4, n_tables=4, n_probes=4 — measured
    recall 0.76-0.86, meets or beats probe-free n_tables=8 at about half
    the candidate cost) and its candidate fraction reflects the data's
    absent structure, not the operator — tests/test_multimodal.py pins
    the sublinear behavior on planted clustered data.

    Plan shape: the L-fold expansion touches only (id, bucket) index
    rows — vector bytes never multiply across tables. Candidates are
    (query, id)-deduped BEFORE scoring (a pair colliding in several
    tables must score once, or duplicate rows would inflate the top-k),
    then vectors are fetched back by id for the exact rank.

    ``index``: a precomputed ``build_lsh_index`` table (id_col,
    lsh_bucket) — the build-once / query-many deployment shape: at
    100 TB the corpus index is computed in one pass, persisted
    (snapshot-committed, ideally bucketed by lsh_bucket so the probe
    join is exchange-free on the index side), appended to as new
    vectors arrive, and every query batch reads it instead of
    re-hashing the corpus. MUST have been built with the same planes
    (dim/n_planes/n_tables/seed) as this call, or buckets silently
    mismatch — recall collapse, which the ann_recall gate catches."""
    from pyspark.sql import Window

    if not 0 <= n_probes <= n_planes:
        raise ValueError(f"lsh_topk: n_probes {n_probes} outside 0..{n_planes}")
    if index is not None:
        v_idx = index.select(id_col, "lsh_bucket")
    else:
        v_idx = build_lsh_index(vectors, id_col, vec_col, dim, n_planes, n_tables)
    if n_probes:
        # bucket = sig | (t << n_planes) with sig < 2^n_planes, so
        # XOR-ing bits below n_planes stays inside the same table's
        # id range — a probe can never alias another table's bucket.
        qv = queries.select(
            query_id_col, F.col(vec_col).cast("array<double>").alias("_qv")
        )
        q_idx = qv.select(
            query_id_col,
            F.explode(
                _query_probe_buckets(
                    F.col("_qv"), dim, n_planes, n_tables, n_probes
                )
            ).alias("lsh_bucket"),
        )
    else:
        q_idx = with_lsh_buckets(
            queries.select(query_id_col, F.col(vec_col).alias("_q")),
            "_q",
            dim,
            n_planes,
            n_tables,
        ).select(query_id_col, F.explode("lsh_buckets").alias("lsh_bucket"))
    cand_ids = (
        v_idx.join(F.broadcast(q_idx), "lsh_bucket")
        .select(query_id_col, id_col)
        .distinct()
    )
    v = _prep_vec(
        fan_out(vectors.select(id_col, vec_col)), vec_col, "_v"
    ).drop(vec_col)
    q = _prep_vec(
        queries.select(query_id_col, F.col(vec_col).alias("_q")), "_q", "_q"
    ).drop("_q")
    cands = cand_ids.join(v, id_col).join(F.broadcast(q), query_id_col)
    scored = cands.withColumn(
        "cos_sim",
        cosine_from_norms(
            F.col("_vvec"), F.col("_qvec"), F.col("_vnorm"), F.col("_qnorm")
        ),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cos_sim").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, F.round("cos_sim", 4).alias("cos_sim"), "rank")
    )
