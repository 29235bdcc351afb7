"""Similarity search over embedding columns (SURVEY.md §2.10).

Brute-force cosine top-k is the correctness baseline; the partitioned
(IVF-style) variant is the scale path. Dot products use built-in
higher-order array functions (``zip_with`` + ``aggregate``) — JVM-side,
sequential fold, bit-identical with DuckDB's ``list_dot_product`` (verified
empirically), so cosine scores can be hash-compared against the oracle
unrounded.

Scale design (100 TB / billions of vectors):
 - brute force is O(Q × N) — only for small Q (re-ranking) or verification
 - :func:`cosine_topk_partitioned` restricts each query to one coarse
   partition (IVF cell); here the precomputed ``label`` plays the cell id.
   Real IVF would k-means the cells; the join/aggregate shape — the Spark
   part — is identical, and the cell join broadcasts the (tiny) query set.
 - both paths prune with a window-function top-k (rank ≤ k) instead of a
   global sort: the per-query heap is Catalyst's WindowGroupLimit pushdown.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..sources import store
from ..sources.local import local_frame
from .loop_sql import (
    dot_sql,
    sign_bit_sql,
    sql_double,
    sql_double_array,
    sql_lazy,
    temp_view,
)


def dot_col(a: str | Column, b: str | Column) -> Column:
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    prod = F.zip_with(a.cast("array<double>"), b.cast("array<double>"), lambda x, y: x * y)
    return F.aggregate(prod, F.lit(0.0), lambda acc, x: acc + x)


def norm_col(a: str | Column) -> Column:
    return F.sqrt(dot_col(a, a))


def cosine_col(a: str | Column, b: str | Column) -> Column:
    return dot_col(a, b) / (norm_col(a) * norm_col(b))


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_same: str | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors per query (brute force).

    Output: (query_id, neighbor_id, cosine, rank), rank 1..k, ties broken
    by neighbor id so results are deterministic. The query side is
    broadcast (small by contract); the corpus is scanned once. Norms are
    precomputed per vector BEFORE the pair join — one O(dim) fold per
    row instead of two extra folds per pair (3× fewer flops; same values,
    so oracle comparison stays bit-exact).

    ``exclude_same``: name of a column present on BOTH sides; pairs whose
    values MATCH are dropped (the hard-negative-mining constraint — see
    :func:`hard_negative_topk`). Applied per pair, never a shuffle key.
    """
    q_cols = [
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        norm_col(vec_col).alias("q_nrm"),
    ]
    c_cols = [
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        norm_col(vec_col).alias("c_nrm"),
    ]
    if exclude_same is not None:
        q_cols.append(F.col(exclude_same).alias("q_excl"))
        c_cols.append(F.col(exclude_same).alias("c_excl"))
    # exclude_same AUGMENTS (never replaces) the self-pair filter: if the
    # same vec_id ever appears on both sides with differing exclude-column
    # values, the id-inequality still stops it returning itself at
    # cosine 1.0. When queries ⊆ corpus with identical exclude values the
    # extra predicate is redundant (the self-row shares its own label), so
    # oracle results are unchanged.
    pair_filter = F.col("query_id") != F.col("neighbor_id")
    if exclude_same is not None:
        pair_filter = pair_filter & (F.col("q_excl") != F.col("c_excl"))
    scored = (
        corpus.select(*c_cols)
        .crossJoin(F.broadcast(queries.select(*q_cols)))
        .filter(pair_filter)
        .select(
            "query_id",
            "neighbor_id",
            (dot_col(F.col("q_vec"), F.col("c_vec")) / (F.col("q_nrm") * F.col("c_nrm"))).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", F.col("rank").cast("long").alias("rank"))
    )


def random_hyperplanes(dim: int = 64, n_planes: int = 16) -> list[list[float]]:
    """Deterministic pseudo-random hyperplane weights in [-1, 1), derived
    from md5((plane, dim)) — reproducible in any engine as literals, no
    RNG state. Used for sign-LSH over cosine similarity."""
    import hashlib

    planes = []
    for j in range(n_planes):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"{j}:{d}".encode()).hexdigest()[:8]
            row.append(int(h, 16) / float(1 << 31) - 1.0)
        planes.append(row)
    return planes


def auto_rp_lsh_params(n: int, target_occupancy: int = 16, bands: int = 8) -> tuple[int, int]:
    """Scale-safe (n_planes, bands) from a corpus-count estimate.

    Buckets per band must grow ∝ N or the bucket join goes quadratic
    (measured: the old fixed 16-bucket default cost 39× at ×10 data,
    BASELINE.md). Band width ``w = max(8, ceil(log2(N / target_occupancy)))``
    keeps expected bucket occupancy ≤ ~target, so per-band candidate
    volume stays ~N·occupancy/2 — linear in N — while plane count (the
    per-row compute) grows only logarithmically. ``bands=8`` keeps recall:
    at cosine 0.9 (per-bit agreement ≈ 0.85) recall = 1−(1−0.85^w)^8 ≈
    0.97 at w=8, ≈ 0.80 at w=11 — decaying ~log N, the standard LSH
    trade; raise ``bands`` to buy it back at linear cost."""
    import math

    w = max(8, math.ceil(math.log2(max(n, 2) / target_occupancy)))
    return w * bands, bands


def rp_lsh_near_dup_pairs(
    vectors: DataFrame,
    threshold: float = 0.35,
    n_planes: int | str = "auto",
    bands: int | str = "auto",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cosine near-dup via random-hyperplane (sign) LSH — the labels-free
    scale path: bucket on band signatures, verify candidates exactly.

    P(two vectors agree on one bit) = 1 − θ/π, so banding tunes recall vs
    candidate volume; found pairs ⊆ true pairs (LSH may miss
    low-similarity pairs — by design). Everything is built-in Column
    arithmetic; the plane weights are literals, so the DuckDB oracle
    reproduces signatures bit-for-bit.

    DEFAULT IS SCALE-SAFE: ``n_planes``/``bands`` auto-size from a cheap
    ``count()`` of the corpus (parquet row-count is metadata-only) via
    :func:`auto_rp_lsh_params`, so bucket count grows ∝ N and the probe
    stays near-linear at any scale. Pass explicit ints to pin a config
    (the small-corpus oracle query pins the historical 16/4 so hashes
    don't move; BASELINE.md records the measured recall ladder — 16
    buckets: recall 0.47 at θ≈70°; 32/4: 0.75 at cosine 0.9; 64/8: 0.97).
    """
    if isinstance(n_planes, str):
        n_planes, bands = auto_rp_lsh_params(
            vectors.count(), bands=bands if isinstance(bands, int) else 8
        )
    elif isinstance(bands, str):
        bands = 4 if n_planes <= 32 else 8
    planes = random_hyperplanes(64, n_planes)
    rows_per_band = n_planes // bands
    # ONE SQL statement instead of ~1,000 py4j Column constructions (the
    # 16×64 plane-literal trees measured ~1.3 s of pure driver-side
    # construction per bench run) — same operators in the same order
    # (cast/norm → per-plane sign bits → concat bands → stack →
    # bucket self-join → cosine → DISTINCT → threshold), so plans and
    # results are bit-identical. Plane literals round-trip exactly
    # (shortest-repr + correctly-rounded parse). A NULL vector has NULL
    # sign bits and a NULL band key, so it never shares a bucket.
    bit_sql = ",\n         ".join(
        f"{sign_bit_sql('v', plane)} AS bit{j}" for j, plane in enumerate(planes)
    )
    band_sql = ",\n         ".join(
        "concat("
        + ", ".join(f"bit{j}" for j in range(b * rows_per_band, (b + 1) * rows_per_band))
        + f") AS band{b}"
        for b in range(bands)
    )
    stack_args = ", ".join(f"{b}, band{b}" for b in range(bands))
    vcast = f"CAST({vec_col} AS ARRAY<DOUBLE>)"
    return sql_lazy(
        vectors,
        lambda view: f"""
WITH v AS (
  SELECT {id_col} AS vid, {vcast} AS v,
         sqrt({dot_sql(vcast, vcast)}) AS nrm
  FROM {view}
),
sig AS (
  SELECT vid, v, nrm,
         {bit_sql}
  FROM v
),
wide AS (
  SELECT vid, v, nrm,
         {band_sql}
  FROM sig
),
banded AS (
  SELECT vid, v, nrm, band, bucket
  FROM wide
  LATERAL VIEW stack({bands}, {stack_args}) _s AS band, bucket
),
cand AS (
  SELECT DISTINCT a.vid AS id_a, b.vid AS id_b,
         {dot_sql('a.v', 'b.v')} / (a.nrm * b.nrm) AS cosine
  FROM banded a JOIN banded b USING (band, bucket)
  WHERE a.vid < b.vid
)
SELECT id_a, id_b, cosine FROM cand WHERE cosine >= {sql_double(threshold)}""",
    )


def fixed_centroids(k: int = 8, dim: int = 64) -> list[list[float]]:
    """Deterministic pseudo-random IVF centroids in [-1, 1), md5-derived
    like :func:`random_hyperplanes` (distinct seed prefix). Reproducible as
    literals in any engine — this is what makes the fixed-centroid IVF
    query (``ivf_fixed_topk``) exactly oracle-checkable: cell assignment is
    pure literal arithmetic, identical in Spark and DuckDB."""
    import hashlib

    cents = []
    for j in range(k):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"cent:{j}:{d}".encode()).hexdigest()[:8]
            row.append(int(h, 16) / float(1 << 31) - 1.0)
        cents.append(row)
    return cents


def _score_entries_sql(
    vec_col: str, cents: list[list[float]], ids: list[int] | None = None
) -> str:
    """SQL text for the per-centroid score array
    ``array(named_struct('score', |c|² − 2·v·c, 'cell', i), ...)``.

    One string parsed by ONE ``F.expr`` call instead of O(k×dim) Python
    Column constructions: at k=8 × dim=64 the old literal tree cost ~0.5 s
    of py4j round trips PER CALL at query-construction time — the whole
    r3 `ivf_multiprobe_topk` bench regression once the timer started
    spanning construction. Each dot product is written once per entry
    (the old fold evaluated it twice, once for the comparison and once
    for the kept score).

    ``ids`` labels entry i with ``ids[i]`` instead of the enumeration
    index — the restricted-subset form (e.g. assigning only to the
    FLAGGED cells during a recluster repair, where entry order and cell
    id diverge)."""
    v = f"CAST(`{vec_col}` AS ARRAY<DOUBLE>)"
    parts = []
    for ci, c in enumerate(cents):
        arr = sql_double_array(c)
        c2 = sql_double(sum(x * x for x in c))
        cid = ci if ids is None else int(ids[ci])
        parts.append(
            f"named_struct('score', {c2} - 2.0D * {dot_sql(v, arr)}, 'cell', {cid})"
        )
    return "array(" + ",".join(parts) + ")"


def centroid_argmin(
    vec_col: str, cents: list[list[float]], ids: list[int] | None = None
) -> Column:
    """Nearest-centroid id for column ``vec_col`` (a column NAME — the
    whole expression is rendered as one SQL string, see
    :func:`_score_entries_sql`). Squared distance ``|c|² − 2·v·c`` (|v|²
    is constant per row); ``array_min`` over struct<score,cell> compares
    field-by-field, so ties go to the lower cell id — matching the
    oracle's first-occurrence ``list_position`` / ``list_sort``
    semantics. ``ids`` relabels the entries for subset assignment (ties
    still go to the lower cell ID, not the lower entry index — same rule
    as a (score, cell)-ordered row_number)."""
    return F.expr(f"array_min({_score_entries_sql(vec_col, cents, ids)}).cell")


def centroid_top_cells(
    vec_col: str, cents: list[list[float]], nprobe: int = 2
) -> Column:
    """The ``nprobe`` nearest centroid ids, closest first — the IVF
    multi-probe knob: probing >1 cell recovers the recall lost to queries
    sitting near cell boundaries, at nprobe× probe cost. Same |c|² − 2·v·c
    score arithmetic as :func:`centroid_argmin`; ``array_sort`` over
    struct<score,cell> breaks ties toward the lower cell id, matching the
    oracle's struct list_sort."""
    entries = _score_entries_sql(vec_col, cents)
    return F.expr(
        f"transform(slice(array_sort({entries}), 1, {int(nprobe)}), e -> e.cell)"
    )


def assign_cells(
    vectors: DataFrame,
    cents: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cell) assignment of every vector to its nearest centroid —
    one narrow map, no shuffle, no Python. For attaching the cell to the
    full corpus frame use :func:`with_cell` instead of re-joining this
    result back on the id (a corpus×corpus self-join)."""
    return vectors.select(
        F.col(id_col).alias("vid"),
        centroid_argmin(vec_col, cents).alias("cell"),
    )


def with_cell(
    vectors: DataFrame,
    cents: list[list[float]],
    vec_col: str = "embedding",
    out_col: str = "cell",
) -> DataFrame:
    """Corpus frame + nearest-centroid cell column, as a ``withColumn``
    narrow map — NO self-join. Joining :func:`assign_cells` output back
    to the corpus on the id re-shuffles the entire corpus twice (plan
    audit caught a SortMergeJoin of corpus against itself); the cell is a
    pure function of the vector, so it belongs in the same scan."""
    return vectors.withColumn(out_col, centroid_argmin(vec_col, cents))


def cosine_near_dup_pairs(
    vectors: DataFrame,
    threshold: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cosine ≥ t).

    With ``cell_col`` the self-join is an equi-join on the coarse cell
    (LSH bucket / IVF cell) — the scale path: true near-dups almost always
    share a cell, and the quadratic blow-up is confined to cells. Without
    it, a full cross join — verification only.
    """
    cell = [F.col(cell_col).alias("cell")] if cell_col else []
    a = vectors.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"),
                       norm_col(vec_col).alias("na"), *cell)
    b = vectors.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"),
                       norm_col(vec_col).alias("nb"), *cell)
    joined = a.join(b, "cell") if cell_col else a.crossJoin(b)
    return (
        joined.filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            (dot_col(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def kmeans_cells(
    vectors: DataFrame,
    k: int = 8,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int | None = 9,
) -> DataFrame:
    """Deterministic Lloyd's k-means over the embedding column, returning
    (id, cell) — the coarse quantizer for real IVF (no precomputed labels).

    Spark-first shape: each iteration is one broadcast-join pass — dot
    every vector against the k current centroids (a k×dim literal array,
    pure Column arithmetic), argmin by euclidean distance, then
    groupBy(cell).avg to re-estimate. Centroids live driver-side (k×dim
    floats — tiny); the data never re-shuffles. Init = the first k vectors
    by id (deterministic; k-means++ would also be expressible but needs k
    passes). Empty cells keep their previous centroid.

    ``round_dp`` quantizes each re-estimated mean to a fixed decimal grid
    (via ``F.round``, half-away — same rule as DuckDB's ``round``). This
    makes the centroids ENGINE-EXACT: float summation order differs
    between engines (and between Spark task schedules) by ~1e-16, which
    the 9-dp grid erases, so the whole Lloyd's trajectory — and therefore
    every cell assignment — is reproducible bit-for-bit in any engine
    that can round. That is what lets the registry hash-check learned IVF
    end-to-end against a recursive DuckDB oracle instead of settling for
    a rows-only check (a 1e-9 centroid grid is far below any quantizer's
    useful resolution, so recall is unaffected — pinned by tests).
    """
    v = vectors.select(F.col(id_col).alias("vid"), F.col(vec_col).cast("array<double>").alias("v"))
    centroids = kmeans_centroids(vectors, k, iters, id_col, vec_col, round_dp)
    return v.withColumn("cell", centroid_argmin("v", centroids)).select("vid", "cell")


def kmeans_centroids(
    vectors: DataFrame,
    k: int = 8,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int | None = 9,
) -> list[list[float]]:
    """The Lloyd's loop behind :func:`kmeans_cells`, returning the learned
    centroid list itself (k×dim driver-side floats). Exposed so the
    learned quantizer composes with the other centroid primitives —
    :func:`with_cell` for corpus assignment and :func:`centroid_top_cells`
    for multi-probe — exactly like the fixed-centroid twin does."""
    spark = vectors.sparkSession
    v = vectors.select(F.col(id_col).alias("vid"), F.col(vec_col).cast("array<double>").alias("v"))
    # r12 (guide §1.2): the dim probe, the seed collect and each of the
    # `iters` Lloyd rounds re-scanned the parquet and re-cast the
    # vectors — iters+2 passes. Tiny corpora materialize (vid, v) once;
    # the checkpoint PRESERVES partitioning (no coalesce), so every
    # float aggregation sees the identical partial-sum order and the
    # trajectory is bit-identical. Above the bound the scan-per-round
    # shape is kept (at 100 TB, re-scanning columnar storage beats a
    # corpus-sized checkpoint).
    if vectors.select(F.col(id_col)).count() <= (1 << 17):
        v = v.localCheckpoint(eager=True)
    seeds = v.orderBy("vid").limit(k).collect()
    # dim rides the seed collect — the separate v.first() probe was one
    # more full job per construction (guide §1.2; r12)
    dim = len(seeds[0]["v"])
    centroids = [r["v"] for r in seeds]

    # r12 (guide §7.3 driver-side work): each round used to build the
    # assignment + 64-column mean plan through ~130 py4j Column calls
    # and a per-round F.expr parse — ~1 s of DRIVER time per round on
    # a 2 ms of data (the centroid literals change every round, so
    # nothing amortizes). One spark.sql string per round is a single
    # py4j call + one parse; the expression tree (argmin string, avg,
    # round) is the same operators in the same order, so the float
    # trajectory — and the oracle hash — is unchanged.
    mean_sql = (
        (lambda d: f"avg(v[{d}]) AS d{d}")
        if round_dp is None
        else (lambda d: f"round(avg(v[{d}]), {int(round_dp)}) AS d{d}")
    )
    with temp_view(v, "__kmeans_v") as view:
        for _ in range(iters):
            argmin = f"array_min({_score_entries_sql('v', centroids)}).cell"
            means = spark.sql(
                f"SELECT cell, {', '.join(mean_sql(d) for d in range(dim))}"
                f" FROM (SELECT {argmin} AS cell, v FROM {view}) GROUP BY cell"
            ).collect()
            new_cents = list(centroids)
            for r in means:
                new_cents[r["cell"]] = [r[f"d{d}"] for d in range(dim)]
            centroids = new_cents
    return centroids


def cosine_topk_partitioned(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
) -> DataFrame:
    """IVF-style ANN: each query probes only its own coarse cell.

    ``cell_col`` assigns both sides to a coarse partition (in real IVF the
    nearest k-means centroid; here the dataset's precomputed label). The
    candidate join is an equi-join on the cell — shuffle-free when the
    query side broadcasts — so cost drops from O(Q×N) to O(Q×N/cells).
    Recall < 1.0 by construction; brute force is the verification oracle.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        norm_col(vec_col).alias("q_nrm"),
        F.col(cell_col).alias("cell"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        norm_col(vec_col).alias("c_nrm"),
        F.col(cell_col).alias("cell"),
    )
    scored = (
        c.join(F.broadcast(q), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (dot_col(F.col("q_vec"), F.col("c_vec")) / (F.col("q_nrm") * F.col("c_nrm"))).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", F.col("rank").cast("long").alias("rank"))
    )


def knn_within_cell(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
) -> DataFrame:
    """Each vector's nearest neighbor WITHIN its coarse cell — the
    SemDeDup primitive (cluster the corpus, then compare only inside a
    cluster; Abbas et al. 2023). Declared-approximate by construction:
    the true global NN can live in another cell, which is exactly the
    trade the clustering buys — the all-pairs join collapses to a
    per-cell join, so cost is O(Σ cell²) instead of O(N²) and each cell's
    work is an independent task.

    Deterministic semantics (hash-checkable): highest cosine wins, ties
    break toward the smaller neighbor id; vectors alone in their cell
    emit no row. One shuffle at the cell grain for the join, one at the
    id grain for the top-1 window (WindowGroupLimit prunes to 1 row per
    id before the final sort)."""
    a = vectors.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("va"),
        norm_col(vec_col).alias("na"),
        F.col(cell_col).alias("cell"),
    )
    b = vectors.select(
        F.col(id_col).alias("nn_id"),
        F.col(vec_col).alias("vb"),
        norm_col(vec_col).alias("nb"),
        F.col(cell_col).alias("cell"),
    )
    scored = (
        a.join(b, "cell")
        .filter(F.col("vid") != F.col("nn_id"))
        .select(
            F.col("vid").alias("vec_id"),
            "nn_id",
            (dot_col(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))).alias("cosine"),
        )
    )
    # top-1 as a struct-max AGGREGATE, not a window: the pair stream is
    # |cell| rows per vector, and a window would shuffle ALL of it to sort
    # per vec_id; max() partial-aggregates map-side, so only one row per
    # vector reaches the shuffle (×100 probe: 45.8 s window → agg form).
    # struct compares fields in order: cosine desc ≡ max, then -nn_id max
    # ≡ smaller id wins ties.
    best = F.max(
        F.struct(F.col("cosine"), (-F.col("nn_id")).alias("neg"), F.col("nn_id").alias("nn"))
    ).alias("m")
    return (
        scored.groupBy("vec_id")
        .agg(best)
        .select("vec_id", F.col("m.nn").alias("nn_id"), F.col("m.cosine").alias("cosine"))
    )


def quantize_int8_stats(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits_max: int = 127,
) -> DataFrame:
    """Scalar int8 quantization of an embedding column with reconstruction
    stats — the storage/IO face of the similarity stack: a 64-dim float32
    vector shrinks 4× (plus one scale), which at 100 TB of embeddings is
    the difference between an ANN index that fits on the cluster and one
    that doesn't.

    Per vector: ``scale = max(|x|)/127`` (symmetric, zero-preserving),
    ``q_i = round(x_i / scale)``; output is (vec_id, scale, mse,
    max_abs_err) — scalar columns so the driver's canonicalizer can hash
    them, with the quantized array itself an intermediate. All sequential
    ``aggregate`` folds, bit-identical with DuckDB ``list_dot_product``.
    The 1e-30 floor only guards the all-zero vector (scale 0 → q = 0,
    error 0) and is mirrored in the oracle."""
    v = F.col(vec_col).cast("array<double>")
    dim = F.size(v)
    scale = F.greatest(
        F.array_max(F.transform(v, lambda x: F.abs(x))) / float(bits_max),
        F.lit(1e-30),
    )
    out = vectors.select(
        F.col(id_col).alias("vec_id"), v.alias("v"), scale.alias("scale"), dim.alias("dim")
    )
    q = F.transform(F.col("v"), lambda x: F.round(x / F.col("scale")).cast("int"))
    out = out.withColumn("qv", q)
    err = F.zip_with(F.col("v"), F.col("qv"), lambda x, qi: x - qi * F.col("scale"))
    out = out.withColumn("err", err)
    sse = F.aggregate(
        F.zip_with(F.col("err"), F.col("err"), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return out.select(
        "vec_id",
        "scale",
        (sse / F.col("dim")).alias("mse"),
        F.array_max(F.transform(F.col("err"), lambda x: F.abs(x))).alias("max_abs_err"),
    )


def pq_codebooks(m: int = 4, ksub: int = 8, dim: int = 64) -> list[list[list[float]]]:
    """Deterministic md5-derived product-quantization codebooks: ``m``
    subspaces of ``dim/m`` dims, ``ksub`` centroids each — the fixed-seed
    twin of a trained PQ codebook, same construction trick as
    :func:`fixed_centroids` so the DuckDB oracle reproduces every float."""
    import hashlib

    sub = dim // m
    books = []
    for j in range(m):
        book = []
        for c in range(ksub):
            row = []
            for d in range(sub):
                h = hashlib.md5(f"pq:{j}:{c}:{d}".encode()).hexdigest()[:8]
                row.append(int(h, 16) / float(1 << 31) - 1.0)
            book.append(row)
        books.append(book)
    return books


def pq_encode(
    vectors: DataFrame,
    books: list[list[list[float]]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Product quantization encode: split each vector into ``m``
    subvectors, assign each to its nearest codebook centroid (squared L2,
    strict-< first-wins ties), and report the total reconstruction error —
    the memory face of billion-scale ANN (a 64-dim float vector compresses
    to m bytes + the shared codebook; IVF-PQ = this after
    :func:`assign_cells`).

    One narrow map, no shuffle, no Python: per subspace an ``aggregate``
    fold over an array<struct> codebook literal (the same plan-bounded
    shape as :func:`centroid_argmin`), distance via the exact
    |v_j|² + |c|² − 2·v_j·c identity so DuckDB mirrors it bit-for-bit.

    Output: (vec_id, code_0..code_{m-1}, recon_err)."""
    books = books if books is not None else pq_codebooks()
    sub = len(books[0][0])
    m = len(books)
    v = f"CAST(`{vec_col}` AS ARRAY<DOUBLE>)"
    # extra_cols ride along in the same narrow map (e.g. the IVF cell) —
    # re-attaching them later by id would self-join the corpus.
    # Two-level select: the per-subspace argmin struct b_j is an alias
    # referenced twice (code + err) so CollapseProject keeps it a single
    # evaluation — the old fold built the whole aggregate expression
    # TWICE per subspace (once for .code, once for .err), and its O(m ×
    # ksub × sub) F.lit tree cost ~0.5 s of py4j calls at construction.
    stage1 = [F.col(id_col)] + [F.col(c) for c in extra_cols]
    for j, book in enumerate(books):
        vj = f"slice({v}, {j * sub + 1}, {sub})"
        vj2 = dot_sql(vj, vj)
        parts = []
        for ci, c in enumerate(book):
            arr = sql_double_array(c)
            c2 = sql_double(sum(x * x for x in c))
            # |v_j|² + |c|² − 2·v_j·c, strict-< first-wins ties via the
            # struct<err,code> ordering of array_min (lower code on ties)
            parts.append(
                f"named_struct('err', {vj2} + {c2} - 2.0D * {dot_sql(vj, arr)},"
                f" 'code', {ci})"
            )
        stage1.append(
            F.expr("array_min(array(" + ",".join(parts) + "))").alias(f"b_{j}")
        )
    out_cols = [F.col(id_col)] + [F.col(c) for c in extra_cols]
    out_cols += [F.col(f"b_{j}")["code"].alias(f"code_{j}") for j in range(m)]
    err_total = F.lit(0.0)
    for j in range(m):
        err_total = err_total + F.col(f"b_{j}")["err"]
    # 9-dp grid (same trick as the learned-IVF centroid quantization):
    # DuckDB's list_dot_product uses pairwise summation, so the error sum
    # can differ from the sequential fold in the last ulp — codes are
    # unaffected (centroid score gaps are far above ulp), only the
    # reported error is snapped to a cross-engine-stable grid
    out_cols.append(F.round(err_total, 9).alias("recon_err"))
    return vectors.select(*stage1).select(*out_cols)


def build_pq_index(
    vectors: DataFrame,
    path: str,
    books: list[list[list[float]]] | None = None,
    cents: list[list[float]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    overwrite: bool = False,
) -> DataFrame:
    """Write-once IVF-PQ index table: (vec_id, cell, code_0..m-1,
    recon_err) persisted as parquet **partitioned by cell**, so a
    cell-confined ADC search scans only the probed cells' files
    (partition pruning — at billion scale the per-query read is
    nprobe/cells of m-byte codes, nothing else).

    Encode cost is paid HERE, once; :func:`pq_adc_topk_from_codes` then
    searches the stored codes without touching the original vectors —
    the in-query re-encode the r3 `pq_adc_topk` did on every search (and
    which VERDICT r3 flagged) is gone from the read path.

    Write-once semantics: an existing index at ``path`` is read back
    as-is; the build publishes a generation through the shared commit
    (``sources/store.py``), so a half-written build is never visible and
    of two concurrent first builders the first to commit wins (the
    encode is deterministic, so both return the same rows).
    ``overwrite=True`` publishes a fresh generation."""

    def write(vdir: str) -> None:
        cells = cents if cents is not None else fixed_centroids()
        enc = pq_encode(
            with_cell(vectors, cells, vec_col=vec_col),
            books, id_col, vec_col, extra_cols=("cell",),
        )
        enc.write.mode("overwrite").partitionBy("cell").parquet(vdir)

    return vectors.sparkSession.read.parquet(store.build_once(path, write, overwrite))


def build_kmeans_index(
    vectors: DataFrame,
    path: str,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int | None = 9,
    overwrite: bool = False,
) -> tuple[DataFrame, list[list[float]]]:
    """Write-once LEARNED-IVF index: run Lloyd's once, persist the corpus
    itself CLUSTERED BY CELL — (vec_id, embedding, cell) partitioned by
    cell — plus the centroid table (cell, centroid) beside it in the
    same generation. A deployment trains the quantizer once at
    index-build time — re-running Lloyd's per query (what the
    non-indexed registry queries do, by declared design, to stay
    self-contained) costs iters+1 corpus passes per search; and because
    the stored table IS the corpus laid out by cell, a probe reads only
    its cells' partitions with no assignment re-join. Returns
    (clustered corpus, centroids-as-list).

    Same write-once generation commit as :func:`build_pq_index`: each
    generation holds ``corpus/`` and ``centroids/`` together and becomes
    visible at one pointer commit, so no crash or concurrent-builder
    interleave can pair one run's centroids with another run's cell
    layout. Concurrent builders converge on identical bytes (the 9-dp
    grid makes the trajectory deterministic), so the loser of the
    first-build race just discards an identical generation.

    SINGLE-WRITER for append/repair on one path, like every store."""
    spark = vectors.sparkSession

    def write(vdir: str) -> None:
        cents = kmeans_centroids(vectors, k, iters, id_col, vec_col, round_dp)
        with_cell(vectors, cents, vec_col=vec_col).select(
            F.col(id_col), F.col(vec_col), F.col("cell")
        ).write.mode("overwrite").partitionBy("cell").parquet(
            os.path.join(vdir, "corpus")
        )
        _write_centroids(spark, cents, vdir)

    cur = store.build_once(path, write, overwrite)
    return spark.read.parquet(os.path.join(cur, "corpus")), _read_centroids(spark, cur)


def _write_centroids(spark, cents: list[list[float]], vdir: str) -> None:
    local_frame(
        spark, list(enumerate(cents)), "cell int, centroid array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(vdir, "centroids"))


def _read_centroids(spark, gen: str) -> list[list[float]]:
    rows = spark.read.parquet(os.path.join(gen, "centroids")).collect()
    return [r.centroid for r in sorted(rows, key=lambda r: r.cell)]


def append_kmeans_index(
    batch: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Append a new vector batch into a stored learned-IVF index (the
    daily-increment path `append_lsh_index` gives the dedup index,
    mirrored here for ANN): assign the batch to the index's STORED
    centroids — no retrain, no corpus re-read — and land the rows
    cell-partitioned beside the existing files. Returns rows appended.

    The appended index is IDENTICAL to a one-shot build of (corpus ∪
    batch) under the same centroids (assignment is a pure per-row
    function of the stored centroid table), so every search — probes,
    scores, ranking — returns exactly what the full rebuild would;
    unchanged cells' files are not touched at all. What appending does
    NOT do is retrain: distribution drift shows up as cell imbalance,
    which `ivf_recluster_audit` turns into a per-cell verdict —
    retraining (overwrite=True rebuild) is the rebalance path.

    Replay discipline: appended rows are deterministic, but ANN top-k
    is NOT duplicate-insensitive (a replayed duplicate can occupy two
    of the k slots), so drive appends exactly-once per batch (the WAL
    sink's ledger pattern) — unlike the LSH index, whose candidate
    ``distinct`` makes replay harmless."""
    cur = store.require(path, "append_kmeans_index")
    corpus_dir = os.path.join(cur, "corpus")
    spark = batch.sparkSession
    cents = _read_centroids(spark, cur)
    assigned = with_cell(batch, cents, vec_col=vec_col).select(
        F.col(id_col), F.col(vec_col), F.col("cell")
    ).persist()
    try:
        n = assigned.count()  # materialize once: the write reads the cache
        assigned.write.mode("append").partitionBy("cell").parquet(corpus_dir)
    finally:
        assigned.unpersist()
    return n


def audit_kmeans_index(spark, path: str, hot_factor: int = 2) -> DataFrame:
    """Index-health verdicts over a STORED learned-IVF index — the
    `ivf_recluster_audit` rule applied to the on-disk layout (where the
    cell is already a column, so there is no assignment map at all):
    one cell-grain count agg + a k-row scaffold. Per cell:

    * ``hot`` — occupancy above ``hot_factor``/k of the corpus (the
      skew-join hazard: one probe reads a disproportionate partition);
    * ``empty`` — a centroid serving nothing (wasted probe budget);
    * ``needs_recluster`` — hot OR empty: the rows
      :func:`repair_kmeans_index` keys its retrain on.

    The stored index carries no base/increment marker, so the audit
    registry query's ``drifted`` verdict is not computable here — pass
    externally-derived drifted cells to ``repair_kmeans_index(cells=…)``
    instead."""
    cur = store.require(path, "audit_kmeans_index")
    corpus = spark.read.parquet(os.path.join(cur, "corpus"))
    k = spark.read.parquet(os.path.join(cur, "centroids")).count()
    counts = corpus.groupBy("cell").agg(F.count(F.lit(1)).alias("n_vecs"))
    tot = counts.agg(F.sum("n_vecs").cast("long").alias("total"))
    scaffold = spark.range(k).select(F.col("id").cast("int").alias("cell"))
    full = scaffold.join(counts, "cell", "left").select(
        "cell", F.coalesce(F.col("n_vecs"), F.lit(0)).cast("long").alias("n_vecs")
    )
    hot = F.lit(k) * F.col("n_vecs") > F.lit(hot_factor) * F.col("total")
    empty = F.col("n_vecs") == 0
    return full.crossJoin(F.broadcast(tot)).select(
        F.col("cell").cast("bigint").alias("cell"),
        "n_vecs",
        hot.alias("hot"),
        empty.alias("empty"),
        (hot | empty).alias("needs_recluster"),
    )


def reseed_empty_centroids(
    members: DataFrame,
    n_seeds: int,
    anchor_cents: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Deterministic empty-cluster re-seeding (the classical k-means
    repair): return the ``n_seeds`` member vectors FARTHEST from their
    nearest anchor centroid — farthest-first, ties toward the lower id —
    so each dead centroid lands inside the mass it is supposed to
    relieve instead of staying wherever drift stranded it. Ranking needs
    the TRUE squared distance ``|v|² + min(|c|² − 2v·c)`` (the |v|² term
    an argmin can drop matters when comparing across vectors). One
    narrow map + a top-m sort (m ≤ k); driver holds m×dim doubles."""
    entries = _score_entries_sql(vec_col, anchor_cents)
    score = F.expr(f"array_min({entries}).score") + dot_col(vec_col, vec_col)
    rows = (
        members.select(
            F.col(id_col).alias("_id"),
            F.col(vec_col).alias("_v"),
            score.alias("_sc"),
        )
        .orderBy(F.col("_sc").desc(), F.col("_id"))
        .limit(int(n_seeds))
        .collect()
    )
    return [list(r["_v"]) for r in rows]


def retrain_flagged_centroids(
    members: DataFrame,
    flagged: list[int],
    init_cents: list[list[float]],
    round_dp: int | None = 9,
    vec_col: str = "embedding",
) -> dict[int, list[float]]:
    """ONE joint Lloyd step restricted to the flagged subspace: assign
    the flagged cells' members to the nearest FLAGGED centroid (init =
    the stored centroids of those cells; strict-< first-wins toward the
    lower cell id), then re-estimate each flagged centroid as the
    ``round_dp``-grid mean of its assignees — a memberless flagged cell
    (``empty`` verdict, or a hot cell that lost the whole contest)
    keeps its stored centroid. Healthy cells are never touched, so the
    step can only move mass BETWEEN flagged cells — exactly the local
    rebalance the audit's verdict asks for, without a global retrain.

    Driver holds ≤k×dim doubles; the one Spark job is a narrow
    assignment map over the flagged members plus a cell-grain
    64-column avg (map-side combined) — the `kmeans_centroids`
    iteration shape on a corpus subset. The grid (9 dp) keeps the
    retrained centroids ENGINE-EXACT for the DuckDB oracle twin, same
    argument as the full Lloyd's trajectory."""
    flagged = [int(c) for c in flagged]
    cents = [init_cents[c] for c in flagged]
    dim = len(cents[0])
    mean = lambda d: F.avg(f"d{d}")  # noqa: E731
    if round_dp is not None:
        mean = lambda d: F.round(F.avg(f"d{d}"), round_dp)  # noqa: E731
    v = F.col(vec_col).cast("array<double>")
    means = (
        members.select(
            centroid_argmin(vec_col, cents, ids=flagged).alias("rcell"),
            *[v[d].alias(f"d{d}") for d in range(dim)],
        )
        .groupBy("rcell")
        .agg(*[mean(d).alias(f"d{d}") for d in range(dim)])
        .collect()
    )
    out = {c: init_cents[c] for c in flagged}
    for r in means:
        out[r["rcell"]] = [r[f"d{d}"] for d in range(dim)]
    return out


def repair_kmeans_index(
    spark,
    path: str,
    cells: list[int] | None = None,
    round_dp: int | None = 9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """RECLUSTER EXECUTION — act on the audit's verdict: retrain ONLY
    the flagged cells (``cells``, or :func:`audit_kmeans_index`'s
    ``needs_recluster`` rows when omitted), reassign under the merged
    centroid table, rewrite ONLY the cells whose membership changed,
    hard-link every untouched cell's files into the new generation, and
    publish through the shared generation commit (``sources/store.py``)
    — the same crash discipline as
    `compact_lsh_index`: a crash at ANY point before the pointer swap
    leaves the live index fully readable; superseded generations are
    GC'd only after the swap.

    The retrain is :func:`retrain_flagged_centroids` (one joint Lloyd
    step over the flagged subspace), preceded by
    :func:`reseed_empty_centroids` for stored-EMPTY flagged cells — a
    dead centroid keeps no members to pull it anywhere, so it is
    re-seeded at the flagged member farthest from the surviving flagged
    centroids before the step (classical k-means empty-cluster repair;
    without it the `empty` verdict could never clear). When EVERY
    flagged cell is empty the largest cell is drafted into the flagged
    set as the donor; conversely, HOT flags with NO empty partner draft
    the smallest healthy cell as a re-seeded RECIPIENT — a lone hot
    cell holding two separated masses is otherwise a fixpoint (its mean
    moves, nothing reassigns; the until-clean loop drafts one recipient
    per round until occupancy clears). The reassignment is GLOBAL — one
    narrow argmin map over the corpus, no shuffle — because moving a
    centroid can also capture members of healthy cells; the INVARIANT
    after repair is the same one `build_kmeans_index` establishes:
    every vector sits in its argmin cell under the published centroid
    table, so a probe against the repaired index returns exactly what
    a one-shot build under the same centroids would (parity-tested).
    The REWRITE, however, touches only cells that gained or lost
    members: at 100 TB a drift repair re-writes a handful of hot
    partitions, never the corpus.

    SINGLE-WRITER (see :func:`build_kmeans_index`). Returns a report:
    ``{"flagged_cells", "rows_moved", "cells_rewritten",
    "cells_linked", "generation"}``; when nothing is flagged the index
    is untouched and ``generation`` is None."""
    cur = store.require(path, "repair_kmeans_index")
    corpus_dir = os.path.join(cur, "corpus")
    corpus = spark.read.parquet(corpus_dir)
    cents = _read_centroids(spark, cur)
    k = len(cents)
    if cells is None:
        verdicts = audit_kmeans_index(spark, path).collect()
        cells = [int(r.cell) for r in verdicts if r.needs_recluster]
    flagged = sorted(int(c) for c in cells)
    if flagged and (flagged[0] < 0 or flagged[-1] >= k):
        raise ValueError(
            f"repair_kmeans_index: flagged cells {flagged} outside the "
            f"index's 0..{k - 1} cell range"
        )
    if not flagged:
        return {
            "flagged_cells": [],
            "cells_reseeded": [],
            "rows_moved": 0,
            "cells_rewritten": [],
            "cells_linked": sorted(
                int(d.split("=", 1)[1])
                for d in os.listdir(corpus_dir)
                if d.startswith("cell=")
            ),
            "generation": None,
        }
    counts = {
        int(r["cell"]): r["n"]
        for r in corpus.groupBy("cell").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    empty_flagged = sorted(c for c in flagged if counts.get(c, 0) == 0)
    if not any(counts.get(c, 0) for c in flagged) and empty_flagged:
        # only-empty verdict: no flagged member to re-seed from, so the
        # LARGEST cell donates mass (rebalancing a dead centroid has to
        # move rows from somewhere; the biggest cell is where the mass
        # concentrated). Deterministic: max count, ties to lower cell id.
        if not counts:
            # zero-row corpus: every cell is flagged empty and there is
            # no donor anywhere — repairing moves nothing. Raise a
            # descriptive error instead of max()-on-empty's bare
            # ValueError; the caller either seeded the index wrong or
            # compacted every vector away.
            raise ValueError(
                f"repair_kmeans_index: index at {path!r} has a zero-row "
                f"corpus — every cell is empty and no cell can donate "
                f"mass to re-seed from; rebuild the index over a "
                f"non-empty corpus instead of repairing"
            )
        largest = max(counts.items(), key=lambda kv: (kv[1], -kv[0]))[0]
        flagged = sorted(set(flagged) | {int(largest)})
    anchor_cells = [c for c in flagged if counts.get(c, 0) > 0]
    reseed_cells = list(empty_flagged)
    if not reseed_cells and anchor_cells:
        # HOT cell(s) with no empty partner: the flagged subspace has
        # only loaded centroids, so the joint step cannot shed mass
        # (one hot cell holding two separated masses is a fixpoint —
        # its mean moves, nothing reassigns). Draft the SMALLEST
        # healthy cell as a RECIPIENT and re-seed it inside the hot
        # mass (farthest-member rule): the step then splits the mass
        # between the hot centroid and the recipient. Deterministic:
        # min count, ties to the lower cell id. Iterating (the
        # until-clean loop) drafts one recipient per round until the
        # occupancy verdicts clear.
        healthy = [c for c in range(k) if c not in flagged]
        if healthy:
            recipient = min(healthy, key=lambda c: (counts.get(c, 0), c))
            flagged = sorted(set(flagged) | {recipient})
            reseed_cells = [recipient]
    members = corpus.filter(F.col("cell").isin(flagged))
    init = list(cents)
    if reseed_cells and anchor_cells:
        # seeds are ranked over the ANCHOR cells' members ONLY: a
        # drafted recipient's own members are in the flagged pool and
        # (being far from the hot mass by construction) would win the
        # farthest-member contest, re-seeding the recipient exactly
        # where it already was — a no-op fixpoint. For stored-empty
        # slots the restriction changes nothing (empty cells have no
        # members to exclude).
        anchor_members = corpus.filter(F.col("cell").isin(anchor_cells))
        seeds = reseed_empty_centroids(
            anchor_members,
            len(reseed_cells),
            [cents[c] for c in anchor_cells],
            id_col,
            vec_col,
        )
        for c, vec in zip(reseed_cells, seeds):  # fewer seeds than slots
            init[c] = vec                        # leaves the rest stored
        reseed_cells = reseed_cells[: len(seeds)]
    else:
        reseed_cells = []
    retrained = retrain_flagged_centroids(members, flagged, init, round_dp, vec_col)
    cprime = [retrained.get(c, init[c]) for c in range(k)]

    # global re-check: one narrow map; collect only the (old, new) cell
    # pairs of MOVED rows (≤k² report-sized rows) to find affected cells
    rechecked = corpus.withColumn("cell_new", centroid_argmin(vec_col, cprime))
    moved = (
        rechecked.filter(F.col("cell_new") != F.col("cell"))
        .groupBy("cell", "cell_new")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    affected = set(flagged)
    rows_moved = 0
    for r in moved:
        affected.add(int(r["cell"]))
        affected.add(int(r["cell_new"]))
        rows_moved += r["n"]

    vdir = store.next_generation(path)
    aff_list = sorted(affected)
    (
        rechecked.filter(F.col("cell_new").isin(aff_list))
        .select(F.col(id_col), F.col(vec_col), F.col("cell_new").cast("int").alias("cell"))
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(os.path.join(vdir, "corpus"))
    )
    linked = store.link_forward(
        corpus_dir,
        os.path.join(vdir, "corpus"),
        lambda d: store.partition_value(d, "cell") not in (None, *affected),
    )
    _write_centroids(spark, cprime, vdir)
    store.publish(path, vdir)
    return {
        "flagged_cells": flagged,
        "cells_reseeded": reseed_cells,
        "rows_moved": rows_moved,
        "cells_rewritten": aff_list,
        "cells_linked": sorted(store.partition_value(d, "cell") for d in linked),
        "generation": os.path.basename(vdir),
    }


def repair_kmeans_index_until_clean(
    spark,
    path: str,
    max_rounds: int | None = None,
    round_dp: int | None = 9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Operational wrapper: repair → re-audit → repair until the audit
    reports no ``needs_recluster`` cell or ``max_rounds`` is spent —
    the one-call "make the index healthy" an operator (or a scheduler
    firing on the audit) actually wants. One joint Lloyd step per round
    moves mass between flagged cells; a genuinely multi-modal drift can
    need several rounds — each re-seed/recipient placement relieves one
    mode, so ``max_rounds`` defaults to k (there are at most k
    placements to make; each round is one flagged-member agg + one
    narrow reassignment map — never a full retrain). Returns
    {"rounds": [per-round repair reports], "clean": bool} — ``clean``
    False after ``max_rounds`` means the residual skew is data (k too
    small for the mass layout), which is the ``overwrite=True`` full
    rebuild's job, not more local repair."""
    if max_rounds is None:
        cur = store.require(path, "repair_kmeans_index_until_clean")
        max_rounds = spark.read.parquet(os.path.join(cur, "centroids")).count()
    rounds = []
    for _ in range(max_rounds):
        verdicts = audit_kmeans_index(spark, path).collect()
        flagged = [int(r.cell) for r in verdicts if r.needs_recluster]
        if not flagged:
            return {"rounds": rounds, "clean": True}
        report = repair_kmeans_index(
            spark, path, cells=flagged, round_dp=round_dp,
            id_col=id_col, vec_col=vec_col,
        )
        rounds.append(report)
        if report["rows_moved"] == 0:
            break  # fixpoint: more rounds cannot change anything
    verdicts = audit_kmeans_index(spark, path).collect()
    return {
        "rounds": rounds,
        "clean": not any(r.needs_recluster for r in verdicts),
    }


def append_pq_index(
    batch: DataFrame,
    path: str,
    books: list[list[list[float]]] | None = None,
    cents: list[list[float]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Append a new vector batch into a stored IVF-PQ code table:
    encode the batch with the SAME deterministic codebooks/centroids
    the build used and land the m-byte codes cell-partitioned beside
    the existing files. Returns rows appended. Same contract as
    :func:`append_kmeans_index`: byte-identical to the one-shot build
    over (corpus ∪ batch) — `pq_adc_topk_from_codes` searches the
    union with no rebuild — and exactly-once appends are the caller's
    discipline (top-k is duplicate-sensitive)."""
    cur = store.require(path, "append_pq_index")
    cents = cents if cents is not None else fixed_centroids()
    enc = pq_encode(
        with_cell(batch, cents, vec_col=vec_col),
        books, id_col, vec_col, extra_cols=("cell",),
    ).persist()
    try:
        n = enc.count()  # materialize the encode once; the write reads the cache
        enc.write.mode("append").partitionBy("cell").parquet(cur)
    finally:
        enc.unpersist()
    return n


def pq_adc_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    books: list[list[list[float]]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str | None = None,
) -> DataFrame:
    """IVF-ADC search — the full compressed-ANN read path: the corpus is
    stored only as PQ codes (m bytes/vector), queries stay exact, and the
    asymmetric distance Σ_j ‖q_j − codebook_j[code_j]‖² ranks candidates
    without ever touching the original corpus vectors. With ``cell_col``
    the candidate join is cell-confined (true IVF-ADC); without it, a full
    ADC scan (still only codes wide — the point at billion scale: the
    scanned bytes are m per vector, not 4·dim).

    Join shape: codes ⋈ broadcast(queries); per (query, code-row) the
    distance is a per-subspace codebook lookup (``element_at`` on the
    array-of-arrays literal) + the |q_j|²+|c|²−2·q_j·c identity. Distances
    snap to the 9-dp grid before ranking (cross-engine float stability;
    rounded ties break by neighbor id, deterministic on both engines)."""
    books = books if books is not None else pq_codebooks()
    extra = (cell_col,) if cell_col is not None else ()
    codes = pq_encode(corpus, books, id_col, vec_col, extra_cols=extra)
    if cell_col is not None and cell_col != "cell":
        codes = codes.withColumnRenamed(cell_col, "cell")
    return pq_adc_topk_from_codes(
        queries, codes, k, books, id_col, vec_col,
        with_cell_join=cell_col is not None,
        query_cell_col=cell_col,
    )


def pq_adc_topk_from_codes(
    queries: DataFrame,
    codes: DataFrame,
    k: int = 5,
    books: list[list[list[float]]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    with_cell_join: bool = True,
    query_cell_col: str | None = "cell",
) -> DataFrame:
    """ADC ranking over ALREADY-ENCODED codes — the index read path. The
    corpus never appears: ``codes`` is (vec_id[, cell], code_0..m-1), m
    bytes of payload per vector, typically read straight from a
    :func:`build_pq_index` table (where cell-partitioned storage turns the
    cell equi-join into partition-pruned scans). Splitting encode from
    search is what a real IVF-ADC deployment does: encode cost is paid
    once at index build, per-query cost is codes-scan + lookup only."""
    books = books if books is not None else pq_codebooks()
    sub = len(books[0][0])
    codes = codes.withColumnRenamed(id_col, "neighbor_id")
    qsel = [
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("q"),
    ]
    if with_cell_join:
        qsel.append(F.col(query_cell_col or "cell").alias("cell"))
    q = queries.select(*qsel)
    joined = (
        codes.join(F.broadcast(q), "cell") if with_cell_join
        else codes.crossJoin(F.broadcast(q))
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    # whole ADC distance as ONE parsed expression (the old per-subspace
    # F.lit codebook trees cost ~0.5 s of py4j calls at construction)
    terms = []
    for j, book in enumerate(books):
        qj = f"slice(`q`, {j * sub + 1}, {sub})"
        book_lit = "array(" + ",".join(
            sql_double_array(c) for c in book
        ) + ")"
        c2_lit = "array(" + ",".join(
            sql_double(sum(x * x for x in c)) for c in book
        ) + ")"
        cvec = f"element_at({book_lit}, `code_{j}` + 1)"
        c2 = f"element_at({c2_lit}, `code_{j}` + 1)"
        terms.append(f"({dot_sql(qj, qj)} + {c2} - 2.0D * {dot_sql(qj, cvec)})")
    dist = F.expr("round(0.0D + " + " + ".join(terms) + ", 9)")
    scored = joined.select("query_id", "neighbor_id", dist.alias("adc_dist"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc_dist", F.col("rank").cast("long").alias("rank"))
    )


def pq_kmeans_codebooks(
    vectors: DataFrame,
    m: int = 4,
    ksub: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int | None = 9,
) -> list[list[list[float]]]:
    """LEARNED product-quantization codebooks: per-subspace Lloyd's —
    the trained twin of the md5-derived :func:`pq_codebooks`, closing the
    README roadmap item. Real PQ (Jégou et al., PAMI'11) trains each
    subspace's ``ksub`` centroids on the corpus itself; reconstruction
    error drops accordingly (measured ~3× vs the fixed books at sf0.1).

    Training cost per iteration is ONE corpus pass: the assignment step
    reuses :func:`pq_encode`'s fold (all m subspaces argmin'd in a single
    narrow map — the vector itself rides along via ``extra_cols``, so no
    re-join), then one stacked groupBy computes every (subspace, cell)
    mean — stacking multiplies rows ×m but divides width /m, so shuffle
    bytes stay flat. Driver holds only the m×ksub×(dim/m) codebook floats
    (same contract as :func:`kmeans_centroids`).

    Determinism: means snap to the ``round_dp`` grid (engine AVG
    summation order differs ~1e-16; the grid erases it), init = subvector
    slices of the ``ksub`` smallest ids, assignment ties break to the
    lower code (strict-< first-wins fold = the oracle's row_number over
    (score, cell)). Empty cells keep their previous centroid."""
    v = vectors.select(
        F.col(id_col).alias("vid"), F.col(vec_col).cast("array<double>").alias("v")
    )
    dim = len(v.first()["v"])
    sub = dim // m
    seed = [r["v"] for r in v.orderBy("vid").limit(ksub).collect()]
    books = [[vec[j * sub : (j + 1) * sub] for vec in seed] for j in range(m)]
    for _ in range(iters):
        enc = pq_encode(v, books, id_col="vid", vec_col="v", extra_cols=("v",))
        stack_parts = ", ".join(
            f"{j}, code_{j}, slice(v, {j * sub + 1}, {sub})" for j in range(m)
        )
        stacked = enc.selectExpr(f"stack({m}, {stack_parts}) as (j, cell, sv)")
        mean = (
            (lambda d: F.round(F.avg(F.col("sv")[d]), round_dp))
            if round_dp is not None
            else (lambda d: F.avg(F.col("sv")[d]))
        )
        means = (
            stacked.groupBy("j", "cell")
            .agg(*[mean(d).alias(f"d{d}") for d in range(sub)])
            .collect()
        )
        new_books = [list(b) for b in books]
        for r in means:
            new_books[r["j"]][r["cell"]] = [r[f"d{d}"] for d in range(sub)]
        books = new_books
    return books


def hard_negative_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive training data: for each query
    vector, the top-k most-similar corpus vectors with a DIFFERENT label —
    the negatives that sit closest to the decision boundary, which is
    exactly what embedding-model training loops sample (in-batch negatives
    miss them; random negatives are too easy).

    Scale shape: identical to :func:`cosine_topk` — the query side is a
    small sample by contract, so it broadcasts; the corpus is scanned
    once with the label inequality applied per pair (no shuffle of the
    corpus), and WindowGroupLimit prunes each query's candidates to k
    before the final sort. Determinism: ties break toward the smaller
    neighbor id, so the k-set is unique and hash-checkable.

    Thin wrapper over :func:`cosine_topk` (one implementation owns the
    norm-precompute / broadcast / tie-break discipline); the label
    constraint is its ``exclude_same`` pair predicate."""
    return cosine_topk(
        queries, corpus, k=k, id_col=id_col, vec_col=vec_col, exclude_same=label_col
    )


def _cosine_sql(center: list[float], center_nrm: float) -> str:
    """Cosine of column ``v`` (norm ``nrm``) against a driver-side center
    with its Spark-computed norm — the literal-center fold shared by the
    k-center and MMR greedy rounds."""
    vec = f"CAST({sql_double_array(center)} AS ARRAY<DOUBLE>)"
    return (
        f"({dot_sql('CAST(v AS ARRAY<DOUBLE>)', vec)}"
        f" / (nrm * {sql_double(center_nrm)}))"
    )


def kcenter_coreset(
    vectors: DataFrame,
    k: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Greedy k-center CORESET selection (farthest-point traversal,
    Gonzalez 1985 — the 2-approximation): start from the lowest-id
    vector, then repeatedly add the vector farthest (cosine distance)
    from the chosen set — the classic diversity/coverage sample used to
    pick a maximally-spread subset for labeling, eval, or curriculum
    seeding (the opposite selection goal of SemDeDup's redundancy
    pruning).

    Scale shape: centers live on the driver BY DESIGN (k × dim floats —
    the same contract as :func:`kmeans_centroids`); each of the k−1
    rounds is ONE corpus scan with an unrolled `least(...)` chain over
    the current centers and a struct-max partial aggregate (one row per
    partition reaches the driver). No shuffle of the corpus, ever.

    Determinism (hash-checkable): distance = 1 − cosine (picks and one
    division — bit-exact), the `least` chain nests left in selection
    order, argmax ties break toward the smaller id, chosen ids are
    excluded from later rounds. Output: (rank, vec_id, sel_dist) —
    sel_dist is the distance to the prior set at selection time (NULL
    for the seed). The matching DuckDB oracle unrolls the identical
    trajectory stage by stage."""
    spark = vectors.sparkSession
    v = vectors.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("v"),
        norm_col(vec_col).alias("nrm"),
    )
    # r12 (guide §1.2 "don't recompute"): the seed lookup + each of the
    # k−1 rounds re-scanned the parquet and re-derived norm_col — k+1
    # full recomputes. When the corpus is tiny (≤128k vectors ≈ 64 MB
    # at dim 64) materialize (vid, v, nrm) once on ONE partition, so
    # the k−1 struct-max jobs schedule 1 task each over cached rows.
    # The row count comes from a column-pruned count (parquet
    # row-group metadata — cheap at any scale); above the bound the
    # scan-per-round shape is kept: at 100 TB re-scanning columnar
    # storage beats materializing a corpus-sized checkpoint. Per-row
    # IEEE arithmetic is unchanged either way → bit-identical output.
    if vectors.select(F.col(id_col)).count() <= (1 << 17):
        v = v.coalesce(1).localCheckpoint(eager=True)
    seeds = v.orderBy("vid").limit(1).collect()
    if not seeds:
        raise ValueError("kcenter_coreset: empty corpus")
    seed = seeds[0]
    # every center's norm rides through from the Spark-side norm_col fold —
    # recomputing it driver-side (pow vs sqrt) risks a 1-ulp platform split
    # against the oracle's sqrt(list_dot_product)
    chosen = [(int(seed.vid), list(seed.v), float(seed.nrm), None)]
    # r13 (guide §7.3 driver-side work): each round used to build the
    # unrolled least-chain through ~64 py4j F.lit calls PER CENTER plus
    # the fold lambdas — ~1 500 py4j round-trips per query. Each round
    # is now ONE spark.sql with the center vectors as literal arrays
    # (string formatting, zero py4j): the same left-nested least chain
    # over the same fold dot product, so every distance — and the
    # greedy trajectory — is bit-identical (repr literals parse back to
    # the same IEEE doubles).
    with temp_view(v, "__kcenter_v") as view:
        for _ in range(k - 1):
            dist_sql = None
            for _cid, cv, cn, _d in chosen:
                d = f"(1 - {_cosine_sql(cv, cn)})"
                dist_sql = d if dist_sql is None else f"least({dist_sql}, {d})"
            ids = ", ".join(str(c[0]) for c in chosen)
            far = spark.sql(
                "SELECT max(struct(d, -vid AS neg, vid, v, nrm)) AS m"
                f" FROM (SELECT vid, v, nrm, {dist_sql} AS d"
                f" FROM {view} WHERE vid NOT IN ({ids}))"
            ).collect()[0].m
            if far is None:
                raise ValueError(
                    f"kcenter_coreset: k={k} exceeds corpus size {len(chosen)}"
                )
            chosen.append(
                (int(far.vid), list(far.v), float(far.nrm), float(far.d))
            )
    rows = [(i, cid, d) for i, (cid, _v, _n, d) in enumerate(chosen)]
    return local_frame(spark, rows, "rank long, vec_id long, sel_dist double")


def mmr_topk(
    vectors: DataFrame,
    k: int = 6,
    pool: int = 16,
    lam: float = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """MAXIMAL MARGINAL RELEVANCE re-ranking (Carbonell & Goldstein,
    SIGIR'98) — the diversified top-k every RAG retriever ships: fetch a
    relevance ``pool`` (here: cosine top-``pool`` to the probe = the
    lowest-id vector, the same fixed-probe convention as the ANN
    queries), then greedily select ``k`` items maximizing
    ``lam * rel(c) - (1 - lam) * max_sim(c, selected)`` — relevance
    tempered by redundancy, so near-duplicate passages can't crowd the
    context window. The relevance-only top-k is `cosine_topk`; the
    diversity-only extreme is `kcenter_coreset`; MMR is the production
    midpoint.

    Scale shape: ONE corpus scan builds the pool (TakeOrdered top-pool,
    no corpus shuffle/sort); the k-1 greedy rounds run on the
    ``pool``-row localCheckpointed frame with literal selected vectors —
    bounded work, identical contract to kcenter_coreset's driver-side
    centers.

    Determinism: cosines are fold dot-products over Spark-computed
    norms (bit-exact vs list_dot_product); max-sim is a picked value;
    the MMR score is two exactly-rounded ops on exact halves (lam must
    be dyadic); argmax ties break toward the smaller id. The oracle
    unrolls the identical trajectory.

    Returns (sel_rank, vec_id, relevance, max_sim, mmr_score) —
    max_sim/mmr_score NULL for the rank-1 seed (pure relevance pick).
    """
    spark = vectors.sparkSession
    v = vectors.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).cast("array<double>").alias("v"),
        norm_col(vec_col).alias("nrm"),
    )
    seeds = v.orderBy("vid").limit(1).collect()
    if not seeds:
        raise ValueError("mmr_topk: empty corpus")
    probe = seeds[0]
    p_vec = F.array(*[F.lit(float(x)) for x in probe.v])
    p_nrm = float(probe.nrm)
    cand = (
        v.filter(F.col("vid") != int(probe.vid))
        .select(
            "vid",
            "v",
            "nrm",
            (dot_col(F.col("v"), p_vec) / (F.col("nrm") * F.lit(p_nrm))).alias(
                "rel"
            ),
        )
        .orderBy(F.col("rel").desc(), "vid")
        .limit(pool)
    )
    cand = cand.localCheckpoint()  # pool-row frame feeds every round
    first = cand.orderBy(F.col("rel").desc(), "vid").limit(1).collect()[0]
    # (vid, vec, norm, rel, max_sim, mmr)
    chosen = [(int(first.vid), list(first.v), float(first.nrm), float(first.rel), None, None)]
    # r13 (guide §7.3): same SQL-string treatment as kcenter_coreset —
    # one spark.sql per greedy round, selected vectors as literal
    # arrays, the same left-nested greatest chain over the same fold
    # dot product; max_sim feeds the score as a named column (same
    # value, same ops), so the MMR trajectory is bit-identical.
    with temp_view(cand, "__mmr_cand") as view:
        for _ in range(k - 1):
            ms_sql = None
            for _cid, cv, cn, _r, _ms, _mm in chosen:
                s = _cosine_sql(cv, cn)
                ms_sql = s if ms_sql is None else f"greatest({ms_sql}, {s})"
            ids = ", ".join(str(c[0]) for c in chosen)
            pick = spark.sql(
                "SELECT max(struct(sc, -vid AS neg, vid, v, nrm, rel, ms))"
                " AS m FROM (SELECT vid, v, nrm, rel, ms,"
                f" {sql_double(lam)} * rel - {sql_double(1.0 - lam)} * ms AS sc"
                f" FROM (SELECT vid, v, nrm, rel, {ms_sql} AS ms"
                f" FROM {view} WHERE vid NOT IN ({ids})))"
            ).collect()[0].m
            if pick is None:
                break
            chosen.append(
                (int(pick.vid), list(pick.v), float(pick.nrm), float(pick.rel),
                 float(pick.ms), float(pick.sc))
            )
    rows = [
        (i + 1, cid, r, ms, mm)
        for i, (cid, _v, _n, r, ms, mm) in enumerate(chosen)
    ]
    return local_frame(
        spark,
        rows,
        "sel_rank long, vec_id long, relevance double, max_sim double, "
        "mmr_score double",
    )


def knn_label_noise_frame(
    vectors: DataFrame,
    k: int = 5,
    n_planes: int | str = "auto",
    target_occupancy: int = 96,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """LABEL-NOISE DETECTION via neighborhood disagreement: bucket
    vectors by CONTENT (single-band sign-LSH cells, independent of the
    label column), rank each vector's top-``k`` in-bucket cosine
    neighbors, and flag vectors whose neighborhood majority carries a
    different label — the confident-learning/kNN-vote mislabel signal.

    DEFAULT IS SCALE-SAFE: ``n_planes`` auto-sizes from a cheap corpus
    count so cell count grows ∝ N and expected occupancy stays ≤
    ~``target_occupancy`` — the in-cell pair join is N·occupancy, linear
    (the pinned-6-plane oracle config measured 543 s at ×100 before
    auto-sizing; the auto path is the production default, exactly the
    rp_lsh_near_dup_pairs contract). Pass an int to pin a config (the
    registry query pins 6 so oracle hashes never move).

    Deterministic: md5-derived plane literals, rank ties on neighbor
    id, integer disagreement counts."""
    if isinstance(n_planes, str):
        import math

        n = vectors.count()
        n_planes = max(6, math.ceil(math.log2(max(n, 2) / target_occupancy)))
    planes = random_hyperplanes(64, n_planes)
    # ONE SQL statement instead of ~500 py4j Column constructions (the
    # plane-literal trees measured ~1.2 s of driver-side construction per
    # bench run) — same operators in the same order (cast/norm → sign
    # bits → concat bucket → in-bucket self-join → cosine → window
    # top-k → disagreement agg), so plans and results are bit-identical.
    # A NULL vector's bucket key is NULL (see sign_bit_sql), so it never
    # enters a real vector's neighborhood.
    bit_sql = ",\n         ".join(
        f"{sign_bit_sql('v', plane)} AS bit{j}" for j, plane in enumerate(planes)
    )
    bucket_sql = "concat(" + ", ".join(f"bit{j}" for j in range(n_planes)) + ")"
    vcast = f"CAST({vec_col} AS ARRAY<DOUBLE>)"
    dis = "count(CASE WHEN label_b <> label_a THEN 1 END)"
    return sql_lazy(
        vectors,
        lambda view: f"""
WITH v AS (
  SELECT {id_col} AS vid, {label_col} AS label, {vcast} AS v,
         sqrt({dot_sql(vcast, vcast)}) AS nrm
  FROM {view}
),
sig AS (
  SELECT vid, label, v, nrm,
         {bit_sql}
  FROM v
),
buck AS (
  SELECT vid, label, v, nrm, {bucket_sql} AS bucket FROM sig
),
pairs AS (
  SELECT a.vid AS vid, a.label AS label_a, b.label AS label_b,
         {dot_sql('a.v', 'b.v')} / (a.nrm * b.nrm) AS cosine,
         b.vid AS nb
  FROM buck a JOIN buck b USING (bucket)
  WHERE a.vid <> b.vid
),
ranked AS (
  SELECT vid, label_a, label_b,
         row_number() OVER (PARTITION BY vid ORDER BY cosine DESC, nb) AS rn
  FROM pairs
)
SELECT vid AS vec_id, label_a AS label,
       count(1) AS n_neighbors,
       {dis} AS n_disagree,
       CAST({dis} AS DOUBLE) / CAST(count(1) AS DOUBLE) AS noise_frac,
       (count(1) >= 3) AND (2 * {dis} > count(1)) AS is_noisy
FROM ranked
WHERE rn <= {k}
GROUP BY vid, label_a""",
    )
