"""Deduplication operators for LLM training-data pipelines
(SURVEY.md §2.10): exact, n-gram Jaccard, MinHash-LSH, SimHash.

Scale design:
 - exact dedup: hash-groupBy on the fingerprint — one shuffle at the
   fingerprint grain, map-side partial agg.
 - n-gram Jaccard: exact pairwise similarity via a shingle self-join —
   O(pairs sharing a shingle); correct but quadratic in the worst case,
   kept as the small-data oracle / verification path.
 - MinHash-LSH: the 100 TB path. Shingle → K deterministic min-hashes →
   band → bucket-join. Candidate pairs are only those colliding in ≥1
   band; cost is O(docs × K) + the (tiny) bucket join. Hash functions are
   md5-derived so the DuckDB oracle can reproduce them bit-for-bit.
 - SimHash: 64-bit signature from md5 bits of tokens; near-dup = small
   Hamming distance. Signature build is one explode+groupBy.

All built-in Column expressions — no Python UDFs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..sources import store
from .loop_sql import sql_lazy
from .text import fingerprint_col


class _RoundCheckpointer:
    """Per-round checkpoint manager for iterative graph loops.

    Two modes:
     - local (default, ``checkpoint_dir=None``): DISK_ONLY
       ``localCheckpoint(eager)`` — fastest, but blocks live on
       executors, so an executor loss on a real cluster kills the job
       mid-loop; fine on local[*].
     - reliable (``checkpoint_dir`` set, or env
       ``SPARK_GRAFT_CHECKPOINT_DIR``): ``checkpoint(eager)`` against the
       dir — data lands on the checkpoint filesystem (HDFS/object store),
       survives executor loss. THE CLUSTER DEFAULT: set the env var in any
       multi-executor deployment.

    Either way, :meth:`free` explicitly drops a superseded generation's
    storage (blocks or checkpoint files) instead of waiting for the JVM
    ContextCleaner — measured on the ×100 probe: 16 generations left live
    forced a 24 g driver heap; with eager freeing ≤2 generations hold
    storage at any point.
    """

    def __init__(self, spark, checkpoint_dir: str | None = None):
        if checkpoint_dir is None:
            checkpoint_dir = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR") or None
        self._spark = spark
        self.reliable = checkpoint_dir is not None
        if self.reliable:
            spark.sparkContext.setCheckpointDir(checkpoint_dir)

    def __call__(self, df: DataFrame) -> DataFrame:
        if self.reliable:
            return df.checkpoint(eager=True)
        # Heap posture for the LOCAL mode: localCheckpoint's default
        # storage keeps deserialized blocks ON-HEAP, which is what set the
        # ×100 graph family's 16 g floor (BASELINE.md round-10 batch 10 —
        # the corpus CC build OOM'd at the 8 g default). DISK_ONLY keeps
        # per-round generations off the heap entirely: each round re-reads
        # the previous generation from local disk — a bounded sequential
        # read. Measured round 11: ×100 dedup_clusters GREEN at 8 g in
        # 102.8 s (vs 105.7 s at 16 g on-heap — the re-read is cheaper than
        # the GC pressure it replaces) and parity-neutral at sf0.1 (4.40 vs
        # 4.56 s median).
        return df.localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)

    def free(self, df: DataFrame) -> None:
        """Release a SUPERSEDED generation (never the one still feeding
        downstream plans: a freed localCheckpoint cannot be recomputed).
        Best-effort — reaches the checkpointed internal RDD behind the
        LogicalRDD plan via the JVM; any failure just defers cleanup to
        the ContextCleaner."""
        try:
            rdd = df._jdf.queryExecution().analyzed().rdd()
            rdd.unpersist(False)
            if self.reliable:
                ckf = rdd.getCheckpointFile()
                if ckf.isDefined():
                    jvm = self._spark._jvm
                    path = jvm.org.apache.hadoop.fs.Path(ckf.get())
                    fs = path.getFileSystem(
                        self._spark._jsc.hadoopConfiguration()
                    )
                    fs.delete(path, True)
        except Exception:
            pass

# (a, b) parameters for the affine min-hash family h_j(x) = (a*x + b) mod P.
# Odd constants, fixed seed — mirrored literally in the oracle SQL.
MINHASH_PRIME = 2147483647  # 2^31 - 1 (Mersenne)
MINHASH_PARAMS = [(2 * j + 1, 7919 * (j + 1)) for j in range(16)]
LSH_BANDS = 4  # 16 hashes → 4 bands × 4 rows


def exact_dedup_groups(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Fingerprint → (representative doc_id, group size). Groups of size 1
    are singletons; >1 are exact-duplicate clusters."""
    return (
        docs.select(F.col("doc_id"), fingerprint_col(text_col).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def shingles(docs: DataFrame, text_col: str = "text", k: int = 5) -> DataFrame:
    """Distinct character-k-gram shingles per document over the casefolded,
    whitespace-collapsed text. Pure SQL (sequence + transform + explode)."""
    norm = F.regexp_replace(F.trim(F.lower(F.col(text_col))), "\\s+", " ")
    return (
        docs.select("doc_id", norm.alias("t"))
        .select(
            "doc_id",
            F.explode_outer(
                F.array_distinct(
                    F.expr(
                        f"transform(sequence(1, greatest(length(t) - {k - 1}, 1)),"
                        f" i -> substring(t, i, {k}))"
                    )
                )
            ).alias("shingle"),
        )
    )


def ngram_jaccard_pairs(
    docs: DataFrame, text_col: str = "text", k: int = 5, threshold: float = 0.4
) -> DataFrame:
    """EXACT pairwise n-gram Jaccard ≥ threshold (doc_a < doc_b), via
    prefix filtering (the PPJoin bound).

    A naive shingle self-join is O(Σ df²) and detonates on hot shingles
    (measured: 1.5e9 join rows at 5k docs from a small vocabulary). Prefix
    filtering is the exact fix: order each doc's shingle set by global
    rarity (df asc, shingle asc); two sets with Jaccard ≥ t MUST share a
    shingle within each one's first ``n - ceil(t*n) + 1`` shingles, so the
    candidate join runs only on those prefixes — the hottest shingles sit
    at the back of every prefix order and never join. Candidates are then
    verified with an exact |A∩B| via array_intersect on the full sets.
    Result is provably identical to the naive join.
    """
    # Exchange-count attribution (the registry's heaviest plan): the
    # shingle stream feeds SIX consumers (df table, full-set agg ×2,
    # prefix side ×2 each joining the df table), so the multi-stage
    # PPJoin shape is STRUCTURAL — df-count shuffle, prefix self-join,
    # two verification joins, one doc-grain window. The accidental part
    # was re-deriving the explode per consumer; this single doc_id-grain
    # shuffle gives AQE a common stage to reuse (executed plan: 4
    # ReusedExchange, result parity exact, ~5% faster at sf0.001).
    sh = shingles(docs, text_col, k).repartition("doc_id")
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    arrs = sh.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("shingle")).alias("sset"),
        F.count(F.lit(1)).alias("n"),
    )
    ranked = (
        sh.join(F.broadcast(dfreq), "shingle")
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy(F.col("df"), F.col("shingle"))
            ),
        )
        .withColumn(
            "prefix_len",
            F.count(F.lit(1)).over(Window.partitionBy("doc_id"))
            - F.ceil(F.lit(threshold) * F.count(F.lit(1)).over(Window.partitionBy("doc_id")))
            + 1,
        )
    )
    prefix = ranked.filter(F.col("rn") <= F.col("prefix_len")).select("doc_id", "shingle")
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(b, "shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    aa = arrs.select(F.col("doc_id").alias("doc_a"), F.col("sset").alias("set_a"), F.col("n").alias("n_a"))
    bb = arrs.select(F.col("doc_id").alias("doc_b"), F.col("sset").alias("set_b"), F.col("n").alias("n_b"))
    return (
        cand.join(aa, "doc_a")
        .join(bb, "doc_b")
        # size-ratio bound: J(A,B) ≥ t ⟹ t·|B| ≤ |A| — prune before the
        # O(n) intersection (exactness preserved)
        .filter(F.greatest("n_a", "n_b") * F.lit(threshold) <= F.least("n_a", "n_b"))
        .withColumn("n_common", F.size(F.array_intersect("set_a", "set_b")).cast("long"))
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_common", "jaccard")
    )


def shingle_hash_col(shingle_col: str = "shingle") -> F.Column:
    """Deterministic 32-bit integer hash of a shingle via md5 — identical
    in DuckDB: ``CAST(concat('0x', substr(md5(s),1,8)) AS BIGINT)``."""
    return F.conv(F.substring(F.md5(F.col(shingle_col)), 1, 8), 16, 10).cast("long")


def minhash_signatures_wide(docs: DataFrame, text_col: str = "text", k: int = 5) -> DataFrame:
    """doc_id → one column per hash function (mh0..mh15), computed as 16
    parallel MIN aggregates in a single map-side-combinable hash agg —
    no row multiplication (the naive explode-per-param plan is ×16 rows
    through the shuffle; this is the plan you want at 100 TB)."""
    sh = shingles(docs, text_col, k).withColumn("h", shingle_hash_col())
    aggs = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % MINHASH_PRIME).alias(f"mh{j}")
        for j, (a, b) in enumerate(MINHASH_PARAMS)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


#: bucket size at which the banded self-join's B(B-1)/2 pairs-per-key
#: becomes a single-task straggler worth splitting (2048² / 2 ≈ 2M pairs)
SKEW_HEAVY_BUCKET = 2048
#: salt grid width for the blocked heavy-bucket self-join — a heavy
#: bucket's pairs spread over salt² join keys, each (B/salt)² pairs
SKEW_SALT = 16


def _banded_self_join_pairs(
    banded: DataFrame,
    keys: list,
    emit,
    skew_robust: bool = False,
    heavy_bucket: int = SKEW_HEAVY_BUCKET,
    salt: int = SKEW_SALT,
) -> DataFrame:
    """The band-bucket self-join shared by every near-dup pair generator,
    with an EXACT skew escape.

    ``emit(joined)`` receives the a/b-aliased join and applies the
    caller's projection + filters (a.doc_id < b.doc_id etc. — everything
    except the final ``.distinct()``, which the caller applies to the
    returned union so cross-arm duplicates collapse).

    Why: the plain self-join on ``keys`` puts a bucket's entire
    B(B-1)/2 candidate pairs on ONE join key → one task. Bounded by
    near-dup cluster sizes in organic corpora, but a boilerplate-heavy
    corpus (one template shared by 1% of 500k docs) drives a single
    bucket to ~5k members → 12.5M pairs in a single straggler task, and
    AQE's OptimizeSkewedJoin cannot split it (BOTH sides of the
    self-join carry the same giant partition, so neither side is small
    enough to duplicate). ``skew_robust=True`` routes buckets of ≥
    ``heavy_bucket`` members through a blocked matrix self-join: each
    member gets a deterministic block ``g = pmod(hash(doc_id), salt)``;
    side A replicates each row to keys (g, j) for every j, side B to
    (i, g) for every i, and the join runs on keys + (_i, _j) — every
    ordered pair lands on exactly one (g(x), g(y)) block, so the
    caller's a < b filter keeps each unordered pair exactly once and
    the result is provably identical to the plain join while the worst
    key holds (B/salt)² pairs instead of B². Light buckets (the
    overwhelming majority) take the plain join untouched; the size
    pre-pass is a map-side-combinable count and the heavy-key list is
    broadcast (small by definition — heavy buckets are the anomaly)."""
    a, b = banded.alias("a"), banded.alias("b")
    if not skew_robust:
        return emit(a.join(b, keys))
    banded = banded.localCheckpoint(eager=True)  # 3 consumers below
    heavy = (
        banded.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("_bsz"))
        .filter(F.col("_bsz") >= heavy_bucket)
        .select(*keys)
    )
    light = banded.join(F.broadcast(heavy), keys, "left_anti")
    light_pairs = emit(light.alias("a").join(light.alias("b"), keys))
    hv = banded.join(F.broadcast(heavy), keys, "left_semi").withColumn(
        "_g", F.pmod(F.hash("doc_id"), F.lit(salt))
    )
    grid = F.array([F.lit(i) for i in range(salt)])
    ha = (
        hv.withColumn("_j", F.explode(grid))
        .withColumnRenamed("_g", "_i")
    )
    hb = (
        hv.withColumn("_i", F.explode(grid))
        .withColumnRenamed("_g", "_j")
    )
    heavy_pairs = emit(ha.alias("a").join(hb.alias("b"), keys + ["_i", "_j"]))
    return light_pairs.unionByName(heavy_pairs)


def minhash_lsh_candidates(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 5,
    skew_robust: bool = False,
    heavy_bucket: int = SKEW_HEAVY_BUCKET,
    salt: int = SKEW_SALT,
) -> DataFrame:
    """Banded LSH candidate pairs (doc_a < doc_b, ≥1 colliding band).

    Bands the 16-wide signature into 4 bands of 4; a bucket key is the
    band id plus the concatenated minhashes; candidates are pairs sharing
    any bucket. The self-join is on (band, bucket) — at 100 TB this is the
    only shuffle, and bucket sizes are bounded by near-dup cluster sizes.
    ``skew_robust=True`` adds the exact blocked escape for boilerplate
    corpora whose template cluster breaks that bound — see
    :func:`_banded_self_join_pairs`.
    """
    rows_per_band = len(MINHASH_PARAMS) // LSH_BANDS
    wide = minhash_signatures_wide(docs, text_col, k)
    band_cols = []
    for band in range(LSH_BANDS):
        js = range(band * rows_per_band, (band + 1) * rows_per_band)
        band_cols.append(
            F.concat_ws(",", *[F.col(f"mh{j}").cast("string") for j in js]).alias(f"b{band}")
        )
    stack_args = ", ".join(f"{band}, b{band}" for band in range(LSH_BANDS))
    banded = wide.select("doc_id", *band_cols).selectExpr(
        "doc_id", f"stack({LSH_BANDS}, {stack_args}) as (band, bucket)"
    )

    def emit(joined):
        return joined.filter(F.col("a.doc_id") < F.col("b.doc_id")).select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )

    return _banded_self_join_pairs(
        banded, ["band", "bucket"], emit, skew_robust, heavy_bucket, salt
    ).distinct()


def minhash_jaccard_estimates(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 5,
    skew_robust: bool = False,
    heavy_bucket: int = SKEW_HEAVY_BUCKET,
    salt: int = SKEW_SALT,
) -> DataFrame:
    """LSH candidate pairs WITH their estimated Jaccard — the scoring
    step between candidate generation and exact verification: the
    fraction of agreeing minhashes is an unbiased Jaccard estimator
    (E[mh_a = mh_b] = J), so pipelines threshold on it and only
    exact-verify the survivors.

    The full 16-wide signature rides the banded frame through the ONE
    bucket self-join, so signatures are computed once — attaching them
    afterwards by id would re-derive the shingle pipeline per join side
    (the same 4× md5-work trap the winnow match step measured)."""
    rows_per_band = len(MINHASH_PARAMS) // LSH_BANDS
    m = len(MINHASH_PARAMS)
    wide = minhash_signatures_wide(docs, text_col, k)
    band_cols = []
    for band in range(LSH_BANDS):
        js = range(band * rows_per_band, (band + 1) * rows_per_band)
        band_cols.append(
            F.concat_ws(",", *[F.col(f"mh{j}").cast("string") for j in js]).alias(f"b{band}")
        )
    stack_args = ", ".join(f"{band}, b{band}" for band in range(LSH_BANDS))
    mh_cols = [f"mh{j}" for j in range(m)]
    banded = wide.select("doc_id", *mh_cols, *band_cols).selectExpr(
        "doc_id", *mh_cols, f"stack({LSH_BANDS}, {stack_args}) as (band, bucket)"
    )
    matches = sum(
        (F.col(f"a.mh{j}") == F.col(f"b.mh{j}")).cast("int") for j in range(m)
    )

    def emit(joined):
        return joined.filter(F.col("a.doc_id") < F.col("b.doc_id")).select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            (matches / float(m)).alias("jaccard_est"),
        )

    return _banded_self_join_pairs(
        banded, ["band", "bucket"], emit, skew_robust, heavy_bucket, salt
    ).distinct()


def jaccard_estimates_from_index(
    idx: DataFrame,
    skew_robust: bool = False,
    heavy_bucket: int = SKEW_HEAVY_BUCKET,
    salt: int = SKEW_SALT,
) -> DataFrame:
    """Candidate-pair Jaccard estimates computed ENTIRELY from a stored
    signature index (build_lsh_index's doc_id + mh0..mh15 + b0..b3 rows)
    — ZERO text reads: corpus-wide dedup-policy analysis (threshold
    sweeps, dup-rate dashboards) over a 100 TB corpus touches only the
    24-narrow-column index, never the text. Same (band, bucket)
    self-join + signature-agreement estimator as
    :func:`minhash_jaccard_estimates`, minus the shingle pipeline the
    index already paid for at build time."""
    m = len(MINHASH_PARAMS)
    mh_cols = [f"mh{j}" for j in range(m)]
    stack_args = ", ".join(f"{b}, b{b}" for b in range(LSH_BANDS))
    banded = idx.selectExpr(
        "doc_id", *mh_cols, f"stack({LSH_BANDS}, {stack_args}) as (band, bucket)"
    )
    matches = sum(
        (F.col(f"a.mh{j}") == F.col(f"b.mh{j}")).cast("int") for j in range(m)
    )

    def emit(joined):
        return joined.filter(F.col("a.doc_id") < F.col("b.doc_id")).select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            (matches / float(m)).alias("jaccard_est"),
        )

    return _banded_self_join_pairs(
        banded, ["band", "bucket"], emit, skew_robust, heavy_bucket, salt
    ).distinct()


def connected_components(
    pairs: DataFrame, max_iters: int = 20, id_a: str = "doc_a", id_b: str = "doc_b"
) -> DataFrame:
    """Near-dup CLUSTERING: collapse a candidate-pair graph into connected
    components via iterative min-label propagation — the step a real dedup
    pipeline runs after LSH (pairs alone don't say which docs to keep;
    ``label`` = min doc_id of the component = the survivor).

    Each iteration is one join + min-aggregate (labels flow along edges);
    the driver loop stops at fixpoint (no label changed) or ``max_iters``.
    Iterations needed = component diameter — small for near-dup clusters
    (dense clouds around a source doc). For adversarial long-chain graphs
    the alternating small-star/large-star rewrite (Kiveris et al.) bounds
    rounds at O(log n); noted here as the refinement, not needed for dedup
    clouds. Each round materializes (cache + count) so lineage stays flat.

    Output: (doc_id, label) for every vertex that appears in ``pairs``
    (singletons never entered the graph and need no clustering).

    Each round ends in ``localCheckpoint(eager=True)``: caching alone is
    NOT enough for an iterative dataflow — the logical plan still nests
    one level per round and the analyzer blows the driver heap around
    round 15 (measured); the checkpoint truncates lineage so every round
    starts from a flat plan."""
    from pyspark.sql import Observation

    ck = _RoundCheckpointer(pairs.sparkSession)
    e = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = ck(e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))))
    labels = ck(
        edges.select(F.col("src").alias("v"))
        .distinct()
        .withColumn("label", F.col("v"))
    )
    gen = labels  # the checkpointed generation free() must target
    for _ in range(max_iters):
        nbr = (
            edges.join(
                labels.select(F.col("v").alias("dst"), F.col("label").alias("nl")),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("nl").alias("nl"))
        )
        # r12: the per-round changed count used to be a separate
        # join+count job re-reading both generations; it now rides the
        # checkpoint job as an Observation over the carried-through old
        # label (one job per round instead of two — guide §1.2). The
        # extra _old column lives only inside the checkpoint storage;
        # downstream reads the projected (v, label) view.
        obs = Observation()
        new_full = ck(
            labels.join(nbr, labels.v == nbr.src, "left")
            .select(
                "v",
                F.least(F.col("label"), F.coalesce("nl", F.col("label"))).alias(
                    "new_label"
                ),
                F.col("label").alias("_old"),
            )
            .observe(
                obs,
                F.sum(
                    (F.col("new_label") != F.col("_old")).cast("long")
                ).alias("chg"),
            )
        )
        changed = int(obs.get["chg"] or 0)
        ck.free(gen)
        gen = new_full
        labels = new_full.select("v", F.col("new_label").alias("label"))
        if changed == 0:
            break
    else:
        # Falling out of the loop with labels still moving means the
        # output is NOT a fixpoint — silently returning it would hand the
        # caller wrong clusters that look valid.
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} iterations"
            f" ({changed} labels still changing); raise max_iters or use"
            " connected_components_star for long-chain graphs"
        )
    return labels.select(F.col("v").alias("doc_id"), "label")


def connected_components_star(
    pairs: DataFrame,
    max_iters: int = 30,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected components in O(log n) rounds via alternating
    large-star / small-star contraction (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14) — the scale-safe twin of
    :func:`connected_components`, whose round count equals the component
    DIAMETER. Near-dup clusters are dense clouds (diameter ~2), but
    templated-boilerplate corpora produce long chains: a 1000-doc chain
    costs ~1000 rounds under label propagation and ~O(log 1000) here.

    Per round, each with one shuffle pair (groupBy-min + join):
     - large-star: every node connects its LARGER neighbors to the
       minimum of its neighborhood (incl. itself);
     - small-star: with edges oriented big→small, every node connects its
       smaller neighbors AND itself to that minimum.
    The edge set monotonically contracts toward stars centered at each
    component's minimum id; fixpoint = stars = the answer. Convergence is
    checked set-wise (anti-join + count), and each round ends in an eager
    checkpoint to keep lineage flat (same driver-heap hazard measured on
    the propagation loop).

    Output contract matches :func:`connected_components`: (doc_id, label)
    for every vertex appearing in ``pairs``, label = component min.

    ``checkpoint_dir`` (or env ``SPARK_GRAFT_CHECKPOINT_DIR``) switches the
    per-round checkpoints from executor-local blocks to reliable
    checkpoint files — the cluster default; see :class:`_RoundCheckpointer`.
    Superseded rounds are freed eagerly, so storage holds ≤2 generations."""
    ck = _RoundCheckpointer(pairs.sparkSession, checkpoint_dir)
    # materialize the candidate-pair input once — verts and edges each end
    # in an eager checkpoint, which would otherwise recompute the (usually
    # expensive) upstream LSH candidate join twice
    pairs = ck(pairs)
    verts = ck(
        pairs.select(F.col(id_a).alias("v"))
        .union(pairs.select(F.col(id_b).alias("v")))
        .distinct()
    )
    # set signature (edge count, XOR of 64-bit edge hashes —
    # order-independent, overflow-free under ANSI mode) for the cheap
    # per-round convergence test; the claimed fixpoint is then PROVEN
    # with one anti-join (so a hash collision can delay but never
    # corrupt). r12 (guide §1.2 "don't compute things twice"): the sig
    # rides each generation's CHECKPOINT job as an Observation —
    # computed while the rows stream into storage — instead of a
    # separate agg job per round (observe fires eagerly on both
    # localCheckpoint and reliable checkpoint; verified in both modes).
    from pyspark.sql import Observation

    def _sig_observe(e: DataFrame) -> tuple[DataFrame, Observation]:
        obs = Observation()
        return (
            e.observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.expr("bit_xor(xxhash64(u, v))").alias("h"),
            ),
            obs,
        )

    def _sig_get(obs: Observation) -> tuple:
        m = obs.get
        return (m["n"], m["h"])

    # canonical undirected form: u > v, no self-loops
    edges_pre, obs0 = _sig_observe(
        pairs.select(F.greatest(id_a, id_b).alias("u"), F.least(id_a, id_b).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    edges = ck(edges_pre)
    sig = _sig_get(obs0)
    ck.free(pairs)  # verts + edges are self-contained now
    # r12 (guide §2.4: window keyed like the preceding shuffle needs no
    # second exchange; §3.3: the join was the accidental part): each
    # star step used to be groupBy(u).min + join back on u — two
    # consumers of the symmetrized edge stream, which forced an extra
    # mid-round checkpoint of `large`. A min-window over the SAME key
    # computes each row's neighborhood-min in one pass with no join,
    # and explode(array(v, u)) replaces the union-of-projections, so
    # `large` has exactly ONE consumer and needs no materialization:
    # one checkpoint job per round instead of two, no per-round joins.
    # Set arithmetic is identical row-for-row (window min == agg min;
    # explode == the two-branch union), so every round's edge set — and
    # the fixpoint — is unchanged.
    # r13 (guide §7.3 driver-side work — the quality_train/kmeans SQL-
    # string lesson applied to the round body): the Column-built round
    # chain (~40 py4j calls + a window-plan re-analysis per round) was
    # profiled at 4.06 s construct with only 2.3 s of Spark jobs on
    # dedup_clusters. Each round is now ONE spark.sql over a view of the
    # current edge generation — identical operators in identical order
    # (UNION ALL ≡ union, WHERE v > u AND v != m ≡ the filter-project-
    # filter chain, least/min-window/explode/DISTINCT verbatim), so
    # every round's edge SET — and the fixpoint — is unchanged.
    # no intermediate distinct: the window-min is duplicate-insensitive
    # and the round's final distinct dedups the set, so it saves one
    # Exchange per round (guide §2.4) while the row multiset feeding it
    # is bounded by |sym|/2.
    def round_sql(view: str) -> str:
        return (
            "SELECT DISTINCT x AS u, m AS v FROM ("
            " SELECT explode(array(v, u)) AS x, m FROM ("
            # large-star output is already oriented u > v (m ≤ min-nbr < v)
            "  SELECT u, v, least(u, min(v) OVER (PARTITION BY u)) AS m FROM ("
            "   SELECT v AS u, m AS v FROM ("
            "    SELECT u, v, least(u, min(v) OVER (PARTITION BY u)) AS m"
            f"    FROM (SELECT u, v FROM {view}"
            f"          UNION ALL SELECT v, u FROM {view})"
            "   ) WHERE v > u AND v != m"
            "  )"
            " )"
            ") WHERE x != m"
        )

    for _ in range(max_iters):
        small_pre, obs = _sig_observe(sql_lazy(edges, round_sql))
        small = ck(small_pre)
        new_sig = _sig_get(obs)
        fixpoint = (
            new_sig == sig
            and small.join(edges, ["u", "v"], "left_anti").count() == 0
        )
        # the anti-join above was this round's last read of the
        # previous generation — drop it NOW, keeping at most
        # current + in-flight generations in storage
        ck.free(edges)
        edges, sig = small, new_sig
        if fixpoint:
            break
    else:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iters} rounds;"
            " O(log n) bound implies a graph with > 2^max_iters vertices —"
            " raise max_iters"
        )
    # fixpoint edges are (member, component-min) stars; centers map to self
    return (
        verts.join(
            edges.select(F.col("u").alias("v"), F.col("v").alias("lbl")), "v", "left"
        )
        .groupBy("v")
        .agg(F.min(F.coalesce("lbl", F.col("v"))).alias("label"))
        .select(F.col("v").alias("doc_id"), "label")
    )


def canonical_docs(
    docs: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """The KEEP RULE that turns near-dup clusters into a deduplicated
    corpus: cluster the candidate graph (star contraction), then per
    cluster keep the longest document (ties → lowest id) — the standard
    "best representative" heuristic (longest ≈ least-truncated copy).
    Documents in no cluster are their own canonical, so the output is one
    row per surviving document group covering the WHOLE corpus.

    Output: (label, canonical_doc_id, n_docs, canonical_chars). A
    training pipeline keeps exactly the canonical ids; `n_docs` is the
    dedup ratio diagnostic.

    Scale: clustering is the O(log n)-round contraction; the keep rule is
    one shuffle on the label with WindowGroupLimit pruning the per-label
    sort to a running top-1."""
    labels = connected_components_star(
        pairs, id_a="doc_a", id_b="doc_b", checkpoint_dir=checkpoint_dir
    )
    return canonical_from_labels(docs, labels, text_col, id_col)


def canonical_from_labels(
    docs: DataFrame,
    labels: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The keep rule alone, over a PRECOMPUTED (doc_id, label) map —
    what a deployment runs against the MAINTAINED cluster-map store
    (:func:`read_cluster_map`) instead of re-clustering: one narrow
    doc-length scan + one label-grain shuffle, no CC. Contract matches
    :func:`canonical_docs` (which is now CC composed with this)."""
    labeled = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.length(text_col).cast("long").alias("n_chars"),
        )
        .join(labels, "doc_id", "left")
        .withColumn("label", F.coalesce("label", F.col("doc_id")))
    )
    w = Window.partitionBy("label").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    wc = Window.partitionBy("label")
    return (
        labeled.withColumn("rn", F.row_number().over(w))
        .withColumn("n_docs", F.count(F.lit(1)).over(wc).cast("long"))
        .filter(F.col("rn") == 1)
        .select(
            "label",
            F.col("doc_id").alias("canonical_doc_id"),
            "n_docs",
            F.col("n_chars").alias("canonical_chars"),
        )
    )


def simhash_signatures(docs: DataFrame, text_col: str = "text", bits: int = 32) -> DataFrame:
    """doc_id → simhash (bits-wide integer). Bit b of the signature is 1
    iff the count of tokens whose hash has bit b set exceeds half the
    token count.

    Token hash width follows ``bits``: the low 32 signature bits read md5
    hex chars 1–8, bits 32+ read chars 9–16 (a second independent 32-bit
    word — two ``conv`` calls sidestep the signed-long overflow a single
    16-hex-char conv would hit). ``bits <= 32`` stays bit-identical to
    the historical 8-hex-char formula (pinned by the DuckDB oracle);
    ``bits`` up to 62 gives genuinely distinct high bits, so wide-band
    pairing has real bucket entropy (cap 62 keeps ``1 << b`` inside a
    signed long)."""
    if not 1 <= bits <= 62:
        raise ValueError(f"bits must be in [1, 62], got {bits}")
    # ONE SQL statement instead of ~6 py4j Column constructions per bit
    # (r13: the bits=62 form measured ~0.8 s of pure driver construction
    # per run) — operators and their order are unchanged: explode →
    # md5/conv hash words → grouped count + per-bit sums → majority-vote
    # signature assembly, so results are bit-identical.
    h2 = (
        ",\n         CAST(conv(substring(md5(tok), 9, 8), 16, 10) AS BIGINT) AS h2"
        if bits > 32
        else ""
    )
    sums = ",\n         ".join(
        f"sum(shiftright({'h' if b < 32 else 'h2'}, {b if b < 32 else b - 32}) & 1)"
        f" AS b{b}"
        for b in range(bits)
    )
    sig = " + ".join(
        f"CASE WHEN b{b} * 2 > n THEN CAST({1 << b} AS BIGINT)"
        " ELSE CAST(0 AS BIGINT) END"
        for b in range(bits)
    )
    return sql_lazy(
        docs,
        lambda view: f"""
WITH toks AS (
  SELECT doc_id, tok
  FROM {view}
  LATERAL VIEW explode(regexp_extract_all(lower({text_col}), '\\\\S+', 0)) _t AS tok
),
hashed AS (
  SELECT doc_id,
         CAST(conv(substring(md5(tok), 1, 8), 16, 10) AS BIGINT) AS h{h2}
  FROM toks
),
counts AS (
  SELECT doc_id, count(1) AS n,
         {sums}
  FROM hashed GROUP BY doc_id
)
SELECT doc_id, CAST(0 AS BIGINT) + {sig} AS simhash FROM counts""",
    )


def simhash_near_pairs(
    docs: DataFrame,
    text_col: str = "text",
    max_hamming: int = 3,
    bits: int = 62,
    skew_robust: bool = False,
    heavy_bucket: int = SKEW_HEAVY_BUCKET,
    salt: int = SKEW_SALT,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ max_hamming — EXACT by
    the pigeonhole band guarantee: the signature is split into
    ``max_hamming + 1`` bands, and any pair within the Hamming budget must
    agree on at least one whole band, so the union of per-band equi-joins
    contains every qualifying pair (then an exact ``bit_count(xor)`` filter
    removes band-collision false positives).

    Scale shape: one stack (no row explosion beyond ×bands), a (band,
    band-value) equi-join as the only shuffle, no all-pairs work. Band
    skew (e.g. a zero band shared by short docs) is bounded by real
    near-dup cluster sizes, same posture as MinHash-LSH.

    DEFAULT IS SCALE-SAFE: expected candidate volume per band is
    ~N²/2^(bits/(max_hamming+1)), so bucket count must grow with corpus
    size — the historical 32-bit/4-band default (256 buckets per band)
    turned quadratic around N≈10⁵. The default is now the widest signed-
    long signature, ``bits=62`` (~2¹⁵ buckets per band at max_hamming=3),
    free because pigeonhole exactness is width-independent — only
    hash-collision false positives (removed by the exact Hamming filter)
    change. The small-corpus oracle query pins ``bits=32`` explicitly so
    hashes don't move. Beyond N≈10⁷ a single long saturates; the next
    rung is a multi-word signature (two longs, 124 bits) — same banding
    shape, not yet needed."""
    sig = simhash_signatures(docs, text_col, bits)
    return simhash_pairs_from_signatures(
        sig, max_hamming, bits, skew_robust, heavy_bucket, salt
    )


def simhash_pairs_from_signatures(
    sig: DataFrame,
    max_hamming: int = 3,
    bits: int = 32,
    skew_robust: bool = False,
    heavy_bucket: int = SKEW_HEAVY_BUCKET,
    salt: int = SKEW_SALT,
) -> DataFrame:
    """Banded pairing over a (doc_id, simhash) frame — see
    :func:`simhash_near_pairs` for the pigeonhole guarantee and
    :func:`_banded_self_join_pairs` for the ``skew_robust`` escape
    (identical pairs, worst join key (B/salt)² instead of B²)."""
    nbands = max_hamming + 1
    width = bits // nbands
    band_exprs = []
    for i in range(nbands):
        lo = i * width
        w = width if i < nbands - 1 else bits - lo  # last band takes the remainder
        mask = (1 << w) - 1
        band_exprs.append(
            F.shiftright(F.col("simhash"), lo).bitwiseAND(F.lit(mask)).alias(f"v{i}")
        )
    stack_args = ", ".join(f"{i}, v{i}" for i in range(nbands))
    banded = sig.select("doc_id", "simhash", *band_exprs).selectExpr(
        "doc_id", "simhash", f"stack({nbands}, {stack_args}) as (band, bval)"
    )
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))

    def emit(joined):
        return (
            joined.filter(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                ham.alias("hamming"),
            )
            .filter(F.col("hamming") <= max_hamming)
        )

    return _banded_self_join_pairs(
        banded, ["band", "bval"], emit, skew_robust, heavy_bucket, salt
    ).distinct()


def band_bucket_cols() -> list:
    """The LSH band-bucket expressions over a wide (mh0..mh15) frame —
    shared by the self-join path and the stored index so both produce
    byte-identical bucket keys."""
    rows_per_band = len(MINHASH_PARAMS) // LSH_BANDS
    cols = []
    for band in range(LSH_BANDS):
        js = range(band * rows_per_band, (band + 1) * rows_per_band)
        cols.append(
            F.concat_ws(",", *[F.col(f"mh{j}").cast("string") for j in js]).alias(f"b{band}")
        )
    return cols


def read_lsh_index(spark, path: str) -> DataFrame:
    """Read the published generation of a stored LSH index. Raises
    FileNotFoundError if nothing has been published at ``path``."""
    return spark.read.parquet(store.require(path, "read_lsh_index"))


def build_lsh_index(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    k: int = 5,
    overwrite: bool = False,
) -> DataFrame:
    """Write-once MinHash-LSH signature index: one row per corpus doc with
    the full 16-wide signature plus the 4 precomputed band buckets
    (doc_id, mh0..mh15, b0..b3), persisted as parquet.

    This is the artifact an INCREMENTAL dedup deployment keys on: at
    100 TB you shingle+hash the corpus exactly once at index-build time;
    every subsequent batch is deduped against the stored signatures
    (:func:`incremental_lsh_candidates`) — the probe reads 24 narrow
    columns per corpus doc instead of re-tokenizing corpus text (the
    shingle explode is ~|text| rows per doc; the index row is 16 longs +
    4 strings). Maps the reference's incremental-write discipline
    (`modules/pipeline/write_pipeline.py:150-214`: dedupe new rows
    against already-written ids before appending) from exact-id grain to
    near-dup grain.

    Publishes through the generation commit every store shares
    (``sources/store.py``): the generation is written beside any live
    one and becomes visible only at the atomic pointer commit, so a
    crash at ANY point leaves either no index (first build) or the
    previous generation fully readable — readers never see half-state.
    A directory holding data but no pointer raises (``overwrite=True``
    rebuilds it as a generation).

    SINGLE-WRITER: append/compact on one index path must be serialized
    by the caller — the post-publish cleanup removes superseded
    generations, so two concurrent maintainers could delete each
    other's in-flight one. Readers are always safe."""

    def write(vdir: str) -> None:
        wide = minhash_signatures_wide(docs, text_col, k)
        wide.select(
            "doc_id", *[f"mh{j}" for j in range(len(MINHASH_PARAMS))],
            *band_bucket_cols(),
        ).write.mode("overwrite").parquet(vdir)

    return docs.sparkSession.read.parquet(store.build_once(path, write, overwrite))


def incremental_lsh_candidates(
    batch: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    k: int = 5,
) -> DataFrame:
    """Near-dup candidates of a NEW batch against a stored corpus index:
    (doc_a = corpus id, doc_b = batch id, jaccard_est).

    Only the batch is shingled; the corpus side comes entirely from the
    index's stored signatures/buckets. The one shuffle is the
    (band, bucket) equi-join, whose corpus side Spark exchanges at 24
    narrow columns — at 1000-executor scale the batch side is typically
    broadcast-eligible (a daily increment vs a 100 TB corpus).
    Signature agreement (matches/16) rides the join as the unbiased
    Jaccard estimate, so thresholding happens without touching corpus
    text. Docs present in both frames (same id) are not self-paired."""
    m = len(MINHASH_PARAMS)
    mh_cols = [f"mh{j}" for j in range(m)]
    stack_args = ", ".join(f"{b}, b{b}" for b in range(LSH_BANDS))

    def _stacked(wide: DataFrame) -> DataFrame:
        return wide.selectExpr(
            "doc_id", *mh_cols, f"stack({LSH_BANDS}, {stack_args}) as (band, bucket)"
        )

    batch_wide = minhash_signatures_wide(batch, text_col, k)
    bat = _stacked(batch_wide.select("doc_id", *mh_cols, *band_bucket_cols())).alias("b")
    cor = _stacked(index).alias("a")
    matches = sum(
        (F.col(f"a.mh{j}") == F.col(f"b.mh{j}")).cast("int") for j in range(m)
    )
    return (
        cor.join(bat, ["band", "bucket"])
        .filter(F.col("a.doc_id") != F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            (matches / float(m)).alias("jaccard_est"),
        )
        .distinct()
    )


def append_lsh_index(
    batch: DataFrame,
    path: str,
    text_col: str = "text",
    k: int = 5,
) -> int:
    """Append a new batch's signatures to a stored LSH index (the daily
    increment the write-once :func:`build_lsh_index` docstring promises):
    shingle+hash ONLY the batch, write its (doc_id, mh*, b*) rows as new
    parquet files beside the corpus's. Returns the number of rows
    appended.

    At-least-once safe WITHOUT a ledger: signatures are deterministic,
    so a replayed append writes byte-identical duplicate ROWS — which
    cannot change probe RESULTS (:func:`incremental_lsh_candidates` ends
    in a candidate-grain ``distinct``) and which the next
    :func:`compact_lsh_index` collapses exactly. The cost of replay is
    temporary storage, never correctness. Appends accumulate small
    files; compaction is the maintenance path that merges them.

    Appends land INSIDE the published generation dir (Spark's job-commit
    protocol makes the parquet append itself all-or-nothing); the
    pointer is untouched, so a crashed append can never unpublish the
    index.

    SINGLE-WRITER: serialize with any concurrent build/compact on the
    same path (see :func:`build_lsh_index`) — a concurrent compaction's
    publish-and-GC could drop files this append just wrote."""
    cur = store.require(path, "append_lsh_index")
    wide = minhash_signatures_wide(batch, text_col, k)
    idx = wide.select(
        "doc_id",
        *[f"mh{j}" for j in range(len(MINHASH_PARAMS))],
        *band_bucket_cols(),
    )
    idx.write.mode("append").parquet(cur)
    return idx.count()


def compact_lsh_index(
    spark,
    path: str,
    tombstones: DataFrame | None = None,
    retention_filter: str | None = None,
    rows_per_file: int = 1_000_000,
) -> dict:
    """Maintenance pass for the incremental LSH index — the piece a year
    of continuous ingest needs (daily :func:`append_lsh_index` calls grow
    the dir unboundedly in files AND in dead rows):

    1. drop replay-duplicate rows (exact ``distinct`` — signature rows
       are deterministic, so duplicates are byte-identical),
    2. drop TOMBSTONED docs (left-anti on ``tombstones.doc_id`` — docs
       deleted from the corpus stop generating candidates),
    3. drop EXPIRED docs via ``retention_filter``, an SQL predicate over
       the index row (e.g. ``"doc_id >= 500"`` when ids encode ingest
       order — the retention knob; rows failing it are removed),
    4. merge small files: rewrite at ``ceil(n / rows_per_file)`` files,
       hash-partitioned and sorted by doc_id (deterministic bytes).

    Publish is the shared generation commit (``sources/store.py``): the
    compacted generation is written as a NEW dir beside the live one and
    becomes visible at a single ``os.replace`` of the pointer — a crash
    anywhere before the swap leaves the live index untouched and
    readable (no rename window where no index exists at ``path``);
    superseded generations are GC'd only after the swap.
    Replay-idempotent: the surviving row set is a pure function of
    (stored rows, tombstones, filter), so re-running yields
    byte-identical output. Probe results over surviving docs are
    UNCHANGED — compaction only removes rows probes must not match.

    SINGLE-WRITER: serialize with any concurrent build/append on the
    same path (see :func:`build_lsh_index`) — the post-swap GC removes
    every non-current ``v_*`` dir, including another writer's
    in-flight generation.

    Returns {"rows_before", "rows_after", "files_before", "files_after"}.
    """
    import math

    cur = store.require(path, "compact_lsh_index")
    files_before = sum(
        1 for f in os.listdir(cur) if f.endswith(".parquet")
    )
    idx = spark.read.parquet(cur)
    rows_before = idx.count()
    live = idx.distinct()
    if tombstones is not None:
        live = live.join(
            F.broadcast(tombstones.select("doc_id").distinct()),
            "doc_id",
            "left_anti",
        )
    if retention_filter:
        live = live.filter(retention_filter)
    rows_after = live.count()
    n_files = max(1, math.ceil(rows_after / rows_per_file))
    vdir = store.next_generation(path)
    (
        live.repartition(n_files, "doc_id")
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite")
        .parquet(vdir)
    )
    store.publish(path, vdir)
    files_after = sum(
        1 for f in os.listdir(vdir) if f.endswith(".parquet")
    )
    return {
        "rows_before": rows_before,
        "rows_after": rows_after,
        "files_before": files_before,
        "files_after": files_after,
    }


def simhash_signatures_2w(
    docs: DataFrame, text_col: str = "text", bits: int = 124
) -> DataFrame:
    """doc_id → TWO-WORD simhash (sh_lo carries signature bits 0..61,
    sh_hi bits 62..123) — the beyond-N≈10⁷ rung the single-long
    `simhash_signatures` docstring promises: band bucket entropy scales
    with signature width, and 124 bits gives ~2³⁰ buckets per band at
    max_hamming=3 (vs ~2¹⁵ for 62 bits), so expected candidate volume
    N²/2^(bits/nbands) stays sub-quadratic two decades longer.

    Bit b of the signature reads bit (b mod 32) of md5 hex word
    (b div 32) — words 1–4 are hex chars 1–8, 9–16, 17–24, 25–32, so the
    low 32 bits stay bit-identical to the historical formula and every
    bit has genuinely independent entropy. Same majority-vote build: one
    explode + one grouped agg, no shuffle beyond the doc grain."""
    if not 63 <= bits <= 124:
        raise ValueError(f"two-word simhash wants bits in [63, 124], got {bits}")
    # ONE SQL statement instead of ~1,500 py4j Column constructions (124
    # sums + two 62-term majority-vote chains measured ~2.3 s of pure
    # driver construction per bench run at bits=124) — same operators in
    # the same order, bit-identical results (see simhash_signatures).
    n_words = (bits + 31) // 32
    hs = ",\n         ".join(
        f"CAST(conv(substring(md5(tok), {1 + 8 * w}, 8), 16, 10) AS BIGINT) AS h{w}"
        for w in range(n_words)
    )
    sums = ",\n         ".join(
        f"sum(shiftright(h{b // 32}, {b % 32}) & 1) AS b{b}" for b in range(bits)
    )
    lo = " + ".join(
        f"CASE WHEN b{b} * 2 > n THEN CAST({1 << b} AS BIGINT)"
        " ELSE CAST(0 AS BIGINT) END"
        for b in range(min(bits, 62))
    )
    hi = " + ".join(
        f"CASE WHEN b{b} * 2 > n THEN CAST({1 << (b - 62)} AS BIGINT)"
        " ELSE CAST(0 AS BIGINT) END"
        for b in range(62, bits)
    )
    return sql_lazy(
        docs,
        lambda view: f"""
WITH toks AS (
  SELECT doc_id, tok
  FROM {view}
  LATERAL VIEW explode(regexp_extract_all(lower({text_col}), '\\\\S+', 0)) _t AS tok
),
hashed AS (
  SELECT doc_id,
         {hs}
  FROM toks
),
counts AS (
  SELECT doc_id, count(1) AS n,
         {sums}
  FROM hashed GROUP BY doc_id
)
SELECT doc_id, CAST(0 AS BIGINT) + {lo} AS sh_lo,
       CAST(0 AS BIGINT) + {hi} AS sh_hi
FROM counts""",
    )


def simhash_pairs_from_2w_signatures(
    sig: DataFrame, max_hamming: int = 3, bits: int = 124
) -> DataFrame:
    """Banded pairing over a (doc_id, sh_lo, sh_hi) frame — the same
    pigeonhole guarantee as :func:`simhash_pairs_from_signatures`
    (max_hamming+1 bands ⇒ any pair within budget agrees on ≥1 whole
    band), with each band's value extracted from whichever word(s) it
    falls in; a band straddling the 62-bit word boundary keys on both
    fragments. Hamming = popcount(xor lo) + popcount(xor hi)."""
    nbands = max_hamming + 1
    width = bits // nbands
    band_exprs = []
    for i in range(nbands):
        lo_bit = i * width
        w = width if i < nbands - 1 else bits - lo_bit
        hi_bit = lo_bit + w  # exclusive
        # fragment from sh_lo: bits [lo_bit, min(hi_bit, 62))
        if lo_bit < 62:
            flo_w = min(hi_bit, 62) - lo_bit
            frag_lo = F.shiftright(F.col("sh_lo"), lo_bit).bitwiseAND(
                F.lit((1 << flo_w) - 1)
            )
        else:
            frag_lo = F.lit(0).cast("long")
        # fragment from sh_hi: bits [max(lo_bit, 62), hi_bit)
        if hi_bit > 62:
            s = max(lo_bit, 62) - 62
            fhi_w = hi_bit - max(lo_bit, 62)
            frag_hi = F.shiftright(F.col("sh_hi"), s).bitwiseAND(
                F.lit((1 << fhi_w) - 1)
            )
        else:
            frag_hi = F.lit(0).cast("long")
        band_exprs.append(frag_lo.alias(f"vl{i}"))
        band_exprs.append(frag_hi.alias(f"vh{i}"))
    stack_args = ", ".join(f"{i}, vl{i}, vh{i}" for i in range(nbands))
    nb = nbands
    banded = sig.select("doc_id", "sh_lo", "sh_hi", *band_exprs).selectExpr(
        "doc_id", "sh_lo", "sh_hi",
        f"stack({nb}, {stack_args}) as (band, vl, vh)",
    )
    a, b = banded.alias("a"), banded.alias("b")
    ham = F.bit_count(
        F.col("a.sh_lo").bitwiseXOR(F.col("b.sh_lo"))
    ) + F.bit_count(F.col("a.sh_hi").bitwiseXOR(F.col("b.sh_hi")))
    return (
        a.join(b, ["band", "vl", "vh"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash_near_pairs_2w(
    docs: DataFrame, text_col: str = "text", max_hamming: int = 3, bits: int = 124
) -> DataFrame:
    """124-bit SimHash near-dup pairing end-to-end — closes the README
    roadmap item ("multi-word SimHash signatures beyond N≈10⁷")."""
    return simhash_pairs_from_2w_signatures(
        simhash_signatures_2w(docs, text_col, bits), max_hamming, bits
    )


def containment_pairs(
    docs: DataFrame, text_col: str = "text", k: int = 5, threshold: float = 0.8
) -> DataFrame:
    """EXACT directed n-gram CONTAINMENT >= threshold: pairs where
    doc_sub's shingle set is mostly inside doc_sup's
    (|A∩B| / |A| >= t, A != B) — the asymmetric twin of
    :func:`ngram_jaccard_pairs`. Jaccard misses the classic curation
    case (a short doc embedded verbatim in a much longer one —
    boilerplate, quoted articles, template wrappers) because the size
    mismatch crushes the union ratio; containment is the measure
    actually used for that sweep.

    Prefix filtering still applies, one-sided: if C(A,B) >= t then A's
    first |A| - ceil(t|A|) + 1 rarity-ordered shingles MUST hit B, so
    candidates come from joining the SUB side's prefix against the
    candidate-superset side's full posting stream — the cost is
    sum(df) over prefix shingles. Verification is one exact
    array_intersect per candidate; the result is provably identical to
    the naive all-pairs scan.

    SCALE CONTRACT — this is the declared VERIFY-ONLY audit arm, the
    exact twin of :func:`containment_winnowed` (same positioning as
    ngram_jaccard's PPJoin chain next to MinHash-LSH): unlike Jaccard's
    two-sided prefix join, the containment bound cannot prefix-filter
    the SUPERSET side (B may be arbitrarily larger than A, so any of
    B's shingles can be the match), and on a vocabulary where even
    rarity-ordered prefix shingles stay hot the candidate set
    degenerates toward all-pairs (measured: 17M of 25M ordered pairs
    at 5k docs here). Run it on a sample at 100 TB; the production
    sweep is containment_winnowed."""
    sh = shingles(docs, text_col, k).repartition("doc_id")
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    arrs = sh.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("shingle")).alias("sset"),
        F.count(F.lit(1)).alias("n"),
    )
    w_doc = Window.partitionBy("doc_id")
    ranked = (
        sh.join(F.broadcast(dfreq), "shingle")
        .withColumn(
            "rn",
            F.row_number().over(w_doc.orderBy(F.col("df"), F.col("shingle"))),
        )
        .withColumn(
            "prefix_len",
            F.count(F.lit(1)).over(w_doc)
            - F.ceil(F.lit(threshold) * F.count(F.lit(1)).over(w_doc))
            + 1,
        )
    )
    prefix = ranked.filter(F.col("rn") <= F.col("prefix_len")).select(
        "doc_id", "shingle"
    )
    cand = (
        prefix.alias("a")
        .join(sh.alias("b"), "shingle")
        .filter(F.col("a.doc_id") != F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_sub"), F.col("b.doc_id").alias("doc_sup")
        )
        .distinct()
    )
    return _containment_verify(cand, arrs, threshold)


def _containment_verify(
    cand: DataFrame, arrs: DataFrame, threshold: float
) -> DataFrame:
    """Exact containment verification shared by the audit and production
    arms: join candidate (doc_sub, doc_sup) pairs to the per-doc sorted
    shingle arrays and keep |A∩B|/|A| >= threshold. One array_intersect
    per candidate; the ratio is a single exactly-rounded double division
    (mirrored by the oracle's ::DOUBLE division)."""
    aa = arrs.select(
        F.col("doc_id").alias("doc_sub"),
        F.col("sset").alias("set_sub"),
        F.col("n").alias("n_sub"),
    )
    bb = arrs.select(
        F.col("doc_id").alias("doc_sup"), F.col("sset").alias("set_sup")
    )
    return (
        cand.join(aa, "doc_sub")
        .join(bb, "doc_sup")
        .withColumn(
            "n_common",
            F.size(F.array_intersect("set_sub", "set_sup")).cast("long"),
        )
        .withColumn(
            "containment",
            F.col("n_common").cast("double") / F.col("n_sub").cast("double"),
        )
        .filter(F.col("containment") >= threshold)
        .select("doc_sub", "doc_sup", "n_common", "containment")
    )


def containment_winnowed(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 5,
    threshold: float = 0.8,
    fp_k: int = 24,
    fp_w: int = 8,
    max_df: int = 64,
) -> DataFrame:
    """PRODUCTION directed containment sweep: coarse winnowing
    fingerprints (Schleimer/Wilkerson/Aiken) generate the candidates,
    exact shingle verification scores them — the scale path next to the
    verify-only exact arm :func:`containment_pairs`.

    Why winnowing beats prefix filtering here: the containment bound
    cannot restrict the SUPERSET side, so exact candidate generation
    degenerates toward all-pairs on a hot vocabulary. But the near-dup
    case containment exists for — a sub-document embedded in a longer
    one — is CONTIGUOUS, and winnowing gives a deterministic guarantee
    on contiguity: any shared normalized substring of length >=
    fp_k + fp_w - 1 (default 31 chars) produces a shared fingerprint.
    Candidates are doc pairs sharing >= 1 fingerprint whose document
    frequency is <= max_df (the stop-fingerprint cap — boilerplate
    fragments duplicated corpus-wide carry no pair signal and would
    make the posting self-join quadratic; same cap contract as
    winnow_overlap_pairs / the inverted-index posting caps).

    RECALL CONTRACT (measured vs the exact arm by the
    containment_recall_audit registry query): every pair whose shared
    region spans a 31-char run with a sub-stop-frequency fingerprint is
    found (100% at sf0.01, 90.5% at sf0.1 on the synthetic corpus; the
    misses share no 31-char contiguous run at all — scattered
    shingle-set containment, invisible to any contiguity sketch).

    Scale shape: fingerprint stream is ~1/fp_w of the shingle stream;
    the posting self-join is bounded by sum(df²) over capped
    fingerprints (<= max_df per posting — never docs²); verification
    touches candidates only. One corpus-linear aggregate builds the
    shingle arrays."""
    from .text import winnow_fingerprints

    fps = winnow_fingerprints(docs, text_col, fp_k, fp_w)
    # one groupBy materializes each capped fingerprint's doc list; ordered
    # pairs explode from the (<= max_df) list — no fp self-join, no
    # re-derivation of the md5 stream per join side (the 4x-md5 trap
    # winnow_overlap_pairs measured)
    grouped = fps.groupBy("fp").agg(
        F.sort_array(F.collect_list("doc_id")).alias("ids")
    )
    grouped = grouped.filter(F.size("ids") <= max_df)
    und = (
        grouped.select(
            F.explode(
                F.expr(
                    "flatten(transform(ids, (a, i) ->"
                    " transform(slice(ids, i + 2, size(ids) - i - 1),"
                    " b -> struct(a AS doc_a, b AS doc_b))))"
                )
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )
    # containment is directed; a shared fingerprint is not — both orders
    cand = und.select(
        F.col("doc_a").alias("doc_sub"), F.col("doc_b").alias("doc_sup")
    ).unionByName(
        und.select(
            F.col("doc_b").alias("doc_sub"), F.col("doc_a").alias("doc_sup")
        )
    )
    sh = shingles(docs, text_col, k).repartition("doc_id")
    arrs = sh.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("shingle")).alias("sset"),
        F.count(F.lit(1)).alias("n"),
    )
    return _containment_verify(cand, arrs, threshold)


_CLUSTER_PARTS = 64
_LABEL_INDEX = "_label_index"


def _write_label_index(map_df: DataFrame, vdir: str) -> None:
    """Sidecar label→part inverted index for a cluster-map version:
    distinct (label, part) pairs, hash-partitioned by ``lpart =
    pmod(hash(label), 64)``, written INSIDE the version dir (leading
    underscore → invisible to the map's own parquet reads, atomically
    versioned with it by the single pointer swap). This is what bounds
    :func:`merge_cluster_map`'s relabel step: the map itself is
    doc-hash-partitioned, so a label predicate prunes nothing — without
    the index every merge full-scans the map to find rows whose label
    changed (at 100 TB: billions of skinny rows re-read daily to touch
    3 clusters). With it, the merge reads only lpart partitions that can
    hold the batch's changed labels, then only doc-part partitions the
    index says hold those labels — O(batch), matching merge_gram_index
    (text.py) and _fresh_against_store (quality_stream.py) discipline.

    Exactness invariant (safety-critical — a MISSING entry would silently
    skip a relabel): every (label, part) present in the map version is in
    the index. Maintained exactly because a merge relabels ALL rows of a
    changed label, so old entries for changed labels die wholesale and
    touched rows contribute the complete new entry set."""
    idx = (
        map_df.select("label", "part")
        .distinct()
        .withColumn("lpart", F.pmod(F.hash("label"), F.lit(_CLUSTER_PARTS)))
    )
    dst = os.path.join(vdir, _LABEL_INDEX)
    if idx.isEmpty():
        # same footer-only convention as the empty map: partitionBy on
        # zero rows writes no schema-bearing file
        idx.coalesce(1).write.mode("overwrite").parquet(dst)
    else:
        idx.write.mode("overwrite").partitionBy("lpart").parquet(dst)


def build_cluster_map(
    pairs: DataFrame, path: str, checkpoint_dir: str | None = None
) -> DataFrame:
    """Write-once CLUSTER MAP — the near-dup clustering result as a
    maintained STORE instead of a per-run recompute: (doc_id, label)
    for every doc in the candidate graph (label = min doc_id of the
    component, `connected_components` contract; singletons absent =
    self-labeled), persisted hash-partitioned by ``part =
    pmod(hash(doc_id), 64)`` under the shared generation commit
    (``sources/store.py``). Partitioning by DOC hash — not label —
    is what makes incremental maintenance cheap: a relabeled row keeps
    its doc_id, hence its partition, so :func:`merge_cluster_map`
    rewrites only partitions that hold touched rows and hard-links the
    rest. At 100 TB the map is one skinny row per clustered doc; a
    daily merge rewrites the partitions its batch touches, never the
    corpus-wide map. SINGLE-WRITER, like every pointer store."""

    def write(vdir: str) -> None:
        labels = connected_components_star(
            pairs, checkpoint_dir=checkpoint_dir
        ).withColumn("part", F.pmod(F.hash("doc_id"), F.lit(_CLUSTER_PARTS)))
        if labels.isEmpty():
            # a pairless corpus is a VALID map (every doc a singleton):
            # partitionBy on zero rows writes no schema-bearing file and
            # the read-back fails, so the empty generation lands as one
            # footer-only parquet with the part column inline
            labels.coalesce(1).write.mode("overwrite").parquet(vdir)
        else:
            labels.write.mode("overwrite").partitionBy("part").parquet(vdir)
        _write_label_index(labels, vdir)

    cur = store.build_once(path, write)
    return pairs.sparkSession.read.parquet(cur).select("doc_id", "label")


def read_cluster_map(spark, path: str) -> DataFrame:
    """(doc_id, label) at the published pointer. Raises
    FileNotFoundError when nothing has been published."""
    cur = store.require(path, "read_cluster_map", "map")
    return spark.read.parquet(cur).select("doc_id", "label")


def merge_cluster_map(new_pairs: DataFrame, path: str) -> dict:
    """INCREMENTAL connected components — fold a batch of NEW candidate
    edges (a new batch's LSH candidates: batch↔corpus and batch↔batch)
    into the stored cluster map without recomputing CC over the full
    graph. The classic component-graph contraction:

    1. translate each new edge's endpoints to their CURRENT labels
       (stored side PRE-FILTERED to the edges' endpoint ids — the
       O(batch) rule; unknown endpoints are their own label);
    2. run CC over the TRANSLATED edge set — a component-GRAIN graph,
       batch-sized, never corpus-sized: old components enter as single
       label nodes, so merging two million-doc clusters costs one edge;
    3. the resulting (node → new_label) mapping relabels stored rows
       whose label changed (labels broadcast — the changed-label set is
       bounded by the batch's edge endpoints) and labels the batch's
       new docs;
    4. publish: rewrite ONLY the doc-hash partitions holding touched
       rows, hard-link the rest, one atomic pointer swap.

    Min-label contract is preserved exactly: an old label is the min of
    its component, so the merged component's CC-min over {labels ∪ new
    doc ids} IS the min doc_id of the merged membership — the merged
    map equals a from-scratch CC over (old pairs ∪ new pairs),
    parity-tested and oracle-checked by the registry twin. Replay (same
    edges again) changes nothing and publishes nothing. Returns
    {"relabeled", "new_docs", "parts_rewritten", "parts_linked",
    "relabel_parts_scanned", "known_parts_scanned", "index", "version"}
    — the *_scanned counts are the IO-bound evidence that the merge read
    ≪ 64 map partitions (label→part sidecar index + endpoint-hash
    pruning; see _write_label_index)."""
    spark = new_pairs.sparkSession
    cur = store.require(path, "merge_cluster_map", "map")
    idx_dir = os.path.join(cur, _LABEL_INDEX)
    if not os.path.isdir(idx_dir):
        raise FileNotFoundError(
            f"merge_cluster_map: the map at {path!r} has no label index "
            f"({_LABEL_INDEX}); rebuild it into a fresh path with build_cluster_map"
        )
    stored = spark.read.parquet(cur)  # doc_id, label, part
    # The endpoint/label partition pruning below is pmod(F.hash(...), 64)
    # — Murmur3 hashes by WIDTH, so hash(int 7) != hash(bigint 7) even
    # though the subsequent equi-joins coerce and match. A batch whose ids
    # arrive as a narrower type than the stored map's would compute wrong
    # eparts/lparts, prune away the partitions actually holding the
    # endpoints, and silently skip relabels. Normalize the batch to the
    # stored doc_id type up front (widening only; a WIDER batch type is an
    # error — its values may not fit the store).
    _stored_t = stored.schema["doc_id"].dataType
    _batch_t = new_pairs.schema["doc_a"].dataType
    if _batch_t != _stored_t:
        _widths = {"tinyint": 1, "smallint": 2, "int": 4, "bigint": 8}
        sw = _widths.get(_stored_t.simpleString())
        bw = _widths.get(_batch_t.simpleString())
        if sw is None or bw is None or bw > sw:
            raise TypeError(
                f"merge_cluster_map: batch doc id type "
                f"{_batch_t.simpleString()} is incompatible with the stored "
                f"map's {_stored_t.simpleString()} — partition pruning hashes "
                f"by type width, so ids must be cast losslessly to the "
                f"stored type before merging"
            )
        new_pairs = new_pairs.select(
            F.col("doc_a").cast(_stored_t).alias("doc_a"),
            F.col("doc_b").cast(_stored_t).alias("doc_b"),
        )
    edges = new_pairs.select("doc_a", "doc_b").distinct().localCheckpoint(eager=True)
    endpoints = (
        edges.select(F.col("doc_a").alias("doc_id"))
        .unionByName(edges.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    # O(batch) doc-part pruning: the map is hash-partitioned by doc_id, so
    # the batch's endpoints can only live in pmod(hash(endpoint), 64)
    # partitions — filter the stored side to those before the lookup
    # (collect is ≤64 ints, never data-grain). Uses the SAME Spark hash
    # expression that wrote the `part` column, so the pruning is exact.
    eparts = sorted(
        int(r[0])
        for r in endpoints.select(
            F.pmod(F.hash("doc_id"), F.lit(_CLUSTER_PARTS)).alias("p")
        )
        .distinct()
        .collect()
    )
    known = (
        stored.filter(F.col("part").isin(eparts))
        .join(endpoints.hint("shuffle_hash"), "doc_id", "left_semi")
        .select("doc_id", "label")
    )
    ka = known.select(F.col("doc_id").alias("doc_a"), F.col("label").alias("la"))
    kb = known.select(F.col("doc_id").alias("doc_b"), F.col("label").alias("lb"))
    comp_edges = (
        edges.join(F.broadcast(ka), "doc_a", "left")
        .join(F.broadcast(kb), "doc_b", "left")
        .select(
            F.coalesce("la", F.col("doc_a")).alias("doc_a"),
            F.coalesce("lb", F.col("doc_b")).alias("doc_b"),
        )
        .filter(F.col("doc_a") != F.col("doc_b"))
    )
    if comp_edges.isEmpty():
        return {
            "relabeled": 0,
            "new_docs": 0,
            "parts_rewritten": [],
            "parts_linked": _CLUSTER_PARTS,
            "relabel_parts_scanned": 0,
            "known_parts_scanned": len(eparts),
            "index": "noop",
            "version": os.path.basename(cur),
        }
    # component-grain CC: nodes are old labels + new doc ids (batch-sized;
    # star contraction so adversarial chain batches stay O(log n) rounds)
    relab = connected_components_star(comp_edges).withColumnRenamed(
        "doc_id", "node"
    )
    relab = relab.filter(F.col("node") != F.col("label")).localCheckpoint(
        eager=True
    )
    # stored rows whose label must move (includes the old roots — they
    # are their own label), plus the batch's genuinely new docs
    upd = relab.select(F.col("node").alias("label"), F.col("label").alias("label_new"))
    # label→part pruning: the sidecar index says which doc-hash partitions
    # can hold a changed label, so the relabel join reads ≪ 64 partitions
    # for a small batch instead of full-scanning the map (see
    # _write_label_index).
    lparts = sorted(
        int(r[0])
        for r in upd.select(
            F.pmod(F.hash("label"), F.lit(_CLUSTER_PARTS)).alias("lp")
        )
        .distinct()
        .collect()
    )
    cand_parts = sorted(
        int(r[0])
        for r in spark.read.parquet(idx_dir)
        .filter(F.col("lpart").isin(lparts))
        .join(F.broadcast(upd.select("label")), "label", "left_semi")
        .select("part")
        .distinct()
        .collect()
    )
    relabel_src = stored.filter(F.col("part").isin(cand_parts))
    changed = relabel_src.join(F.broadcast(upd), "label").select(
        "doc_id", F.col("label_new").alias("label"), "part"
    )
    new_nodes = (
        relab.select(F.col("node").alias("doc_id"), "label")
        .unionByName(
            # endpoints that kept their own min label but are new docs
            endpoints.join(
                relab.select(F.col("node").alias("doc_id")), "doc_id", "left_anti"
            )
            .join(known.select("doc_id"), "doc_id", "left_anti")
            .join(
                F.broadcast(
                    relab.select(F.col("label").alias("doc_id")).distinct()
                ),
                "doc_id",
                "left_semi",
            )
            .withColumn("label", F.col("doc_id")),
        )
        .join(stored.select("doc_id"), "doc_id", "left_anti")
        .withColumn("part", F.pmod(F.hash("doc_id"), F.lit(_CLUSTER_PARTS)))
    )
    touched = changed.unionByName(new_nodes).localCheckpoint(eager=True)
    n_relabel = changed.count()
    n_new = new_nodes.count()
    if n_relabel == 0 and n_new == 0:
        return {
            "relabeled": 0,
            "new_docs": 0,
            "parts_rewritten": [],
            "parts_linked": _CLUSTER_PARTS,
            "relabel_parts_scanned": len(cand_parts),
            "known_parts_scanned": len(eparts),
            "index": "pruned",
            "version": os.path.basename(cur),
        }
    aff = sorted(int(r["part"]) for r in touched.select("part").distinct().collect())
    vdir = store.next_generation(path)
    rewrite = (
        stored.filter(F.col("part").isin(aff))
        .join(touched.select("doc_id"), "doc_id", "left_anti")
        .unionByName(touched)
        .filter(F.col("part").isin(aff))
    )
    rewrite.write.mode("overwrite").partitionBy("part").parquet(vdir)
    linked = store.link_forward(
        cur, vdir, lambda d: store.partition_value(d, "part") not in (None, *aff)
    )
    # --- label-index maintenance (same O(batch) + hard-link discipline as
    # the map itself). Changed labels die wholesale (every row carrying one
    # was relabeled above), touched rows contribute the complete new entry
    # set, so exactness is preserved; only lpart partitions that can hold a
    # dead or new label are rewritten, the rest hard-link.
    dead = upd.select("label")
    add = (
        touched.select("label", "part")
        .distinct()
        .withColumn("lpart", F.pmod(F.hash("label"), F.lit(_CLUSTER_PARTS)))
        .localCheckpoint(eager=True)
    )
    aff_lp = sorted(
        {
            int(r[0])
            for r in dead.select(F.pmod(F.hash("label"), F.lit(_CLUSTER_PARTS)))
            .distinct()
            .collect()
        }
        | {int(r[0]) for r in add.select("lpart").distinct().collect()}
    )
    idx_dst = os.path.join(vdir, _LABEL_INDEX)
    (
        spark.read.parquet(idx_dir)
        .filter(F.col("lpart").isin(aff_lp))
        .join(F.broadcast(dead), "label", "left_anti")
        .unionByName(add)
        .distinct()
        .write.mode("overwrite")
        .partitionBy("lpart")
        .parquet(idx_dst)
    )
    # a footer-only empty-index file has no lpart dir: zero rows, skipped
    store.link_forward(
        idx_dir,
        idx_dst,
        lambda d: store.partition_value(d, "lpart") not in (None, *aff_lp),
    )
    store.publish(path, vdir)
    return {
        "relabeled": n_relabel,
        "new_docs": n_new,
        "parts_rewritten": aff,
        "parts_linked": len(linked),
        "relabel_parts_scanned": len(cand_parts),
        "known_parts_scanned": len(eparts),
        "index": "pruned",
        "version": os.path.basename(vdir),
    }
