"""BASE + DELTA serving over the bucketed store — continuous ingestion
with co-located joins (the merge-on-read lakehouse pattern).

The write-once bucketed table (sources/bucketed.py) eliminates the
per-run fact-fact shuffle, but a bucketed table cannot absorb a stream
exactly-once: appends land as loose per-batch files and there is no
atomic commit to make a replayed micro-batch a no-op. The classic
answer (Hudi MOR, Iceberg+compaction) splits the store:

 - **delta**: micro-batches append through the EXISTING manifest sink
   (`manifest_append_batch` — id-grain anti-join against committed
   segments, single manifest publish per batch, replay appends 0);
 - **base**: the bucketed table, rebuilt by COMPACTION as a new
   generation (versioned dir + the shared atomic pointer swap of
   `sources/store.py`), folding every delta row committed up to a
   pinned manifest version;
 - **serving**: base ∪ delta-after-compaction. Joins run per-arm: the
   base arm is the exchange-free bucketed SortMergeJoin; the delta arm
   is batch-sized and broadcasts. At 100 TB the big side never
   re-shuffles and the streaming tail costs its own size.

Crash windows:
 - ingest: inherited from the manifest sink — a crashed segment is
   invisible (manifest never published), a replayed batch anti-joins to
   0 rows.
 - compact: the new generation is written BESIDE the live one and
   becomes visible only at the pointer `os.replace`; a crash before the
   swap leaves the old base serving and a re-compact starts clean. The
   folded-through version is committed INSIDE the generation dir
   (`_FOLDED_THROUGH`, written before the pointer swap), so "which delta
   versions this base already holds" is atomic WITH the base itself —
   the root-level `_COMPACTED_THROUGH` marker is only a cache, and a
   crash between pointer and marker costs nothing: serving reads the
   generation's own marker and takes exactly the delta tail the base
   does not hold. No per-serve id anti-join against the base (an
   O(base) scan per query — measured 2.4× the monolithic join at ×5
   before this design); tail selection is pure version arithmetic.
   Compacted delta segments are NOT expired: the manifest's dedupe
   anti-join needs the full committed history to keep a re-ingested id
   a no-op; storage GC is a retention decision (`expire_snapshots`),
   not a correctness one.

SINGLE-WRITER per store root, like every pointer store here.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import store
from .sink import manifest_append_batch, manifest_versions

_COMPACT_MARK = "_COMPACTED_THROUGH"
_FOLDED_MARK = "_FOLDED_THROUGH"
_BUCKETS_MARK = "_BUCKETS"


def _delta_path(root: str) -> str:
    return os.path.join(root, "delta")


def _write_store_meta(vdir: str, buckets: int, key: str) -> None:
    """Persist the bucket layout INSIDE the generation dir (before the
    pointer swap, like `_FOLDED_THROUGH`): the bucket count is a property
    of the FILES, not of the session that happens to register them, so a
    fresh session must read it back rather than trust a caller default."""
    import json as _json

    with open(os.path.join(vdir, _BUCKETS_MARK), "w") as f:
        f.write(_json.dumps({"buckets": int(buckets), "key": key}))
        f.flush()
        os.fsync(f.fileno())


def _read_store_meta(gen_dir: str) -> dict | None:
    import json as _json

    try:
        with open(os.path.join(gen_dir, _BUCKETS_MARK)) as f:
            return _json.loads(f.read())
    except (OSError, ValueError):
        return None


def _compacted_through(root: str) -> int:
    """Highest delta manifest version the CURRENT base generation holds:
    the generation's own `_FOLDED_THROUGH` (atomic with the base — see
    module docstring) with the root marker as a fallback cache."""
    vals = [-1]
    cur = store.current(root)
    if cur is not None:
        try:
            with open(os.path.join(cur, _FOLDED_MARK)) as f:
                vals.append(int(f.read().strip()))
        except (OSError, ValueError):
            pass
    try:
        with open(os.path.join(root, _COMPACT_MARK)) as f:
            vals.append(int(f.read().strip()))
    except (OSError, ValueError):
        pass
    return max(vals)


def _resolve_snapshot(root: str) -> tuple[str, int]:
    """Atomically resolve (generation dir, folded-through) for a reader.

    The pair is consistent BY CONSTRUCTION: the `_FOLDED_THROUGH`
    marker is written inside the generation dir before the pointer
    swap and never modified after, so reading the pointer once and
    then THAT generation's own marker yields a committed pair even if
    a compaction swaps the pointer mid-read. This is the fix for the
    torn-read window of resolving the pointer twice (base from gen N,
    tail cutoff from gen N+1 ⇒ the rows folded between them vanish
    from the served view). The root `_COMPACTED_THROUGH` cache is only
    a fallback for pre-marker legacy generations — it must never be
    max()'d in, since it can run ahead of the resolved generation
    during a concurrent swap."""
    cur = store.current(root)
    if cur is None:
        raise FileNotFoundError(f"no base generation published under {root!r}")
    try:
        with open(os.path.join(cur, _FOLDED_MARK)) as f:
            return cur, int(f.read().strip())
    except (OSError, ValueError):
        pass
    try:
        with open(os.path.join(root, _COMPACT_MARK)) as f:
            return cur, int(f.read().strip())
    except (OSError, ValueError):
        return cur, -1


def _write_compacted_through(root: str, version: int) -> None:
    tmp = os.path.join(root, f".{_COMPACT_MARK}.{uuid.uuid4().hex[:8]}")
    with open(tmp, "w") as f:
        f.write(str(version))
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, os.path.join(root, _COMPACT_MARK))


def _table_name(root: str, gen_dir: str) -> str:
    import hashlib

    key = f"{os.path.abspath(root)}:{os.path.basename(gen_dir)}"
    return "bdbase_" + hashlib.md5(key.encode()).hexdigest()[:10]


def _register_base(
    spark: SparkSession,
    root: str,
    key: str,
    buckets: int | None,
    gen_dir: str | None = None,
) -> str:
    """Session-catalog name for the CURRENT base generation, registering
    the existing files with metadata-only DDL when this session hasn't
    seen them (the sources/bucketed.py convention).

    The bucket count (and key) are read from the generation's own
    `_BUCKETS` sidecar when present — the layout is a property of the
    files; a caller-supplied count that disagrees would register DDL over
    a mismatched file layout, so bucket pruning and co-located joins
    would read the wrong bucket files and silently drop rows. The caller
    parameter is only a fallback for pre-sidecar generations.

    ``gen_dir`` pins an already-resolved generation (from
    :func:`_resolve_snapshot`) so serve paths register the SAME
    generation their tail arithmetic uses — never re-resolving the
    pointer between the two."""
    cur = gen_dir if gen_dir is not None else store.current(root)
    if cur is None:
        raise FileNotFoundError(f"no base generation published under {root!r}")
    meta = _read_store_meta(cur)
    if meta is not None:
        buckets = meta["buckets"]
        key = meta.get("key", key)
    name = _table_name(root, cur)
    if not spark.catalog.tableExists(name):
        if buckets is None:
            raise ValueError(
                f"generation {cur!r} predates the _BUCKETS sidecar and no "
                "bucket count was supplied; pass the count it was built with "
                "(build_base stamps the sidecar for future sessions)"
            )
        schema = spark.read.parquet(cur).schema
        cols_ddl = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in schema.fields
        )
        spark.sql(
            f"CREATE TABLE {name} ({cols_ddl}) USING parquet "
            f"CLUSTERED BY ({key}) SORTED BY ({key}) "
            f"INTO {buckets} BUCKETS LOCATION '{cur}'"
        )
    return name


def build_base(
    df: DataFrame, root: str, key: str, buckets: int = 16
) -> str:
    """Write generation 0 of the bucketed base (no-op if one is already
    published) and return its session table name."""
    spark = df.sparkSession
    if store.current(root) is None:
        vdir = store.next_generation(root)
        name = _table_name(root, vdir)
        (
            df.write.bucketBy(buckets, key)
            .sortBy(key)
            .option("path", vdir)
            .mode("overwrite")
            .saveAsTable(name)
        )
        # generation 0 holds no deltas: stamp _FOLDED_THROUGH = -1 INSIDE
        # the generation so every generation carries its own marker and
        # readers never fall back to the root cache (which can run ahead
        # of a resolved generation during a concurrent swap)
        with open(os.path.join(vdir, _FOLDED_MARK), "w") as f:
            f.write("-1")
            f.flush()
            os.fsync(f.fileno())
        _write_store_meta(vdir, buckets, key)
        store.publish(root, vdir)
    else:
        # upgrade path: stamp the sidecar onto a pre-sidecar generation.
        # build_base's contract has always been "buckets = the count the
        # files were built with", so the caller value is authoritative
        # here exactly once; every later reader trusts the sidecar.
        cur = store.current(root)
        if _read_store_meta(cur) is None:
            _write_store_meta(cur, buckets, key)
    return _register_base(spark, root, key, buckets)


def ingest_batch(batch: DataFrame, root: str, id_col: str) -> int:
    """Exactly-once micro-batch append into the delta arm (manifest sink:
    replayed ids anti-join to 0). Returns rows actually appended."""
    return manifest_append_batch(batch, _delta_path(root), id_col, prune_col=None)


def _delta_after(spark: SparkSession, root: str, version: int) -> DataFrame | None:
    """Committed delta rows in manifest versions > ``version`` (the
    not-yet-compacted tail), or None when there are none."""
    try:
        manifests = manifest_versions(_delta_path(root))
    except (FileNotFoundError, OSError):
        return None
    segs = [
        os.path.join(_delta_path(root), "segments", m["segment"])
        for m in manifests
        if m.get("version", 0) > version
    ]
    if not segs:
        return None
    return spark.read.parquet(*segs)


def serve(
    spark: SparkSession, root: str, key: str, buckets: int | None = None
) -> DataFrame:
    """The current fact view: bucketed base ∪ uncompacted delta tail.
    Tail selection is version arithmetic against the generation's own
    folded-through marker — no row comparison against the base, ever.
    The (generation, folded-through) pair is resolved atomically
    (:func:`_resolve_snapshot`), so a compaction swapping the pointer
    mid-serve can never tear the view: the reader serves the OLD
    committed snapshot exactly, never a mix of arms."""
    cur, folded = _resolve_snapshot(root)
    base = spark.table(_register_base(spark, root, key, buckets, gen_dir=cur))
    tail = _delta_after(spark, root, folded)
    if tail is None:
        return base
    return base.unionByName(tail.select(*base.columns))


def serve_join(
    spark: SparkSession,
    root: str,
    key: str,
    dim: DataFrame,
    dim_key: str,
    buckets: int | None = None,
) -> DataFrame:
    """Per-arm join: base ⨝ dim as the exchange-free bucketed SMJ, the
    batch-sized delta tail ⨝ dim as a broadcast-friendly join, unioned.
    This is the merge-on-read serving plan: the 100 TB arm never
    re-shuffles, the streaming tail costs its own size."""
    # no join-strategy hint: a broadcast-sized dim should broadcast (the
    # bucketed scan still avoids the fact-side exchange); a fact-sized dim
    # gets SMJ from Catalyst, where only the dim side exchanges
    cur, folded = _resolve_snapshot(root)
    base = spark.table(_register_base(spark, root, key, buckets, gen_dir=cur))
    joined = base.join(dim, F.col(key) == F.col(dim_key))
    tail = _delta_after(spark, root, folded)
    if tail is None:
        return joined
    return joined.unionByName(
        tail.select(*base.columns).join(dim, F.col(key) == F.col(dim_key))
    )


def _resolved_buckets(root: str, buckets: int | None) -> int:
    """The store's effective bucket count: the current generation's
    sidecar when present, else the caller's (legacy generations)."""
    cur = store.current(root)
    meta = _read_store_meta(cur) if cur is not None else None
    if meta is not None:
        return meta["buckets"]
    if buckets is None:
        raise ValueError(
            f"store {root!r} has no _BUCKETS sidecar; pass the bucket "
            "count it was built with"
        )
    return buckets


def _publish_generation(
    spark: SparkSession,
    root: str,
    key: str,
    merged: DataFrame,
    buckets: int,
    pin: int,
) -> dict:
    """Write ``merged`` as a new bucketed generation and publish it:
    folded-through + bucket sidecar committed INSIDE the generation
    before the atomic pointer swap, then the root marker cache."""
    vdir = store.next_generation(root)
    name = _table_name(root, vdir)
    if spark.catalog.tableExists(name):  # crashed prior attempt re-registered
        spark.sql(f"DROP TABLE {name}")
    (
        merged.write.bucketBy(buckets, key)
        .sortBy(key)
        .option("path", vdir)
        .mode("overwrite")
        .saveAsTable(name)
    )
    n = spark.table(name).count()
    # folded-through lands INSIDE the generation before the swap, so the
    # base and "what it holds" publish atomically; the root marker after
    # the swap is only a cache for _compacted_through
    with open(os.path.join(vdir, _FOLDED_MARK), "w") as f:
        f.write(str(pin))
        f.flush()
        os.fsync(f.fileno())
    _write_store_meta(vdir, buckets, key)
    store.publish(root, vdir)
    _write_compacted_through(root, pin)
    return {"version": pin, "rows": n, "generation": os.path.basename(vdir)}


def compact(
    spark: SparkSession, root: str, key: str, buckets: int | None = None
) -> dict:
    """Fold the uncompacted delta tail (versions in (done, pin]) into a
    new bucketed base generation: folded-through committed inside the
    generation, atomic pointer swap, then the root marker cache.
    Returns {"version", "rows", "generation"}. Idempotent: no tail →
    no new generation. The new generation keeps the store's bucket
    count (the sidecar's; ``buckets`` only seeds legacy stores) — use
    ``rebucket`` to change it."""
    manifests = manifest_versions(_delta_path(root))
    pin = max((m.get("version", 0) for m in manifests), default=-1)
    cur, done = _resolve_snapshot(root)
    if pin <= done:
        return {
            "version": done,
            "rows": 0,
            "generation": os.path.basename(cur),
        }
    nbuckets = _resolved_buckets(root, buckets)
    base = spark.table(_register_base(spark, root, key, nbuckets, gen_dir=cur))
    tail = _delta_after(spark, root, done)
    merged = base.unionByName(tail.select(*base.columns))
    return _publish_generation(spark, root, key, merged, nbuckets, pin)


def rebucket(
    spark: SparkSession, root: str, key: str, new_buckets: int
) -> dict:
    """Re-size the store's bucket count as a NEW generation (same atomic
    pointer pattern as compaction): the current serving view — base plus
    any uncompacted delta tail — is rewritten `bucketBy(new_buckets)`,
    folded through the current delta pin, and published. Serving is
    correct across the swap (readers on the old pointer see the old
    consistent generation; the first serve after the swap reads the new
    sidecar, so co-located joins and bucket pruning track the new
    layout). The old generation stays on disk for GC / time travel, the
    single-writer contract is the store's.

    Why this exists at 100 TB: bucket count should track cluster
    parallelism (sources/bucketed.py's 64-bucket finding); a cluster
    resize otherwise strands the store at a stale count forever, since
    the count is baked into the physical file layout."""
    manifests = manifest_versions(_delta_path(root))
    pin = max((m.get("version", 0) for m in manifests), default=-1)
    cur, done = _resolve_snapshot(root)
    pin = max(pin, done)
    base = spark.table(_register_base(spark, root, key, None, gen_dir=cur))
    tail = _delta_after(spark, root, done)
    merged = base if tail is None else base.unionByName(tail.select(*base.columns))
    return _publish_generation(spark, root, key, merged, new_buckets, pin)


def streaming_fact_ingest(
    stream: DataFrame,
    root: str,
    key: str,
    id_col: str,
    checkpoint_dir: str,
    compact_every: int | None = None,
):
    """Wire a fact stream into the base+delta store:
    ``streaming_fact_ingest(...).start()`` + the checkpoint gives a
    continuously-ingested fact whose serving view (`serve`/`serve_join`)
    is always exact — exactly-once composition is the manifest sink's
    (replayed micro-batches append 0). ``compact_every`` folds the delta
    into a new bucketed base generation every N batches (the
    maintain_every convention of manifest_foreach_batch_writer);
    compaction is idempotent, so a replayed maintenance batch re-folds
    to a no-op."""

    def write(batch: DataFrame, batch_id: int) -> None:
        ingest_batch(batch, root, id_col)
        if compact_every and batch_id % compact_every == compact_every - 1:
            compact(batch.sparkSession, root, key)

    return (
        stream.writeStream.foreachBatch(write)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
