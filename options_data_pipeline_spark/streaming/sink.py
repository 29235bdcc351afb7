"""Idempotent micro-batch sink (reference S3/S4/S6/J4 semantics).

Reference: deterministic IDs + read-sink-then-anti-join dedup + retry +
fallback WAL (``write_pipeline.py:139-326``). Spark-first: ``foreachBatch``
with an anti-join-then-append against a parquet sink — replays of the same
micro-batch (after failure/restart) write nothing the second time because
their ids already exist. With a Delta/Iceberg sink this is a single
``MERGE WHEN NOT MATCHED INSERT`` (transactional); plain parquet keeps the
same logic minus atomicity, which Structured Streaming's checkpoint +
deterministic batch replay compensates.

The reference's retry ladder (5× exp backoff) and fallback WAL are
subsumed by Spark task retries + the streaming WAL; the ``atr_state``
full-overwrite snapshot (S4) maps to ``mode("overwrite")``.

Scale: with a ``prune_col`` the sink read for dedup is pruned to the
batch's range of that column, plus the sink's NULL rows when the batch
has a NULL there — never a full-sink scan (the reference's Q2 reads the
whole sheet per window, SURVEY.md §7 risk 5); an empty batch does not
read the sink. Without a ``prune_col`` the anti-join reads the whole
sink.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def sink_has_data(sink_path: str) -> bool:
    """True when the sink directory holds any parquet file, at ANY depth —
    a (year, month)- or date-partitioned sink has only partition
    subdirectories at the top level, so a flat ``os.listdir`` probe would
    report "empty" and silently skip the dedup anti-join on replay."""
    if not os.path.isdir(sink_path):
        return False
    return any(
        f.endswith(".parquet")
        for _, _, files in os.walk(sink_path)
        for f in files
    )


def idempotent_append_batch(
    batch: DataFrame,
    sink_path: str,
    id_col: str = "id",
    prune_col: str | None = "window_start",
    partition_by: tuple[str, ...] = (),
) -> int:
    """Anti-join ``batch`` against the sink on ``id`` and append the delta.
    Returns rows written. When ``prune_col`` is given the sink read is
    pruned to the batch's range of it, and also keeps the sink's
    ``prune_col IS NULL`` rows when the batch has a NULL there (a range
    filter alone would drop them, and such a row would be appended again
    on every replay); when ``partition_by`` includes a ``date`` column
    and the batch has no NULL prune value, the bounds also become
    partition filters so the dedup read touches only the batch's date
    partitions. An empty batch returns 0 before the sink is read.

    ``batch``'s plan runs once for the bound probe and once for the
    delta unless the caller persists it (``run_batch`` does); a batch
    that is already cached is read from that cache and left cached."""
    spark = batch.sparkSession
    delta = batch
    if sink_has_data(sink_path):
        bounds = None
        if prune_col is not None:
            bounds = _prune_bounds(batch, prune_col)
            if bounds.n == 0:
                return 0
        sink = spark.read.parquet(sink_path)
        if bounds is not None:
            sink = sink.filter(_prune_filter(prune_col, bounds))
            if "date" in partition_by and bounds.nn == bounds.n:
                sink = sink.filter(
                    F.col("date").between(
                        F.lit(bounds.lo).cast("date"),
                        F.lit(bounds.hi).cast("date"),
                    )
                )
        delta = batch.join(sink.select(id_col), id_col, "left_anti")
    own_cache = not delta.is_cached
    if own_cache:
        delta = delta.cache()
    try:
        n = delta.count()
        if n:
            # Atomic-ish append: write the delta to a SIBLING staging
            # dir, then rename completed part-files into the sink one by
            # one. A crash mid-write leaves only the staging dir
            # (invisible to sink reads — no half-written parquet ever
            # corrupts the sink); a crash mid-promotion leaves some files
            # moved (their ids dedup on replay) and some staged
            # (invisible, so the replay's anti-join re-emits exactly
            # those rows). Rename is atomic per file on a real
            # filesystem; object stores should swap this for a
            # manifest-commit (or a Delta/Iceberg MERGE) — same contract.
            import uuid

            staging = f"{sink_path.rstrip('/')}.staging-{uuid.uuid4().hex[:12]}"
            try:
                writer = delta.write.mode("overwrite")
                if partition_by:
                    writer = writer.partitionBy(*partition_by)
                writer.parquet(staging)
                _promote_staged(staging, sink_path)
            finally:
                shutil.rmtree(staging, ignore_errors=True)
    finally:
        if own_cache:
            delta.unpersist()
    return n


def _prune_bounds(batch: DataFrame, prune_col: str):
    """One job: the batch's row count ``n``, non-NULL ``prune_col``
    count ``nn`` and its range ``lo``/``hi``."""
    return batch.agg(
        F.count(F.lit(1)).alias("n"),
        F.count(prune_col).alias("nn"),
        F.min(prune_col).alias("lo"),
        F.max(prune_col).alias("hi"),
    ).collect()[0]


def _prune_filter(prune_col: str, bounds):
    """The sink rows a batch with these bounds can collide with: its
    range, and the NULL rows when the batch has a NULL (``nn < n``)."""
    col = F.col(prune_col)
    cond = None
    if bounds.lo is not None:
        cond = (col >= bounds.lo) & (col <= bounds.hi)
    if bounds.nn < bounds.n:
        cond = col.isNull() if cond is None else cond | col.isNull()
    return cond


def _promote_staged(staging: str, sink_path: str) -> None:
    """Move every completed parquet part-file from ``staging`` into the
    sink, preserving partition subdirectories. Idempotent-resumable: each
    move is a single atomic rename, and files are uniquified per batch so
    promotions never collide with prior appends."""
    tag = os.path.basename(staging).rsplit("-", 1)[-1]
    for root, _dirs, files in os.walk(staging):
        rel = os.path.relpath(root, staging)
        for f in files:
            if not f.endswith(".parquet"):
                continue  # _SUCCESS markers, .crc files
            dest_dir = sink_path if rel == "." else os.path.join(sink_path, rel)
            os.makedirs(dest_dir, exist_ok=True)
            os.rename(
                os.path.join(root, f), os.path.join(dest_dir, f"{tag}-{f}")
            )


# ---------------------------------------------------------------------------
# Manifest-commit sink: the object-store-safe twin of the rename sink above.
#
# Per-file os.rename promotion is atomic only on POSIX filesystems; object
# stores (S3/GCS) have no rename, only copy+delete, so a crash mid-promotion
# can expose half an append. The manifest pattern (what Delta/Iceberg commit
# protocols do) makes the COMMIT a single small-object publish instead:
#
#   sink/segments/<uuid>/part-*.parquet   — data, written first, invisible
#   sink/_manifests/<uuid>.json           — the commit: lists the segment,
#                                           row count, and prune-col min/max
#
# Readers resolve the file set from committed manifests ONLY, so:
#   crash before manifest publish → segment is invisible; streaming replay's
#     anti-join doesn't see those ids and re-emits the rows exactly once
#     (the orphan segment is garbage, collectable any time);
#   crash after publish → replay's anti-join sees every id and writes 0.
# The manifest doubles as Delta-style data skipping: the dedup read opens
# only segments whose [lo, hi] overlaps the incoming batch's key range.
# Reference counterpart: the confirmed-write flag in
# checkpoint_manager.py:62-67 — same write-then-confirm contract.
#
# Concurrency contract: SINGLE WRITER per sink (what foreachBatch
# guarantees — micro-batches of one query never overlap), same as the
# reference's one-process writer. Two independent writers could both pass
# the anti-join before either commits and double-append; fixing that
# needs a compare-and-swap commit log (Delta's optimistic protocol), out
# of scope for the parquet sink.
# ---------------------------------------------------------------------------


def _manifest_dir(sink_path: str) -> str:
    return os.path.join(sink_path, "_manifests")


def _bounds_comparable(a, b) -> bool:
    """True when two manifest bounds can be range-compared meaningfully:
    number-vs-number or string-vs-string. Mixed (e.g. a manifest written
    before the numeric-bounds fix holds strings while the batch bound is a
    number) → NOT comparable, so the caller keeps the segment — skipping
    is only ever allowed on a sound comparison."""
    if isinstance(a, bool) or isinstance(b, bool):
        return False
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return True
    return isinstance(a, str) and isinstance(b, str)


def _committed_segments(
    sink_path: str, lo=None, hi=None, prune_col: str | None = None
) -> list[str]:
    """Segment dirs named by committed manifests, optionally pruned to
    those whose recorded [lo, hi] range overlaps the given bounds.

    Pruning IS a correctness gate — `manifest_append_batch` feeds the
    surviving segments into its dedup anti-join, so a wrongly-skipped
    segment would let replayed rows re-append. Hence: skip only on a
    sound comparison (see `_bounds_comparable`; bounds are stored as
    native JSON numbers / ISO strings by `_bound_json`), and keep any
    manifest whose bounds are missing or of a mismatched type.

    A committed manifest whose segment dir is missing is CORRUPTION
    (someone deleted committed data — e.g. GC racing an active writer)
    and raises rather than silently shrinking the sink."""
    mdir = _manifest_dir(sink_path)
    if not os.path.isdir(mdir):
        return []
    manifests = manifest_versions(sink_path)
    superseded = _superseded_segments(manifests)
    out = []
    for m in manifests:
        if m["segment"] in superseded:
            # replaced by a committed compaction — its rows live in the
            # merged segment; the dir may even be gone (expire_snapshots)
            continue
        if lo is not None and hi is not None:
            slo, shi = m.get("lo"), m.get("hi")
            if (
                slo is not None
                and shi is not None
                # bounds from a DIFFERENT column must never range-prune:
                # a compaction stamped with its own prune_col would
                # otherwise be judged disjoint from an append's key range
                # and silently escape the dedup anti-join. Manifests
                # predating the prune_col field (None) are kept too.
                and prune_col is not None
                and m.get("prune_col") == prune_col
                and _bounds_comparable(slo, lo)
                and _bounds_comparable(shi, hi)
                and (shi < lo or slo > hi)
            ):
                continue  # disjoint range — skip the segment entirely
        seg = os.path.join(sink_path, "segments", m["segment"])
        if not os.path.isdir(seg):
            raise FileNotFoundError(
                f"manifest commits segment {m['segment']} but the segment"
                f" dir is missing — committed data was deleted out-of-band"
                f" (was gc_uncommitted_segments run while a writer was"
                f" active?)"
            )
        out.append(seg)
    return out


def _superseded_segments(
    manifests: list[dict], at_version: int | None = None
) -> set[str]:
    """Segments replaced by a committed compaction manifest (its
    ``replaces`` list), optionally only counting compactions with
    version ≤ ``at_version`` — a historical read BEFORE a compaction
    must still see the original segments."""
    out: set[str] = set()
    for m in manifests:
        if at_version is not None and m.get("version", 0) > at_version:
            continue
        out.update(m.get("replaces") or [])
    return out


def _publish_manifest(
    sink_path: str,
    segment: str,
    n_rows: int,
    lo,
    hi,
    replaces: list[str] | None = None,
    prune_col: str | None = None,
) -> int:
    """The commit point: stage the manifest JSON then atomically rename it
    into _manifests/. On a real object store this maps to a single PUT of
    the manifest object — one atomic publish, no multi-file rename.

    Each manifest carries a monotonically-increasing ``version`` (the
    count of already-committed manifests — race-free under the sink's
    single-writer contract, the same way Delta's log assigns commit
    numbers), which is what :func:`manifest_sink_read`'s time travel keys
    on. Returns the assigned version."""
    import json

    mdir = _manifest_dir(sink_path)
    os.makedirs(mdir, exist_ok=True)
    version = sum(
        1
        for f in os.listdir(mdir)
        if f.endswith(".json") and not f.startswith("_")  # skip metadata
    ) if os.path.isdir(mdir) else 0
    tmp = os.path.join(mdir, f".{segment}.json.tmp")
    doc = {"segment": segment, "rows": n_rows, "lo": lo, "hi": hi,
           "version": version}
    if prune_col is not None:
        doc["prune_col"] = prune_col  # bounds only prune against this column
    if replaces:
        doc["replaces"] = list(replaces)
    with open(tmp, "w") as fh:
        json.dump(doc, fh)
    os.rename(tmp, os.path.join(mdir, f"{segment}.json"))
    return version


def _bound_json(v):
    """Manifest bound encoding, type-aware: numerics stay native JSON
    numbers (stringified numerics do NOT compare consistently — '900' >
    '1000' lexicographically, so a numerically overlapping segment could
    be judged disjoint and skipped out of the dedup read); Decimals go
    through float (round-to-nearest is monotonic, so a float-rounded
    overlap test can only err toward keeping a segment, never skipping
    an overlapping one); timestamps/dates/strings use str(), whose
    fixed-width ISO form is lexicographically ordered."""
    if v is None:
        return None
    if isinstance(v, bool):  # bool is an int subclass; never range-prune it
        return str(v)
    if isinstance(v, (int, float)):
        return v
    import decimal

    if isinstance(v, decimal.Decimal):
        return float(v)
    return str(v)


def manifest_append_batch(
    batch: DataFrame,
    sink_path: str,
    id_col: str = "id",
    prune_col: str | None = "window_start",
) -> int:
    """Object-store-safe idempotent append: anti-join against COMMITTED
    segments only, write the delta as a new segment, then commit it with a
    single manifest publish. Partition-style layout is deliberately not
    used — segments keep all columns in-data and skipping happens at the
    manifest (segment min/max) and parquet row-group-stat levels, the same
    posture Delta data skipping takes on object stores. The dedup read
    keeps NULL prune values as :func:`idempotent_append_batch` does; an
    empty batch returns 0 before any segment is read. Cache rule as
    there: a batch the caller cached is left cached, and only the
    sink's own cache is released, also when a write raises."""
    spark = batch.sparkSession
    b = lo = hi = None
    skip_lo = skip_hi = None
    if prune_col is not None:
        b = _prune_bounds(batch, prune_col)
        if b.n == 0:
            return 0
        # manifest bounds go through THIS encoder on both the write and
        # the skip side, so the overlap test is self-consistent and
        # type-aware (native numbers for numerics, ISO strings otherwise)
        lo, hi = _bound_json(b.lo), _bound_json(b.hi)
        if b.nn == b.n:
            # a segment's [lo, hi] says nothing about its NULL rows, so a
            # batch with a NULL prune value skips no segment by range
            skip_lo, skip_hi = lo, hi
    segments = _committed_segments(sink_path, skip_lo, skip_hi, prune_col=prune_col)
    delta = batch
    if segments:
        sink = spark.read.parquet(*segments)
        if b is not None:
            # typed in-data filter (never string-compared) pushes to the
            # parquet scan and prunes row groups by their stats
            sink = sink.filter(_prune_filter(prune_col, b))
        delta = batch.join(sink.select(id_col), id_col, "left_anti")
    own_cache = not delta.is_cached
    if own_cache:
        delta = delta.cache()
    try:
        n = delta.count()
        if n:
            import uuid

            seg_name = uuid.uuid4().hex[:12]
            delta.write.mode("overwrite").parquet(
                os.path.join(sink_path, "segments", seg_name)
            )
            _publish_manifest(sink_path, seg_name, n, lo, hi, prune_col=prune_col)
    finally:
        if own_cache:
            delta.unpersist()
    return n


def manifest_versions(sink_path: str) -> list[dict]:
    """Commit history, oldest first: one dict per committed manifest
    (version, segment, rows, lo, hi). The audit face of time travel."""
    import json

    mdir = _manifest_dir(sink_path)
    if not os.path.isdir(mdir):
        return []
    out = []
    for f in sorted(os.listdir(mdir)):
        # underscore-prefixed JSONs are sink metadata (e.g. the
        # expire_snapshots marker), not commit manifests
        if f.endswith(".json") and not f.startswith("_"):
            with open(os.path.join(mdir, f)) as fh:
                out.append(json.load(fh))
    out.sort(key=lambda m: m.get("version", -1))
    return out


def manifest_sink_read(spark, sink_path: str, at_version: int | None = None) -> DataFrame:
    """Read exactly the committed rows — uncommitted (crashed) segments are
    invisible by construction.

    ``at_version`` = Delta-style TIME TRAVEL: the snapshot as of that
    commit (manifests with version ≤ at_version). Because segments are
    append-only and manifests immutable, a historical read is just a
    smaller segment list — no log replay, no tombstones. Raises if any
    committed manifest predates version stamping (no silent partial
    snapshots)."""
    if at_version is not None:
        expired_before = _expired_before(sink_path)
        if expired_before is not None and at_version < expired_before:
            raise ValueError(
                f"snapshot {at_version} expired — expire_snapshots removed"
                f" history before version {expired_before}"
            )
        manifests = manifest_versions(sink_path)
        superseded = _superseded_segments(manifests, at_version=at_version)
        segments = []
        for m in manifests:
            if "version" not in m:
                raise ValueError(
                    f"manifest for segment {m.get('segment')} has no version"
                    " — sink predates time travel; full reads only"
                )
            if m["version"] <= at_version and m["segment"] not in superseded:
                seg = os.path.join(sink_path, "segments", m["segment"])
                if not os.path.isdir(seg):
                    raise FileNotFoundError(
                        f"committed segment {m['segment']} missing"
                    )
                segments.append(seg)
    else:
        segments = _committed_segments(sink_path)
    if not segments:
        raise FileNotFoundError(f"no committed segments under {sink_path}")
    return spark.read.parquet(*segments)


def _expired_before(sink_path: str) -> int | None:
    """Version floor left by :func:`expire_snapshots` (None = full
    history available)."""
    import json

    marker = os.path.join(_manifest_dir(sink_path), "_expired.json")
    if not os.path.isfile(marker):
        return None
    with open(marker) as fh:
        return json.load(fh)["before_version"]


def manifest_compact(
    spark, sink_path: str, prune_col: str | None = "window_start"
) -> int:
    """OPTIMIZE for the manifest sink: merge all LIVE segments into one
    and commit it as a new version whose manifest ``replaces`` them —
    the small-file compaction every streaming append sink needs (each
    micro-batch is one segment; a day of 5-minute batches is ~288 dirs
    every read re-lists). Current reads switch to the merged segment at
    the commit instant; TIME TRAVEL to any pre-compaction version still
    resolves the original segments (``replaces`` is version-gated), so
    nothing is lost until :func:`expire_snapshots` retires it.

    Shares the sink's SINGLE-WRITER contract (it IS a writer). Returns
    the new version, or -1 when ≤1 live segment (nothing to merge).
    Deployments size merged files to ~128 MB; the coalesce(1) here
    follows the measured micro-batch file-tax lesson at test scale."""
    live = _committed_segments(sink_path)
    if len(live) <= 1:
        return -1
    live_names = {os.path.basename(s) for s in live}
    df = spark.read.parquet(*live)
    lo = hi = None
    if prune_col is not None and prune_col in df.columns:
        b = df.agg(F.min(prune_col).alias("lo"), F.max(prune_col).alias("hi")).collect()[0]
        lo, hi = _bound_json(b.lo), _bound_json(b.hi)
    else:
        prune_col = None  # column absent → stamp no bounds
    # row count = sum of the live manifests' recorded counts (exact by
    # construction — each append's dedup guarantees disjoint rows), so the
    # data is scanned ONCE, by the merge write itself
    n = sum(
        m["rows"] for m in manifest_versions(sink_path)
        if m["segment"] in live_names
    )
    import uuid

    seg_name = uuid.uuid4().hex[:12]
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(sink_path, "segments", seg_name)
    )
    return _publish_manifest(
        sink_path, seg_name, n, lo, hi,
        replaces=sorted(live_names),
        prune_col=prune_col,
    )


def expire_snapshots(sink_path: str, before_version: int) -> list[str]:
    """VACUUM for the manifest sink: delete segment dirs that serve ONLY
    snapshots older than ``before_version`` — i.e. segments a compaction
    with version ≤ ``before_version`` superseded. Current reads and any
    time travel ≥ ``before_version`` are untouched; older ``at_version``
    reads raise a clear "snapshot expired" error (the marker survives in
    ``_manifests/_expired.json``). Manifest JSONs are kept — the commit
    history stays auditable, only the data bytes are reclaimed.

    Shares the single-writer contract (like GC: don't race an active
    writer's compaction)."""
    import json

    manifests = manifest_versions(sink_path)
    retirable = _superseded_segments(manifests, at_version=before_version)
    if not retirable:
        return []
    # The readable floor is the highest compaction commit ≤ the requested
    # cut — versions from there on reconstruct from surviving segments, so
    # the marker must never exceed it (a raw caller value like 10 with the
    # last compaction at v2 would falsely refuse perfectly readable
    # snapshots 3..9).
    floor = max(
        m["version"]
        for m in manifests
        if m.get("replaces") and m["version"] <= before_version
    )
    # Marker FIRST, deletion second: a crash between the two leaves the
    # marker in place and the re-run (same retirable set) finishes the
    # deletes; the reverse order strands missing segments behind the
    # corruption-signal FileNotFoundError with no marker to explain them.
    prev = _expired_before(sink_path) or 0
    if floor > prev:
        marker = os.path.join(_manifest_dir(sink_path), "_expired.json")
        os.makedirs(_manifest_dir(sink_path), exist_ok=True)
        tmp = marker + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"before_version": floor}, fh)
        os.rename(tmp, marker)
    removed = []
    for seg in sorted(retirable):
        path = os.path.join(sink_path, "segments", seg)
        if os.path.isdir(path):
            shutil.rmtree(path, ignore_errors=True)
            removed.append(seg)
    return removed


def gc_uncommitted_segments(sink_path: str, grace_s: float = 600.0) -> list[str]:
    """Remove segment dirs that no committed manifest names — the debris a
    crash between segment write and manifest publish leaves behind.

    NOT safe while a writer is active: between its segment write and its
    manifest publish the segment is indistinguishable from crash debris,
    and deleting it would make rows the writer then reports as committed
    invisible (the read path now raises on such a manifest rather than
    silently skipping it). GC shares the sink's single-writer contract —
    run it from the writer's own process between batches, or while no
    writer runs. ``grace_s`` is belt-and-braces for clock-skewed
    schedulers: segments younger than it are never collected, so a
    write→publish window shorter than the grace period survives even a
    misscheduled concurrent GC."""
    import time

    seg_root = os.path.join(sink_path, "segments")
    if not os.path.isdir(seg_root):
        return []
    # EVERY manifest-named segment is protected — including ones a
    # compaction superseded (they still serve time travel until
    # expire_snapshots retires them explicitly)
    committed = {m["segment"] for m in manifest_versions(sink_path)}
    removed = []
    now = time.time()
    for d in sorted(os.listdir(seg_root)):
        if d in committed:
            continue
        path = os.path.join(seg_root, d)
        try:
            age = now - os.path.getmtime(path)
        except OSError:
            continue  # vanished mid-scan (another GC) — nothing to do
        if age < grace_s:
            continue  # possibly an in-flight writer's segment
        shutil.rmtree(path, ignore_errors=True)
        removed.append(d)
    return removed


def manifest_foreach_batch_writer(
    sink_path: str,
    id_col: str = "id",
    maintain_every: int | None = None,
):
    """foreachBatch hook for the manifest sink.

    ``maintain_every``: run the maintenance pair (OPTIMIZE =
    :func:`manifest_compact`, then VACUUM = :func:`expire_snapshots` of
    everything the compaction superseded) after every N-th appended
    batch, INSIDE the hook — foreachBatch serializes batches, so
    maintenance can never race an append and the single-writer contract
    holds by construction (the pattern of Delta's post-commit
    auto-compaction). Readers are unaffected: current reads resolve the
    merged segment, and only pre-compaction versions are expired."""

    def write(batch: DataFrame, batch_id: int) -> None:
        manifest_append_batch(batch, sink_path, id_col)
        if maintain_every and batch_id % maintain_every == maintain_every - 1:
            v = manifest_compact(batch.sparkSession, sink_path)
            if v >= 0:  # -1 = ≤1 live segment, nothing merged
                expire_snapshots(sink_path, before_version=v)

    return write


def overwrite_snapshot(df: DataFrame, sink_path: str) -> None:
    """S4: full-overwrite state snapshot (reference sync_atr_state,
    ``write_pipeline.py:328-362``)."""
    df.write.mode("overwrite").parquet(sink_path)
