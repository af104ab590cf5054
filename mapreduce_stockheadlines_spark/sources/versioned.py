"""Versioned tables: snapshot isolation over plain parquet via an atomic
version pointer — the minimal lakehouse layer (time travel, safe
concurrent readers) without a table-format dependency.

Layout: ``<table>/v=N/`` holds each immutable snapshot's parquet;
``<table>/_LATEST`` (one integer) names the committed version. The
pointer is published by write-temp-then-rename through the Hadoop
FileSystem API (atomic on HDFS/local; on object stores the rename is
copy+delete, but the pointer is a single tiny file so the worst case is
a reader seeing the OLD version — never a torn table). Because readers
resolve the pointer ONCE at read time and snapshot dirs are immutable,
a reader holds a consistent snapshot for the lifetime of its DataFrame
regardless of concurrent writers — the property plain overwrite-in-place
parquet lacks (a reader racing an overwrite sees missing/mixed files).
Underscore-prefixed files are invisible to Spark's parquet discovery, so
the pointer never pollutes a directory listing read.

A writer publishes each folded artifact as version N+1, then readers
flip atomically; failed writes leave an orphaned ``v=N`` dir that no
pointer references — invisible and re-writable.

No reference counterpart (§2.2 incremental-maintenance surface).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def _fs(spark: SparkSession, path: str):
    sc = spark.sparkContext
    jpath = sc._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(sc._jsc.hadoopConfiguration()), sc._jvm


def _read_pointer(spark: SparkSession, table_dir: str) -> int | None:
    fs, jvm = _fs(spark, table_dir)
    p = jvm.org.apache.hadoop.fs.Path(f"{table_dir}/_LATEST")
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        # InputStream.readAllBytes: Java 9+, guaranteed on Spark 4
        # (Java 17). A hasattr() fallback would be dead code — py4j
        # proxies every attribute name without checking existence.
        raw = bytes(stream.readAllBytes())
    finally:
        stream.close()
    return int(raw.decode("ascii").strip())


def _publish_pointer(fs, jvm, table_dir: str, version: int) -> None:
    """Atomically point ``_LATEST`` at ``version``: write a temp file,
    then rename ONTO the pointer. POSIX/HDFS renames overwrite
    atomically, so racing readers see old-or-new, never a gap; only if
    the filesystem refuses an overwriting rename (object stores) does
    the delete+rename fallback run, whose worst case a reader observes
    as 'no pointer yet' for one operation — documented, and still never
    a torn value."""
    tmp = jvm.org.apache.hadoop.fs.Path(f"{table_dir}/_LATEST.tmp")
    final = jvm.org.apache.hadoop.fs.Path(f"{table_dir}/_LATEST")
    out = fs.create(tmp, True)
    try:
        out.write(str(version).encode("ascii"))
    finally:
        out.close()
    if fs.rename(tmp, final):
        return
    if fs.exists(final):
        fs.delete(final, False)
    if not fs.rename(tmp, final):
        raise IOError(
            f"versioned table: pointer publish failed for {table_dir}"
        )


def _reclaim_stale_claim(
    spark, fs, claim, table_dir: str, version: int, grace_s: float | None
) -> bool:
    """Take over an orphaned write claim. True only when ALL of: the
    caller opted in (``grace_s`` is not None), the pointer is still
    below ``version`` (so the claimant never committed — if it HAS
    committed, the conflict is real and reclaiming would overwrite a
    published snapshot), the claim file is older than the grace period,
    and this reclaimer wins the takeover race.

    The takeover is an atomic RENAME of the stale claim to a unique
    tombstone, not delete+create: with delete+create two concurrent
    reclaimers can interleave (B's delete removes A's freshly-created
    claim, B's create then succeeds) and BOTH proceed to write the same
    snapshot directory — the torn-snapshot outcome the claim exists to
    prevent. A rename has exactly one winner (the source vanishes for
    everyone else), and the loser backs off."""
    if grace_s is None:
        return False
    committed = _read_pointer(spark, table_dir)
    if committed is not None and committed >= version:
        return False
    try:
        mtime_ms = fs.getFileStatus(claim).getModificationTime()
    except Exception:
        # claim vanished between our failed create and here (another
        # reclaimer won and committed) — retry
        # the create below; it arbitrates.
        mtime_ms = None
    if mtime_ms is not None:
        import time
        import uuid

        if (time.time() - mtime_ms / 1000.0) < grace_s:
            return False
        _, jvm = _fs(spark, table_dir)
        tomb = jvm.org.apache.hadoop.fs.Path(
            f"{table_dir}/_claim_v{version}.stale-{uuid.uuid4().hex}"
        )
        if not fs.rename(claim, tomb):
            return False  # lost the takeover race — another reclaimer won
        fs.delete(tomb, False)
    try:
        fs.create(claim, False).close()
    except Exception:
        return False
    return True


def write_table_version(
    df: DataFrame,
    table_dir: str,
    reclaim_stale_after_s: float | None = None,
) -> int:
    """Write ``df`` as the table's next immutable snapshot and publish
    it: data lands in ``v=N`` FIRST, the pointer flips LAST (temp file +
    rename), so a crash mid-write leaves the previous version intact
    and referenced. Returns the committed version number (1-based),
    ``committed + 1``: an orphaned ``v=N`` dir above the pointer is
    overwritten, never published.

    ``reclaim_stale_after_s`` bounds the blast radius of a writer that
    crashed BETWEEN claiming ``_claim_vN`` and publishing the pointer:
    that claim is orphaned (the pointer never reached N) and, left
    alone, blocks every later write forever. When set, a claim whose
    file is older than the grace period — while the pointer still sits
    BELOW the claimed version, proving it never committed — is deleted
    and re-claimed. ``0.0`` means "any existing claim at my version is
    stale": correct ONLY for a single-writer caller, where the sole
    possible claimant is that writer's own crashed previous
    incarnation. Multi-writer callers should pass
    a period comfortably above their longest snapshot write, or leave
    the default ``None`` (never reclaim, fail loudly)."""
    spark = df.sparkSession
    current = _read_pointer(spark, table_dir)
    version = 1 if current is None else current + 1
    fs, jvm = _fs(spark, table_dir)
    # write-write conflict detection: atomically CLAIM the version with
    # an overwrite=False create before touching data — two writers that
    # both read pointer N race to claim N+1 and exactly one wins; the
    # loser fails HERE instead of both overwriting one snapshot dir and
    # committing a torn mix.
    claim = jvm.org.apache.hadoop.fs.Path(f"{table_dir}/_claim_v{version}")
    try:
        fs.create(claim, False).close()
    except Exception as exc:
        if not _reclaim_stale_claim(
            spark, fs, claim, table_dir, version, reclaim_stale_after_s
        ):
            raise IOError(
                f"versioned table: version {version} already claimed by "
                f"a concurrent writer at {table_dir}"
            ) from exc
    df.write.mode("overwrite").parquet(f"{table_dir}/v={version}")
    _publish_pointer(fs, jvm, table_dir, version)
    return version


def read_table(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """Read the committed snapshot (or pin ``version`` for time
    travel). The pointer resolves ONCE, here — the returned DataFrame
    keeps reading its snapshot even if writers publish newer versions
    meanwhile."""
    v = version if version is not None else _read_pointer(spark, table_dir)
    if v is None:
        raise FileNotFoundError(f"no committed version at {table_dir}")
    return spark.read.parquet(f"{table_dir}/v={v}")
