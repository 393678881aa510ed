"""Materialized-index cache discipline shared by the ingest-time index
builders (MinHash signatures, LSH buckets, IVF inverted lists).

Layout: ``<tmp>/denali-<kind>-index-<uid>/<name>-<fingerprint>`` — the uid
suffix keeps the world-writable temp root from colliding across users (or
being pre-created by one), and the fingerprint (corpus file identity +
index geometry) invalidates the cache when either changes.

Build protocol: write to a process-private temp dir, atomic-rename into
place, first writer wins. The read side gates HARD on the _SUCCESS marker:
a partial directory left by a crashed build — or any foreign directory at
the cache path — raises instead of being silently consumed as the index.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession


def cache_root(kind: str) -> str:
    uid = os.getuid() if hasattr(os, "getuid") else 0
    return os.path.join(tempfile.gettempdir(), f"denali-{kind}-index-{uid}")


def _corpus_stat_key(src: str) -> tuple:
    """File-identity key for a corpus path. For a directory corpus this is
    the sorted (name, size, mtime_ns) of the parquet part files — NOT the
    directory's own stat: rewriting a part file in place (same file set)
    need not bump the directory mtime, which would leave memoized row
    counts — and hence adaptive index geometry — stale for the process
    lifetime."""
    if os.path.isdir(src):
        parts = sorted(
            f for f in os.listdir(src)
            if f.endswith(".parquet") and not f.startswith(".")
        )
        if not parts:
            # Nested/partitioned layout (no top-level part files): walk
            # recursively so regeneration still changes the key — an
            # empty tuple would make every rewrite invisible forever.
            nested = sorted(
                os.path.join(rel, f)
                for root, _dirs, files in os.walk(src)
                for rel in (os.path.relpath(root, src),)
                for f in files
                if f.endswith(".parquet") and not f.startswith(".")
            )
            if nested:
                return tuple(
                    (f, st.st_size, st.st_mtime_ns)
                    for f in nested
                    for st in (os.stat(os.path.join(src, f)),)
                )
            # No parquet anywhere: fall back to the directory's own stat
            # so direct-entry add/remove at least perturbs the key.
            st = os.stat(src)
            return (st.st_size, st.st_mtime_ns)
        return tuple(
            (f, st.st_size, st.st_mtime_ns)
            for f in parts
            for st in (os.stat(os.path.join(src, f)),)
        )
    st = os.stat(src)
    return (st.st_size, st.st_mtime_ns)


def corpus_fingerprint(sf_dir: str, table: str, geometry: str) -> str:
    """Identity of (corpus file set, index geometry): per-part-file
    name + size + mtime_ns plus the geometry string. Any regeneration,
    in-place part rewrite, or retune produces a new key."""
    src = os.path.join(os.path.abspath(sf_dir), f"{table}.parquet")
    return hashlib.sha256(
        f"{src}|{_corpus_stat_key(src)}|{geometry}".encode()
    ).hexdigest()[:16]


_CORPUS_ROWS: dict[tuple, int] = {}


def corpus_rows(sf_dir: str, table: str) -> int:
    """Row count of a corpus parquet (single file or a directory of part
    files), from footer METADATA only and memoized per file-set identity
    (_corpus_stat_key) — geometry decisions (e.g. the corpus-adaptive LSH
    plane count) cost a few stats, never a scan."""
    import pyarrow.parquet as pq

    src = os.path.join(os.path.abspath(sf_dir), f"{table}.parquet")
    key = (src, _corpus_stat_key(src))
    if key not in _CORPUS_ROWS:
        if os.path.isdir(src):
            n = sum(
                pq.read_metadata(os.path.join(src, f)).num_rows
                for f in os.listdir(src)
                if f.endswith(".parquet") and not f.startswith(".")
            )
        else:
            n = pq.read_metadata(src).num_rows
        _CORPUS_ROWS[key] = n
    return _CORPUS_ROWS[key]


def index_file_count(
    sf_dir: str,
    table: str,
    floor: int = 8,
    cap: int = 512,
    per_file: int = 32 * 1024 * 1024,
) -> int:
    """File count for a materialized index, scaled to its CORPUS size.

    Too few files serializes consumers' map-side work (a 1-file index
    reads back as one scan partition); too many drowns a small corpus in
    task overhead — measured at sf0.1 a 16-file bucket index costs ~25%
    steady-state on broadcast-probe queries vs 8 files, while 8 keeps the
    index self-join fully parallel. The floor of 8 covers every local
    scale; the count then grows one file per `per_file` corpus bytes so a
    1000-executor ingest still writes wide. Callers must fold the result
    into their geometry fingerprint so a layout change rebuilds the cache."""
    src = os.path.join(os.path.abspath(sf_dir), f"{table}.parquet")
    return max(floor, min(cap, os.stat(src).st_size // per_file + 1))


def widen_build_input(df: DataFrame, rows: int, rows_per_task: int = 256) -> DataFrame:
    """Round-robin-widen a compute-heavy index build's INPUT scan (r16).

    Corpus parquet is tiny in BYTES but each row carries real hash work
    (tokenize -> shingle -> md5 -> permutations), so byte-based split sizing
    (maxPartitionBytes) leaves a single-file corpus on ONE core for the
    whole ingest pass — measured at sf0.1: the minhash signature projection
    ran 21 s single-task on a 32-core box while the scan read 580 KB. The
    write-side repartition(num_files) in materialize_parquet sits ABOVE the
    build projection, so it parallelizes only the write, not the compute.

    Width follows ROWS (ceil(rows / rows_per_task), capped at
    defaultParallelism), not bytes, because the cost driver is per-row
    compute; no-op when the scan already has that much natural parallelism,
    so a production-scale corpus (thousands of input files >> cores) never
    pays a raw-payload shuffle it does not need. Round-robin repartition is
    deterministic under Spark's sort-before-repartition default, and the
    builders this feeds are pure per-row maps — index CONTENT is identical,
    only its row-to-file placement moves.

    The no-op check reads the SCAN's split count from the live physical
    plan (`inputFiles`, sized through each path's Hadoop FileSystem, + the
    session's split-sizing confs), never from
    ``df.rdd`` — converting to an RDD forces full physical planning per
    build and, under AQE, would eagerly materialize shuffle stages if a
    caller ever passed a plan containing an exchange (r16 ADVICE). The
    estimate replicates FilePartition packing exactly for the scan+project
    plans the builders pass: each file is charged openCostInBytes and
    greedily packed into maxPartitionBytes bins after sorting by size
    descending; a conservative shortfall only costs one benign extra
    repartition of a tiny corpus."""
    spark = df.sparkSession
    sc = spark.sparkContext
    target = min(sc.defaultParallelism, max(1, -(-rows // rows_per_task)))
    try:
        files = df.inputFiles()
        max_split = int(spark.conf.get("spark.sql.files.maxPartitionBytes"))
        open_cost = int(spark.conf.get("spark.sql.files.openCostInBytes"))
        # each path's own Hadoop FileSystem, so s3a:// and hdfs:// inputs
        # are sized too, not only local files
        hadoop_path = spark._jvm.org.apache.hadoop.fs.Path
        hconf = spark._jsc.hadoopConfiguration()

        def size(f: str) -> int:
            path = hadoop_path(f)
            return path.getFileSystem(hconf).getFileStatus(path).getLen()

        sizes = sorted((size(f) + open_cost for f in files), reverse=True)
        # FilePartition.getFilePartitions: greedy first-fit in size order.
        bins = 0
        cur = 0
        for s in sizes:
            if bins and cur + s <= max_split:
                cur += s
            else:
                bins += 1
                cur = s
        natural = bins
    except Exception:  # noqa: BLE001 — estimation is best-effort; widen instead
        natural = 0
    if natural >= target:
        return df
    return df.repartition(target)


def materialize_parquet(
    spark: SparkSession,
    path: str,
    build,
    partition_by: str | None = None,
    num_files: int | None = None,
    distribute_by: tuple[str, ...] = (),
) -> DataFrame:
    """Build-once/read-many parquet materialization at `path`; `build` is a
    thunk returning the DataFrame to persist (only invoked on cache miss).

    `num_files` spreads the index over that many files (optionally hashed
    on `distribute_by`): a single-file index reads back as ONE partition,
    which serializes every downstream probe join onto one core — the
    difference between 1 and 32 busy cores on candidate generation. Index
    builders that change layout must bump their geometry fingerprint so
    stale single-file caches rebuild."""
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        df = build()
        if num_files:
            df = (
                df.repartition(num_files, *distribute_by)
                if distribute_by else df.repartition(num_files)
            )
        tmp = f"{path}.tmp-{os.getpid()}"
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(partition_by)
        writer.parquet(tmp)
        try:
            os.rename(tmp, path)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)  # lost the race: theirs is equivalent
        if not os.path.exists(marker):
            raise RuntimeError(
                f"materialized index at {path} is unusable: no _SUCCESS "
                "marker after the build/rename attempt (stale partial from "
                "a crashed build, or a foreign directory at the cache "
                "path). Remove the directory and retry."
            )
    # Schema-memoized read (engine.tables.read_parquet): the index directory
    # is immutable once _SUCCESS lands (fingerprint-named path, atomic
    # rename), so re-inferring its schema per query call is pure driver tax.
    from denali_spark.engine.tables import read_parquet

    return read_parquet(spark, path)
