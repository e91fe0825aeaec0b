"""Table maintenance: small-file compaction and layout rewrites
(SURVEY §4).

The reference targets 128 MB data files with auto-compaction via
Iceberg table properties (``task6-ecommerce-tables-config.yaml:51-61``,
batch design.md:193; requirements.md:41). Plain-parquet tables don't
get that for free — these are the stand-ins for Iceberg's
``rewrite_data_files``: rewrite a table into ⌈bytes/target⌉ files
(``compact_parquet_into``), range-clustered on one key
(``cluster_parquet_into``) or z-ordered on several
(``zorder_parquet_into``).

Each function only WRITES the rewrite into ``out``; none of them
replaces a live directory. A store that owns a commit journal (the
SCD2 store, the band index, the IVF index) stages the rewrite under
``journal.new_stage`` and commits it as a journaled swap, so a crash
can never leave the live dir missing; the snapshot store's
``rewrite_data_files`` is the in-place rewrite for tables with
readers.

Why it matters at 100 TB: streaming sinks and per-batch appends
produce files sized by *trigger cadence*, not by optimal scan width;
a 128 MB target keeps scan task counts ≈ data size / target and
avoids driver-side file-listing blowup (millions of tiny files is the
classic lakehouse failure mode).
"""

from __future__ import annotations

import math
import os
import shutil

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

TARGET_FILE_BYTES = 128 * 1024 * 1024


def table_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files if f.endswith(".parquet"))
    return total


def parquet_file_count(path: str) -> int:
    return sum(
        1 for root, _d, files in os.walk(path) for f in files if f.endswith(".parquet")
    )


def compact_parquet_into(
    spark: SparkSession,
    path: str,
    out: str,
    target_bytes: int = TARGET_FILE_BYTES,
    partition_cols: list[str] | None = None,
) -> None:
    """Write the ⌈size/target⌉-file rewrite of ``path`` into ``out``.

    Partitioned tables keep their layout (each partition is rewritten
    through a repartition on the partition key so one task owns one
    partition's output)."""
    df = spark.read.parquet(path)
    n_files = max(1, math.ceil(table_bytes(path) / target_bytes))
    shutil.rmtree(out, ignore_errors=True)
    writer = df.repartition(n_files, *partition_cols) if partition_cols else df.coalesce(n_files)
    if partition_cols:
        writer.write.mode("overwrite").partitionBy(*partition_cols).parquet(out)
    else:
        writer.write.mode("overwrite").parquet(out)


def cluster_parquet_into(
    spark: SparkSession,
    path: str,
    out: str,
    cluster_cols: list[str],
    target_bytes: int = TARGET_FILE_BYTES,
    schema: str | None = None,
    transform=None,
) -> None:
    """Range-cluster rewrite of ``path`` into ``out`` — the sort-order
    half of Iceberg's ``rewrite_data_files`` (reference table config's
    sorted write expectation; batch design.md:193): rows are
    range-partitioned on ``cluster_cols`` (one contiguous key slice
    per output file) and sorted within each file, so every file's
    footer min/max covers a narrow slice of the key space.

    Why it matters at 100 TB: parquet scans prune at two levels —
    Spark skips whole FILES whose footer stats miss the predicate, and
    row groups within a file the same way. On an unclustered table
    every file spans the full key range (min/max ≈ global min/max) and
    a selective predicate still reads every footer's data; after
    clustering, a 1 %-selectivity range predicate touches ~1 % of
    files. The rewrite itself is one range shuffle (sampled range
    boundaries keep output files near-equal-sized even under key skew)
    plus a per-partition sort that spills — no single-task sort
    anywhere.

    ``schema``: optional explicit DDL — a schema-evolved table must be
    read under its full schema (a footer-sampled read silently drops
    columns the sampled file predates). ``transform``: optional
    DataFrame→DataFrame hook applied before the cluster shuffle (e.g.
    SCD2's cbucket back-fill healing for rows the schema null-filled)."""
    df = (
        spark.read.schema(schema).parquet(path)
        if schema
        else spark.read.parquet(path)
    )
    if transform is not None:
        df = transform(df)
    n_files = max(1, math.ceil(table_bytes(path) / target_bytes))
    shutil.rmtree(out, ignore_errors=True)
    (
        df.repartitionByRange(n_files, *cluster_cols)
        .sortWithinPartitions(*cluster_cols)
        .write.mode("overwrite")
        .parquet(out)
    )


def zorder_parquet_into(
    spark: SparkSession,
    path: str,
    out: str,
    cluster_cols: list[str],
    target_bytes: int = TARGET_FILE_BYTES,
    bits_per_dim: int = 8,
) -> None:
    """Multi-dimensional cluster rewrite (z-order / Morton layout) —
    what ``cluster_parquet_into`` cannot give: after a single-column range
    cluster, predicates on any OTHER column still touch every file.
    Z-order interleaves the bits of per-column quantile ranks so file
    footers stay selective for range predicates on EACH clustered
    column (and compound box predicates prune multiplicatively).

    Scale shape: per-column bucket boundaries come from ONE
    ``approxQuantile`` sketch pass over every clustered column together
    (O(2^bits) driver state per column); bucketing + bit interleaving
    run in one Arrow-batched ``mapInPandas`` pass — a vectorized
    ``np.searchsorted`` binary search per dimension plus integer bit
    math, guide §4.2's batch-native sweet spot. The layout write is
    the same sampled range shuffle + per-file sort as
    ``cluster_parquet_into``. No window over the whole table, no
    single-task sort. Writes the rewrite of ``path`` into ``out``.

    Implementation history (r13 measurement, 600k rows / 2 dims):
    the original ``F.aggregate`` higher-order lambda cost 44 s/pass
    (interpreted, boxed, 2^bits−1 evals per row); a static balanced
    ``F.when`` decision tree cut that to ~6 s, but its cost blows up
    superlinearly in cut count (0.5 s at 3 cuts, 0.7 s at 15, 3.4 s at
    63 per noop pass — the 126-branch two-column projection falls out
    of efficient codegen); the Arrow ``searchsorted`` pass runs the
    same data in 0.86 s and produces BIT-IDENTICAL z values (the
    bucket math reproduces the JVM double rounding + int truncation
    exactly; equality checked over the full table when the swap
    landed).
    """
    df = spark.read.parquet(path)
    nq = (1 << bits_per_dim) - 1
    probs = [j / (nq + 1) for j in range(1, nq + 1)]
    ndim = len(cluster_cols)
    # cast through double for approxQuantile (dates/ints alike); ONE
    # sketch job covers every dimension (was one full pass per column)
    qnames = [f"_zq{i}" for i in range(ndim)]
    qcols = [F.col(c).cast("double").alias(q) for c, q in zip(cluster_cols, qnames)]
    cuts = [
        sorted(set(qs))
        for qs in df.select(*qcols).approxQuantile(qnames, probs, 0.001)
    ]
    from pyspark.sql import types as T

    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField("_z", T.LongType())]
    )
    bits = bits_per_dim

    def _z_batches(batches):
        import numpy as np

        cut_arrays = [np.asarray(c, dtype="float64") for c in cuts]
        for pdf in batches:
            z = np.zeros(len(pdf), dtype="int64")
            for d, ca in enumerate(cut_arrays):
                if len(ca) == 0:
                    continue  # constant column: bucket 0 everywhere
                v = pdf[qnames[d]].to_numpy(dtype="float64", na_value=np.nan)
                # rank = |{cut ≤ value}|, rescaled to the full 0..nq
                # range so a low-cardinality column (|distinct| <
                # 2^bits) still occupies significant z bits. The
                # float64 multiply/divide + int truncation reproduces
                # the JVM double math of the previous expression
                # implementation bit-for-bit; NULLs land in bucket 0
                # (the old tree's null-comparison walk-left).
                rank = np.searchsorted(ca, v, side="right")
                b = (rank * float(nq) / len(ca)).astype("int64")
                b[np.isnan(v)] = 0
                for bit in range(bits):
                    z |= ((b >> bit) & 1) << (bit * ndim + d)
            out = pdf.drop(columns=qnames)
            out["_z"] = z
            yield out

    # persisted across the two actions repartitionByRange hides inside
    # one call (r13, guide §5.4 cache-what-two-actions-share): the
    # range partitioner first SAMPLES its input to pick boundaries,
    # then the write computes it again — without the persist each pass
    # re-reads the parquet AND re-runs the Arrow z-value projection
    # over the full table (measured: the projection alone is ~0.9 s
    # per pass at sf0.1's 600k rows, and O(table) at scale)
    withz = df.select("*", *qcols).mapInPandas(_z_batches, out_schema).persist()
    n_files = max(1, math.ceil(table_bytes(path) / target_bytes))
    shutil.rmtree(out, ignore_errors=True)
    try:
        (
            withz.repartitionByRange(n_files, "_z")
            .sortWithinPartitions("_z")
            .drop("_z")
            .write.mode("overwrite")
            .parquet(out)
        )
    finally:
        withz.unpersist()


def file_column_ranges(path: str, column: str) -> list[tuple[str, object, object]]:
    """Per-file (file, min, max) for ``column`` from parquet footer
    statistics — the same metadata scan planners prune with. Driver
    cost is one footer read per file (O(files), no data read)."""
    import pyarrow.parquet as pq

    out = []
    for root, _dirs, files in os.walk(path):
        for f in sorted(files):
            if not f.endswith(".parquet"):
                continue
            fp = os.path.join(root, f)
            md = pq.ParquetFile(fp).metadata
            idx = md.schema.names.index(column)
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                if st is not None and st.has_min_max:
                    mins.append(st.min)
                    maxs.append(st.max)
            if mins:
                out.append((fp, min(mins), max(maxs)))
    return out

