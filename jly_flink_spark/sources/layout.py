"""Data-layout maintenance: compaction and sorted layouts.

At 100 TB the dominant cost of a table is how it is laid out, not how
it is computed: a partition with 50k tiny files pays 50k open/seek
round-trips per scan, and an unsorted layout turns every selective
scan into a full read because min/max footer stats prune nothing.
These helpers are the standard maintenance passes:

- `compact_parquet`: rewrite a directory into ~target-row files
  (repartition to the computed file count; `maxRecordsPerFile` caps
  stragglers). The reference has no file sinks at all (SURVEY.md
  §2.2), so this is additive scale infrastructure.
- `write_sorted_layout`: hive-partition by low-cardinality keys and
  sort rows *within* each file (`sortWithinPartitions`) so parquet
  row-group min/max stats make selective scans skip — the poor
  man's Z-order for single-column locality.

Both are pure Spark writers — no custom file management; the
atomicity story is the standard write-to-new-dir-then-swap.

The module also owns the incremental-index lifecycle every persisted
probe index shares (MinHash-LSH, winnowing, the dHash/audio/video
band indexes, the IVF layouts): append, tombstoned delete
(`delete_ids`), tombstone-aware read (`read_index`) and compaction
that applies and drains the tombstones (`compact_index`), plus the
one per-key conflict guard and the one Hamming banding.
"""

from __future__ import annotations

import math
import os
import shutil
from dataclasses import dataclass
from typing import Callable, TypeVar

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def compact_parquet(
    df: DataFrame,
    out_path: str,
    target_rows_per_file: int = 1_000_000,
    precomputed_count: int | None = None,
) -> int:
    """Rewrite `df` as ~equal parquet files of at most
    `target_rows_per_file` rows. Returns the file count written.

    The count pass is one cheap aggregate (parquet row-group metadata
    makes count(*) a footer read); the rewrite is one round-robin
    repartition — the minimum possible data movement for an exact
    file-count target. `maxRecordsPerFile` is belt-and-braces against
    a skewed round-robin.
    """
    n = precomputed_count if precomputed_count is not None else df.count()
    n_files = max(1, math.ceil(n / target_rows_per_file))
    (
        df.repartition(n_files)
        .write.mode("overwrite")
        .option("maxRecordsPerFile", target_rows_per_file)
        .parquet(out_path)
    )
    return n_files


def compact_sorted(
    df: DataFrame,
    out_path: str,
    sort_cols: list[str],
    target_rows_per_file: int = 1_000_000,
    precomputed_count: int | None = None,
) -> int:
    """`compact_parquet` for layouts whose scans prune on footer
    stats: rewrite into ~equal files that are RANGE-SHARDED and
    within-file SORTED on `sort_cols`, so after compaction every file
    carries tight, disjoint min/max stats on the probe keys — the
    probe join skips whole files, not just row groups. Returns the
    file count written. (Round-robin compaction would scramble the
    keys and turn every probe back into a full scan.)"""
    n = precomputed_count if precomputed_count is not None else df.count()
    n_files = max(1, math.ceil(n / target_rows_per_file))
    cols = [F.col(c) for c in sort_cols]
    (
        df.repartitionByRange(n_files, *cols)
        .sortWithinPartitions(*cols)
        .write.mode("overwrite")
        .option("maxRecordsPerFile", target_rows_per_file)
        .parquet(out_path)
    )
    return n_files


def _local(path: str) -> str:
    """`path` for os/shutil calls (a `file://` URI names a local
    path that `os.path` does not resolve)."""
    return path[len("file://"):] if path.startswith("file://") else path


def swap_layout(path: str, new_path: str) -> None:
    """Promote a freshly rewritten layout: replace the live directory
    at `path` with `new_path` (two local-FS renames, then drop the
    old files). NOT atomic — the contract, stated plainly:

    - There is a microsecond-scale window between the two renames in
      which `path` does not exist; a reader resolving the path in
      that instant errors (a checkpointed stream re-runs the failed
      micro-batch on restart; running compaction inside the same
      serving loop, between epochs, avoids the window entirely). A
      crash inside the window strands the previous layout at
      `<path>.old` — recovery is renaming it back.
    - WRITERS MUST BE QUIESCED: a file appended into `path` after the
      compaction job's read snapshot is deleted by the swap with no
      error. Serialize appends and compaction on one maintenance
      timeline (e.g. both inside the same foreachBatch loop, between
      epochs — the pattern the compaction tests pin); never run them
      concurrently from separate jobs.

    On an object store this whole step is a table-format commit
    (Iceberg/Delta snapshot swap), which removes both caveats — the
    write-compacted-then-swap protocol is the same."""
    path, new_path = _local(path), _local(new_path)
    old = path.rstrip("/") + ".old"
    if os.path.exists(old):
        shutil.rmtree(old)
    os.rename(path, old)
    os.rename(new_path, path)
    shutil.rmtree(old)


# ---------------------------------------------------------------------------
# Incremental-index lifecycle: an LSM contract. Appends are per-batch
# parquet appends, deletes are tombstone files beside the index, every
# probe reads through `read_index` (tombstones anti-joined out), and
# compaction rewrites the live rows sorted on the probe key, swaps the
# layout in and drains the tombstones. Appends, deletes and
# compaction share one maintenance timeline (`swap_layout`).
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class IndexSpec:
    """How one doc-keyed index compacts: `sort_cols` is the probe key
    the rewrite range-shards and sorts on (tight per-file min/max
    stats); `value_col`, when set, must hold ONE value per `key` — a
    re-append of changed content without a prior tombstone leaves
    two, and compaction cannot tell which is current."""

    sort_cols: tuple[str, ...]
    value_col: str | None = None
    key: tuple[str, ...] = ("doc_id",)


def tombstone_dir(path: str) -> str:
    """`<path>.tombstones`: the index's pending deletes, a parquet
    directory of one id column. The presence check (`os.path.isdir`)
    and the compaction drain (`shutil.rmtree`) are driver-local
    filesystem operations; on a remote path (s3a://, hdfs://) the
    isdir probe would read False and pending deletes would keep
    serving SILENTLY, so refuse loudly. Remote support means
    resolving through the Hadoop FileSystem API instead."""
    scheme = path.split("://", 1)[0] if "://" in path else ""
    if scheme not in ("", "file"):
        raise ValueError(
            "index tombstones (sources.layout) require a driver-local "
            f"index path (got scheme {scheme!r} in {path!r}); remote "
            "filesystems would silently skip pending deletes"
        )
    return path.rstrip("/") + ".tombstones"


def delete_ids(spark, path: str, ids, id_col: str = "doc_id") -> None:
    """Logical deletion: append `ids` (a DataFrame with `id_col`, or
    an iterable of ints) as tombstones beside the index. O(deletes) —
    no rewrite on the delete path. A tombstone suppresses EVERY row
    of its id in `read_index` until the compaction that applies it,
    so re-appending a deleted id only takes effect after that
    compaction."""
    df = (
        ids
        if isinstance(ids, DataFrame)
        else spark.createDataFrame(
            [(int(v),) for v in ids], f"{id_col} long"
        )
    )
    df.select(id_col).write.mode("append").parquet(tombstone_dir(path))


def read_index(spark, path: str, id_col: str = "doc_id") -> DataFrame:
    """The compaction-safe, tombstone-aware index read: a fresh file
    listing of `path` with any pending tombstones anti-joined out on
    `id_col`. The tombstone set drains at every compaction, so the
    broadcast anti-join stays bounded by the compaction cadence.

    Resolve it per epoch: compaction's swap DELETES the old files,
    and a long-lived static DataFrame (the static side of a
    stream-static probe join resolved once at stream start) pins the
    old listing — its next micro-batch would read files that no
    longer exist."""
    rows = spark.read.parquet(path)
    tomb = tombstone_dir(path)
    if not os.path.isdir(_local(tomb)):
        return rows
    tombs = spark.read.parquet(tomb)
    # one id column; alias whatever the writer named it
    tombs = tombs.select(F.col(tombs.columns[0]).alias(id_col))
    return rows.join(F.broadcast(tombs), id_col, "left_anti")


def conflict_guard(
    key: tuple[str, ...], value_col: str, lo: Column, hi: Column
) -> Column:
    """`lo` where the key's smallest and largest `value_col` agree,
    else a named error: the key's content was re-appended CHANGED
    without a prior tombstone. `lo`/`hi` are the key's min and max —
    window functions in compaction, aggregates in the admission
    probes."""
    where = []
    for k in key:
        where += [F.lit(f" {'frame' if k == 'f' else k} "), F.col(k)]
    return F.when(lo == hi, lo).otherwise(
        F.raise_error(
            F.concat(
                F.lit("incremental index:"),
                *[c.cast("string") for c in where],
                F.lit(
                    f" has conflicting {value_col} values — it was "
                    "re-appended with changed content without a prior "
                    "tombstone; delete_ids it, compact_index, then "
                    "re-append"
                ),
            )
        )
    )


def one_value_per_key(
    rows: DataFrame, key: tuple[str, ...], value_col: str
) -> DataFrame:
    """(*key, value_col), one row per key: replayed rows (the same
    value) collapse, conflicting values raise `conflict_guard`."""
    return (
        rows.groupBy(*key)
        .agg(F.min(value_col).alias("_lo"), F.max(value_col).alias("_hi"))
        .select(
            *key,
            conflict_guard(key, value_col, F.col("_lo"), F.col("_hi"))
            .alias(value_col),
        )
    )


T = TypeVar("T")


def rewrite_index(path: str, write: Callable[[str], T]) -> T:
    """The compaction protocol's tail: `write` the live rows to a
    sibling directory, swap it in (`swap_layout`'s contract) and
    drain the now physically applied tombstones."""
    tmp = path.rstrip("/") + ".compacting"
    out = write(tmp)
    swap_layout(path, tmp)
    shutil.rmtree(_local(tombstone_dir(path)), ignore_errors=True)
    return out


def write_index(
    rows: DataFrame, path: str, spec: IndexSpec, mode: str = "append"
) -> None:
    """Persist (`mode="overwrite"`) or append index rows, sorted
    within each file on the probe key for footer-stat pruning."""
    rows.sortWithinPartitions(*spec.sort_cols).write.mode(mode).parquet(
        path
    )


def compact_index(
    spark, path: str, spec: IndexSpec, target_rows_per_file: int = 4_000_000
) -> int:
    """Maintenance pass for a doc-keyed index: every append adds one
    small file, so a long-running ingest degrades the probe into
    thousands of file opens. Reads the live rows (`read_index`),
    drops exact duplicate rows (an at-least-once replay re-appends
    bit-identical rows), raises `conflict_guard` where `spec.value_col`
    disagrees within a key, rewrites range-sharded and sorted on
    `spec.sort_cols` (`compact_sorted`), swaps the layout in and
    drains the tombstones. Returns the file count written. Probe
    results are layout-invariant (tests/test_layout_compaction.py)."""
    live = read_index(spark, path, spec.key[0]).dropDuplicates()
    v = spec.value_col
    if v is not None:
        w = Window.partitionBy(*spec.key)
        live = live.withColumn(
            v,
            conflict_guard(spec.key, v, F.min(v).over(w), F.max(v).over(w)),
        )
    return rewrite_index(
        path,
        lambda tmp: compact_sorted(
            live, tmp, list(spec.sort_cols), target_rows_per_file
        ),
    )


HAMMING_BAND_BITS = 14  # 4 x 14-bit bands over a 56-bit hash
HAMMING_N_BANDS = 4


def hamming_bands(hashes: DataFrame, hash_col: str, *keep: str) -> DataFrame:
    """(*keep, hash_col, b, bkey) band rows of a perceptual-hash
    frame (image dHash, audio energy fingerprint, per-frame video
    dHash): a pair collides iff SOME band matches, so two hashes
    within Hamming distance < HAMMING_N_BANDS always collide. One
    row-local explode; the hash rides along so probes verify the
    Hamming distance without a second index read."""
    mask = (1 << HAMMING_BAND_BITS) - 1
    return hashes.select(
        *keep,
        hash_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("b"),
                        F.shiftright(F.col(hash_col), HAMMING_BAND_BITS * b)
                        .bitwiseAND(F.lit(mask))
                        .alias("bkey"),
                    )
                    for b in range(HAMMING_N_BANDS)
                ]
            )
        ).alias("bb"),
    ).select(
        *keep,
        hash_col,
        F.col("bb.b").alias("b"),
        F.col("bb.bkey").alias("bkey"),
    )


def write_sorted_layout(
    df: DataFrame,
    out_path: str,
    partition_cols: list[str],
    sort_cols: list[str],
    files_per_partition: int = 1,
) -> None:
    """Hive-partitioned, within-file-sorted layout.

    repartition(partition_cols) routes each hive partition's rows to
    `files_per_partition` tasks (avoiding the one-file-per-input-task
    explosion `partitionBy` causes on a wide shuffle), then
    `sortWithinPartitions` orders rows inside each task so every
    written file has tight, non-overlapping-ish min/max footer stats
    on the sort keys. Readers filtering on sort_cols then skip whole
    row groups (predicate pushdown prunes on the stats).
    """
    keys = [F.col(c) for c in partition_cols]
    if files_per_partition > 1:
        # salt so one hive partition can fill several files in parallel
        # pmod, not %: F.hash is int32 and negative ~half the time;
        # % keeps the sign, which would double the salt domain
        salt = F.pmod(
            F.hash(*[F.col(c) for c in sort_cols]), files_per_partition
        )
        keys = keys + [salt]
    # The file writer requires rows ordered by the partition columns;
    # sorting (partition_cols, sort_cols) satisfies that requirement so
    # Spark skips its own (unstable) writer sort, which would otherwise
    # scramble the within-file order we just established.
    (
        df.repartition(*keys)
        .sortWithinPartitions(*partition_cols, *sort_cols)
        .write.mode("overwrite")
        .partitionBy(*partition_cols)
        .parquet(out_path)
    )


ZORDER_BITS = 22  # bits per dimension (covers ~48 days of seconds);
# 2 dims fit a 44-bit Morton code, positive int64 on both engines
# (DuckDB << overflows at 63)


def zorder_sql(x: str, y: str, bits: int = ZORDER_BITS) -> str:
    """Morton (Z-order) interleave of two NON-NEGATIVE bigint SQL
    expressions' low `bits` bits, as a dialect-shared fragment —
    `>> & <<` behave identically on Spark and DuckDB for in-range
    shifts, so the SAME generated text runs on both engines (the
    cross-engine trick the CDC whitespace class uses). Callers
    range-normalize the inputs first (offset timestamps, clamp
    negatives); interleaving low bits of un-normalized values
    destroys locality but never correctness."""
    terms = []
    for i in range(bits):
        terms.append(f"(((({x}) >> {i}) & 1) << {2 * i})")
        terms.append(f"(((({y}) >> {i}) & 1) << {2 * i + 1})")
    return "(" + "\n + ".join(terms) + ")"


def write_zorder_layout(
    df: DataFrame,
    zval_col: str,
    out_path: str,
    n_files: int,
    drop_cols: list[str] | None = None,
) -> None:
    """The multi-dimension OPTIMIZE pass: range-partition on the
    precomputed Morton code and sort within each file, so parquet
    min/max footer stats are tight in EVERY interleaved dimension at
    once — a selective scan on either column prunes files/row-groups,
    where a single-column sort (`write_sorted_layout`) prunes only
    its own. One range shuffle, standard writer, no custom file
    management."""
    routed = df.repartitionByRange(
        n_files, F.col(zval_col)
    ).sortWithinPartitions(zval_col)
    if drop_cols:
        routed = routed.drop(*drop_cols)
    routed.write.mode("overwrite").parquet(out_path)


def zorder_scaled_sql(
    x: str, xmax: str, y: str, ymax: str, bits: int = ZORDER_BITS
) -> str:
    """Morton code with per-dimension RANGE NORMALIZATION: each input
    is scaled onto the full 2^bits grid from its [0, max] range
    before interleaving. Without this a narrow dimension (say an
    11-bit user id) only populates low bit positions and the code
    degenerates to a sort on the wide dimension — the classic
    Z-order imbalance (caught by tests/test_zorder.py). The scale is
    floor(v/(max+1) · 2^bits) — the division runs FIRST in double so
    arbitrarily wide int64 ranges never overflow — rendered as one
    dialect-shared fragment
    like `zorder_sql`. `xmax`/`ymax` are SQL expressions — typically
    columns from a broadcast 1-row bounds aggregate."""
    # Divide FIRST, in double: (x * 2^bits) in int64 overflows for
    # ranges above 2^41 (epoch-microsecond or snowflake-id columns) —
    # x/(max+1) <= 1 in double then scaled up never can, and the
    # dialect-shared text keeps both engines bit-identical.
    # least(..., 2^bits - 1): for ranges >= ~2^54 the double division
    # rounds to exactly 1.0 on near-max values, which would scale to
    # 2^bits (all-zero low bits → the LARGEST values land in the
    # BOTTOM bucket); the clamp pins them to the top cell instead.
    top = (1 << bits) - 1
    xs = (
        f"least(CAST(floor((({x}) / (({xmax}) + 1.0)) * {1 << bits})"
        f" AS BIGINT), {top})"
    )
    ys = (
        f"least(CAST(floor((({y}) / (({ymax}) + 1.0)) * {1 << bits})"
        f" AS BIGINT), {top})"
    )
    return zorder_sql(xs, ys, bits)


def optimize_zorder(
    spark,
    path: str,
    x_col: str,
    y_col: str,
    n_files: int,
    bits: int = ZORDER_BITS,
) -> None:
    """The OPTIMIZE maintenance pass: rewrite the live parquet
    directory at `path` into the range-normalized Z-order layout and
    promote it with the standard write-then-swap (same quiesced-writer
    /serialized-timeline contract as `swap_layout`). Bounds come from
    one scalar aggregate over the existing data; negatives clamp to 0
    (the normalization domain is [0, max]). The Morton column is
    dropped after routing — the layout IS the index, readers prune on
    the plain columns' footer stats."""
    df = spark.read.parquet(path)
    bounds = df.agg(
        F.min(x_col).alias("mnx"),
        F.max(x_col).alias("mxx"),
        F.min(y_col).alias("mny"),
        F.max(y_col).alias("mxy"),
    )
    # MIN-max normalization: subtracting the floor matters — raw
    # epoch seconds carry a huge constant offset, and scaling by the
    # max alone collapses every value into the top sliver of the
    # grid (constant high bits → the interleave degenerates to a
    # sort on the other column; caught by the in-place test).
    zed = df.crossJoin(F.broadcast(bounds)).withColumn(
        "__zval",
        F.expr(
            zorder_scaled_sql(
                f"({x_col} - mnx)",
                "(mxx - mnx)",
                f"({y_col} - mny)",
                "(mxy - mny)",
                bits,
            )
        ),
    )
    tmp = path.rstrip("/") + ".zorder_new"
    write_zorder_layout(
        zed, "__zval", tmp, n_files,
        drop_cols=["__zval", "mnx", "mxx", "mny", "mxy"],
    )
    swap_layout(path, tmp)


HILBERT_BITS = 16  # bits per dimension: d < 2^32, 16 fold steps —
# the Hilbert curve's better locality (no Z-shape jumps) costs a
# stateful per-level rotation, so the code is a 16-step state machine
# rather than zorder_sql's stateless bit-interleave


def _hilbert_step_fields(n: int, s: str) -> dict[str, str]:
    """The xy2d level step (the classic quadrant-rotate recurrence):
    given state fields rendered by @X@/@Y@/@D@ and the level cell
    size expression `s`, produce the next {x, y, d} SQL snippets.
    rx/ry pick the quadrant, d accrues s²·quadrant-order, and for
    ry=0 the frame flips (rx=1) then transposes — the rotation that
    keeps adjacent d-values adjacent in the plane. s² multiplies as
    BIGINT explicitly (an int32 literal cell size would overflow
    Spark's ANSI multiply at s ≥ 2^16)."""
    rx = f"(CASE WHEN (@X@ & {s}) > 0 THEN 1 ELSE 0 END)"
    ry = f"(CASE WHEN (@Y@ & {s}) > 0 THEN 1 ELSE 0 END)"
    quad = (
        f"(CASE WHEN {rx} = 0 AND {ry} = 0 THEN 0"
        f" WHEN {rx} = 0 THEN 1 WHEN {ry} = 0 THEN 3 ELSE 2 END)"
    )
    return {
        "x": (
            f"CASE WHEN {ry} = 0 THEN (CASE WHEN {rx} = 1"
            f" THEN {n - 1} - @Y@ ELSE @Y@ END) ELSE @X@ END"
        ),
        "y": (
            f"CASE WHEN {ry} = 0 THEN (CASE WHEN {rx} = 1"
            f" THEN {n - 1} - @X@ ELSE @X@ END) ELSE @Y@ END"
        ),
        "d": f"@D@ + (CAST({s} AS BIGINT) * {s}) * {quad}",
    }


def hilbert_spark_sql(x: str, y: str, bits: int = HILBERT_BITS) -> str:
    """Hilbert index d of NON-NEGATIVE bigint point expressions
    (low `bits` bits) as ONE Spark SQL `aggregate` fold over the
    descending cell sizes — the whole 16-level state machine is a
    single per-row expression (no join, no shuffle, no UDF).

    NOT dialect-shared (unlike zorder_sql): DuckDB 1.0's vectorized
    lambda evaluation miscomputes this very fold when the lambda body
    repeats the rx/ry subexpressions across struct fields (verified:
    correct under constant inputs and when a string side-channel
    field forces row-wise evaluation, wrong on table columns) — the
    oracle therefore unrolls the SAME step recurrence as a CTE chain
    (`hilbert_duckdb_ctes`), where plain projections evaluate
    correctly."""
    f = _hilbert_step_fields(1 << bits, "s")
    step = {
        k: v.replace("@X@", "acc.x").replace("@Y@", "acc.y")
        .replace("@D@", "acc.d")
        for k, v in f.items()
    }
    svals = ", ".join(str(1 << k) for k in range(bits - 1, -1, -1))
    return (
        f"aggregate(array({svals}),"
        f" named_struct('x', CAST({x} AS BIGINT),"
        f" 'y', CAST({y} AS BIGINT), 'd', CAST(0 AS BIGINT)),"
        " (acc, s) -> named_struct("
        f"'x', CAST({step['x']} AS BIGINT),"
        f" 'y', CAST({step['y']} AS BIGINT),"
        f" 'd', CAST({step['d']} AS BIGINT))"
        ").d"
    )


def hilbert_duckdb_ctes(
    src: str,
    x: str,
    y: str,
    keys: str,
    bits: int = HILBERT_BITS,
    prefix: str = "hil",
) -> tuple[str, str]:
    """The DuckDB mirror of `hilbert_spark_sql` as an unrolled CTE
    chain (one projection per level, generated from the SAME step
    fields — see that function's docstring for why not list_reduce):
    returns (cte_sql_fragment, final_relation_name); the final
    relation has columns `keys` + hd (the Hilbert index). `keys` is a
    comma-joined passthrough column list from `src`."""
    blocks = [
        f"{prefix}0 AS (\n"
        f"  SELECT {keys}, CAST({x} AS BIGINT) AS hx,"
        f" CAST({y} AS BIGINT) AS hy, CAST(0 AS BIGINT) AS hd"
        f"\n  FROM {src}\n)"
    ]
    n = 1 << bits
    for i, k in enumerate(range(bits - 1, -1, -1)):
        f = _hilbert_step_fields(n, str(1 << k))
        step = {
            kk: v.replace("@X@", "hx").replace("@Y@", "hy")
            .replace("@D@", "hd")
            for kk, v in f.items()
        }
        blocks.append(
            f"{prefix}{i + 1} AS (\n"
            f"  SELECT {keys}, CAST({step['x']} AS BIGINT) AS hx,"
            f" CAST({step['y']} AS BIGINT) AS hy,"
            f" CAST({step['d']} AS BIGINT) AS hd"
            f"\n  FROM {prefix}{i}\n)"
        )
    return ",\n".join(blocks), f"{prefix}{bits}"


def hilbert_xy2d_py(x: int, y: int, bits: int = HILBERT_BITS) -> int:
    """Pure-Python reference (tests): the classic xy2d loop."""
    n = 1 << bits
    d = 0
    s = n // 2
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x = n - 1 - x
                y = n - 1 - y
            x, y = y, x
        s //= 2
    return d
