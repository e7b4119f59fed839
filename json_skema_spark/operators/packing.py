"""Sequence packing: group documents into <= max_tokens training sequences.

Training-data-pipeline op (no reference analogue): LLM pretraining wants
fixed-budget sequences assembled from variable-length documents. Two
strategies with different determinism/efficiency trade-offs:

- ``chunk_assignments``: the standard pretraining concat-and-chunk recipe —
  documents are concatenated in a stable order and the token stream is cut
  every ``max_tokens`` regardless of boundaries (documents may span chunks);
  each document is labeled with the chunk its first token lands in and its
  offset there. Fully relational (one windowed running sum), deterministic,
  exactly reproducible in SQL (DuckDB oracle).
- ``pack_greedy``: first-fit-decreasing bin packing within hash buckets via
  ``applyInPandas`` — tighter packing (fewer, fuller bins), still
  deterministic (buckets + FFD order are functions of the data), but
  sequential per bucket, so it runs bucket-parallel.

Scale notes: both shuffle only ``(id, n_tokens)`` pairs — never text.
``chunk_assignments``'s global order per group is a sort of 12-byte rows;
at 100 TB prefer packing within natural input partitions (drop the window's
global order for a per-split ``mapInPandas``) — the bucket parameter of
``pack_greedy`` is exactly that knob.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

PACKED_SCHEMA = ("bucket int, pack_id long, doc_id string, n_tokens long")


def chunk_assignments(df: DataFrame, id_col: str, tokens_col: str, *,
                      max_tokens: int = 2048,
                      group_col: str | None = None) -> DataFrame:
    """Concat-and-chunk labeling: with documents concatenated in ``id_col``
    order (per ``group_col``), the token stream is cut every ``max_tokens``;
    each document gets the chunk id containing its first token and its
    token offset inside that chunk. Output:
    ``(id, [group], n_tokens, chunk_id, chunk_offset)``.

    Scale (VERDICT r02 #2): the naive single window
    ``Window.partitionBy(group).orderBy(id)`` serializes each group's
    running sum onto one task (and with no group, a single global sort).
    This is instead a TWO-LEVEL prefix sum, fully parallel:

    1. range-partition rows by ``(group, id)`` — contiguous id ranges per
       partition, partitions ordered;
    2. level-1: per-(partition, group) local running sums — one bounded
       task per range slice, any number of slices per group;
    3. level-2: per-(partition, group) token subtotals (tiny: one row per
       slice) get cumulative offsets via a window over the SUBTOTAL table
       (num_partitions rows per group, not documents);
    4. offsets join back on ``(_pid, group)`` — the subtotal side is tiny,
       AQE broadcasts it.

    The result is identical to the single-window formulation (prefix sums
    are associative; offsets correct the local sums regardless of where
    range boundaries land), so the DuckDB window oracle still matches.

    NULL ``group_col`` values form their own group (SQL window
    ``PARTITION BY`` semantics — the offsets join is null-safe, review
    r05c). Duplicate ``id_col`` values get non-overlapping token ranges in
    an unspecified tie order (ROWS frame; a RANGE frame would hand every
    tied row the full peer-group sum — overlapping ranges, review r05c).
    """
    part = [group_col] if group_col else []
    # NULL token counts count as 0 (documented semantics, like the null
    # handling in dedup/contamination): F.sum skips nulls but the per-row
    # `sum - n` would go NULL, emitting NULL chunk ids for those rows
    df = df.withColumn(tokens_col,
                       F.coalesce(F.col(tokens_col).cast("long"), F.lit(0)))
    range_cols = [*(F.col(c) for c in part), F.col(id_col)]
    ranged = df.repartitionByRange(*range_cols).withColumn(
        "_pid", F.spark_partition_id())

    # level-2: cumulative offsets over per-slice subtotals (subtotal table
    # has one row per (slice, group) — window tasks see ~num_partitions rows)
    subtot = ranged.groupBy("_pid", *part).agg(
        F.sum(tokens_col).cast("long").alias("_sub"))
    w_off = Window.partitionBy(*part).orderBy("_pid") if part \
        else Window.orderBy("_pid")
    offsets = subtot.withColumn(
        "_off", (F.sum("_sub").over(w_off) - F.col("_sub")).cast("long")) \
        .drop("_sub")

    # level-1: local running sums within each (slice, group); ROWS frame —
    # the default RANGE frame treats duplicate ids as peers and gives each
    # tied row the whole peer-group sum (overlapping ranges, review r05c)
    w_loc = Window.partitionBy("_pid", *part).orderBy(F.col(id_col)) \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    local_start = (F.sum(tokens_col).over(w_loc) - F.col(tokens_col)).cast("long")
    local = ranged.withColumn("_local_start", local_start)
    # null-safe join on the group key: a plain equi-join never matches
    # NULL = NULL, silently DROPPING every null-group document — the
    # single-window formulation this decomposition must equal treats NULL
    # as an ordinary partition (review r05c)
    off = offsets.withColumnRenamed("_pid", "_opid")
    cond = F.col("_pid") == F.col("_opid")
    drop_cols = ["_opid"]
    for g in part:
        off = off.withColumnRenamed(g, f"_og_{g}")
        cond = cond & F.col(g).eqNullSafe(F.col(f"_og_{g}"))
        drop_cols.append(f"_og_{g}")
    joined = local.join(off, cond).drop(*drop_cols) \
        .withColumn("_start", (F.col("_local_start") + F.col("_off"))
                    .cast("long"))
    # chunk_id via `div` — EXACT integral division on longs. `/` on longs
    # is a double division (loses integer precision past 2^53); the
    # previous decimal(38,0)/int route yielded decimal(38,6), whose HALF_UP
    # rounding at 6 decimals flips floor() near chunk boundaries once
    # max_tokens >= ~2e6 (ADVICE r04). `div` has neither failure mode.
    cols = [F.col(id_col), *(F.col(c) for c in part), F.col(tokens_col),
            F.expr(f"_start div {int(max_tokens)}")
            .cast("long").alias("chunk_id"),
            F.pmod(F.col("_start"), F.lit(max_tokens)).cast("long")
            .alias("chunk_offset")]
    return joined.select(*cols)


def pack_greedy(df: DataFrame, id_col: str, tokens_col: str, *,
                max_tokens: int = 2048, buckets: int = 64) -> DataFrame:
    """First-fit-decreasing packing within hash buckets. Output one row per
    document: ``(bucket, pack_id, doc_id, n_tokens)`` where ``pack_id`` is
    unique within the bucket. Oversized documents get their own pack."""
    base = df.select(
        F.col(id_col).cast("string").alias("doc_id"),
        # NULL -> 0 tokens: Arrow hands the pandas UDF a float64 NaN for a
        # nullable long, and int(NaN) would kill the task (review r04)
        F.coalesce(F.col(tokens_col).cast("long"), F.lit(0))
        .alias("n_tokens"),
        F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(buckets))
        .cast("int").alias("bucket"),
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["n_tokens", "doc_id"],
                              ascending=[False, True], kind="mergesort")
        bins: list[int] = []          # remaining capacity per pack
        assign: list[int] = []
        for n in pdf["n_tokens"]:
            n = int(n)
            placed = False
            for i, cap in enumerate(bins):
                if n <= cap:
                    bins[i] = cap - n
                    assign.append(i)
                    placed = True
                    break
            if not placed:
                bins.append(max(max_tokens - n, 0))
                assign.append(len(bins) - 1)
        out = pdf.copy()
        out["pack_id"] = assign
        return out[["bucket", "pack_id", "doc_id", "n_tokens"]]

    return base.groupBy("bucket").applyInPandas(pack, PACKED_SCHEMA)

