"""Incremental corpus deduplication against a PERSISTED fingerprint
index — the production loop batch dedup cannot serve at 100 TB.

The batch operators (dedup.winnow_pairs, dedup.decontaminate)
recompute every document's fingerprints on each run. A
training-data pipeline ingesting a new crawl slice daily cannot
re-fingerprint the full 100 TB corpus per slice; it needs:

    build_fp_index   corpus text  → bucketed (fp, doc_id) store, once
    probe_fp_index   new docs     → per-doc shared-fingerprint counts
                                    against the index, corpus untouched
    extend_fp_index  accepted docs' fingerprints merged in, ONLY the
                     touched fp-hash buckets rewritten

The index is the engine's own bucketed CDC store keyed on fp
(sources/bucketed.py): hash-bucket dirs, key-sorted files, stage-then-
swap crash discipline, persisted layout metadata — extending it is the
same touched-bucket rewrite the MERGE path uses, so index maintenance
cost scales with the DAY'S fingerprints, not the corpus. Fingerprints
are winnowing (MOSS) hashes — reference parity per
dedup.winnow_fingerprint_rows; any shared token run of length
>= k + window - 1 with an indexed document produces a hit.

Semantics contract (pytest-pinned, test_incremental_index.py):
probe_fp_index against an index built from corpus C equals the direct
two-frame computation over (new, C) — the persisted path is an
optimization, never a semantics change.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sync_spark.operators.dedup import winnow_fingerprint_rows
from sync_spark.sources.bucketed import (
    bucket_expr,
    overwrite_buckets,
    read_buckets,
    read_meta,
    read_target,
    update_touched_buckets,
    write_bucketed,
)

_DEFAULT_BUCKETS = 32

# winnowing geometry sidecar: (k, window) persisted with the layout so
# probe/extend/remove re-derive the IDENTICAL fingerprints regardless
# of what the caller passes (r8 review: a k mismatch between build and
# remove silently leaves stale fp rows behind — the same failure class
# the ANN index's params sidecar kills)
_FP_PARAMS_FILE = ".fp_params.json"


def _fp_params(path: str, k: int, window: int) -> tuple[int, int]:
    """The index's persisted winnowing geometry, falling back to the
    caller's (k, window) for pre-sidecar layouts."""
    import json
    import os

    p = os.path.join(path, _FP_PARAMS_FILE)
    if os.path.exists(p):
        with open(p) as fh:
            d = json.load(fh)
        return int(d["k"]), int(d["window"])
    return k, window


def build_fp_index(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    window: int = 4,
    n_buckets: int = _DEFAULT_BUCKETS,
) -> int:
    """Fingerprint the corpus once and persist (fp, doc_id) bucketed
    by fp-hash. One shuffle (the bucketed write's partitionBy); the
    per-row winnowing kernel is the shuffle-free staged form. Returns
    the number of distinct fingerprints indexed."""
    import json

    fps = winnow_fingerprint_rows(df, text_col, id_col, k=k, window=window).select(
        "fp", "doc_id"
    )
    write_bucketed(
        fps, path, ["fp"], n_buckets,
        extra_files={_FP_PARAMS_FILE: json.dumps({"k": k, "window": window})},
    )
    spark = df.sparkSession
    return read_target(spark, path).select("fp").distinct().count()


def shared_fp_counts(
    df: DataFrame,
    corpus_fps: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    window: int = 4,
    min_shared: int = 1,
    probe_fps: DataFrame | None = None,
) -> DataFrame:
    """THE probe kernel, independent of where the corpus fingerprints
    come from: flag documents sharing >= ``min_shared`` DISTINCT
    winnowing fingerprints with ``corpus_fps`` (a 1-column ``fp``
    frame). Returns the input rows + (n_shared_fps, is_dup). The
    registry query ``d_incremental_probe`` runs this same kernel with
    inline-computed corpus fps under a DuckDB oracle; probe_fp_index
    feeds it the persisted store. NO min_shared filter on the counts:
    the threshold gates is_dup only — the true shared count is part
    of the contract (a curator tuning the threshold reads the
    distribution, not a zeroed column).

    Shape: per-row kernel on the incoming slice (no shuffle), one
    fp-keyed semi-join, one doc-grain aggregate, one join back. The
    corpus side is data-grain but the join key (56-bit content hash)
    is uniform; the incoming side is slice-grain."""
    # probe_fps lets callers that already materialized the slice's
    # fingerprints (probe_fp_index caches them for bucket pruning)
    # avoid a second run of the CPU-bound winnowing kernel
    probe = (
        probe_fps
        if probe_fps is not None
        else winnow_fingerprint_rows(df, text_col, id_col, k=k, window=window)
    )
    hits = (
        # left_semi is unaffected by right-side duplicates — no
        # .distinct() of the corpus side (a corpus-sized shuffle)
        probe.join(corpus_fps.select("fp"), "fp", "left_semi")
        .groupBy("doc_id")
        .agg(F.count_distinct("fp").alias("n_shared_fps"))
        .select(F.col("doc_id").alias("__hit_id"), "n_shared_fps")
    )
    out = df.join(hits, F.col(id_col) == F.col("__hit_id"), "left")
    return (
        out.withColumn("n_shared_fps", F.coalesce("n_shared_fps", F.lit(0)))
        .withColumn("is_dup", F.col("n_shared_fps") >= min_shared)
        .drop("__hit_id")
    )


def probe_fp_index(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    window: int = 4,
    min_shared: int = 1,
) -> DataFrame:
    """shared_fp_counts against the PERSISTED index at ``path`` — the
    corpus is only read, never re-fingerprinted, and only the index
    buckets the slice's fingerprints can land in are opened: the
    probe fp set determines the candidate buckets exactly (same
    hash layout the writer used), so probe I/O is O(touched buckets),
    not O(corpus) — the pruned-read design the store exists for.
    The slice's fingerprints are persisted (slice-grain, bounded) so
    the touched-bucket derivation and the semi-join share ONE run of
    the winnowing kernel; Spark evicts the block LRU after the
    caller's action."""
    meta = read_meta(path)
    if meta is None:
        raise ValueError(f"no fingerprint index at {path!r}; build_fp_index first")
    n_buckets = meta["n_buckets"]
    k, window = _fp_params(path, k, window)
    fps = winnow_fingerprint_rows(df, text_col, id_col, k=k, window=window).persist()
    touched = [
        int(r[0])
        for r in fps.select(bucket_expr(["fp"], n_buckets).alias("b"))
        .distinct()
        .collect()
    ]
    if not touched:  # slice has no fingerprints: nothing can match
        return (
            df.withColumn("n_shared_fps", F.lit(0).cast("long"))
            .withColumn("is_dup", F.lit(False))
        )
    idx = read_buckets(spark, path, touched).select("fp")
    return shared_fp_counts(
        df, idx, text_col, id_col,
        k=k, window=window, min_shared=min_shared, probe_fps=fps,
    )


def extend_fp_index(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    window: int = 4,
) -> int:
    """Merge the accepted documents' fingerprints into the index,
    rewriting ONLY the fp-hash buckets they land in (the CDC store's
    touched-bucket discipline — maintenance cost is O(slice), not
    O(corpus)). Idempotent: (fp, doc_id) rows are distinct-merged, so
    re-extending with the same slice is a no-op. Returns the number
    of touched buckets.

    STALENESS HAZARD (inherent to any file-backed store): a LAZY
    frame built from a pre-extend probe holds references to pre-swap
    bucket files and fails or reads stale data if evaluated after an
    extend — materialize probe results you intend to keep BEFORE
    extending (the pipeline's own merge path does exactly this: the
    staged write completes before the swap)."""
    if read_meta(path) is None:
        raise ValueError(f"no fingerprint index at {path!r}; build_fp_index first")
    k, window = _fp_params(path, k, window)
    new_fps = winnow_fingerprint_rows(
        df, text_col, id_col, k=k, window=window
    ).select("fp", "doc_id")
    return update_touched_buckets(new_fps, path, mode="extend")

def remove_from_fp_index(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    window: int = 4,
) -> int:
    """Delete documents from the persisted fingerprint index,
    rewriting ONLY the fp-hash buckets their fingerprints land in.
    With extend_fp_index this closes the mutation cycle:
    update = remove(old) + extend(new).

    Contract (the inverse of extend's): the caller presents the
    ORIGINAL document text — the index is keyed by content-derived
    winnowing fingerprints, so byte-identical text is what locates
    the touched buckets in O(slice); within them, every (fp, doc_id)
    row of the given doc ids is dropped. Idempotent. Returns touched
    buckets."""
    if read_meta(path) is None:
        raise ValueError(f"no fp index at {path!r}; build_fp_index first")
    k, window = _fp_params(path, k, window)
    fps = winnow_fingerprint_rows(df, text_col, id_col, k=k, window=window).select(
        "fp", "doc_id"
    )
    return update_touched_buckets(fps, path, mode="remove", anti_on="doc_id")
