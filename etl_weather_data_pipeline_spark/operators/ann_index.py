"""Persisted IVF ANN index store — the 100 TB layout ivf_topk documents.

`operators/similarity.py ivf_topk` prunes an in-memory table by cell; its
docstring prescribes the at-scale layout: "the table is written
partitioned/clustered by cell id, so the probe scan prunes to n_probe
partitions". This module is that layout as a store on disk — the ANN
analogue of the streaming dedup store's `_bands`/`_winnow` side tables
(derived, rebuildable data that persists BETWEEN jobs so the expensive
part — training + assignment — is paid once, not per query):

  write_ivf_index    train a coarse quantizer (deterministic k-means,
                     operators/kmeans.py), assign every vector to its
                     nearest cell, write the vectors partitioned by
                     `cell=` (Hive layout → Catalyst partition pruning),
                     and FREEZE the centroid matrix alongside.
  add_to_ivf_index   incremental path for new vectors: assign against
                     the frozen centroids (map-only codegen argmin, no
                     retraining, no shuffle of existing data) and append
                     into the matching `cell=` partitions.
  ivf_index_topk     probe: nearest n_probe centroids via the SAME
                     selection rule ivf_topk uses
                     (similarity.choose_probe_cells), then scan ONLY
                     those partitions (PartitionFilters — verified
                     against the executed plan and the actual files in
                     tests) and brute-force cosine inside.

Store invariant (checked by the ann_ivf_index_topk driver query): every
row's `cell` equals the argmin over the frozen centroids — regardless of
whether it arrived at build time or through any number of incremental
adds. That makes the index a pure function of (build set, added rows),
so a rebuild is always a safe recovery path: the store carries derived
data only (ids + vectors + cell), never source of truth.

Scale notes (100 TB / 1000 executors): n_cells grows to thousands —
partition count stays equal to n_cells, probe I/O is n_probe/n_cells of
the store. The build writes shuffle once on `cell` so each partition dir
is a few large files, not one file per task; incremental appends add one
file per touched cell per batch — periodic per-partition compaction
(sinks/writers.py compact_parquet) folds them, and because the store is
derived, compaction can always fall back to a full rebuild. Centroids
are k×dim floats — driver-literal scale by design (same bound as
operators/kmeans.py), which is what keeps assignment map-only.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_weather_data_pipeline_spark.functions.vector import double_array
from etl_weather_data_pipeline_spark.operators.kmeans import (
    argmin_index,
    kmeans_fit_full,
)

VECTORS_SUBDIR = "vectors"
CENTROIDS_SUBDIR = "_centroids"  # underscore: hidden from dir discovery
META_FILE = "_IVF_META.json"


def _meta_path(path: str) -> str:
    return os.path.join(path, META_FILE)


def read_ivf_meta(path: str) -> dict:
    with open(_meta_path(path)) as f:
        return json.load(f)


def read_ivf_centroids(spark: SparkSession, path: str) -> DataFrame:
    """(cell, centroid array<double>) — k rows, the frozen quantizer."""
    return spark.read.parquet(f"{path}/{CENTROIDS_SUBDIR}")


def read_ivf_centroid_matrix(
    spark: SparkSession, path: str
) -> list[list[float]]:
    """The frozen quantizer as a k×dim driver literal matrix, ordered by
    cell id — the form :func:`assign_cells` consumes."""
    rows = read_ivf_centroids(spark, path).collect()
    mat = {r["cell"]: [float(x) for x in r["centroid"]] for r in rows}
    return [mat[i] for i in range(len(mat))]


def valid_vector_cond(vec, dim: int | None):
    """Boolean Column: ``vec`` is non-null, exactly ``dim`` long (size
    check skipped when ``dim`` is None — the pre-quantizer bootstrap
    filter, where the dimension isn't known yet), and contains no null
    element — the precondition every index row must meet. Exposed so
    lenient callers (the streaming semantic stage, which must not
    poison a whole micro-batch over one bad row) can FILTER on it and
    route the rejects to the coverage audit, while strict callers
    (:func:`assign_cells` inside the explicit build/add APIs) raise on
    its negation. exists() is null-strict on elements: a null element
    yields null, so the double negation keeps the condition false (not
    null) for such rows."""
    no_null_elem = F.coalesce(
        ~F.exists(vec, lambda x: x.isNull()), F.lit(False)
    )
    cond = vec.isNotNull() & no_null_elem
    if dim is not None:
        cond = cond & (F.size(vec) == dim)
    return cond


def assign_cells(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str,
    vec_col: str,
    strict: bool = True,
) -> DataFrame:
    """(id, vec, cell) with cell = codegen'd argmin over the centroid
    literals (operators/kmeans.py argmin_index) — map-only, no shuffle,
    no broadcast; the assignment rule every index row must satisfy.

    Dimension-guarded: a vector whose length differs from the
    quantizer's raises IN-PLAN instead of mis-assigning silently
    (zip_with pads the shorter side with nulls, the distance sums go
    null, and the argmin when-chain would fall through to the LAST
    cell — a wrong index row that no downstream check but the store
    invariant could catch). Null-ELEMENT-guarded for the same reason
    with a nastier failure shape: a correct-LENGTH vector containing a
    null element nulls every distance, array_position(array_min) goes
    null, and the row would write to cell=__HIVE_DEFAULT_PARTITION__ —
    invisible to every probe, and invisible to a naive `cell != argmin`
    recompute because null != null is null (r10 advice).

    ``strict=False`` (the streaming semantic stage): an invalid vector
    gets a NULL cell instead of a raise — the caller pre-filters with
    :func:`valid_vector_cond` anyway, but a raise expression must not
    even EXIST in that plan: PushDownPredicates freely reorders filters,
    so a join-key predicate referencing ``cell`` can be substituted
    through this projection and land BELOW the validity filter, firing
    the raise on rows the filter would have dropped (the pin_once
    substitution hazard, operators/dedup.py — observed live on this
    exact plan). Strict callers (explicit build/add APIs) keep the
    raise: their plans never join on ``cell`` above unfiltered rows."""
    dim = len(centroids[0])
    vec = F.col(vec_col)
    invalid = (
        F.raise_error(
            F.printf(
                F.lit(
                    "ann_index.assign_cells: vector dim %s (or a null "
                    f"element/vector) != clean quantizer dim {dim}"
                ),
                F.size(vec).cast("string"),
            )
        )
        if strict
        else F.lit(None).cast("array<double>")
    )
    guarded = F.when(valid_vector_cond(vec, dim), vec).otherwise(invalid)
    return df.select(
        F.col(id_col),
        F.col(vec_col),
        argmin_index(guarded, centroids).cast("int").alias("cell"),
    )


def _vector_files(path: str) -> list[str]:
    """Parquet data files currently in the store's vectors dir — the
    listing-level snapshot retrain_ivf_index diffs to catch concurrent
    appends (its lost-update guard)."""
    import glob

    return glob.glob(
        os.path.join(glob.escape(path), VECTORS_SUBDIR, "**", "*.parquet"),
        recursive=True,
    )


def _append_vectors(assigned: DataFrame, path: str, mode: str) -> None:
    # one shuffle on cell → each cell partition dir receives exactly the
    # tasks holding that cell (few large files, never one per input task)
    (
        assigned.repartition("cell")
        .write.mode(mode)
        .partitionBy("cell")
        .parquet(f"{path}/{VECTORS_SUBDIR}")
    )


def residual_codes_expr(
    vec_col: str,
    cell_col: str,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
):
    """codes[s] = index of the nearest codebook centroid to subspace s
    of the RESIDUAL x − centroid(cell) — FAISS IVF-PQ's code rule (the
    residual's energy is what's left after the coarse quantizer, so at
    any byte budget residual codes reconstruct tighter than raw-vector
    codes; the r8 ann_ivfpq_residual_topk ANOVA argument). Pure
    codegen: when-chain centroid lookup on the cell + zip_with subtract
    + per-subspace literal argmin. THE code rule — shared by the build
    path, the incremental add path, and the store-invariant recompute,
    so they cannot drift."""
    cent = None
    for i, c in enumerate(centroids):
        lit = double_array(c)
        cond = F.col(cell_col) == F.lit(i)
        cent = F.when(cond, lit) if cent is None else cent.when(cond, lit)
    res = F.zip_with(
        F.col(vec_col), cent, lambda a, b: a.cast("double") - b
    )
    sd = len(codebooks[0][0])
    return F.array(
        *[
            argmin_index(F.slice(res, s * sd + 1, sd), cb)
            for s, cb in enumerate(codebooks)
        ]
    )


def _with_codes(
    assigned: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    vec_col: str,
) -> DataFrame:
    return assigned.withColumn(
        "codes", residual_codes_expr(vec_col, "cell", centroids, codebooks)
    )


def write_ivf_index(
    df: DataFrame,
    path: str,
    n_cells: int = 8,
    iterations: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pq_m: int | None = None,
    pq_k: int = 16,
    pq_iterations: int = 3,
) -> dict:
    """Build the index: train, assign, write `cell=`-partitioned vectors
    + frozen centroids + a params marker. Returns the meta dict.

    Training is deterministic (kmeans_fit_full: lowest-id seeds, fixed
    iterations), so two builds over the same data produce byte-identical
    assignments — the rebuild-equals-store recovery contract.

    ``pq_m``: also train an ``m``-subspace, ``pq_k``-centroid residual
    product quantizer (operators/quantization.py pq_fit over
    x − centroid(cell)) and store a ``codes array<int>`` column next to
    each vector — the FAISS IVFADC layout. The codebooks freeze into
    the meta marker (m·k·(dim/m) driver floats), so incremental adds
    encode with the same rule. An ADC probe
    (:func:`ivf_index_topk` ``method='adc'``) then reads ONLY
    (id, cell, codes) from the probed partitions — column pruning
    stacks on partition pruning, dim floats → m ints per row of I/O."""
    spark = df.sparkSession
    _, _, centroids = kmeans_fit_full(
        df, k=n_cells, iterations=iterations, id_col=id_col,
        vec_col=vec_col,
    )
    assigned = assign_cells(df, centroids, id_col, vec_col)
    meta = {
        "n_cells": n_cells,
        "dim": len(centroids[0]),
        "id_col": id_col,
        "vec_col": vec_col,
        "metric": "sq_l2_assign/cosine_probe",
    }
    if pq_m is not None:
        from etl_weather_data_pipeline_spark.operators.quantization import (
            pq_fit,
            pq_residual_frame,
        )

        res = pq_residual_frame(
            assigned,
            {i: c for i, c in enumerate(centroids)},
            id_col=id_col,
            vec_col=vec_col,
            label_col="cell",
        )
        codebooks, _ = pq_fit(
            res, m=pq_m, k=pq_k, iterations=pq_iterations,
            id_col=id_col, vec_col="__res",
        )
        assigned = _with_codes(assigned, centroids, codebooks, vec_col)
        meta["pq"] = {"m": pq_m, "k": pq_k, "codebooks": codebooks}
    _append_vectors(assigned, path, mode="overwrite")
    cent_df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(centroids)],
        "cell int, centroid array<double>",
    )
    cent_df.repartition(1).write.mode("overwrite").parquet(
        f"{path}/{CENTROIDS_SUBDIR}"
    )
    with open(_meta_path(path), "w") as f:
        json.dump(meta, f)
    return meta


def ensure_ivf_index(
    spark: SparkSession,
    path: str,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> bool:
    """Bootstrap an EMPTY index from an externally trained centroid
    matrix (no vectors written — pair with :func:`add_to_ivf_index`).
    No-op when the index already exists. Returns True if created.

    This is the streaming bootstrap path (streaming/corpus.py semantic
    stage): the first micro-batch trains the quantizer, the index is
    created empty AFTER the batch's admissions are decided, and every
    batch — the first included — appends its survivors through the one
    add path, so the store invariant (cell == argmin over frozen
    centroids) holds by construction."""
    if os.path.exists(_meta_path(path)):
        return False
    cent_df = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
        "cell int, centroid array<double>",
    )
    cent_df.repartition(1).write.mode("overwrite").parquet(
        f"{path}/{CENTROIDS_SUBDIR}"
    )
    meta = {
        "n_cells": len(centroids),
        "dim": len(centroids[0]),
        "id_col": id_col,
        "vec_col": vec_col,
        "metric": "sq_l2_assign/cosine_probe",
    }
    with open(_meta_path(path), "w") as f:
        json.dump(meta, f)
    return True


def add_to_ivf_index(df_new: DataFrame, path: str) -> int:
    """Incremental add: assign new vectors against the FROZEN centroids
    (map-only argmin — the store is never read, let alone shuffled) and
    append them into their `cell=` partitions. Returns rows appended.

    The quantizer does not drift: an added vector lands in exactly the
    cell a full rebuild over (old ∪ new) with these centroids would give
    it, so probe semantics are identical before and after. (Re-TRAINING
    on grown data is a separate, explicit rebuild decision — cheap
    because the store is derived.) Like every derived side table here
    (streaming/corpus.py rule), this append is NOT an idempotency
    boundary: the caller dedups its feed; replays double vectors."""
    spark = df_new.sparkSession
    meta = read_ivf_meta(path)
    centroids = read_ivf_centroid_matrix(spark, path)
    assigned = assign_cells(
        df_new, centroids, meta["id_col"], meta["vec_col"]
    )
    if "pq" in meta:
        # frozen codebooks: an added vector's codes equal the codes a
        # rebuild with these codebooks would give it (same shared rule)
        assigned = _with_codes(
            assigned, centroids, meta["pq"]["codebooks"], meta["vec_col"]
        )
    assigned = assigned.localCheckpoint()  # count + write: ONE materialization
    n = assigned.count()
    if n:
        _append_vectors(assigned, path, mode="append")
    return n


def read_ivf_vectors(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(f"{path}/{VECTORS_SUBDIR}")


def compact_ivf_index(
    spark: SparkSession, path: str, target_file_mb: int = 128
) -> dict[str, int]:
    """Fold the per-batch append files inside each `cell=` partition —
    the maintenance op the incremental add path needs: every
    :func:`add_to_ivf_index` leaves one file per touched cell, and at
    streaming cadence the probe's file-open overhead grows linearly
    with batches. Per-partition sizing + staged-swap crash safety come
    from :func:`sinks.writers.compact_parquet` (the rewrite never moves
    a row across cells, so the store invariant is untouched). No-op
    {0,0} when the index has no vectors yet."""
    from etl_weather_data_pipeline_spark.sinks.writers import (
        compact_parquet,
    )

    vdir = f"{path}/{VECTORS_SUBDIR}"
    if not os.path.isdir(vdir):
        return {"files_before": 0, "files_after": 0}
    return compact_parquet(
        spark, vdir, partition_by=("cell",), target_file_mb=target_file_mb
    )


def audit_ivf_coverage(
    spark: SparkSession,
    ids: DataFrame,
    path: str,
    id_col: str = "vec_id",
) -> DataFrame:
    """Ids from ``ids`` that the index is MISSING — the detection tool
    for the documented fail-open gap (a crash between a corpus append
    and the index append, or batches merged with the semantic stage
    off, leave rows the index cannot judge against). The index is not
    rebuildable from a vector-less corpus store, so the remedy is
    re-feeding embeddings for exactly these ids through
    :func:`add_to_ivf_index`; this audit makes the gap a measurable,
    closeable work-list instead of silent recall loss.

    Shape: both sides column-pruned to the id; one anti-join shuffle on
    the key — an offline audit pass, not a per-batch probe. An index
    with no vectors yet reports every input id missing (it is)."""
    meta = read_ivf_meta(path)
    vdir = f"{path}/{VECTORS_SUBDIR}"
    want = ids.select(F.col(id_col).alias(meta["id_col"])).distinct()
    if not os.path.isdir(vdir):
        return want
    have = read_ivf_vectors(spark, path).select(meta["id_col"])
    return want.join(have, meta["id_col"], "left_anti")


def probe_partition_files(path: str, cells: list[int]) -> list[str]:
    """Parquet files inside the given `cell=` partition dirs — the
    footer-level evidence (used by tests and the driver query) that a
    probe's I/O is bounded by its partitions, independent of any plan
    inspection."""
    out: list[str] = []
    root = os.path.join(path, VECTORS_SUBDIR)
    for c in cells:
        d = os.path.join(root, f"cell={c}")
        if os.path.isdir(d):
            out.extend(
                os.path.join(d, f)
                for f in os.listdir(d)
                if f.endswith(".parquet")
            )
    return out


def all_partition_files(path: str) -> list[str]:
    root = os.path.join(path, VECTORS_SUBDIR)
    cells = [
        int(d.split("=", 1)[1])
        for d in os.listdir(root)
        if d.startswith("cell=")
    ]
    return probe_partition_files(path, cells)


def ivf_index_topk(
    spark: SparkSession,
    path: str,
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 3,
    method: str = "exact",
    rerank: int | None = None,
) -> DataFrame:
    """Probe the persisted index: top-k among the vectors in the
    n_probe nearest cells. The cell filter hits a Hive partition column,
    so Catalyst prunes the scan to those directories (PartitionFilters)
    — no row outside the probed cells is read, which is the entire point
    of the layout.

    ``method='exact'``: cosine over the stored raw vectors (the
    correctness baseline inside the probed cells).

    ``method='adc'`` (needs a ``pq_m`` build): asymmetric distance over
    the stored RESIDUAL codes — the probed scan reads ONLY
    (id, cell, codes), so column pruning stacks on partition pruning
    (dim floats → m ints per row; verify in the plan's ReadSchema). Per
    probed cell the query residualizes against that cell's centroid and
    the m×k lookup tables ship as plan literals
    (quantization.pq_adc_topk_residual). Returns (id, adc_dist).

    ``rerank=R`` (adc only): FAISS-style two-phase probe — ADC selects
    the R best candidates from codes alone, then ONLY those R rows'
    raw vectors are read (broadcast semi-join into the probed
    partitions) and exact cosine re-orders the final k. With R = the
    probed candidate count this equals the exact probe bit-for-bit
    (tested); small R keeps the raw-vector read O(R) instead of
    O(candidates)."""
    from etl_weather_data_pipeline_spark.operators.similarity import (
        brute_force_topk,
        choose_probe_cells,
    )

    meta = read_ivf_meta(path)
    cents = read_ivf_centroids(spark, path)
    probe_cells = [
        int(c)
        for c in choose_probe_cells(
            cents, query_vec, n_probe=n_probe, cell_col="cell"
        )
    ]
    pruned = read_ivf_vectors(spark, path).filter(
        F.col("cell").isin(probe_cells)
    )
    if method == "exact":
        return brute_force_topk(
            pruned, query_vec, k,
            id_col=meta["id_col"], vec_col=meta["vec_col"],
        )
    assert method == "adc", method
    pq = meta.get("pq")
    if pq is None:
        raise ValueError(
            "ivf_index_topk(method='adc') needs an index built with "
            "pq_m=... (no codes in this store)"
        )
    from etl_weather_data_pipeline_spark.operators.quantization import (
        pq_adc_topk_residual,
    )

    centroids = read_ivf_centroid_matrix(spark, path)
    codes_only = pruned.select(meta["id_col"], "cell", "codes")
    adc = pq_adc_topk_residual(
        codes_only,
        pq["codebooks"],
        {i: c for i, c in enumerate(centroids)},
        query_vec,
        probe_cells,
        k=(rerank if rerank is not None else k),
        id_col=meta["id_col"],
        label_col="cell",
    )
    if rerank is None:
        return adc
    cand = pruned.join(
        F.broadcast(adc.select(meta["id_col"])), meta["id_col"], "left_semi"
    )
    return brute_force_topk(
        cand, query_vec, k, id_col=meta["id_col"], vec_col=meta["vec_col"]
    )


def _sq_dist_to_centroid(vec_col: str, cell_col: str, centroids):
    """Squared L2 distance of each row's vector to ITS OWN cell's
    centroid — when-chain centroid lookup (k × dim driver literals) +
    one zip_with/aggregate, all codegen. Shared by the cell-stats audit
    so the 'residual energy' it reports is exactly the quantity Lloyd
    minimizes (and retrain_ivf_index provably never worsens)."""
    cent = None
    for i, c in enumerate(centroids):
        lit = double_array(c)
        cond = F.col(cell_col) == F.lit(i)
        cent = F.when(cond, lit) if cent is None else cent.when(cond, lit)
    diff = F.zip_with(
        F.col(vec_col), cent, lambda a, b: a.cast("double") - b
    )
    return F.aggregate(
        diff, F.lit(0.0), lambda acc, x: acc + x * x
    )


def ivf_cell_stats(
    spark: SparkSession, path: str, assign_check: bool = False
) -> DataFrame:
    """Per-cell drift/skew audit of the persisted index: (cell,
    n_vectors, cell_frac, mean_sq_dist) in ONE scan — population skew
    (a hot cell degrades probe cost: every probe touching it reads its
    whole partition) and residual energy (a drifted quantizer stops
    explaining its cells, inflating within-cell distance and eroding
    the same-cell-implies-similar assumption SemDeDup blocking rests
    on). The quantizer is frozen at build/bootstrap time
    (write_ivf_index / streaming's first vector-bearing batch), so
    under distribution drift both numbers decay silently —
    audit_ivf_coverage cannot see this (it only finds MISSING ids);
    this is the detector, retrain_ivf_index is the remedy (FAISS
    operational practice; r10 verdict directive #4).

    A vector-less index (ensure_ivf_index bootstrap with no adds yet)
    returns an EMPTY frame rather than crashing on the missing
    `vectors/` dir. A row whose cell is null / outside the quantizer
    (a corrupt store) reports mean_sq_dist = NULL — deliberately
    visible rather than zeroed, since unmeasurable energy is itself the
    finding (the assign-consistency recompute flags the same rows).

    ``assign_check`` (r15, verdict #6 — fused lifecycle audits): also
    emit per-cell ``n_bad``, the count of rows whose stored cell is NOT
    the argmin over the frozen centroids (the store-invariant
    recompute). It rides the SAME grouping in the same single scan, so
    an audit that needs both skew/energy AND assign-consistency pays
    one action instead of a stats pass plus a separate full-scan
    count."""
    from pyspark.sql.window import Window

    meta = read_ivf_meta(path)
    cents = read_ivf_centroid_matrix(spark, path)
    schema = (
        "cell int, n_vectors long, cell_frac double, mean_sq_dist double"
    )
    if assign_check:
        schema += ", n_bad long"
    if not os.path.isdir(f"{path}/{VECTORS_SUBDIR}"):
        return spark.createDataFrame([], schema)
    v = read_ivf_vectors(spark, path)
    sq = _sq_dist_to_centroid(meta["vec_col"], "cell", cents)
    aggs = [
        F.count(F.lit(1)).alias("n_vectors"),
        F.avg(sq).alias("mean_sq_dist"),
    ]
    if assign_check:
        aggs.append(
            F.sum(
                (
                    ~F.col("cell").eqNullSafe(
                        argmin_index(
                            F.col(meta["vec_col"]), cents
                        ).cast("int")
                    )
                ).cast("long")
            ).alias("n_bad")
        )
    per = v.groupBy("cell").agg(*aggs)
    total = F.sum("n_vectors").over(Window.partitionBy())
    cols = [
        F.col("cell").cast("int").alias("cell"),
        F.col("n_vectors"),
        (F.col("n_vectors") / total).alias("cell_frac"),
        F.col("mean_sq_dist"),
    ]
    if assign_check:
        cols.append(F.col("n_bad"))
    return per.select(*cols)


def retrain_ivf_index(
    spark: SparkSession,
    path: str,
    iterations: int = 3,
    pq_iterations: int = 3,
) -> dict:
    """Re-train the coarse quantizer on the FULL store and rewrite the
    index via the staged-swap cadence — the drift remedy (the add path
    never retrains by design, so a distribution that drifts away from
    the bootstrap sample concentrates vectors in few cells and inflates
    residual energy; see ivf_cell_stats).

    Warm-start Lloyd: training starts FROM the frozen centroids
    (kmeans_fit_full ``init=``), so the within-cell SSE is monotonically
    non-increasing from the store's CURRENT assignment energy — the
    retrained index is provably never worse than the drifted one on the
    data it holds (the driver-checkable invariant the
    ann_index_drift_report query pins). k is preserved; a PQ layer is
    re-trained on the new residuals with the same (m, k) so codes keep
    the shared rule.

    Crash safety: the new vectors + centroids + meta are staged to a
    sibling dir and swapped in with two renames (sinks/writers.py
    _swap_dirs — the live index is never deleted before the replacement
    is complete; a crash between renames leaves the old index intact at
    `<path>.old-*`). sinks/writers.py recover_staged_crash finishes or
    sweeps any such state, at open and again right after the swap. The
    store holds derived data only, so even a botched swap recovers by
    re-feeding embeddings. Returns
    {"n_vectors": n, "sse_history": [...], "meta": new_meta}.

    Concurrency contract (r11 advice): the retrain snapshots the live
    vector file listing at read time and, just before the swap, folds
    any files a concurrent writer appended in the meantime into the
    staged store (re-assigned under the NEW centroids, id-deduped, with
    a loud warning) — so a streaming sink's add_to_ivf_index racing the
    retrain loses nothing in the common case. The guard shrinks the
    lost-update window from the whole retrain to the instant between
    the final listing diff and the rename; a STRICT no-loss guarantee
    still requires single-writer discipline (pause index writers, or
    run :func:`audit_ivf_coverage` with the fed ids after the swap and
    re-feed the reported gaps).
    """
    from etl_weather_data_pipeline_spark.operators.kmeans import (
        kmeans_fit_full,
    )
    from etl_weather_data_pipeline_spark.sinks.writers import (
        _swap_dirs,
        recover_staged_crash,
    )

    # Open-time auto-recovery (r14): a prior retrain that died between
    # the swap's two renames left the live path missing (read_ivf_meta
    # below would raise) with the complete new index staged — finish
    # that swap first; mid-staging leftovers get swept.
    recover_staged_crash(path)
    meta = read_ivf_meta(path)
    old_cents = read_ivf_centroid_matrix(spark, path)
    id_col, vec_col = meta["id_col"], meta["vec_col"]
    if not os.path.isdir(f"{path}/{VECTORS_SUBDIR}"):
        # vector-less bootstrap index (ensure_ivf_index, no adds yet):
        # nothing to retrain — clean no-op, same shape as a real run
        return {"n_vectors": 0, "sse_history": [], "meta": meta}
    vecs = read_ivf_vectors(spark, path).select(id_col, vec_col)
    # Snapshot the live file listing the retrain is about to read:
    # the pre-swap diff against this set detects (and folds in)
    # vectors a concurrent writer appends mid-retrain (docstring
    # concurrency contract).
    snapshot = set(_vector_files(path))
    # The whole retrain reads the LIVE files; everything below completes
    # before the swap, so no plan ever reads a half-swapped dir.
    _, sse_history, cents = kmeans_fit_full(
        vecs, iterations=iterations, id_col=id_col, vec_col=vec_col,
        init=old_cents,
    )
    assigned = assign_cells(vecs, cents, id_col, vec_col)
    new_meta = dict(meta)
    if "pq" in meta:
        from etl_weather_data_pipeline_spark.operators.quantization import (
            pq_fit,
            pq_residual_frame,
        )

        res = pq_residual_frame(
            assigned,
            {i: c for i, c in enumerate(cents)},
            id_col=id_col,
            vec_col=vec_col,
            label_col="cell",
        )
        codebooks, _ = pq_fit(
            res, m=meta["pq"]["m"], k=meta["pq"]["k"],
            iterations=pq_iterations, id_col=id_col, vec_col="__res",
        )
        assigned = _with_codes(assigned, cents, codebooks, vec_col)
        new_meta["pq"] = {
            "m": meta["pq"]["m"], "k": meta["pq"]["k"],
            "codebooks": codebooks,
        }
    # Stage as a SIBLING of the live index (same directory → same
    # filesystem, same as compact_parquet): staging in the system temp
    # dir would make _swap_dirs' second os.rename cross-device (EXDEV)
    # after the first rename already moved the live index aside —
    # destroying the store on any layout where /tmp is a different
    # mount (tmpfs is the default). The sibling rename pair can't hit
    # EXDEV.
    import uuid

    staged = path.rstrip("/") + f".staged-{uuid.uuid4().hex[:8]}"
    n = 0
    try:
        _append_vectors(assigned, staged, mode="overwrite")
        n = spark.read.parquet(f"{staged}/{VECTORS_SUBDIR}").count()
        cent_df = spark.createDataFrame(
            [(i, c) for i, c in enumerate(cents)],
            "cell int, centroid array<double>",
        )
        cent_df.repartition(1).write.mode("overwrite").parquet(
            f"{staged}/{CENTROIDS_SUBDIR}"
        )
        with open(_meta_path(staged), "w") as f:
            json.dump(new_meta, f)
        # Lost-update guard (r11 advice): fold in any files a
        # concurrent writer appended to the LIVE index since the
        # snapshot read — without this, mid-retrain adds would be
        # silently dropped by the rewrite. Late rows are id-deduped
        # against the staged store (two-step broadcast probe: never
        # shuffle the store to dedupe a small late batch) and assigned
        # under the NEW centroids + code rule.
        late = sorted(set(_vector_files(path)) - snapshot)
        if late:
            import warnings

            late_vecs = spark.read.parquet(*late).select(id_col, vec_col)
            late_ids = late_vecs.select(id_col).distinct()
            hits = (
                spark.read.parquet(f"{staged}/{VECTORS_SUBDIR}")
                .select(id_col)
                .join(F.broadcast(late_ids), id_col, "left_semi")
            )
            fresh = assign_cells(
                late_vecs.join(F.broadcast(hits), id_col, "left_anti"),
                cents, id_col, vec_col,
            )
            if "pq" in new_meta:
                fresh = _with_codes(
                    fresh, cents, new_meta["pq"]["codebooks"], vec_col
                )
            # eager materialization BEFORE the append: the plan reads
            # the staged path the append writes to (house write rule)
            fresh = fresh.localCheckpoint()
            n_late = fresh.count()
            if n_late:
                _append_vectors(fresh, staged, mode="append")
                n += n_late
            warnings.warn(
                f"retrain_ivf_index: {n_late} vectors were appended to "
                "the live index during the retrain and folded into the "
                "rewritten store under the new centroids; a writer can "
                "still race the final swap — prefer single-writer "
                "discipline or audit_ivf_coverage after the swap",
                stacklevel=2,
            )
        _swap_dirs(path, staged)
    finally:
        # Self-heal: the same sweep as at open. After a clean swap it
        # finds nothing; after an early failure it removes the partial
        # staging. If the swap died BETWEEN its two renames, the live
        # path is missing and the staged dir holds the only complete NEW
        # index: the sweep promotes it and removes the half-swap's leaked
        # <path>.old-* copy. The index WAS then replaced even though the
        # swap error still propagates, so say so (r11 advice).
        if recover_staged_crash(path)["action"] == "completed_swap":
            import warnings

            warnings.warn(
                "retrain_ivf_index: the staged->live rename completed "
                "the swap after a mid-swap failure (self-heal) — the "
                "index WAS replaced despite the propagating error; a "
                "retry would be a redundant full retrain",
                stacklevel=2,
            )
    return {"n_vectors": n, "sse_history": sse_history, "meta": new_meta}


def semdedup_global_audit(
    spark: SparkSession,
    path: str,
    threshold: float = 0.95,
    n_probe: int = 2,
    max_cell_df: int = 100000,
) -> DataFrame:
    """Corpus-global SemDeDup pass over the persisted index — the
    batch-periodic audit the streaming stage-4 docstring promises: the
    per-batch stage judges only against cells frozen at bootstrap, so
    near-dups that STRADDLE a cell boundary under the drifted quantizer
    are admitted blind; this pass (typically run right after
    retrain_ivf_index) re-judges the whole store and returns the missed
    pairs as a work-list, exactly like audit_ivf_coverage returns
    missing ids.

    Blocking is MULTI-PROBE (SemDeDup with a recall margin): every
    vector blocks to its ``n_probe`` nearest cells, a pair is compared
    when their probe sets intersect, and the exact cosine >= threshold
    verifies — so a pair sitting on a cell boundary is still found.

    ``max_cell_df`` bounds the PROBED-row count per cell (what the
    self-join actually fans out over — each vector contributes n_probe
    rows, so size it accordingly): overfull cells are excluded from the
    audit with a LOUD warnings.warn naming the skipped volume, never
    silently (an audit that silently returns an empty work-list at
    exactly the corpus size it exists for would be worse than none).
    The default is deliberately high — this is an OFFLINE pass whose
    per-cell cost is quadratic-but-distributed; a warning here means
    the quantizer needs more cells (retrain with a larger k) or the
    hot cell needs sub-blocking, not a bigger bound. The bound check
    is one driver-side collect of <= n_cells (cell, count) rows.

    Returns distinct (id_a, id_b) with id_a < id_b; the conventional
    drop-list is the distinct id_b set (smaller id wins, matching the
    per-batch stage). One scan + one (bounded) self-join — the offline
    audit shape, not a per-batch probe.
    """
    import warnings

    from etl_weather_data_pipeline_spark.functions import vector as VX
    from etl_weather_data_pipeline_spark.operators.kmeans import (
        _sq_dist_to,
    )

    meta = read_ivf_meta(path)
    cents = read_ivf_centroid_matrix(spark, path)
    id_col, vec_col = meta["id_col"], meta["vec_col"]
    if not os.path.isdir(f"{path}/{VECTORS_SUBDIR}"):
        # vector-less bootstrap index: nothing to audit
        return spark.createDataFrame([], "id_a long, id_b long")
    vecs = read_ivf_vectors(spark, path).select(id_col, vec_col)
    vec = F.col(vec_col)
    # n_probe nearest cells per vector: every distance evaluates ONCE
    # into a (dist, cell) struct array; array_sort orders by dist (cell
    # breaks ties deterministically); slice + transform + explode_OUTER
    # (the repo explode rule: a plain explode makes the optimizer infer
    # a size()>0 filter that sinks below the projection and re-computes
    # the whole k-distance chain per row — and the sliced array is
    # never empty anyway, so the inferred filter is pure re-evaluation)
    pairs_arr = F.array(
        *[
            F.struct(
                _sq_dist_to(vec, c).alias("d"), F.lit(i).alias("c")
            )
            for i, c in enumerate(cents)
        ]
    )
    probed = vecs.select(
        id_col,
        vec_col,
        F.explode_outer(
            F.transform(
                F.slice(
                    F.array_sort(pairs_arr),
                    1,
                    min(n_probe, len(cents)),
                ),
                lambda s: s["c"],
            )
        ).alias("cell"),
    ).filter(F.col("cell").isNotNull())
    # Eager lineage cut: the k-distance/sort probe chain is the pass's
    # dominant map cost and THREE consumers follow (the cell-count
    # collect + both self-join sides — different projections, so no
    # ReusedExchange; the repo's 2+-branch re-eval rule). One
    # materialization, everything below reads the checkpoint.
    probed = probed.localCheckpoint()
    cell_counts = {
        r["cell"]: r["n"]
        for r in probed.groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    overfull = [c for c, n in cell_counts.items() if n > max_cell_df]
    bounded = probed
    if overfull:
        warnings.warn(
            f"semdedup_global_audit: {sum(cell_counts[c] for c in overfull)}"
            f" probed rows in {len(overfull)} cells over the "
            f"max_cell_df={max_cell_df} bound were EXCLUDED from the "
            "audit — retrain with more cells or sub-block the hot "
            "cells; pairs inside them are not judged",
            stacklevel=2,
        )
        bounded = probed.filter(~F.col("cell").isin(overfull))
    la = bounded.select(
        F.col(id_col).alias("id_a"), "cell", F.col(vec_col).alias("__va")
    )
    lb = bounded.select(
        F.col(id_col).alias("id_b"), "cell", F.col(vec_col).alias("__vb")
    )
    return (
        la.join(lb, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(VX.cosine(F.col("__va"), F.col("__vb")) >= threshold)
        .select("id_a", "id_b")
        .distinct()
    )
