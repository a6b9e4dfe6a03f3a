"""Persisted ANN indexes through the snapshot catalog — the embedding
analogue of :func:`~lyssandra_spark.operators.search.refresh_postings`.

The per-call operators (:func:`~lyssandra_spark.operators.similarity
.ivf_topk` / :func:`~lyssandra_spark.operators.similarity.pq_topk`)
re-train and re-scan the corpus on every invocation; this module
persists the trained artifacts and the per-vector assignments once,
then serves queries from the index alone. ONE lifecycle
(:func:`_refresh`) maintains all three index kinds; a small per-kind
codec (:data:`_CODECS`) supplies what differs — training, assignment
under the frozen artifacts, the per-row quantization error, the layout:

- IVF (:func:`refresh_ivf_index` / :func:`ivf_topk_indexed`) —
  centroids; rows (id, embedding, cell) sorted by cell, so parquet
  row-group stats prune each query's probe scan to its nprobe cells; the
  serve is a parquet scan joined to the broadcast probed queries.
- PQ (:func:`refresh_pq_index` / :func:`pq_topk_indexed`) — codebooks;
  one ``array<int>`` code per vector; the ADC scan reads ONLY (id, code)
  columns (the 64x bandwidth win PQ exists for) and the exact re-rank
  touches true vectors for the candidate set only.
- IVF-PQ (:func:`refresh_ivfpq_index` / :func:`ivfpq_topk_indexed`) —
  centroids plus residual codebooks (Jegou, Douze & Schmid, TPAMI 2011,
  "IVFADC"). Flat PQ is exactly the IVFADC case with one cell and no
  anchor, so both ADC serves run one scoring function and one
  distributed plan; flat PQ just has no cell constants, no probe mask
  and no ``cell IN`` prune.

Freshness semantics (shared with the postings index): a watermark in
the manifest meta records the newest source snapshot folded in; a
source overwrite or an expired delta snapshot routes to a full rebuild;
meta survives audit-only compaction via ``latest_meta`` and dies at a
destructive overwrite. Delta batches are quantized under the ORIGINAL
artifacts, so recall decays as the embedding distribution drifts — and
that decay is MEASURED: every refresh records its batch's mean
quantization error (``<kind>_drift`` meta) and :func:`needs_retrain`
compares it with the training-time baseline. Assignment is
deterministic given the artifacts, so indexed results equal the
per-call operator run with the same artifacts.
"""

from __future__ import annotations

import threading
from typing import Callable, NamedTuple

import numpy as np
from pyspark.errors import SparkRuntimeException
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from lyssandra_spark.operators.similarity import (
    _as_double,
    _collect_bounded_queries,
    _dot,
    _lloyd_centroids,
    _nearest_cells,
    _norm,
    _training_sample,
    assign_cells_arrow,
    kmeans_refine,
    pq_assign_codes,
    pq_refine,
    pq_train,
    tag_cell,
    tag_probe_cells,
)
from lyssandra_spark.sources.catalog import consumer_needs_rebuild

__all__ = [
    "refresh_ivf_index", "ivf_topk_indexed",
    "refresh_pq_index", "pq_topk_indexed",
    "refresh_ivfpq_index", "ivfpq_topk_indexed",
    "ann_decontaminate",
    "mean_quantization_error", "needs_retrain", "DRIFT_KEYS",
    "release_serve_caches",
]

# Lineage-preserving caches created by the distributed IVF-PQ serve (its
# probed query frame feeds the probed-cell collect and the cogroup job;
# the result frame is lazy, so there is no safe in-function unpersist
# site) — mirrors dedup._SPAN_CACHES/release_span_caches.
_SERVE_CACHES: list[DataFrame] = []
_SERVE_CACHES_LOCK = threading.Lock()


def _register_serve_cache(df: DataFrame) -> None:
    with _SERVE_CACHES_LOCK:
        _SERVE_CACHES.append(df)


def release_serve_caches() -> int:
    """Unpersist every query-frame cache created by the distributed ANN
    serves in this session (safe any time: the caches are lineage-
    preserving, so a still-running consumer just recomputes). Returns the
    number of caches released. Long-running serving drivers should call
    this after each query batch's results have been consumed."""
    n = 0
    while True:
        with _SERVE_CACHES_LOCK:
            if not _SERVE_CACHES:
                return n
            df = _SERVE_CACHES.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass  # session already stopped — nothing to release


def mean_quantization_error(df: DataFrame, emb_col: str, row_err) -> tuple[float, int]:
    """Distributed mean of a per-row quantization error: ONE map-only
    ``mapInArrow`` pass emitting per-partition (sum, count) — the
    constant-size sufficient-statistics shape of :func:`kmeans_refine`,
    so the pass costs one scan of ``df`` and nothing shuffles.
    ``row_err(X)`` maps an (n, dim) float64 block to a per-row error
    vector (it may return fewer entries than rows to skip some, e.g.
    zero-norm vectors). Returns (mean, n); (0.0, 0) on an empty frame.
    """
    import pyarrow as pa
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("s", T.DoubleType(), False),
        T.StructField("n", T.LongType(), False),
    ])

    def gen(it):
        s, n = 0.0, 0
        for batch in it:
            if batch.num_rows == 0:
                continue
            X = _flat_fixed(batch.column(0), "embedding", "drift pass")
            e = row_err(X)
            s += float(e.sum())
            n += int(len(e))
        yield pa.RecordBatch.from_arrays(
            [pa.array([s], pa.float64()), pa.array([n], pa.int64())],
            names=["s", "n"],
        )

    pdf = (
        df.select(F.col(emb_col).cast("array<double>"))
        .mapInArrow(gen, schema).toPandas()
    )
    n = int(pdf["n"].sum())
    return (float(pdf["s"].sum()) / n if n else 0.0, n)


def _flat_fixed(col, what: str, where: str) -> np.ndarray:
    """Arrow list column -> (n, width) float64 block, loud on null,
    ragged or zero-width rows: ``ListArray.flatten()`` silently DROPS
    nulls and concatenates ragged lists, so an unguarded reshape either
    raises an opaque numpy error on an executor or — worse — misaligns
    every subsequent row (a corrupt drift record, a wrong ADC score)."""
    import pyarrow as pa

    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    offs = np.diff(col.offsets.to_numpy(zero_copy_only=False))
    if col.null_count or (
        len(offs) and ((offs != offs[0]).any() or offs[0] == 0)
    ):
        raise ValueError(
            f"null, ragged, or zero-width {what} arrays in the {where} — "
            "every row must carry a fixed-width non-empty non-null vector"
        )
    flat = col.flatten().to_numpy(zero_copy_only=False)
    return flat.reshape(len(offs), -1) if len(offs) else flat.reshape(0, 0)


def _unit_rows(X: np.ndarray) -> np.ndarray:
    """Row-wise L2 normalization (a zero row stays zero)."""
    return X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-300)


def _unit_anchors(C: np.ndarray) -> np.ndarray:
    """Per-cell unit anchor a_cell = C[cell]/||C[cell]|| — the point the
    IVF-PQ residual is taken from. Unit-izing keeps the residual in the
    same scale as the normalized vectors; a zero centroid anchors at 0."""
    nrm = np.linalg.norm(C, axis=1, keepdims=True)
    return np.where(nrm > 0, C / np.maximum(nrm, 1e-300), 0.0)


def _ivf_row_err(C: np.ndarray):
    """Per-row squared L2 distance to the assigned (nearest) centroid —
    the k-means objective the frozen centroids minimized at training."""
    Cv = np.ascontiguousarray(C, np.float64)
    cn2 = (Cv * Cv).sum(1)

    def err(X):
        d2 = (X * X).sum(1)[:, None] - 2.0 * (X @ Cv.T) + cn2[None, :]
        return np.maximum(d2.min(1), 0.0)

    return err


def _pq_sq_err(S: np.ndarray, bk: np.ndarray) -> np.ndarray:
    """Per-row squared PQ reconstruction error of (n, m, dsub) subvectors."""
    e = np.zeros(len(S))
    for j in range(bk.shape[0]):
        Cj = bk[j]
        d2 = -2.0 * (S[:, j, :] @ Cj.T) + (Cj * Cj).sum(1)[None, :]
        e += d2.min(1) + (S[:, j, :] * S[:, j, :]).sum(1)
    return np.maximum(e, 0.0)


def _pq_row_err(books: np.ndarray):
    """Per-row squared PQ reconstruction error of the L2-normalized
    vector (exactly what :func:`pq_assign_codes` quantizes)."""
    bk = np.ascontiguousarray(books, np.float64)
    m, _, dsub = bk.shape
    return lambda X: _pq_sq_err(_unit_rows(X).reshape(len(X), m, dsub), bk)


def _ivfpq_row_err(C: np.ndarray, books: np.ndarray):
    """Per-row squared residual-reconstruction error under the frozen
    (centroids, residual codebooks) — the IVF-PQ drift measure."""
    Cv = np.ascontiguousarray(C, np.float64)
    A = _unit_anchors(Cv)
    bk = np.ascontiguousarray(books, np.float64)
    m, _, dsub = bk.shape

    def err(X):
        R = _unit_rows(X) - A[_nearest_cells(X, Cv)[:, 0]]
        return _pq_sq_err(R.reshape(len(X), m, dsub), bk)

    return err


#: manifest-meta keys that carry per-batch drift records, newest-batch
#: semantics via ``latest_meta`` (IVF / PQ / IVF-PQ indexes, online
#: SemDeDup)
DRIFT_KEYS = ("ivf_drift", "pq_drift", "ivfpq_drift", "semdedup_drift")


def _drift_meta(mean_qerr: float, n: int, baseline: float | None) -> dict:
    return {
        "mean_qerr": float(mean_qerr), "n": int(n),
        "baseline_qerr": float(mean_qerr if baseline is None else baseline),
    }


def needs_retrain(catalog, table: str, threshold: float = 1.5,
                  drift_key: str | None = None) -> bool:
    """True when the NEWEST batch's mean quantization error exceeds
    ``threshold`` x the baseline recorded when the frozen artifacts were
    trained. Every refresh/admission records its batch's error in the
    manifest meta, so this reader costs no data access: schedule
    rebuilds on it instead of on a blind cadence. ``drift_key`` pins one
    of :data:`DRIFT_KEYS`; unpinned, the live chain (scanned newest-first
    up to a destructive overwrite, like ``latest_meta``) must carry ONE
    kind of drift record — more than one raises instead of silently
    following whichever kind wrote last."""
    keys = (drift_key,) if drift_key else DRIFT_KEYS

    def verdict(d: dict) -> bool:
        base = max(float(d.get("baseline_qerr", 0.0)), 1e-12)
        return float(d["mean_qerr"]) > threshold * base

    found: dict[str, dict] = {}  # key -> its NEWEST record in the chain
    for s in reversed(catalog.snapshots(table)):
        meta = s.get("meta", {})
        for key in keys:
            if key in meta and key not in found:
                found[key] = meta[key]
        if s["mode"] == "overwrite" and "compaction_of" not in meta:
            break  # data was replaced: older drift records are dead
    if len(found) > 1:
        raise ValueError(
            f"table {table!r} carries drift records of more than one kind "
            f"({'/'.join(sorted(found))}) — pin drift_key to the one this "
            "caller maintains; an unpinned read would silently follow "
            "whichever kind wrote last"
        )
    if found:
        return verdict(next(iter(found.values())))
    raise ValueError(
        f"no drift metrics ({'/'.join(keys)}) recorded for {table!r} — "
        "refresh the index with drift_metrics=True first"
    )


def _chain_state(catalog, src_table: str, index_table: str, spec_key: str,
                 spec: dict, force: bool = False):
    """Watermark bookkeeping: returns (src_snaps, newest, needs_rebuild,
    last, idx_snaps, skip). The spec comparison is deliberately EXACT:
    a mismatch raises naming ``force_rebuild`` (a one-time retrain —
    legitimate under ``force``) instead of silently mixing artifact
    generations. A dead watermark or an expired delta snapshot routes
    to rebuild; a source ``compact()`` of already-indexed snapshots is
    audit-only and lands in ``skip`` (see :func:`~lyssandra_spark
    .sources.catalog.incremental_chain_start`)."""
    src_snaps = catalog.snapshots(src_table)
    if not src_snaps:
        raise FileNotFoundError(f"no snapshots for source {src_table!r}")
    newest = src_snaps[-1]["id"]
    idx_snaps = catalog.snapshots(index_table)
    head_meta = (
        (catalog.latest_meta(index_table, spec_key) or {}) if idx_snaps else {}
    )
    if idx_snaps and head_meta and head_meta.get(spec_key) != spec \
            and not force:
        raise ValueError(
            f"refresh spec {spec} does not match the index table's "
            f"{head_meta.get(spec_key)} — use a different index_table or "
            "force_rebuild"
        )
    last = head_meta.get(spec_key[:-5] + "_last_snap") if head_meta else None
    needs_rebuild, skip = consumer_needs_rebuild(src_snaps, last)
    return src_snaps, newest, needs_rebuild, last, idx_snaps, skip


def _dedup_src(catalog, src_table: str, id_col: str, emb_col: str) -> DataFrame:
    """Full-chain read collapsed to one row per id, deterministically
    (min embedding per id — identity for valid unique-id corpora, the
    refresh_postings convention)."""
    return (
        catalog.read(src_table)
        .select(id_col, F.col(emb_col).cast("array<double>").alias(emb_col))
        .groupBy(id_col)
        .agg(F.min(emb_col).alias(emb_col))
    )


def _delta_new_rows(catalog, src_table: str, index_table: str, src_snaps,
                    last: int, id_col: str, cols: list[str],
                    skip: set[int] = frozenset()) -> DataFrame | None:
    """Union the delta snapshots (minus audit-only compactions in
    ``skip``), collapse duplicate ids, anti-join the already-indexed
    ids (re-ingest guard — the id IS the identity). None when every
    new snapshot was skipped (watermark-only refresh)."""
    delta = None
    for s in src_snaps:
        if s["id"] <= last or s["id"] in skip:
            continue
        piece = catalog.read_snapshot(src_table, s["id"]).select(*cols)
        delta = piece if delta is None else delta.unionByName(piece)
    if delta is None:
        return None
    delta = delta.dropDuplicates([id_col])
    indexed_ids = catalog.read(index_table).select(id_col).distinct()
    return delta.join(indexed_ids, id_col, "left_anti")


class _Codec(NamedTuple):
    """What one index kind contributes to :func:`_refresh`; its artifacts
    are float64 arrays stored under ``artifact_keys`` in manifest meta."""

    artifact_keys: tuple[str, ...]
    train: Callable    # (spec, sample, corpus) -> artifacts
    assign: Callable   # (spec, df, *artifacts) -> index rows
    row_err: Callable  # (*artifacts) -> per-row error fn (drift record)
    width: Callable    # (*artifacts) -> embedding width
    sort_by: list[str] | None


def _train_centroids(spec: dict, sample: np.ndarray, corpus: DataFrame):
    """Seeded Lloyd on the unbiased hash-ordered sample, then
    ``refine_iters`` full-corpus distributed Lloyd passes."""
    C = _lloyd_centroids(sample, spec["n_cells"], seed=spec["seed"])
    if spec["refine_iters"] > 0:
        C = kmeans_refine(corpus, C, emb_col=spec["emb_col"],
                          n_iter=spec["refine_iters"])
    return (C,)


def _train_codebooks(spec: dict, sample: np.ndarray, corpus: DataFrame):
    """:func:`pq_topk`'s training on the normalized sample, then
    ``refine_iters`` full-corpus per-subspace Lloyd passes."""
    books = pq_train(_unit_rows(sample), m=spec["m"],
                     n_codes=spec["n_codes"], seed=spec["seed"])
    if spec["refine_iters"] > 0:
        books = pq_refine(corpus, books, emb_col=spec["emb_col"],
                          n_iter=spec["refine_iters"])
    return (books,)


def _train_ivfpq(spec: dict, sample: np.ndarray, corpus: DataFrame):
    """Centroids exactly as IVF; residual codebooks on the SAMPLE's
    normalized-vector residuals under them — sample-trained by design
    (the exact re-rank bounds the approximation; pytest gates recall)."""
    (C,) = _train_centroids(spec, sample, corpus)
    R = _unit_rows(sample) - _unit_anchors(C)[_nearest_cells(sample, C)[:, 0]]
    return C, pq_train(R, m=spec["m"], n_codes=spec["n_codes"],
                       seed=spec["seed"])


def _ivfpq_assign(df: DataFrame, C: np.ndarray, books: np.ndarray,
                  id_col: str, emb_col: str) -> DataFrame:
    """ONE mapInArrow pass appending (cell, code) under the frozen
    artifacts: cell by raw-vector expanded-L2 argmin (the shared
    :func:`~lyssandra_spark.operators.similarity._nearest_cells`, so
    bit-compatible with :func:`~lyssandra_spark.operators.similarity
    .assign_cells_arrow`), code by per-subspace argmin over the
    normalized-vector RESIDUAL (the :func:`~lyssandra_spark.operators
    .similarity.pq_assign_codes` tie rule, applied to residuals)."""
    import pyarrow as pa
    from pyspark.sql import types as T

    m, n_codes, dsub = books.shape
    src = df.select(id_col, F.col(emb_col).cast("array<double>").alias(emb_col))
    bc = src.sparkSession.sparkContext.broadcast((
        np.ascontiguousarray(C, np.float64),
        np.ascontiguousarray(books, np.float64),
    ))
    out_schema = T.StructType([
        src.schema[id_col],
        T.StructField(emb_col, T.ArrayType(T.DoubleType()), True),
        T.StructField("cell", T.IntegerType(), False),
        T.StructField("code", T.ArrayType(T.IntegerType()), False),
    ])

    def gen(it):
        Cv, bk = bc.value
        A = _unit_anchors(Cv)
        for batch in it:
            n = batch.num_rows
            if n == 0:
                continue
            flat = batch.column(1).flatten().to_numpy(zero_copy_only=False)
            X = flat.reshape(n, -1)
            cells = _nearest_cells(X, Cv)[:, 0]
            R = (_unit_rows(X) - A[cells]).reshape(n, m, dsub)
            codes = np.empty((n, m), dtype=np.int32)
            for j in range(m):
                Cj = bk[j]
                dj = -2.0 * (R[:, j, :] @ Cj.T) + (Cj * Cj).sum(1)[None, :]
                codes[:, j] = dj.argmin(1)
            offs = pa.array(np.arange(0, (n + 1) * m, m, dtype=np.int32))
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), batch.column(1), pa.array(cells, pa.int32()),
                 pa.ListArray.from_arrays(
                     offs, pa.array(codes.ravel(), pa.int32()))],
                names=[f.name for f in out_schema.fields],
            )

    return src.mapInArrow(gen, out_schema)


_CODECS = {
    "ivf": _Codec(
        ("centroids",), _train_centroids,
        lambda s, df, C: tag_cell(df, C, s["emb_col"], out_col="cell"),
        _ivf_row_err, lambda C: C.shape[1], ["cell"],
    ),
    "pq": _Codec(
        ("codebooks",), _train_codebooks,
        lambda s, df, B: pq_assign_codes(df, B, s["id_col"], s["emb_col"]),
        _pq_row_err, lambda B: B.shape[0] * B.shape[2], None,
    ),
    "ivfpq": _Codec(
        ("centroids", "ivfpq_books"), _train_ivfpq,
        lambda s, df, C, B: _ivfpq_assign(df, C, B, s["id_col"],
                                          s["emb_col"]),
        _ivfpq_row_err, lambda C, B: C.shape[1], ["cell"],
    ),
}


def _frozen(catalog, index_table: str, kind: str) -> tuple:
    """``kind``'s frozen artifacts from the manifest meta, loud when the
    table has none."""
    out = []
    for key in _CODECS[kind].artifact_keys:
        meta = catalog.latest_meta(index_table, key)
        if meta is None:
            raise ValueError(
                f"index table {index_table!r} has no {key} meta — run "
                f"refresh_{kind}_index first"
            )
        out.append(np.asarray(meta[key], dtype=np.float64))
    return tuple(out)


def _refresh(catalog, index_table: str, kind: str, spec: dict,
             drift_metrics: bool, force_rebuild: bool,
             auto_retrain: float | None) -> int:
    """The ONE index lifecycle behind the three refreshers: chain state
    -> full-chain rebuild (train + assign everything, one overwrite
    snapshot) or delta fold (assign only the new snapshots under the
    frozen artifacts, one append snapshot) -> drift record -> write ->
    ``auto_retrain`` as a single ``force_rebuild`` re-entry. Returns the
    index table's snapshot id; the Spark jobs per call are the sample
    collect, the refine pass(es), the drift pass and the write on a
    rebuild, and the delta count, drift pass and write on a fold."""
    codec = _CODECS[kind]
    if auto_retrain is not None and not drift_metrics:
        raise ValueError(
            "auto_retrain needs drift_metrics=True — without the drift "
            "record there is no signal to act on"
        )
    id_col, emb_col = spec["id_col"], spec["emb_col"]
    drift_key = f"{kind}_drift"
    src_snaps, newest, rebuild, last, idx_snaps, skip = _chain_state(
        catalog, spec["src"], index_table, f"{kind}_spec", spec,
        force=force_rebuild,
    )
    meta = {f"{kind}_spec": spec, f"{kind}_last_snap": newest}

    def fold(batch, arts, mode, baseline, drift):
        # one fused projection rejects null and wrong-width vectors
        # before any codec sees them (a short vector would otherwise be
        # null-padded into cell 0, or fail deep inside numpy)
        dim = codec.width(*arts)
        msg = (f"refresh_{kind}_index: every {emb_col} vector must be "
               f"non-null and {dim} wide, the width of the index artifacts")
        e = F.col(emb_col)
        batch = batch.select(id_col, F.when(
            e.isNull() | (F.size(e) != dim), F.raise_error(F.lit(msg))
        ).otherwise(e).alias(emb_col))
        try:
            if drift:
                q, n = mean_quantization_error(batch, emb_col,
                                               codec.row_err(*arts))
                meta[drift_key] = _drift_meta(q, n, baseline)
            return catalog.write(
                codec.assign(spec, batch, *arts), index_table, mode=mode,
                sort_by=codec.sort_by, meta=meta,
            )
        except SparkRuntimeException as exc:  # how raise_error surfaces
            if msg not in str(exc):
                raise
            raise ValueError(msg) from None

    if rebuild or force_rebuild:
        # persist: the dedup'd full-chain frame feeds the sample collect,
        # each refine pass, the drift pass, and the final write — without
        # the cache that groupBy-agg over the whole corpus re-runs up to 4x
        corpus = _dedup_src(catalog, spec["src"], id_col, emb_col).persist()
        try:
            sample = _training_sample(corpus, id_col, emb_col,
                                      spec["sample_rows"])
            if sample.size == 0:
                raise ValueError(
                    f"refresh_{kind}_index requires a non-empty source"
                )
            arts = codec.train(spec, sample, corpus)
            meta.update((k, a.tolist())
                        for k, a in zip(codec.artifact_keys, arts))
            return fold(corpus, arts, "overwrite", None, drift_metrics)
        finally:
            corpus.unpersist()
    if last >= newest:
        return idx_snaps[-1]["id"]  # nothing new: no-op
    prior = catalog.latest_meta(index_table, drift_key)
    if auto_retrain is not None and prior is None:
        raise ValueError(
            "auto_retrain has no baseline on this chain (it predates "
            "drift metrics) — run once with force_rebuild=True first"
        )
    delta = _delta_new_rows(catalog, spec["src"], index_table, src_snaps,
                            last, id_col, [id_col, emb_col], skip)
    if delta is None:
        # audit-only compaction: advance the watermark only
        return catalog.write(catalog.read(index_table).limit(0),
                             index_table, mode="append", meta=meta)
    # persist: the delta plan carries an anti-join whose right side scans
    # the WHOLE index's ids — pay it once for the emptiness probe, the
    # drift pass AND the write. The try/finally covers the drift pass
    # too: a failed pass must not leave the delta cached.
    delta = delta.select(
        id_col, F.col(emb_col).cast("array<double>").alias(emb_col)
    ).persist()
    try:
        if delta.count() == 0:
            # all ids re-ingested: advance the watermark only
            return catalog.write(catalog.read(index_table).limit(0),
                                 index_table, mode="append", meta=meta)
        # the batch's error under the FROZEN artifacts vs the baseline
        # recorded at training — the drift signal needs_retrain reads
        sid = fold(delta, _frozen(catalog, index_table, kind), "append",
                   prior[drift_key]["baseline_qerr"] if prior else None,
                   drift_metrics and prior is not None)
    finally:
        delta.unpersist()
    if auto_retrain is not None and drift_key in meta and needs_retrain(
        catalog, index_table, threshold=auto_retrain, drift_key=drift_key
    ):
        # the batch that just folded drifted past the caller's budget:
        # rebuild NOW (full-chain retrain, fresh baseline) — opt-in
        return _refresh(catalog, index_table, kind, spec, drift_metrics,
                        True, None)
    return sid


# Shared refresher keywords: ``refine_iters`` full-corpus distributed
# Lloyd passes after the sample training (DEFAULT 1, so frozen artifacts
# are never bounded by the sample); ``drift_metrics`` records the batch's
# mean quantization error (``<kind>_drift``, one map-only pass) for
# :func:`needs_retrain`; ``force_rebuild=True`` ACTS on it — retrain and
# reassign the full chain in place (one overwrite snapshot, fresh
# baseline, source untouched); ``auto_retrain=<threshold>`` does so inside
# the same call once the folded batch drifts past threshold x baseline
# (opt-in: at 100 TB the rebuild is a full-corpus retrain).


def refresh_ivf_index(
    catalog, src_table: str, index_table: str, id_col: str = "vec_id",
    emb_col: str = "embedding", n_cells: int = 16, sample_rows: int = 2048,
    seed: int = 23, refine_iters: int = 1, drift_metrics: bool = True,
    force_rebuild: bool = False, auto_retrain: float | None = None,
) -> int:
    """Keep ``index_table`` = (id, embedding, cell) over ``src_table``'s
    full chain: centroids trained ONCE on rebuild (the deterministic
    :func:`~lyssandra_spark.operators.similarity.ivf_topk` training:
    unbiased hash-ordered sample + seeded Lloyd + refine passes), delta
    snapshots assigned under them, rows sorted by cell so each probe
    scan prunes to its cells' row groups. Drift record ``ivf_drift``:
    mean squared distance to the assigned centroid. Other keywords as
    described above. Returns the index table's snapshot id."""
    return _refresh(catalog, index_table, "ivf", {
        "src": src_table, "id_col": id_col, "emb_col": emb_col,
        "n_cells": n_cells, "sample_rows": sample_rows, "seed": seed,
        "refine_iters": refine_iters,
    }, drift_metrics, force_rebuild, auto_retrain)


def refresh_pq_index(
    catalog, src_table: str, index_table: str, id_col: str = "vec_id",
    emb_col: str = "embedding", m: int = 8, n_codes: int = 256,
    sample_rows: int = 2048, seed: int = 29, refine_iters: int = 1,
    drift_metrics: bool = True, force_rebuild: bool = False,
    auto_retrain: float | None = None,
) -> int:
    """Keep ``index_table`` = (id, embedding, code) over ``src_table``'s
    chain: codebooks trained once on rebuild exactly as
    :func:`~lyssandra_spark.operators.similarity.pq_topk` trains them
    (plus refine passes), deltas quantized under them. The embedding
    rides along ONLY for the exact re-rank — the ADC scan reads just
    (id, code), ~64x less bandwidth. Drift record ``pq_drift``: mean
    squared PQ reconstruction error. Other keywords as described
    above. Returns the index table's snapshot id."""
    return _refresh(catalog, index_table, "pq", {
        "src": src_table, "id_col": id_col, "emb_col": emb_col,
        "m": m, "n_codes": n_codes, "sample_rows": sample_rows,
        "seed": seed, "refine_iters": refine_iters,
    }, drift_metrics, force_rebuild, auto_retrain)


def refresh_ivfpq_index(
    catalog, src_table: str, index_table: str, id_col: str = "vec_id",
    emb_col: str = "embedding", n_cells: int = 16, m: int = 8,
    n_codes: int = 256, sample_rows: int = 2048, seed: int = 31,
    refine_iters: int = 1, drift_metrics: bool = True,
    force_rebuild: bool = False, auto_retrain: float | None = None,
) -> int:
    """Keep ``index_table`` = (id, embedding, cell, code) over
    ``src_table``'s chain — the IVF-PQ hybrid: rows both cell-pruned
    (sorted by cell; the code scan carries a static ``cell IN (...)``
    pushdown) and PQ-compressed (residual codes). Centroids train as in
    :func:`refresh_ivf_index` (``refine_iters`` refines them), residual
    codebooks on the sample (:func:`_train_ivfpq`). Drift record
    ``ivfpq_drift``: mean squared residual reconstruction error. Other
    keywords as described above. Returns the index snapshot id."""
    return _refresh(catalog, index_table, "ivfpq", {
        "src": src_table, "id_col": id_col, "emb_col": emb_col,
        "n_cells": n_cells, "m": m, "n_codes": n_codes,
        "sample_rows": sample_rows, "seed": seed,
        "refine_iters": refine_iters,
    }, drift_metrics, force_rebuild, auto_retrain)


def _index_spec(catalog, index_table: str, kind: str) -> dict:
    key = f"{kind}_spec"
    return (catalog.latest_meta(index_table, key) or {}).get(key, {})


def ivf_topk_indexed(
    catalog, index_table: str, queries: DataFrame, k: int = 5,
    nprobe: int = 4, id_col: str | None = None, emb_col: str | None = None,
    broadcast_queries: bool = True,
) -> DataFrame:
    """:func:`~lyssandra_spark.operators.similarity.ivf_topk` semantics
    served from the persisted index: NO training, NO corpus assignment —
    the plan tags the (tiny, broadcast by default) query side with its
    ``nprobe`` probe cells under the manifest centroids, joins it to the index
    parquet on cell (the sort-by-cell layout prunes row groups), and
    exactly re-ranks the probed candidates. Output (qid, id, cos_sim,
    rk), identical to the per-call operator under the same artifacts
    (pytest-pinned)."""
    (C,) = _frozen(catalog, index_table, "ivf")
    spec = _index_spec(catalog, index_table, "ivf")
    id_col = id_col or spec.get("id_col", "vec_id")
    emb_col = emb_col or spec.get("emb_col", "embedding")
    idx = catalog.read(index_table).select(
        id_col, F.col(emb_col).alias("emb"), "cell"
    )
    q = _as_double(queries, id_col, emb_col, "qemb").withColumnRenamed(
        id_col, "qid"
    )
    qtag = tag_probe_cells(q, C, "qemb", nprobe=nprobe, out_col="qcell")
    # broadcast_queries=False: a corpus-scale query table must not be
    # forced through a broadcast — fall back to an equi-join on the cell
    # key (one shuffle each side keyed by cell; AQE may still choose a
    # broadcast if the probed query side turns out small). Results are
    # identical either way (pytest-pinned).
    qside = F.broadcast(qtag) if broadcast_queries else qtag
    cand = idx.join(
        qside.withColumnRenamed("qcell", "cell"),
        "cell",
    ).where(F.col(id_col) != F.col("qid")).select(
        "qid", id_col, "qemb", "emb"
    ).dropDuplicates(["qid", id_col])
    return _cos_topk(cand, id_col, k)


def _cos_topk(pairs: DataFrame, id_col: str, k: int) -> DataFrame:
    """Exact cosine of each (qemb, emb) pair, top-``k`` per query (ties
    on id) — the shared tail of every indexed serve."""
    sims = pairs.select(
        "qid", id_col,
        (_dot(F.col("qemb"), F.col("emb"))
         / (_norm(F.col("qemb")) * _norm(F.col("emb")))).alias("cos_sim"),
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("cos_sim").desc(), F.col(id_col).asc()
    )
    return sims.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= k)


def _rerank_exact(catalog, index_table: str, cand: "DataFrame",
                  qdf: "DataFrame", k: int, id_col: str, emb_col: str,
                  broadcast_small: bool) -> DataFrame:
    """Exact-cosine re-rank of ADC candidates: join true vectors for the
    candidate set only. ``broadcast_small`` broadcasts the candidate and
    query sides — right for the collected plan where both are provably
    tiny; the distributed plan leaves join strategy to AQE (a 1M-query
    candidate set must not be forced through a broadcast)."""
    c = catalog.read(index_table).select(
        id_col, F.col(emb_col).alias("emb")
    )
    cand_j = F.broadcast(cand) if broadcast_small else cand
    qdf_j = F.broadcast(qdf) if broadcast_small else qdf
    return _cos_topk(c.join(cand_j, id_col).join(qdf_j, "qid"), id_col, k)


def _candidate_topk(partial: DataFrame, id_col: str, rerank: int) -> DataFrame:
    """Global per-query top-``rerank`` over ADC partials — the shared
    candidate window of both serve plans (ties on id asc, matching
    :func:`_adc_block_topk`)."""
    w0 = Window.partitionBy("qid").orderBy(
        F.col("approx_ip").desc(), F.col(id_col).asc()
    )
    return (
        partial.withColumn("crk", F.row_number().over(w0))
        .where(F.col("crk") <= rerank)
        .select("qid", id_col)
    )


def _route_distributed(queries: DataFrame, id_col: str, max_queries: int,
                       distributed: bool | None) -> bool:
    """True when an ADC serve should take its no-collect distributed
    plan: forced, or (``None``) the query table exceeds ``max_queries``
    by an IDS-ONLY limit+count probe — the decision never ships
    embeddings to the driver. ``False`` keeps the collect's refusal."""
    if distributed is True:
        return True
    if distributed is False:
        return False
    n = queries.select(F.col(id_col)).limit(max_queries + 1).count()
    return n > max_queries


def _probe_mask(probes: np.ndarray, n_cells: int) -> np.ndarray:
    """(n_cells, nq) bool: cell c is probed by query i."""
    pmat = np.zeros((n_cells, len(probes)), dtype=bool)
    pmat[probes, np.arange(len(probes))[:, None]] = True
    return pmat


def _adc_block_topk(ids, codes, cells, qids, luts, consts, pmat,
                    rr_cap: int, exclude_self: bool):
    """THE ADC scoring of one block of codes against one slice of
    queries, shared by the collected and distributed serves. Approximate
    inner product = ``consts[q, cell]`` (IVF-PQ's q_n . a_cell term; flat
    PQ passes ``consts=None``) + the per-subspace LUT gathers; rows of
    cells a query does not probe (``pmat``; None = probe everything) and
    (``exclude_self``) the query's own id score -inf. Corpus rows go in
    ~64 MB sub-chunks; each query's top-``rr_cap`` per sub-chunk merge
    to one top-``rr_cap`` per query (ties to the lower id). Returns
    (query index, id, approx_ip) of the finite survivors."""
    nq, m = len(qids), codes.shape[1]
    rch = max(1024, (1 << 23) // max(nq, 1))
    ai_parts, av_parts, ac_parts = [], [], []
    for r0 in range(0, len(ids), rch):
        ids_r = ids[r0:r0 + rch]
        codes_r = codes[r0:r0 + rch]
        if consts is None:
            approx = np.zeros((len(ids_r), nq))
        else:
            cells_r = cells[r0:r0 + rch]
            approx = consts[:, cells_r].T.copy()
        for j in range(m):
            approx += luts[:, j, codes_r[:, j]].T
        if pmat is not None:
            approx[~pmat[cells_r]] = -np.inf  # outside the probe set
        if exclude_self:
            approx[ids_r[:, None] == qids[None, :]] = -np.inf
        rr = min(rr_cap, len(ids_r))
        rows = np.concatenate([
            np.lexsort((ids_r, -approx[:, i]))[:rr] for i in range(nq)
        ])
        cols = np.repeat(np.arange(nq), rr)
        ai_parts.append(ids_r[rows])
        av_parts.append(approx[rows, cols])
        ac_parts.append(cols)
    ai = np.concatenate(ai_parts)
    av = np.concatenate(av_parts)
    ac = np.concatenate(ac_parts)
    order = np.lexsort((ai, -av, ac))  # q asc, val desc, id asc
    oc = ac[order]
    starts = np.flatnonzero(np.r_[True, oc[1:] != oc[:-1]])
    grp_start = np.repeat(starts, np.diff(np.r_[starts, len(oc)]))
    sel = order[np.arange(len(oc)) - grp_start < rr_cap]
    sel = sel[np.isfinite(av[sel])]
    return ac[sel], ai[sel], av[sel]


def _adc_luts(Qn: np.ndarray, books: np.ndarray) -> np.ndarray:
    """Per-query LUT: lut[i, j, c] = q_i's subvector j . codebook[j, c]
    (per-query independent, so slicing the queries cannot change a bit)."""
    m, _, dsub = books.shape
    return np.einsum("ijs,jcs->ijc", Qn.reshape(len(Qn), m, dsub), books)


def _adc_serve(catalog, index_table: str, kind: str, queries: DataFrame,
               k: int, nprobe: int, rerank: int, id_col: str | None,
               emb_col: str | None, max_queries: int,
               distributed: bool | None, corpus_blocks: int,
               query_chunk: int, exclude_self: bool) -> DataFrame:
    """The ONE ADC serve behind :func:`pq_topk_indexed` (``C`` None) and
    :func:`ivfpq_topk_indexed`. Collected plan: query LUTs (plus the
    IVF-PQ cell constants and probe mask) built on the driver and
    broadcast, one ``mapInArrow`` pass over (id, code[, cell]) — IVF-PQ
    adds a static ``cell IN`` prune — emitting per-batch candidates,
    then the global candidate window and the exact re-rank. Oversized
    or ``distributed=True`` query tables take :func:`_adc_distributed`."""
    import pyarrow as pa
    from pyspark.sql import types as T

    arts = _frozen(catalog, index_table, kind)
    C, books = arts if len(arts) == 2 else (None, arts[0])
    spec = _index_spec(catalog, index_table, kind)
    id_col = id_col or spec.get("id_col", "vec_id")
    emb_col = emb_col or spec.get("emb_col", "embedding")
    if _route_distributed(queries, id_col, max_queries, distributed):
        return _adc_distributed(
            catalog, index_table, queries, books, C, k=k, nprobe=nprobe,
            rerank=rerank, id_col=id_col, emb_col=emb_col,
            corpus_blocks=corpus_blocks, query_chunk=query_chunk,
            exclude_self=exclude_self,
        )
    q = _collect_bounded_queries(queries, id_col, emb_col, max_queries)
    if not q:
        return queries.sparkSession.createDataFrame(
            [], f"qid long, {id_col} long, cos_sim double, rk int"
        )
    qids = np.asarray([r[0] for r in q], dtype=np.int64)
    Q = np.asarray([r[1] for r in q], dtype=np.float64)
    Qn = _unit_rows(Q)
    m = books.shape[0]
    # the ADC scan's input: id + code ONLY (columnar prune — the
    # embedding column never leaves the parquet footer here)
    cols = [F.col(id_col).cast("long").alias("vid"), F.col("code")]
    consts = pmat = None
    codes_src = catalog.read(index_table)
    if C is not None:
        # probe cells from the RAW query (the IVF convention)
        probes = _nearest_cells(Q, C, min(nprobe, len(C)))
        pmat = _probe_mask(probes, len(C))
        consts = Qn @ _unit_anchors(C).T  # (nq, n_cells)
        cols.append(F.col("cell"))
        codes_src = codes_src.select(*cols).where(F.col("cell").isin(
            sorted(int(c) for c in np.unique(probes))
        ))
    else:
        codes_src = codes_src.select(*cols)
    bc = queries.sparkSession.sparkContext.broadcast(
        (qids, _adc_luts(Qn, books), consts, pmat)
    )

    def scan(it):
        qids_, luts_, consts_, pmat_ = bc.value
        for batch in it:
            n = batch.num_rows
            if n == 0:
                continue
            codes = (
                batch.column(1).flatten().to_numpy(zero_copy_only=False)
                .reshape(n, m)
            )
            qi, vi, av = _adc_block_topk(
                batch.column(0).to_numpy(zero_copy_only=False), codes,
                (batch.column(2).to_numpy(zero_copy_only=False)
                 if consts_ is not None else None),
                qids_, luts_, consts_, pmat_, rerank, exclude_self,
            )
            yield pa.RecordBatch.from_arrays(
                [pa.array(qids_[qi], pa.int64()), pa.array(vi, pa.int64()),
                 pa.array(av, pa.float64())],
                names=["qid", id_col, "approx_ip"],
            )

    out_schema = T.StructType([
        T.StructField("qid", T.LongType(), False),
        T.StructField(id_col, T.LongType(), False),
        T.StructField("approx_ip", T.DoubleType(), False),
    ])
    cand = _candidate_topk(
        codes_src.mapInArrow(scan, out_schema), id_col, rerank
    )
    qdf = queries.sparkSession.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in zip(qids, Q)],
        "qid long, qemb array<double>",
    )
    return _rerank_exact(catalog, index_table, cand, qdf, k, id_col,
                         emb_col, broadcast_small=True)


def _adc_distributed(catalog, index_table: str, queries: DataFrame,
                     books: np.ndarray, C: np.ndarray | None, k: int,
                     nprobe: int, rerank: int, id_col: str, emb_col: str,
                     corpus_blocks: int, query_chunk: int,
                     exclude_self: bool) -> DataFrame:
    """The no-collect ADC plan for corpus-scale query tables — a block
    nested-loop join, the honest plan when every (probed) query must
    meet every code:

    1. IVF-PQ only: :func:`~lyssandra_spark.operators.similarity
       .assign_cells_arrow` tags probe cells onto the query frame (the
       collected plan's probe helper), PERSISTED for the probed-cell
       collect and the cogroup job and registered for
       :func:`release_serve_caches`; the probed-cell union (bounded by
       ``n_cells``) becomes a STATIC ``cell IN`` pushdown;
    2. (id, code[, cell]) rows hash into ``corpus_blocks`` blocks
       (``pmod(xxhash64(id))``), shuffled ONCE at ~(8 + 4m) bytes per
       vector; the query frame is replicated to every block;
    3. one ``cogroup(...).applyInArrow`` pass per block builds LUTs for
       ``query_chunk`` queries at a time on the executor (peak LUT
       memory ~16 MB at defaults) and runs :func:`_adc_block_topk`;
    4. the shared candidate window and exact re-rank finish — identical
       to the collected plan (every block partial holds its block's
       top-rerank; ties break on id everywhere), joins left to AQE.

    Per-task memory is corpus/corpus_blocks codes + one LUT slice;
    window traffic is |queries| x rerank x corpus_blocks skinny rows.
    """
    if corpus_blocks < 1:
        raise ValueError(f"corpus_blocks ({corpus_blocks}) must be >= 1")
    spark = queries.sparkSession
    qsrc = queries.select(
        F.col(id_col).cast("long").alias("qid"),
        F.col(emb_col).cast("array<double>").alias("qemb"),
    )
    codes_src = catalog.read(index_table).select(
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(corpus_blocks))
        .cast("int").alias("part"),
        F.col(id_col).cast("long").alias("vid"),
        F.col("code"), *([F.col("cell")] if C is not None else []),
    )
    qside, anchors = qsrc, None
    if C is not None:
        anchors = _unit_anchors(C)
        qside = assign_cells_arrow(qsrc, C, "qemb", nprobe=min(nprobe, len(C)),
                                   out_col="qcells").persist()
        _register_serve_cache(qside)
        probed_cells = sorted(
            r["cell"] for r in qside.select(
                F.explode("qcells").alias("cell")
            ).distinct().collect()
        )
        codes_src = codes_src.where(F.col("cell").isin(probed_cells))
    qrep = qside.withColumn(
        "part",
        F.explode(F.sequence(F.lit(0), F.lit(int(corpus_blocks) - 1))),
    ).withColumn("part", F.col("part").cast("int"))
    bc = spark.sparkContext.broadcast((books, anchors))
    n_cells = 0 if C is None else len(C)
    qch, m = max(1, int(query_chunk)), books.shape[0]

    def scan_block(codes_tbl, q_tbl):
        import pyarrow as pa

        books_, A_ = bc.value
        n, nq = codes_tbl.num_rows, q_tbl.num_rows
        if n == 0 or nq == 0:
            return pa.table({
                "qid": pa.array([], pa.int64()),
                id_col: pa.array([], pa.int64()),
                "approx_ip": pa.array([], pa.float64()),
            })
        ids = codes_tbl.column("vid").to_numpy(zero_copy_only=False)
        codes = (
            codes_tbl.column("code").combine_chunks()
            .flatten().to_numpy(zero_copy_only=False).reshape(n, m)
        )
        cells = qcells = None
        if A_ is not None:
            cells = codes_tbl.column("cell").to_numpy(zero_copy_only=False)
            qcells = (
                q_tbl.column("qcells").combine_chunks()
                .flatten().to_numpy(zero_copy_only=False).reshape(nq, -1)
            )
        qids = q_tbl.column("qid").to_numpy(zero_copy_only=False)
        Qn = _unit_rows(_flat_fixed(q_tbl.column("qemb"), "query embedding",
                                    "distributed ADC scan"))
        out_q, out_i, out_v = [], [], []
        for c0 in range(0, nq, qch):
            Qc, qids_c = Qn[c0:c0 + qch], qids[c0:c0 + qch]
            consts = pmat = None
            if A_ is not None:
                consts = Qc @ A_.T  # (nc, n_cells): the q_n . a_cell term
                pmat = _probe_mask(qcells[c0:c0 + qch], n_cells)
            qi, vi, av = _adc_block_topk(
                ids, codes, cells, qids_c, _adc_luts(Qc, books_), consts,
                pmat, rerank, exclude_self,
            )
            out_q.append(qids_c[qi])
            out_i.append(vi)
            out_v.append(av)
        return pa.table({
            "qid": pa.array(np.concatenate(out_q), pa.int64()),
            id_col: pa.array(np.concatenate(out_i), pa.int64()),
            "approx_ip": pa.array(np.concatenate(out_v), pa.float64()),
        })

    partial = (
        codes_src.groupBy("part")
        .cogroup(qrep.groupBy("part"))
        .applyInArrow(
            scan_block, f"qid long, {id_col} long, approx_ip double"
        )
    )
    cand = _candidate_topk(partial, id_col, rerank)
    return _rerank_exact(catalog, index_table, cand, qsrc, k, id_col,
                         emb_col, broadcast_small=False)


def pq_topk_indexed(
    catalog, index_table: str, queries: DataFrame, k: int = 5,
    rerank: int = 64, id_col: str | None = None, emb_col: str | None = None,
    max_queries: int = 10_000, distributed: bool | None = None,
    corpus_blocks: int = 32, query_chunk: int = 4096,
    exclude_self: bool = True,
) -> DataFrame:
    """:func:`~lyssandra_spark.operators.similarity.pq_topk` semantics
    from the persisted code table: the ADC scan streams ONLY (id, code)
    — never the vectors, never a re-quantization — and the exact cosine
    re-rank joins true vectors for the bounded candidate set alone;
    identical output to the per-call operator under the same codebooks.
    TWO plans, one semantics (pytest-pinned bit-identical): collected
    (the low-latency default, bounded by ``max_queries`` — ~16 KB of
    driver LUT per query) and distributed (``distributed=True``, or
    AUTOMATIC past ``max_queries``; no driver collect anywhere — see
    :func:`_adc_distributed`). ``distributed=False`` keeps the loud
    overflow error; ``exclude_self`` masks each query's own id."""
    return _adc_serve(catalog, index_table, "pq", queries, k, 0, rerank,
                      id_col, emb_col, max_queries, distributed,
                      corpus_blocks, query_chunk, exclude_self)


def ivfpq_topk_indexed(
    catalog, index_table: str, queries: DataFrame, k: int = 5,
    nprobe: int = 4, rerank: int = 64, id_col: str | None = None,
    emb_col: str | None = None, max_queries: int = 10_000,
    distributed: bool | None = None, corpus_blocks: int = 32,
    query_chunk: int = 4096, exclude_self: bool = True,
) -> DataFrame:
    """Approximate cosine top-k from the persisted IVF-PQ index: each
    query probes its ``nprobe`` nearest cells (raw-vector centroid
    distance, :func:`~lyssandra_spark.operators.similarity
    .tag_probe_cells` tie rules); the ADC scan reads ONLY (id, code,
    cell) rows of the probed cells — a STATIC ``cell IN`` pushdown the
    sort-by-cell layout prunes on — scores ``q_n . a_cell +
    LUT(residual code)`` (the IVFADC decomposition) and exactly
    re-ranks the per-query top-``rerank``. Output (qid, id, cos_sim,
    rk); routing as :func:`pq_topk_indexed`. Scan cost is ~``nprobe /
    n_cells`` of the flat scan; a numpy oracle pins the serve."""
    return _adc_serve(catalog, index_table, "ivfpq", queries, k, nprobe,
                      rerank, id_col, emb_col, max_queries, distributed,
                      corpus_blocks, query_chunk, exclude_self)


#: index kind -> its serve; the one lookup behind :func:`ann_decontaminate`
#: and :func:`~lyssandra_spark.operators.search.hybrid_search_indexed`
#: (the kind's spec key is ``f"{kind}_spec"``, see :func:`_index_spec`)
_SERVES = {"ivf": ivf_topk_indexed, "pq": pq_topk_indexed,
           "ivfpq": ivfpq_topk_indexed}


def _serve_for(catalog, index_table: str, kind: str, arg: str,
               kinds=tuple(_SERVES)):
    """(serve, spec) for an index of ``kind``, loud on an unknown kind
    (``arg`` names the caller's parameter in the error)."""
    if kind not in kinds:
        raise ValueError(f"{arg} {kind!r} — pick one of {sorted(kinds)}")
    return _SERVES[kind], _index_spec(catalog, index_table, kind)


def ann_decontaminate(
    catalog, index_table: str, eval_embeddings: DataFrame,
    min_cosine: float = 0.95, k: int = 16, rerank: int | None = None,
    id_col: str | None = None, emb_col: str | None = None,
    method: str = "pq", **serve_kwargs,
) -> DataFrame:
    """Embedding-level benchmark decontamination over the persisted PQ
    (or ``method='ivfpq'``) index — the semantic sibling of
    :func:`~lyssandra_spark.functions.textstats.ngram_contamination`:
    it catches paraphrased/translated eval leakage sharing no 8-gram.

    Each eval example's top-``k`` ADC candidates are exactly re-ranked;
    corpus rows with cosine >= ``min_cosine`` to ANY eval example come
    back as ``(id_col, n_eval_hits, max_sim, worst_eval_id)`` — one row
    per contaminated CORPUS doc, ready to ``join(..., "left_anti")`` out
    of the training set and to audit. Deterministic given the artifacts.
    The eval set is the serve's QUERY side, so large suites auto-route
    to the no-collect distributed plan (``serve_kwargs`` pass
    ``distributed``/``corpus_blocks``/``nprobe`` through).

    Honest bound: a corpus doc is flagged only if it enters some eval
    example's top-``k`` — if MORE than ``k`` docs sit above
    ``min_cosine`` of one example, raise ``k`` or dedup first.
    ``rerank`` defaults to ``4 * k`` (the ADC candidate pool).
    """
    if not (-1.0 <= min_cosine <= 1.0):
        raise ValueError(f"min_cosine ({min_cosine}) must be in [-1, 1]")
    serve, spec = _serve_for(catalog, index_table, method, "method",
                             kinds=("pq", "ivfpq"))
    id_col = id_col or spec.get("id_col", "vec_id")
    # exclude_self=False: the eval table's ids may legitimately collide
    # with corpus ids (a benchmark carved from the corpus keeping its
    # ids) — the self-mask would hide exactly the most-contaminated docs
    hits = serve(
        catalog, index_table, eval_embeddings, k=k,
        rerank=(4 * k if rerank is None else rerank),
        id_col=id_col, emb_col=emb_col, exclude_self=False,
        **serve_kwargs,
    )
    return (
        hits.where(F.col("cos_sim") >= F.lit(float(min_cosine)))
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_eval_hits"),
            F.max("cos_sim").alias("max_sim"),
            F.max_by("qid", F.struct("cos_sim", (-F.col("qid")).alias("q")))
            .alias("worst_eval_id"),
        )
    )
