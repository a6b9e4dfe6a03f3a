"""Incremental near-duplicate detection over a persisted signature index.

A production training-data pipeline does NOT recompute 100 TB of
signatures every day: the daily job dedups a NEW shard against the
already-indexed corpus. This module composes the three LSH pair
families of :mod:`~lyssandra_spark.operators.dedup` — MinHash
(:func:`dedup_new_batch`), SimHash (:func:`simhash_new_batch`) and
hyperplane embedding-LSH (:func:`embneardup_new_batch`) — with the
snapshot catalog (:mod:`~lyssandra_spark.sources.catalog`):

- the index is ONE catalog table of per-doc signatures (``(id, sig)``,
  ``(id, simhash)`` or ``(id, emb, buckets)``). Bucket keys are a
  pure-JVM projection of the stored signature, so they are derived on
  read instead of persisted once per band/chunk/table;
- every generator runs the same batch lifecycle (``_signed_batch``) and
  keeps only its own parts: the params key, the sign function, the
  banding and the verification. The lifecycle validates the params
  against the chain head, then either replays a retried batch or runs
  dropDuplicates(id) -> anti-join against the prior snapshot -> sign
  (one vectorized pass over the NEW shard only) -> append with the
  params in the manifest meta. Candidates come from the one-shot
  generators' candidate step
  (:func:`~lyssandra_spark.operators.dedup._bucket_pairs`): new-vs-new
  plus new-vs-indexed bucket joins over the persisted snapshots, with
  the combined-population ``max_bucket`` cap. The indexed corpus never
  crosses Python again and its text is never re-read;
- the incremental invariant (pinned in the tests): the UNION of every
  batch's returned pairs equals the one-shot generator run once over
  the full corpus. It holds because signatures are deterministic in
  their params and every unordered pair {a, b} is emitted exactly
  once — by whichever batch indexed the LATER of the two docs.

Parameters that define the signature space are the index's identity:
they are recorded in the snapshot manifest ``meta`` on every write and
validated (exact match) against the newest snapshot carrying them on
every subsequent batch — mixing signature spaces would silently produce
buckets that never collide.

**Retry safety** (all three generators): the signature append is EAGER
but the returned ``pairs`` plan is lazy — a job that dies between the
two leaves the index holding this batch's signatures. Pass a stable
``batch_id`` (e.g. the orchestrator's run date) and a retried call
finds the half-done snapshot by its stamped id, SKIPS the re-append,
and pairs against the chain as it stood before it — byte-identical
output to a first-attempt success instead of a permanently doubled
signature set.

**Re-ingest safety**: ids already in the index (and duplicate ids
within the batch) are dropped before signing — the id IS the
document's identity, so re-feeding an indexed doc is a no-op, never a
second signature row silently fanning out every future batch's
verification join. A genuinely REVISED document under an old id needs
an index rebuild (or a new id): the anti-join keeps the original
signature by design.
"""

from __future__ import annotations

from typing import Callable

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lyssandra_spark.operators.dedup import (
    _bucket_pairs,
    _check_cap,
    _checked_embeddings,
    _cosine_pairs,
    _hamming_pairs,
    _jaccard_pairs,
    band_signatures,
    minhash_signatures,
    simhash,
    simhash_bands,
)
from lyssandra_spark.operators.graph import connected_components
from lyssandra_spark.sources.catalog import (
    consumer_needs_rebuild,
    incremental_chain_start,
)

__all__ = [
    "dedup_new_batch", "simhash_new_batch", "embneardup_new_batch",
    "refresh_aggregate", "update_components",
]


def _index_batch_state(catalog, table: str, prior: list, params: dict,
                       params_key: str, batch_id: str | None):
    """Shared head-params validation + retry-replay lookup for the
    signature-index batch operators. Returns (replay_entry_or_None,
    prior_as_of_if_replaying). Params are the index identity
    (signatures from different parameter spaces never collide) and the
    comparison is EXACT — an index written before a key joined the
    identity (e.g. ``text_col``/``emb_col``, added in round 8) fails
    validation on the next batch rather than silently grandfathering a
    column space nobody recorded; the remedy is a rebuild, as the
    error says; a stamped ``batch_id`` makes a retried batch find its
    half-done snapshot instead of appending twice (the module
    docstring's retry-safety contract)."""
    if prior:
        head = (catalog.latest_meta(table, params_key) or {}).get(params_key)
        if head != params:
            raise ValueError(
                f"{params_key} {params} do not match the index's {head}: "
                "signatures from different parameter spaces never collide — "
                "rebuild the index or reuse its parameters"
            )
    if batch_id is None:
        return None, None
    hits = [s for s in prior if s.get("meta", {}).get("batch_id") == batch_id]
    if len(hits) > 1:
        raise ValueError(
            f"batch_id {batch_id!r} appears on {len(hits)} snapshots — "
            "the index predates the retry guard or ids were reused"
        )
    if not hits:
        return None, None
    snap_id = hits[0]["id"]
    before = [s for s in prior if s["id"] < snap_id]
    return hits[0], (before[-1]["id"] if before else None)


def _signed_batch(
    catalog, table: str, new_rows: DataFrame, id_col: str,
    params_key: str, params: dict, batch_id: str | None,
    sign: Callable[[DataFrame], DataFrame],
    band: Callable[[DataFrame], DataFrame],
    keys: list[str], max_bucket: int | None, carry: tuple[str, ...] = (),
) -> tuple[DataFrame, int]:
    """The batch lifecycle of the three signature-index generators (see
    the module docstring): validate, replay or dedup -> anti-join ->
    ``sign`` -> append, then candidate pairs of the persisted new
    snapshot (new-vs-new) and the chain before it (new-vs-indexed), both
    ``band``-ed on read. Returns ``(candidates, snapshot_id)``."""
    _check_cap(max_bucket)  # before the append: a bad cap writes nothing
    prior = catalog.snapshots(table)
    # newest snapshot CARRYING the params (a compact() of the index
    # interposes an audit-only snapshot; the identity must survive)
    replay, prior_as_of = _index_batch_state(
        catalog, table, prior, params, params_key, batch_id
    )
    if replay is not None:
        snap_id = replay["id"]
    else:
        prior_as_of = prior[-1]["id"] if prior else None
        batch = new_rows.dropDuplicates([id_col])
        if prior_as_of is not None:
            indexed_ids = catalog.read(table, as_of=prior_as_of).select(id_col)
            batch = batch.join(indexed_ids, id_col, "left_anti")
        meta = {params_key: params}
        if batch_id is not None:
            meta["batch_id"] = batch_id
        snap_id = catalog.write(
            sign(batch), table, mode="append" if prior else "overwrite",
            meta=meta,
        )
    # both join sides read what was just persisted — the sign pass runs
    # exactly once per document, ever
    banded_new = band(catalog.read_snapshot(table, snap_id))
    banded_old = None
    if prior_as_of is not None:
        banded_old = band(catalog.read(table, as_of=prior_as_of))
    return _bucket_pairs(banded_new, keys, id_col, max_bucket,
                         old=banded_old, carry=carry), snap_id


def dedup_new_batch(
    catalog,
    table: str,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_perm: int = 32,
    bands: int = 8,
    ngram_bytes: int = 8,
    threshold: float = 0.5,
    seed: int = 7,
    max_bucket: int | None = None,
    batch_id: str | None = None,
) -> tuple[DataFrame, int]:
    """Dedup ``new_docs`` against the signature index in ``catalog[table]``
    (plus within the new shard itself), append the new signatures as a new
    snapshot, and return ``(pairs, snapshot_id)``.

    ``pairs`` is (id_a, id_b, est_jaccard) with id_a < id_b and
    est_jaccard >= threshold — every near-dup pair with at least one end
    in the new shard. The first call on an empty table is the bootstrap:
    it returns exactly ``minhash_lsh_pairs(new_docs)``.

    Scale shape: the new shard's signatures are computed once, WRITTEN
    first, and both sides of every join read persisted parquet — the
    pairs plan never re-runs the Python signature pass, and the indexed
    side is a (doc_id, sig) projection with band keys derived JVM-side.
    The new-vs-indexed join keys on (band, bh); a small daily shard
    against a huge index is exactly the broadcast/AQE-friendly shape.
    ``max_bucket`` (optional) drops candidate buckets whose COMBINED
    (indexed + new) size exceeds the cap — same recall trade-off as
    :func:`~lyssandra_spark.operators.dedup._cap_buckets`, measured on
    the true bucket population rather than per side. ``batch_id`` retry
    and re-ingest semantics: see the module docstring.
    """
    if n_perm % bands != 0:
        raise ValueError(f"n_perm ({n_perm}) must be divisible by bands ({bands})")
    # text_col is part of the identity: signatures computed from
    # different text columns live in different spaces and must never
    # silently append into one chain
    params = {
        "n_perm": n_perm, "bands": bands,
        "ngram_bytes": ngram_bytes, "seed": seed, "id_col": id_col,
        "text_col": text_col,
    }
    cand, snap_id = _signed_batch(
        catalog, table, new_docs, id_col, "lsh_params", params, batch_id,
        sign=lambda b: minhash_signatures(b, id_col, text_col, n_perm,
                                          ngram_bytes, seed),
        band=lambda s: band_signatures(s, id_col, n_perm, bands),
        keys=["band", "bh"], max_bucket=max_bucket,
    )
    # signature lookup for verification = the full chain incl. this batch
    sigs = catalog.read(table, as_of=snap_id)
    return _jaccard_pairs(cand, sigs, id_col, n_perm, threshold), snap_id


def simhash_new_batch(
    catalog,
    table: str,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    ngram_bytes: int = 4,
    max_bucket: int | None = None,
    batch_id: str | None = None,
) -> tuple[DataFrame, int]:
    """SimHash near-dup pairs of ``new_docs`` against the persisted
    (id, simhash) index in ``catalog[table]`` (plus within the new
    shard), appending the new hashes as a snapshot — the
    :func:`dedup_new_batch` pattern applied to the second pair
    generator, closing the standalone operator's full-corpus
    re-signature. Returns ``(pairs, snapshot_id)`` with pairs
    (id_a, id_b, hamming), id_a < id_b, hamming <= ``max_hamming``.

    The index holds ONE 8-byte hash per doc; pigeonhole chunk keys are
    derived on read (:func:`~lyssandra_spark.operators.dedup
    .simhash_bands` — a pure-JVM projection, the ``band_signatures``
    trick), so only ``ngram_bytes`` is the index identity and
    ``max_hamming`` can vary per call (keep it constant across batches
    for the union-equals-full-recompute invariant, which is pinned in
    pytest). ``batch_id`` retry and re-ingest semantics: see the module
    docstring. Uncapped, each batch's pairs are EXACT for its frontier
    (the pigeonhole argument is per-pair), so the union over batches
    equals :func:`~lyssandra_spark.operators.dedup.simhash_neardup_pairs`
    over the full corpus — each unordered pair emitted once, by the
    batch that indexed the later doc.

    At 100 TB: per batch, one vectorized simhash pass over the NEW
    shard only, one append, and bucket-joins whose indexed side is an
    (id, simhash) projection — corpus text never re-read, hashes never
    recomputed.
    """
    params = {"ngram_bytes": ngram_bytes, "id_col": id_col,
              "text_col": text_col}
    cand, snap_id = _signed_batch(
        catalog, table, new_docs, id_col, "simhash_params", params, batch_id,
        sign=lambda b: simhash(b, id_col, text_col, ngram_bytes),
        band=lambda s: simhash_bands(s, id_col, "simhash", max_hamming),
        keys=["ci", "cv"], max_bucket=max_bucket, carry=("simhash",),
    )
    return _hamming_pairs(cand, max_hamming), snap_id


def embneardup_new_batch(
    catalog,
    table: str,
    new_vecs: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 16,
    min_cosine: float = 0.9,
    seed: int = 11,
    n_tables: int = 1,
    max_bucket: int | None = None,
    batch_id: str | None = None,
) -> tuple[DataFrame, int]:
    """Cosine near-dup pairs of ``new_vecs`` against the persisted
    embedding-LSH index — the third pair generator brought under the
    :func:`dedup_new_batch` shape. The index holds (id, embedding,
    buckets): the multi-table sign-sketch buckets are computed ONCE at
    ingest (:func:`~lyssandra_spark.operators.similarity
    .hyperplane_bucket_arrays` — one array<long>, not n_tables exploded
    copies of the vector) and banded back out on read with a pure-JVM
    ``posexplode``. Candidate generation joins (tbl, bucket) keys
    new-vs-new and new-vs-indexed; exact cosine verification re-joins
    embeddings for surviving deduped pairs only. Returns ``(pairs,
    snapshot_id)`` with pairs (id_a, id_b, cosine) >= ``min_cosine``.

    Plane identity: the (dim, n_planes, n_tables, seed) draw IS the
    bucket space, so those are the manifest-validated index params;
    ``min_cosine`` is a per-call verification threshold (constant
    across batches for the union-equals-full invariant, as with
    ``threshold`` in :func:`dedup_new_batch`). A vector whose width !=
    ``dim`` fails the append ("width != dim"). ``batch_id`` retry and
    re-ingest semantics: see the module docstring. At 100 TB the
    historical corpus is never re-projected: per batch, one GEMM-or-
    expression bucket pass over the new shard, one append, keyed joins.
    """
    from lyssandra_spark.operators.similarity import hyperplane_bucket_arrays

    if n_tables < 1:
        raise ValueError(f"n_tables ({n_tables}) must be >= 1")
    params = {"dim": dim, "n_planes": n_planes, "n_tables": n_tables,
              "seed": seed, "id_col": id_col, "emb_col": emb_col}
    # same stacked draw as embedding_neardup_pairs: bit-identical
    # buckets, so incremental and one-shot candidates coincide
    planes = np.random.default_rng(seed).standard_normal((n_tables, n_planes, dim))
    cand, snap_id = _signed_batch(
        catalog, table, new_vecs, id_col, "emblsh_params", params, batch_id,
        sign=lambda b: hyperplane_bucket_arrays(
            _checked_embeddings(b, id_col, emb_col, dim), planes, "emb",
            keep=[id_col, "emb"]),
        band=lambda s: s.select(
            id_col, F.posexplode("buckets").alias("tbl", "bucket")),
        keys=["tbl", "bucket"], max_bucket=max_bucket,
    )
    # embedding lookup for verification = the full chain incl. this batch
    embs = catalog.read(table, as_of=snap_id)
    return _cosine_pairs(cand, embs, id_col, min_cosine), snap_id


def update_components(
    catalog,
    table: str,
    new_pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    broadcast_limit: int = 5_000_000,
    **cc_kwargs,
) -> int:
    """Incremental cluster maintenance: keep a persisted ``(id,
    component)`` label table equal to
    :func:`~lyssandra_spark.operators.graph.connected_components` over
    the UNION of every pair batch ever folded in — without re-running CC
    over all pairs each batch. This is the composition
    :func:`dedup_new_batch` was missing: pair GENERATION is incremental,
    and now turning pairs into retention decisions is too. Returns the
    label table's snapshot id (unchanged if the batch changed nothing).

    Frontier-only relabeling: each existing component is CONTRACTED to
    its label (one super-node), so the graph CC actually runs on has one
    node per *touched* component plus the genuinely new ids — the
    frontier — never the full corpus. Because labels are canonical
    minimum-member ids, the contracted graph's min-label components are
    exactly the merged components' true minimum ids, so incremental
    labels are bit-identical to a full recompute. The relabel delta is
    built with a BROADCAST join of the (old label -> new label) map
    against the label table — untouched components are never shuffled
    (plan-asserted in pytest) — and only rows whose label actually
    changed go through the catalog's keyed merge. New-pair endpoints
    never seen before enter as new label rows. The broadcast is
    GUARDED: if the remap exceeds ``broadcast_limit`` rows (a bulk
    backfill routed through the incremental path instead of the
    bootstrap branch, where the frontier ~ the corpus), the relabel
    falls back to a shuffle join — labels identical, driver intact —
    instead of OOMing the driver on a corpus-scale broadcast. The
    count probing the size is cheap: ``connected_components`` returns
    a localCheckpointed result.

    At 100 TB: per batch this costs one bounded CC over the contracted
    frontier graph + one broadcast-join scan of the label table; the
    daily near-dup job therefore never re-runs graph propagation over a
    year of accumulated pairs. (Isolated docs never appear in pairs and
    are never stored — singletons are implicit, as in
    ``connected_components`` itself.)
    """
    pairs = new_pairs.select(src, dst)
    prior = catalog.snapshots(table)
    if not prior:
        labels = connected_components(pairs, src=src, dst=dst, **cc_kwargs)
        return catalog.write(labels, table, mode="overwrite")

    labels = catalog.read(table)  # (id, component)
    head = prior[-1]["id"]
    # map every pair endpoint to its super-node: the existing component
    # label, or the id itself if never seen before
    ends = (
        pairs.select(F.col(src).alias("id"))
        .unionByName(pairs.select(F.col(dst).alias("id")))
        .distinct()
    )
    m = ends.join(labels, "id", "left").select(
        "id",
        F.col("component").isNotNull().alias("__known"),
        F.coalesce("component", F.col("id")).alias("node"),
    )
    contracted = (
        pairs.join(m.select(F.col("id").alias(src),
                            F.col("node").alias("u")), src)
        .join(m.select(F.col("id").alias(dst),
                       F.col("node").alias("v")), dst)
        .select("u", "v")
        .where(F.col("u") != F.col("v"))  # already same component: no-op
    )
    # the frontier graph is tiny (touched components + new ids); its CC
    # result is the (super-node -> new canonical label) map
    remap = connected_components(
        contracted, src="u", dst="v", **cc_kwargs
    ).select(F.col("id").alias("node"), F.col("component").alias("__new"))
    # size-guard the remap before broadcasting: daily frontiers are tiny
    # (broadcast — the label table is scanned once, never shuffled), but
    # a corpus-scale remap must shuffle-join instead of OOMing the
    # driver. The count reads the CC result's checkpointed blocks.
    remap_j = (
        F.broadcast(remap) if remap.count() <= broadcast_limit else remap
    )

    # relabel members of touched components; keep only real changes
    changed_old = (
        labels.join(remap_j, labels["component"] == remap_j["node"])
        .where(F.col("component") != F.col("__new"))
        .select("id", F.col("__new").alias("component"))
    )
    # endpoints never seen before get their first label. Every new id is
    # guaranteed a remap row: its super-node is the id itself, and its
    # contracted edge to any neighbor survives the u != v filter (an
    # unseen id can never equal an existing component's label, which is
    # the id of an already-labeled member).
    new_labeled = (
        m.where(~F.col("__known"))
        .join(remap_j, "node")
        .select("id", F.col("__new").alias("component"))
    )
    delta = changed_old.unionByName(new_labeled).localCheckpoint(eager=True)
    if delta.rdd.isEmpty():
        return head  # nothing changed: no new snapshot
    return catalog.merge(delta, table, keys="id")


def refresh_aggregate(
    catalog,
    src_table: str,
    agg_table: str,
    keys,
    sum_cols,
    count_col: str = "n_rows",
) -> int:
    """Materialized-view-style incremental aggregate maintenance: keep
    ``agg_table`` = ``src_table.groupBy(keys).agg(sum(sum_cols), count)``
    up to date by folding ONLY the source snapshots appended since the
    last refresh — the daily-stats job that must not rescan 100 TB.

    Mechanics: the agg table's snapshot meta records ``agg_last_snap``
    (the newest source snapshot folded in). A refresh reads just the
    delta snapshots via :meth:`ParquetCatalog.read_snapshot` (the
    incremental scan), partially aggregates them (map-side combine; the
    delta is the only thing shuffled), re-sums against the CURRENT agg
    rows (sum-of-sums — sums and counts are the mergeable aggregates,
    which is why this maintains exactly those), and lands one overwrite
    snapshot, so time-travel still exposes every prior refresh. No new
    source snapshots -> no-op (returns the current agg snapshot id). A
    source OVERWRITE resets its chain, so the refresh detects it and
    recomputes from scratch rather than folding deltas onto stale state
    — except a ``compact()`` whose folded snapshots were all already
    aggregated, which is audit-only for this consumer (no rebuild,
    skipped by the delta scan; see :func:`~lyssandra_spark.sources
    .catalog.incremental_chain_start`). A delta expire()d before the
    refresh saw it routes to the same recompute (its rows live on
    through the cumulative chain read).
    The watermark is read via :meth:`ParquetCatalog.latest_meta`, so a
    ``compact()`` of the AGG table itself (an audit-only snapshot that
    doesn't re-state the meta) never tricks the next refresh into a
    spurious rebuild.
    """
    keys = [keys] if isinstance(keys, str) else list(keys)
    sum_cols = [sum_cols] if isinstance(sum_cols, str) else list(sum_cols)
    src_snaps = catalog.snapshots(src_table)
    if not src_snaps:
        raise FileNotFoundError(f"no snapshots for source {src_table!r}")
    newest = src_snaps[-1]["id"]

    def partial(df):
        return df.groupBy(*keys).agg(
            *[F.sum(c).alias(f"sum_{c}") for c in sum_cols],
            F.count("*").alias(count_col),
        )

    agg_snaps = catalog.snapshots(agg_table)
    # watermark survives an audit-only compact() of the agg table itself
    agg_meta = (
        (catalog.latest_meta(agg_table, "agg_last_snap") or {})
        if agg_snaps else {}
    )
    last = agg_meta.get("agg_last_snap")
    spec = {"src": src_table, "keys": keys, "sum_cols": sum_cols}
    # a found-but-different spec is corruption (loud error); NO spec
    # found means the watermark died at a destructive overwrite (user
    # reset) — that is the full-rebuild path below, not a mismatch
    if agg_snaps and agg_meta:
        head_spec = agg_meta.get("agg_spec")
        if head_spec != spec:
            # snapshot ids from one table are meaningless in another's id
            # space, and a different grouping would fold apples onto
            # oranges — same loud-mismatch policy as dedup_new_batch's
            # lsh_params check
            raise ValueError(
                f"refresh spec {spec} does not match the agg table's "
                f"{head_spec} — use a different agg_table or rebuild"
            )
    meta = {"agg_spec": spec, "agg_last_snap": newest}
    # rebuild on: dead/absent watermark, genuine source overwrite, or
    # an expired-before-folded delta; audit-only compactions land in
    # ``skip`` so the delta scan (which has no keyed re-ingest guard
    # and would double-count) never re-reads them (shared
    # consumer_needs_rebuild rule)
    needs_rebuild, skip = consumer_needs_rebuild(src_snaps, last)
    if needs_rebuild:
        # first build, or the source chain was overwritten under us
        return catalog.write(
            partial(catalog.read(src_table)), agg_table,
            mode="overwrite", meta=meta,
        )
    if last >= newest:
        return agg_snaps[-1]["id"]  # nothing new: no-op
    delta = None
    for s in src_snaps:
        if s["id"] <= last or s["id"] in skip:
            continue
        # project to the aggregation inputs: prunes the scan AND makes
        # the union immune to the add-column schema evolution the
        # catalog's append guard explicitly permits
        piece = catalog.read_snapshot(src_table, s["id"]).select(
            *keys, *sum_cols
        )
        delta = piece if delta is None else delta.unionByName(piece)
    if delta is None:
        # everything new was an audit-only compaction: no rows to fold,
        # advance the watermark only (no data dir)
        return catalog.write(
            catalog.read(agg_table).limit(0), agg_table,
            mode="append", meta=meta,
        )
    merged = partial(delta).unionByName(catalog.read(agg_table)).groupBy(
        *keys
    ).agg(
        *[F.sum(f"sum_{c}").alias(f"sum_{c}") for c in sum_cols],
        F.sum(count_col).alias(count_col),
    )
    return catalog.write(merged, agg_table, mode="overwrite", meta=meta)
