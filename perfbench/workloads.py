"""The benchmark's four workloads, each driven through the library's
public functions.

The runner calls these methods of a workload:

- ``fill``   — the input cache fill (untimed, part of set-up);
- ``warmup`` — the untimed warm-up jobs that end set-up;
- ``job``    — one timed job; returns ``(rows, digest)``, where ``digest``
  is a row count plus an order-insensitive hash of the output, taken with
  ``DataFrame.observe`` inside the same job (no extra Spark job);
- ``traced_job`` — the same job with spans around its layer calls;
- ``check``  — runs outside the timed region: computes the output once
  more, verifies it against an independent oracle, and returns the
  reference digest every timed job must reproduce (or one per job, where
  each job's output differs) plus the failures found;
- ``trace``  — the traced run's per-layer measurements.
"""

from __future__ import annotations

import os
import statistics
import time
from contextlib import nullcontext

import duckdb
import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lyssandra_spark.functions import kernels as K
from lyssandra_spark.functions.embed import arrow_string_buffer, embed_buffer
from lyssandra_spark.operators.encode import encode_block, sparse_code
from lyssandra_spark.operators.windows import dedup_latest, sessionize, with_lag
from lyssandra_spark.plans import pipeline as P
from lyssandra_spark.plans import queries as Q
from lyssandra_spark.sources import synth
from spans import layer_units

_HASH_MOD = 1_000_000_007


# -- output digests -----------------------------------------------------------

def _digest_hash(df: DataFrame):
    """xxhash64 over every column, doubles rounded to 1e-6 so partial
    aggregates merged in a different order still hash equal."""
    cols = []
    for f in df.schema.fields:
        c, t = F.col(f"`{f.name}`"), f.dataType
        if isinstance(t, (T.DoubleType, T.FloatType)):
            c = F.round(c, 6)
        elif isinstance(t, T.ArrayType) and isinstance(
                t.elementType, (T.DoubleType, T.FloatType)):
            c = F.transform(c, lambda x: F.round(x, 6))
        cols.append(c)
    return F.pmod(F.xxhash64(*cols), F.lit(_HASH_MOD))


def observed(df: DataFrame, *extra) -> tuple[DataFrame, Observation]:
    obs = Observation()
    return df.observe(
        obs, F.count(F.lit(1)).alias("rows"),
        F.sum(_digest_hash(df)).alias("hash"), *extra), obs


def sink(df: DataFrame, *extra) -> dict:
    """Force ``df`` through the noop sink; return its digest."""
    o, obs = observed(df, *extra)
    o.write.format("noop").mode("overwrite").save()
    return dict(obs.get)


def corrupt(df: DataFrame) -> DataFrame:
    """Drop about one row in seven (smoke-test hook: outputs go wrong)."""
    return df.where(F.pmod(_digest_hash(df), F.lit(7)) != 0)


def _digest_key(d: dict) -> tuple:
    return (d.get("rows"), d.get("hash"))


# -- shared helpers -----------------------------------------------------------

def _time(fn, reps: int, agg=statistics.median) -> float:
    ts = []
    for _ in range(reps):
        t = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t)
    return agg(ts)


def _duck(ctx) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in ("events", "orders", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{ctx.input_dir}/{t}.parquet')")
    return con


def kernel_sample_metrics(ctx, versions) -> dict:
    """Driver-side timings of embed_buffer, batch_omp_sparse and
    fista_lasso on one fixed Arrow sample (the first 512 documents)."""
    tbl = pq.read_table(f"{ctx.input_dir}/documents.parquet", columns=["text"])
    arr = tbl.column("text").combine_chunks().slice(0, 512)
    data, offsets = arrow_string_buffer(arr)
    n = len(arr)
    X = embed_buffer(data, offsets).T.copy()
    v = versions[0]
    m = v.D.shape[1]
    t_embed = _time(lambda: embed_buffer(data, offsets), 5)
    t_bomp = _time(lambda: K.batch_omp_sparse(v.D, X, k=5, G=v.G), 5)
    iters = 100  # tol 1e-7 never stops this config early (kernels.py)
    t_fista = _time(
        lambda: K.fista_lasso(v.D, X, lam=0.1, n_iter=iters, tol=1e-7), 3)
    return {
        "embed.us_per_row": t_embed / n * 1e6,
        "kernels.bomp_us_per_row": t_bomp / n * 1e6,
        "kernels.fista_us_per_row": t_fista / n * 1e6,
        "kernels.fista_gflop_per_s": 2.0 * m * m * n * iters / t_fista / 1e9,
    }


def prefix_layers(tracer, prefixes) -> dict:
    """Force each plan prefix through the noop sink in its own span and
    attribute consecutive differences to layers.

    ``prefixes`` is a list of ``(layer, thunk)``; prefix i's cost (the
    faster of two runs) minus prefix i-1's is charged to ``layer``.
    Returns per-layer sums of self_s and the stage keys, plus each
    prefix's digest.
    """
    out, prev, digests = {}, None, []
    for layer, thunk in prefixes:
        runs = []
        for _ in range(2):  # keep the faster of two runs of each prefix
            with tracer.span(f"isolate.{layer}", spark_layer=True) as sp:
                d = sink(thunk())
            runs.append({"self_s": sp["end"] - sp["start"], **sp["stage"]})
        digests.append(d)
        cur = min(runs, key=lambda r: r["self_s"])
        for k, v in cur.items():
            if k == "max_stage_tasks":
                continue
            out[f"{layer}.{k}"] = out.get(f"{layer}.{k}", 0) + v - (
                prev[k] if prev else 0)
        prev = cur
    return out, digests


def encode_split(tracer, src: DataFrame, encode) -> dict:
    """The encode leg's four-way split over a cached input ``src``:
    scan, identity Arrow crossing, embed-only, and the kernel remainder
    (each leg the faster of two runs)."""
    schema = src.schema
    text_pos = schema.fieldNames().index("text")

    def identity(it):
        yield from it

    def embed_only(it):
        for b in it:
            buf = arrow_string_buffer(b.column(text_pos))
            if buf is not None:
                embed_buffer(buf[0], buf[1])
            yield b

    legs = {}
    for name, df in (
        ("scan", src),
        ("identity", src.mapInArrow(identity, schema)),
        ("embed", src.mapInArrow(embed_only, schema)),
        ("encode", encode(src)),
    ):
        with tracer.span(f"isolate.split.{name}"):
            legs[name] = _time(lambda df=df: sink(df), 2, min)
    return {
        "encode.scan_s": legs["scan"],
        "encode.arrow_crossing_s": legs["identity"] - legs["scan"],
        "embed.column_s": legs["embed"] - legs["identity"],
        "kernels.remainder_s": legs["encode"] - legs["embed"],
    }


# -- workloads ----------------------------------------------------------------

class Workload:
    """Defaults shared by the plan-per-job workloads."""

    def warmup(self, spark, ctx):
        # the first job after session start runs cold (JIT, Python worker
        # start-up) and the next ones still speed up while the JVM compiles
        # hot paths; three jobs flatten most of that curve
        for _ in range(3):
            self.job(spark, ctx)

    def traced_job(self, spark, ctx, tracer):
        with tracer.span("job", spark_layer=True):
            return self.job(spark, ctx)


def _us(series) -> np.ndarray:
    """Timestamps from ``toPandas`` (naive, session time zone UTC) as
    microseconds since the epoch."""
    return series.to_numpy().astype("datetime64[us]").astype(np.int64)


class Flagship(Workload):
    """``plans.pipeline.flagship`` end to end, forced through a noop sink."""

    name = "flagship"
    sizes = dict(events=24000, users=360, documents=1000, embeddings=1000,
                 orders=1000, customers=100)

    def fill(self, spark, ctx):
        # warms the input files and counts the input turns (rows/job)
        self.turns = synth.transcripts(spark, ctx.input_dir, with_dups=True).count()

    def plan(self, spark, ctx):
        out = P.flagship(spark, ctx.input_dir)
        return corrupt(out) if ctx.corrupt else out

    def job(self, spark, ctx):
        return self.turns, sink(self.plan(spark, ctx))

    def check(self, spark, ctx):
        o, obs = observed(self.plan(spark, ctx))
        got = o.toPandas()
        fails = []
        # skeleton oracle: DuckDB over the same synthesized transcripts
        skel = os.path.join(ctx.work_dir, "transcripts_skel")
        synth.transcripts(spark, ctx.input_dir, with_dups=True) \
            .write.mode("overwrite").parquet(skel)
        sql = P.SKELETON_ORACLE_SQL.replace(P.SKELETON_PATH, skel)
        want = duckdb.sql(sql).df()
        g = got.groupby(["conv_id", "session_id"]).n_turns.sum().sort_index()
        w = want.set_index(["conv_id", "session_id"]).n_turns.sort_index()
        if not (g.index.equals(w.index) and (g.to_numpy() == w.to_numpy()).all()):
            fails.append("flagship sessions differ from the DuckDB skeleton")
        # zero leakage: no group starts before its dictionary version
        versions = synth.build_dict_versions(ctx.input_dir, n_atoms=128)
        vf = {v.version: v.valid_from_us for v in versions}
        leaks = sum(1 for ver, s in zip(got.dict_version, _us(got.session_start))
                    if ver not in vf or s < vf[ver])
        if leaks:
            fails.append(f"{leaks} flagship groups start before valid_from")
        return dict(obs.get), fails

    def trace(self, spark, ctx, tracer):
        d = ctx.input_dir
        with tracer.span("isolate.synth.build_dict_versions"):
            t = time.perf_counter()
            versions = synth.build_dict_versions(d, n_atoms=128)
            dict_s = time.perf_counter() - t

        def p1():
            return synth.transcripts(spark, d, with_dups=True)

        def p2():
            t_ = dedup_latest(p1(), ["conv_id", "turn_idx"], ["ts", "role"])
            return sessionize(t_, gap_seconds=1800, part="conv_id", ts_col="ts")

        def p3():
            return sparse_code(p2(), versions, algo="bomp", k=5)

        def p4():
            return with_lag(p3(), "recon_err", part="conv_id", order="turn_idx")

        def p5():
            return p4().groupBy("conv_id", "session_id", "dict_version").agg(
                F.count("*").alias("n_turns"),
                F.avg("nnz").alias("avg_nnz"),
                F.avg("recon_err").alias("avg_recon_err"),
                F.avg(F.abs(F.col("recon_err") - F.col("lag1_recon_err")))
                .alias("avg_err_drift"),
                F.min("ts").alias("session_start"),
                F.max("ts").alias("session_end"),
            ).orderBy("conv_id", "session_id", "dict_version")

        m, digests = prefix_layers(tracer, [
            ("synth", p1), ("windows", p2), ("encode", p3),
            ("windows", p4), ("pipeline", p5)])
        m["synth.self_s"] += dict_s
        enc = sink(p3(), F.sum("nnz").alias("nnz"))
        m["encode.nnz_per_row"] = enc["nnz"] / enc["rows"]
        m["windows.rows_out_per_row_in"] = digests[1]["rows"] / digests[0]["rows"]
        src = p2().cache()
        try:
            src.count()
            m.update(encode_split(
                tracer, src, lambda s: sparse_code(s, versions, algo="bomp", k=5)))
        finally:
            src.unpersist()
        m.update(kernel_sample_metrics(ctx, versions))
        # the runner checks the last prefix against the flagship's own
        # output digest: the decomposition must stay the flagship's plan
        self.prefix_digest = digests[-1]
        return m


class EncodeFista(Workload):
    """``sparse_code`` with FISTA over cached transcripts, noop sink."""

    name = "encode_fista"
    sizes = dict(events=6000, users=90, documents=1000, embeddings=1000,
                 orders=1000, customers=100)
    kw = dict(algo="fista", lam=0.1, fista_iter=100, fista_tol=1e-7,
              drop_text=True)

    def fill(self, spark, ctx):
        self.versions = synth.build_dict_versions(ctx.input_dir, n_atoms=128)
        self.src = synth.transcripts(spark, ctx.input_dir).cache()
        self.turns = self.src.count()

    def plan(self, ctx):
        out = sparse_code(self.src, self.versions, **self.kw)
        return corrupt(out) if ctx.corrupt else out

    def job(self, spark, ctx):
        return self.turns, sink(self.plan(ctx))

    def check(self, spark, ctx):
        o, obs = observed(self.plan(ctx))
        got = o.toPandas().set_index(["conv_id", "turn_idx"])
        sample = (
            self.src.where(F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(97)) == 0)
            .orderBy("conv_id", "turn_idx").limit(64).toPandas()
        )
        ts_us = _us(sample.ts)
        kw = {k: v for k, v in self.kw.items() if k != "drop_text"}
        want = encode_block(sample.text.tolist(), ts_us, self.versions, **kw)
        n_atoms = self.versions[0].D.shape[1]
        bad = 0
        for i, key in enumerate(zip(sample.conv_id, sample.turn_idx)):
            if key not in got.index:
                bad += 1
                continue
            row = got.loc[key]
            a = np.zeros(n_atoms)
            a[np.asarray(row.code_idx, dtype=int)] = row.code_val
            b = np.zeros(n_atoms)
            lo, hi = want["offsets"][i], want["offsets"][i + 1]
            b[want["code_idx"][lo:hi]] = want["code_val"][lo:hi]
            if (row.dict_version != want["dict_version"][i]
                    or not np.allclose(a, b, rtol=1e-6, atol=1e-9)):
                bad += 1
        fails = [f"{bad}/{len(sample)} sampled FISTA codes differ from "
                 "encode_block"] if bad or sample.empty else []
        if len(got) != self.turns:  # sparse_code maps every turn to one row
            fails.append(f"{len(got)} encoded rows for {self.turns} turns")
        return dict(obs.get), fails

    def trace(self, spark, ctx, tracer):
        m, _ = prefix_layers(tracer, [
            ("synth", lambda: self.src),
            ("encode", lambda: sparse_code(self.src, self.versions, **self.kw))])
        enc = sink(sparse_code(self.src, self.versions, **self.kw),
                   F.sum("nnz").alias("nnz"))
        m["encode.nnz_per_row"] = enc["nnz"] / enc["rows"]
        m.update(encode_split(
            tracer, self.src, lambda s: sparse_code(s, self.versions, **self.kw)))
        m.update(kernel_sample_metrics(ctx, self.versions))
        return m


class AsofBackward(Workload):
    """Backward broadcast as-of of events against the deduped orders
    (``queries.asof_backward_latest_order``), noop sink."""

    name = "asof_backward"
    # users above the customer range have no orders: ~1/6 of events
    # stay unmatched (asof.match_rate ~0.83)
    sizes = dict(events=480000, users=7200, documents=600, embeddings=600,
                 orders=120000, customers=6000)

    def fill(self, spark, ctx):
        self.events = spark.read.parquet(f"{ctx.input_dir}/events.parquet").count()
        spark.read.parquet(f"{ctx.input_dir}/orders.parquet").count()

    def plan(self, spark, ctx):
        out = Q.asof_backward_latest_order(spark, ctx.input_dir)
        return corrupt(out) if ctx.corrupt else out

    def job(self, spark, ctx):
        return self.events, sink(self.plan(spark, ctx))

    def check(self, spark, ctx):
        o, obs = observed(self.plan(spark, ctx))
        got = o.toPandas()
        sql = Q.ORACLE_SQL["asof_backward_strategies"]
        cut = sql.index("SELECT 'broadcast'")
        want = _duck(ctx).execute(sql[:cut] + "SELECT * FROM j").df()
        # one output row per event: compare column by column in event order
        a, b = (df.sort_values("event_id").reset_index(drop=True) for df in (got, want))
        same = len(a) == len(b) and all(
            np.array_equal(a[c].to_numpy(float), b[c].to_numpy(float), equal_nan=True)
            for c in ("event_id", "o_orderkey", "o_totalprice"))
        fails = [] if same else ["asof output differs from the DuckDB ASOF LEFT JOIN"]
        return dict(obs.get), fails

    def trace(self, spark, ctx, tracer):
        d = ctx.input_dir

        def dim():
            return Q._asof_dim(spark, d)

        m, _ = prefix_layers(tracer, [
            ("windows", dim),
            ("asof", lambda: Q.asof_backward_latest_order(spark, d))])
        with tracer.span("isolate.asof.probe", spark_layer=True) as sp:
            got = sink(Q.asof_backward_latest_order(spark, d), F.sum(
                F.col("o_orderkey").isNotNull().cast("long")).alias("matched"))
        m["asof.probe_tasks"] = sp["stage"]["max_stage_tasks"]
        m["asof.match_rate"] = got["matched"] / got["rows"]
        return m


class DailyCuration(Workload):
    """Daily incremental curation into a fresh ``ParquetCatalog``.

    Each day: dedup_new_batch -> update_components -> catalog.write ->
    refresh_aggregate, then the day's embeddings are appended,
    refresh_ivf_index folds them and a fixed query set is served with
    ivf_topk_indexed. Set-up runs day 0 (the bootstrap); the timed loop
    runs the following days; month-end runs retain_best_with_labels ->
    compact -> expire.
    """

    name = "daily_curation"
    sizes = dict(events=1000, users=20, documents=1500, embeddings=1500,
                 orders=1000, customers=100)
    n_days = 6
    lsh = dict(n_perm=32, bands=8, threshold=0.3, ngram_bytes=8)
    ivf = dict(n_cells=32, sample_rows=256, seed=23, refine_iters=0)
    tables = ("sigs", "labels", "docs", "daily_stats", "vecs", "ivf")
    twin_offset = 10_000_000
    layers = ["incremental", "graph", "ann_index", "catalog"]
    # per-layer metrics only this workload emits (run.py adds them)
    layer_units = {
        **layer_units(layers),
        "incremental.pairs_per_batch": "pairs/batch",
        "incremental.jobs_per_batch": "jobs/batch",
        "ann_index.jobs_per_refresh": "jobs/refresh",
        "catalog.bytes_written": "B/batch",
        "catalog.files_written": "files/batch",
        "catalog.snapshots": "count",
        "catalog.maintenance_s": "s",
        "catalog.bytes_per_row": "B/row",
    }

    def fill(self, spark, ctx):
        route = F.lit(f"route-{ctx.seed}")
        docs = (
            spark.read.parquet(f"{ctx.input_dir}/documents.parquet")
            .select("doc_id", "text")
            .withColumn("quality", (F.xxhash64("doc_id", route) % 1000) / 1000.0)
        )
        # plant near-duplicate twins: every 6th doc gets a tweaked copy
        twins = docs.where(F.col("doc_id") % 6 == 0).select(
            (F.col("doc_id") + self.twin_offset).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" tail tweak")).alias("text"),
            "quality")
        n = self.n_days
        self.corpus = (
            docs.unionByName(twins)
            .withColumn("day", F.pmod(F.xxhash64("doc_id", route), F.lit(n)))
            .cache())
        emb = spark.read.parquet(f"{ctx.input_dir}/embeddings.parquet") \
            .select("vec_id", "embedding")
        # day 0 holds the IVF trainers' whole sample (the first sample_rows
        # ids in xxhash64 order), so the index built on day 0 and the
        # per-call operator over any later corpus train on the same rows
        head = [r.vec_id for r in emb.select("vec_id").orderBy(
            F.xxhash64("vec_id"), "vec_id").limit(self.ivf["sample_rows"]).collect()]
        self.emb = emb.withColumn(
            "day",
            F.when(F.col("vec_id").isin(head), F.lit(0)).otherwise(
                F.pmod(F.xxhash64("vec_id", route), F.lit(n)))).cache()
        self.queries = self.emb.where(F.col("day") == 0) \
            .orderBy("vec_id").limit(8).select("vec_id", "embedding").cache()
        self.doc_rows = dict(self.corpus.groupBy("day").count().collect())
        self.emb.count()
        self.queries.count()

    def new_month(self, spark, ctx):
        from lyssandra_spark.sources.catalog import ParquetCatalog

        root = os.path.join(ctx.work_dir, "warehouse")
        self.cat = ParquetCatalog(spark, root)
        self.root = root
        self.day = 0
        self.serves = []
        self.maint = None
        self.pairs_seen, self.traced_days, self.files0 = [], 0, None

    def run_day(self, spark, ctx, tracer=None):
        from lyssandra_spark.operators.ann_index import (
            ivf_topk_indexed,
            refresh_ivf_index,
        )
        from lyssandra_spark.operators.incremental import (
            dedup_new_batch,
            refresh_aggregate,
            update_components,
        )

        span = tracer.span if tracer else _null_span
        r, cat = self.day, self.cat
        batch = self.corpus.where(F.col("day") == r).drop("day")
        with span("incremental.dedup_new_batch", spark_layer=True):
            pairs, _ = dedup_new_batch(cat, "sigs", batch, batch_id=f"day{r}",
                                       **self.lsh)
        with span("incremental.update_components", spark_layer=True):
            update_components(cat, "labels", pairs)
        if tracer:
            self.pairs_seen.append(pairs.count())
        with span("catalog.write", spark_layer=True):
            cat.write(batch.withColumn("day", F.lit(r)), "docs", mode="append")
        with span("incremental.refresh_aggregate", spark_layer=True):
            refresh_aggregate(cat, "docs", "daily_stats", keys="day",
                              sum_cols="quality")
        with span("catalog.write", spark_layer=True):
            cat.write(self.emb.where(F.col("day") == r).drop("day"), "vecs",
                      mode="append")
        with span("ann_index.refresh_ivf_index", spark_layer=True):
            refresh_ivf_index(cat, "vecs", "ivf", **self.ivf)
        with span("ann_index.ivf_topk_indexed", spark_layer=True):
            served = ivf_topk_indexed(cat, "ivf", self.queries, k=5, nprobe=4)
            self.serves.append(sink(corrupt(served) if ctx.corrupt else served))
        self.day += 1
        return self.doc_rows.get(r, 0), self.serves[-1]

    def warmup(self, spark, ctx):
        self.new_month(spark, ctx)
        self.run_day(spark, ctx)

    def job(self, spark, ctx, tracer=None):
        if self.day >= self.n_days:
            raise RuntimeError("daily_curation ran out of days")
        return self.run_day(spark, ctx, tracer)

    def traced_job(self, spark, ctx, tracer):
        if self.files0 is None:  # parquet files present before the first traced day
            self.files0 = _data_files(self.root)
        with tracer.span("day"):
            out = self.job(spark, ctx, tracer)
        self.traced_days += 1
        return out

    def maintenance(self, spark, ctx, tracer=None):
        """Month end: retain -> compact -> expire. Returns (seconds,
        retained digest, per-table read counts before and after)."""
        from lyssandra_spark.operators.graph import retain_best_with_labels

        span = tracer.span if tracer else _null_span
        cat = self.cat
        seen = self.corpus.where(F.col("day") < self.day).drop("day")
        before = {t: cat.read(t).count() for t in self.tables}
        t0 = time.perf_counter()
        with span("graph.retain_best_with_labels", spark_layer=True):
            kept = sink(retain_best_with_labels(seen, cat.read("labels"),
                                                score_col="quality"))
        with span("catalog.compact", spark_layer=True):
            for t in self.tables:
                cat.compact(t)
        with span("catalog.expire", spark_layer=True):
            for t in self.tables:
                cat.expire(t)
        secs = time.perf_counter() - t0
        after = {t: cat.read(t).count() for t in self.tables}
        return secs, kept, before, after, seen

    def check(self, spark, ctx):
        from lyssandra_spark.operators import similarity as S
        from lyssandra_spark.operators.dedup import minhash_lsh_pairs
        from lyssandra_spark.operators.graph import retain_best_per_cluster

        fails = []
        self.maint = self.maint or self.maintenance(spark, ctx)
        self.maint_s, kept, before, after, seen = self.maint
        if before != after:
            fails.append(f"compact/expire changed read counts {before} -> {after}")
        full = retain_best_per_cluster(
            seen, minhash_lsh_pairs(seen, **self.lsh), score_col="quality")
        if _digest_key(sink(full)) != _digest_key(kept):
            fails.append("incremental retention differs from one-shot "
                         "retain_best_per_cluster")
        # each timed day's indexed serve must equal the per-call operator
        # over the embeddings ingested up to that day
        refs = [
            sink(S.ivf_topk(self.emb.where(F.col("day") <= d).drop("day"),
                            self.queries, k=5, nprobe=4, **self.ivf))
            for d in range(1, self.day)
        ]
        total = 0
        for dp, _, files in os.walk(self.root):
            total += sum(os.path.getsize(os.path.join(dp, f)) for f in files)
        self.bytes_per_row = total / max(sum(
            self.doc_rows.get(d, 0) for d in range(self.day)), 1)
        return refs, fails

    def trace(self, spark, ctx, tracer):
        days = self.traced_days
        files1 = _data_files(self.root)
        snaps = sum(len(self.cat.snapshots(t)) for t in self.tables)
        self.maint = self.maintenance(spark, ctx, tracer)
        secs = self.maint[0]
        new = set(files1) - set(self.files0)
        m = tracer.layer_totals(self.layers)
        refreshes = [s for s in tracer.spans
                     if s["name"] == "ann_index.refresh_ivf_index"]
        m.update({
            "incremental.pairs_per_batch": statistics.mean(self.pairs_seen),
            "incremental.jobs_per_batch": m["incremental.jobs"] / days,
            "ann_index.jobs_per_refresh":
                sum(s["stage"]["jobs"] for s in refreshes) / len(refreshes),
            "catalog.bytes_written": sum(files1[f] for f in new) / days,
            "catalog.files_written": len(new) / days,
            "catalog.snapshots": snaps,
            "catalog.maintenance_s": secs,
        })
        return m


def _data_files(root: str) -> dict:
    out = {}
    for dp, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(dp, f)
                out[p] = os.path.getsize(p)
    return out


def _null_span(name, spark_layer=False):
    return nullcontext({})


WORKLOADS = {w.name: w for w in (Flagship, EncodeFista, AsofBackward, DailyCuration)}
