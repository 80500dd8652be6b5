"""The benchmark workloads: ``curate`` and ``serve``.

Each workload is a closed loop with one client: it issues an operation,
waits for its result, checks it, and issues the next.  The operation is

- curate: one YAML-shaped lifecycle pass (``cli.run_config`` then
  ``sources.io.write_table``) over the seeded conversations;
- serve: one single-query hybrid request (BM25 + IVF arms fused with RRF)
  through ``cli.serve_frame``, collected to the Spark driver, against stores
  that set-up built and maintained.

A workload's ``op`` is the plain call sequence a user makes.  Its
``traced_op`` makes the same calls one layer at a time, each in a span,
and records per-layer numbers with :meth:`Run.layer`; it runs only with
``--trace 1``.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import time
from collections import defaultdict
from dataclasses import dataclass, field

import gen
from tracing import Tracer

FILTERS = [
    "check_word_number",
    "check_ethics",
    "check_char_repetition",
    "check_lowercase_ratio",
]
CLEANERS = ["normalize_whitespace", "normalize_punctuation"]
MINHASH = {"num_perm": 256, "threshold": 0.7}

# Workload sizes: "full" is what the benchmark measures; "tiny" keeps the
# smoke test short.
SIZES = {
    "full": {
        "curate": {"conversations": 2500},
        "serve": {"base": 2000, "batch": 250, "deletes": 20, "queries": 64},
    },
    "tiny": {
        "curate": {"conversations": 300},
        "serve": {"base": 300, "batch": 60, "deletes": 5, "queries": 8},
    },
}


@dataclass
class Run:
    """Everything one benchmark run shares: the session, directories,
    the tracer and the per-layer collector."""

    seed: int
    size: str
    in_dir: str
    work_dir: str
    tracer: Tracer
    spark: object = None
    layers: dict = field(default_factory=lambda: defaultdict(list))
    errors: list = field(default_factory=list)

    def layer(self, name: str, value: float) -> None:
        self.layers[name].append(float(value))

    def expect(self, ok: bool, what: str) -> bool:
        if not ok:
            self.errors.append(what)
        return ok


def noop(df) -> None:
    """Materialize ``df`` without writing anything."""
    df.write.format("noop").mode("overwrite").save()


def du(path: str) -> int:
    """Bytes of all regular files under ``path``."""
    return sum(
        os.path.getsize(p)
        for p in glob.glob(os.path.join(path, "**"), recursive=True)
        if os.path.isfile(p)
    )


def timed(fn, *args, **kwargs):
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return out, time.perf_counter() - t0


class Workload:
    name = ""
    # rows of input one operation processes, for rows_per_s
    rows_per_op = 1
    # warm operations a run makes at least, however short --seconds is
    min_warm = 1

    def __init__(self, run: Run):
        self.run = run
        self.size = SIZES[run.size][self.name]

    @property
    def spark(self):
        return self.run.spark

    def generate(self) -> dict:
        raise NotImplementedError

    def setup(self) -> float:
        """Program-side set-up; returns its seconds."""
        return 0.0

    def prepare(self) -> None:
        """Reference answers for the checks, outside every metric."""

    def op(self, index: int) -> None:
        raise NotImplementedError

    def traced_op(self, index: int) -> None:
        raise NotImplementedError

    def check(self, index: int) -> bool:
        """Checks the last operation's result, outside its timing."""
        raise NotImplementedError

    def space_amp(self) -> float:
        raise NotImplementedError


# ---------------------------------------------------------------------------
# curate
# ---------------------------------------------------------------------------


class Curate(Workload):
    name = "curate"
    min_warm = 2

    def generate(self) -> dict:
        self.manifest = gen.curate_inputs(
            self.run.seed, self.size["conversations"], self.run.in_dir
        )
        self.rows_per_op = self.manifest["pairs"]
        self.paths = [os.path.join(self.run.in_dir, "conversations")]
        self.out = os.path.join(self.run.work_dir, "curated.parquet")
        self.config = {
            "datasets": self.paths,
            "response": {
                "cleaners": CLEANERS,
                "filters": FILTERS,
                "deduplication": {"do_deduplication": True, "minhash_config": MINHASH},
            },
        }
        self.first_digest = None
        return self.manifest

    def _digest(self, path: str) -> tuple[int, str]:
        """(row count, order-independent hash of id and conversation).  The
        ``source`` column holds the input path, so it is left out."""
        from pyspark.sql import functions as F

        row = (
            self.spark.read.parquet(path)
            .select(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.xxhash64("id", "conversation").cast("decimal(38,0)")).alias("h"),
            )
            .first()
        )
        return int(row.n), str(row.h)

    def _check(self, path: str) -> bool:
        digest = self._digest(path)
        if self.first_digest is None:
            self.first_digest = digest
            print(f"perfbench: curate output digest {digest}", file=sys.stderr)
            return self._deep_check(path) & self._check_recorded(digest)
        return self.run.expect(
            digest == self.first_digest,
            f"curate: pass output {digest} differs from the first pass {self.first_digest}",
        )

    def _deep_check(self, path: str) -> bool:
        """The output keeps exactly the clean pairs, with cleaned responses,
        and one member of each near-duplicate cluster."""
        from pyspark.sql import functions as F

        out = self.spark.read.parquet(path).select(
            "id",
            F.size("conversation").cast("int").alias("n_messages"),
            F.element_at("conversation", -1).getField("content").alias("response"),
        )
        exp = self.spark.read.parquet(os.path.join(self.run.in_dir, "expected"))
        key = ["id", "n_messages"]
        unexpected = out.join(exp, key + ["response"], "left_anti").count()
        lost = exp.filter("cluster < 0").join(out, key, "left_anti").count()
        per_cluster = (
            out.join(exp.filter("cluster >= 0"), key)
            .groupBy("cluster")
            .count()
            .groupBy("count")
            .count()
            .collect()
        )
        ok = self.run.expect(
            unexpected == 0, f"curate: {unexpected} output rows are not expected survivors"
        )
        ok &= self.run.expect(lost == 0, f"curate: {lost} clean pairs were dropped")
        ok &= self.run.expect(
            {r[0]: r[1] for r in per_cluster} == {1: self.manifest["clusters"]},
            f"curate: survivors per near-duplicate cluster {per_cluster}, "
            f"want one in each of {self.manifest['clusters']}",
        )
        return ok

    def _check_recorded(self, digest: tuple[int, str]) -> bool:
        """For a size, seed and core count recorded in expected.json, the
        output digest must equal the recorded one.  The core count is part
        of the key because it sets the partitioning, and with it which
        member of a near-duplicate cluster MinHash dedup keeps."""
        here = os.path.dirname(os.path.abspath(__file__))
        with open(os.path.join(here, "expected.json")) as f:
            recorded = json.load(f)["curate"]
        cores = self.spark.sparkContext.defaultParallelism
        want = recorded.get(f"{self.run.size}/seed{self.run.seed}/cores{cores}")
        if want is None:
            return True
        return self.run.expect(
            list(digest) == [want["rows"], want["hash"]],
            f"curate: output {digest} differs from the recorded {want}",
        )

    def op(self, index: int) -> None:
        from chat_data_pipeline_spark.cli import run_config
        from chat_data_pipeline_spark.sources.io import write_table

        tr = self.run.tracer
        with tr.span("cli.run_config"):
            out, s = timed(run_config, self.spark, self.config)
        if tr.enabled and index > 0:
            self.run.layer("cli.run_config_s", s)
        with tr.span("sources.write_table"):
            write_table(out, self.out)
        self.last = self.out

    def check(self, index: int) -> bool:
        return self._check(self.last)

    def traced_op(self, index: int) -> None:
        """The lifecycle one layer at a time.  Each layer's output is
        materialized with the noop sink; a layer is charged its call time
        plus its materialization minus its input's materialization (the
        lazy plan recomputes its input)."""
        from chat_data_pipeline_spark.operators import conversation as CV
        from chat_data_pipeline_spark.operators import dedup as D
        from chat_data_pipeline_spark.operators.sampling import shuffle_rows
        from chat_data_pipeline_spark.plans import SparkPreprocessor
        from chat_data_pipeline_spark.sources import combine_sources
        from chat_data_pipeline_spark.sources.io import write_table

        run, tr = self.run, self.run.tracer
        prev = 0.0

        def stage(name, layer, build):
            nonlocal prev
            with tr.span(name) as sp:
                df, call_s = timed(build)
                _, noop_s = timed(noop, df)
                sp.update(call_s=call_s, noop_s=noop_s)
            run.layer(layer, call_s + noop_s - prev)
            prev = noop_s
            return df, call_s

        df, _ = stage("sources.read", "sources.read_s",
                      lambda: combine_sources(self.spark, self.paths))
        df, _ = stage("conversation.explode", "conversation.explode_s",
                      lambda: CV.add_content_columns(CV.explode_conversations(df)))
        run.layer("conversation.pairs_out", df.count())
        pre = SparkPreprocessor(column_name="response", cleaners=CLEANERS)
        df, plan_s = stage("cleaners", "cleaners.s", lambda: pre.run(df))
        for name in FILTERS:
            pre = SparkPreprocessor(column_name="response", filters=[name])
            df, call_s = stage("filters." + name, f"filters.{name}.s", lambda: pre.run(df))
            plan_s += call_s
            report = pre.collect_reports()[0]
            run.layer(f"filters.{name}.pass_ratio", report.rows_after / report.rows_before)
        run.layer("pipeline.plan_ms", plan_s * 1e3)
        rows_in = report.rows_after
        deduped, _ = stage("dedup.minhash", "dedup.minhash_s",
                           lambda: D.minhash_dedup(df, "response", **MINHASH))
        run.layer("dedup.removed_ratio", 1 - deduped.count() / rows_in)
        out, _ = stage("conversation.chatml", "conversation.chatml_s",
                       lambda: shuffle_rows(CV.to_chatml(deduped), seed=42))
        path = os.path.join(self.run.work_dir, "curated_traced.parquet")
        with tr.span("sources.write"):
            _, write_s = timed(write_table, out, path)
        run.layer("sources.write_s", write_s - prev)
        run.layer("sources.bytes_out", du(path))
        self.last = path

    def space_amp(self) -> float:
        return du(self.out) / self.manifest["text_bytes"]


# ---------------------------------------------------------------------------
# serve
# ---------------------------------------------------------------------------


class Serve(Workload):
    """Single-query hybrid requests (a BM25 arm and an IVF arm fused with
    RRF) through ``cli.serve_frame``, against stores that set-up built and
    then maintained once.

    Set-up builds a BM25 index, an IVF index and a MinHash signature store
    over the base corpus, then runs one maintenance round the way a store
    operator does, each mutating call under the root's writer lease:
    onboard a batch against the signature store, deliver the survivors to
    both stores, tombstone base documents in both, and compact both into
    fresh roots (``compact_if_needed`` with a destination).  Requests go to
    the maintained, uncompacted BM25 root, so every probe merges the base
    with the delivery and anti-joins the tombstones."""

    name = "serve"
    min_warm = 4
    # the round leaves three batches (base, delivery, tombstones), so a
    # threshold of one makes compact_if_needed compact both stores
    MAX_BATCHES = 1

    def generate(self) -> dict:
        import pyarrow.parquet as pq

        z, d = self.size, self.run.in_dir
        self.manifest = gen.serve_inputs(
            self.run.seed, z["base"], z["batch"], z["deletes"], z["queries"], d
        )
        self.queries = pq.read_table(os.path.join(d, "queries")).to_pylist()
        out = self.run.work_dir
        self.bm25 = os.path.join(out, "bm25")
        self.sigs = os.path.join(out, "sigs")
        self.ivf = os.path.join(out, "ivf")
        return self.manifest

    def _spec(self, bm25_root: str) -> dict:
        return {
            "k": 10,
            "bm25": {"path": bm25_root, "k": 20},
            "ann": {"path": self.ivf, "k": 20, "n_probe": 4},
        }

    def _read(self, name: str):
        return self.spark.read.parquet(os.path.join(self.run.in_dir, name))

    def setup(self) -> float:
        from chat_data_pipeline_spark.operators import dedup_store as DS
        from chat_data_pipeline_spark.operators import retrieval as RT
        from chat_data_pipeline_spark.operators import similarity as SIM
        from chat_data_pipeline_spark.operators.maintenance import (
            compact_if_needed,
            maintenance_plan_values,
        )

        run, tr = self.run, self.run.tracer
        t0 = time.perf_counter()
        base, emb = self._read("base"), self._read("embeddings")
        with tr.span("retrieval.build"):
            _, s = timed(RT.build_text_index, base, self.bm25, "text", "doc_id")
        run.layer("retrieval.build_s", s)
        with tr.span("similarity.build"):
            _, s = timed(SIM.build_ivf_index, emb, self.ivf, n_centroids=16,
                         coarse="md5", dim=gen.DIM)
        run.layer("similarity.build_s", s)
        with tr.span("dedup_store.build"):
            DS.build_dedup_index(base, self.sigs, column="text", id_col="doc_id")

        batch = self._read("batch")
        with tr.span("dedup_store.onboard"):
            self.kept, s = timed(
                lambda: DS.filter_against_dedup_index(
                    self.spark, self.sigs, batch, column="text", id_col="doc_id"
                ).localCheckpoint(eager=True)
            )
        run.layer("dedup_store.onboard_s", s)
        self._leased(self.bm25, "retrieval.extend", RT.extend_text_index,
                     self.kept, self.bm25, "b0", "text", "doc_id")
        self._leased(self.sigs, "dedup_store.extend", DS.extend_dedup_index,
                     self.kept, self.sigs, "b0", column="text", id_col="doc_id")
        self.deleted = self._read("deletes")
        self._leased(self.bm25, "retrieval.delete", RT.delete_from_text_index,
                     self.spark, self.bm25, self.deleted, "d0")
        self._leased(self.sigs, "dedup_store.delete", DS.delete_from_dedup_index,
                     self.spark, self.sigs, self.deleted, "d0")
        for root, layer in ((self.bm25, "retrieval.compact"), (self.sigs, "dedup_store.compact")):
            if tr.enabled:
                # the plan compact_if_needed reads first, timed apart
                with tr.span("maintenance.plan"):
                    plan, s = timed(maintenance_plan_values, self.spark, root, self.MAX_BATCHES)
                run.layer("maintenance.plan_ms", s * 1e3)
                if root == self.bm25:
                    run.layer("store.live_batches", plan.n_batches)
            done = self._leased(root, layer, compact_if_needed, self.spark, root,
                                max_batches=self.MAX_BATCHES, dst_index=root + "_compacted")
            run.expect(done, f"serve: compact_if_needed did not compact {root}")
        return time.perf_counter() - t0

    def prepare(self) -> None:
        """The reference answers: a batch serve over a fresh BM25 build of
        the documents the maintenance round retained."""
        from chat_data_pipeline_spark.operators import retrieval as RT

        self.retained = (
            self._read("base").unionByName(self.kept.select("doc_id", "text"))
            .join(self.deleted, "doc_id", "left_anti")
        )
        fresh = os.path.join(self.run.work_dir, "fresh_bm25")
        RT.build_text_index(self.retained, fresh, "text", "doc_id")
        self.reference = self._batch_serve(fresh)
        self.run.expect(
            len(self.reference) == len(self.queries),
            f"serve: the batch serve answered {len(self.reference)} of {len(self.queries)} queries",
        )
        self.run.layer(
            "dedup_store.onboard_hit_ratio", 1 - self.kept.count() / self.size["batch"]
        )

    def _batch_serve(self, bm25_root: str) -> dict:
        from chat_data_pipeline_spark.cli import serve_frame

        rows = serve_frame(self.spark, self._read("queries"), self._spec(bm25_root)).collect()
        out = defaultdict(set)
        for row in rows:
            out[row.query_id].add(tuple(row))
        return out

    def _leased(self, root: str, layer: str, fn, *args, **kwargs):
        """``fn`` under the root's writer lease; traced, the lease's enter,
        body and exit are timed apart."""
        from chat_data_pipeline_spark.operators.lease import writer_lease

        run, tr = self.run, self.run.tracer
        lease = writer_lease(self.spark, root, "perfbench:serve")
        if not tr.enabled:
            with lease:
                return fn(*args, **kwargs)
        with tr.span("lease.acquire"):
            _, s = timed(lease.__enter__)
        run.layer("lease.acquire_ms", s * 1e3)
        try:
            with tr.span(layer):
                out, s = timed(fn, *args, **kwargs)
            run.layer(layer + "_s", s)
        finally:
            with tr.span("lease.release"):
                _, s = timed(lease.__exit__, None, None, None)
            run.layer("lease.release_ms", s * 1e3)
        return out

    def _query_frame(self, q: dict):
        return self.spark.createDataFrame(
            [(q["query_id"], q["terms"], q["query_vec"])],
            "query_id long, terms array<string>, query_vec array<float>",
        )

    def op(self, index: int) -> None:
        from chat_data_pipeline_spark.cli import serve_frame

        q = self.queries[index % len(self.queries)]
        tr = self.run.tracer
        with tr.span("cli.serve_frame"):
            plan = serve_frame(self.spark, self._query_frame(q), self._spec(self.bm25))
        with tr.span("serve.collect"):
            self.last = (q["query_id"], plan.collect())

    def traced_op(self, index: int) -> None:
        """The request one layer at a time: meta reads, each arm's plan and
        execution, then the fusion over the collected arms."""
        from pyspark.sql import functions as F

        from chat_data_pipeline_spark.cli import serve_frame
        from chat_data_pipeline_spark.operators import retrieval as RT
        from chat_data_pipeline_spark.operators import similarity as SIM
        from chat_data_pipeline_spark.operators.maintenance import store_kind_and_meta

        run, tr = self.run, self.run.tracer
        q = self.queries[index % len(self.queries)]
        with tr.span("cli.serve_frame"):
            _, s = timed(serve_frame, self.spark, self._query_frame(q), self._spec(self.bm25))
        run.layer("cli.serve_frame_plan_ms", s * 1e3)
        qdf = self._query_frame(q)
        with tr.span("maintenance.meta_read"):
            t0 = time.perf_counter()
            store_kind_and_meta(self.spark, self.bm25)
            _, meta = store_kind_and_meta(self.spark, self.ivf)
        run.layer("maintenance.meta_read_ms", (time.perf_counter() - t0) * 1e3)
        with tr.span("retrieval.probe"):
            lex, plan_s = timed(RT.bm25_topk_indexed_batch, self.spark, self.bm25,
                                qdf.select("query_id", "terms"), k=20)
            lex_rows, exec_s = timed(lex.select("query_id", "doc_id", "rank").collect)
        run.layer("retrieval.probe_plan_ms", plan_s * 1e3)
        run.layer("retrieval.probe_exec_ms", exec_s * 1e3)
        with tr.span("similarity.probe"):
            vec, plan_s = timed(SIM.ivf_topk_persisted, self.spark, self.ivf,
                                qdf.select("query_id", "query_vec"), k=20, n_probe=4)
            vec_rows, exec_s = timed(
                vec.select("query_id", F.col(meta.id_col).alias("doc_id"), "rank").collect
            )
        run.layer("similarity.probe_plan_ms", plan_s * 1e3)
        run.layer("similarity.probe_exec_ms", exec_s * 1e3)
        schema = "query_id long, doc_id long, rank int"
        with tr.span("retrieval.fuse"):
            t0 = time.perf_counter()
            arms = [self.spark.createDataFrame(rows, schema) for rows in (lex_rows, vec_rows)]
            fused = RT.rrf_fuse(arms, id_col="doc_id", k=10).collect()
        run.layer("retrieval.fuse_ms", (time.perf_counter() - t0) * 1e3)
        self.last = (q["query_id"], fused)

    def check(self, index: int) -> bool:
        qid, rows = self.last
        return self.run.expect(
            {tuple(r) for r in rows} == self.reference[qid],
            f"serve: query {qid} differs from the batch serve over a fresh build",
        )

    def space_amp(self) -> float:
        from pyspark.sql import functions as F

        live = self.retained.select(F.sum(F.octet_length("text"))).first()[0]
        store_bytes = du(self.bm25) + du(self.sigs)
        self.run.layer("store.bytes", store_bytes)
        return store_bytes / live


WORKLOADS = {w.name: w for w in (Curate, Serve)}
