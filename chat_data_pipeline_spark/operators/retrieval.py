"""Corpus-level retrieval / lexical-statistics operators: BM25 scoring and
top-k n-gram heavy hitters.

The reference pipeline has no retrieval surface (SURVEY.md §2.7: its only
aggregations are describe() stats and per-user sampling groups) — but a
training-data curation stack needs lexical relevance scoring (mining docs
that match a probe query, e.g. targeted-domain upsampling as in DoReMi-style
recipes) and corpus vocabulary statistics (top n-grams drive tokenizer
training and boilerplate detection).  Both are public, textbook algorithms
(Robertson/Spärck Jones BM25; word-count heavy hitters).

Scale design (100 TB):

- ``bm25_scores``: the token explode is a narrow flatMap; the probe-term
  filter prunes it to query-relevant rows BEFORE any shuffle, so the
  (doc, term) aggregation shuffles only matching postings — corpus size
  drops out of the wide stages.  Document-frequency and corpus stats are
  term-cardinality-sized (≤ #probe terms) and broadcast; the final per-doc
  sum shuffles on doc_id only.  No all-pairs anywhere.
- ``top_ngrams``: per-partition partial aggregation (map-side combine)
  collapses the gram stream before the one vocabulary shuffle;
  ``orderBy(...).limit(k)`` compiles to TakeOrderedAndProject — per-partition
  top-k then a driver merge of k·partitions rows, never a global sort.

Float determinism for the oracle: per-(doc, term) BM25 contributions are
rounded to integer nanos and summed as longs, so the cross-term addition
order (which Spark and DuckDB pick differently) cannot change the result;
the displayed score rounds to 6 decimals.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from chat_data_pipeline_spark.functions import text as T


def bm25_scores(
    docs: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 relevance of every document against a fixed bag of query
    terms.  Returns ``(id_col, bm25)`` for documents matching ≥1 term.

    idf uses the standard "+1 inside the log" form
    ``ln(1 + (N - df + 0.5) / (df + 0.5))`` so scores are always positive.
    Tokenization is the pipeline-wide word tokenizer (functions/text.py
    WORD_PATTERN — identical in the DuckDB oracle).
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    terms = [t.lower() for t in query_terms]
    toks = docs.select(
        F.col(id_col), T.words(F.col(text_col)).alias("__toks__")
    ).withColumn("dl", F.size("__toks__"))
    stats = toks.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    tf = (
        toks.select(id_col, "dl", F.explode("__toks__").alias("term"))
        .filter(F.col("term").isin(terms))
        .groupBy(id_col, "dl", "term")
        .agg(F.count("*").alias("tf"))
    )
    # tf feeds BOTH the df-count broadcast and the scoring probe; without a
    # checkpoint each consumer re-runs the corpus scan + explode.  The
    # postings are probe-term-pruned (tiny at any corpus size), so pinning
    # them is cheap and caps the plan at two corpus scans (stats + postings).
    tf = tf.localCheckpoint(eager=False)
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    return _sum_nanos(_term_nanos(tf, dfreq, stats, k1, b), id_col)


def _term_nanos(
    tf: DataFrame, dfreq: DataFrame, stats: DataFrame, k1: float, b: float
) -> DataFrame:
    """The ONE BM25 contribution: ``tf`` rows (..., term, tf, dl) gain
    ``__nano__``, the per-(doc, term) Okapi contribution in integer nanos,
    from the broadcast ``(term, df)`` table and the one-row
    ``(n_docs, avgdl)`` corpus stats."""
    k1_l, b_l = F.lit(float(k1)), F.lit(float(b))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    contrib = (
        idf
        * F.col("tf")
        * (k1_l + 1.0)
        / (F.col("tf") + k1_l * (F.lit(1.0) - b_l + b_l * F.col("dl") / F.col("avgdl")))
    )
    return (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn("__nano__", F.round(contrib * 1e9).cast("long"))
    )


def _sum_nanos(scored: DataFrame, *keys: str) -> DataFrame:
    """Per-``keys`` BM25 score: the exact long sum of the nano
    contributions, displayed at 6 decimals."""
    return (
        scored.groupBy(*keys)
        .agg((F.sum("__nano__").cast("double") / 1e9).alias("__raw__"))
        .select(*keys, F.round("__raw__", 6).alias("bm25"))
    )


def top_ngrams(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 2,
    k: int = 20,
) -> DataFrame:
    """Corpus-wide top-``k`` word ``n``-grams by document-stream frequency,
    ties broken lexicographically (fully deterministic).  Returns
    ``(ngram, n_occurrences)`` sorted by (count desc, ngram asc).
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    ws = T.words(F.col(text_col))
    # sequence(1, 0) would produce a DESCENDING [1, 0] — guard short docs
    grams = F.when(
        F.size(ws) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(ws) - n + 1),
            lambda i: F.array_join(F.slice(ws, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        docs.select(F.explode(grams).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count("*").alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("ngram").asc())
        .limit(k)
    )


# --- persisted BM25 text index (r12) -----------------------------------------
# bm25_scores rebuilds its postings per probe — correct for one-off mining,
# the wrong cost model for an index served many times at 100 TB.  The
# build-once posture of the ANN index (operators/similarity.py) applied to
# lexical retrieval, with one property the IVF index does not have:
# EXTENSIONS ARE EXACT.  Every BM25 ingredient is a per-doc fact (tf, dl) or
# an integer-additive global (df per term, n_docs, Σdl), so per-delivery
# batches merge on read to the bit-identical full-rebuild statistics —
# sum(df), sum(n_docs), sum(sum_dl) — and an extended-index probe equals a
# probe over a from-scratch build of the union.
#
#   <index_path>/stats/batch=<id>/     one row (n_docs, sum_dl) — BIGINT exact
#   <index_path>/dfreq/batch=<id>/bkt=<n>/     (term, df)
#   <index_path>/postings/batch=<id>/bkt=<n>/  (doc, term, tf, dl)
#
# `bkt` is the md5 term bucket (functions/scoring.token_bucket arithmetic, so
# the probe computes it DRIVER-side with hashlib and prunes at the file
# listing: a 5-term probe touches ≤5 of n_term_buckets partition dirs).

N_TERM_BUCKETS = 64

# Write-salt for bucket-clustered index writes.  Clustering on the partition
# column alone bounds the FILE count to O(buckets) — but it also bounds the
# WRITE-TASK count to the number of distinct bucket values, so a corpus-sized
# postings table funnels through ≤ N_TERM_BUCKETS (=64) tasks no matter how
# many executors the cluster has: invisible at sf0.1, the named scale-killer
# at 100 TB.  Salting the repartition keeps files at O(buckets × salt) while
# the write stage scales with the salt (raise it with the cluster size).
WRITE_SALT = 8

_BATCH_ID_RE = re.compile(r"^[A-Za-z0-9._-]+$")


def validate_batch_id(batch_id: int | str) -> str:
    """Reject batch ids that would corrupt the hive layout: ``'base'`` would
    silently overwrite the base build, and path separators / ``=`` / spaces
    would break ``batch=<id>`` partition-directory parsing."""
    s = str(batch_id)
    if s == "base":
        raise ValueError(
            "batch_id 'base' is reserved for the index's base build; "
            "pick a distinct delivery id"
        )
    if not _BATCH_ID_RE.match(s):
        raise ValueError(
            f"batch_id {s!r} is not a safe partition value "
            "(allowed: letters, digits, '.', '_', '-')"
        )
    return s


def cluster_for_partitioned_write(
    df: DataFrame, part_cols: list[str], salt_expr, write_salt: int = WRITE_SALT
) -> DataFrame:
    """Cluster rows ahead of a hive-partitioned write so the file count
    stays O(dirs × write_salt) while write parallelism scales with
    ``write_salt``, DECOUPLED from the partition-dir count.

    A bare ``repartition(part_cols)`` gives O(dirs) files but also caps the
    write stage at #dirs non-empty tasks; adding a hashed salt column to the
    shuffle key (dropped before the write, so it never reaches the files)
    spreads each dir's rows over ≤ write_salt tasks."""
    cols = [F.col(c) for c in part_cols]
    if write_salt <= 1:
        return df.repartition(*cols)
    salt = F.pmod(F.xxhash64(salt_expr), F.lit(int(write_salt)))
    return (
        df.withColumn("__wsalt__", salt)
        .repartition(*cols, F.col("__wsalt__"))
        .drop("__wsalt__")
    )


def _term_bucket_py(term: str, n_buckets: int = N_TERM_BUCKETS) -> int:
    import hashlib

    return int(hashlib.md5(term.encode()).hexdigest()[:2], 16) % n_buckets


def build_text_index(
    docs: DataFrame,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Build the persisted BM25 index.  Idempotent: each artifact writes
    through the root, clearing stale extension batches on a rebuild;
    :func:`extend_text_index` appends deliveries."""
    frames = _text_batch(docs, text_col, id_col)
    _write_store_base(
        docs.sparkSession, index_path, _TEXT_SUBTREES,
        lambda root: _write_text_batch(root, "base", *frames),
        (dict(docs.dtypes)[id_col], N_TERM_BUCKETS), _TEXT_META,
    )


def _text_batch(
    docs: DataFrame, text_col: str, id_col: str
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """The (postings, dfreq, stats, doclens) artifacts of one BM25 batch,
    base or delivery, with postings and doclens already materialized."""
    from chat_data_pipeline_spark.functions.scoring import token_bucket

    spark = docs.sparkSession
    toks = docs.select(
        F.col(id_col).alias("doc"), T.words(F.col(text_col)).alias("__toks__")
    ).withColumn("dl", F.size("__toks__"))
    # the two corpus-sized passes (postings aggregation, doclens projection)
    # are independent — materialize their checkpoints CONCURRENTLY (r17,
    # guide §2.6: independent jobs submitted from driver threads back-fill
    # each other's stragglers), then fan the four artifact writes out the
    # same way below.  Semantics unchanged: both plans are the ones the
    # former lazy checkpoints materialized on first write.
    from concurrent.futures import ThreadPoolExecutor

    postings_src = (
        toks.select("doc", "dl", F.explode("__toks__").alias("term"))
        .groupBy("doc", "dl", "term")
        .agg(F.count("*").alias("tf"))
        .withColumn("bkt", token_bucket(F.col("term"), N_TERM_BUCKETS))
    )
    # doc-granular (doc, dl) rows: deletes subtract stats through THESE, not
    # the postings, so a zero-token document (dl=0, no posting rows) still
    # subtracts its n_docs contribution exactly; stats rides the same
    # lineage so the corpus tokenizes once for both.  The (n_docs, sum_dl)
    # totals ride the checkpoint's own materialization as OBSERVED metrics
    # (r18, guide §1.2 — the trainer's sizing-count trick): the former
    # stats frame re-aggregated the stored blocks under its artifact
    # write, paying a dedicated exchange/stage; as a VALUES table the
    # stats write is a LocalTableScan with identical content (count/sum
    # as BIGINT, the readers' pinned schema).
    from pyspark.sql import Observation

    obs = Observation()
    dlens_src = toks.select("doc", "dl").observe(
        obs,
        F.count(F.lit(1)).cast("long").alias("n"),
        F.coalesce(F.sum("dl"), F.lit(0)).cast("long").alias("s"),
    )
    with ThreadPoolExecutor(max_workers=2) as ex:
        f_post = ex.submit(lambda: postings_src.localCheckpoint(eager=True))
        f_dl = ex.submit(lambda: dlens_src.localCheckpoint(eager=True))
        postings, dlens = f_post.result(), f_dl.result()
    dfreq = postings.groupBy("bkt", "term").agg(F.count("*").alias("df"))
    from chat_data_pipeline_spark.session import values_df

    stats = values_df(
        spark,
        [(int(obs.get["n"] or 0), int(obs.get["s"] or 0))],
        "n_docs long, sum_dl long",
    )
    return postings, dfreq, stats, dlens


_TEXT_SUBTREES = ("postings", "dfreq", "stats", "doclens")
_TEXT_META = "id_type string, n_term_buckets int"


def _write_artifact(
    df: DataFrame, root: str, sub: str, batch_id: str,
    part: str | None = None, salt_col: str | None = None,
) -> None:
    """One batch of one store artifact.  A ``part``-partitioned artifact is
    written salted and ``part``-clustered (see
    :func:`cluster_for_partitioned_write`): a corpus-sized table is written
    by O(dirs × WRITE_SALT) tasks, not ≤ #dirs, into ≤ WRITE_SALT files per
    dir.  The ``base`` batch is written THROUGH the sub-tree root,
    partitioned by ``batch``; a delivery overwrites only its own
    ``batch=<id>`` dir.  partitionOverwriteMode is pinned STATIC per-write:
    under a session configured dynamic, a replayed delivery would keep
    stale ``part=`` dirs its new content no longer produces."""
    path, cols = f"{root}/{sub}", [part] if part else []
    if part:
        df = cluster_for_partitioned_write(df, [part], F.col(salt_col))
    if batch_id == "base":
        df, cols = df.withColumn("batch", F.lit("base")), ["batch", *cols]
    else:
        path = f"{path}/batch={batch_id}"
    writer = df.write.mode("overwrite").option("partitionOverwriteMode", "static")
    (writer.partitionBy(*cols) if cols else writer).parquet(path)


def _write_text_batch(
    index_path: str, batch_id: str, postings: DataFrame, dfreq: DataFrame,
    stats: DataFrame, dlens: DataFrame,
) -> None:
    """The four BM25 artifacts of one batch (``base`` or a delivery)."""
    _write_artifacts(index_path, batch_id, [
        (postings, "postings", "bkt", "term"),
        (dfreq, "dfreq", "bkt", "term"),
        (stats, "stats", None, None),
        (dlens, "doclens", None, None),
    ])


def _write_artifacts(root: str, batch_id: str, writes: list) -> None:
    """Several artifacts of one batch, each ``(df, sub, part, salt_col)``
    as :func:`_write_artifact` takes them.  They land at disjoint paths
    from already-materialized inputs, so they are written concurrently
    (r17, guide §2.6); the caller's ledger/meta commit marker lands
    strictly after all of them."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(writes)) as ex:
        for f in [
            ex.submit(_write_artifact, df, root, sub, batch_id, part, salt)
            for df, sub, part, salt in writes
        ]:
            f.result()


def read_meta_row(spark, index_path: str):
    """One-row store-meta read with ZERO Spark jobs on ``file:``-scheme
    roots (r17 optimization).  ``spark.read.parquet(meta).first()`` costs
    TWO driver-paced jobs — a parquet footer schema-inference job plus the
    ``executeTake`` — and every store verb (probe, delivery, maintenance,
    fsck/gc/plan chain) starts with exactly this read, so a 5-root fleet
    sweep paid 10 jobs before touching any real artifact.  The meta file
    is one row of flat scalars by construction of all five store writers
    (``values_df(...).coalesce(1)``), so for local roots the part file
    is read driver-side via pyarrow and wrapped in a ``Row`` with the same
    field order and Python value types the Spark path produced.

    Semantics pinned to the old path: a missing/corrupt meta falls back to
    the Spark read so the error type/message stays identical; a zero-row
    meta (crash between file creation and row flush) returns ``None``
    exactly like ``first()``.  Non-local schemes (HDFS/S3A) always take
    the Spark read — the cost being cut is per-call driver latency, which
    at cluster scale is the same fixed overhead this removes locally."""
    try:
        fs, path, _jvm = _fs_for(spark, f"{index_path}/meta")
        if fs.getScheme() == "file":
            import pyarrow.parquet as pq

            parts = sorted(
                st.getPath().toUri().getPath()
                for st in fs.listStatus(path)
                if st.getPath().getName().endswith(".parquet")
            )
            if not parts:
                raise IOError(f"no parquet part files under {index_path}/meta")
            rows: list[dict] = []
            for p in parts:
                rows.extend(pq.read_table(p).to_pylist())
            if not rows:
                return None
            if len(rows) > 1:
                # metas are one-row by construction of all five store
                # writers; a non-conforming multi-row meta must take the
                # Spark path below (r17 ADVICE) — this fast path's
                # lexicographic part ordering could otherwise silently
                # pick a different row than Spark's first()
                raise IOError(f"multi-row meta under {index_path}/meta")
            from pyspark.sql import Row

            return Row(**rows[0])
    except Exception:  # noqa: BLE001 — any surprise: identical Spark path
        pass
    return spark.read.parquet(f"{index_path}/meta").first()


def invalidate_index_meta(spark, index_path: str) -> None:
    """Delete the index's meta FIRST in every base (re)build / in-place
    compaction — meta is the build's commit marker (written LAST), and a
    first build at a fresh path crashes safely because no meta exists yet;
    but a REBUILD that dies between the postings overwrite and the ledger
    reset would otherwise leave the OLD meta and OLD ledger intact, so
    probes would silently merge the partial new base with stale
    dfreq/stats/extension state (r13 ADVICE).  Deleting meta up front
    makes the whole rebuild window meta-less: a crash anywhere inside it
    leaves a root every probe rejects loudly.  Plain Hadoop FS metadata
    op — milliseconds, never a Spark job."""
    fs, path, _jvm = _fs_for(spark, f"{index_path}/meta")
    fs.delete(path, True)


def _write_meta(spark, root: str, row, schema: str) -> None:
    """Write a store's one-row meta — the base's commit marker, always the
    LAST write of a (re)build.  ``row`` is a tuple in ``schema`` order, or
    a dict (a compaction copying its source meta forward by field name).
    VALUES-backed (r17): the parallelize path pays a Python-worker round
    trip per write; coalesce(1) keeps one file without an exchange (r18)."""
    from chat_data_pipeline_spark.session import values_df

    if isinstance(row, dict):
        row = tuple(row[c.split()[0]] for c in schema.split(","))
    values_df(spark, [row], schema).coalesce(1).write.mode("overwrite").parquet(
        f"{root}/meta"
    )


def _write_store_base(
    spark, root: str, subtrees: tuple, write, meta_row, meta_schema: str,
    clear_folded: bool = True,
) -> None:
    """The base (re)write window every store kind shares — each build, and
    through :func:`_fold_compact` each compaction:

    1. meta deleted FIRST (see :func:`invalidate_index_meta`): from here to
       step 5 the root is meta-less, so a build OR rebuild that dies midway
       leaves a root every probe rejects loudly instead of one whose
       postings disagree with stale meta/ledger state;
    2. the kind's artifact ``subtrees`` are cleared (stale extension
       batches and crash debris go with them), and so are the tombstones —
       a fresh base, or a compaction that just made its deletes physical,
       has no pending deletes by definition.  ``clear_folded`` also clears
       the spent-id manifest: a from-source build starts a new world where
       old delivery ids are reusable; a compaction or rebuild passes False
       to keep the manifest it wrote just before;
    3. ``write(root)`` lands the base artifacts under ``batch=base``;
    4. the commit ledger resets (the base itself is committed by the meta);
    5. meta is written LAST.  It carries the id type, so probes supply
       EXPLICIT schemas — no footer sampling at read time."""
    invalidate_index_meta(spark, root)
    for sub in (*subtrees, "tombstones", *(("folded",) if clear_folded else ())):
        fs, path, _jvm = _fs_for(spark, f"{root}/{sub}")
        fs.delete(path, True)
    write(root)
    ledger_reset(spark, root)
    _write_meta(spark, root, meta_row, meta_schema)


def _fold_compact(
    spark, index_path: str, dst_index: str | None, meta, subtrees: tuple,
    meta_schema: str, load, write,
) -> None:
    """The ONE compaction sequence of every store kind; the kind supplies
    only ``load(committed)`` — ``{name: (frame, id column or None)}`` over
    the committed batches — and ``write(root, frames)``, its base write.

    One ledger snapshot feeds both the load and the folded manifest (r15
    review: a delivery committing between two listings would be folded
    into the base without being marked spent).  Tombstoned ids are
    anti-joined out of every frame with an id column — compaction is where
    deletes become PHYSICAL.  ``dst_index=None`` compacts IN PLACE: every
    frame is pinned with an eager localCheckpoint first (Spark cannot
    overwrite a path it is lazily reading), which materializes the store
    to executor-local disk — fine at single-node scale.  A 100 TB
    deployment passes ``dst_index``: the compaction streams into a FRESH
    root with no checkpoint and the caller swaps probes over
    (:func:`swap_index_alias`).  The folded manifest lands BEFORE the
    rewrite, so a delivery this compaction folds reads as spent from the
    moment the compacted base serves (see :func:`folded_record`); that is
    safe even if the rewrite crashes, because the marked batches are still
    ledger-committed in the old root.  Then :func:`_write_store_base` runs
    the meta-less window, and the source meta is copied forward last (with
    the resolved id type, which a pre-r15 IVF meta lacks)."""
    committed = _committed_batches(spark, index_path)
    id_type = _store_id_type(spark, index_path, meta)
    frames, dst_index = _fold_live(
        spark, index_path, dst_index, id_type, committed, load(committed)
    )
    _write_store_base(
        spark, dst_index, subtrees, lambda root: write(root, frames),
        {**meta.asDict(), "id_type": id_type}, meta_schema, clear_folded=False,
    )


def _fold_live(
    spark, index_path: str, dst_index: str | None, id_type: str,
    committed: list[str], frames: dict,
) -> tuple[dict, str]:
    """The part of a base rewrite every compaction and every IVF rebuild
    shares, run before the rewrite: each ``{name: (frame, id column or
    None)}`` frame loses its tombstoned ids, the frames are pinned with an
    eager localCheckpoint when rewriting in place (the anti-joins read
    this root's tombstones, which the rewrite deletes), and the folded
    manifest lands at the destination.  Returns ``({name: frame}, dst)``."""
    tomb = _tombstoned_ids(spark, index_path, id_type, committed)
    frames = {
        name: _drop_ids(df, id_col, tomb) if id_col else df
        for name, (df, id_col) in frames.items()
    }
    if dst_index is None:
        frames = {n: f.localCheckpoint(eager=True) for n, f in frames.items()}
        dst_index = index_path
    _fold_manifest_forward(spark, index_path, dst_index, committed)
    return frames, dst_index


def compact_text_index(spark, index_path: str, dst_index: str | None = None) -> None:
    """Compact base + committed extensions into a single fresh base — the
    LSM-style maintenance step for a long-lived index: every probe pays an
    N-way batch merge (N dirs listed per probed bucket, N stats rows), so
    after many deliveries a compaction restores single-batch probe cost.
    BM25's ingredients are per-doc facts and integer-additive globals, so
    the compacted index answers probes BIT-IDENTICALLY (tested).

    ``dst_index=None`` compacts IN PLACE: the merged artifacts are pinned
    with an eager localCheckpoint before the overwrite (Spark cannot
    overwrite a path it is lazily reading), which materializes the
    postings to executor-local disk — fine at single-node scale.  A 100 TB
    deployment passes ``dst_index`` instead: the compaction streams into a
    FRESH root with no checkpoint, and the caller swaps probes over to it
    (write-then-swap, the zero-downtime pattern — :func:`swap_index_alias`
    is that pointer as an operator)."""
    meta = read_meta_row(spark, index_path)

    def load(committed: list[str]) -> dict:
        def read(sub: str, schema: str) -> DataFrame:
            return _read_committed(spark, index_path, sub, committed, schema)

        p_schema = f"doc {meta.id_type}, dl int, term string, tf long"
        dfreq = (
            read("dfreq", "term string, df long")
            .groupBy("bkt", "term")
            .agg(F.sum("df").cast("long").alias("df"))
            # a fully-deleted term nets to df=0 (its positive build/extension
            # rows exactly cancel its negative delete rows); drop the husk
            .filter(F.col("df") > 0)
        )
        # tombstoned docs drop out of postings/doclens; their negative
        # df/stats rows cancel in the net sums
        return {
            "postings": (
                read("postings", p_schema)
                .select("doc", "dl", "term", "tf", "bkt"), "doc",
            ),
            "dfreq": (dfreq, None),
            "doclens": (
                read("doclens", f"doc {meta.id_type}, dl int")
                .select("doc", "dl"), "doc",
            ),
        }

    def write(root: str, f: dict) -> None:
        # recomputed from the RETAINED doc rows rather than netting the stats
        # partitions — equal by the extend-guard invariant, but this
        # derivation is correct unconditionally
        stats = f["doclens"].agg(
            F.count("*").cast("long").alias("n_docs"),
            F.coalesce(F.sum("dl"), F.lit(0)).cast("long").alias("sum_dl"),
        )
        _write_text_batch(root, "base", f["postings"], f["dfreq"], stats, f["doclens"])

    _fold_compact(
        spark, index_path, dst_index, meta, _TEXT_SUBTREES, _TEXT_META, load, write
    )


def extend_text_index(
    docs: DataFrame,
    index_path: str,
    batch_id: int | str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Deliver one corpus batch into an existing index — EXACT: df / n_docs
    / Σdl are integer-additive and merge on read, so probes over base +
    extensions are bit-identical to a full rebuild over the union (tested).
    Replaying a batch id overwrites its own partitions (sketch-store
    idempotence).

    A delivery containing a TOMBSTONED id is refused: the tombstone would
    hide the new rows from probes while their positive df/stats landed
    anyway, silently skewing scores for every other document sharing a
    term (see :func:`delete_from_text_index`) — compact first to clear the
    tombstones, then re-deliver.  The guard costs nothing until the index
    has seen a delete (one directory existence check), then one
    delivery-sized semi-join per delivery."""
    _extend_store(
        docs, index_path, batch_id,
        lambda df, _meta, bid: _write_text_batch(
            index_path, bid, *_text_batch(df, text_col, id_col)
        ),
        id_col=id_col,
    )


def _extend_store(
    df: DataFrame, index_path: str, batch_id: int | str, write,
    id_col: str | None = None, names: dict | None = None, check=None,
) -> None:
    """The ONE extension sequence behind every store kind's ``extend_*``;
    the kind supplies only ``write(df, meta, batch_id)``, its delivery
    write, and optionally ``check(meta)``, which refuses a root of the
    wrong kind.

    Sequence: the batch id is validated → the spent-id guard (a folded
    same-kind replay returns: the base already holds this delivery) → the
    cross-kind guard against ``tombstones/`` (an id that names a delete
    must not be reused by an extension) → one meta read → ``check`` →
    ``names`` (meta column-name field → the caller's override or None)
    aliases the delivered columns onto the meta names when any override is
    given, so config-driven callers need not pre-read meta → the id-type
    guard against the store's id type → the tombstoned-delivery guard on
    the id column (``id_col``, or meta's for kinds whose meta names it) →
    ``write`` → the ledger commit LAST.  A crash mid-delivery leaves the
    batch invisible to probes (BM25's exactness depends on its artifacts
    agreeing), and a replay with the same id overwrites its own
    partitions and re-commits."""
    bid = validate_batch_id(batch_id)
    spark = df.sparkSession
    if _guard_spent_batch_id(spark, index_path, bid, "extension"):
        return  # folded replay: the base already holds this delivery
    _guard_batch_id_kind(spark, index_path, bid, "tombstones", "extension", "delete")
    meta = read_meta_row(spark, index_path)
    if check is not None:
        check(meta)
    if names and any(names.values()):
        df = df.select(*[F.col(o or meta[f]).alias(meta[f]) for f, o in names.items()])
    id_col = id_col or meta.id_col
    _guard_delivery_id_type(df, id_col, _store_id_type(spark, index_path, meta), index_path)
    _guard_tombstoned_delivery(df, index_path, id_col)
    write(df, meta, bid)
    ledger_commit(spark, index_path, bid)


def _guard_batch_id_kind(
    spark,
    index_path: str,
    batch_id: str,
    other_kind_dir: str,
    this_kind: str,
    other_kind: str,
) -> None:
    """Deletes and extensions share one ledger namespace, but replay
    idempotence is SAME-KIND only: a delete re-using a committed
    extension's id would statically overwrite that batch's dfreq/stats
    with the victims' negatives while its postings survived (silently
    corrupt idf/avgdl); an extension re-using a delete's id would replace
    the negatives while the tombstones kept hiding live docs.  One FS
    existence probe on the OTHER kind's batch dir fails the cross-kind
    reuse loudly — uncommitted remnants count too, since committing this
    delivery would make the crashed other-kind artifacts visible."""
    fs, p, _jvm = _fs_for(spark, f"{index_path}/{other_kind_dir}/batch={batch_id}")
    if fs.exists(p):
        raise ValueError(
            f"batch id {batch_id!r} already names a {other_kind} delivery of "
            f"{index_path}; {this_kind} deliveries must use a distinct id "
            "(replay idempotence is same-kind only)"
        )


def _guard_delivery_id_type(
    df: DataFrame, id_col: str, expected: str, index_path: str
) -> None:
    """Refuse a delivery whose id column's type differs from the type the
    store was built with (r14 ADVICE): without this, a wrong-typed
    extension ledger-commits cleanly and only fails LATER, at probe time,
    under the meta-pinned explicit read schema — the one delivery guard
    that didn't share the others' refuse-at-delivery posture.  One dtypes
    dict lookup; no Spark job."""
    got = dict(df.dtypes).get(id_col)
    if got is None:
        raise ValueError(
            f"delivery into {index_path}: expected id column {id_col!r} "
            f"(from the store meta) but the delivered frame has columns "
            f"{df.columns}; pass the column-name overrides if the frame "
            "uses its own names"
        )
    if got != expected:
        raise ValueError(
            f"delivery into {index_path}: id column {id_col!r} has type "
            f"{got!r} but the store was built with id type {expected!r}; "
            "cast the delivered ids first (a mismatched delivery would "
            "commit and only fail later at probe scan time)"
        )


def _guard_tombstoned_delivery(docs: DataFrame, index_path: str, id_col: str) -> None:
    """Raise if any delivered id is currently tombstoned (one step of
    :func:`_extend_store`)."""
    spark = docs.sparkSession
    fs, tpath, _jvm = _fs_for(spark, f"{index_path}/tombstones")
    if not fs.exists(tpath):
        return
    id_type = dict(docs.dtypes)[id_col]
    committed = _committed_batches(spark, index_path)
    tomb = _tombstoned_ids(spark, index_path, id_type, committed)
    if tomb is None:
        return
    clash = (
        docs.select(F.col(id_col).cast(id_type).alias("doc"))
        .join(tomb, "doc", "left_semi")
        .limit(1)
        .count()
    )
    if clash:
        raise ValueError(
            f"delivery into {index_path} contains tombstoned ids; "
            "compact the index to clear its tombstones before re-delivering "
            "deleted documents"
        )


def _tombstoned_ids(
    spark,
    index_path: str,
    id_type: str,
    committed: list[str],
    exclude_batch: str | None = None,
) -> DataFrame | None:
    """Ledger-committed tombstoned ids as a one-column ``doc`` DataFrame,
    or ``None`` when the index has never seen a delete — the common case
    stays one directory-existence check, no Spark job.  ``exclude_batch``
    lets a delete REPLAY recompute its own victims instead of seeing its
    previous commit and degrading to a no-op."""
    fs, tpath, _jvm = _fs_for(spark, f"{index_path}/tombstones")
    if not fs.exists(tpath):
        return None
    batches = [b for b in committed if b != exclude_batch]
    return _read_committed(
        spark, index_path, "tombstones", batches, f"doc {id_type}"
    ).select("doc")


def _live_rows(
    spark, index_path: str, df: DataFrame, id_col: str, id_type: str,
    committed: list[str],
) -> DataFrame:
    """``df`` minus the ledger-committed tombstoned ids on ``id_col``.
    Tombstoned rows stay physical until compaction; this anti-join hides
    them from every probe, and it is a no-op (no join at all) on a store
    that has never seen a delete."""
    return _drop_ids(
        df, id_col, _tombstoned_ids(spark, index_path, id_type, committed)
    )


def _drop_ids(df: DataFrame, id_col: str, tomb: DataFrame | None) -> DataFrame:
    """``df`` anti-joined on ``id_col`` with the ``doc`` ids of ``tomb``
    (a :func:`_tombstoned_ids` result); ``None`` leaves ``df`` as is."""
    if tomb is None:
        return df
    return df.join(tomb.withColumnRenamed("doc", id_col), id_col, "left_anti")


def delete_from_text_index(
    spark,
    index_path: str,
    ids: DataFrame,
    batch_id: int | str,
) -> None:
    """Tombstone-delete documents from the persisted BM25 index WITHOUT a
    rebuild — takedown / post-hoc decontamination as one ledger-committed
    delivery (the LSM posture extended to removals).  ``ids`` is a
    one-column DataFrame of document ids.

    Mechanics: BM25's globals are integer-additive, so a delete is a
    NEGATIVE delivery — the victims' per-term document counts land under
    ``dfreq/batch=<id>`` as negative ``df`` rows and their (count, Σdl)
    under ``stats/batch=<id>`` as negative totals, which the probes'
    existing cross-batch sums subtract with zero probe-side arithmetic
    change; the ids land under ``tombstones/batch=<id>`` and probes
    anti-join them out of the postings.  Probes after a delete are
    BIT-IDENTICAL to a fresh build over the retained corpus (tested),
    including zero-token documents — their n_docs contribution subtracts
    through the doc-granular ``doclens`` artifact, which sees every
    delivered row, not just rows that produced postings.

    Crash consistency: the ledger marker commits LAST, so a crash
    mid-delete leaves every artifact invisible to probes; replaying the
    same ``batch_id`` recomputes the same victims (its own previous
    tombstones are excluded from the already-deleted set) and overwrites
    its own partitions.  Ids already tombstoned by an EARLIER delete are
    excluded up front, so overlapping deletes never double-subtract.

    Scale shape: the victims' semi-join reads the postings once (a delete
    cannot prune — a document's terms hash to every bucket) and reduces to
    term-sized negatives plus id-sized tombstones; serving cost gains one
    anti-join against the tombstone set (AQE broadcasts it while small).
    Compaction is the pressure valve: it drops tombstoned docs physically
    and clears the set."""

    def negatives(want: DataFrame, committed: list[str], id_type: str, bid: str):
        def victims(sub: str, schema: str) -> DataFrame:
            return _read_committed(spark, index_path, sub, committed, schema).join(
                want, "doc", "left_semi"
            )

        neg_df = victims(
            "postings", f"doc {id_type}, dl int, term string, tf long"
        ).groupBy("bkt", "term").agg((-F.count("*")).cast("long").alias("df"))
        neg_stats = victims("doclens", f"doc {id_type}, dl int").agg(
            (-F.count("*")).cast("long").alias("n_docs"),
            (-F.coalesce(F.sum("dl"), F.lit(0))).cast("long").alias("sum_dl"),
        )
        _write_artifact(neg_df, index_path, "dfreq", bid, "bkt", "term")
        _write_artifact(neg_stats, index_path, "stats", bid)

    _deliver_tombstones(spark, index_path, ids, batch_id, "postings", negatives)


def _store_id_type(spark, index_path: str, meta) -> str:
    """The store's id column type.  Every store's meta pins ``id_type``
    (IVF/IVF-PQ since r15); a pre-r15 IVF root falls back to the BASE
    partition's footer.  Inferring over the whole postings tree would read
    the footers of a crashed uncommitted delivery's partial files; the
    base is complete by construction, its commit marker being the meta
    write."""
    return meta.asDict().get("id_type") or _base_type(
        spark, index_path, "postings", meta.id_col
    )


def _deliver_tombstones(
    spark, index_path: str, ids: DataFrame, batch_id: int | str,
    resident_sub: str, negatives=None,
) -> None:
    """The ONE tombstone delivery behind every store kind's delete: ``ids``
    (first column) lands as a ledger-committed id set under
    ``tombstones/batch=<id>`` that probes anti-join and compaction makes
    physical.

    Sequence: the spent-id guard (a folded same-kind replay is a no-op) →
    the cross-kind guard against the kind's ``resident_sub`` artifact (an
    id that names an extension must not be reused by a delete) → the
    victim set minus ids an EARLIER delete already tombstoned (this
    batch's own previous commit is excluded, so a replay recomputes the
    same victims; overlapping deletes never double-subtract) → the kind's
    ``negatives(want, committed, id_type, batch_id)`` writes, if any (BM25
    subtracts its integer-additive globals) → the tombstone write → the
    ledger commit LAST, so a crash anywhere above leaves the delete
    invisible to probes and a replay overwrites its own partitions."""
    batch_id = validate_batch_id(batch_id)
    if _guard_spent_batch_id(spark, index_path, batch_id, "delete"):
        return  # folded replay: the victims are already physically gone
    _guard_batch_id_kind(
        spark, index_path, batch_id, resident_sub, "delete", "extension"
    )
    meta = read_meta_row(spark, index_path)
    committed = _committed_batches(spark, index_path)
    id_type = _store_id_type(spark, index_path, meta)
    want = ids.select(F.col(ids.columns[0]).cast(id_type).alias("doc")).distinct()
    tomb = _tombstoned_ids(
        spark, index_path, id_type, committed, exclude_batch=batch_id
    )
    if tomb is not None:
        want = want.join(tomb, "doc", "left_anti")
    if tomb is not None or negatives is not None:
        # eager: the tombstone write below overwrites a partition of the
        # root the anti-join reads (replay), and negatives feed further
        # writes from the same victim set
        want = want.localCheckpoint(eager=True)
    if negatives is not None:
        negatives(want, committed, id_type, batch_id)
    _write_artifact(want, index_path, "tombstones", batch_id)
    ledger_commit(spark, index_path, batch_id)


def _fs_for(spark, path_str: str):
    """(FileSystem, Path, jvm) for any path — the ONE Hadoop-FS handle
    helper behind the ledger, the meta invalidation and the serving alias
    (plain FS metadata ops, works on HDFS/S3A/local alike, milliseconds,
    never a Spark job)."""
    jvm = spark.sparkContext._jvm
    path = jvm.org.apache.hadoop.fs.Path(path_str)
    fs = path.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return fs, path, jvm


def _ledger_fs(spark, index_path: str):
    """(FileSystem, Path) for the index's commit ledger directory."""
    return _fs_for(spark, f"{index_path}/batches")


def ledger_reset(spark, index_path: str) -> None:
    """Base-build ledger reset: clears every extension's commit marker (the
    base itself is committed by the meta write that follows)."""
    fs, path, _jvm = _ledger_fs(spark, index_path)
    fs.delete(path, True)
    fs.mkdirs(path)


def ledger_commit(spark, index_path: str, batch_id: int | str) -> None:
    """Mark one delivery committed — an empty touch file named after the
    batch id, created AFTER the delivery's artifacts."""
    fs, path, jvm = _ledger_fs(spark, index_path)
    fs.mkdirs(path)
    fs.create(jvm.org.apache.hadoop.fs.Path(path, str(batch_id)), True).close()


def folded_record(
    spark, index_path: str, extension_ids: list[str], delete_ids: list[str]
) -> None:
    """Record batch ids a compaction/rebuild has FOLDED into the base —
    the manifest that closes the streaming replay double-count window
    (r15): a micro-batch delivered, compacted into the base, and then
    REPLAYED after a crash (checkpoint not yet committed past it) would
    otherwise re-deliver rows the base already contains; the extend paths
    treat a folded extension id as a spent no-op instead.  Kind-split
    markers (``folded/extensions/<id>`` / ``folded/deletes/<id>``) keep
    the cross-kind refusal working after compaction erased the artifact
    dirs the live cross-kind guard keys on.  Tiny touch files, written
    INSIDE the compaction's meta-less window (before meta lands), so base
    and manifest become visible together or the root fails probes
    loudly."""
    fs, _root, jvm = _fs_for(spark, index_path)
    for sub, ids in (("extensions", extension_ids), ("deletes", delete_ids)):
        if not ids:
            continue
        d = jvm.org.apache.hadoop.fs.Path(f"{index_path}/folded/{sub}")
        fs.mkdirs(d)
        for bid in ids:
            fs.create(jvm.org.apache.hadoop.fs.Path(d, str(bid)), True).close()


def folded_kind(spark, index_path: str, batch_id: str) -> str | None:
    """'extension' / 'delete' if ``batch_id`` was folded by a past
    compaction of this root, else None.  One directory-existence probe
    when the root has never compacted; two marker probes after."""
    fs, fpath, jvm = _fs_for(spark, f"{index_path}/folded")
    if not fs.exists(fpath):
        return None
    for sub in ("extensions", "deletes"):
        if fs.exists(
            jvm.org.apache.hadoop.fs.Path(
                f"{index_path}/folded/{sub}/{batch_id}"
            )
        ):
            return sub[:-1] if sub == "deletes" else "extension"
    return None


def folded_ids(spark, index_path: str) -> tuple[list[str], list[str]]:
    """(extension_ids, delete_ids) previously folded — carried forward
    across compactions (a delivery folded two compactions ago must stay
    spent) and copied to ``dst_index`` on write-then-swap compactions."""
    out: list[list[str]] = []
    for sub in ("extensions", "deletes"):
        fs, p, _jvm = _fs_for(spark, f"{index_path}/folded/{sub}")
        out.append(
            sorted(st.getPath().getName() for st in fs.listStatus(p))
            if fs.exists(p)
            else []
        )
    return out[0], out[1]


def folded_clear(spark, index_path: str) -> None:
    """Fresh base build: a from-source rebuild starts a new world — prior
    delivery ids are legitimately reusable against it."""
    fs, p, _jvm = _fs_for(spark, f"{index_path}/folded")
    fs.delete(p, True)


def _classify_committed(
    spark, index_path: str, committed: list[str]
) -> tuple[list[str], list[str]]:
    """Split a committed-batch list into (extensions, deletes) by the
    artifact that defines a delete: its ``tombstones/batch=`` dir (still
    present at compact time — compaction classifies BEFORE it clears)."""
    fs, _p, jvm = _fs_for(spark, index_path)
    exts, dels = [], []
    for bid in committed:
        if bid == "base":
            continue
        if fs.exists(
            jvm.org.apache.hadoop.fs.Path(f"{index_path}/tombstones/batch={bid}")
        ):
            dels.append(bid)
        else:
            exts.append(bid)
    return exts, dels


def _fold_manifest_forward(
    spark, src_index: str, dst_index: str, committed: list[str]
) -> None:
    """The ONE compaction-side call: carry src's already-folded ids
    forward and add this compaction's committed batches, written to dst
    (== src for in-place) inside the meta-less window."""
    prior_ext, prior_del = folded_ids(spark, src_index)
    new_ext, new_del = _classify_committed(spark, src_index, committed)
    if dst_index != src_index:
        # a dst root that previously lived as an index carries an
        # UNRELATED world's spent ids — resurrecting them would silently
        # no-op legitimate future deliveries; only src's history carries
        folded_clear(spark, dst_index)
    folded_record(
        spark,
        dst_index,
        sorted(set(prior_ext) | set(new_ext)),
        sorted(set(prior_del) | set(new_del)),
    )


def _guard_spent_batch_id(spark, index_path: str, batch_id: str, this_kind: str):
    """Shared entry/delete check against the folded manifest.  Returns
    True when the caller should NO-OP (same-kind replay of a folded
    delivery — the base already contains exactly what the replay would
    re-deliver); raises on cross-kind reuse of a spent id."""
    fk = folded_kind(spark, index_path, batch_id)
    if fk is None:
        return False
    if fk == this_kind:
        import logging

        # WARNING level: a replay is the expected producer of this event,
        # but an id COLLISION (a stream restarted with a fresh checkpoint
        # re-deriving epoch ids from 0 against the same root) would be
        # silently dropped here too — the log is the operator's signal to
        # use a fresh batch_id_prefix per checkpoint (see the delivery
        # streams' parameter)
        logging.getLogger("chat_data_pipeline_spark").warning(
            "batch %s of %s was already folded by compaction; treating "
            "this %s as a replay and skipping it (if this is NEW content "
            "under a recycled id, deliver under a fresh id/prefix)",
            batch_id, index_path, this_kind,
        )
        return True
    raise ValueError(
        f"batch id {batch_id!r} already names a {fk} delivery that a "
        f"compaction of {index_path} folded into the base; {this_kind} "
        "deliveries must use a distinct id (replay idempotence is "
        "same-kind only, and folded ids stay spent)"
    )


def _committed_batches(spark, index_path: str) -> list[str]:
    """'base' plus every batch id whose delivery fully committed (ledger
    touch file written after the artifacts) — probes read ONLY these, so a
    crashed delivery's partial artifacts can never skew a result.  The
    base build needs no ledger entry: its commit marker is the meta write,
    which already lands after the base artifacts."""
    fs, path, _jvm = _ledger_fs(spark, index_path)
    out = ["base"]
    if fs.exists(path):
        out += sorted(
            st.getPath().getName()
            for st in fs.listStatus(path)
            if not st.getPath().getName().startswith("_")
        )
    return out


def committed_tree(spark, index_path: str, sub: str) -> DataFrame:
    """Load a batch-partitioned store artifact tree (``postings`` /
    ``vectors``) with its schema PINNED from the base partition instead
    of inferred over the whole tree (r17): inference samples parquet
    footers BEFORE any batch filter applies, so a crashed uncommitted
    delivery's partial files could fail (or skew) the load — and the
    probe/compaction paths that hit this are exactly what an operator
    runs right after a crash.  The base partition is complete by
    construction (its commit marker is the meta write), so its schema is
    authoritative; callers still filter to the ledger-committed batches
    (:func:`_read_committed`), which prunes the debris partitions before
    any data is read — same discipline as maintenance.py's
    explicit-schema reads."""
    from pyspark.sql.types import StringType

    schema = _base_schema(spark, index_path, sub)
    if "batch" not in schema.fieldNames():
        schema = schema.add("batch", StringType())
    return spark.read.schema(schema).parquet(f"{index_path}/{sub}")


def _read_committed(
    spark, index_path: str, sub: str, committed: list[str],
    schema: str | None = None,
) -> DataFrame:
    """The ONE committed-batch read of a store artifact: ``sub`` under an
    explicit ``schema`` (or, when None, the base-pinned
    :func:`committed_tree` schema), restricted to the ``committed``
    batches.  ``batch`` is a partition column, so the filter prunes at the
    file listing: a crashed delivery's partial files are never opened."""
    reader = (
        committed_tree(spark, index_path, sub)
        if schema is None
        else spark.read.schema(schema).parquet(f"{index_path}/{sub}")
    )
    return reader.filter(F.col("batch").isin(committed))


def _base_schema(spark, index_path: str, sub: str):
    """The schema of ``<sub>/batch=base`` with its nested partition
    columns, derived driver-side (r17) from one base part file's footer
    plus the partition dirs walked to reach it (our artifact layouts nest
    at most bkt=<int> / band=<int> under batch=).  Anything unexpected
    falls back to schema inference over the base partition, which costs
    a Spark job; a missing base fails there exactly like that read."""
    from pyspark.sql.types import IntegerType

    schema = None
    try:
        import re as _re

        from chat_data_pipeline_spark.session import local_parquet_schema

        fs, _root, jvm = _fs_for(spark, index_path)
        p = jvm.org.apache.hadoop.fs.Path(f"{index_path}/{sub}/batch=base")
        part_cols: list[str] = []
        fs.getFileStatus(p)  # missing base must fail like the old read
        for _ in range(3):
            found_file = any(
                s.isFile() and s.getPath().getName().endswith(".parquet")
                for s in fs.listStatus(p)
            )
            if found_file:
                schema = local_parquet_schema(spark, p.toUri().getPath())
                break
            sub_dirs = [
                s.getPath()
                for s in fs.listStatus(p)
                if s.isDirectory()
                and _re.match(r"^\w+=-?\d+$", s.getPath().getName())
            ]
            if not sub_dirs:
                break
            part_cols.append(sub_dirs[0].getName().split("=", 1)[0])
            p = sub_dirs[0]
        if schema is not None:
            for c in part_cols:
                schema = schema.add(c, IntegerType())
    except Exception:  # noqa: BLE001 — any surprise: inference path below
        schema = None
    if schema is None:
        schema = spark.read.parquet(f"{index_path}/{sub}/batch=base").schema
    return schema


def _base_type(spark, index_path: str, sub: str, col: str) -> str | None:
    """``col``'s type in ``<sub>/batch=base`` (see :func:`_base_schema`),
    or None when the base has no such column."""
    schema = _base_schema(spark, index_path, sub)
    return schema[col].dataType.simpleString() if col in schema.fieldNames() else None


def _cast_to_base(
    df: DataFrame, index_path: str, sub: str, base_col: str, col: str
) -> DataFrame:
    """Cast the delivered ``col`` to the type ``base_col`` has in the
    base partition of ``sub`` (r17).  A double-typed delivery over a float
    base (e.g. a drift transform's literal arithmetic widening the column)
    would otherwise land a physically heterogeneous tree, which the
    schema-pinned loads, and any columnar reader expecting one physical
    type per column, refuse."""
    base = _base_type(df.sparkSession, index_path, sub, base_col)
    if base is not None and dict(df.dtypes)[col] != base:
        df = df.withColumn(col, F.col(col).cast(base))
    return df


def swap_index_alias(spark, alias_path: str, index_path: str) -> None:
    """Point an alias at an index root — the probe-side half of
    write-then-swap (:func:`compact_text_index` / ``rebuild_ivf_index``
    stream into a FRESH root; this is the 'caller's pointer swap' their
    docstrings hand off to).  The alias is a DIRECTORY of monotonically
    versioned one-line pointer files: a swap stages the new pointer under
    a ``_tmp`` name and RENAMES it into place (rename is the atomic
    primitive on HDFS-like stores, and same-directory so object stores
    degrade gracefully), so a reader never sees a half-written pointer —
    it resolves either the old version or the new one.  Pruning keeps the
    IMMEDIATELY-PREVIOUS version and only deletes older history, so a
    reader that listed the directory just before the swap still opens a
    live file (the resolve side additionally retries one list-again on a
    lost race two swaps deep).

    Concurrency contract: version numbers are allocated by list-then-max
    (no FS-only primitive can serialize two racing swaps), so two
    CONCURRENT swaps may share a version and the survivor is the
    deterministic (version, zero-padded pid) name order — atomic
    visibility is guaranteed, swap ORDER is the caller's coordination
    job (one maintenance actor per alias, the same posture as the
    index builds themselves).

    Fails fast if the target has no readable ``meta`` — an alias must
    never be swapped onto a root that is mid-rebuild (meta-less window) or
    missing."""
    read_meta_row(spark, index_path)  # target must be servable
    fs, adir, jvm = _fs_for(spark, alias_path)
    fs.mkdirs(adir)
    existing = sorted(
        st.getPath().getName()
        for st in fs.listStatus(adir)
        if st.getPath().getName().startswith("v")
    )
    nxt = 1 + max((int(n[1:].split("-")[0]) for n in existing), default=0)
    vname = f"v{nxt:012d}-{os.getpid():010d}"
    tmp = jvm.org.apache.hadoop.fs.Path(adir, f"_tmp.{vname}")
    out = fs.create(tmp, True)
    out.write(bytearray(str(index_path).encode("utf-8")))
    out.close()
    if not fs.rename(tmp, jvm.org.apache.hadoop.fs.Path(adir, vname)):
        raise IOError(f"alias swap rename failed under {alias_path}")
    # prune AFTER the new pointer is live, KEEPING the immediately-previous
    # version for in-flight readers (a crash mid-prune leaves extra
    # history, never a broken alias)
    for name in existing[:-1]:
        fs.delete(jvm.org.apache.hadoop.fs.Path(adir, name), False)
    # also sweep CRASHED swaps' staging files (a swapper that died between
    # create and rename leaves an _tmp.v... orphan per attempt — invisible
    # to resolution but unbounded growth otherwise).  Only strictly OLDER
    # versions than the pointer just renamed are swept: a concurrent
    # swapper's live staging file carries version >= nxt, and an older
    # straggler whose tmp we delete would have LOST the (version, pid)
    # tiebreak anyway — its rename now fails loudly instead of silently
    # losing.
    for st in fs.listStatus(adir):
        name = st.getPath().getName()
        if name.startswith("_tmp.v"):
            try:
                ver = int(name[len("_tmp.v"):].split("-")[0])
            except ValueError:
                continue
            if ver < nxt:
                fs.delete(st.getPath(), False)


def resolve_index_alias(spark, alias_path: str) -> str:
    """The index root an alias currently points at: the highest-versioned
    committed pointer file (``_tmp`` stages are ignored, so a concurrent
    or crashed swap is invisible).  Probe composition:
    ``bm25_topk_indexed(spark, resolve_index_alias(spark, alias), ...)``
    — probes keep hitting the OLD root until the swap's rename lands.
    A reader that loses the prune race two swaps deep (its listed file
    was deleted before it opened) retries one fresh listing."""
    fs, adir, jvm = _fs_for(spark, alias_path)
    if not fs.exists(adir):
        raise FileNotFoundError(f"no index alias at {alias_path}")
    last_err: Exception | None = None
    for _attempt in range(2):
        names = sorted(
            st.getPath().getName()
            for st in fs.listStatus(adir)
            if st.getPath().getName().startswith("v")
        )
        if not names:
            raise FileNotFoundError(
                f"index alias {alias_path} has no committed pointer"
            )
        try:
            stream = fs.open(jvm.org.apache.hadoop.fs.Path(adir, names[-1]))
            try:
                raw = bytes(stream.readAllBytes())
            finally:
                stream.close()
            return raw.decode("utf-8")
        except Exception as exc:  # pruned between list and open: re-list once
            last_err = exc
    raise last_err


def rrf_fuse(
    arms: list[DataFrame],
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    k: int = 10,
    rrf_k: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack/Clarke/Büttcher, SIGIR 2009) of N
    ranked retrieval arms — the standard way to combine a lexical and a
    vector ranking into one hybrid result without score calibration: each
    arm contributes ``1/(rrf_k + rank)`` for the documents it ranked, and
    documents surfacing in several arms accumulate.

    Every ``arms`` entry is ``(query_id_col, id_col, rank)`` — the shape
    :func:`bm25_topk_indexed_batch` and ``similarity.ivf_topk_persisted``
    already serve.  Contributions are exact integer nanos
    (``1e9 div (rrf_k + rank)``), so the fused ordering is
    engine-independent; ties break by ascending id.  Output:
    ``(query_id, id, rrf_nanos, rank)`` with rank ≤ k.

    Scale shape: each arm is already top-k-bounded (queries × arm_k rows),
    so the fusion works on query-sized data — one union, one
    (query, id) partial-aggregated groupBy, one per-query window.  The
    heavy lifting stays in the arms' own pruned index probes; fusing adds
    no corpus-sized stage.

    Query ids pass through with the FIRST arm's type (string request ids
    are a real serving shape — a lossy cast would collapse every
    non-numeric id into one NULL fusion group); arms whose query-id types
    disagree are refused up front, mirroring the stores' id guards."""
    if not arms:
        raise ValueError("rrf_fuse needs at least one ranked arm")
    q_type = dict(arms[0].dtypes)[query_id_col]
    for i, a in enumerate(arms[1:], start=1):
        got = dict(a.dtypes)[query_id_col]
        if got != q_type:
            raise ValueError(
                f"rrf_fuse arm {i} has {query_id_col} type {got!r} but arm 0 "
                f"has {q_type!r}; cast the arms to one query-id type before "
                "fusing (a silent coercion would merge or NULL-out queries)"
            )
    contrib = F.expr(f"{10**9}L div ({int(rrf_k)} + rank)")
    pieces = [
        a.select(
            F.col(query_id_col),
            F.col(id_col),
            contrib.alias("__c__"),
        )
        for a in arms
    ]
    unioned = pieces[0]
    for p in pieces[1:]:
        unioned = unioned.unionByName(p)
    from pyspark.sql import Window

    w = Window.partitionBy(query_id_col).orderBy(
        F.col("rrf_nanos").desc(), F.col(id_col).asc()
    )
    return (
        unioned.groupBy(query_id_col, id_col)
        .agg(F.sum("__c__").cast("long").alias("rrf_nanos"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(k))
        .select(query_id_col, id_col, "rrf_nanos", "rank")
    )


def bm25_topk_indexed(
    spark,
    index_path: str,
    query_terms: list[str],
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    k: int | None = None,
) -> DataFrame:
    """Load-and-probe BM25 over a persisted index: the probe terms' md5
    buckets become a LITERAL ``IN`` on the ``bkt`` partition column (static
    pruning at the listing — ≤ #terms of N_TERM_BUCKETS dirs touched), the
    batch dimension merges by integer addition, and the scoring arithmetic
    is :func:`bm25_scores`'s own — output bit-identical to the
    self-contained path over the same corpus.

    ``k`` bounds the serving result to the top-k documents by
    (bm25 desc, id asc) — ``orderBy(...).limit(k)`` compiles to
    TakeOrderedAndProject (per-partition top-k + a driver merge of
    k·partitions rows, never a global sort), so a common-term probe on a
    100 TB corpus returns k rows, not a corpus-sized result.  ``k=None``
    keeps the exhaustive-scoring behavior for consumers that want every
    matching document (e.g. corpus-wide relevance weighting)."""
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    terms = [t.lower() for t in query_terms]
    out = _sum_nanos(_indexed_term_nanos(spark, index_path, terms, id_col, k1, b), id_col)
    if k is not None:
        out = out.orderBy(F.col("bm25").desc(), F.col(id_col).asc()).limit(int(k))
    return out


def _indexed_term_nanos(
    spark, index_path: str, terms: list[str], id_col: str, k1: float, b: float
) -> DataFrame:
    """``(id_col, term, __nano__)`` for every live posting of ``terms`` —
    the per-(doc, term) table both indexed probes score from.  The terms'
    md5 buckets become a LITERAL ``IN`` on the ``bkt`` partition column,
    so the pruned reads list only the probed bkt dirs of COMMITTED batches
    and open nothing else (batch and bkt are both partition columns: two
    literal INs at the listing); explicit schemas from meta mean zero
    footer sampling.  The batch dimension merges by integer addition."""
    bkts = sorted({_term_bucket_py(t) for t in terms})
    meta = read_meta_row(spark, index_path)
    committed = _committed_batches(spark, index_path)

    def pruned(sub: str, schema: str) -> DataFrame:
        return (
            _read_committed(spark, index_path, sub, committed, schema)
            .filter(F.col("bkt").isin(bkts))
            .filter(F.col("term").isin(terms))
        )

    # tombstoned docs stay physical until compaction; the anti-join hides
    # them, while their negative dfreq/stats deliveries subtract through
    # the cross-batch sums below
    postings = _live_rows(
        spark, index_path,
        pruned("postings", f"doc {meta.id_type}, dl int, term string, tf long")
        .select(F.col("doc").alias(id_col), "dl", "term", "tf"),
        id_col, meta.id_type, committed,
    )
    dfreq = (
        pruned("dfreq", "term string, df long")
        .groupBy("term")
        .agg(F.sum("df").cast("long").alias("df"))
    )
    stats = (
        _read_committed(spark, index_path, "stats", committed, "n_docs long, sum_dl long")
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("sum_dl").cast("long").alias("__sum_dl__"),
        )
        # integer-exact Σdl / n — the identical double F.avg(dl) computes
        # (integer-valued double sums are exact below 2^53)
        .select(
            "n_docs",
            (F.col("__sum_dl__").cast("double") / F.col("n_docs").cast("double")).alias(
                "avgdl"
            ),
        )
    )
    return _term_nanos(postings, dfreq, stats, k1, b).select(id_col, "term", "__nano__")


def bm25_topk_indexed_batch(
    spark,
    index_path: str,
    queries: DataFrame,
    query_id_col: str = "query_id",
    terms_col: str = "terms",
    k: int = 10,
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    max_query_rows: int = 100_000,
) -> DataFrame:
    """Serve a TABLE of queries against the persisted index in ONE pass —
    the lexical analog of :func:`ivf_topk_persisted`'s query batching.
    ``queries`` is ``(query_id, array<string> terms)``.

    Scale shape: the union of every query's terms prunes the postings at
    the file LISTING (one literal ``IN`` on the md5 bucket column — the
    index is opened once for the whole batch, not once per query); the
    exploded (query, term) table is query-sized and broadcasts; per-term
    nano contributions are computed ONCE per (doc, term) and fan out to
    queries through that broadcast join; the final top-k is a window
    ranked inside each query's partition — no global sort, no per-query
    index scan.  The query table is guarded (driver-collected for bucket
    computation), mirroring the ANN probe's ``max_query_rows`` contract.

    Output: ``(query_id, id_col, bm25, rank)`` with rank ≤ k, ties broken
    by ascending id — per-(doc, term) scores are bit-identical to
    :func:`bm25_topk_indexed` over the same index."""
    # guard and collect in ONE job: the limit bounds the driver transfer
    # even when the input is over the cap, and len() replaces a separate
    # count() action (a whole extra scan on every serving call)
    qrows = (
        queries.select(query_id_col, terms_col)
        .limit(int(max_query_rows) + 1)
        .collect()
    )
    if len(qrows) > max_query_rows:
        raise ValueError(
            f"bm25_topk_indexed_batch: query rows exceed "
            f"max_query_rows={max_query_rows}; raise the guard explicitly "
            "if the driver can hold the query set"
        )
    # dedup AFTER lowercasing (r13 ADVICE): ['Hash', 'hash'] is ONE term —
    # a pre-lowercase set() would emit two identical (query_id, 'hash')
    # rows and double that term's contribution vs bm25_topk_indexed
    qterms = [(r[0], sorted({str(t).lower() for t in (r[1] or [])})) for r in qrows]
    empty = [qid for qid, ts in qterms if not ts]
    if empty:
        # match the single-query path's contract: an empty/NULL terms row
        # raises instead of silently vanishing from the output, so callers
        # can distinguish 'no matches' from 'query dropped'
        raise ValueError(
            f"bm25_topk_indexed_batch: no query terms for rows {empty[:10]}"
        )
    terms = sorted({t for _, ts in qterms for t in ts})
    from chat_data_pipeline_spark.session import values_df

    qt = values_df(
        spark,
        [(qid, t) for qid, ts in qterms for t in ts],
        f"{query_id_col} {dict(queries.dtypes)[query_id_col]}, term string",
    )
    per_term = _indexed_term_nanos(spark, index_path, terms, id_col, k1, b)
    scored = _sum_nanos(per_term.join(F.broadcast(qt), "term"), query_id_col, id_col)
    return _rank_per_query(scored, query_id_col, id_col, "bm25", k)


def _rank_per_query(
    scored: DataFrame, query_id_col: str, id_col: str, score: str, k: int
) -> DataFrame:
    """The top ``k`` rows of each query by (``score`` desc, id asc), as
    ``(query_id_col, id_col, score, rank)``: a window ranked inside each
    query's partition, never a global sort."""
    from pyspark.sql import Window

    w = Window.partitionBy(query_id_col).orderBy(
        F.col(score).desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(k))
        .select(query_id_col, id_col, score, "rank")
    )


def text_index_health(spark, index_path: str) -> DataFrame:
    """Per-delivery health report for the persisted BM25 index — the text
    twin of ``similarity.ivf_index_drift_report``: one row per
    ledger-committed batch straight from the index's own artifacts, no
    corpus access.

    Columns: ``(batch, n_docs, sum_dl, n_terms, sum_df, n_postings,
    n_tombstones)``.  A DELETE delivery reads as its negative footprint —
    negative n_docs/sum_dl/sum_df, zero postings, positive tombstones — so
    the report doubles as the audit that a takedown landed with exactly
    the subtraction it should have; the batch SUMS give the live totals a
    probe serves.  Operational signals: many small batches → compact
    (probe pays an N-way merge), large n_tombstones → compact (probe pays
    the anti-join), sum over batches of sum_df trending far below
    n_postings → deletes outpacing compaction.

    Scale shape: postings are touched only by a count aggregate
    (map-side-combined, no row leaves the executors); dfreq/stats/
    tombstones are term-/batch-/id-sized.  O(batches) output rows."""
    meta = read_meta_row(spark, index_path)
    return _batch_health(spark, index_path, meta, [
        ("stats", "n_docs long, sum_dl long",
         [F.sum("n_docs"), F.sum("sum_dl")], ["n_docs", "sum_dl"]),
        ("dfreq", "term string, df long",
         [F.count("*"), F.sum("df")], ["n_terms", "sum_df"]),
        ("postings", f"doc {meta.id_type}, dl int, term string, tf long",
         [F.count("*")], ["n_postings"]),
    ])


def _batch_health(spark, index_path: str, meta, parts: list) -> DataFrame:
    """The per-delivery health report every store kind shares: one row per
    ledger-committed batch, read from the store's OWN artifacts.  Each
    ``(sub, schema, aggs, names)`` part aggregates one artifact per batch
    (map-side-combined, a missing artifact reads as no rows), then
    ``n_tombstones`` is appended, the parts are full-outer joined on
    ``batch`` and a batch absent from a part reads 0 there.

    Join assembly, not a zero-padded union (r18): the r17 union form was
    kept on an at-scale shape argument with no measurement; the r18
    batch-count instrument (16-delivery BM25 store, interleaved best-of-4)
    measured the union ~20% SLOWER (0.73-0.78 s joins vs 0.91-0.92 s
    union) — the full-outer joins REUSE the per-artifact aggregates'
    batch-hash partitioning (guide §2.4 exchange sharing), while the union
    discards it and pays a fresh exchange + a second aggregation.  Rows
    are identical either way (each column is owned by exactly one part)."""
    from chat_data_pipeline_spark.session import values_df

    committed = _committed_batches(spark, index_path)
    parts = [*parts, ("tombstones", f"doc {meta.id_type}", [F.count("*")], ["n_tombstones"])]
    out, names_all = None, []
    for sub, schema, aggs, names in parts:
        fs, path, _jvm = _fs_for(spark, f"{index_path}/{sub}")
        if not fs.exists(path):
            part = values_df(
                spark, [], "batch string, " + ", ".join(f"{n} long" for n in names)
            )
        else:
            part = (
                _read_committed(spark, index_path, sub, committed, schema)
                .groupBy(F.col("batch").cast("string").alias("batch"))
                .agg(*[a.cast("long").alias(n) for a, n in zip(aggs, names)])
            )
        out = part if out is None else out.join(part, "batch", "full_outer")
        names_all += names
    return out.fillna({n: 0 for n in names_all}).orderBy("batch")
