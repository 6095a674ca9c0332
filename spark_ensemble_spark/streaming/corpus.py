"""Streaming corpus-curation operators.

Decontamination at INGEST time: the Bloom bitmask compiled from an eval
suite (:func:`~spark_ensemble_spark.operators.corpus.ngram_bloom_build`) is
pure constant state, so membership testing is a stateless per-row
projection — it composes with ``readStream`` in append mode with ZERO
streaming state (no watermark, no agg), which is exactly what a 100 TB/day
document firehose wants: contaminated docs never even land in the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spark_ensemble_spark.functions.rounding import floor_round as _floor_round

from spark_ensemble_spark.operators.dedup import _shingle_strings
from spark_ensemble_spark.streaming.runner import int_setting, replay_session, run_to_memory

def decontaminate_stream(
    docs: DataFrame,
    bloom_words: list,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_size: int = 8,
    num_hashes: int = 4,
    max_ratio: float = 0.5,
) -> DataFrame:
    """Filter a document stream (or batch frame — the program is identical)
    against a Bloom decontamination mask: appends ``n_shingles`` /
    ``n_flagged`` / ``flagged_ratio`` and keeps rows with
    ``flagged_ratio <= max_ratio``.

    Unlike the batch :func:`~spark_ensemble_spark.operators.corpus.\
bloom_contamination` (explode → groupBy, the high-throughput shape), the
    per-document counts here are computed per ROW — completely STATELESS:
    append-mode streaming with no watermark, no aggregation buffer, and
    exact parity with the batch flag decision (same shingles, same md5
    double-hash, same mask).

    Evaluation shape (r13, guide §4.2 — replacing the r6 interpreted fold):
    the k-gram ARRAY is still built by the exact `_shingle_strings`
    expression (JVM codegen, shared with the batch path and every md5
    oracle, so tokenization semantics cannot drift), but the per-gram
    md5 + Kirsch-Mitzenmacher probes moved into an Arrow ``mapInPandas``
    seam. Two r6-era costs disappear at once:

    * the per-gram probe ran as CodegenFallback higher-order lambdas —
      interpreted, no subexpression elimination (measured 2.2s/pass at
      sf0.1 after the r6 fixes; native ``hashlib`` + integer probes cost
      ~2 µs/gram single-threaded, i.e. ~2.1s per 1M grams over all tasks);
    * the 2^20-bit mask rode the PLAN as a 16384-element array literal
      referenced from every probe — and a STREAMING query re-analyzes its
      plan every micro-batch, so each trigger re-walked a multi-MB
      expression tree (measured 7-16s of pure driver planning per replay).
      The mask now ships once per task inside the function closure; the
      plan carries no literal at all.

    Decision parity is exact by construction: md5 of the UTF-8 gram bytes,
    ``int(hex[0:15], 16)`` / ``int(hex[16:31], 16)`` (the `_md5_hash_pair`
    contract), positions ``(h1 + i·h2) mod num_bits``, two's-complement
    bit tests — all integer ops with one bit-identical answer on every
    engine. The float ratio + threshold filter stay JVM-side, so no float
    ever crosses the boundary."""
    num_bits = len(bloom_words) * 64
    mask_words = [int(w) for w in bloom_words]
    shingles = _shingle_strings(F.col(text_col), shingle_size, "word")
    g = "__grams"
    while g in docs.columns:
        g += "_"
    base_cols = [c for c in docs.columns if c not in ("n_shingles", "n_flagged")]
    with_grams = docs.select(*base_cols).withColumn(g, shingles)
    out_fields = [with_grams.schema[c] for c in base_cols]
    out_schema = T.StructType(
        out_fields
        + [
            T.StructField("n_shingles", T.LongType()),
            T.StructField("n_flagged", T.LongType()),
        ]
    )

    def op(batches):
        import hashlib

        for pdf in batches:
            n_list, f_list = [], []
            for grams in pdf[g]:
                n = len(grams)
                f = 0
                for gram in grams:
                    h = hashlib.md5(gram.encode("utf-8")).hexdigest()
                    h1 = int(h[0:15], 16)
                    h2 = int(h[16:31], 16)
                    for i in range(num_hashes):
                        p = (h1 + i * h2) % num_bits
                        if not mask_words[p >> 6] & (1 << (p & 63)):
                            break
                    else:
                        f += 1
                n_list.append(n)
                f_list.append(f)
            out = pdf.drop(columns=[g])
            out["n_shingles"] = n_list
            out["n_flagged"] = f_list
            yield out

    counted = with_grams.mapInPandas(op, schema=out_schema)
    out = counted.withColumn(
        "flagged_ratio",
        _floor_round(F.col("n_flagged") / F.col("n_shingles").cast("double"), 6),
    )
    return out.filter(F.col("flagged_ratio") <= max_ratio)


def read_documents_stream(
    spark: SparkSession, path: str, glob: str | None = "documents.parquet"
) -> DataFrame:
    """File-source streaming read of the documents table; the schema comes
    from a batch footer probe (no data job), mirroring
    :func:`~spark_ensemble_spark.streaming.events.read_events_stream`."""
    probe = spark.read.parquet(f"{path}/{glob}" if glob else path)
    reader = spark.readStream.schema(probe.schema)
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.parquet(path)


def _replay_width(spark: SparkSession) -> int:
    """``spark.sql.shuffle.partitions``, or ``defaultParallelism`` for ``auto``."""
    key = "spark.sql.shuffle.partitions"
    return int_setting(spark.conf.get(key), spark.sparkContext.defaultParallelism, key)


def streaming_decontaminate(
    spark: SparkSession,
    sf_dir: str,
    shingle_size: int = 8,
    num_bits: int = 1 << 20,
    num_hashes: int = 4,
    max_ratio: float = 0.5,
) -> DataFrame:
    """File-replay harness: compile the eval suite (doc_id % 20 == 0) to a
    Bloom mask batch-side, stream the documents table through the
    decontamination filter, and return the surviving rows' flag columns.
    Every eval member self-flags at ratio 1.0 and is dropped; clean docs
    pass with only Bloom false positives flagged."""
    from spark_ensemble_spark.operators.corpus import ngram_bloom_build
    from spark_ensemble_spark.sources.datasets import load_table

    spark = replay_session(spark)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    words = ngram_bloom_build(
        docs.filter(F.col("doc_id") % 20 == 0),
        "text",
        shingle_size,
        num_bits,
        num_hashes,
    )
    # The file source hands each single-row-group test file to ONE task —
    # a round-robin repartition before the stateless filter restores
    # parallelism (the r6 interpreted fold measured 24s single-core vs ~4s
    # spread). Width: the replay session's own shuffle size, NOT cluster
    # width — the Arrow-seam probe needs far fewer cores for replay-sized
    # data (measured warm at sf0.1: 8-way 1.3-1.4s vs 32-way 1.6s), and
    # every extra partition demands a Python worker, which Spark 4 evicts
    # after a hardcoded idle minute and respawns ~1s/worker SERIALIZED
    # (OPTIMIZATION_r13.md Finding 1 — a 32-worker demand spike after a
    # JVM-only span cost 35s in-bench). A production firehose has many
    # files per trigger and usually skips this exchange entirely.
    stream = (
        read_documents_stream(spark, sf_dir)
        .select("doc_id", "text")
        .repartition(_replay_width(spark))
    )
    kept = decontaminate_stream(
        stream,
        words,
        "text",
        "doc_id",
        shingle_size,
        num_hashes,
        max_ratio,
    ).select("doc_id", "n_shingles", "n_flagged", "flagged_ratio")
    return run_to_memory(kept, "append", "stream_decontaminate")


def incremental_dedup_stream(
    spark: SparkSession,
    docs_stream: DataFrame,
    out_path: str,
    index_path: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    num_hashes: int = 48,
    bands: int = 16,
    shingle_size: int = 3,
    seed: int = 7,
    hash_fn: str = "xxhash64",
):
    """Continuous corpus ingestion with dedup-on-arrival: every micro-batch
    is (1) self-deduped (exact + banded MinHash within the delivery), (2)
    deduped against the PERSISTED index of everything already accepted
    (:func:`~spark_ensemble_spark.operators.dedup.dedup_against_corpus`
    with precomputed fingerprint + signature frames — accepted text is
    never re-read), and (3) appended to the corpus, with its fingerprints
    and MinHash signatures appended to the index for the next delivery.

    Exactly-once: corpus and index writes are scoped ``batch_id=N``
    overwrites (the :func:`~spark_ensemble_spark.streaming.sinks.\
write_stream_exactly_once` pattern), so a crash-replayed batch rewrites its
    own directories instead of double-accepting. foreachBatch runs batches
    sequentially, so batch N+1 always sees batch N's index.

    At 100 TB the index holds ``num_hashes`` longs + one fingerprint per
    accepted doc — the signatures ARE the dedup state, same contract as the
    batch incremental path. Returns the started StreamingQuery."""
    from spark_ensemble_spark.operators.dedup import (
        dedup_against_corpus,
        exact_dedup,
        minhash_dup_pairs,
        minhash_signatures,
        resolve_duplicates,
    )
    from spark_ensemble_spark.operators.text import fingerprint

    sig_kwargs = dict(
        num_hashes=num_hashes,
        shingle_size=shingle_size,
        seed=seed,
        hash_fn=hash_fn,
    )

    def read_index(sub: str):
        """The index relation, or None before any COMMITTED write. Only the
        two deterministic no-data conditions degrade to "no index yet":
        path missing (first batch) and schema-uninferrable (a torn write
        left only _temporary files — treating that as fatal would wedge the
        stream in a permanent replay loop, since this batch's own overwrite
        is what repairs the directory). Everything else — transient listing
        errors, corrupt footers — propagates and fails the batch, so
        cross-batch dedup is never silently skipped."""
        from pyspark.errors import AnalysisException

        try:
            return spark.read.parquet(f"{index_path}/{sub}")
        except AnalysisException as e:
            cls = getattr(e, "getErrorClass", lambda: "")() or str(e)
            if "PATH_NOT_FOUND" in cls or "UNABLE_TO_INFER_SCHEMA" in cls:
                return None
            raise

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        fp = fingerprint(F.coalesce(F.col(text_col), F.lit("")))
        batch = exact_dedup(
            batch_df.withColumn("__fp", fp), ["__fp"], id_col
        ).drop("__fp")
        pairs = minhash_dup_pairs(
            batch,
            text_col,
            id_col,
            threshold=threshold,
            bands=bands,
            **sig_kwargs,
        ).select("id_a", "id_b")
        batch = resolve_duplicates(batch, pairs, id_col)
        sig_raw, fp_raw = read_index("sig"), read_index("fp")
        if sig_raw is not None and fp_raw is not None:
            # A crash-replayed batch finds its OWN batch_id partitions in the
            # index; deduping against them would reject every replayed doc
            # and overwrite the output with an empty frame — data loss the
            # batch_id filter prevents (only STRICTLY EARLIER batches count
            # as corpus).
            sig_index = sig_raw.filter(F.col("batch_id") < batch_id)
            fp_index = fp_raw.filter(F.col("batch_id") < batch_id)
            # corpus_df=None is safe: both index frames are supplied, so the
            # corpus text path is never touched
            accepted = dedup_against_corpus(
                batch,
                None,
                text_col,
                id_col,
                threshold=threshold,
                bands=bands,
                corpus_signatures=sig_index.drop("batch_id"),
                corpus_fingerprints=fp_index.drop("batch_id"),
                **sig_kwargs,
            )
        else:
            accepted = batch
        accepted = accepted.localCheckpoint(eager=True)
        accepted.write.mode("overwrite").parquet(f"{out_path}/batch_id={batch_id}")
        accepted.select(fp.alias("__fp")).distinct().write.mode("overwrite").parquet(
            f"{index_path}/fp/batch_id={batch_id}"
        )
        minhash_signatures(
            accepted.select(id_col, text_col), text_col, id_col, **sig_kwargs
        ).write.mode("overwrite").parquet(f"{index_path}/sig/batch_id={batch_id}")

    return (
        docs_stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def bm25_alert_stream(
    docs: DataFrame,
    model,
    n_docs: int,
    sum_dl: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    round_to: int = 6,
) -> DataFrame:
    """Query alerting at INGEST: score each incoming document against a
    compiled frozen-stats BM25 query model
    (:func:`~spark_ensemble_spark.operators.retrieval.bm25_query_model`)
    and emit one ``(id, query_id, score)`` row per positive match. The
    model is pure literals (query-vocabulary-sized), so this is a
    STATELESS append-mode projection — the Bloom-decontamination pattern:
    no watermark, no state store, per-micro-batch cost = the batch
    projection's. Works identically on batch frames (stream/batch parity
    is the test)."""
    from spark_ensemble_spark.operators.retrieval import bm25_frozen_scores

    scores = bm25_frozen_scores(
        F.col(text_col), model, n_docs, sum_dl, k1=k1, b=b, round_to=round_to
    )
    return docs.select(
        F.col(id_col), F.explode(scores).alias("__e")
    ).select(
        id_col,
        F.col("__e.query_id").alias("query_id"),
        F.col("__e.score_micro").alias("score_micro"),
    )


def streaming_bm25_alerts(
    spark: SparkSession,
    sf_dir: str,
    query_rows,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """File-replay harness: compile the BM25 query model from the batch
    documents table (the frozen reference corpus), stream the same table
    through :func:`bm25_alert_stream`, and return every positive
    (doc, query) score."""
    from spark_ensemble_spark.operators.retrieval import bm25_query_model
    from spark_ensemble_spark.sources.datasets import load_table

    spark = replay_session(spark)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    from spark_ensemble_spark.sources.datasets import local_df

    queries = local_df(
        spark, list(query_rows), "query_id string, query_text string"
    )
    model, n, sdl = bm25_query_model(docs, queries, k1=k1, b=b)
    stream = (
        read_documents_stream(spark, sf_dir)
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    alerts = bm25_alert_stream(stream, model, n, sdl, k1=k1, b=b)
    return run_to_memory(alerts, "append", "stream_bm25_alerts")


def bpe_token_stream(
    docs: DataFrame,
    merges,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Token counting at INGEST under a frozen BPE merge list: one
    ``(id, n_tokens)`` row per incoming document with at least one word —
    the stateless-projection family (Bloom decontamination, frozen-BM25
    alerting): merges are literals, so there is no vocabulary state, no
    join, no watermark, and per-micro-batch cost equals the batch
    projection's. Works identically on batch frames (stream/batch parity is
    the test); the at-rest corpus path
    (:func:`~spark_ensemble_spark.operators.tokenizer.bpe_token_counts`)
    instead amortizes segmentation over distinct words."""
    from spark_ensemble_spark.operators.tokenizer import token_count_expr

    return docs.select(
        F.col(id_col),
        token_count_expr(F.col(text_col), merges).alias("n_tokens"),
    ).filter(F.col("n_tokens") > 0)


def streaming_bpe_tokens(
    spark: SparkSession, sf_dir: str, num_merges: int = 10
) -> DataFrame:
    """File-replay harness: learn the merge list from the batch documents
    table (the frozen tokenizer), then stream the same table through
    :func:`bpe_token_stream`. The result must equal both the batch
    vocab-join path and the unrolled DuckDB training replay — the
    train→freeze→ingest triple parity."""
    from spark_ensemble_spark.operators.tokenizer import bpe_train
    from spark_ensemble_spark.sources.datasets import load_table

    spark = replay_session(spark)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    merges = [
        (r.lhs, r.rhs)
        for r in bpe_train(docs, num_merges=num_merges).orderBy("merge_rank").collect()
    ]
    # Single-row-group test files land on one task and the per-row
    # words × merges fold chain is the cost center — same spread rationale
    # as streaming_decontaminate.
    stream = (
        read_documents_stream(spark, sf_dir)
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    counted = bpe_token_stream(stream, merges)
    return run_to_memory(counted, "append", "stream_bpe_tokens")


def bm25_index_stream(
    docs_stream: DataFrame,
    index_path: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """STREAMING lexical-index maintenance — the BM25 counterpart of the
    ANN family's ``ann_index_stream``, completing the retrieval index
    lifecycle (build ← THIS, serve ← ``bm25_topk(index=...)``, alert ←
    ``bm25_alert_stream``): documents arrive on a stream and each
    micro-batch's posting lists (``build_bm25_index`` — term, id, tf, dl)
    land as ``batch_id=N``-scoped idempotent parquet overwrites, next to
    the batch's 1-row (n_docs, sum_dl) stats PARTIAL.

    Per-doc rows (tf, dl) are complete within the doc's own batch, so
    appending never rewrites history, and the corpus-level stats are
    MERGEABLE partials (plain sums — the rollup-store posture):
    :func:`read_bm25_index_dir` re-aggregates them at read time, so the
    serve-side df counts and length normalization are computed over the
    union index exactly as a from-scratch build would. Driver state:
    none. Returns the started StreamingQuery."""
    from spark_ensemble_spark.operators.retrieval import build_bm25_index

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        postings, stats = build_bm25_index(batch_df, text_col, id_col)
        postings.write.mode("overwrite").parquet(
            f"{index_path}/postings/batch_id={batch_id}"
        )
        stats.write.mode("overwrite").parquet(
            f"{index_path}/stats/batch_id={batch_id}"
        )

    return (
        docs_stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def bm25_tombstone_stream(
    removed_stream: DataFrame,
    index_path: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """STREAMING takedown maintenance for a stream-built BM25 index (the
    delete half of the lifecycle next to :func:`bm25_index_stream`'s
    appends — VERDICT r9 missing #3 at the streaming tier): removed
    documents arrive on a stream and each micro-batch lands as (a) a
    ``batch_id``-scoped tombstone id list and (b) a NEGATIVE
    ``(−n_docs, −sum_dl)`` stats partial — the LSM discipline: the
    indexed corpus is never re-read or rewritten, deletes are just more
    mergeable partials, and :func:`read_bm25_index_dir` applies the
    accumulated tombstones at load (posting anti-join + the stats sum
    absorbing the negative partials). Idempotent per batch_id like every
    foreachBatch writer here; the wave is per-doc deduped AND anti-joined
    against every PRIOR batch's accumulated tombstone ids, so re-delivered
    rows cannot double-decrement the stats either intra- or cross-batch
    (the ``remove_from_bm25_index`` contract) — the posting anti-join was
    always idempotent, but a second negative (n_docs, sum_dl) partial for
    the same id would silently skew avgdl and every served score. The
    prior-batch filter is ``batch_id < N`` (never ``<=``), so replaying a
    failed batch N still sees exactly the pre-N state and rewrites the
    identical partial.  The guard also consults the generation's
    ``compacted_tombstones`` carry-forward (ids whose delete
    :func:`compact_bm25_index_dir` already folded into the compacted
    postings/stats), so a takedown re-delivered AFTER a compaction cannot
    decrement stats that no longer count the doc — while serving stays
    carry-forward-free (``read_bm25_index_dir`` never touches that dir;
    the per-serve read amplification genuinely resets).  Returns the
    started StreamingQuery."""
    import os

    from spark_ensemble_spark.operators.retrieval import build_bm25_index

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.dropDuplicates([id_col])
        spark = batch_df.sparkSession
        prior_dirs = [
            d
            for d in ("tombstones", "compacted_tombstones")
            if os.path.isdir(f"{index_path}/{d}")
        ]
        for d in prior_dirs:
            prior = spark.read.parquet(f"{index_path}/{d}")
            if d == "tombstones":
                prior = prior.filter(
                    F.col("batch_id") < F.lit(int(batch_id))
                )
            batch_df = batch_df.join(
                F.broadcast(prior.select(id_col)), id_col, "left_anti"
            )
        _, stats = build_bm25_index(batch_df, text_col, id_col)
        neg = stats.select(
            (-F.coalesce(F.col("n_docs"), F.lit(0))).alias("n_docs"),
            (-F.coalesce(F.col("sum_dl"), F.lit(0))).alias("sum_dl"),
        )
        batch_df.select(id_col).write.mode("overwrite").parquet(
            f"{index_path}/tombstones/batch_id={batch_id}"
        )
        neg.write.mode("overwrite").parquet(
            f"{index_path}/tombstone_stats/batch_id={batch_id}"
        )

    return (
        removed_stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def read_bm25_index_dir(spark: SparkSession, index_path: str):
    """Load a :func:`bm25_index_stream` directory → the ``(postings,
    stats)`` pair ``bm25_topk(index=..., index_stats=...)`` serves from:
    postings are the union of every batch's lists; stats merge the per-batch
    partials by plain summation (exact integers — merge order free). If a
    :func:`bm25_tombstone_stream` has written delete partials, the
    accumulated tombstone ids are anti-joined away and the negative stats
    partials fold into the same sum — serve-after-delete equals a
    from-scratch rebuild on the post-delete corpus."""
    import os

    postings = spark.read.parquet(f"{index_path}/postings")
    stats_df = spark.read.parquet(f"{index_path}/stats")
    if os.path.isdir(f"{index_path}/tombstones"):
        tomb = spark.read.parquet(f"{index_path}/tombstones")
        idc = [c for c in tomb.columns if c != "batch_id"][0]
        postings = postings.join(
            F.broadcast(tomb.select(idc).distinct()), idc, "left_anti"
        )
        stats_df = stats_df.unionByName(
            spark.read.parquet(f"{index_path}/tombstone_stats").select(
                "n_docs", "sum_dl"
            ),
            allowMissingColumns=True,
        )
    stats = stats_df.agg(
        F.sum("n_docs").alias("n_docs"),
        F.sum("sum_dl").alias("sum_dl"),
    )
    return postings, stats


def _batch_dirs(path: str) -> list:
    """Sorted ``batch_id`` values of the ``batch_id=N`` partition dirs
    under ``path`` ([] when the dir does not exist)."""
    import os

    if not os.path.isdir(path):
        return []
    out = []
    for d in os.listdir(path):
        if d.startswith("batch_id="):
            out.append(int(d.split("=", 1)[1]))
    return sorted(out)


def compact_bm25_index_dir(
    spark: SparkSession,
    index_path: str,
    out_path: str,
    keep_recent: int = 0,
) -> None:
    """COMPACTION — the third leg of the LSM cycle (append
    :func:`bm25_index_stream` / delete :func:`bm25_tombstone_stream` /
    THIS): fold the accumulated tombstone partials into a fresh index
    GENERATION at ``out_path`` — surviving postings rewritten once (the
    tombstone anti-join paid at compaction time instead of every read),
    the per-batch stats partials and negative delete partials collapsed
    into ONE exact row — read amplification resets.  Without compaction
    every serve pays an anti-join against the full delete history, which
    grows unboundedly with takedown waves (VERDICT r10 missing #4).

    ``keep_recent=r`` is the LEVELED variant (L0→L1): the ``r``
    highest-batch-id append batches — the hot level, the most recently
    ingested and most likely still-churning data — are carried into the
    new generation as verbatim file copies, never rewritten; only the
    cold batches below them fold into the compacted ``batch_id=-1``
    level.  This bounds WRITE amplification the way full compaction
    bounds read amplification: at 100 TB a nightly full rewrite of the
    whole posting store is the cost ceiling, while leveling rewrites
    each posting once per level promotion.  A tombstone id whose target
    lives in a kept hot batch cannot be folded (its posting rows are
    copied verbatim), so those ids are RETAINED as a live tombstone list
    at ``tombstones/batch_id=-1`` — below every batch id a fresh
    checkpoint can produce, so :func:`bm25_tombstone_stream`'s
    ``batch_id < N`` double-decrement guard keeps seeing them — next to
    an empty ``tombstone_stats/batch_id=-1`` partial (their stats
    decrement is already inside the collapsed stats row; the empty
    frame keeps the read-side union well-formed).  ``keep_recent=0``
    is exact full compaction: no hot level, no retained ids, no
    tombstone directories in the output.

    The compacted level lands at ``batch_id=-1`` (NOT 0): a new append
    stream on the generation starts a fresh checkpoint at batch 0, and
    its idempotent ``mode("overwrite")`` write of
    ``postings/batch_id=0`` would silently replace a compacted level
    stored there.  ``read_bm25_index_dir`` serves the generation
    unchanged either way.  Compacted == rebuilt-from-post-delete-corpus
    bit-for-bit: postings rows are untouched originals, stats sums are
    exact integers — oracle-checked by ``streaming_bm25_compaction`` /
    ``streaming_bm25_leveled_compaction``.

    The folded delete ids are carried forward as
    ``out_path/compacted_tombstones`` — NEVER read at serve time (the
    read-amplification reset is real), but consulted by
    :func:`bm25_tombstone_stream`'s double-decrement guard so an
    at-least-once takedown feed re-delivering an already-compacted-away id
    cannot decrement the folded stats a second time.  Chains across
    compactions: a later compaction unions the generation's folded
    tombstones with its inherited carry-forward."""
    import os
    import shutil

    if os.path.realpath(out_path) == os.path.realpath(index_path):
        raise ValueError(
            "compact_bm25_index_dir cannot compact in place: the postings "
            "write would overwrite a directory its own lazy plan reads "
            "from — write a new generation directory, then swap"
        )
    batch_ids = _batch_dirs(f"{index_path}/postings")
    hot = batch_ids[len(batch_ids) - keep_recent:] if keep_recent > 0 else []
    cold = [b for b in batch_ids if b not in set(hot)]

    live_tomb = None
    if os.path.isdir(f"{index_path}/tombstones"):
        tomb = spark.read.parquet(f"{index_path}/tombstones")
        idc = [c for c in tomb.columns if c != "batch_id"][0]
        live_tomb = tomb.select(idc).distinct()

    if cold:
        cold_postings = spark.read.parquet(
            *[f"{index_path}/postings/batch_id={b}" for b in cold]
        )
        idc_p = cold_postings.columns[1]  # (term, <id>, tf, dl)
        if live_tomb is not None:
            cold_postings = cold_postings.join(
                F.broadcast(live_tomb.withColumnRenamed(
                    live_tomb.columns[0], idc_p
                )),
                idc_p,
                "left_anti",
            )
        cold_postings.write.mode("overwrite").parquet(
            f"{out_path}/postings/batch_id=-1"
        )
    # hot level: verbatim file copy — "never rewritten" is literal (on a
    # cluster this is a metastore/file move, not a data pass).  Kept
    # batches are REMAPPED to reserved negative ids (-2, -3, … most-recent
    # first), never their original positive ids: a new append stream
    # resuming on the generation starts a fresh checkpoint at batch 0 and
    # its idempotent mode("overwrite") write would silently replace a hot
    # copy parked at a positive id once its batch counter reached it
    # (ADVICE r11).  All negative ids sit below anything a fresh
    # checkpoint can produce; dirs_exist_ok makes a retried compaction
    # into the same out_path idempotent instead of crashing copytree.
    for j, b in enumerate(sorted(hot, reverse=True)):
        shutil.copytree(
            f"{index_path}/postings/batch_id={b}",
            f"{out_path}/postings/batch_id={-(2 + j)}",
            dirs_exist_ok=True,
        )

    # stats are GLOBAL exact sums — collapse every append partial and (when
    # a delete history exists) every negative partial into one row, no
    # matter which level their postings ended up in
    stats_df = spark.read.parquet(f"{index_path}/stats")
    if live_tomb is not None:
        stats_df = stats_df.unionByName(
            spark.read.parquet(f"{index_path}/tombstone_stats").select(
                "n_docs", "sum_dl"
            ),
            allowMissingColumns=True,
        )
    stats_df.agg(
        F.sum("n_docs").alias("n_docs"), F.sum("sum_dl").alias("sum_dl")
    ).write.mode("overwrite").parquet(f"{out_path}/stats/batch_id=-1")

    retained = None
    folded = None
    if live_tomb is not None:
        if hot:
            hot_postings = spark.read.parquet(
                *[f"{index_path}/postings/batch_id={b}" for b in hot]
            )
            hot_ids = hot_postings.select(
                F.col(hot_postings.columns[1]).alias(live_tomb.columns[0])
            ).distinct()
            retained = live_tomb.join(hot_ids, live_tomb.columns[0], "left_semi")
            folded = live_tomb.join(hot_ids, live_tomb.columns[0], "left_anti")
        else:
            folded = live_tomb
    if os.path.isdir(f"{index_path}/compacted_tombstones"):
        inherited = spark.read.parquet(f"{index_path}/compacted_tombstones")
        folded = (
            inherited if folded is None else folded.unionByName(inherited)
        )
    if retained is not None and retained.limit(1).count() > 0:
        retained.write.mode("overwrite").parquet(
            f"{out_path}/tombstones/batch_id=-1"
        )
        spark.createDataFrame([], "n_docs bigint, sum_dl bigint").write.mode(
            "overwrite"
        ).parquet(f"{out_path}/tombstone_stats/batch_id=-1")
    if folded is not None:
        folded.distinct().write.mode("overwrite").parquet(
            f"{out_path}/compacted_tombstones"
        )


def crawl_frontier_stream(
    spark: SparkSession,
    sf_dir: str,
    blocklist: tuple[str, ...] = (),
) -> DataFrame:
    """Streaming crawl frontier: documents arrive on a stream, run the
    STATELESS crawl front-door stages per row (HTML->text extraction, URL
    normalization, blocklist), and maintain one state row per normalized
    URL — the canonical (minimal) doc_id, how many raw URLs collapsed onto
    it, and the best quality seen. ``min``/``max``/``count`` are
    arrival-order-invariant, so the replayed frontier equals the batch
    GROUP BY regardless of micro-batching — and at 100 TB the state is
    frontier-sized (one row per distinct normalized URL), partitioned by
    url_norm, exactly the keyed state a recrawl scheduler queries. The
    memory sink runs in complete mode for replay; production writes
    update-mode deltas to a KV store."""
    from spark_ensemble_spark.operators import html as _h
    from spark_ensemble_spark.operators import urls as _u
    from spark_ensemble_spark.operators.text import quality_score

    spark = replay_session(spark)
    stream = (
        read_documents_stream(spark, sf_dir)
        .select("doc_id", "source", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    raw = stream.select(
        "doc_id",
        "source",
        _h.html_fixture(F.col("doc_id"), F.col("text")).alias("html"),
    )
    cleaned = _h.clean_html(raw, out_col="text_clean").select(
        "doc_id", "source", "text_clean"
    )
    feats = _u.url_features(
        cleaned.withColumn(
            "url", _u.url_fixture(F.col("doc_id"), F.col("source"))
        ),
        blocklist=blocklist,
    )
    frontier = (
        feats.filter(~F.col("blocked"))
        .withColumn(
            "quality", _floor_round(quality_score(F.col("text_clean")), 6)
        )
        .groupBy("url_norm")
        .agg(
            F.min("doc_id").alias("canonical_doc"),
            F.count(F.lit(1)).alias("n_seen"),
            F.max("quality").alias("best_quality"),
        )
        .select(
            "url_norm",
            F.col("canonical_doc").cast("long").alias("canonical_doc"),
            F.col("n_seen").cast("long").alias("n_seen"),
            "best_quality",
        )
    )
    return run_to_memory(frontier, "complete", "crawl_frontier")


def span_index_stream(
    docs_stream: DataFrame,
    index_path: str,
    checkpoint_dir: str,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Streaming span-dedup index maintenance: each micro-batch's
    ``span_gram_index`` partial (one ``(gram_hash, min_doc)`` row per
    distinct batch gram) lands as a batch_id-scoped idempotent write.
    Partials are MERGEABLE (min-doc union — property-tested), so
    :func:`read_span_index_dir` re-aggregates to exactly the from-scratch
    corpus index and history is never re-read. Driver state: none.
    Returns the started StreamingQuery."""
    from spark_ensemble_spark.operators.spans import span_gram_index

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        span_gram_index(batch_df, k, id_col, text_col).write.mode(
            "overwrite"
        ).parquet(f"{index_path}/grams/batch_id={batch_id}")

    return (
        docs_stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def read_span_index_dir(spark: SparkSession, index_path: str) -> DataFrame:
    """Load a :func:`span_index_stream` directory → the merged
    ``(gram_hash, min_doc)`` index ``scrub_delivery_spans`` consumes:
    per-batch partials merge by ``min`` (exact integers — order free)."""
    return (
        spark.read.parquet(f"{index_path}/grams")
        .groupBy("gram_hash")
        .agg(F.min("min_doc").alias("min_doc"))
    )
