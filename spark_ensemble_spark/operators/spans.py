"""Cross-document repeated-SPAN detection and scrubbing (exact-substring
dedup at word-k-gram resolution).

Whole-document dedup (exact / MinHash / SimHash — ``operators/dedup.py``)
misses the dominant duplication mode in web corpora: the SAME boilerplate
passage pasted into thousands of otherwise-distinct pages. Lee et al. 2021
("Deduplicating Training Data Makes Language Models Better") remove exact
repeated SUBSTRINGS; the suffix-array construction they use is a
single-machine algorithm, so the Spark-first re-expression here works at
word k-gram resolution — the same granularity MinHash shingles already
use — which distributes as plain relational algebra:

1. **Gram table**: one row per (doc, position) word k-gram, hashed
   (``md5`` — cross-engine). A narrow projection + one ``posexplode``;
   size = total corpus tokens, the same order as any inverted index.
2. **Corpus stats per gram**: ``groupBy(hash)`` → distinct-doc count and
   the minimal containing doc. The ONE data-sized shuffle, map-side
   partial-aggregated. Grams seen in ≥2 docs are "repeated".
3. **Foreign occurrences**: a gram occurrence is *foreign* when its doc is
   NOT the minimal doc for that gram — exactly one canonical copy of
   every repeated passage survives corpus-wide (the Lee et al. keep-one
   policy, made deterministic by keying on min doc_id).
4. **Maximal spans**: overlapping/adjacent foreign grams merge into
   maximal word ranges via gaps-and-islands (grams at p1 < p2 overlap or
   adjoin iff p2 ≤ p1 + k). Per-doc window — partitions by doc, never by
   corpus.
5. **Scrub**: drop the covered word positions, keep everything else —
   a pure array fold over the original word array, no second shuffle.

Spans shorter than ``min_len`` words are kept (Lee et al. threshold 50
BPE tokens; default here is k, i.e. every foreign gram scrubs).

Scale posture: stages 1-2 are the inverted-index build shape (token-count
rows through one hash-keyed exchange); stage 3 is a hash-keyed equi-join
of the gram table to the (much smaller) repeated-gram set; stages 4-5 are
doc-partitioned windows/folds. Driver state: none. No floats anywhere —
positions, counts, and md5 strings only, so every output is exactly
replayable in any engine.

Reference parity: the reference engine has no substring-dedup surface —
beyond-reference LLM-pipeline scope (SURVEY.md §6).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _words(text: Column) -> Column:
    """Non-empty whitespace tokens of lowercased trimmed text (the corpus
    module's tokenization, NULL-safe)."""
    toks = F.split(F.lower(F.trim(F.coalesce(text, F.lit("")))), r"\s+")
    return F.filter(toks, lambda t: t != "")


def _words_sql(text_expr: str) -> str:
    return (
        f"list_filter(string_split_regex(lower(trim(coalesce({text_expr}, ''))),"
        f" '\\s+'), t -> t != '')"
    )


def _gram_table(
    docs: DataFrame, k: int, id_col: str, text_col: str
) -> DataFrame:
    """(doc, pos) → md5 of the k words starting at 0-based ``pos``."""
    from spark_ensemble_spark.operators.dedup import _eval_once_column
    from spark_ensemble_spark.sources.datasets import spread_to_parallelism

    # per-row cost is k slices + an md5 per position — the compute-heavy
    # profile spread_to_parallelism exists for (single-row-group test files
    # otherwise run it on one core; a no-op on many-split production scans)
    docs = spread_to_parallelism(docs)
    # The tokenization MUST be pinned to a materialized column before the
    # per-position lambda touches it: the k try_element_at calls are inside
    # a higher-order function (CodegenFallback — no subexpression
    # elimination), so an inline `words` EXPRESSION would re-run
    # split+filter over the whole document k times PER POSITION — measured
    # 50× on sf0.1 (the r6 verify-fold hazard, operators/dedup.py:126).
    wdf = _eval_once_column(
        docs.select(F.col(id_col).alias("__id"), F.col(text_col)),
        "__words",
        _words(F.col(text_col)),
    )
    words = F.col("__words")
    grams = F.when(
        F.size(words) >= k,
        F.transform(
            F.sequence(F.lit(0), F.size(words) - k),
            lambda i: F.md5(
                F.concat_ws(
                    " ",
                    *[F.try_element_at(words, i + F.lit(j + 1)) for j in range(k)],
                )
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return wdf.select("__id", grams.alias("__grams")).select(
        "__id", F.posexplode("__grams").alias("__pos", "__h")
    )


def repeated_spans(
    docs: DataFrame,
    k: int = 8,
    min_len: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Maximal foreign repeated spans per document.

    Returns one row per (doc, span): ``doc_id, span_start, span_end``
    (0-based inclusive word positions), ``span_words``, ``n_source_grams``
    (foreign grams merged into the span), ``source_doc`` (provenance: the
    smallest canonical document holding any gram of the span), and
    ``span_text``. The minimal doc containing a gram is its canonical
    home and emits no span for it."""
    min_len = k if min_len is None else min_len
    grams = _gram_table(docs, k, id_col, text_col)
    # Both the corpus-stats aggregate and the foreign-occurrence probe read
    # the gram table; without a cache Spark generates (tokenize + k slices +
    # md5 per position) TWICE — the minhash_dup_pairs idiom: persist, build
    # the much smaller downstream set, localCheckpoint it, release.
    grams = grams.persist()

    stats = grams.groupBy("__h").agg(
        F.countDistinct("__id").alias("__n_docs"),
        F.min("__id").alias("__min_id"),
    )
    dup = stats.filter(F.col("__n_docs") >= 2).select("__h", "__min_id")

    foreign = (
        grams.join(dup, "__h")
        .filter(F.col("__id") > F.col("__min_id"))
        .select("__id", "__pos", F.col("__min_id").alias("__src"))
        # the same k-gram can repeat INSIDE a doc; positions must be
        # unique before the islands walk or lag() sees duplicates — and
        # provenance keeps the smallest canonical holder per position
        .groupBy("__id", "__pos")
        .agg(F.min("__src").alias("__src"))
        .localCheckpoint(eager=True)
    )
    grams.unpersist()
    return _spans_from_foreign(foreign, docs, k, min_len, id_col, text_col)


def _spans_from_foreign(
    foreign: DataFrame,
    docs: DataFrame,
    k: int,
    min_len: int,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Foreign (doc, pos) gram set → maximal spans with text (the
    gaps-and-islands merge + the doc-keyed words join, shared by the
    full-corpus and incremental variants)."""
    w = Window.partitionBy("__id").orderBy("__pos")
    islands = foreign.withColumn(
        "__brk",
        F.when(
            F.col("__pos") - F.lag("__pos").over(w) > k, F.lit(1)
        ).otherwise(F.lit(0)),
    ).withColumn(
        "__island",
        F.sum("__brk").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    spans = islands.groupBy("__id", "__island").agg(
        F.min("__pos").alias("span_start"),
        (F.max("__pos") + F.lit(k - 1)).alias("span_end"),
        F.count(F.lit(1)).alias("n_source_grams"),
        F.min("__src").alias("source_doc"),
    )
    spans = spans.filter(
        F.col("span_end") - F.col("span_start") + 1 >= min_len
    )

    words_df = docs.select(
        F.col(id_col).alias("__id"), _words(F.col(text_col)).alias("__words")
    )
    return (
        spans.join(words_df, "__id")
        .select(
            F.col("__id").alias(id_col),
            F.col("span_start").cast("long").alias("span_start"),
            F.col("span_end").cast("long").alias("span_end"),
            (F.col("span_end") - F.col("span_start") + 1)
            .cast("long")
            .alias("span_words"),
            F.col("n_source_grams").cast("long").alias("n_source_grams"),
            F.col("source_doc").cast("long").alias("source_doc"),
            F.concat_ws(
                " ",
                F.slice(
                    F.col("__words"),
                    F.col("span_start") + 1,
                    F.col("span_end") - F.col("span_start") + 1,
                ),
            ).alias("span_text"),
        )
    )


def span_gram_index(
    corpus: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The persisted span-dedup index: one ``(gram_hash, min_doc)`` row per
    DISTINCT corpus k-gram. ALL grams are kept (not only already-repeated
    ones) because a new document matching a singleton corpus gram MAKES it
    repeated. Gram-vocabulary-sized — the same growth class as a BM25
    posting dictionary — and mergeable: indexes of two corpus slices union
    with ``min(min_doc)``."""
    grams = _gram_table(corpus, k, id_col, text_col)
    return grams.groupBy("__h").agg(
        F.min("__id").cast("long").alias("min_doc")
    ).select(F.col("__h").alias("gram_hash"), "min_doc")


def span_holder_index(
    corpus: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The DELETABLE span-dedup index: one ``(gram_hash, doc_id)`` row per
    distinct (gram, holder) pair — the full holder relation, not just the
    canonical min.  Token-scale (the same growth class as a BM25 posting
    table, which the serving tier already persists), vs the vocab-sized
    :func:`span_gram_index` whose ``min_doc`` collapse makes removals
    impossible: when the canonical holder of a gram is taken down, a new
    canonical must be RE-ELECTED among the remaining holders, and the
    min-collapsed index no longer knows them (VERDICT r9 missing #3, "the
    one hard case").  ``span_index_view`` collapses this to the exact
    serving shape on demand; removal is one anti-join."""
    grams = _gram_table(corpus, k, id_col, text_col)
    # keep the id UNCAST: span_gram_index takes min over the ORIGINAL id
    # type and casts the winner to long after — casting holders first
    # would flip the min for string ids ('10' < '9' lexicographically)
    # and NULL out non-numeric ids, silently diverging from the
    # from-scratch index. span_index_view applies the same min-then-cast.
    return grams.select(
        F.col("__h").alias("gram_hash"), F.col("__id").alias("doc_id")
    ).distinct()


def span_index_view(holders: DataFrame) -> DataFrame:
    """Collapse a :func:`span_holder_index` to the ``(gram_hash, min_doc)``
    serving shape consumed by :func:`repeated_spans_incremental` /
    :func:`scrub_delivery_spans` — equal to :func:`span_gram_index` on the
    same corpus (property-tested).  One vocab-keyed aggregate; run it after
    each maintenance wave and persist the (small) result next to the
    holder table."""
    return holders.groupBy("gram_hash").agg(
        F.min("doc_id").cast("long").alias("min_doc")
    )


def remove_from_span_holder_index(
    holders: DataFrame,
    removed_ids: DataFrame,
) -> DataFrame:
    """Takedown maintenance for the span-dedup index: drop every holder row
    of the removed documents.  One anti-join on the (broadcast) removed-id
    set; grams whose canonical holder was removed are re-elected
    automatically by :func:`span_index_view`'s min over the SURVIVING
    holders, and grams held only by removed docs vanish — so
    serve-after-delete equals an index built from scratch on the
    post-delete corpus (oracle row ``docs_span_scrub_after_delete``)."""
    rem = removed_ids.select(
        F.col(removed_ids.columns[0]).alias("doc_id")
    ).distinct()
    return holders.join(F.broadcast(rem), "doc_id", "left_anti")


def repeated_spans_incremental(
    new_df: DataFrame,
    index: DataFrame,
    k: int = 8,
    min_len: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Foreign repeated spans of a NEW delivery against a persisted
    :func:`span_gram_index` — corpus text is never re-read (the
    ``dedup_against_corpus`` posture). A delivery gram is foreign when it
    exists in the index (the corpus already holds its canonical copy) OR
    when it repeats inside the delivery and this doc is not the delivery's
    minimal holder. Equals the full-corpus :func:`repeated_spans`
    restricted to delivery docs whenever corpus ids sort below delivery
    ids (property-tested)."""
    min_len = k if min_len is None else min_len
    grams = _gram_table(new_df, k, id_col, text_col).persist()

    in_corpus = grams.join(
        index.select(
            F.col("gram_hash").alias("__h"),
            F.col("min_doc").alias("__src"),
        ),
        "__h",
    ).select("__id", "__pos", "__src")
    stats = grams.groupBy("__h").agg(
        F.countDistinct("__id").alias("__n_docs"),
        F.min("__id").alias("__min_id"),
    )
    dup = stats.filter(F.col("__n_docs") >= 2).select("__h", "__min_id")
    intra = (
        grams.join(dup, "__h")
        .filter(F.col("__id") > F.col("__min_id"))
        .select("__id", "__pos", F.col("__min_id").alias("__src"))
    )
    foreign = (
        in_corpus.unionByName(intra)
        .groupBy("__id", "__pos")
        .agg(F.min("__src").alias("__src"))
        .localCheckpoint(eager=True)
    )
    grams.unpersist()
    return _spans_from_foreign(foreign, new_df, k, min_len, id_col, text_col)


def scrub_repeated_spans(
    docs: DataFrame,
    k: int = 8,
    min_len: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Every document with its foreign repeated spans removed.

    Returns ``doc_id, n_spans, n_words, n_words_removed, text_scrubbed``.
    Documents with no foreign spans pass through verbatim (modulo the
    whitespace normalization of the tokenizer). One doc-keyed join of the
    span set back to the corpus; the removal is an array fold."""
    spans = repeated_spans(docs, k, min_len, id_col, text_col)
    return _scrub_with_spans(docs, spans, id_col, text_col)


def scrub_delivery_spans(
    new_df: DataFrame,
    index: DataFrame,
    k: int = 8,
    min_len: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Incremental scrub: the delivery's documents with every span already
    present in the corpus (per the persisted :func:`span_gram_index`) or
    repeated within the delivery removed — what actually lands in the
    corpus after an ingest batch."""
    spans = repeated_spans_incremental(
        new_df, index, k, min_len, id_col, text_col
    )
    return _scrub_with_spans(new_df, spans, id_col, text_col)


def _scrub_with_spans(
    docs: DataFrame, spans_df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    spans = spans_df.select(
        F.col(id_col).alias("__id"),
        F.struct(
            F.col("span_start").alias("s"), F.col("span_end").alias("e")
        ).alias("__sp"),
    )
    agg = spans.groupBy("__id").agg(
        F.collect_list("__sp").alias("__spans"),
        F.count(F.lit(1)).alias("__n_spans"),
    )
    words_df = docs.select(
        F.col(id_col), _words(F.col(text_col)).alias("__words")
    )
    joined = words_df.join(
        agg.withColumnRenamed("__id", id_col), id_col, "left"
    ).select(
        id_col,
        "__words",
        F.coalesce("__n_spans", F.lit(0)).alias("__n_spans"),
        F.coalesce(
            "__spans", F.array().cast("array<struct<s:long,e:long>>")
        ).alias("__spans"),
    )
    # keep word i iff no span covers it; the fold is a higher-order
    # function, so pin it to a column before it is read twice (size +
    # transform) — the same eval-once barrier as the gram table
    from spark_ensemble_spark.operators.dedup import _eval_once_column

    # guard size > 0: F.sequence(0, -1) DESCENDS for an empty word array
    # (yielding [0, -1] and an INVALID_INDEX_OF_ZERO in the transform) —
    # the same idiom _gram_table guards with size >= k
    joined = _eval_once_column(
        joined,
        "__kept",
        F.when(
            F.size("__words") > 0,
            F.filter(
                F.sequence(F.lit(0), F.size("__words") - 1),
                lambda i: ~F.exists(
                    F.col("__spans"),
                    lambda sp: (i >= sp["s"]) & (i <= sp["e"]),
                ),
            ),
        ).otherwise(F.array().cast("array<int>")),
    )
    return joined.select(
        F.col(id_col),
        F.col("__n_spans").cast("long").alias("n_spans"),
        F.size("__words").cast("long").alias("n_words"),
        (F.size("__words") - F.size("__kept")).cast("long").alias("n_words_removed"),
        F.concat_ws(
            " ",
            F.transform("__kept", lambda i: F.try_element_at("__words", i + 1)),
        ).alias("text_scrubbed"),
    )


# ---------------------------------------------------------------------------
# DuckDB oracle replays
# ---------------------------------------------------------------------------


def _word_gram_ctes_sql(
    k: int, id_col: str, text_col: str, table: str, w: str = "w", g: str = "g"
) -> str:
    """Per-doc word arrays + the exploded (doc, pos, hash) gram table for
    one input. DuckDB zips parallel unnests of equal-length lists, which
    replays Spark's posexplode (0-based)."""
    words = _words_sql(text_col)
    return f"""
    {w} AS MATERIALIZED (
      SELECT {id_col} AS id, {words} AS words FROM {table}
    ),
    {g} AS MATERIALIZED (
      SELECT id,
             unnest(CASE WHEN len(words) >= {k}
                         THEN range(0, len(words) - {k} + 1)
                         ELSE [] END) AS pos,
             unnest(CASE WHEN len(words) >= {k}
                         THEN list_transform(range(0, len(words) - {k} + 1),
                              i -> md5(array_to_string(words[i+1:i+{k}], ' ')))
                         ELSE [] END) AS h
      FROM {w}
    )"""


def _gram_cte_sql(k: int, id_col: str, text_col: str, table: str) -> str:
    """Full-corpus chain: gram table -> repeated-gram stats -> foreign
    occurrences -> maximal spans."""
    return f"""
    {_word_gram_ctes_sql(k, id_col, text_col, table)},
    dup AS MATERIALIZED (
      SELECT h, min(id) AS min_id FROM g
      GROUP BY h HAVING count(DISTINCT id) >= 2
    ),
    foreign_pos AS MATERIALIZED (
      SELECT g.id, g.pos, min(dup.min_id) AS src
      FROM g JOIN dup USING (h)
      WHERE g.id > dup.min_id
      GROUP BY g.id, g.pos
    ),
    {_islands_spans_ctes_sql(k)}"""


def _incremental_cte_sql(
    k: int, id_col: str, text_col: str, corpus_table: str, new_table: str
) -> str:
    """Incremental chain: corpus gram index (min doc per DISTINCT gram) +
    delivery gram table -> foreign = in-index ∪ intra-delivery-repeat ->
    maximal spans. ``w``/``words`` describe the DELIVERY (the scrub and
    span-text joins read delivery docs only — corpus text appears solely
    inside its index CTE, mirroring the never-re-read posture)."""
    return f"""
    {_word_gram_ctes_sql(k, id_col, text_col, corpus_table, "cw", "cg")},
    cidx AS MATERIALIZED (
      SELECT h, CAST(min(id) AS BIGINT) AS min_doc FROM cg GROUP BY h
    ),
    {_word_gram_ctes_sql(k, id_col, text_col, new_table)},
    dup AS MATERIALIZED (
      SELECT h, min(id) AS min_id FROM g
      GROUP BY h HAVING count(DISTINCT id) >= 2
    ),
    foreign_pos AS MATERIALIZED (
      SELECT id, pos, min(src) AS src FROM (
        SELECT g.id, g.pos, c.min_doc AS src FROM g JOIN cidx c USING (h)
        UNION ALL
        SELECT g.id, g.pos, dup.min_id AS src FROM g JOIN dup USING (h)
        WHERE g.id > dup.min_id
      ) GROUP BY id, pos
    ),
    {_islands_spans_ctes_sql(k)}"""


def _islands_spans_ctes_sql(k: int) -> str:
    return f"""
    brk AS (
      SELECT id, pos, src,
             CASE WHEN pos - lag(pos) OVER (PARTITION BY id ORDER BY pos)
                       > {k} THEN 1 ELSE 0 END AS brk
      FROM foreign_pos
    ),
    islands AS (
      SELECT id, pos, src,
             sum(brk) OVER (PARTITION BY id ORDER BY pos
                            ROWS UNBOUNDED PRECEDING) AS island
      FROM brk
    ),
    spans AS MATERIALIZED (
      SELECT id, min(pos) AS span_start, max(pos) + {k} - 1 AS span_end,
             count(*) AS n_source_grams, min(src) AS source_doc
      FROM islands GROUP BY id, island
    )"""


def repeated_spans_sql(
    k: int = 8,
    min_len: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    table: str = "documents",
) -> str:
    min_len = k if min_len is None else min_len
    return _spans_select_sql(
        _gram_cte_sql(k, id_col, text_col, table), id_col, min_len
    )


def _spans_select_sql(ctes: str, id_col: str, min_len: int) -> str:
    return f"""
    WITH {ctes}
    SELECT s.id AS {id_col},
           CAST(s.span_start AS BIGINT) AS span_start,
           CAST(s.span_end AS BIGINT) AS span_end,
           CAST(s.span_end - s.span_start + 1 AS BIGINT) AS span_words,
           CAST(s.n_source_grams AS BIGINT) AS n_source_grams,
           CAST(s.source_doc AS BIGINT) AS source_doc,
           array_to_string(w.words[s.span_start + 1 : s.span_end + 1], ' ')
             AS span_text
    FROM spans s JOIN w ON w.id = s.id
    WHERE s.span_end - s.span_start + 1 >= {min_len}
    """


def scrub_repeated_spans_sql(
    k: int = 8,
    min_len: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    table: str = "documents",
) -> str:
    min_len = k if min_len is None else min_len
    return _scrub_select_sql(
        _gram_cte_sql(k, id_col, text_col, table), id_col, min_len
    )


def scrub_delivery_spans_sql(
    corpus_table: str,
    new_table: str,
    k: int = 8,
    min_len: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB replay of :func:`scrub_delivery_spans` (delivery docs only —
    ``w`` in the incremental chain is the delivery's word table)."""
    min_len = k if min_len is None else min_len
    return _scrub_select_sql(
        _incremental_cte_sql(k, id_col, text_col, corpus_table, new_table),
        id_col,
        min_len,
    )


def _scrub_select_sql(ctes: str, id_col: str, min_len: int) -> str:
    return f"""
    WITH {ctes},
    sized AS (
      SELECT * FROM spans WHERE span_end - span_start + 1 >= {min_len}
    ),
    per_doc AS (
      SELECT id, list({{'s': span_start, 'e': span_end}}) AS sps,
             count(*) AS n_spans
      FROM sized GROUP BY id
    ),
    scrubbed AS (
      SELECT w.id,
             coalesce(p.n_spans, 0) AS n_spans,
             len(w.words) AS n_words,
             list_filter(range(0, len(w.words)),
               i -> len(list_filter(coalesce(p.sps, []),
                        sp -> i >= sp['s'] AND i <= sp['e'])) = 0
             ) AS kept,
             w.words AS words
      FROM w LEFT JOIN per_doc p ON p.id = w.id
    )
    SELECT id AS {id_col},
           CAST(n_spans AS BIGINT) AS n_spans,
           CAST(n_words AS BIGINT) AS n_words,
           CAST(n_words - len(kept) AS BIGINT) AS n_words_removed,
           coalesce(
             array_to_string(list_transform(kept, i -> words[i + 1]), ' '),
             '') AS text_scrubbed
    FROM scrubbed
    """
