"""Corpus-level curation operators for 100 TB training-data pipelines.

Beyond-reference operators (SURVEY.md §2.5 companion): the whole-corpus
cleanup passes an LLM data pipeline runs between raw ingest and tokenization.
Everything here is pure Catalyst (zero Python UDFs) and shuffle-frugal:

* :func:`line_stats` — per-document line counts and duplicate-line ratio
  (repetition is a strong low-quality signal); narrow, no shuffle.
* :func:`boilerplate_lines` / :func:`strip_boilerplate` — C4/RefinedWeb-style
  global line dedup: a line that recurs (trimmed-exact) in ``min_docs``
  distinct documents is boilerplate (nav bars, cookie banners, footers) and is
  removed from every document.  Plan: explode per-doc *distinct* lines (so the
  count is a plain ``count(*)`` with map-side partial aggregation, no
  count-distinct shuffle), one shuffle on the line hash, then one shuffle on
  doc_id to reassemble.  Never a self-join of the corpus.
* :func:`contamination_overlap` — benchmark-contamination check: fraction of
  each document's distinct word k-shingles that appear anywhere in an eval
  set.  The eval side is distinct-reduced and broadcast (eval suites are
  tiny next to a 100 TB corpus), so the corpus is never shuffled for the
  join; the only wide stage is the per-doc aggregation.
* :func:`sample_by_rates` — deterministic per-stratum sampling (data mixing):
  keep a row iff a stable hash of its id lands under the stratum's rate.
  Reproducible across runs/engines (md5-based), no RNG state, no shuffle.
* :func:`top_ngrams` — global top-k word n-grams (vocabulary/contamination
  triage); explode + count with partial aggregation, single shuffle.

Hashing follows dedup.py's convention: ``xxhash64`` production default,
``md5`` mode (first 15 hex digits as a 60-bit BIGINT) when a cross-engine
DuckDB replay must match bit-for-bit (see tests/test_corpus.py).
"""

from __future__ import annotations

from typing import Dict, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from spark_ensemble_spark.functions.rounding import (
    floor_round as _floor_round,
    floor_round_sql as _floor_round_sql,
)
from spark_ensemble_spark.functions.detmath import (
    det_ln as _det_ln,
    det_ln_sql as _det_ln_sql,
    double_literal_sql as _dlit,
)

# Gumbel-key clamp for gumbel_topk_sample and its DSIR oracle replay: the
# smallest positive -det_ln(u) a real md5 draw can produce is ~1.1e-16
# (u = 1-2^-53), so clamping at 1e-18 only fires on the exact u == 1.0
# edge — and 1e-18 sits inside det_ln's INT64-safe domain (2^-63 < x < 2^63),
# where the previous 1e-300 made the three engines diverge (Spark's
# double->long cast saturates, DuckDB aborts, CPython alone was right).
_GUMBEL_CLAMP = 1e-18


from .dedup import _hash64, _shingle_strings

# ---------------------------------------------------------------------------
# line-level helpers
# ---------------------------------------------------------------------------


def _lines(text: Column, delimiter: str = "\n") -> Column:
    """Trimmed, non-empty lines of ``text`` (NULL text ⇒ empty array)."""
    split = F.split(F.coalesce(text, F.lit("")), delimiter)
    return F.filter(F.transform(split, lambda l: F.trim(l)), lambda l: l != "")


def line_stats(
    df: DataFrame, text_col: str = "text", delimiter: str = "\n"
) -> DataFrame:
    """Append ``n_lines``, ``n_distinct_lines``, ``dup_line_ratio``.

    Narrow projection — no shuffle, survives any scale. ``dup_line_ratio``
    (1 − distinct/total) is the classic intra-document repetition signal."""
    lines = _lines(F.col(text_col), delimiter)
    n = F.size(lines)
    nd = F.size(F.array_distinct(lines))
    return (
        df.withColumn("n_lines", n)
        .withColumn("n_distinct_lines", nd)
        .withColumn(
            "dup_line_ratio",
            F.when(n > 0, (n - nd) / n.cast("double")).otherwise(F.lit(0.0)),
        )
    )


def boilerplate_lines(
    df: DataFrame,
    text_col: str = "text",
    min_docs: int = 2,
    delimiter: str = "\n",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Lines that occur (trimmed-exact) in ≥ ``min_docs`` distinct documents.

    Returns ``(line_hash, line, n_docs)``. Per-doc lines are distinct-reduced
    *before* the explode, so ``n_docs`` is a plain ``count(*)`` — map-side
    partial aggregation applies and no count-distinct double shuffle is paid.
    ``line`` is ``min(line)`` per hash (representative; equals the line unless
    the 64-bit hash collides)."""
    per_doc = df.select(
        F.explode(F.array_distinct(_lines(F.col(text_col), delimiter))).alias("line")
    )
    return (
        per_doc.select(_hash64(F.col("line"), hash_fn).alias("line_hash"), "line")
        .groupBy("line_hash")
        .agg(F.min("line").alias("line"), F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
    )


def strip_boilerplate(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 2,
    delimiter: str = "\n",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Remove global-boilerplate lines from every document.

    Output = input columns with ``text_col`` rebuilt from the surviving
    trimmed lines (original order, joined by ``delimiter``); a document whose
    every line is boilerplate keeps an empty string. Three wide stages total:
    the boilerplate-line aggregation, a left-anti join on the line hash, and
    the per-doc reassembly — at no point does the corpus join itself."""
    bad = boilerplate_lines(df, text_col, min_docs, delimiter, hash_fn).select(
        "line_hash"
    )
    exploded = df.select(
        F.col(id_col),
        F.posexplode(_lines(F.col(text_col), delimiter)).alias("__pos", "__line"),
    ).withColumn("line_hash", _hash64(F.col("__line"), hash_fn))
    kept = exploded.join(bad, "line_hash", "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.concat_ws(
            delimiter,
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__line"))),
                lambda s: s["__line"],
            ),
        ).alias("__stripped")
    )
    # Left join back: docs whose lines were all boilerplate (or empty) dropped
    # out of the explode and must resurface with ''.
    out = df.join(rebuilt, id_col, "left")
    return out.select(
        *[
            F.coalesce(F.col("__stripped"), F.lit("")).alias(c)
            if c == text_col
            else F.col(c)
            for c in df.columns
        ]
    )


# ---------------------------------------------------------------------------
# benchmark contamination
# ---------------------------------------------------------------------------


def contamination_overlap(
    df: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    eval_text_col: Optional[str] = None,
    shingle_size: int = 8,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Per-document fraction of distinct word ``shingle_size``-grams that
    appear anywhere in ``eval_df`` (the benchmark/eval suite).

    Returns ``(id_col, n_shingles, n_matched, overlap_ratio)`` — one row per
    input document (docs shorter than one shingle report ratio over their
    single partial shingle, mirroring dedup's shingle semantics).

    Scale shape: the eval side collapses to its distinct shingle hashes and is
    broadcast — eval suites are MBs against a 100 TB corpus, so the corpus
    side is joined map-side with zero shuffle; the lone wide stage is the
    per-doc count aggregation (partial-agg friendly)."""
    from spark_ensemble_spark.sources.datasets import spread_to_parallelism

    eval_text = eval_text_col or text_col
    # Single-row-group test files scan as ONE partition and shingle
    # construction is the cost center (measured 4.4s single-core at sf0.1 vs
    # ~0.4s spread) — same gate as minhash_signatures, no-op at scale.
    df = spread_to_parallelism(df)
    # Explode the shingle STRINGS, hash the flat column: keeps the md5/conv
    # chain inside whole-stage codegen instead of the interpreted array
    # transform (26s → ~2s for this pass at sf0.1; see _shingle_strings).
    doc_sh = df.select(
        F.col(id_col),
        F.explode(_shingle_strings(F.col(text_col), shingle_size, "word")).alias(
            "__s"
        ),
    ).select(F.col(id_col), _hash64(F.col("__s"), hash_fn).alias("__h"))
    eval_sh = (
        eval_df.select(
            F.explode(
                _shingle_strings(F.col(eval_text), shingle_size, "word")
            ).alias("__s")
        )
        .select(_hash64(F.col("__s"), hash_fn).alias("__h"))
        .distinct()
        .withColumn("__m", F.lit(1))
    )
    return (
        doc_sh.join(F.broadcast(eval_sh), "__h", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_shingles"),
            F.coalesce(F.sum("__m"), F.lit(0)).alias("n_matched"),
        )
        .withColumn(
            "overlap_ratio", F.col("n_matched") / F.col("n_shingles").cast("double")
        )
    )


def _md5_hash_pair(col: Column) -> tuple:
    """Two independent 60-bit hashes from ONE md5: hex digits 1-15 and 17-31
    (non-overlapping nibbles). Both engines replay them bit-for-bit
    (``('0x' || substring(md5(x), i, 15))::BIGINT`` in DuckDB), which is what
    makes Bloom membership — including its false positives — oracle-exact."""
    h = F.md5(col)
    h1 = F.conv(F.substring(h, 1, 15), 16, 10).cast("long")
    h2 = F.conv(F.substring(h, 17, 15), 16, 10).cast("long")
    return h1, h2


def ngram_bloom_build(
    eval_df: DataFrame,
    text_col: str = "text",
    shingle_size: int = 8,
    num_bits: int = 1 << 20,
    num_hashes: int = 4,
) -> list:
    """Compile an eval suite's distinct word n-grams into a Bloom bitmask:
    a list of ``num_bits/64`` longs, driver-held → shipped to executors as ONE
    array literal (2^20 bits = 128 KB). Positions are double-hashed
    (Kirsch-Mitzenmacher): ``pos_i = (h1 + i·h2) mod num_bits`` from one md5
    per gram.

    This is the 100 TB decontamination shape: the eval side is compiled ONCE
    to constant-size broadcast state, so checking the corpus
    (:func:`bloom_contamination`) needs no join at all — compare
    :func:`contamination_overlap`, whose broadcast hash set grows with the
    eval suite and must be rebuilt into every plan. Size ``num_bits`` ≥ ~3×
    expected distinct gram count per false-positive point; the collect is
    bounded by ``num_bits/64`` rows regardless of eval size."""
    if num_bits % 64:
        raise ValueError(f"num_bits must be a multiple of 64, got {num_bits}")
    sh = (
        eval_df.select(
            F.explode(_shingle_strings(F.col(text_col), shingle_size, "word")).alias(
                "__s"
            )
        )
        .distinct()
    )
    h1, h2 = _md5_hash_pair(F.col("__s"))
    pos = F.explode(
        F.array(
            *[
                F.pmod(h1 + F.lit(i) * h2, F.lit(num_bits))
                for i in range(num_hashes)
            ]
        )
    )
    rows = (
        sh.select(pos.alias("__p"))
        .distinct()
        .select(
            F.expr("__p DIV 64").alias("__w"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pmod(__p, 64) AS INT))").alias(
                "__m"
            ),
        )
        .groupBy("__w")
        .agg(F.expr("bit_or(__m)").alias("__mask"))
        .collect()
    )
    words = [0] * (num_bits // 64)
    for r in rows:
        words[r["__w"]] = r["__mask"]
    return words


def bloom_mask_literal(bloom_words: list) -> Column:
    """The Bloom mask as ONE parsed SQL array literal. ``F.lit(list)``
    builds the same expression through one Py4J call per element — measured
    13.6s of pure plan CONSTRUCTION for the 2^20-bit mask (16384 longs);
    parsing a single ``array(...)`` string costs milliseconds and yields the
    identical foldable Catalyst node."""
    return F.expr(
        "array(" + ",".join(f"{w}L" for w in bloom_words) + ")"
    )


def bloom_contamination(
    df: DataFrame,
    bloom_words: list,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_size: int = 8,
    num_hashes: int = 4,
) -> DataFrame:
    """Per-document count of distinct word n-grams FLAGGED by a Bloom bitmask
    built with :func:`ngram_bloom_build` (same shingle/hash parameters).

    Returns ``(id_col, n_shingles, n_flagged, flagged_ratio)``. No false
    negatives — every gram truly in the eval set flags — and a bounded,
    deterministic false-positive rate, so ``flagged_ratio`` upper-bounds
    :func:`contamination_overlap`'s exact ``overlap_ratio`` (tested).

    Scale shape: the membership test is pure per-row expression work against
    the 128 KB mask literal — NO join anywhere; the lone wide stage is the
    per-doc count aggregation (map-side partials). At 100 TB this turns
    decontamination into a map-only scan Catalyst can stack onto the same
    pass as the other per-doc quality signals."""
    from spark_ensemble_spark.sources.datasets import spread_to_parallelism

    num_bits = len(bloom_words) * 64
    df = spread_to_parallelism(df)
    doc_sh = df.select(
        F.col(id_col),
        F.explode(_shingle_strings(F.col(text_col), shingle_size, "word")).alias(
            "__s"
        ),
    )
    h1, h2 = _md5_hash_pair(F.col("__s"))
    d = doc_sh.select(
        F.col(id_col), h1.alias("__h1"), h2.alias("__h2")
    ).withColumn("__mask", bloom_mask_literal(bloom_words))
    terms = []
    for i in range(num_hashes):
        p = f"pmod(__h1 + {i} * __h2, {num_bits})"
        terms.append(
            f"(shiftright(element_at(__mask, CAST({p} DIV 64 AS INT) + 1), "
            f"CAST(pmod({p}, 64) AS INT)) & 1) = 1"
        )
    hit = F.expr(" AND ".join(terms))
    return (
        d.withColumn("__hit", hit.cast("int"))
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum("__hit").alias("n_flagged"),
        )
        .withColumn(
            "flagged_ratio", F.col("n_flagged") / F.col("n_shingles").cast("double")
        )
    )


def bloom_contamination_oracle_sql(
    eval_pred: str = "doc_id % 20 = 0",
    shingle_size: int = 8,
    num_bits: int = 1 << 20,
    num_hashes: int = 4,
    table: str = "documents",
) -> str:
    """DuckDB SQL reproducing ``bloom_contamination(docs,
    ngram_bloom_build(docs WHERE eval_pred))`` exactly — false positives
    included: membership in a Bloom mask built from eval positions ≡ "all
    ``num_hashes`` positions of the gram are in the eval position set", which
    SQL replays as a count over a position join, no bitmask needed."""
    gram = ", ".join(f"t[i+{j}]" for j in range(shingle_size))
    return f"""
    WITH toks AS (
      SELECT doc_id,
             string_split(regexp_replace(lower(trim(replace(coalesce(text, ''),
                          chr(10), ' '))), '\\s+', ' ', 'g'), ' ') AS t
      FROM {table}
    ),
    dsh AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, greatest(len(t) - {shingle_size}, 0) + 2),
               i -> concat_ws(' ', {gram})))) AS s
      FROM toks
    ),
    hp AS (
      SELECT doc_id, s,
             ('0x' || substring(md5(s), 1, 15))::BIGINT AS h1,
             ('0x' || substring(md5(s), 17, 15))::BIGINT AS h2
      FROM dsh
    ),
    epos AS (
      SELECT DISTINCT (h1 + r.i * h2) % {num_bits} AS p
      FROM hp, range(0, {num_hashes}) r(i)
      WHERE {eval_pred}
    ),
    hits AS (
      SELECT h.doc_id, h.s, count(e.p) = {num_hashes} AS hit
      FROM hp h
      CROSS JOIN range(0, {num_hashes}) r(i)
      LEFT JOIN epos e ON ((h.h1 + r.i * h.h2) % {num_bits}) = e.p
      GROUP BY h.doc_id, h.s
    )
    SELECT doc_id, count(*) AS n_shingles,
           CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
           {_floor_round_sql("sum(CASE WHEN hit THEN 1 ELSE 0 END) / count(*)::DOUBLE", 6)}
             AS flagged_ratio
    FROM hits
    GROUP BY doc_id
    """


# ---------------------------------------------------------------------------
# deterministic stratified sampling (data mixing)
# ---------------------------------------------------------------------------


def sample_by_rates(
    df: DataFrame,
    rates: Dict[str, float],
    stratum_col: str = "source",
    id_col: str = "doc_id",
    seed: int = 0,
    default_rate: float = 0.0,
) -> DataFrame:
    """Keep each row with its stratum's probability, deterministically.

    The keep decision is ``bucket(id, seed) < rate·10⁶`` where ``bucket`` is
    the md5-derived 60-bit hash mod 10⁶ — a pure function of (id, seed), so
    the sample is identical across runs, executors, retries, and engines
    (DuckDB replays it bit-for-bit; see tests). No RNG state, no shuffle —
    this is a narrow filter, and Catalyst pushes it into the scan when the
    source supports it.

    Unlisted strata fall back to ``default_rate`` (0 ⇒ dropped)."""
    for name, rate in rates.items():
        if not 0.0 <= rate <= 1.0:
            raise ValueError(f"rate for {name!r} must be in [0,1], got {rate}")
    bucket = F.pmod(
        _hash64(F.concat_ws(":", F.col(id_col).cast("string"), F.lit(str(seed))), "md5"),
        F.lit(1_000_000),
    )
    threshold = F.lit(int(default_rate * 1_000_000))
    # CASE chain (not a map literal): DuckDB mirrors CASE trivially and
    # Catalyst folds it to a static invoke per row either way.
    for name, rate in rates.items():
        threshold = F.when(
            F.col(stratum_col) == name, F.lit(int(rate * 1_000_000))
        ).otherwise(threshold)
    return df.filter(bucket < threshold)


def temperature_mixing_rates(
    df: DataFrame,
    stratum_col: str = "source",
    size_col: Optional[str] = None,
    tau: float = 0.5,
    token_budget: Optional[int] = None,
    round_to: int = 6,
) -> DataFrame:
    """Per-stratum mixing weights via temperature-scaled size shares — the
    standard multi-source LLM training-mix recipe (The Pile §2.1 / multilingual
    sampling à la XLM-R): ``weight_s = share_s^τ / Σ_t share_t^τ`` where
    ``share_s`` is the stratum's fraction of the corpus (by ``size_col`` sum,
    or row count). τ=1 keeps natural proportions; τ→0 approaches uniform;
    the up/down-sampling rate to hit ``token_budget`` total is
    ``min(1, budget·weight_s / size_s)`` (capped: this operator never
    up-samples past 1 epoch — repeat-epoch scheduling is a trainer concern).

    Plan shape: one partial-aggregated groupBy on the stratum key (a K-row
    result however large the corpus), then all share/temperature math on the
    K-row frame via a single-partition window — the data itself is never
    re-shuffled. Feed the collected rates into :func:`sample_by_rates` for a
    deterministic, engine-replayable materialization of the mix."""
    if tau <= 0:
        raise ValueError(f"tau must be > 0, got {tau}")
    size = F.sum(size_col).cast("double") if size_col else F.count(F.lit(1)).cast("double")
    per = df.groupBy(F.col(stratum_col).alias("stratum")).agg(size.alias("size"))
    from pyspark.sql import Window

    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    shared = per.withColumn("share", F.col("size") / F.sum("size").over(w_all))
    # τ=½ is sqrt — correctly-rounded IEEE, bit-identical on every engine;
    # libm pow(x, 0.5) carries no such guarantee (the ln env-hazard class).
    powed = shared.withColumn(
        "pw",
        F.sqrt("share") if float(tau) == 0.5 else F.pow("share", F.lit(float(tau))),
    )
    out = powed.select(
        "stratum",
        F.col("size").cast("bigint").alias("size"),
        _floor_round(F.col("share"), round_to).alias("share"),
        _floor_round(F.col("pw") / F.sum("pw").over(w_all), round_to).alias("weight"),
        (F.col("pw") / F.sum("pw").over(w_all)).alias("__w_full"),
    )
    if token_budget is not None:
        out = out.withColumn(
            "rate",
            _floor_round(
                F.least(
                    F.lit(1.0), F.lit(float(token_budget)) * F.col("__w_full") / F.col("size")
                ),
                round_to,
            ),
        )
    return out.drop("__w_full")


# ---------------------------------------------------------------------------
# Gopher-style quality filters
# ---------------------------------------------------------------------------

# The eight "must contain ≥2 of" stop words from Rae et al. 2021 (Gopher),
# Appendix A1.1 — the published heuristic, not a tunable.
_GOPHER_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")


def _words(text: Column) -> Column:
    """Non-empty whitespace tokens of lowercased text (empty/NULL ⇒ [])."""
    toks = F.split(F.lower(F.trim(F.coalesce(text, F.lit("")))), r"\s+")
    return F.filter(toks, lambda t: t != "")


def _sorted_ngrams(text: Column, n: int, sep: str) -> Column:
    """Sorted array of the document's word n-grams joined by ``sep``
    (NULL when the doc has fewer than ``n`` words)."""
    toks = _words(text)
    return F.when(
        F.size(toks) >= n,
        F.array_sort(
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - n),
                lambda i: F.concat_ws(
                    sep,
                    *[F.try_element_at(toks, i + F.lit(j + 1)) for j in range(n)],
                ),
            )
        ),
    )


def top_ngram_fraction(text: Column, n: int = 2) -> Column:
    """Fraction of a document's word n-gram occurrences taken by its single
    most frequent n-gram (Gopher's repetition signal; 0.0 for docs shorter
    than ``n`` words).

    Computed per row with array HOFs in O(m log m): sort the n-gram array,
    then a single fold tracks the longest equal run. No explode, no shuffle —
    the signal stays a narrow projection at any corpus size.

    The fold runs OVER the gram array itself, carrying the previous gram in
    the accumulator. The earlier formulation folded over an index
    ``sequence`` and read ``grams[i]``/``grams[i-1]`` per step — lambda
    bodies are interpreted expression trees, so every outer reference to
    ``grams`` re-ran the tokenize+slice+sort pipeline per element: O(m²)
    re-evaluation (measured 227s → ~1s over 500 docs for the trigram twin
    when both switched to accumulator-carried state)."""
    grams = _sorted_ngrams(text, n, "")
    # acc = (previous gram, current run, best run, gram count); grams is
    # referenced ONCE as the fold input (a second F.size(grams) reference
    # would rebuild the whole tokenize+sort pipeline). The empty-string
    # sentinel never equals a real gram (tokens are non-empty), so the first
    # element starts run=1 correctly; finish computes best/m in place.
    return F.aggregate(
        F.coalesce(grams, F.array()),
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).alias("cur"),
            F.lit(0).alias("best"),
            F.lit(0).alias("m"),
        ),
        lambda acc, g: F.struct(
            g.alias("prev"),
            F.when(g == acc["prev"], acc["cur"] + 1).otherwise(F.lit(1)).alias("cur"),
            F.greatest(
                acc["best"],
                F.when(g == acc["prev"], acc["cur"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
            (acc["m"] + 1).alias("m"),
        ),
        lambda acc: F.when(
            acc["m"] >= 1, acc["best"] / acc["m"].cast("double")
        ).otherwise(F.lit(0.0)),
    )


def dup_token_fraction(text: Column) -> Column:
    """Fraction of a document's token occurrences that are repeats of an
    earlier token: ``1 − |distinct tokens| / |tokens|`` (0.0 for empty docs).

    The within-document repetition signal from Rae et al. 2021 Appendix A1.1
    adapted to word granularity. Narrow per-row array math — no explode, no
    shuffle — so it runs at scan speed at any corpus size."""
    toks = _words(text)
    m = F.size(toks)
    return F.when(
        m >= 1,
        _floor_round(1.0 - F.size(F.array_distinct(toks)) / m.cast("double"), 6),
    ).otherwise(F.lit(0.0))


def dup_ngram_char_fraction(text: Column, n: int = 3) -> Column:
    """Fraction of n-gram characters contained in DUPLICATED word n-grams
    (grams occurring ≥2 times in the document), the Gopher "fraction of
    characters in duplicate n-grams" repetition signal.

    Per-row O(m log m): sort the space-joined n-gram array, then ONE fold
    carries (previous gram, run length, duplicate chars, total chars) and
    flushes ``run · length(gram)`` into the duplicate tally whenever a run of
    length ≥2 closes (the ``finish`` lambda closes the final run). Like
    :func:`top_ngram_fraction`, the fold reads ONLY its element and
    accumulator — no outer array indexing, which would re-evaluate the gram
    build per element. The explode+groupBy formulation (a corpus-wide
    shuffle) is kept as the independent DuckDB oracle instead."""
    grams = _sorted_ngrams(text, n, " ")
    stats = F.aggregate(
        F.coalesce(grams, F.array()),
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).cast("long").alias("dup"),
            F.lit(0).cast("long").alias("total"),
        ),
        lambda acc, g: F.struct(
            g.alias("prev"),
            F.when(g == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.when(g == acc["prev"], acc["dup"])
            .otherwise(
                acc["dup"]
                + F.when(
                    acc["run"] >= 2,
                    acc["run"] * F.length(acc["prev"]).cast("long"),
                ).otherwise(F.lit(0))
            )
            .alias("dup"),
            (acc["total"] + F.length(g)).alias("total"),
        ),
        # finish computes the fraction in place so the fold is evaluated
        # exactly once per row (three references to a fold result would run
        # the fold three times — HOF results are not CSE'd)
        lambda acc: F.when(
            acc["total"] > 0,
            _floor_round(
                (
                    acc["dup"]
                    + F.when(
                        acc["run"] >= 2,
                        acc["run"] * F.length(acc["prev"]).cast("long"),
                    ).otherwise(F.lit(0))
                ).cast("double")
                / acc["total"].cast("double"),
                6,
            ),
        ).otherwise(F.lit(0.0)),
    )
    return stats


def repetition_signals(
    df: DataFrame, text_col: str = "text", ngram_n: int = 3
) -> DataFrame:
    """Append the three within-document repetition signals (duplicate-token
    fraction, duplicate n-gram character fraction, top-bigram fraction) as a
    single narrow projection — the Gopher repetition filter block as one
    zero-shuffle operator."""
    text = F.col(text_col)
    return (
        df.withColumn("dup_token_fraction", dup_token_fraction(text))
        .withColumn(
            f"dup_{ngram_n}gram_char_fraction",
            dup_ngram_char_fraction(text, ngram_n),
        )
        .withColumn(
            "top_bigram_fraction", _floor_round(top_ngram_fraction(text, 2), 6)
        )
    )


def gopher_quality_flags(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    max_top_bigram_fraction: float = 0.20,
) -> DataFrame:
    """Append the Gopher quality-filter signals and a combined ``gopher_keep``.

    The published heuristics (Rae et al. 2021, Appendix A1.1) that are pure
    text arithmetic: word-count bounds, mean word length in [3, 10], ≤10%
    symbol-to-word ratio (``#`` and ellipses), ≥80% of words containing an
    alphabetic character, ≥2 of the eight Gopher stop words, plus the
    top-bigram repetition cap. Everything is a narrow Catalyst projection —
    zero shuffles, zero UDFs — so the filter runs at scan speed on 100 TB and
    Catalyst prunes unused signal columns if the caller only keeps
    ``gopher_keep``."""
    text = F.col(text_col)
    toks = _words(text)
    n_words = F.size(toks)
    safe_n = F.greatest(n_words, F.lit(1)).cast("double")
    mean_word_len = (
        F.aggregate(toks, F.lit(0), lambda a, t: a + F.length(t)) / safe_n
    )
    frac_alpha = F.size(F.filter(toks, lambda t: t.rlike("[a-z]"))) / safe_n
    symbol_ratio = (
        F.regexp_count(text, F.lit(r"#|\.\.\.|…")) / safe_n
    )
    n_stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(toks), F.array(*[F.lit(w) for w in _GOPHER_STOPS])
        )
    )
    top_bigram = top_ngram_fraction(text, 2)
    out = (
        df.withColumn("n_words", n_words)
        .withColumn("mean_word_len", mean_word_len)
        .withColumn("frac_alpha_words", frac_alpha)
        .withColumn("symbol_word_ratio", symbol_ratio)
        .withColumn("n_gopher_stops", n_stop_hits)
        .withColumn("top_bigram_fraction", top_bigram)
    )
    return out.withColumn(
        "gopher_keep",
        (F.col("n_words") >= min_words)
        & (F.col("n_words") <= max_words)
        & F.col("mean_word_len").between(3.0, 10.0)
        & (F.col("symbol_word_ratio") <= 0.1)
        & (F.col("frac_alpha_words") >= 0.8)
        & (F.col("n_gopher_stops") >= 2)
        & (F.col("top_bigram_fraction") <= max_top_bigram_fraction),
    )


# ---------------------------------------------------------------------------
# vocabulary triage
# ---------------------------------------------------------------------------


def tfidf_top_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    idf_mode: str = "ln",
) -> DataFrame:
    """Top-``k`` terms per document by TF-IDF: ``(id, term, tf, df, score)``.

    ``idf_mode='ln'`` (default) is the standard smoothed
    ``tf · (ln((N+1)/(df+1)) + 1)``. ``idf_mode='ratio'`` scores
    ``tf · (N+1)/(df+1)`` — products/quotients of exact integers, bit-identical
    on any IEEE engine, the cross-engine verification mode (libm ``ln`` may
    differ in the last ulp between engines and flip a rank tie; same
    pattern as dedup's md5/xxhash64 hash modes). Ranking orders by
    (score desc, term asc) so equal scores break deterministically.

    Scale shape: explode → (id, term) counts (map-side partials), document
    frequency from the SAME grouped frame (count of docs per term — no second
    corpus scan), N broadcast as a 1-row aggregate, per-doc top-k as a window
    over the id shuffle. The corpus is exploded once and never self-joined.
    """
    if idf_mode not in ("ln", "ratio"):
        raise ValueError(f"idf_mode must be ln|ratio, got {idf_mode}")
    from pyspark.sql import Window

    tf = (
        df.select(F.col(id_col).alias("id"), F.explode(_words(F.col(text_col))).alias("term"))
        .groupBy("id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    docfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.agg(F.count(F.lit(1)).alias("__n"))
    if idf_mode == "ln":
        # det_ln on the VOCAB-sized docfreq frame (one evaluation per
        # distinct term, not per (doc, term) pair): det_ln's nested
        # transform() lambdas are CodegenFallback — interpreted — so the
        # per-pair spelling pays the ~40-op chain on every posting row
        # (the r11 A/B regression class; see unigram_logprob_score)
        docfreq = docfreq.crossJoin(F.broadcast(n_docs)).withColumn(
            "__idf1", _det_ln((F.col("__n") + 1) / (F.col("df") + 1)) + 1
        )
        scored = tf.join(docfreq, "term").withColumn(
            "score", F.col("tf") * F.col("__idf1")
        )
    else:
        # ratio mode: (tf·(N+1))/(df+1) with the numerator as an EXACT
        # integer product and ONE double division — the association
        # matters: tf·((N+1)/(df+1)) double-rounds twice and can differ
        # from the oracle's left-associated expression in the last ulp
        # (caught at sf0.1 — a rank flipped at a round(·,6) tick)
        scored = (
            tf.join(docfreq, "term")
            .crossJoin(F.broadcast(n_docs))
            .withColumn(
                "score",
                (F.col("tf") * (F.col("__n") + 1)) / (F.col("df") + 1),
            )
        )
    w = Window.partitionBy("id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select("id", "term", "tf", "df", _floor_round(F.col("score"), 6).alias("score"))
    )


def sample_fixed_per_stratum(
    df: DataFrame,
    n_per_stratum: int,
    stratum_col: str = "source",
    id_col: str = "doc_id",
    seed: str = "fixed",
) -> DataFrame:
    """Deterministic ``n``-per-stratum sample: rank rows inside each stratum
    by a stable hash of (seed, id) and keep the first ``n``.

    The fixed-count companion to :func:`sample_by_rates` (rate-based):
    "take 10k docs per source for the eval slice". Reproducible across runs,
    engines, and partitionings — no RNG state, no reservoir merge logic; the
    per-stratum window sorts each stratum in parallel (one shuffle on the
    stratum key). A stratum smaller than ``n`` is kept whole."""
    from pyspark.sql import Window

    from .dedup import _hash64

    rank_key = _hash64(
        F.concat(F.lit(seed), F.col(id_col).cast("string")), "md5"
    )
    w = Window.partitionBy(stratum_col).orderBy(rank_key, F.col(id_col))
    return (
        df.withColumn("__rank", F.row_number().over(w))
        .filter(F.col("__rank") <= n_per_stratum)
        .drop("__rank")
    )


def curation_with_metrics(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_quality: float = 0.3,
    min_tokens: int = 20,
):
    """Quality-filter + exact-dedup with FREE pipeline metrics: returns
    ``(result_df, observations)`` where the observations capture rows-in /
    rows-after-filter / tokens-after-filter via ``DataFrame.observe`` —
    metrics accumulate AS the result is computed, costing zero extra passes.
    At 100 TB the difference between ``observe`` and "just run .count() at
    each stage" is three full scans of the corpus; this is how a production
    curation job reports its funnel. Read ``obs.get`` AFTER an action on the
    returned frame."""
    from pyspark.sql import Observation

    from spark_ensemble_spark.operators.dedup import exact_dedup
    from spark_ensemble_spark.operators.text import (
        fingerprint,
        quality_score,
        token_count,
    )

    obs_in = Observation("curation_in")
    obs_kept = Observation("curation_kept")
    t = F.col(text_col)
    enriched = df.observe(obs_in, F.count(F.lit(1)).alias("rows_in")).select(
        F.col(id_col),
        token_count(t).alias("n_tokens"),
        _floor_round(quality_score(t), 6).alias("quality"),
        fingerprint(t).alias("fp"),
    )
    filtered = enriched.filter(
        (F.col("quality") >= min_quality) & (F.col("n_tokens") >= min_tokens)
    ).observe(
        obs_kept,
        F.count(F.lit(1)).alias("rows_kept"),
        F.sum("n_tokens").alias("tokens_kept"),
    )
    deduped = exact_dedup(filtered, ["fp"], id_col)
    return deduped, {"in": obs_in, "kept": obs_kept}


def pack_sequences(
    df: DataFrame,
    max_tokens: int,
    token_col: str = "n_tokens",
    id_col: str = "doc_id",
) -> DataFrame:
    """Assign documents to fixed-capacity training windows ("packs"): lay the
    corpus out as one contiguous token stream in ``id_col`` order and chunk
    it every ``max_tokens`` — the offline sequence-packing pass of an LLM
    data pipeline.

    Adds ``token_start`` (exclusive-prefix offset), ``pack_id``
    (= token_start div max_tokens), and ``spans_boundary`` (the doc crosses a
    window edge — the consumer splits it across packs, which is how
    contiguous-stream training data is actually chunked; nothing is dropped).

    Scale shape: the only non-narrow step is
    :func:`~spark_ensemble_spark.functions.stats.global_running_sum` — range
    partition + broadcast offsets, NO single-partition window. Deterministic
    in the id order: re-runs and engines agree bit-for-bit (integer sums).
    """
    from spark_ensemble_spark.functions.stats import global_running_sum

    cum = global_running_sum(df, [id_col], token_col, out_col="__cum")
    start = F.col("__cum") - F.col(token_col)
    return (
        cum.withColumn("token_start", start)
        .withColumn("pack_id", F.floor(start / max_tokens))
        .withColumn(
            "spans_boundary",
            # last token's window differs from the first token's (empty docs
            # never span)
            (F.col(token_col) > 0)
            & (
                F.floor((F.col("__cum") - 1) / max_tokens)
                != F.floor(start / max_tokens)
            ),
        )
        .drop("__cum")
    )


def corpus_profile(
    df: DataFrame,
    text_col: str = "text",
    stratum_col: str = "source",
    id_col: str = "doc_id",
    rsd: float = 0.05,
    percentile_accuracy: int = 10_000,
) -> DataFrame:
    """Per-stratum corpus profile — the "dataset card" pass: document and
    token counts, approximate distinct fingerprints (duplication estimate),
    token-length percentiles, and mean quality, in ONE aggregation.

    100 TB shape: every statistic here is a MERGEABLE aggregate — count/sum
    partial-reduce trivially, approx_count_distinct is an HLL sketch (~1.5 KB
    per stratum at 5% rsd, merged map-side), percentile_approx a bounded
    KLL-style sketch — so the whole profile is one scan + one shuffle of
    |strata| × sketch-size bytes, regardless of corpus size. The exact
    versions (count-distinct, true quantiles) would each shuffle the corpus;
    at profiling time the ±rsd answer is worth 10⁶× less traffic.

    ``dup_estimate`` = 1 − approx_distinct(fingerprint)/n_docs: fraction of
    documents whose normalized text is an exact duplicate of another.
    """
    from spark_ensemble_spark.operators.text import (
        fingerprint,
        quality_score,
        token_count,
    )

    t = F.col(text_col)
    enriched = df.select(
        F.col(stratum_col).alias("stratum"),
        token_count(t).alias("__ntok"),
        _floor_round(quality_score(t), 6).alias("__q"),
        fingerprint(t).alias("__fp"),
    )
    return enriched.groupBy("stratum").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__ntok").alias("total_tokens"),
        F.approx_count_distinct("__fp", rsd=rsd).alias("approx_distinct_fp"),
        F.percentile_approx(
            "__ntok", [0.5, 0.9, 0.99], percentile_accuracy
        ).alias("token_percentiles"),
        # mean quality as exact-DECIMAL sum ÷ count (order-independent)
        (
            F.sum(F.col("__q").cast("decimal(38,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_quality"),
    ).withColumn(
        "dup_estimate",
        F.greatest(
            F.lit(0.0),
            1 - F.col("approx_distinct_fp") / F.col("n_docs").cast("double"),
        ),
    )


def top_ngrams(
    df: DataFrame, text_col: str = "text", n: int = 3, k: int = 20
) -> DataFrame:
    """Global top-``k`` word ``n``-grams by document frequency-weighted count.

    Whole n-grams only (documents shorter than ``n`` tokens contribute
    nothing), counted with multiplicity per document. Ties break on the
    n-gram string ascending so the result is deterministic. One explode + one
    shuffled count with map-side partials; the top-k is a global sort of the
    (tiny) distinct-ngram aggregate, not of the corpus."""
    norm = F.regexp_replace(
        F.lower(F.trim(F.coalesce(F.col(text_col), F.lit("")))), r"\s+", " "
    )
    toks = F.split(norm, " ")
    starts = F.when(
        F.size(toks) >= n, F.sequence(F.lit(0), F.size(toks) - n)
    ).otherwise(F.array().cast("array<int>"))
    grams = F.transform(
        starts,
        lambda i: F.concat_ws(
            " ", *[F.try_element_at(toks, i + F.lit(j + 1)) for j in range(n)]
        ),
    )
    return (
        df.select(F.explode(grams).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("ngram"))
        .limit(k)
    )


def unigram_logprob_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_to: int = 6,
) -> DataFrame:
    """Per-document mean unigram log-probability under the corpus's own
    unigram distribution — the simplified CCNet-style LM fluency filter
    (docs full of rare/garbage tokens score low; docs of common tokens score
    high). Returns ``(id_col, n_tokens, avg_logprob)``.

    Plan: one explode builds per-doc term counts (map-side partial agg),
    the corpus term-frequency table re-aggregates THAT grouped frame (never
    a second scan), and a shuffle join on the token key scores each doc's
    terms — corpus-sized state never passes through the driver, and no side
    is assumed broadcastable (real vocabularies are large). Each token's
    log-probability is rounded then DECIMAL-summed so partial-agg order
    cannot move the rounded mean.
    """
    toks = _words(F.col(text_col))
    per_doc = (
        df.select(F.col(id_col).alias("__id"), F.explode(toks).alias("__t"))
        .groupBy("__id", "__t")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    tf = per_doc.groupBy("__t").agg(F.sum("__c").alias("__ct"))
    total = tf.agg(F.sum("__ct").alias("__n"))
    # det_ln, never the engine's ln: libm is not correctly rounded and a
    # sub-ulp build difference near a grid tick hash-flips the oracle (the
    # BM25 r7-r9 driver-red class, VERDICT r9 #1).  Computed on the
    # VOCAB-sized tf frame, not per (doc, term) pair: det_ln is a ~40-op
    # chain of nested transform() lambdas (higher-order functions are
    # CodegenFallback — interpreted, no whole-stage codegen), and the value
    # depends only on the term — hoisting it above the join cut the r10
    # per-pair evaluation that regressed this row's bench 1.39→2.44s
    # (r11 same-host A/B; the BM25 idf takes the same vocab-frame shape).
    tf = tf.crossJoin(F.broadcast(total)).withColumn(
        "__lp",
        _floor_round(_det_ln(F.col("__ct") / F.col("__n")), round_to).cast(
            "decimal(38,6)"
        ),
    )
    scored = per_doc.join(tf, "__t")
    out = scored.groupBy("__id").agg(
        F.sum("__c").cast("bigint").alias("n_tokens"),
        # exact decimal sum cast to double BEFORE the division: one double op
        # on identical inputs is engine-stable; decimal division scales differ
        _floor_round(
            F.sum(F.col("__lp") * F.col("__c")).cast("double") / F.sum("__c"),
            round_to,
        ).alias("avg_logprob"),
    )
    # empty/NULL-text docs produce no exploded rows: restore them with NULL
    # score rather than dropping them from the output
    ids = df.select(F.col(id_col).alias("__id")).distinct()
    return ids.join(out, "__id", "left").select(
        F.col("__id").alias(id_col),
        F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
        "avg_logprob",
    )


def snapshot_diff(
    old_df: DataFrame,
    new_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Dataset-version diff: one row per id in either snapshot with status
    ``added`` / ``removed`` / ``changed`` / ``unchanged`` (content compared by
    md5 of whitespace-normalized text, not raw bytes — a re-encode that only
    touches whitespace is not a content change).

    One full-outer equi-join of two fingerprint projections — each side is
    reduced to (id, fp) before the shuffle, so the diff moves hashes, not
    documents. This is the ingestion-audit step between corpus versions:
    feed ``added``/``changed`` ids to :func:`~spark_ensemble_spark.operators.\
dedup.dedup_against_corpus` and the removal list to index maintenance."""
    from .text import fingerprint

    fp = fingerprint(F.coalesce(F.col(text_col), F.lit("")))
    o = old_df.select(F.col(id_col).alias("__id"), fp.alias("__old_fp"))
    n = new_df.select(F.col(id_col).alias("__id"), fp.alias("__new_fp"))
    joined = o.join(n, "__id", "full_outer")
    status = (
        F.when(F.col("__old_fp").isNull(), F.lit("added"))
        .when(F.col("__new_fp").isNull(), F.lit("removed"))
        .when(F.col("__old_fp") == F.col("__new_fp"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return joined.select(F.col("__id").alias(id_col), status.alias("status"))


# ---------------------------------------------------------------------------
# DSIR — data selection via importance resampling (Xie et al. 2023)
# ---------------------------------------------------------------------------

def _md5_uniform(id_col: str, seed: int) -> Column:
    """Deterministic uniform draw in (0, 1) from a stable hash of
    ``(id, seed)`` — ``u = (md5₆₀(id:seed)+1)/(2⁶⁰+1)``. The single source for
    every replay-safe sampling decision (DSIR's Gumbel keys, hash splits):
    both engines reproduce it bit-for-bit, and unlike ``rand()`` it cannot
    move under task retries or repartitioning."""
    h = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "", F.col(id_col).cast("string"), F.lit(":"), F.lit(str(seed))
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    return (h + F.lit(1)) / F.lit(float((1 << 60) + 1))



def _hashed_feature_strings(text: Column) -> Column:
    """Word unigram + bigram feature strings of normalized text — the hashed
    n-gram featurization DSIR scores with. Returned as STRINGS (with
    multiplicity — DSIR is a bag-of-features model, so no distinct) for the
    caller to explode and hash on the flat column inside codegen (the
    :func:`~spark_ensemble_spark.operators.dedup._shingle_strings`
    discipline: lambdas evaluate interpreted, flat columns don't)."""
    from .dedup import _lambda_bind

    norm = F.regexp_replace(
        F.lower(F.trim(F.coalesce(text, F.lit("")))), r"\s+", " "
    )

    def feats(toks: Column) -> Column:
        n = F.size(toks)
        bigrams = F.when(
            n >= 2,
            F.transform(
                F.sequence(F.lit(1), n - 1),
                lambda i: F.array_join(F.slice(toks, i, 2), " "),
            ),
        ).otherwise(F.array().cast("array<string>"))
        return F.concat(toks, bigrams)

    # bind the token array once: the bigram lambda otherwise re-runs
    # regexp_replace+split of the whole document per bigram (_lambda_bind)
    return _lambda_bind(F.split(norm, " "), feats)


def dsir_log_weights(
    raw_df: DataFrame,
    target_df: Optional[DataFrame] = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 4096,
    hash_fn: str = "xxhash64",
    round_to: int = 6,
    target_col: Optional[str] = None,
) -> DataFrame:
    """Per-document DSIR importance log-weight: hashed-n-gram bag
    likelihood ratio between a TARGET corpus (what you want more of) and the
    RAW corpus being scored — ``log w(x) = Σ_f c_f(x)·(log p_target[f] −
    log p_raw[f])`` with add-1 smoothing over ``buckets`` hashed features.

    The target is given EITHER as a separate frame (``target_df``) or — when
    the target is a subset of the raw corpus — as a boolean ``target_col``
    on ``raw_df``, which derives BOTH distributions from one featurization
    pass (the md5/hash explode is the cost center; the two-frame form pays
    it twice). Results are identical between the forms.

    Returns ``(id_col, n_feats, log_weight)``, one row per raw doc.

    Plan shape (the point at 100 TB): both corpus distributions are
    ``buckets``-row aggregates (map-side partials; never corpus-sized
    state), the per-bucket log-ratio table is built once and BROADCAST to
    the per-doc scoring join — the only corpus-sized shuffle is the per-doc
    bucket-count groupBy. Log-ratios are rounded then DECIMAL-summed so
    partial-agg order cannot move the score (the unigram_logprob
    discipline). ``hash_fn='md5'`` is the cross-engine verification mode.
    """
    from .dedup import _hash64_mod

    if (target_df is None) == (target_col is None):
        raise ValueError("pass exactly one of target_df / target_col")

    def feats(df: DataFrame, with_id: bool, flag: Optional[str] = None) -> DataFrame:
        cols = [F.col(id_col).alias("__id")] if with_id else []
        if flag is not None:
            cols.append(F.col(flag).cast("boolean").alias("__tgt"))
        flat = df.select(
            *cols,
            F.explode(_hashed_feature_strings(F.col(text_col))).alias("__f"),
        )
        # The explicit (always-true) null filter is load-bearing for plan
        # REUSE, not values: the scoring join on __b infers isnotnull(__b)
        # and pushes it below the aggregates into ITS copy of this subtree,
        # while the totals branch has no join and no filter — the subtrees
        # stop being canonically equal and every consumer re-evaluates the
        # explode+hash scan (3 Generate nodes, 0 ReusedExchange at sf0.1).
        # Carrying the filter here keeps all consumers rooted at one
        # identical exchange, which stage reuse then materializes once.
        return (
            flat.withColumn("__b", _hash64_mod(F.col("__f"), hash_fn, buckets))
            .filter(F.col("__b").isNotNull())
            .drop("__f")
        )

    if target_col is not None:
        # __tgt is constant per doc, so adding it to the grouping keys does
        # not change the group count — one explode serves both distributions
        per_doc_t = (
            feats(raw_df, True, target_col)
            .groupBy("__id", "__b", "__tgt")
            .agg(F.count(F.lit(1)).alias("__c"))
        )
        per_doc = per_doc_t.select("__id", "__b", "__c")
        # BOTH per-bucket distributions from ONE aggregation of the grouped
        # frame (r12, guide §2.1): deriving tgt_counts via filter(__tgt)
        # pushed the predicate below the aggregate, so the branch subtrees
        # stopped being identical and the executed plan evaluated the
        # explode+hash scan FIVE times (5 Generate nodes, 10 file scans,
        # zero ReusedExchange at sf0.1 — per-doc join, raw counts, target
        # counts, and each distribution total all re-rooted the corpus
        # subtree). A conditional sum keeps every consumer rooted at the
        # same (__id, __b, __tgt) exchange, which exchange reuse then
        # materializes once. sum(CASE WHEN) of exact integers == the sum
        # over the filtered subset (0 for buckets with no target features
        # == the old left-join NULL after its coalesce).
        bucket_tab = per_doc_t.groupBy("__b").agg(
            F.sum("__c").alias("__cr"),
            F.sum(F.when(F.col("__tgt"), F.col("__c")).otherwise(0)).alias("__ct"),
        )
    else:
        per_doc = (
            feats(raw_df, True)
            .groupBy("__id", "__b")
            .agg(F.count(F.lit(1)).alias("__c"))
        )
        tgt_counts = (
            feats(target_df, False)
            .groupBy("__b")
            .agg(F.count(F.lit(1)).alias("__ct"))
        )
        # raw distribution re-aggregates the grouped frame — no second
        # scan; the left join keeps exactly the raw bucket set, NULL __ct
        # where the target never hashed a feature (coalesced to 0 below).
        bucket_tab = (
            per_doc.groupBy("__b")
            .agg(F.sum("__c").alias("__cr"))
            .join(tgt_counts, "__b", "left")
        )
    if target_col is not None:
        # one pass over the buckets-row table yields BOTH totals (was two
        # separate single-row aggregates, each re-rooting the corpus
        # subtree); valid because the subset target's buckets are exactly
        # the raw buckets carrying a nonzero __ct.
        totals = bucket_tab.agg(
            F.sum("__cr").alias("__nr"), F.sum("__ct").alias("__nt")
        )
    else:
        # two-frame form: the target may hash features into buckets the
        # raw corpus never touches — those rows are absent from bucket_tab
        # (raw bucket set) but MUST count toward the target total, so n_tgt
        # aggregates tgt_counts itself (its __b exchange is shared with the
        # join above, so this is a re-read, not a second scan).
        n_raw = bucket_tab.agg(F.sum("__cr").alias("__nr"))
        n_tgt = tgt_counts.agg(F.sum("__ct").alias("__nt"))
        totals = n_raw.crossJoin(n_tgt)
    lr = (
        bucket_tab.crossJoin(F.broadcast(totals))
        .select(
            "__b",
            # __nt coalesces like PSI's empty-snapshot totals: a target with
            # ZERO features (empty target_df, or no rows where target_col is
            # true) yields the add-1-smoothed UNIFORM target log(1/buckets)
            # instead of silently NULLing every document's log_weight
            # (ADVICE r5). Downstream selection then weights ∝ inverse raw
            # frequency — defined, deterministic, and visible in the scores.
            _floor_round(
                _det_ln(
                    (F.coalesce(F.col("__ct"), F.lit(0)) + 1)
                    / (F.coalesce(F.col("__nt"), F.lit(0)) + F.lit(buckets))
                )
                - _det_ln((F.col("__cr") + 1) / (F.col("__nr") + F.lit(buckets))),
                round_to,
            )
            .cast("decimal(38,6)")
            .alias("__lr"),
        )
    )
    out = (
        per_doc.join(F.broadcast(lr), "__b")
        .groupBy("__id")
        .agg(
            F.sum("__c").cast("bigint").alias("n_feats"),
            _floor_round(
                F.sum(F.col("__lr") * F.col("__c")).cast("double"), round_to
            ).alias("log_weight"),
        )
    )
    return out.select(F.col("__id").alias(id_col), "n_feats", "log_weight")


def dsir_select(
    scores: DataFrame,
    k: int,
    seed: int = 3,
    id_col: str = "doc_id",
    weight_col: str = "log_weight",
    round_to: int = 6,
) -> DataFrame:
    """Gumbel-top-k importance resampling over DSIR log-weights: adding
    independent Gumbel(0,1) noise to each log-weight and keeping the top k
    samples WITHOUT replacement with probability ∝ weight — one global
    top-k (TakeOrderedAndProject — no full sort materialized), no
    rejection loop, no driver state.

    The Gumbel draw is a deterministic hash of ``(id, seed)`` —
    ``u = (md5₆₀(id:seed)+1)/(2⁶⁰+1)``, ``g = −ln(−ln u)`` — so selection is
    reproducible across engines and retries (a rand() column would change
    under task replay; a hash never does). Appends ``sample_key``."""
    u = _md5_uniform(id_col, seed)
    # -det_ln(u) is 0 when the md5 draw lands EXACTLY on u = 1.0 (the
    # (2⁶⁰+1) denominator rounds to 2⁶⁰ as a double, so h = 2⁶⁰−1 reaches
    # it) — and det_ln(±0) is undefined (DuckDB's replay would abort on a
    # CAST of ±inf). Clamp to a tiny positive literal INSIDE det_ln's
    # domain (2^-63 < x < 2^63: the binade reduction takes floor(1/x) as
    # BIGINT, so 1e-300 would overflow INT64 with engine-divergent
    # behavior — Spark saturates, DuckDB aborts, CPython is correct).
    # 1e-18 is safe (1/1e-18 < 2^63) and unreachable by any real draw: the
    # smallest legitimate -det_ln(u) is ~1.1e-16 at u = 1-2^-53, so only
    # the exact u == 1.0 edge is clamped — that id gets a large (~+41.4)
    # Gumbel key, deterministically, on both engines.
    g = -_det_ln(F.greatest(-_det_ln(u), F.lit(_GUMBEL_CLAMP)))
    key = _floor_round(F.col(weight_col) + g, round_to)
    return (
        scores.withColumn("sample_key", key)
        .orderBy(F.col("sample_key").desc(), F.col(id_col))
        .limit(k)
    )


def dsir_oracle_sql(
    buckets: int,
    k: int,
    seed: int = 3,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    target_pred: str = "lang = 'en'",
    round_to: int = 6,
) -> str:
    """DuckDB SQL replaying ``dsir_select(dsir_log_weights(..., 'md5'))``
    bit-for-bit: same normalization/bigram construction, the md5-60-bit
    bucket hash, add-1 smoothing with identical integer→double divisions,
    rounded DECIMAL-summed log-ratios, and the same md5-derived Gumbel keys.
    ``CAST(sum AS BIGINT)`` guards the HUGEINT promotion."""
    denom = float((1 << 60) + 1)
    return f"""
    WITH norm AS (
      SELECT {id_col} AS id, ({target_pred}) AS is_tgt,
             string_split(regexp_replace(lower(trim(coalesce({text_col}, ''))), '\\s+', ' ', 'g'), ' ') AS t
      FROM {table}
    ), featured AS (
      SELECT id, is_tgt,
             list_concat(
               t,
               CASE WHEN len(t) >= 2
                    THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
                    ELSE [] END
             ) AS fs
      FROM norm
    ), flat AS (
      SELECT id, is_tgt,
             ('0x' || substring(md5(u.f), 1, 15))::BIGINT % {buckets} AS b
      FROM featured, UNNEST(fs) AS u(f)
    ), per_doc AS (
      SELECT id, b, CAST(count(*) AS BIGINT) AS c FROM flat GROUP BY id, b
    ), raw_counts AS (
      SELECT b, CAST(sum(c) AS BIGINT) AS cr FROM per_doc GROUP BY b
    ), tgt_counts AS (
      SELECT b, CAST(count(*) AS BIGINT) AS ct FROM flat WHERE is_tgt GROUP BY b
    ), totals AS (
      SELECT (SELECT CAST(sum(cr) AS BIGINT) FROM raw_counts) AS nr,
             (SELECT CAST(sum(ct) AS BIGINT) FROM tgt_counts) AS nt
    ), lr AS (
      SELECT r.b,
             {_floor_round_sql(f"{_det_ln_sql(f'(coalesce(t.ct, 0) + 1) / (tot.nt + {buckets})')} "
                                       f"- {_det_ln_sql(f'(r.cr + 1) / (tot.nr + {buckets})')}", round_to)}::DECIMAL(38,6) AS lrv
      FROM raw_counts r LEFT JOIN tgt_counts t USING (b), totals tot
    ), weights AS (
      SELECT id, CAST(sum(c) AS BIGINT) AS n_feats,
             {_floor_round_sql("(sum(lrv * c))::DOUBLE", round_to)} AS log_weight
      FROM per_doc JOIN lr USING (b)
      GROUP BY id
    )
    SELECT id AS {id_col}, n_feats, log_weight,
           {_floor_round_sql(f"log_weight "
                 f"- {_det_ln_sql('greatest(-(' + _det_ln_sql(f'''((('0x' || substring(md5(id::VARCHAR || ':{seed}'), 1, 15))::BIGINT + 1) / {_dlit(denom)})''') + '), 1e-18)')}", round_to)} AS sample_key
    FROM weights
    ORDER BY sample_key DESC, id
    LIMIT {k}
    """


# ---------------------------------------------------------------------------
# Interpolated bigram LM fluency score (the classic public approximation of
# CCNet's LM-perplexity filter; unigram_logprob_score is the 1-gram floor)
# ---------------------------------------------------------------------------


def bigram_logprob_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lam: float = 0.7,
    round_to: int = 6,
) -> DataFrame:
    """Per-document mean log-probability under a Jelinek-Mercer-interpolated
    bigram model estimated from the corpus itself: each bigram position
    scores ``ln(λ·p(w₂|w₁) + (1−λ)·p(w₂))`` with ``p(w₂|w₁) =
    c(w₁w₂)/h(w₁)`` (``h`` = bigram-history count, so the ratio is a proper
    conditional) and ``p(w₂)`` the corpus unigram frequency. Fluent text
    reuses frequent transitions and scores high; shuffled or generated
    gibberish keeps frequent WORDS but rare TRANSITIONS and drops — the
    signal the unigram filter cannot see. Returns
    ``(id_col, n_bigrams, avg_logprob)``; single-token/empty docs get NULL
    score (no bigram positions) but are never dropped.

    Plan: one explode builds per-doc bigram counts; the corpus bigram table,
    the history table, and the unigram table all re-aggregate THAT grouped
    frame (never a second text scan); scoring is three shuffle joins on
    token keys — no side is assumed broadcastable (real vocabularies are
    corpus-sized). Per-position log-probs are rounded then DECIMAL-summed so
    partial-agg order cannot move the mean (the unigram_logprob discipline).
    """
    norm = F.regexp_replace(
        F.lower(F.trim(F.coalesce(F.col(text_col), F.lit("")))), r"\s+", " "
    )
    toks = F.split(norm, " ")
    n = F.size(toks)
    bigrams = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.struct(
                F.element_at(toks, i).alias("w1"),
                F.element_at(toks, i + F.lit(1)).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    per_doc = (
        df.select(F.col(id_col).alias("__id"), F.explode(bigrams).alias("__bg"))
        .select("__id", F.col("__bg.w1").alias("__w1"), F.col("__bg.w2").alias("__w2"))
        .groupBy("__id", "__w1", "__w2")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    bi = per_doc.groupBy("__w1", "__w2").agg(F.sum("__c").alias("__cb"))
    hist = bi.groupBy("__w1").agg(F.sum("__cb").alias("__h"))
    uni = bi.groupBy("__w2").agg(F.sum("__cb").alias("__cu"))
    total = uni.agg(F.sum("__cu").alias("__n"))
    # det_ln on the BIGRAM-VOCAB-sized frame (see unigram_logprob_score:
    # det_ln is the ln env-hazard fix but its nested transform() lambdas are
    # CodegenFallback — one evaluation per distinct bigram, never per
    # (doc, bigram) pair)
    bi_lp = (
        bi.join(hist, "__w1")
        .join(uni, "__w2")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "__lp",
            _floor_round(
                _det_ln(
                    F.lit(lam) * (F.col("__cb") / F.col("__h"))
                    + F.lit(1.0 - lam) * (F.col("__cu") / F.col("__n"))
                ),
                round_to,
            ).cast("decimal(38,6)"),
        )
    )
    scored = per_doc.join(bi_lp, ["__w1", "__w2"])
    out = scored.groupBy("__id").agg(
        F.sum("__c").cast("bigint").alias("n_bigrams"),
        _floor_round(
            F.sum(F.col("__lp") * F.col("__c")).cast("double") / F.sum("__c"),
            round_to,
        ).alias("avg_logprob"),
    )
    ids = df.select(F.col(id_col).alias("__id")).distinct()
    return ids.join(out, "__id", "left").select(
        F.col("__id").alias(id_col),
        F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
        "avg_logprob",
    )


def kn_bigram_logprob_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    discount: float = 0.75,
    round_to: int = 6,
) -> DataFrame:
    """Per-document mean log-probability under an interpolated KNESER-NEY
    bigram model (Kneser & Ney 1995; Chen & Goodman 1998 §3 — the smoothing
    that consistently wins LM perplexity evaluations):

    ``p(w₂|w₁) = max(c(w₁w₂) − D, 0)/h(w₁)
                 + D·N₁₊(w₁·)/h(w₁) · N₁₊(·w₂)/N₁₊(··)``

    — absolute discounting plus the CONTINUATION-probability backoff:
    unlike :func:`bigram_logprob_score`'s Jelinek-Mercer mix with raw
    unigram frequency, the backoff weight of a word is how many DISTINCT
    contexts it follows, which is exactly what separates genuinely
    versatile words from words that are frequent only inside one collocate
    ("francisco" is frequent but follows almost nothing but "san" — KN
    scores it low out of context, JM does not). Same
    ``(id_col, n_bigrams, avg_logprob)`` contract and plan shape: one
    explode to per-doc bigram counts, every model table (bigram, history,
    left-branch N₁₊, right-continuation N₁₊, type total) re-aggregates
    THAT grouped frame, scoring joins shuffle on token keys with no
    broadcast assumption. Every model quantity is an exact integer count;
    rounding is the floor-half-up idiom on both engines (never
    ``round()``), and every scored position is an OBSERVED bigram (the doc
    contributed it to the corpus counts), so the discounted term's
    ``max(·,0)`` never needs the unseen-bigram branch."""
    norm = F.regexp_replace(
        F.lower(F.trim(F.coalesce(F.col(text_col), F.lit("")))), r"\s+", " "
    )
    toks = F.split(norm, " ")
    n = F.size(toks)
    bigrams = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.struct(
                F.element_at(toks, i).alias("w1"),
                F.element_at(toks, i + F.lit(1)).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    per_doc = (
        df.select(F.col(id_col).alias("__id"), F.explode(bigrams).alias("__bg"))
        .select("__id", F.col("__bg.w1").alias("__w1"), F.col("__bg.w2").alias("__w2"))
        .groupBy("__id", "__w1", "__w2")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    bi = per_doc.groupBy("__w1", "__w2").agg(F.sum("__c").alias("__cb"))
    hist = bi.groupBy("__w1").agg(
        F.sum("__cb").alias("__h"), F.count(F.lit(1)).alias("__n1p")
    )
    cont = bi.groupBy("__w2").agg(F.count(F.lit(1)).alias("__cont"))
    types = bi.agg(F.count(F.lit(1)).alias("__types"))
    d = float(discount)
    scale = float(10**round_to)
    p = (
        F.greatest(F.col("__cb") - F.lit(d), F.lit(0.0)) / F.col("__h")
        + F.lit(d) * F.col("__n1p") / F.col("__h")
        * (F.col("__cont") / F.col("__types"))
    )
    # det_ln on the bigram-vocab frame, never per (doc, bigram) pair — the
    # CodegenFallback-cost hoist documented at unigram_logprob_score
    bi_lp = (
        bi.join(hist, "__w1")
        .join(cont, "__w2")
        .crossJoin(F.broadcast(types))
        .withColumn(
            "__lp",
            # det_ln: see unigram_logprob_score (the ln env-hazard class)
            (F.floor(_det_ln(p) * F.lit(scale) + F.lit(0.5)) / F.lit(scale)).cast(
                "decimal(38,6)"
            ),
        )
    )
    scored = per_doc.join(bi_lp, ["__w1", "__w2"])
    out = scored.groupBy("__id").agg(
        F.sum("__c").cast("bigint").alias("n_bigrams"),
        (
            F.floor(
                (F.sum(F.col("__lp") * F.col("__c")).cast("double") / F.sum("__c"))
                * F.lit(scale)
                + F.lit(0.5)
            )
            / F.lit(scale)
        ).alias("avg_logprob"),
    )
    ids = df.select(F.col(id_col).alias("__id")).distinct()
    return ids.join(out, "__id", "left").select(
        F.col("__id").alias(id_col),
        F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
        "avg_logprob",
    )


# ---------------------------------------------------------------------------
# deterministic dataset splits (train/val/test by stable hash)
# ---------------------------------------------------------------------------


def split_by_hash(
    df: DataFrame,
    id_col: str,
    weights: Dict[str, float],
    seed: int = 0,
) -> DataFrame:
    """Append a ``split`` column assigning each row to a named split with
    probability ∝ ``weights``, decided by a stable hash of ``(id, seed)`` —
    NOT ``randomSplit``, whose assignment shifts with partitioning, task
    retries, and row order. A row's split never changes across runs,
    engines, or cluster sizes, which is the property training pipelines
    actually need (no eval-set leakage when the corpus is re-processed).

    Narrow projection, zero shuffle. The draw is the md5-60-bit uniform
    ``u = (md5₆₀(id:seed)+1)/(2⁶⁰+1)`` compared against cumulative weight
    thresholds (float literals, replayable in SQL); weights are normalized,
    so pass ratios in any scale."""
    total = float(sum(weights.values()))
    if total <= 0:
        raise ValueError(f"weights must sum > 0, got {weights}")
    names = list(weights)
    u = _md5_uniform(id_col, seed)
    expr = F.lit(names[-1])
    acc = 0.0
    arms = []
    for name in names[:-1]:
        acc += weights[name] / total
        arms.append((name, acc))
    for name, bound in reversed(arms):
        expr = F.when(u < F.lit(bound), F.lit(name)).otherwise(expr)
    return df.withColumn("split", expr)


def split_by_hash_oracle_sql(
    weights: Dict[str, float],
    seed: int = 0,
    table: str = "documents",
    id_col: str = "doc_id",
) -> str:
    """DuckDB SQL replaying :func:`split_by_hash` bit-for-bit (same md5
    uniform, same cumulative-threshold doubles)."""
    total = float(sum(weights.values()))
    names = list(weights)
    denom = float((1 << 60) + 1)
    u = (
        f"((('0x' || substring(md5({id_col}::VARCHAR || ':{seed}'), 1, 15))::BIGINT"
        f" + 1) / {denom!r})"
    )
    case = f"'{names[-1]}'"
    acc = 0.0
    arms = []
    for name in names[:-1]:
        acc += weights[name] / total
        arms.append((name, acc))
    for name, bound in reversed(arms):
        case = f"CASE WHEN {u} < {_dlit(bound)} THEN '{name}' ELSE {case} END"
    return f"SELECT {id_col}, {case} AS split FROM {table}"


def leakage_safe_splits(
    df: DataFrame,
    pairs: Optional[DataFrame] = None,
    weights: Optional[Dict[str, float]] = None,
    id_col: str = "doc_id",
    seed: int = 0,
    clusters: Optional[DataFrame] = None,
) -> DataFrame:
    """Deterministic split assignment with a NEAR-DUPLICATE LEAKAGE GUARD:
    every connected component of ``pairs`` (near-dup pairs from ANY of the
    dedup families: MinHash/SimHash/n-gram/embedding/semantic) lands in ONE
    split. Plain per-document splitting leaks: a near-copy of a training
    document in the eval split inflates eval scores — the split must be
    decided per GROUP, not per row (the reason eval decontamination exists
    at all, applied at split time).

    Appends ``split`` and ``split_group`` (the group key the hash was drawn
    on — the component's min id for pair members, the document's own id
    otherwise; both are RESERVED output names). Assignment is
    :func:`split_by_hash`'s md5-threshold draw computed on the group key,
    so retries, engines, and partitionings cannot move it, and re-running
    with MORE discovered pairs only merges groups (a key only ever drops to
    a smaller component min).

    Plan shape: connected components over the pairs
    (:func:`~spark_ensemble_spark.operators.dedup.dup_clusters`,
    O(log diameter) rounds on the pair members only — typically ≪ corpus),
    ONE left equi-join of the corpus on the id, then the narrow
    zero-shuffle split projection on the key. A pipeline that already
    resolved components (for dedup itself) passes them via ``clusters``
    (an ``(id, cluster_id)`` frame, e.g. a persisted ``dup_clusters``
    output) and skips the recompute entirely — the same "indexes are data"
    posture as incremental dedup. Exactly one of ``pairs`` / ``clusters``
    must be given: passing neither has no leakage guard to apply (use
    :func:`split_by_hash` directly), and passing both is ambiguous — the
    caller must decide which grouping is authoritative (r6 ADVICE)."""
    from .dedup import dup_clusters

    if pairs is None and clusters is None:
        raise ValueError(
            "leakage_safe_splits needs near-dup evidence: pass pairs "
            "(raw near-dup pairs) or clusters (precomputed components); "
            "for plain per-document splitting use split_by_hash"
        )
    if pairs is not None and clusters is not None:
        raise ValueError(
            "pass either pairs or clusters, not both — with clusters "
            "supplied the pairs input would be silently ignored"
        )
    if weights is None:
        raise ValueError("weights is required (e.g. {'train': 0.9, 'eval': 0.1})")
    for reserved in ("split", "split_group"):
        if reserved in df.columns:
            raise ValueError(
                f"leakage_safe_splits appends a {reserved!r} column; rename "
                f"the input's existing {reserved!r} column first"
            )
    if clusters is None:
        clusters = dup_clusters(pairs)
    clusters = clusters.select(
        F.col("id").alias("__ls_id"), F.col("cluster_id").alias("__ls_cluster")
    )
    joined = df.join(clusters, df[id_col] == F.col("__ls_id"), "left").drop(
        "__ls_id"
    )
    keyed = joined.withColumn(
        "split_group", F.coalesce(F.col("__ls_cluster"), F.col(id_col))
    ).drop("__ls_cluster")
    return split_by_hash(keyed, "split_group", weights, seed)


def leakage_safe_splits_oracle_sql(
    weights: Dict[str, float],
    edges_sql: str,
    seed: int = 0,
    table: str = "documents",
    id_col: str = "doc_id",
) -> str:
    """DuckDB SQL replaying :func:`leakage_safe_splits` bit-for-bit:
    ``edges_sql`` produces the (src, dst) pair rows, a recursive CTE
    computes the same min-member components as ``dup_clusters``, and the
    split case replays :func:`split_by_hash`'s md5 uniform on the group
    key."""
    total = float(sum(weights.values()))
    names = list(weights)
    denom = float((1 << 60) + 1)
    u = (
        f"((('0x' || substring(md5(split_group::VARCHAR || ':{seed}'), 1, 15))"
        f"::BIGINT + 1) / {denom!r})"
    )
    case = f"'{names[-1]}'"
    acc = 0.0
    arms = []
    for name in names[:-1]:
        acc += weights[name] / total
        arms.append((name, acc))
    for name, bound in reversed(arms):
        case = f"CASE WHEN {u} < {_dlit(bound)} THEN '{name}' ELSE {case} END"
    return f"""
    WITH RECURSIVE edges AS (
      {edges_sql}
    ),
    undirected AS (
      SELECT src, dst FROM edges UNION SELECT dst, src FROM edges
    ),
    reach(id, r) AS (
      SELECT src, src FROM undirected
      UNION
      SELECT u.src, r.r FROM undirected u JOIN reach r ON r.id = u.dst
    ),
    comp AS (
      SELECT id, min(r) AS cluster_id FROM reach GROUP BY id
    ),
    keyed AS (
      SELECT t.{id_col}, coalesce(c.cluster_id, t.{id_col}) AS split_group
      FROM {table} t LEFT JOIN comp c ON c.id = t.{id_col}
    )
    SELECT {id_col}, split_group, {case} AS split FROM keyed
    """


# ---------------------------------------------------------------------------
# quantile-threshold quality filtering (the final gate of a curation pass)
# ---------------------------------------------------------------------------


def score_quantile_threshold(
    df: DataFrame, score_col: str, q: float, tol: float = 0.0
) -> float:
    """The score value at quantile ``q`` (Greenwald-Khanna sketch; exact at
    ``tol=0``, same machinery and rank convention as DummyRegressor's
    oracle-verified quantile — the value whose ascending rank is
    ``ceil(q·n)``). NULL scores are ignored. The sketch is a bounded-size
    mergeable aggregate, so this is one pass with no global sort — at
    100 TB pass ``tol`` ~1e-4 and the threshold lands within that rank
    error for a fraction of the exact-mode cost."""
    qs = df.approxQuantile(score_col, [q], tol)
    if not qs:
        raise ValueError(
            f"no non-NULL values in {score_col!r}: cannot compute a "
            f"quantile threshold over an empty score distribution"
        )
    return qs[0]


def filter_by_score_quantile(
    df: DataFrame,
    score_col: str,
    q: float,
    tol: float = 0.0,
) -> DataFrame:
    """Keep rows whose ``score_col`` is at or above the corpus's ``q``
    quantile — "drop the worst q of the corpus by this signal", the
    standard final gate after fluency/repetition/quality scoring. Rows
    with NULL scores are dropped (an unscorable doc does not pass a score
    gate). Ties at the threshold all survive on both engines (>= on an
    actual data value).

    The input is localCheckpoint-ed first: the threshold is an ACTION over
    the scoring pipeline, and without materialization the caller's consume
    would re-run that whole pipeline a second time — at scale the scoring
    pass is the cost center, so paying executor storage to halve it is the
    right trade."""
    df = df.localCheckpoint(eager=True)
    threshold = score_quantile_threshold(df, score_col, q, tol)
    return df.filter(F.col(score_col) >= F.lit(threshold))


def pack_window_spans(
    manifest: DataFrame,
    capacity: int = 512,
) -> DataFrame:
    """Materialize a :func:`pack_token_windows` manifest into per-WINDOW
    document spans — the rows a data loader actually consumes: for every
    (bucket, window) each contributing document appears once with the slice
    of ITS tokens that falls in the window. Columns:

    ``(bucket, window_id, doc_id, doc_slice_start, slice_len,
    window_offset)`` — take tokens ``[doc_slice_start, doc_slice_start +
    slice_len)`` of the document and place them at ``window_offset`` inside
    the window; a window's spans tile it exactly (Σ slice_len = capacity
    for every full window, the tail remainder for each bucket's last).

    Zero-token documents occupy no window content and emit no span (their
    manifest row still records placement). Pure integer arithmetic over the
    manifest — one explode of each doc's [first_window, last_window] range
    (a document touches ceil(n/capacity)+1 windows at most, so the fan-out
    is ~n_tokens/capacity rows per doc, the output's natural size), no
    joins, no shuffle beyond what the caller does with the result."""
    if capacity < 1:
        raise ValueError(f"capacity must be >= 1, got {capacity}")
    c = F.lit(int(capacity))
    w = F.col("window_id")
    s, n = F.col("start_offset"), F.col("n_tokens")
    start_in_doc = F.greatest(F.lit(0).cast("bigint"), w * c - s)
    end_in_doc = F.least(n, (w + 1) * c - s)
    return (
        manifest.filter(F.col("n_tokens") > 0)
        .select(
            "bucket",
            "doc_id",
            "start_offset",
            "n_tokens",
            F.explode(
                F.sequence(F.col("first_window"), F.col("last_window"))
            ).alias("window_id"),
        )
        .select(
            "bucket",
            "window_id",
            "doc_id",
            start_in_doc.alias("doc_slice_start"),
            (end_in_doc - start_in_doc).alias("slice_len"),
            F.greatest(F.lit(0).cast("bigint"), s - w * c).alias("window_offset"),
        )
    )


def pack_window_spans_oracle_sql(
    manifest_sql: str,
    capacity: int = 512,
) -> str:
    """DuckDB replay of :func:`pack_window_spans` over any manifest
    subquery (producing the pack_token_windows columns): same window-range
    explode and integer slice arithmetic."""
    c = int(capacity)
    return f"""
    WITH m AS ({manifest_sql}),
    e AS (
      SELECT bucket, doc_id, start_offset, n_tokens, u.w AS window_id
      FROM m, unnest(range(first_window, last_window + 1)) AS u(w)
      WHERE n_tokens > 0
    )
    SELECT bucket, window_id, doc_id,
           greatest(0, window_id * {c} - start_offset)::BIGINT AS doc_slice_start,
           (least(n_tokens, (window_id + 1) * {c} - start_offset)
            - greatest(0, window_id * {c} - start_offset))::BIGINT AS slice_len,
           greatest(0, start_offset - window_id * {c})::BIGINT AS window_offset
    FROM e
    """


def shuffle_shards(
    df: DataFrame,
    id_col: str = "doc_id",
    n_shards: int = 8,
    seed: int = 17,
) -> DataFrame:
    """Deterministic global shuffle + sharding for training-data export —
    the step a pretraining pipeline runs between curation and
    packing/tokenization: examples must reach the trainer in a
    pseudo-random order that is REPRODUCIBLE (re-runs, engines, and task
    retries must produce the identical order, or data-order-sensitive
    training runs aren't comparable). ``rand()`` fails all three; a stable
    hash of ``(id, seed)`` fails none.

    Returns ``(id_col, shard, pos)``: ``shard = h mod n_shards`` and
    ``pos`` = the row's 1-based position within its shard by ``(h, id)``
    order, where ``h`` is the 60-bit integer of ``md5(id:seed)`` (the
    ``_md5_uniform`` convention). Changing ``seed`` reshuffles everything;
    changing ``n_shards`` only re-deals the deal.

    Scale shape: one shuffle on the shard key; each shard's ordering window
    is shard-sized (data/n_shards rows on one reducer — ``n_shards`` IS the
    parallelism knob, thousands in production, matching the file count the
    trainer wants to read). Compose with :func:`pack_token_windows` by
    packing in (shard, pos) order instead of raw id order."""
    h = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "", F.col(id_col).cast("string"), F.lit(":"), F.lit(str(seed))
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    from pyspark.sql import Window

    out = df.select(F.col(id_col), h.alias("__h")).withColumn(
        "shard", F.pmod(F.col("__h"), F.lit(int(n_shards))).cast("int")
    )
    w = Window.partitionBy("shard").orderBy("__h", id_col)
    return out.withColumn("pos", F.row_number().over(w).cast("long")).select(
        id_col, "shard", "pos"
    )


def shuffle_shards_oracle_sql(
    source: str = "documents",
    id_col: str = "doc_id",
    n_shards: int = 8,
    seed: int = 17,
) -> str:
    """DuckDB replay of :func:`shuffle_shards` (same md5 60-bit integer,
    modulus, and (h, id) window order — pure integer arithmetic)."""
    h = (
        f"CAST(('0x' || substring(md5(CAST({id_col} AS VARCHAR) || ':{seed}'),"
        f" 1, 15))::BIGINT AS BIGINT)"
    )
    return f"""
    WITH s AS (
      SELECT {id_col}, {h} AS h, CAST({h} % {n_shards} AS INT) AS shard
      FROM {source}
    )
    SELECT {id_col}, shard,
           CAST(row_number() OVER (PARTITION BY shard ORDER BY h, {id_col})
                AS BIGINT) AS pos
    FROM s
    """


def pack_token_windows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    capacity: int = 512,
    num_buckets: int = 8,
    bucket_col: Optional[str] = None,
    order_col: Optional[str] = None,
) -> DataFrame:
    """Sequence-packing PLAN for pretraining batches: documents are
    concatenated in deterministic id order within a bucket and the token
    stream is cut into fixed ``capacity``-token training windows (the
    GPT-style concat-and-cut convention — documents may straddle a window
    boundary; the attention mask, not the packer, separates them). Emits
    each document's placement: bucket, start offset in the bucket's token
    stream, and the first/last window it lands in — the manifest a
    materialization pass (or a data loader) consumes to build examples
    without ever re-tokenizing.

    Spark-first shape: ONE shuffle on the bucket key + a per-bucket window
    cumsum — no UDF, no driver state. ``num_buckets`` is the parallelism
    knob (buckets are the independent packing shards; production uses
    thousands); placement is a pure function of (id order, token counts),
    so retries, engines, and partitionings cannot move a document, and a
    DuckDB oracle replays every offset exactly. Token counts use the
    whitespace tokenizer (text.token_count) — swap in bpe_ish_token_count
    for sub-word budgeting; the plan is identical."""
    from pyspark.sql import Window

    from .text import token_count

    if capacity < 1:
        raise ValueError(f"capacity must be >= 1, got {capacity}")
    if (bucket_col is None) != (order_col is None):
        raise ValueError("pass bucket_col and order_col together")
    if bucket_col is None:
        bucket, order = (F.col(id_col) % num_buckets).cast("int"), id_col
    else:
        # explicit placement — e.g. shuffle_shards' (shard, pos), so the
        # packed stream follows the reproducible TRAINING order instead of
        # raw id order (the production composition: shuffle, then pack)
        bucket, order = F.col(bucket_col).cast("int"), order_col
    base = df.select(
        F.col(id_col).alias("doc_id"),
        bucket.alias("bucket"),
        F.col(order).alias("__ord"),
        token_count(F.col(text_col)).cast("bigint").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy("__ord")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    placed = base.withColumn(
        "start_offset", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("bigint")
    )
    first_w = F.floor(F.col("start_offset") / capacity).cast("bigint")
    # Clamp: a zero-token document's half-open span would otherwise compute
    # last = floor((start-1)/capacity) = first-1 (or -1 at offset 0) — a
    # degenerate manifest row a data loader could misread as "spans
    # backwards". An empty doc occupies no tokens but is PLACED at its
    # offset: first_window == last_window.
    last_w = F.greatest(
        first_w,
        F.floor((F.col("start_offset") + F.col("n_tokens") - 1) / capacity).cast(
            "bigint"
        ),
    )
    return placed.select(
        "doc_id",
        "bucket",
        "n_tokens",
        "start_offset",
        first_w.alias("first_window"),
        last_w.alias("last_window"),
    )


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 128,
    stride: int = 96,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """RAG-style sliding-window chunking: each document splits into
    overlapping token windows of ``chunk_tokens`` advancing by ``stride``
    (overlap = ``chunk_tokens − stride``), with provenance —
    ``(id, chunk_index, start_token, n_tokens, chunk_text)``.

    This is the RETRIEVAL-side counterpart of :func:`pack_token_windows`
    (which packs for TRAINING): chunks keep their document identity and
    token offsets so a hit can be mapped back to its source span.

    Window starts are ``1, 1+stride, …`` up to
    ``greatest(n − (chunk − stride), 1)``, so the final chunk is the
    remainder window and no trailing sliver fully contained in its
    predecessor is emitted; documents shorter than one chunk produce
    exactly one chunk; empty documents produce none (nothing to index —
    the bm25/explode convention). One narrow projection + one explode:
    no shuffle, scan-speed at any corpus size."""
    if stride < 1 or chunk_tokens < 1 or stride > chunk_tokens:
        raise ValueError("need 1 <= stride <= chunk_tokens")
    toks = _words(F.col(text_col))
    overlap = chunk_tokens - stride
    base = df.select(
        F.col(id_col), toks.alias("__t"), F.size(toks).alias("__n")
    ).filter(F.col("__n") >= 1)
    starts = F.sequence(
        F.lit(1),
        F.greatest(F.col("__n") - F.lit(overlap), F.lit(1)),
        F.lit(stride),
    )
    chunks = base.select(
        id_col,
        "__t",
        "__n",
        F.posexplode(starts).alias("chunk_index", "start_token"),
    )
    piece = F.slice(F.col("__t"), F.col("start_token"), chunk_tokens)
    return chunks.select(
        id_col,
        F.col("chunk_index").cast("int").alias("chunk_index"),
        F.col("start_token").cast("int").alias("start_token"),
        F.size(piece).cast("int").alias("n_tokens"),
        F.array_join(piece, " ").alias("chunk_text"),
    )


def chunk_documents_oracle_sql(
    chunk_tokens: int = 128,
    stride: int = 96,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB replay of :func:`chunk_documents` — same tokenization, start
    sequence, remainder-window rule, and space re-join."""
    overlap = chunk_tokens - stride
    return f"""
    WITH toks AS (
      SELECT {id_col},
             list_filter(string_split_regex(lower(trim(coalesce({text_col}, ''))),
                         '\\s+'), x -> x != '') AS t
      FROM {table}
    ),
    base AS (SELECT {id_col}, t, len(t) AS n FROM toks WHERE len(t) >= 1),
    st AS (
      SELECT {id_col}, t, n, u.s AS start_token,
             CAST(row_number() OVER (PARTITION BY {id_col} ORDER BY u.s) - 1 AS INT)
               AS chunk_index
      FROM base,
           unnest(range(1, greatest(n - {overlap}, 1) + 1, {stride})) AS u(s)
    )
    SELECT {id_col},
           chunk_index,
           CAST(start_token AS INT) AS start_token,
           CAST(len(t[start_token : start_token + {chunk_tokens} - 1]) AS INT) AS n_tokens,
           array_to_string(t[start_token : start_token + {chunk_tokens} - 1], ' ') AS chunk_text
    FROM st
    """


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus version diff — the release-over-release audit every dataset
    pipeline publishes ("v2 added 1.2M docs, removed 40k, rewrote 300k"):
    classify every id across two snapshots as ``added`` / ``removed`` /
    ``changed`` / ``unchanged`` by a FULL OUTER join on the id with content
    compared via the MD5 :func:`~spark_ensemble_spark.operators.text.\
fingerprint` (whitespace-normalized — a reflow is not a change), so the
    compare moves 16 bytes per row, never the text.

    Returns ``(id, change)`` for every id in either snapshot. One
    co-partitioned shuffle per side on the id; at 100 TB both sides prune
    to (id, fingerprint) projections at the scan. Feed the ``added`` +
    ``changed`` ids to the incremental-dedup delivery path and the
    ``removed`` set to index tombstones — this operator is the boundary
    that turns full snapshots into increments."""
    from spark_ensemble_spark.operators.text import fingerprint

    fp = fingerprint(F.coalesce(F.col(text_col), F.lit("")))
    o = old.select(F.col(id_col), fp.alias("__ofp"))
    n = new.select(F.col(id_col), fp.alias("__nfp"))
    j = o.join(n, id_col, "outer")
    change = (
        F.when(F.col("__ofp").isNull(), F.lit("added"))
        .when(F.col("__nfp").isNull(), F.lit("removed"))
        .when(F.col("__ofp") == F.col("__nfp"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return j.select(id_col, change.alias("change"))
