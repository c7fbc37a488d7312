"""Text analysis over the ``documents`` table: language-ID heuristic,
quality scoring, token counting, document fingerprinting.

All pure Catalyst string expressions (no UDFs) so the 100 TB scan stays
in whole-stage codegen and the DuckDB oracle replays them exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ts_raster_spark.functions.norm import r4

# language → characteristic stopwords (padded occurrences counted via
# the replace-length trick, identical semantics in any SQL engine)
LANG_MARKERS = {
    "en": ["the", "and", "of", "with"],
    "fr": ["le", "la", "les", "des"],
    "de": ["der", "die", "das", "und"],
    "es": ["el", "los", "las", "una"],
}


def _occurrences(col, needle: str):
    """# of occurrences of ' needle ' in ' '||col||' ' (word-bounded)."""
    padded = F.concat(F.lit(" "), col, F.lit(" "))
    pat = f" {needle} "
    return (F.length(padded) - F.length(F.replace(padded, F.lit(pat), F.lit("")))) / len(pat)


def lang_scores(docs: DataFrame) -> DataFrame:
    low = F.lower(F.col("text"))
    out = docs.select("doc_id", low.alias("_low"))
    for lang, words in LANG_MARKERS.items():
        score = None
        for w in words:
            t = _occurrences(F.col("_low"), w)
            score = t if score is None else score + t
        out = out.withColumn(f"score_{lang}", score.cast("double"))
    return out.drop("_low")


def lang_id(docs: DataFrame) -> DataFrame:
    """Best-scoring language, 'unknown' when no marker scores 1.0."""
    s = lang_scores(docs)
    langs = list(LANG_MARKERS)
    best_score = F.greatest(*[F.col(f"score_{lg}") for lg in langs])
    pred = F.lit("unknown")
    for lg in reversed(langs):  # earlier langs win ties -> apply last
        pred = F.when(F.col(f"score_{lg}") == best_score, F.lit(lg)).otherwise(pred)
    pred = F.when(best_score >= 1.0, pred).otherwise(F.lit("unknown"))
    return s.select("doc_id", pred.alias("lang_pred"), r4(best_score).alias("lang_score"))


TOKEN_SPLIT = "filter(split(trim(text), '[ ]+'), x -> x != '')"
TOKEN_WORDS = "filter(split(lower(text), '[^a-z0-9]+'), x -> x != '')"


def token_stats(docs: DataFrame) -> DataFrame:
    """Whitespace tokens + a BPE-ish proxy (≈ chars/4, the common LLM
    rule of thumb) + alnum-word count + a BPE-ish regex segmentation
    count (letter runs / digit runs / single punctuation marks — the
    GPT-2 pre-tokenizer shape, simplified to a dialect both Java regex
    and RE2 execute identically)."""
    return docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_measured"),
        F.size(F.expr(TOKEN_SPLIT)).cast("long").alias("n_ws_tokens"),
        F.size(F.expr("filter(split(lower(text), '[^a-z0-9]+'), x -> x != '')")).cast("long").alias("n_words"),
        F.ceil(F.length("text") / 4.0).cast("long").alias("n_bpe_est"),
        F.size(
            F.expr(r"regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 \\t\\n]', 0)")
        ).cast("long").alias("n_bpe_tokens"),
    )


def tfidf_top_terms(docs: DataFrame) -> DataFrame:
    """Per-document top-3 terms by tf·idf (idf = ln(N/df), raw tf) —
    the classic corpus-statistics op a training-data pipeline uses for
    keyword/topic probes.

    Shape: tokens explode → (doc, term) counts → term document
    frequencies (one aggregation, shuffled on term — high cardinality,
    naturally balanced) → broadcast the tiny corpus size → window top-3
    per doc with deterministic ties (score desc, term asc). No UDF.
    Output: (doc_id, term, tf, score, rank).
    """
    from pyspark.sql.window import Window

    toks = (
        docs.withColumn("tokens", F.expr("filter(split(lower(text), '[^a-z0-9]+'), x -> x != '')"))
        .select("doc_id", F.explode("tokens").alias("term"))
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").cast("long").alias("tf"))
    df_ = tf.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    n_docs = docs.select(F.count("*").alias("n_docs"))
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("score", F.col("tf") * F.log(F.col("n_docs") / F.col("df")))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("doc_id", "term", "tf", r4(F.col("score")).alias("score"),
                F.col("rank").cast("int").alias("rank"))
    )


def quality_score(docs: DataFrame) -> DataFrame:
    """Heuristic quality in [0,1]: length band + stopword presence +
    mean word length band (classic cheap pretraining filters)."""
    t = token_stats(docs).alias("t")
    d = docs.alias("d")
    j = d.join(t, F.col("d.doc_id") == F.col("t.doc_id")).select(
        F.col("d.doc_id").alias("doc_id"), "d.text", "t.n_words", "t.n_chars_measured"
    )
    low = F.lower(F.col("text"))
    stop_hits = None
    for w in ["the", "and", "of", "a"]:
        o = _occurrences(low, w)
        stop_hits = o if stop_hits is None else stop_hits + o
    mean_word_len = F.col("n_chars_measured") / F.greatest(F.col("n_words"), F.lit(1))
    len_ok = (F.col("n_words") >= 10) & (F.col("n_words") <= 100000)
    stop_ratio = stop_hits / F.greatest(F.col("n_words"), F.lit(1))
    wl_ok = (mean_word_len >= 3) & (mean_word_len <= 12)
    score = (
        len_ok.cast("double") * 0.4
        + F.least(stop_ratio * 5, F.lit(1.0)) * 0.3
        + wl_ok.cast("double") * 0.3
    )
    return j.select(
        "doc_id",
        r4(score).alias("quality"),
        r4(stop_ratio).alias("stopword_ratio"),
        r4(mean_word_len).alias("mean_word_len"),
    )


LINES = "filter(transform(split(text, '\\n'), x -> trim(x)), x -> x != '')"


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition quality signals per document (Rae et al.
    2021, table A1 — public): duplicate-line fraction, duplicate-line
    character fraction, and the fraction of word-bigram occurrences
    taken by the single most frequent bigram. High values flag
    boilerplate/spam a pretraining pipeline drops.

    Scale shape: the line-level signals are pure array expressions
    (array_distinct inside the row — zero shuffle, scan speed); the
    top-bigram signal explodes bigrams and aggregates twice on doc_id,
    so both shuffles are keyed by doc_id (high cardinality, balanced).
    Output: (doc_id, n_lines, dup_line_frac, dup_line_char_frac,
    top_bigram_frac).
    """
    lines = F.expr(LINES)
    dlines = F.array_distinct(lines)
    chars = "aggregate({}, 0L, (acc, x) -> acc + length(x))"
    base = docs.select(
        "doc_id",
        "text",
        F.size(lines).cast("long").alias("n_lines"),
        F.size(dlines).cast("long").alias("n_dlines"),
        F.expr(chars.format(LINES)).alias("line_chars"),
        F.expr(chars.format(f"array_distinct({LINES})")).alias("dline_chars"),
    )
    bigrams = (
        docs.withColumn("tokens", F.expr(TOKEN_WORDS))
        .where(F.size("tokens") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(tokens) - 2), "
                    "i -> concat_ws(' ', element_at(tokens, i + 1), element_at(tokens, i + 2)))"
                )
            ).alias("bigram"),
        )
    )
    top = (
        bigrams.groupBy("doc_id", "bigram")
        .agg(F.count("*").alias("cnt"))
        .groupBy("doc_id")
        .agg(F.max("cnt").alias("top_cnt"), F.sum("cnt").alias("n_bigrams"))
    )
    out = base.join(top, "doc_id", "left")
    one = F.greatest(F.col("n_lines"), F.lit(1))
    return out.select(
        "doc_id",
        "n_lines",
        r4((F.col("n_lines") - F.col("n_dlines")) / one).alias("dup_line_frac"),
        r4(
            (F.col("line_chars") - F.col("dline_chars"))
            / F.greatest(F.col("line_chars"), F.lit(1))
        ).alias("dup_line_char_frac"),
        r4(
            F.coalesce(F.col("top_cnt") / F.col("n_bigrams"), F.lit(0.0))
        ).alias("top_bigram_frac"),
    )


def duplicate_lines(docs: DataFrame) -> DataFrame:
    """Corpus-level duplicated-line index (the CCNet/C4 line-dedup
    primitive, public): every trimmed line of ≥ 10 chars that appears
    ≥ 2 times across the corpus, with its
    document reach and a canonical owner. A pipeline joins this back to
    strip boilerplate lines before training.

    Shape: explode lines → one groupBy on md5(line) — high-cardinality
    balanced shuffle; the md5 key keeps the shuffle rows narrow (16
    bytes, not the line text). Output: (line_md5, line_len, n_docs,
    n_occurrences, canonical_doc_id).
    """
    lines = docs.select(
        "doc_id", F.explode(F.expr(LINES)).alias("line")
    ).where(F.length("line") >= 10)
    return (
        lines.select("doc_id", F.md5("line").alias("line_md5"), F.length("line").alias("line_len"))
        .groupBy("line_md5")
        .agg(
            F.min("line_len").cast("long").alias("line_len"),
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.count("*").cast("long").alias("n_occurrences"),
            F.min("doc_id").alias("canonical_doc_id"),
        )
        .where(F.col("n_occurrences") >= 2)
    )


def fingerprint(docs: DataFrame) -> DataFrame:
    """Normalization-invariant content fingerprint: md5 over the
    lowercased alnum-collapsed text (whitespace/punct-insensitive)."""
    norm = F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", "")
    return docs.select("doc_id", F.md5(norm).alias("fingerprint"))
