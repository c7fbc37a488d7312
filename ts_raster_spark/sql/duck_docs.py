"""DuckDB-dialect oracles for the documents/embeddings operator suite.

Mirrors ts_raster_spark.operators.{dedup,similarity,textstats} exactly
(same md5 hashing, same tokenization, same rounding)."""

from __future__ import annotations

from ts_raster_spark.operators.textstats import LANG_MARKERS

TOKS_CTE = """
toks AS (
    SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x != '') AS tokens
    FROM documents
)"""

DSH_CTE = TOKS_CTE + """,
sh AS (
    SELECT doc_id,
        unnest(list_transform(range(1, len(tokens) - 1),
               j -> tokens[j] || ' ' || tokens[j+1] || ' ' || tokens[j+2])) AS shingle
    FROM toks WHERE len(tokens) >= 3
),
dsh AS (SELECT DISTINCT doc_id, shingle FROM sh)"""


def exact_dedup_sql() -> str:
    return """
SELECT md5(text) AS content_md5, count(*) AS n_docs, min(doc_id) AS canonical_doc_id
FROM documents GROUP BY md5(text)
"""


def jaccard_sql(threshold: float, max_df: int | None = 1000) -> str:
    # mirror of dedup.ngram_jaccard_pairs incl. the max_df stop-shingle
    # cap (dropped on both the sizes and the intersection side)
    df_cap = (
        f"dsh AS (SELECT * FROM dsh0 WHERE shingle IN "
        f"(SELECT shingle FROM dsh0 GROUP BY shingle HAVING count(*) <= {max_df})),"
        if max_df
        else "dsh AS (SELECT * FROM dsh0),"
    )
    return f"""WITH {DSH_CTE.replace('dsh AS', 'dsh0 AS')},
{df_cap}
sizes AS (SELECT doc_id, count(*) AS sz FROM dsh GROUP BY 1),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::DOUBLE AS i
    FROM dsh a JOIN dsh b USING (shingle)
    WHERE a.doc_id < b.doc_id GROUP BY 1, 2
)
SELECT doc_a, doc_b, round(i / (sa.sz + sb.sz - i), 4) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE i / (sa.sz + sb.sz - i) >= {threshold}
"""


def minhash_lsh_sql(k: int = 8, band_size: int = 2) -> str:
    mh = ", ".join(
        f"min(md5('{i}:' || shingle)) AS mh{i}" for i in range(k)
    )
    n_bands = k // band_size
    band_rows = "\nUNION ALL\n".join(
        "SELECT doc_id, {b} AS band, md5({expr}) AS band_key FROM sig".format(
            b=b,
            expr=" || '|' || ".join(f"mh{b * band_size + j}" for j in range(band_size)),
        )
        for b in range(n_bands)
    )
    return f"""WITH {DSH_CTE},
sig AS (SELECT doc_id, {mh} FROM dsh GROUP BY doc_id),
bands AS ({band_rows})
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
WHERE a.doc_id < b.doc_id
"""


def _components_ctes(k: int, band_size: int) -> str:
    """Shared CTE chain: shingles → MinHash sigs → LSH bands → edges →
    transitive-closure components (min reachable doc_id = component)."""
    mh = ", ".join(f"min(md5('{i}:' || shingle)) AS mh{i}" for i in range(k))
    n_bands = k // band_size
    band_rows = "\nUNION ALL\n".join(
        "SELECT doc_id, {b} AS band, md5({expr}) AS band_key FROM sig".format(
            b=b,
            expr=" || '|' || ".join(f"mh{b * band_size + j}" for j in range(band_size)),
        )
        for b in range(n_bands)
    )
    return f"""WITH RECURSIVE {DSH_CTE},
sig AS (SELECT doc_id, {mh} FROM dsh GROUP BY doc_id),
bands AS ({band_rows}),
edges AS (
    SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
    FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
    WHERE a.doc_id < b.doc_id
),
und AS (SELECT u, v FROM edges UNION ALL SELECT v, u FROM edges),
reach(node, lbl) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT und.v, reach.lbl FROM reach JOIN und ON und.u = reach.node
),
comp AS (SELECT node AS doc_id, min(lbl) AS component FROM reach GROUP BY node)"""


def components_sql(k: int = 8, band_size: int = 2) -> str:
    """Twin of dedup.connected_components_star (large/small-star) over
    minhash_lsh_pairs."""
    return _components_ctes(k, band_size) + "\nSELECT doc_id, component FROM comp\n"


def keep_canonical_sql(k: int = 8, band_size: int = 2) -> str:
    """Twin of dedup.dedup_keep_canonical: near-dup components, keep the
    component-min document, report the cluster size it represents."""
    return (
        _components_ctes(k, band_size)
        + """,
sizes AS (SELECT component, CAST(count(*) AS BIGINT) AS n_dups FROM comp GROUP BY 1)
SELECT d.doc_id, d.source, d.n_chars, c.component, s.n_dups
FROM comp c
JOIN sizes s USING (component)
JOIN documents d ON d.doc_id = c.doc_id
WHERE c.doc_id = c.component
"""
    )


def simhash16_sql() -> str:
    scores = []
    for j in range(16):
        k = j // 4 + 1
        shift = 3 - (j % 4)
        hexval = f"(strpos('0123456789abcdef', substr(h, {k}, 1)) - 1)"
        bit = f"(CAST(floor({hexval} / {2**shift}) AS INTEGER) % 2)"
        scores.append(f"sum({bit} * 2 - 1) AS s{j}")
    sim = " + ".join(f"CASE WHEN s{j} > 0 THEN {2**j} ELSE 0 END" for j in range(16))
    return f"""WITH {TOKS_CTE},
tok AS (
    SELECT doc_id, md5(unnest(tokens)) AS h FROM toks WHERE len(tokens) >= 1
),
scored AS (SELECT doc_id, {", ".join(scores)} FROM tok GROUP BY doc_id)
SELECT doc_id, CAST({sim} AS INTEGER) AS simhash16 FROM scored
"""


_DOT = "list_sum(list_transform(range(1, len(a) + 1), i -> a[i]::DOUBLE * b[i]::DOUBLE))"
_NORM = "sqrt(list_sum(list_transform({c}, x -> x::DOUBLE * x::DOUBLE)))"


def cosine_topk_sql(query_ids: list[int], k: int) -> str:
    ids = ", ".join(str(i) for i in query_ids)
    return f"""WITH q AS (
    SELECT vec_id AS query_id, embedding AS a FROM embeddings WHERE vec_id IN ({ids})
),
pairs AS (
    SELECT q.query_id, e.vec_id AS neighbor_id,
        round({_DOT} / ({_NORM.format(c='a')} * {_NORM.format(c='b')}), 4) AS cosine
    FROM q, (SELECT vec_id, embedding AS b FROM embeddings) e
    WHERE q.query_id != e.vec_id
),
ranked AS (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
    FROM pairs
)
SELECT query_id, neighbor_id, cosine, CAST(rank AS INTEGER) AS rank FROM ranked WHERE rank <= {k}
"""


def signlsh_topk_sql(query_ids: list[int], k: int, n_planes: int = 8) -> str:
    ids = ", ".join(str(i) for i in query_ids)
    bucket = " + ".join(
        f"CASE WHEN embedding[{i + 1}]::DOUBLE >= 0 THEN {2**i} ELSE 0 END"
        for i in range(n_planes)
    )
    return f"""WITH bk AS (
    SELECT vec_id, embedding, CAST({bucket} AS INTEGER) AS bucket FROM embeddings
),
q AS (SELECT vec_id AS query_id, embedding AS a, bucket FROM bk WHERE vec_id IN ({ids})),
pairs AS (
    SELECT q.query_id, c.vec_id AS neighbor_id,
        round({_DOT} / ({_NORM.format(c='a')} * {_NORM.format(c='b')}), 4) AS cosine
    FROM q JOIN (SELECT vec_id, embedding AS b, bucket FROM bk) c USING (bucket)
    WHERE q.query_id != c.vec_id
),
ranked AS (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
    FROM pairs
)
SELECT query_id, neighbor_id, cosine, CAST(rank AS INTEGER) AS rank FROM ranked WHERE rank <= {k}
"""


def cosine_near_dup_blocked_sql(threshold: float, n_planes: int = 8, n_bands: int = 2) -> str:
    """Twin of similarity.cosine_near_dup_blocked: disjoint-coordinate
    sign-LSH bands, candidates = bucket collisions in any band, exact
    cosine within blocks."""
    band_rows = []
    for b in range(n_bands):
        bucket = " + ".join(
            f"CASE WHEN embedding[{b * n_planes + i + 1}]::DOUBLE >= 0 THEN {2**i} ELSE 0 END"
            for i in range(n_planes)
        )
        band_rows.append(
            f"SELECT vec_id, {b} AS band, CAST({bucket} AS INTEGER) AS bucket FROM embeddings"
        )
    bands = "\nUNION ALL\n".join(band_rows)
    return f"""WITH bands AS ({bands}),
cand AS (
    SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
    FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
    WHERE a.vec_id < b.vec_id
),
pairs AS (
    SELECT c.vec_a, c.vec_b,
        round({_DOT} / ({_NORM.format(c='a')} * {_NORM.format(c='b')}), 4) AS cosine
    FROM cand c
    JOIN (SELECT vec_id, embedding AS a FROM embeddings) ea ON ea.vec_id = c.vec_a
    JOIN (SELECT vec_id, embedding AS b FROM embeddings) eb ON eb.vec_id = c.vec_b
)
SELECT vec_a, vec_b, cosine FROM pairs WHERE cosine >= {threshold}
"""


def _occ(needle: str, col: str = "low") -> str:
    pat = f" {needle} "
    return f"((length({col}) - length(replace({col}, '{pat}', ''))) / {len(pat)})"


def lang_id_sql(min_score: float = 1.0) -> str:
    score_cols = []
    for lang, words in LANG_MARKERS.items():
        expr = " + ".join(_occ(w) for w in words)
        score_cols.append(f"CAST({expr} AS DOUBLE) AS score_{lang}")
    langs = list(LANG_MARKERS)
    best = f"greatest({', '.join(f'score_{lg}' for lg in langs)})"
    pred = "'unknown'"
    for lg in reversed(langs):
        pred = f"CASE WHEN score_{lg} = {best} THEN '{lg}' ELSE {pred} END"
    return f"""WITH base AS (
    SELECT doc_id, ' ' || lower(text) || ' ' AS low FROM documents
),
scored AS (SELECT doc_id, {", ".join(score_cols)} FROM base)
SELECT doc_id,
    CASE WHEN {best} >= {min_score} THEN {pred} ELSE 'unknown' END AS lang_pred,
    round({best}, 4) AS lang_score
FROM scored
"""


def token_stats_sql() -> str:
    return r"""
SELECT doc_id,
    length(text) AS n_chars_measured,
    len(list_filter(string_split_regex(trim(text), '[ ]+'), x -> x != '')) AS n_ws_tokens,
    len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x != '')) AS n_words,
    CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_bpe_est,
    len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 \t\n]')) AS n_bpe_tokens
FROM documents
"""


def quality_sql() -> str:
    stop = " + ".join(_occ(w) for w in ["the", "and", "of", "a"])
    return f"""WITH t AS (
    SELECT doc_id,
        length(text) AS n_chars_measured,
        len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x != '')) AS n_words,
        ' ' || lower(text) || ' ' AS low
    FROM documents
),
c AS (
    SELECT doc_id,
        ({stop}) / greatest(n_words, 1) AS stop_ratio,
        n_chars_measured::DOUBLE / greatest(n_words, 1) AS mwl,
        n_words
    FROM t
)
SELECT doc_id,
    round(
        CASE WHEN n_words >= 10 AND n_words <= 100000 THEN 1.0 ELSE 0.0 END * 0.4
        + least(stop_ratio * 5, 1.0) * 0.3
        + CASE WHEN mwl >= 3 AND mwl <= 12 THEN 1.0 ELSE 0.0 END * 0.3, 4) AS quality,
    round(stop_ratio, 4) AS stopword_ratio,
    round(mwl, 4) AS mean_word_len
FROM c
"""


def tfidf_sql(k: int = 3) -> str:
    return f"""WITH {TOKS_CTE},
tok AS (SELECT doc_id, unnest(tokens) AS term FROM toks),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
    SELECT tf.doc_id, tf.term, tf.tf,
        tf.tf * ln(n.n_docs / dfreq.df) AS score
    FROM tf JOIN dfreq USING (term) CROSS JOIN n
),
ranked AS (
    SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank
    FROM scored
)
SELECT doc_id, term, tf, round(score, 4) AS score, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= {k}
"""


def fingerprint_sql() -> str:
    return """
SELECT doc_id, md5(regexp_replace(lower(text), '[^a-z0-9]+', '', 'g')) AS fingerprint
FROM documents
"""


LINES_SQL = (
    "list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)), x -> x != '')"
)


def repetition_sql() -> str:
    """Twin of textstats.repetition_stats (Gopher repetition signals)."""
    chars = "coalesce(list_sum(list_transform({}, x -> length(x))), 0)"
    return f"""WITH {TOKS_CTE},
base AS (
    SELECT doc_id,
        len({LINES_SQL}) AS n_lines,
        len(list_distinct({LINES_SQL})) AS n_dlines,
        {chars.format(LINES_SQL)} AS line_chars,
        {chars.format(f'list_distinct({LINES_SQL})')} AS dline_chars
    FROM documents
),
bg AS (
    SELECT doc_id,
        unnest(list_transform(range(1, len(tokens)), j -> tokens[j] || ' ' || tokens[j+1])) AS bigram
    FROM toks WHERE len(tokens) >= 2
),
cnts AS (SELECT doc_id, bigram, count(*) AS cnt FROM bg GROUP BY 1, 2),
top AS (SELECT doc_id, max(cnt) AS top_cnt, sum(cnt) AS n_bigrams FROM cnts GROUP BY 1)
SELECT b.doc_id,
    CAST(b.n_lines AS BIGINT) AS n_lines,
    round((b.n_lines - b.n_dlines) / greatest(b.n_lines, 1), 4) AS dup_line_frac,
    round((b.line_chars - b.dline_chars) / greatest(b.line_chars, 1), 4) AS dup_line_char_frac,
    round(coalesce(t.top_cnt / t.n_bigrams, 0.0), 4) AS top_bigram_frac
FROM base b LEFT JOIN top t USING (doc_id)
"""


def duplicate_lines_sql(
    min_chars: int = 10, min_occurrences: int = 2, source: str = "documents"
) -> str:
    """Twin of textstats.duplicate_lines (corpus line-dedup index).
    ``source`` lets the gate point at a unioned/augmented corpus."""
    return f"""WITH lx AS (
    SELECT doc_id, unnest({LINES_SQL}) AS line FROM {source}
),
lf AS (SELECT doc_id, md5(line) AS line_md5, length(line) AS line_len
       FROM lx WHERE length(line) >= {min_chars})
SELECT line_md5,
    CAST(min(line_len) AS BIGINT) AS line_len,
    CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
    CAST(count(*) AS BIGINT) AS n_occurrences,
    min(doc_id) AS canonical_doc_id
FROM lf GROUP BY line_md5
HAVING count(*) >= {min_occurrences}
"""


def decontaminate_sql(
    n: int = 5,
    threshold: float = 0.1,
    bench_pred: str = "doc_id % 20 = 0",
    train_pred: str | None = None,
) -> str:
    """Twin of dedup.decontaminate_ngrams: benchmark = bench_pred rows,
    train = train_pred rows (default: the complement of bench_pred)."""
    if train_pred is None:
        train_pred = f"NOT ({bench_pred})"
    grams = (
        f"unnest(list_transform(range(1, len(tokens) - {n - 2}), "
        f"j -> array_to_string(list_slice(tokens, j, j + {n - 1}), ' '))) AS ngram"
    )
    return f"""WITH {TOKS_CTE},
tr AS (
    SELECT DISTINCT doc_id, {grams}
    FROM toks WHERE len(tokens) >= {n} AND ({train_pred})
),
bench AS (
    SELECT DISTINCT {grams}
    FROM toks WHERE len(tokens) >= {n} AND ({bench_pred})
),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_ngrams FROM tr GROUP BY 1),
hits AS (
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_overlap
    FROM tr WHERE ngram IN (SELECT ngram FROM bench) GROUP BY 1
)
SELECT s.doc_id, s.n_ngrams,
    CAST(coalesce(h.n_overlap, 0) AS BIGINT) AS n_overlap,
    round(coalesce(h.n_overlap, 0) / s.n_ngrams, 4) AS overlap_frac,
    CAST(coalesce(h.n_overlap, 0) / s.n_ngrams >= {threshold} AS INTEGER) AS contaminated
FROM sizes s LEFT JOIN hits h USING (doc_id)
"""


def embedding_quantize_sql() -> str:
    """Twin of similarity.embedding_quantize (absmax int8 + checksum)."""
    q = (
        "CASE WHEN scale > 0 THEN greatest(-127, least(127, "
        "CAST(floor(embedding[j]::DOUBLE / scale + 0.5) AS BIGINT))) ELSE 0 END"
    )
    return f"""WITH s1 AS (
    SELECT vec_id, embedding,
        coalesce(list_max(list_transform(embedding, v -> abs(v::DOUBLE))), 0.0) / 127.0 AS scale
    FROM embeddings
),
s2 AS (
    SELECT vec_id, embedding, scale,
        list_transform(range(1, len(embedding) + 1), j -> {q}) AS qarr
    FROM s1
),
s3 AS (
    SELECT vec_id, scale, qarr,
        list_transform(range(1, len(embedding) + 1),
            j -> abs(embedding[j]::DOUBLE - qarr[j]::DOUBLE * scale)) AS errarr
    FROM s2
)
SELECT vec_id,
    round(scale, 4) AS scale,
    CAST(coalesce(list_sum(list_transform(range(1, len(qarr) + 1), j -> j * qarr[j])), 0) AS BIGINT) AS q_checksum,
    round(coalesce(list_max(errarr), 0.0), 4) AS max_abs_err,
    round(coalesce(list_sum(list_transform(errarr, e -> e * e)), 0.0) / len(errarr), 4) AS mse
FROM s3
"""


def curate_corpus_sql(
    min_quality: float = 0.5,
    n: int = 4,
    threshold: float = 0.1,
    bench_pred: str = "doc_id % 20 = 0",
) -> str:
    """Twin of curation.curate_corpus over the full documents table with
    the benchmark drawn from bench_pred rows (benchmark members curate
    to 'contaminated' — they overlap themselves). Composes the four
    already-attested primitive twins as derived tables; first failing
    stage wins, in the same order as the Spark op."""
    dec = decontaminate_sql(n=n, threshold=threshold, bench_pred=bench_pred, train_pred="TRUE")
    return f"""
SELECT d.doc_id,
    CASE WHEN q.quality < {min_quality} THEN 'low_quality'
         WHEN coalesce(c.contaminated, 0) = 1 THEN 'contaminated'
         WHEN e.doc_id IS NULL THEN 'exact_dup'
         WHEN k.doc_id IS NULL THEN 'near_dup'
         ELSE 'kept' END AS verdict
FROM documents d
LEFT JOIN ({quality_sql()}) q USING (doc_id)
LEFT JOIN ({dec}) c USING (doc_id)
LEFT JOIN (SELECT canonical_doc_id AS doc_id FROM ({exact_dedup_sql()})) e USING (doc_id)
LEFT JOIN (SELECT doc_id FROM ({keep_canonical_sql()})) k USING (doc_id)
"""


def chunk_documents_sql(chunk_tokens: int = 64, overlap: int = 16) -> str:
    """Twin of chunking.chunk_documents."""
    stride = chunk_tokens - overlap
    piece = f"list_slice(tokens, chunk_idx * {stride} + 1, chunk_idx * {stride} + {chunk_tokens})"
    return f"""WITH {TOKS_CTE},
t AS (
    SELECT doc_id, tokens,
        CASE WHEN len(tokens) <= {chunk_tokens} THEN 1
             ELSE 1 + CAST(ceil((len(tokens) - {chunk_tokens}) / {float(stride)}) AS INTEGER)
        END AS n_chunks
    FROM toks WHERE len(tokens) >= 1
),
x AS (
    SELECT doc_id, tokens, unnest(range(0, n_chunks)) AS chunk_idx FROM t
)
SELECT doc_id,
    CAST(chunk_idx AS INTEGER) AS chunk_idx,
    CAST(len({piece}) AS BIGINT) AS n_tokens,
    array_to_string({piece}, ' ') AS chunk_text
FROM x
"""


def pack_documents_sql(budget: int = 512, shard_col: str = "source") -> str:
    """Twin of chunking.pack_documents."""
    return f"""WITH t AS (
    SELECT {shard_col} AS shard, doc_id,
        CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x != '')) AS BIGINT) AS n_tokens
    FROM documents
),
c AS (
    SELECT shard, doc_id, n_tokens,
        coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
    FROM t
)
SELECT shard, doc_id, n_tokens,
    CAST(floor(before / {budget}) AS BIGINT) AS pack_id,
    CAST(before % {budget} AS BIGINT) AS offset_in_pack
FROM c
"""
