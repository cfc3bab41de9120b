"""Text-analysis operators for LLM data pipelines (SURVEY.md §2.2 L).

Tokenization, per-document statistics, TF-IDF, heuristic language ID,
quality scoring, and shingle fingerprinting — all as declarative
DataFrame plans (explode/split/higher-order functions, no Python in
the hot path). At 100 TB each of these is a scan + one keyed shuffle;
word-level aggregates use map-side partial aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from meta_iterative_mapreduce_spark.cache import checkpoint, owned, release
from meta_iterative_mapreduce_spark.io import load_table
from meta_iterative_mapreduce_spark.registry import register


def tokens(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One (doc_id, token) row per whitespace token — the canonical
    map phase of word count."""
    return df.select(
        "doc_id", F.explode(F.split(F.col(text_col), " ")).alias("token")
    )


@register(
    "q_text_tokens",
    oracle="""
    SELECT token, COUNT(*) AS cnt
    FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
    GROUP BY token
    """,
)
def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word count — the canonical MapReduce demo: explode + hash agg
    with map-side combine."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@register(
    "q_text_stats",
    oracle="""
    SELECT doc_id, lang,
           CAST(LENGTH(string_split(text, ' ')) AS INT) AS n_tokens,
           CAST(LENGTH(text) AS INT) AS n_chars_computed,
           ROUND(CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE)
                 / LENGTH(string_split(text, ' ')), 4) AS avg_token_len,
           CAST(LENGTH(string_split(text, ' ')) AS INT)
               - CAST(LENGTH(list_distinct(string_split(text, ' '))) AS INT)
               AS n_repeated
    FROM documents
    """,
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document statistics: token count, char count, average token
    length, repeated-token count (token counting via whitespace split)."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    return d.select(
        "doc_id",
        "lang",
        F.size(toks).alias("n_tokens"),
        F.length("text").alias("n_chars_computed"),
        F.round(
            F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
            .cast("double")
            / F.size(toks),
            4,
        ).alias("avg_token_len"),
        (F.size(toks) - F.size(F.array_distinct(toks))).alias("n_repeated"),
    )


# Tiny per-language lexicons for the n-gram/stopword language-ID
# heuristic. The fixture vocabulary is synthetic, so these are split
# from the observed vocab; the *mechanism* (lexicon-hit scoring with a
# deterministic argmax) is the real operator.
_LEXICONS = {
    "en": ("the", "fast", "small", "key", "order"),
    "es": ("sort", "merge", "join", "scan", "table"),
    "de": ("hash", "batch", "stream", "spark", "window"),
    "fr": ("dup", "part", "row", "col", "group"),
}


def _lex_sql(lang: str) -> str:
    vals = ", ".join(f"'{w}'" for w in _LEXICONS[lang])
    return (
        f"CAST(LENGTH(list_filter(string_split(text, ' '),"
        f" x -> list_contains([{vals}], x))) AS INT)"
    )


@register(
    "q_text_langid",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, lang,
               {_lex_sql('en')} AS s_en,
               {_lex_sql('es')} AS s_es,
               {_lex_sql('de')} AS s_de,
               {_lex_sql('fr')} AS s_fr
        FROM documents
    )
    SELECT doc_id, lang, s_en, s_es, s_de, s_fr,
           CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
                WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
                WHEN s_es >= s_fr THEN 'es'
                ELSE 'fr' END AS lang_pred
    FROM scored
    """,
)
def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: lexicon-hit scores per language + a
    deterministic argmax (ties broken in fixed order de>en>es>fr)."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")

    def score(lang: str):
        lex = F.array(*[F.lit(w) for w in _LEXICONS[lang]])
        return F.size(F.filter(toks, lambda x: F.array_contains(lex, x)))

    scored = d.select(
        "doc_id",
        "lang",
        score("en").alias("s_en"),
        score("es").alias("s_es"),
        score("de").alias("s_de"),
        score("fr").alias("s_fr"),
    )
    s_en, s_es, s_de, s_fr = (F.col(c) for c in ("s_en", "s_es", "s_de", "s_fr"))
    return scored.withColumn(
        "lang_pred",
        F.when((s_de >= s_en) & (s_de >= s_es) & (s_de >= s_fr), "de")
        .when((s_en >= s_es) & (s_en >= s_fr), "en")
        .when(s_es >= s_fr, "es")
        .otherwise("fr"),
    )


@register(
    "q_text_quality",
    oracle="""
    SELECT doc_id,
           CAST(LENGTH(string_split(text, ' ')) AS INT) AS n_tokens,
           ROUND(CAST(LENGTH(list_filter(string_split(text, ' '),
                 x -> list_contains(['the','of','and','a','scan','join'], x)))
                 AS DOUBLE)
                 / LENGTH(string_split(text, ' ')), 4) AS stopword_ratio,
           CAST(LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[.,!?]', '', 'g'))
                AS INT) AS n_punct,
           (LENGTH(string_split(text, ' ')) BETWEEN 20 AND 80) AS len_ok
    FROM documents
    """,
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: stopword ratio, punctuation count, length gate —
    the standard cheap filters before expensive LLM-pipeline stages."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    stop = F.array(*[F.lit(w) for w in ("the", "of", "and", "a", "scan", "join")])
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.round(
            F.size(F.filter(toks, lambda x: F.array_contains(stop, x))).cast("double")
            / F.size(toks),
            4,
        ).alias("stopword_ratio"),
        (
            F.length("text")
            - F.length(F.regexp_replace(F.col("text"), "[.,!?]", ""))
        ).alias("n_punct"),
        F.size(toks).between(20, 80).alias("len_ok"),
    )


@register(
    "q_text_tfidf",
    oracle="""
    WITH tf AS (
        SELECT doc_id, token, COUNT(*) AS tf
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
              FROM documents)
        GROUP BY doc_id, token
    ), df AS (
        SELECT token, COUNT(*) AS df FROM tf GROUP BY token
    ), n AS (
        SELECT COUNT(*) AS n_docs FROM documents
    ), scored AS (
        SELECT tf.doc_id, tf.token,
               ROUND(tf.tf * LN(CAST(n.n_docs AS DOUBLE) / df.df), 4) AS tfidf
        FROM tf JOIN df ON tf.token = df.token CROSS JOIN n
    )
    SELECT doc_id, token, tfidf FROM (
        SELECT doc_id, token, tfidf,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                   ORDER BY tfidf DESC, token) AS rn
        FROM scored
    ) WHERE rn <= 3
    """,
)
def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF: term frequency × inverse document frequency, top-3 terms
    per document. The document-frequency side is a small aggregate —
    broadcast-joined back to the term-frequency table (no big shuffle)."""
    d = load_table(spark, sf_dir, "documents")
    tf = (
        tokens(d)
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n_docs = d.count()  # O(1) driver scalar, like the reference's m (kernel.cu:95)
    scored = tf.join(F.broadcast(df), "token").select(
        "doc_id",
        "token",
        F.round(
            F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 4
        ).alias("tfidf"),
    )
    w = W.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "token")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "token", "tfidf")
    )


@register(
    "q_text_fingerprint",
    oracle="""
    SELECT d.doc_id,
           md5(d.text) AS doc_md5,
           MIN(md5(SUBSTR(d.text, CAST(t.i AS INT), 8))) AS min_shingle
    FROM documents d,
         UNNEST(generate_series(1, LENGTH(d.text) - 7)) AS t(i)
    GROUP BY d.doc_id, d.text
    """,
)
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: whole-doc md5 + rolling-window shingle
    fingerprint (min md5 over all char 8-grams — a 1-permutation
    MinHash). md5 is bit-identical across engines, so this is fully
    oracle-checkable, unlike engine-native hash functions."""
    d = load_table(spark, sf_dir, "documents")
    grams = F.transform(
        F.sequence(F.lit(1), F.length("text") - 7),
        lambda i: F.md5(F.col("text").substr(i, F.lit(8))),
    )
    return d.select(
        "doc_id",
        F.md5("text").alias("doc_md5"),
        F.array_min(grams).alias("min_shingle"),
    )


@register(
    "q_text_token_bpe",
    oracle="""
    SELECT doc_id,
           CAST(LENGTH(string_split(text, ' ')) AS INT) AS n_ws_tokens,
           CAST(LENGTH(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))
                AS INT) AS n_bpe_tokens
    FROM documents
    """,
)
def q_text_token_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace split and a BPE-ish regex
    pre-tokenizer (letter runs / digit runs / single symbols) — the
    cheap proxy for LLM token budgeting over a corpus."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("n_ws_tokens"),
        F.size(
            F.regexp_extract_all(F.col("text"), F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), 0)
        ).alias("n_bpe_tokens"),
    )


@register(
    "q_text_ngram_freq",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents
    ), bigrams AS (
        SELECT token || ' ' || LEAD(token) OVER
                   (PARTITION BY doc_id ORDER BY pos) AS bigram
        FROM toks
    )
    SELECT bigram, COUNT(*) AS cnt
    FROM bigrams WHERE bigram IS NOT NULL
    GROUP BY bigram
    """,
)
def q_text_ngram_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram frequencies (the n-gram LM counting pattern):
    positional explode → lead within document → hash agg with map-side
    combine. || with a NULL lead yields NULL, dropping each document's
    final token on both engines identically."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.posexplode(F.split("text", " ")).alias("pos", "token"))
    w = W.partitionBy("doc_id").orderBy("pos")
    bigrams = toks.select(
        F.concat_ws(" ", "token", F.lead("token").over(w)).alias("bigram"),
        F.lead("token").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    return bigrams.groupBy("bigram").agg(F.count(F.lit(1)).alias("cnt"))


_CHUNK_WIDTH = 32  # tokens per training chunk
_CHUNK_STRIDE = 24  # 8-token overlap between consecutive chunks


@register(
    "q_text_chunk",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t,
               LENGTH(string_split(text, ' ')) AS n
        FROM documents
    )
    SELECT doc_id,
           CAST((s.start - 1) / {_CHUNK_STRIDE} AS INT) AS chunk_idx,
           CAST(LENGTH(list_slice(t, CAST(s.start AS INT),
                CAST(LEAST(s.start + {_CHUNK_WIDTH} - 1, n) AS INT)))
                AS INT) AS chunk_n_tokens,
           array_to_string(list_slice(t, CAST(s.start AS INT),
                CAST(LEAST(s.start + {_CHUNK_WIDTH} - 1, n) AS INT)), ' ')
               AS chunk_text
    FROM toks,
         UNNEST(generate_series(1, GREATEST(n - {_CHUNK_WIDTH} + 1, 1),
                {_CHUNK_STRIDE})) AS s(start)
    """,
)
def q_text_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document chunking for training: overlapping {width}-token
    windows at stride {stride} (the sliding-context split an LLM data
    pipeline feeds to tokenization). Windows are generated as a
    sequence of start offsets and sliced JVM-side — one explode, no
    Python, no shuffle; the final partial window is kept (truncated
    slice) so every token lands in at least one chunk."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n = F.size(toks)
    starts = F.sequence(
        F.lit(1), F.greatest(n - _CHUNK_WIDTH + 1, F.lit(1)), F.lit(_CHUNK_STRIDE)
    )
    chunked = d.select(
        "doc_id",
        toks.alias("t"),
        F.explode(starts).alias("start"),
    )
    piece = F.slice("t", F.col("start"), F.lit(_CHUNK_WIDTH))
    return chunked.select(
        "doc_id",
        ((F.col("start") - 1) / _CHUNK_STRIDE).cast("int").alias("chunk_idx"),
        F.size(piece).alias("chunk_n_tokens"),
        F.array_join(piece, " ").alias("chunk_text"),
    )


_PACK_BUDGET = 512  # tokens per packed training sequence


@register(
    "q_text_pack",
    oracle=f"""
    WITH sized AS (
        SELECT doc_id, source,
               LENGTH(string_split(text, ' ')) AS n_tok
        FROM documents
    ), placed AS (
        SELECT source, n_tok,
               COALESCE(SUM(n_tok) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS offset_tok
        FROM sized
    )
    SELECT source,
           CAST(offset_tok // {_PACK_BUDGET} AS BIGINT) AS bin_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS sum_tokens
    FROM placed
    GROUP BY source, offset_tok // {_PACK_BUDGET}
    """,
)
def q_text_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training: assign documents (in stable
    doc_id order per source) to {budget}-token context bins by their
    exclusive running-token offset — the deterministic streaming
    packer. One window over (source ORDER BY doc_id) + one rollup;
    at scale the window partitions by source, so no global sort."""
    d = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.split("text", " "))
    w = W.partitionBy("source").orderBy("doc_id")
    placed = d.select("doc_id", "source", n_tok.alias("n_tok")).withColumn(
        "offset_tok",
        F.coalesce(
            F.sum("n_tok").over(w.rowsBetween(W.unboundedPreceding, -1)),
            F.lit(0),
        ),
    )
    return placed.groupBy(
        "source",
        F.expr(f"offset_tok div {_PACK_BUDGET}").alias("bin_id"),
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("sum_tokens"),
    )


# PII patterns kept to constructs RE2 (DuckDB) and java.util.regex
# (Spark) interpret identically: character classes, +, alternation —
# no backrefs, no lookaround.
_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]+"
_PHONE_RE = "[+][0-9][0-9-]{6,}"


@register(
    "q_text_pii_redact",
    oracle=f"""
    WITH aug AS (
        SELECT doc_id,
               'Contact user' || CAST(doc_id AS VARCHAR)
                   || '@mail.example or +1-555-'
                   || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                   || ': ' || text AS raw
        FROM documents
    )
    SELECT doc_id,
           CAST(LENGTH(regexp_extract_all(raw, '{_EMAIL_RE}')) AS INT)
               AS n_emails,
           CAST(LENGTH(regexp_extract_all(raw, '{_PHONE_RE}')) AS INT)
               AS n_phones,
           SUBSTR(regexp_replace(regexp_replace(raw, '{_EMAIL_RE}',
                      '[EMAIL]', 'g'), '{_PHONE_RE}', '[PHONE]', 'g'),
                  1, 80) AS redacted_head
    FROM aug
    """,
)
def q_text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over a corpus: match + replace email/phone
    patterns, count hits per document — the compliance scrub stage of
    a training-data pipeline. The fixture text carries no PII, so a
    deterministic contact line (derived from doc_id) is prepended
    before redaction; the operator itself is pure JVM regexp."""
    d = load_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.lit("Contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(": "),
        F.col("text"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(raw, _EMAIL_RE, "[EMAIL]"), _PHONE_RE, "[PHONE]"
    )
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(raw, F.lit(_EMAIL_RE), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all(raw, F.lit(_PHONE_RE), 0)).alias("n_phones"),
        redacted.substr(1, 80).alias("redacted_head"),
    )


@register(
    "q_text_html_strip",
    oracle="""
    WITH aug AS (
        SELECT doc_id,
               '<p class="doc"><b>' || SUBSTR(text, 1, 40)
                   || '</b><br/>' || SUBSTR(text, 41, 10000)
                   || '</p>' AS html
        FROM documents
    )
    SELECT doc_id,
           CAST(LENGTH(regexp_extract_all(html, '<[^>]+>')) AS INT) AS n_tags,
           TRIM(regexp_replace(regexp_replace(html, '<[^>]+>', ' ', 'g'),
                ' +', ' ', 'g')) AS stripped
    FROM aug
    """,
)
def q_text_html_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markup stripping (web-scrape cleaning): drop every <...> tag,
    collapse whitespace, count removed tags. Fixture text is plain, so
    a deterministic HTML wrapper is applied first; the strip itself is
    the real operator (two JVM regexp passes, no Python)."""
    d = load_table(spark, sf_dir, "documents")
    html = F.concat(
        F.lit('<p class="doc"><b>'),
        F.col("text").substr(1, 40),
        F.lit("</b><br/>"),
        F.col("text").substr(F.lit(41), F.lit(10000)),
        F.lit("</p>"),
    )
    stripped = F.trim(
        F.regexp_replace(F.regexp_replace(html, "<[^>]+>", " "), " +", " ")
    )
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(html, F.lit("<[^>]+>"), 0)).alias("n_tags"),
        stripped.alias("stripped"),
    )


@register(
    "q_text_inverted_index",
    oracle="""
    SELECT token,
           COUNT(DISTINCT doc_id) AS df,
           CASE WHEN COUNT(DISTINCT doc_id) <= 32
                THEN array_to_string(list_sort(list(DISTINCT doc_id)), ',')
                ELSE NULL END AS postings
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
          FROM documents)
    GROUP BY token
    """,
)
def q_text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index build: token -> document frequency + sorted
    posting list. One explode + one hash aggregate (collect_set is the
    map-side-combinable set union). Posting lists are materialized
    only for tokens with df <= 32 — at corpus scale the high-df tail
    (stopwords) would dominate storage while carrying no retrieval
    signal, the same df-cutoff rationale as q_dedup_ngram_jaccard;
    their df survives so nothing is silently dropped. Postings are
    projected as a comma-joined string (sorted, so deterministic) for
    the oracle hash."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    )
    return toks.groupBy("token").agg(
        F.countDistinct("doc_id").alias("df"),
        F.when(
            F.countDistinct("doc_id") <= 32,
            F.array_join(F.array_sort(F.collect_set("doc_id")), ","),
        ).alias("postings"),
    )


_BM25_TERMS = ("spark", "vector", "merge")
_BM25_K1 = 1.2
_BM25_B = 0.75


def _bm25_oracle() -> str:
    tf = "LENGTH(list_filter(toks, x -> x = '{t}'))"
    dfs = ",\n               ".join(
        f"COUNT(CASE WHEN list_contains(toks, '{t}') THEN 1 END) AS df_{t}"
        for t in _BM25_TERMS
    )
    terms = " + ".join(
        f"""LN((s.n_docs - s.df_{t} + 0.5) / (s.df_{t} + 0.5) + 1)
             * ({tf.format(t=t)} * ({_BM25_K1} + 1))
             / ({tf.format(t=t)} + {_BM25_K1}
                * (1 - {_BM25_B} + {_BM25_B} * b.dl / s.avgdl))"""
        for t in _BM25_TERMS
    )
    return f"""
    WITH base AS (
        SELECT doc_id, string_split(text, ' ') AS toks,
               LENGTH(string_split(text, ' ')) AS dl
        FROM documents
    ), stats AS (
        SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl,
               {dfs}
        FROM base
    )
    SELECT doc_id, ROUND({terms}, 4) AS bm25
    FROM base b CROSS JOIN stats s
    ORDER BY bm25 DESC, doc_id
    LIMIT 10
    """


@register("q_text_bm25", oracle=_bm25_oracle())
def q_text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (k1=1.2, b=0.75) for a fixed query term
    set over the documents corpus: top-10 docs by Robertson/Sparck
    Jones BM25 with the +1 idf floor.

    Shuffle posture at 100 TB: per-term tf is a scan-local
    higher-order-function expression (no explode, no per-token
    shuffle); corpus stats (N, avgdl, per-term df) are ONE single-row
    global aggregate broadcast back via a 1-row nested-loop join; the
    final top-10 is TakeOrderedAndProject (no global sort). The only
    data-proportional exchange is the partial-agg reduction of the
    stats row."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    base = d.select(
        "doc_id", toks.alias("toks"), F.size(toks).alias("dl")
    )
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.count(F.when(F.array_contains("toks", t), 1)).alias(f"df_{t}")
            for t in _BM25_TERMS
        ],
    )

    def term_score(t: str):
        tf = F.size(F.filter(F.col("toks"), lambda x: x == F.lit(t)))
        tf = tf.cast("double")
        idf = F.log(
            (F.col("n_docs") - F.col(f"df_{t}") + 0.5)
            / (F.col(f"df_{t}") + 0.5)
            + 1
        )
        norm = tf + _BM25_K1 * (
            1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl")
        )
        return idf * (tf * (_BM25_K1 + 1)) / norm

    score = term_score(_BM25_TERMS[0])
    for t in _BM25_TERMS[1:]:
        score = score + term_score(t)
    return (
        base.crossJoin(F.broadcast(stats))
        .select("doc_id", F.round(score, 4).alias("bm25"))
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# BPE merge learning (Sennrich/Haddow/Birch, "Neural Machine
# Translation of Rare Words with Subword Units", ACL 2016; the
# word-frequency-table formulation is the standard tractable form) —
# the engine's fifth workload in the reference's
# iterative loop shape (kernel.cu:135-217: distributed pass per round
# + tiny driver-side model state): each round counts adjacent symbol
# pairs over the word-frequency table in ONE weighted hash aggregate,
# collects the single argmax pair (the "model update"), and folds the
# merge back into the next round's plan as literals — exactly how a
# SentencePiece/BPE vocabulary is actually trained over a corpus.
# ---------------------------------------------------------------------------

_BPE_ROUNDS = 6


def _merge_pair(symbols: Column, left: str, right: str) -> Column:
    """Greedy left-to-right merge of adjacent (left, right) into
    left+right inside a symbol array — pure JVM aggregate fold."""
    merged = F.lit(left + right)
    return F.aggregate(
        symbols,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (s == F.lit(right)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(merged)),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def bpe_learn(words: DataFrame, n_rounds: int = _BPE_ROUNDS) -> list[tuple]:
    """Learn n_rounds BPE merges from a (word, freq) table. Returns
    [(rank, left, right, merged, pair_freq)]. Per round: one weighted
    pair-count shuffle + a 1-row collect; the word table (vocabulary,
    not corpus) is cached once and re-derived symbol arrays fold the
    merge history in as literals — no lineage growth past n_rounds
    bounded expression nesting."""
    # Round r's symbol arrays are MATERIALIZED (localCheckpoint) by
    # applying only the newest merge to round r-1's arrays, instead of
    # re-folding the whole merge history into one expression per round
    # (optimization r14, guide §1.2 step 2: round 6 was evaluating —
    # and Catalyst was re-analyzing — 5 nested aggregate folds per row;
    # 6.2 s -> 1.5 s at sf0.1 with identical merges). The vocab table
    # is tiny (|vocab| rows), so per-round materialization is the
    # scale-correct plan too, and the checkpoint cuts the lineage the
    # old cache+fold form grew per round. Each superseded round's
    # checkpoint is released as soon as the next exists.
    with owned():
        syms = checkpoint(words.select("freq", F.split("word", "").alias("symbols")))
        merges: list[tuple] = []
        for r in range(1, n_rounds + 1):
            pairs = (
                syms.select(
                    "freq",
                    F.explode(
                        F.zip_with(
                            F.col("symbols"),
                            F.slice(
                                F.col("symbols"),
                                2,
                                F.greatest(F.size("symbols") - 1, F.lit(0)),
                            ),
                            lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                        )
                    ).alias("p"),
                )
                .filter(F.col("p.r").isNotNull())  # zip_with pads the tail
                .groupBy("p.l", "p.r")
                .agg(F.sum("freq").alias("pf"))
                .orderBy(F.col("pf").desc(), F.col("l").asc(), F.col("r").asc())
                .limit(1)
                .collect()
            )
            if not pairs:
                break
            row = pairs[0]
            merges.append(
                (r, row["l"], row["r"], row["l"] + row["r"], int(row["pf"]))
            )
            if r < n_rounds:
                merged = _merge_pair(F.col("symbols"), row["l"], row["r"])
                new = checkpoint(syms.select("freq", merged.alias("symbols")))
                release(syms)
                syms = new
    return merges


@register(
    "q_text_bpe_learn",
    oracle="""
    WITH words AS (
        SELECT word, COUNT(*) AS freq
        FROM (SELECT unnest(string_split(text, ' ')) AS word
              FROM documents)
        WHERE LENGTH(word) > 0 GROUP BY word
    ), pairs AS (
        SELECT substr(word, CAST(i AS INT), 1) AS l,
               substr(word, CAST(i + 1 AS INT), 1) AS r,
               SUM(freq) AS pf
        FROM words, UNNEST(range(1, LENGTH(word))) AS t(i)
        GROUP BY 1, 2
    )
    SELECT 6 AS n_merges,
           l AS first_left,
           r AS first_right,
           CAST(pf AS BIGINT) AS first_pair_freq,
           TRUE AS merges_distinct,
           TRUE AS merged_is_concat
    FROM pairs ORDER BY pf DESC, l ASC, r ASC LIMIT 1
    """,
)
def q_text_bpe_learn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn the first 6 BPE merges over the corpus word-frequency
    table: per round, ONE weighted adjacent-pair aggregate over the
    (distinct-word, freq) vocabulary — NOT the raw corpus, which is
    the trick that makes real BPE training tractable at 100 TB (the
    corpus collapses to its vocabulary once; rounds then scan
    |vocab| rows) — plus a 1-row argmax collect. Deterministic
    tie-break (freq desc, pair asc).

    Certification upgraded from rows-only to the flag-bearing hash
    oracle (r13): DuckDB independently replays ROUND 1 of the trainer
    — the freq-weighted adjacent-character pair argmax with the same
    tie-break — and the hash pins the chosen pair AND its exact
    weighted frequency (rounds 2-6 run the identical code path with
    the merge folded in; they stay brute-force-equality pytest-pinned
    against a pure-Python reference, tests/test_properties.py). The
    flags pin structural invariants of the full table: all merged
    symbols distinct, every merged symbol the concatenation of its
    pair. A mis-weighted count, broken tie-break, or corrupted merge
    fold fails the hash on the exact round-1 row."""
    d = load_table(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    merges = bpe_learn(words)
    first = merges[0]
    merged_syms = [m[3] for m in merges]
    return spark.createDataFrame(
        [
            (
                len(merges),
                first[1],
                first[2],
                int(first[4]),
                bool(len(set(merged_syms)) == len(merged_syms)),
                bool(all(m[3] == m[1] + m[2] for m in merges)),
            )
        ],
        "n_merges int, first_left string, first_right string, "
        "first_pair_freq bigint, merges_distinct boolean, "
        "merged_is_concat boolean",
    )


def bpe_encode_vocab(words: DataFrame, merges: list[tuple]) -> DataFrame:
    """ENCODE with a learned merge table (the apply side of
    bpe_learn, VERDICT r9 item 6): fold every merge, in RANK ORDER,
    as the same greedy left-to-right _merge_pair expression training
    used — so encoding a word the trainer saw reproduces the
    trainer's own segmentation exactly. Input is the (word, ...)
    VOCABULARY, not the corpus: the 100 TB trick both directions —
    encode |vocab| rows once, then join token counts back to the
    corpus by word. Pure JVM expression fold, no UDF; returns
    (word, tokens array<string>, n_tokens)."""
    enc = F.split("word", "")
    for _, left, right, _, _ in merges:
        enc = _merge_pair(enc, left, right)
    return words.select(
        "word",
        enc.alias("tokens"),
        F.size(enc).alias("n_tokens"),
    )


@register(
    "q_text_bpe_apply",
    oracle="""
    SELECT doc_id,
           COUNT(*) AS n_words,
           CAST(SUM(LENGTH(word)) AS BIGINT) AS n_chars,
           TRUE AS roundtrip_ok,
           TRUE AS tokens_le_chars,
           TRUE AS tokens_ge_words
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
          FROM documents)
    WHERE LENGTH(word) > 0
    GROUP BY doc_id ORDER BY doc_id
    """,
)
def q_text_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn→APPLY round trip: the 6 merges from q_text_bpe_learn's
    trainer encode the whole corpus — per document, whitespace words
    look up their BPE segmentation in the broadcast-encoded VOCABULARY
    (encode once per distinct word, join back; the corpus itself is
    never re-folded). Closes the gap VERDICT r9 item 6 named:
    q_text_token_bpe is a regex proxy; this is the real
    learned-subword tokenizer path a training-data pipeline runs.

    Certification upgraded from rows-only to the flag-bearing hash
    oracle (r13): DuckDB recomputes the exact per-doc word and
    character counts, and the query pins three ENCODER THEOREMS per
    document — concatenating each word's BPE tokens reproduces the
    word exactly (BPE merges only ever concatenate adjacent symbols,
    so a correct encoder is lossless by construction), every token
    carries ≥1 character (n_tokens ≤ n_chars), and every word yields
    ≥1 token (n_tokens ≥ n_words). A merge applied out of rank
    order, a dropped symbol, or a corrupted segmentation breaks the
    roundtrip and fails the hash. The exact token counts stay
    pytest-pinned byte-exact vs a pure-Python reference encoder
    (tests/test_text.py)."""
    d = load_table(spark, sf_dir, "documents")
    doc_words = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    ).filter(F.length("word") > 0)
    vocab = doc_words.groupBy("word").agg(F.count(F.lit(1)).alias("freq"))
    merges = bpe_learn(vocab)
    enc = bpe_encode_vocab(vocab, merges).select(
        "word",
        "n_tokens",
        (F.array_join("tokens", "") == F.col("word")).alias("rt_ok"),
    )
    return (
        doc_words.join(F.broadcast(enc), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(F.length("word")).cast("long").alias("n_chars"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.bool_and("rt_ok").alias("roundtrip_ok"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_chars",
            "roundtrip_ok",
            (F.col("n_tokens") <= F.col("n_chars")).alias(
                "tokens_le_chars"
            ),
            (F.col("n_tokens") >= F.col("n_words")).alias(
                "tokens_ge_words"
            ),
        )
        .orderBy("doc_id")
    )


@register(
    "q_text_entropy",
    oracle="""
    WITH chars AS (
        SELECT d.doc_id, SUBSTR(d.text, CAST(t.i AS INT), 1) AS c
        FROM documents d,
             UNNEST(generate_series(1, length(d.text))) AS t(i)
        WHERE octet_length(encode(d.text)) = length(d.text)
          AND length(d.text) >= 1
    ), counts AS (
        SELECT doc_id, c, COUNT(*) AS cnt FROM chars GROUP BY doc_id, c
    ), withn AS (
        SELECT doc_id, c, cnt,
               CAST(SUM(cnt) OVER (PARTITION BY doc_id) AS BIGINT) AS n
        FROM counts
    )
    SELECT doc_id,
           MAX(n) AS n_chars_counted,
           COUNT(*) AS n_distinct_chars,
           CAST(FLOOR(-SUM((cnt * 1.0 / n) * log2(cnt * 1.0 / n))
                      * 10000 + 0.5) AS BIGINT) AS entropy_e4
    FROM withn GROUP BY doc_id
    """,
)
def q_text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per document — the
    compressibility-style quality signal (machine-generated or
    template text scores low, natural prose ~4.1-4.5 bits/char;
    gibberish/base64 scores high) that complements the token-ratio
    heuristics in q_text_quality. Plan: explode to (doc, char), ONE
    map-side-combined count on (doc_id, char) — the shuffle carries at
    most |alphabet| rows per doc regardless of doc length — then a
    doc-partitioned window for the total and a doc-keyed rollup.
    Entropy sums ~96 p*log2(p) terms of exactly-equal doubles (p is a
    small-integer ratio), so the floor-scaled e4 integer is stable
    across engines (q_ts_interpolate determinism note); the ASCII
    guard mirrors the byte-level operators so multibyte fixtures drop
    out of both sides identically."""
    d = load_table(spark, sf_dir, "documents").filter(
        (F.length(F.encode("text", "UTF-8")) == F.length("text"))
        & (F.length("text") >= 1)
    )
    chars = d.select("doc_id", F.explode(F.split("text", "")).alias("c"))
    counts = chars.groupBy("doc_id", "c").agg(F.count(F.lit(1)).alias("cnt"))
    withn = counts.withColumn(
        "n", F.sum("cnt").over(W.partitionBy("doc_id"))
    )
    p = F.col("cnt") / F.col("n")
    return withn.groupBy("doc_id").agg(
        F.max("n").alias("n_chars_counted"),
        F.count(F.lit(1)).alias("n_distinct_chars"),
        F.floor(-F.sum(p * F.log2(p)) * 10000 + F.lit(0.5))
        .cast("long")
        .alias("entropy_e4"),
    )
