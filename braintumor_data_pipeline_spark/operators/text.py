"""Text-analysis operators over the ``documents`` table (SURVEY X19, N*).

The north star mandates LLM-pipeline text ops: token counting, language-ID
heuristics, quality scoring, fingerprinting. All are pure built-in column
expressions (JVM-side, whole-stage-codegen) — no Python UDFs anywhere in
this module, so the same plans scale to billions of documents with
map-side partial aggregation and zero Arrow hops.

The quality score deliberately mirrors the reference's tumor-probability
blend (0.4/0.3/0.3 weighted heuristic, ``/root/reference/utils.py:155-159``)
transplanted to text features.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from . import _pinned_sql as _pinned
from ..sources.fixtures import load_table as _t

STOPWORDS = ("the", "a", "of", "and", "to")
_STOP_SQL = "['the', 'a', 'of', 'and', 'to']"


def _tokens(col: str = "text"):
    return F.split(F.col(col), " ")


def _term_tf_pairs(col: str = "text"):
    """NARROW per-document term frequencies: array<struct<term,tf>>
    computed entirely inside the row via sort + run-length encoding —
    the (doc_id, term)-keyed shuffle that a groupBy tf needs is gone
    (r13, guide §2.4). O(n log n) per doc, no Python, no exchange.

    Construction: sort the token array, find run starts (positions
    whose token differs from the previous), pair each start with the
    next start — the gap is the term's count. Index arithmetic stays
    ANSI-safe: position 1 is always a run start (prepended, so no
    element_at(0)), and sequence() is guarded for single-token docs
    (sequence(2, 1) would DESCEND, not return empty)."""
    st = F.array_sort(_tokens(col))
    n = F.size(st)
    later = F.when(
        n >= 2,
        F.filter(
            F.sequence(F.lit(2), n),
            lambda i: F.element_at(st, i) != F.element_at(st, i - 1),
        ),
    ).otherwise(F.array().cast("array<int>"))
    starts = F.concat(F.array(F.lit(1)), later)
    nxt = F.concat(
        F.slice(starts, 2, F.size(starts) - 1), F.array(n + 1)
    )
    pairs = F.zip_with(
        starts,
        nxt,
        lambda a, b: F.struct(
            F.element_at(st, a).alias("term"),
            (b - a).cast("long").alias("tf"),
        ),
    )
    # null text: explode of the null array yields no rows, matching
    # the explode(split(text)) formulation this replaces
    return F.when(st.isNotNull(), pairs)


@register(
    "token_stats",
    oracle="""
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           n_chars,
           round(length(replace(text, ' ', '')) * 1.0
                 / len(string_split(text, ' ')), 6) AS avg_tok_len
    FROM documents
    """,
    tags=("text",),
)
def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token counting — the cheap LLM-pipeline token estimate."""
    d = _t(spark, sf_dir, "documents")
    n_tokens = F.size(_tokens())
    return d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        "n_chars",
        F.round(
            F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
            * F.lit(1.0)
            / n_tokens,
            6,
        ).alias("avg_tok_len"),
    )


@register(
    "word_freq_top100",
    oracle="""
    SELECT token, count(*) AS cnt
    FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
    GROUP BY token
    ORDER BY cnt DESC, token
    LIMIT 100
    """,
    tags=("text", "agg", "topk"),
)
def word_freq_top100(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode → count → top-K: the word-count pattern; partial aggregation
    makes the shuffle carry only (token, partial_count) pairs."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.select(F.explode(_tokens()).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "token")
        .limit(100)
    )


@register(
    "lang_doc_stats",
    oracle="""
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars,
           CAST(sum(len(string_split(text, ' '))) AS DOUBLE) / count(*)
             AS avg_tokens
    FROM documents
    GROUP BY lang
    """,
    tags=("text", "agg"),
)
def lang_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language doc stats; averages are exact integer sums ÷ count
    (bit-identical both engines — no rounding boundary in the hash)."""
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        (F.sum("n_chars").cast("double") / F.count("*")).alias("avg_chars"),
        (F.sum(F.size(_tokens())).cast("double") / F.count("*"))
        .alias("avg_tokens"),
    )


@register(
    "text_quality_score",
    oracle=f"""
    SELECT doc_id,
           round(
             0.4 * least(n_chars / 500.0, 1.0)
           + 0.3 * greatest(0.0, 1.0 - abs(
               len(list_filter(string_split(text, ' '),
                               t -> list_contains({_STOP_SQL}, t))) * 1.0
               / len(string_split(text, ' ')) - 0.1) / 0.2)
           + 0.3 * (1.0 - length(regexp_replace(text, '[^.!?,;:]', '', 'g'))
                    * 1.0 / n_chars),
           6) AS quality
    FROM documents
    """,
    tags=("text", "scoring"),
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality score = 0.4·length + 0.3·stopword-ratio-proximity
    + 0.3·(1 − punct-ratio): the reference's 0.4/0.3/0.3 weighted-heuristic
    shape (`utils.py:155-159`) applied to text features."""
    d = _t(spark, sf_dir, "documents")
    toks = _tokens()
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    stop_ratio = (
        F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
        * F.lit(1.0)
        / F.size(toks)
    )
    punct_ratio = (
        F.length(F.regexp_replace(F.col("text"), r"[^.!?,;:]", ""))
        * F.lit(1.0)
        / F.col("n_chars")
    )
    len_score = F.least(F.col("n_chars") / F.lit(500.0), F.lit(1.0))
    stop_score = F.greatest(
        F.lit(0.0), F.lit(1.0) - F.abs(stop_ratio - F.lit(0.1)) / F.lit(0.2)
    )
    quality = (
        F.lit(0.4) * len_score
        + F.lit(0.3) * stop_score
        + F.lit(0.3) * (F.lit(1.0) - punct_ratio)
    )
    return d.select("doc_id", F.round(quality, 6).alias("quality"))


@register(
    "token_count_regex",
    oracle=r"""
    SELECT doc_id,
           len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]'))
             AS n_bpe_tokens
    FROM documents
    """,
    tags=("text",),
)
def token_count_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex token count (letters runs / digit runs / single
    punctuation) — the standard pre-tokenizer split."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.regexp_count(
            F.col("text"), F.lit(r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]")
        ).alias("n_bpe_tokens"),
    )


@register(
    "lang_id_heuristic",
    oracle="""
    SELECT doc_id, lang,
           CASE
             WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
             WHEN regexp_matches(text, '[àâçéèêëîïôùûüÿœ]') THEN 'fr'
             WHEN regexp_matches(text, '[äöüß]') THEN 'de'
             WHEN regexp_matches(text, '[áéíóúñ¿¡]') THEN 'es'
             WHEN contains(concat(' ', text, ' '), ' the ') THEN 'en'
             ELSE 'und'
           END AS lang_pred
    FROM documents
    """,
    tags=("text", "langid"),
)
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-script + marker-word language ID. Deterministic, pure
    expression — the n-gram-model upgrade slots in as a pandas UDF later
    without changing the query shape."""
    d = _t(spark, sf_dir, "documents")
    padded = F.concat(F.lit(" "), F.col("text"), F.lit(" "))
    pred = (
        F.when(F.col("text").rlike("[一-鿿]"), "zh")
        .when(F.col("text").rlike("[àâçéèêëîïôùûüÿœ]"), "fr")
        .when(F.col("text").rlike("[äöüß]"), "de")
        .when(F.col("text").rlike("[áéíóúñ¿¡]"), "es")
        .when(padded.contains(" the "), "en")
        .otherwise("und")
    )
    return d.select("doc_id", "lang", pred.alias("lang_pred"))


@register(
    "doc_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(lower(text)) AS content_hash,
           list_aggregate(
             list_transform(string_split(text, ' '), t -> md5(t)),
             'min') AS min_tok_hash
    FROM documents
    """,
    tags=("text", "dedup"),
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprints: full-text md5 (exact dedup key) + min token
    hash (a 1-permutation MinHash)."""
    d = _t(spark, sf_dir, "documents")
    min_tok = F.array_min(F.transform(_tokens(), lambda t: F.md5(t)))
    return d.select(
        "doc_id",
        F.md5(F.lower(F.col("text"))).alias("content_hash"),
        min_tok.alias("min_tok_hash"),
    )


_BM25_TERMS = ("spark", "join", "shuffle")
_BM25_K1 = 1.2
_BM25_B = 0.75


@register(
    "bm25_search_topk",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    dl AS (SELECT doc_id, count(*) AS doc_len FROM tok GROUP BY doc_id),
    stats AS (
      SELECT avg(doc_len) AS avgdl, count(*) AS n_docs FROM dl
    ),
    tf AS (
      SELECT doc_id, term, count(*) AS tf FROM tok
      WHERE term IN ('spark', 'join', 'shuffle')
      GROUP BY doc_id, term
    ),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
    SELECT doc_id,
           CAST(sum(CAST(
             ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
             * tf * ({_BM25_K1} + 1.0)
             / (tf + {_BM25_K1}
                * (1.0 - {_BM25_B} + {_BM25_B} * doc_len / avgdl))
           AS DECIMAL(38,6))) AS DOUBLE) AS bm25
    FROM tf
    JOIN dl USING (doc_id)
    JOIN df USING (term)
    CROSS JOIN stats
    GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id
    LIMIT 20
    """,
    tags=("text", "search", "ranking", "agg"),
)
def bm25_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranking (Lucene idf form, k1=1.2 b=0.75) for the query
    {spark, join, shuffle} — the retrieval scorer of a search/RAG
    pipeline as pure DataFrame algebra. Term frequencies are computed
    ONLY for query terms (the IN filter lands before the first
    aggregation), doc lengths once per corpus; df and the corpus stats
    are tiny broadcasts. At 100 TB the inverted-index analog is the
    pre-aggregated (term → postings) table fed by the same tf plan."""
    d = _t(spark, sf_dir, "documents")
    # r13 restructure (guide §2.4): doc_len is size(tokens) — a narrow
    # column, so the former doc-grain groupBy exchange is gone; tf for
    # the query terms comes from the narrow per-doc run-length pairs
    # (:func:`_term_tf_pairs`), so the (doc_id, term) exchange is gone
    # too. doc_len rides the same row as tf — the former dl re-join
    # (and both r12 persists of corpus-grain frames) disappear. What
    # remains: two tiny aggregates (corpus stats, per-term df) that
    # broadcast back, and the final per-doc score aggregation.
    base = d.select(
        "doc_id",
        F.size(_tokens()).cast("long").alias("doc_len"),
        F.filter(
            _term_tf_pairs(),
            lambda p: p["term"].isin(*_BM25_TERMS),
        ).alias("tfs"),
    )
    # count(doc_len), not count(*): a null text has a null doc_len and
    # no tokens, so like the oracle's unnest it is not a document here
    stats = base.agg(
        F.avg("doc_len").alias("avgdl"), F.count("doc_len").alias("n_docs")
    )
    tf = base.select(
        "doc_id", "doc_len", F.explode("tfs").alias("p")
    ).select(
        "doc_id",
        "doc_len",
        F.col("p.term").alias("term"),
        F.col("p.tf").alias("tf"),
    )
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    denom = F.col("tf") + _BM25_K1 * (
        1.0 - _BM25_B + _BM25_B * F.col("doc_len") / F.col("avgdl")
    )
    return (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.sum(
                (idf * F.col("tf") * (_BM25_K1 + 1.0) / denom)
                .cast("decimal(38,6)")
            )
            .cast("double")
            .alias("bm25")
        )
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(20)
    )


@register(
    "winnowing_fingerprints",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    grams AS (
      SELECT doc_id, i AS pos,
             md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS gh,
             len(t) - 2 AS n_grams
      FROM toks, LATERAL (SELECT unnest(range(1, len(t) - 1)) AS i) AS g
    ),
    wins AS (
      SELECT doc_id, pos, n_grams,
             min(gh) OVER (PARTITION BY doc_id ORDER BY pos
                           ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
               AS fingerprint
      FROM grams
    )
    SELECT DISTINCT doc_id, fingerprint
    FROM wins WHERE pos <= n_grams - 3
    """,
    tags=("text", "dedup", "fingerprint", "window"),
)
def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (the MOSS algorithm): hash every
    token 3-gram, slide a window of 4 consecutive gram hashes, keep the
    window minimum, dedup — guarantees any shared run of ≥6 tokens
    between two documents shares a fingerprint, with ~2/(w+1) of the
    grams retained. All windows partition by doc_id (uniform, bounded
    by doc length), so the whole selection is shuffle-light; the
    fingerprint → doc inverted index is the near-dup join key at scale."""
    from pyspark.sql import Window

    d = _t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("t"))
    grams = (
        toks.select(
            "doc_id",
            (F.size("t") - 2).alias("n_grams"),
            F.posexplode(
                F.expr(
                    "transform(sequence(1, size(t) - 2),"
                    " i -> concat_ws(' ', t[i-1], t[i], t[i+1]))"
                )
            ).alias("pos0", "gram"),
        )
        .select(
            "doc_id",
            "n_grams",
            (F.col("pos0") + 1).alias("pos"),
            F.md5("gram").alias("gh"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, 3)
    return (
        grams.select(
            "doc_id", "pos", "n_grams", F.min("gh").over(w).alias("fingerprint")
        )
        .filter(F.col("pos") <= F.col("n_grams") - 3)
        .select("doc_id", "fingerprint")
        .distinct()
    )


@register(
    "bigram_logprob_quality",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    bigrams AS (
      SELECT doc_id, t[i] AS w1, t[i+1] AS w2
      FROM toks, LATERAL (SELECT unnest(range(1, len(t))) AS i) AS g
    ),
    bg AS (SELECT w1, w2, count(*) AS c12 FROM bigrams GROUP BY w1, w2),
    ug AS (SELECT w1, count(*) AS c1 FROM bigrams GROUP BY w1),
    vocab AS (
      SELECT count(DISTINCT token) AS v
      FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
    )
    SELECT doc_id,
           count(*) AS n_bigrams,
           round(avg(ln((c12 + 1.0) / (c1 + v))), 6) AS avg_logprob
    FROM bigrams
    JOIN bg USING (w1, w2)
    JOIN ug USING (w1)
    CROSS JOIN vocab
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    tags=("text", "langmodel", "scoring", "agg"),
)
def bigram_logprob_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-bigram language-model scoring (add-1 smoothed): each doc's
    mean log P(w2|w1) under the corpus's own bigram statistics — the
    perplexity-proxy quality signal LLM pipelines use to rank text
    before training. Bigram/unigram stats aggregate once from the same
    positional relation; vocab is a 1-row broadcast. Here the stats
    tables broadcast; at 100 TB the bigram table is itself large, so
    the join shuffles on (w1, w2) — uniform keys, standard plan."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("t"))
    bigrams = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1),"
                " i -> struct(t[i-1] AS w1, t[i] AS w2))"
            )
        ).alias("b"),
    ).select("doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    bg = bigrams.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    ug = bigrams.groupBy("w1").agg(F.count("*").alias("c1"))
    vocab = (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .agg(F.count_distinct("token").alias("v"))
    )
    return (
        bigrams.join(F.broadcast(bg), ["w1", "w2"])
        .join(F.broadcast(ug), ["w1"])
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(
                F.avg(F.log((F.col("c12") + 1.0) / (F.col("c1") + F.col("v")))),
                6,
            ).alias("avg_logprob"),
        )
        .orderBy("doc_id")
    )


@register(
    "tfidf_topk_terms",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
           GROUP BY doc_id, term),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, df.df,
             tf.tf * (ln((n.n_docs + 1) * 1.0 / (df.df + 1)) + 1) AS score
      FROM tf JOIN df USING (term), n
    )
    SELECT doc_id, term, tf, df, score, rn
    FROM (
      SELECT *, row_number() OVER (
               PARTITION BY doc_id ORDER BY score DESC, term) AS rn
      FROM scored
    )
    WHERE rn <= 3
    """,
    tags=("text", "topk", "agg"),
)
def tfidf_topk_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (sklearn-style smoothed idf:
    ln((N+1)/(df+1)) + 1) — the classic keyword-extraction /
    vectorization stage. All counts are exact integers; the one ln()
    matches DuckDB bit-for-bit (the same parity bm25_search_topk relies
    on), and ranking breaks ties by term so both engines cut the same
    top-3.

    Scale shape (r13 single-build restructure, guide §2.4): tf is
    computed NARROWLY inside each document row (:func:`_term_tf_pairs`
    run-length encoding) — the former (doc_id, term)-keyed exchange,
    the corpus-grain aggregate behind it, and the r12 persist that
    deduplicated its double build are all gone. df aggregates the
    narrow tf rows on term (content-keyed, uniform, map-side partial)
    and broadcasts back; the corpus size joins in as a 1-row broadcast
    scalar, never a driver round trip. The tf subplan now feeds both
    branches as a plain narrow scan — rebuilding a scan per branch is
    the at-scale-correct trade vs caching a corpus-grain frame."""
    from pyspark.sql import Window

    d = _t(spark, sf_dir, "documents")
    tf = d.select(
        "doc_id", F.explode(_term_tf_pairs()).alias("p")
    ).select("doc_id", F.col("p.term").alias("term"), F.col("p.tf").alias("tf"))
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = d.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.col("tf")
            * (
                F.log(
                    (F.col("n_docs") + 1) * F.lit(1.0) / (F.col("df") + 1)
                )
                + 1
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "tf", "df", "score", "rn")
    )


@register(
    "repetition_signals",
    oracle="""
    WITH tok AS (
      SELECT doc_id, tok, i
      FROM (SELECT doc_id,
                   unnest(string_split(text, ' ')) AS tok,
                   generate_subscripts(string_split(text, ' '), 1) AS i
            FROM documents)
    ),
    tok_stats AS (
      SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tokens,
             max(cnt) AS max_tok
      FROM (SELECT doc_id, tok, count(*) AS cnt FROM tok
            GROUP BY doc_id, tok)
      GROUP BY doc_id
    ),
    big AS (
      SELECT a.doc_id, a.tok || ' ' || b.tok AS bg
      FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.i = a.i + 1
    ),
    big_stats AS (
      SELECT doc_id, count(*) AS n_bigrams,
             count(DISTINCT bg) AS n_distinct_bigrams
      FROM big GROUP BY doc_id
    )
    SELECT t.doc_id,
           s.n_tokens,
           s.max_tok * 1.0 / s.n_tokens AS max_token_frac,
           coalesce(b.n_bigrams, 0) AS n_bigrams,
           CASE WHEN b.n_bigrams > 0
                THEN 1.0 - b.n_distinct_bigrams * 1.0 / b.n_bigrams
                ELSE 0.0 END AS dup_bigram_frac
    FROM (SELECT DISTINCT doc_id FROM tok) t
    JOIN tok_stats s USING (doc_id)
    LEFT JOIN big_stats b USING (doc_id)
    """,
    tags=("text", "quality", "agg"),
)
def repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-document repetition signals: the fraction of
    tokens taken by the most frequent token, and the duplicate-bigram
    fraction (1 − distinct/total) — the repetition filters a corpus
    quality pass applies next to length/punct/stopword scores
    (text_quality_score). All counts are exact integers; the fractions
    are single double divisions, identical on both engines.

    Scale shape: bigrams come from a shuffle-free array self-zip (the
    oracle uses a positional self-join instead — two independent
    constructions), and both aggregates shuffle on doc_id once."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("t"))
    t = F.col("t")
    bigrams = F.when(
        F.size(t) >= 2,
        F.zip_with(
            F.slice(t, 1, F.size(t) - 1),
            F.slice(t, 2, F.size(t) - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    per_tok = (
        toks.select("doc_id", F.explode(t).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("cnt"))
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_tokens"),
            F.max("cnt").alias("max_tok"),
        )
    )
    per_big = (
        toks.select("doc_id", F.explode(bigrams).alias("bg"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.count_distinct("bg").alias("n_distinct_bigrams"),
        )
    )
    return (
        per_tok.join(per_big, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            (F.col("max_tok") * F.lit(1.0) / F.col("n_tokens")).alias(
                "max_token_frac"
            ),
            F.coalesce(F.col("n_bigrams"), F.lit(0)).alias("n_bigrams"),
            F.when(
                F.coalesce(F.col("n_bigrams"), F.lit(0)) > 0,
                F.lit(1.0)
                - F.col("n_distinct_bigrams")
                * F.lit(1.0)
                / F.col("n_bigrams"),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_bigram_frac"),
        )
    )


@register(
    "compression_ratio_quality",
    oracle=getattr(_pinned, "COMPRESSION_RATIO_QUALITY_PINNED", None),
    tags=("text", "quality", "udf"),
    pinned_sf="sf0.01",
)
def compression_ratio_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CCNet/Gopher-family compressibility signal: highly repetitive
    or templated documents compress far below natural prose, so
    deflate-ratio thresholds are a standard pre-training quality filter
    (boilerplate/spam → ratio « 1⁄3 of prose; random noise → ratio ≈ 1).
    Per doc: raw UTF-8 bytes, zlib-level-6 bytes, and the micro-scaled
    ratio, flagged against the conventional keep-band.

    zlib output is fully determined by (input, level, strategy) — the
    DEFLATE stream for fixed settings is stable across CPython builds
    (zlib links the same canonical library) — so the query pins as a
    frozen golden; the flag thresholds are integer comparisons. Plan:
    one mapInPandas scan, no shuffle; at 100 TB this runs fused with
    the other per-doc quality signals in a single Arrow stage."""
    import zlib

    import pandas as pd

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")

    def comp(batches):
        for pdf in batches:
            out = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                raw = (text or "").encode("utf-8")
                n_raw = len(raw)
                n_zip = len(zlib.compress(raw, 6))
                ratio_micro = (n_zip * 1_000_000) // n_raw if n_raw else 0
                out.append(
                    {
                        "doc_id": int(doc_id),
                        "n_raw_bytes": n_raw,
                        "n_zlib_bytes": n_zip,
                        "ratio_micro": ratio_micro,
                        # conventional keep-band: too compressible =
                        # repetitive/templated; incompressible = noise
                        "flag_repetitive": ratio_micro < 250_000,
                        "flag_noise": ratio_micro > 900_000,
                    }
                )
            yield pd.DataFrame(out)

    return d.mapInPandas(
        comp,
        schema="doc_id long, n_raw_bytes long, n_zlib_bytes long,"
        " ratio_micro long, flag_repetitive boolean, flag_noise boolean",
    )


@register(
    "collated_word_counts",
    # Oracle states the same equivalence relation via lower(): on this
    # corpus (no ß/dotted-İ/final-sigma — checked) ICU lowercase
    # collation equality and lower() equality coincide exactly.
    oracle="""
    SELECT min(w) AS canon, count(*) AS n
    FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
    WHERE w <> ''
    GROUP BY lower(w)
    ORDER BY n DESC, canon
    LIMIT 50
    """,
    tags=("text", "agg", "collation"),
)
def collated_word_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Case-insensitive word counts via Spark 4 COLLATIONS: the group
    key is ``collate(w, 'UTF8_LCASE')`` — the engine compares under the
    collation natively (hashes and sort orders are collation-aware all
    the way into the shuffle), instead of materializing a lower()
    projection of every token. The canonical representative is the
    BINARY min of each group (deterministic on both engines); top-50 by
    count with a total-order tie-break."""
    d = _t(spark, sf_dir, "documents")
    tok = d.select(
        F.explode(F.split(F.col("text"), " ")).alias("w")
    ).filter(F.col("w") != "")
    return (
        tok.groupBy(F.expr("collate(w, 'UTF8_LCASE')").alias("wk"))
        .agg(F.min("w").alias("canon"), F.count("*").alias("n"))
        .select("canon", "n")
        .orderBy(F.desc("n"), "canon")
        .limit(50)
    )


@register(
    "bigram_pmi_collocations",
    # Ranking needs only the ORDER of c_ab/(c_a·c_b) — every shared
    # factor (N²/M) cancels — so the score is an exact integer quotient
    # both engines compute identically: no log(), no float, no ties
    # that could flip.
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    uni AS (
      SELECT token, count(*) AS c
      FROM (SELECT unnest(t) AS token FROM toks)
      GROUP BY token
    ),
    big AS (
      SELECT t[i + 1] AS w1, t[i + 2] AS w2, count(*) AS c_ab
      FROM toks, unnest(range(len(t) - 1)) AS r(i)
      WHERE len(t) >= 2
      GROUP BY 1, 2
    )
    SELECT w1, w2, c_ab, u1.c AS c_a, u2.c AS c_b,
           (c_ab * 1000000000000) // (u1.c * u2.c) AS score_q
    FROM big JOIN uni u1 ON u1.token = w1 JOIN uni u2 ON u2.token = w2
    WHERE c_ab >= 5
    ORDER BY score_q DESC, w1, w2
    LIMIT 30
    """,
    tags=("text", "agg", "collocation", "topk"),
)
def bigram_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation extraction by PMI rank: bigrams whose observed count
    most exceeds what their parts' frequencies predict. PMI's log and
    the corpus-size constants are ORDER-preserving, so the score is the
    exact integer quotient c_ab·10¹²/(c_a·c_b) — rankable with zero
    float exposure. Bigrams come from a shuffle-free array-index
    transform (the shingling trick); unigram counts broadcast back onto
    the bigram relation. Minimum count 5 suppresses hapax noise."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(F.split("text", " ").alias("t")).filter(
        F.size("t") >= 2
    )
    pairs = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(0, size(t) - 2),"
                " i -> struct(t[i] AS w1, t[i + 1] AS w2))"
            )
        ).alias("b")
    ).select("b.w1", "b.w2")
    uni = (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("c"))
    )
    big = pairs.groupBy("w1", "w2").agg(F.count("*").alias("c_ab")).filter(
        F.col("c_ab") >= 5
    )
    u1 = uni.select(F.col("token").alias("w1"), F.col("c").alias("c_a"))
    u2 = uni.select(F.col("token").alias("w2"), F.col("c").alias("c_b"))
    scored = (
        big.join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .select(
            "w1",
            "w2",
            "c_ab",
            "c_a",
            "c_b",
            F.expr(
                "c_ab * 1000000000000L div (c_a * c_b)"
            ).alias("score_q"),
        )
    )
    return scored.orderBy(F.desc("score_q"), "w1", "w2").limit(30)


@register(
    "zipf_slope_word_freq",
    oracle="""
    WITH words AS (
      SELECT token, count(*) AS freq
      FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
      GROUP BY token
    ),
    topw AS (
      SELECT freq,
             row_number() OVER (ORDER BY freq DESC, token) AS rank
      FROM (SELECT token, freq FROM words
            ORDER BY freq DESC, token LIMIT 1000)
    ),
    q AS (
      SELECT CAST(floor(ln(rank) * 1000000 + 0.5) AS BIGINT) AS x,
             CAST(floor(ln(freq) * 1000000 + 0.5) AS BIGINT) AS y
      FROM topw
    ),
    s AS (
      SELECT count(*) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx
      FROM q
    )
    SELECT n AS n_words,
           round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx),
                 6) AS zipf_slope,
           round((CAST(sy AS DOUBLE)
                  - (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                    / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                    * sx)
                 / (CAST(n AS DOUBLE) * 1000000.0), 6) AS zipf_intercept
    FROM s
    """,
    tags=("text", "stats", "agg"),
)
def zipf_slope_word_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit of the corpus word-frequency distribution: least-
    squares slope of ln(freq) vs ln(rank) over the top-1000 words — the
    corpus-health scalar (natural text ≈ −1; synthetic/templated text
    drifts shallower) LLM data audits report.

    Reproducibility: ln values quantize to integer micro-nats
    (floor(ln·1e6 + 0.5)) so every sum is exact 64-bit integer
    arithmetic — order-independent on any engine — and the one final
    slope division happens on identical integers. The top-1000 cut is
    a total order (freq DESC, token ASC). Scale shape: the heavy part
    is the word-count aggregate (uniform keys); the cut is a
    distributed TakeOrdered, and the rank window runs over ≤1000
    surviving rows — the benign tiny-frame pattern."""
    d = _t(spark, sf_dir, "documents")
    from pyspark.sql import Window

    words = (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
    )
    topw = words.orderBy(F.desc("freq"), "token").limit(1000)
    ranked = topw.select(
        "freq",
        F.row_number()
        .over(Window.orderBy(F.desc("freq"), "token"))
        .alias("rank"),
    )
    q = ranked.select(
        F.floor(F.log("rank") * 1000000 + 0.5).cast("long").alias("x"),
        F.floor(F.log("freq") * 1000000 + 0.5).cast("long").alias("y"),
    )
    s = q.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    slope = (nd * F.col("sxy") - sxd * F.col("sy")) / (
        nd * F.col("sxx") - sxd * F.col("sx")
    )
    return s.select(
        F.col("n").alias("n_words"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round(
            (F.col("sy").cast("double") - slope * F.col("sx"))
            / (nd * 1000000.0),
            6,
        ).alias("zipf_intercept"),
    )


@register(
    "readability_flesch",
    oracle="""
    WITH m AS (
      SELECT doc_id,
             greatest(len(string_split(text, ' ')), 1) AS w,
             greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS s,
             greatest(len(regexp_extract_all(lower(text),
                                             '[aeiouy]+')), 1) AS syl
      FROM documents
    )
    SELECT doc_id, CAST(w AS BIGINT) AS n_words,
           CAST(s AS BIGINT) AS n_sentences,
           CAST(syl AS BIGINT) AS n_syllables,
           round(206.835 - 1.015 * (CAST(w AS DOUBLE) / s)
                         - 84.6 * (CAST(syl AS DOUBLE) / w), 4)
             AS flesch
    FROM m
    """,
    tags=("text", "quality", "projection"),
)
def readability_flesch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document — the readability tier of a
    quality cascade (alongside length/stopword/LM scores). Syllables
    are approximated as vowel runs and sentences as terminal-punct
    runs — both plain regexp counts, exact integers, engine-identical;
    the final score is one float expression over three exact counts
    (clamped ≥1 so empty docs can't divide by zero), structurally the
    same on both engines and rounded for display."""
    d = _t(spark, sf_dir, "documents")
    w = F.greatest(F.size(F.split("text", " ")), F.lit(1))
    s = F.greatest(
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[.!?]+"), 0)),
        F.lit(1),
    )
    syl = F.greatest(
        F.size(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit("[aeiouy]+"), 0)
        ),
        F.lit(1),
    )
    m = d.select(
        "doc_id", w.alias("w"), s.alias("s"), syl.alias("syl")
    )
    return m.select(
        "doc_id",
        F.col("w").cast("long").alias("n_words"),
        F.col("s").cast("long").alias("n_sentences"),
        F.col("syl").cast("long").alias("n_syllables"),
        F.round(
            F.lit(206.835)
            - 1.015 * (F.col("w").cast("double") / F.col("s"))
            - 84.6 * (F.col("syl").cast("double") / F.col("w")),
            4,
        ).alias("flesch"),
    )


#: Domain polarity lexicon over the fixture vocabulary (AFINN-style
#: integer weights; engine-agnostic CASE mapping on both sides).
_SENTIMENT_LEXICON = (
    ("fast", 2), ("slow", -2), ("big", 1), ("small", -1),
    ("dup", -1), ("merge", 1), ("spark", 1), ("scan", -1),
)
_LEX_SQL = " ".join(
    f"WHEN '{w}' THEN {s}" for w, s in _SENTIMENT_LEXICON
)


@register(
    "sentiment_lexicon_scores",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token
      FROM documents
    ),
    scored AS (
      SELECT doc_id,
             CAST(sum(CASE token {_LEX_SQL} ELSE 0 END) AS BIGINT)
               AS polarity,
             CAST(sum(CASE WHEN (CASE token {_LEX_SQL} ELSE 0 END) <> 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
             count(*) AS n_tokens
      FROM tok GROUP BY doc_id
    )
    SELECT doc_id, polarity, n_matched,
           round(CAST(polarity AS DOUBLE) / n_tokens, 6) AS score,
           CAST(CASE WHEN polarity > 0 THEN 1
                     WHEN polarity < 0 THEN -1 ELSE 0 END AS INTEGER)
             AS label
    FROM scored
    ORDER BY doc_id
    """,
    tags=("text", "sentiment", "agg"),
)
def sentiment_lexicon_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon-based sentiment/polarity scoring (the AFINN pattern of
    large-scale Spark sentiment pipelines — see PAPERS.md, EDBT 2016):
    integer word weights summed per document (exact), length-normalized
    score and a ternary label. The lexicon is a plan literal — at scale
    a real lexicon is a broadcast map; the plan shape is identical. The
    weights cover this fixture's synthetic vocabulary so the scorer has
    signal to exercise."""
    d = _t(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(_tokens()).alias("token"))
    w = F.lit(0)
    for word, score in _SENTIMENT_LEXICON:
        w = F.when(F.col("token") == word, score).otherwise(w)
    scored = tok.groupBy("doc_id").agg(
        F.sum(w).alias("polarity"),
        F.sum(F.when(w != 0, 1).otherwise(0)).alias("n_matched"),
        F.count("*").alias("n_tokens"),
    )
    return scored.select(
        "doc_id",
        "polarity",
        "n_matched",
        F.round(F.col("polarity").cast("double") / F.col("n_tokens"), 6).alias(
            "score"
        ),
        F.when(F.col("polarity") > 0, 1)
        .when(F.col("polarity") < 0, -1)
        .otherwise(0)
        .cast("int")
        .alias("label"),
    ).orderBy("doc_id")


@register(
    "bigram_continuation_counts",
    oracle="""
    WITH toks AS (
      SELECT doc_id, i, tok
      FROM (
        SELECT doc_id,
               unnest(string_split(text, ' ')) AS tok,
               unnest(range(len(string_split(text, ' ')))) AS i
        FROM documents
      )
      WHERE tok <> ''
    ),
    bigrams AS (
      SELECT a.tok AS w1, b.tok AS w2
      FROM toks a JOIN toks b
        ON a.doc_id = b.doc_id AND b.i = a.i + 1
      WHERE b.tok <> ''
    ),
    stats AS (
      SELECT w2 AS token,
             count(*) AS n_bigram,
             count(DISTINCT w1) AS n_left_types
      FROM bigrams GROUP BY w2
    ),
    uni AS (
      SELECT tok AS token, count(*) AS n_unigram
      FROM toks GROUP BY tok
    )
    SELECT u.token, u.n_unigram,
           coalesce(s.n_bigram, 0) AS n_bigram,
           coalesce(s.n_left_types, 0) AS n_left_types
    FROM uni u LEFT JOIN stats s ON s.token = u.token
    ORDER BY u.n_unigram DESC, u.token
    LIMIT 100
    """,
    tags=("text", "ngram", "lm", "agg"),
)
def bigram_continuation_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kneser-Ney continuation statistics — the corpus counts a bigram
    language model (quality scoring / perplexity-proxy stage) needs:
    per token, its unigram count, how often it appears as a bigram
    continuation, and its DISTINCT left-context type count (the KN
    continuation numerator: 'how many contexts does this word
    complete', which replaces raw frequency for lower-order weights).
    Top-100 by (unigram count DESC, token) — a total order, so both
    engines cut the same prefix.

    Scale shape: the bigram relation comes from a positional self-join
    within each document (adjacent token index), shuffled on doc_id —
    content-uniform; counts are partial-aggregable; distinct-left uses
    the standard two-level exact distinct aggregate. No Python in the
    plan."""
    d = _t(spark, sf_dir, "documents")
    toks = (
        d.select(
            "doc_id",
            F.posexplode(F.split("text", " ")).alias("i", "tok"),
        )
        .filter(F.col("tok") != "")
    )
    a = toks.alias("a")
    b = toks.alias("b")
    bigrams = a.join(
        b,
        (F.col("a.doc_id") == F.col("b.doc_id"))
        & (F.col("b.i") == F.col("a.i") + 1),
    ).select(F.col("a.tok").alias("w1"), F.col("b.tok").alias("w2"))
    stats = bigrams.groupBy(F.col("w2").alias("token")).agg(
        F.count("*").alias("n_bigram"),
        F.countDistinct("w1").alias("n_left_types"),
    )
    uni = toks.groupBy(F.col("tok").alias("token")).agg(
        F.count("*").alias("n_unigram")
    )
    return (
        uni.join(stats, "token", "left")
        .select(
            "token",
            "n_unigram",
            F.coalesce("n_bigram", F.lit(0)).alias("n_bigram"),
            F.coalesce("n_left_types", F.lit(0)).alias("n_left_types"),
        )
        .orderBy(F.desc("n_unigram"), F.asc("token"))
        .limit(100)
    )


@register(
    "arrow_token_stats",
    oracle="""
    SELECT doc_id,
           CAST(len(list_filter(string_split(text, ' '), t -> t <> ''))
                AS BIGINT) AS n_tokens,
           CAST(length(text) AS BIGINT) AS n_chars_utf
    FROM documents
    """,
    tags=("text", "udf", "arrow"),
)
def arrow_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mapInArrow`` surface (§2.12 completion, r4): per-document token
    and character counts computed entirely in pyarrow.compute — no
    pandas materialization at all, the lowest-overhead Python batch
    path Spark 4 offers (Arrow RecordBatch in, RecordBatch out;
    ~2-5× less per-batch overhead than mapInPandas for pure-columnar
    ops since nothing converts to Python objects). Splitting,
    empty-token filtering, and list-length all happen as vectorized
    Arrow kernels; the oracle replays them relationally. n_chars_utf is
    CHARACTER count (utf8_length ≡ DuckDB length)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")

    def stats(batches):
        import numpy as np

        for batch in batches:
            doc_id = batch.column("doc_id")
            text = batch.column("text")
            toks = pc.split_pattern(text, " ")
            n_all = pc.list_value_length(toks).cast(pa.int64())
            # empty-token count per row: filter the flattened tokens'
            # parent indices down to the empties and histogram them —
            # all Arrow kernels plus one numpy scatter, no Python loop
            flat = pc.list_flatten(toks)
            parents = pc.list_parent_indices(toks)
            emp_idx = pc.filter(parents, pc.equal(flat, ""))
            arr = np.zeros(len(batch), dtype="int64")
            if len(emp_idx) > 0:
                counts = emp_idx.value_counts()
                vals = counts.field("values").to_numpy(zero_copy_only=False)
                cnts = counts.field("counts").to_numpy(zero_copy_only=False)
                arr[vals] = cnts
            n_tok = pc.subtract(n_all, pa.array(arr, type=pa.int64()))
            n_chars = pc.utf8_length(text).cast(pa.int64())
            yield pa.RecordBatch.from_arrays(
                [doc_id, n_tok, n_chars],
                names=["doc_id", "n_tokens", "n_chars_utf"],
            )

    return d.mapInArrow(
        stats, schema="doc_id long, n_tokens long, n_chars_utf long"
    )


@register(
    "vocab_coverage_curve",
    oracle="""
    WITH words AS (
      SELECT token, count(*) AS freq
      FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
      GROUP BY token
    ),
    tot AS (
      SELECT CAST(sum(freq) AS BIGINT) AS t_tokens,
             count(*) AS n_types
      FROM words
    ),
    ranked AS (
      SELECT freq,
             row_number() OVER (ORDER BY freq DESC, token) AS rnk
      FROM (SELECT token, freq FROM words
            ORDER BY freq DESC, token LIMIT 10000)
    ),
    cum AS (
      SELECT rnk,
             CAST(sum(freq) OVER (ORDER BY rnk
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS covered
      FROM ranked
    ),
    sizes AS (SELECT unnest([100, 500, 1000, 2000, 5000, 10000]) AS m)
    SELECT CAST(s.m AS BIGINT) AS vocab_size,
           t.n_types AS n_types,
           c.covered AS covered_tokens,
           round(CAST(c.covered AS DOUBLE) / t.t_tokens, 6) AS coverage,
           round(1.0 - CAST(c.covered AS DOUBLE) / t.t_tokens, 6)
             AS oov_rate
    FROM sizes s
    CROSS JOIN tot t
    JOIN cum c ON c.rnk = least(CAST(s.m AS BIGINT), t.n_types)
    """,
    tags=("text", "llm", "agg", "window"),
)
def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-coverage / OOV-rate curve — the tokenizer-sizing table:
    for each candidate vocabulary size M (top-M word types by frequency,
    ties broken lexically), the fraction of all token OCCURRENCES the
    vocabulary covers and the out-of-vocabulary rate. This is the curve
    a tokenizer-training pipeline reads to pick vocab size before a BPE
    run (reference analogue: the corpus-prep stage feeding
    `bpe_learn_merges`).

    Reproducibility: coverage is an exact BIGINT cumulative sum over the
    (freq DESC, token) total order, divided by the exact corpus token
    count — one float division per row, identical on both engines.
    Scale shape: the heavy aggregate is the word count (content-uniform
    keys, partial agg); the curve itself runs over a top-10k TakeOrdered
    cut (the benign tiny-frame window), and the six candidate sizes are
    an exploded constant domain joined by rank — never a scan re-read."""
    from pyspark.sql import Window

    d = _t(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(_tokens()).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
    )
    tot = words.agg(
        F.sum("freq").alias("t_tokens"), F.count("*").alias("n_types")
    )
    topw = words.orderBy(F.desc("freq"), "token").limit(10000)
    ranked = topw.select(
        "freq",
        F.row_number()
        .over(Window.orderBy(F.desc("freq"), "token"))
        .alias("rnk"),
    )
    cum = ranked.select(
        "rnk",
        F.sum("freq")
        .over(
            Window.orderBy("rnk").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .alias("covered"),
    )
    # the six candidate sizes explode off the 1-row aggregate itself —
    # no cross join appears in the plan (audit-clean by construction)
    sizes = tot.select(
        F.explode(
            F.array(*[F.lit(m) for m in (100, 500, 1000, 2000, 5000, 10000)])
        ).alias("m"),
        "t_tokens",
        "n_types",
    )
    cov = F.col("covered").cast("double") / F.col("t_tokens")
    return (
        sizes.join(
            cum,
            cum["rnk"]
            == F.least(F.col("m").cast("long"), F.col("n_types")),
        )
        .select(
            F.col("m").cast("long").alias("vocab_size"),
            F.col("n_types"),
            F.col("covered").alias("covered_tokens"),
            F.round(cov, 6).alias("coverage"),
            F.round(F.lit(1.0) - cov, 6).alias("oov_rate"),
        )
    )


#: Gopher quality rules (Rae et al. 2021, "Scaling Language Models:
#: Methods, Analysis & Insights from Training Gopher", Appendix A.1.1):
#: the published rule-based document filter every large-scale curation
#: pipeline starts from. Thresholds are held as INTEGER cross-products
#: (e.g. mean word length in [3, 10] ⇔ 3·n_words ≤ sum_len ≤ 10·n_words)
#: so no float comparison ever decides a gate — both engines compare
#: the same exact integers.
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
_GOPHER_STOP_SQL = "['the','be','to','of','and','that','have','with']"


@register(
    "gopher_quality_gates",
    oracle=rf"""
    WITH per AS (
      SELECT
        len(string_split(text, ' ')) AS n_words,
        length(replace(text, ' ', '')) AS sum_len,
        len(regexp_extract_all(text, '#')) AS n_hash,
        len(regexp_extract_all(text, '(\.\.\.|…)')) AS n_ell,
        len(string_split(text, chr(10))) AS n_lines,
        len(list_filter(string_split(text, chr(10)),
                        l -> regexp_matches(l, '^[-*•]'))) AS n_bullet,
        len(list_filter(string_split(text, chr(10)),
                        l -> regexp_matches(l, '(\.\.\.|…)$'))) AS n_ell_ln,
        len(list_filter(string_split(text, ' '),
                        w -> regexp_matches(w, '[a-zA-Z]'))) AS n_alpha,
        len(list_intersect(string_split(text, ' '),
                           {_GOPHER_STOP_SQL})) AS n_stop
      FROM documents
    ),
    gated AS (
      SELECT
        CAST(n_words BETWEEN 50 AND 100000 AS BIGINT) AS g_wc,
        CAST(3 * n_words <= sum_len AND sum_len <= 10 * n_words
             AS BIGINT) AS g_mwl,
        CAST(10 * (n_hash + n_ell) < n_words AS BIGINT) AS g_sym,
        CAST(10 * n_bullet < 9 * n_lines AS BIGINT) AS g_bul,
        CAST(10 * n_ell_ln < 3 * n_lines AS BIGINT) AS g_ell,
        CAST(5 * n_alpha >= 4 * n_words AS BIGINT) AS g_alp,
        CAST(n_stop >= 2 AS BIGINT) AS g_stp
      FROM per
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(g_wc) AS BIGINT) AS p_wc,
             CAST(sum(g_mwl) AS BIGINT) AS p_mwl,
             CAST(sum(g_sym) AS BIGINT) AS p_sym,
             CAST(sum(g_bul) AS BIGINT) AS p_bul,
             CAST(sum(g_ell) AS BIGINT) AS p_ell,
             CAST(sum(g_alp) AS BIGINT) AS p_alp,
             CAST(sum(g_stp) AS BIGINT) AS p_stp,
             CAST(sum(g_wc * g_mwl * g_sym * g_bul * g_ell * g_alp
                      * g_stp) AS BIGINT) AS p_all
      FROM gated
    )
    SELECT rule, n_pass, n_docs,
           round(n_pass * 1.0 / n_docs, 6) AS pass_frac
    FROM (
      SELECT 'word_count' AS rule, p_wc AS n_pass, n_docs FROM s
      UNION ALL SELECT 'mean_word_len', p_mwl, n_docs FROM s
      UNION ALL SELECT 'symbol_word_ratio', p_sym, n_docs FROM s
      UNION ALL SELECT 'bullet_lines', p_bul, n_docs FROM s
      UNION ALL SELECT 'ellipsis_lines', p_ell, n_docs FROM s
      UNION ALL SELECT 'alpha_word_frac', p_alp, n_docs FROM s
      UNION ALL SELECT 'stopword_presence', p_stp, n_docs FROM s
      UNION ALL SELECT 'all_gates', p_all, n_docs FROM s
    )
    ORDER BY rule
    """,
    tags=("text", "quality", "llm", "agg"),
)
def gopher_quality_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher rule-based quality gates (Rae et al. 2021 App. A.1.1) as a
    per-rule corpus report: word-count ∈ [50, 100k], mean word length ∈
    [3, 10], symbol-to-word ratio (# / ellipsis) < 0.1, < 90% of lines
    bullet-started, < 30% of lines ellipsis-ended, ≥ 80% of words
    containing a letter, and ≥ 2 of the 8 canonical stopwords present —
    plus the all-gates conjunction (the corpus survival rate).

    Every threshold is an exact INTEGER cross-product comparison (no
    float ever decides a gate), so both engines agree bit-for-bit; the
    only double is the final pass_frac division. Scale shape: one
    narrow map-side projection per doc (pure JVM expressions — arrays,
    regexp counts, list filters, all inside whole-stage codegen), ONE
    single-row global aggregate, then an 8-row explode off that
    aggregate — the shuffle carries 8 partial-sum integers per map
    task, nothing else. At 100 TB this is a scan-bound pass, exactly
    like the reference's quality heuristics but with the published
    Gopher thresholds."""
    d = _t(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    lines = F.split(F.col("text"), "\n")
    n_words = F.size(words)
    sum_len = F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
    n_hash = F.regexp_count(F.col("text"), F.lit("#"))
    n_ell = F.regexp_count(F.col("text"), F.lit(r"(\.\.\.|…)"))
    n_lines = F.size(lines)
    n_bullet = F.size(F.filter(lines, lambda l: l.rlike("^[-*•]")))
    n_ell_ln = F.size(F.filter(lines, lambda l: l.rlike(r"(\.\.\.|…)$")))
    n_alpha = F.size(F.filter(words, lambda w: w.rlike("[a-zA-Z]")))
    stop_arr = F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])
    n_stop = F.size(F.array_intersect(words, stop_arr))

    def _g(cond):
        return cond.cast("long")

    gated = d.select(
        _g(n_words.between(50, 100000)).alias("g_wc"),
        _g((3 * n_words <= sum_len) & (sum_len <= 10 * n_words)).alias(
            "g_mwl"
        ),
        _g(10 * (n_hash + n_ell) < n_words).alias("g_sym"),
        _g(10 * n_bullet < 9 * n_lines).alias("g_bul"),
        _g(10 * n_ell_ln < 3 * n_lines).alias("g_ell"),
        _g(5 * n_alpha >= 4 * n_words).alias("g_alp"),
        _g(n_stop >= 2).alias("g_stp"),
    )
    s = gated.agg(
        F.count("*").alias("n_docs"),
        F.sum("g_wc").alias("p_wc"),
        F.sum("g_mwl").alias("p_mwl"),
        F.sum("g_sym").alias("p_sym"),
        F.sum("g_bul").alias("p_bul"),
        F.sum("g_ell").alias("p_ell"),
        F.sum("g_alp").alias("p_alp"),
        F.sum("g_stp").alias("p_stp"),
        F.sum(
            F.col("g_wc")
            * F.col("g_mwl")
            * F.col("g_sym")
            * F.col("g_bul")
            * F.col("g_ell")
            * F.col("g_alp")
            * F.col("g_stp")
        ).alias("p_all"),
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(rule).alias("rule"), F.col(col).alias("n_pass")
            )
            for rule, col in (
                ("word_count", "p_wc"),
                ("mean_word_len", "p_mwl"),
                ("symbol_word_ratio", "p_sym"),
                ("bullet_lines", "p_bul"),
                ("ellipsis_lines", "p_ell"),
                ("alpha_word_frac", "p_alp"),
                ("stopword_presence", "p_stp"),
                ("all_gates", "p_all"),
            )
        ]
    )
    return (
        s.select(F.explode(rows).alias("r"), "n_docs")
        .select(
            F.col("r.rule").alias("rule"),
            F.col("r.n_pass").alias("n_pass"),
            "n_docs",
            F.round(
                F.col("r.n_pass") * F.lit(1.0) / F.col("n_docs"), 6
            ).alias("pass_frac"),
        )
        .orderBy("rule")
    )


#: Gopher repetition-filter n-gram orders (Rae et al. 2021 App. A.1.2):
#: top-n-gram character fraction for n=2,3,4; duplicated-n-gram mass for
#: n=5 and n=10 (the paper's endpoints of its 5..10 band). Thresholds are
#: the published constants, applied as exact integer cross-products.
GOPHER_TOP_NS = (2, 3, 4)
GOPHER_DUP_NS = (5, 10)


@register(
    "gopher_repetition_filters",
    oracle="""
    WITH d AS (
      SELECT doc_id, text, string_split(text, ' ') AS w FROM documents
    ),
    units AS (
      SELECT doc_id, 'L' AS kind, u.u AS unit
      FROM d, unnest(string_split(text, chr(10))) AS u(u)
      UNION ALL
      SELECT doc_id, 'P', u.u
      FROM d, unnest(string_split(text, chr(10) || chr(10))) AS u(u)
      UNION ALL
      SELECT doc_id, CAST(ns.n AS VARCHAR),
             array_to_string(list_slice(w, t.i + 1, t.i + ns.n), ' ')
      FROM d, (VALUES (2), (3), (4), (5), (10)) AS ns(n),
           unnest(range(greatest(len(w) - ns.n + 1, 0))) AS t(i)
    ),
    counts AS (
      SELECT doc_id, kind, unit, count(*) AS c, length(unit) AS ulen
      FROM units GROUP BY doc_id, kind, unit
    ),
    per AS (
      SELECT doc_id, kind,
             sum(c) AS tot_occ, count(*) AS n_dist,
             sum(c * ulen) AS char_tot,
             sum(CASE WHEN c > 1 THEN (c - 1) * ulen ELSE 0 END)
               AS char_dup,
             sum(CASE WHEN c > 1 THEN c * ulen ELSE 0 END) AS dup_mass,
             max(c * ulen) AS top_mass
      FROM counts GROUP BY doc_id, kind
    ),
    wide AS (
      SELECT doc_id,
        max(CASE WHEN kind = 'L' THEN tot_occ END) AS tot_l,
        max(CASE WHEN kind = 'L' THEN n_dist END) AS dist_l,
        max(CASE WHEN kind = 'L' THEN char_tot END) AS ctot_l,
        max(CASE WHEN kind = 'L' THEN char_dup END) AS cdup_l,
        max(CASE WHEN kind = 'P' THEN tot_occ END) AS tot_p,
        max(CASE WHEN kind = 'P' THEN n_dist END) AS dist_p,
        max(CASE WHEN kind = 'P' THEN char_tot END) AS ctot_p,
        max(CASE WHEN kind = 'P' THEN char_dup END) AS cdup_p,
        coalesce(max(CASE WHEN kind = '2' THEN char_tot END), 0) AS ctot_2,
        coalesce(max(CASE WHEN kind = '2' THEN top_mass END), 0) AS top_2,
        coalesce(max(CASE WHEN kind = '3' THEN char_tot END), 0) AS ctot_3,
        coalesce(max(CASE WHEN kind = '3' THEN top_mass END), 0) AS top_3,
        coalesce(max(CASE WHEN kind = '4' THEN char_tot END), 0) AS ctot_4,
        coalesce(max(CASE WHEN kind = '4' THEN top_mass END), 0) AS top_4,
        coalesce(max(CASE WHEN kind = '5' THEN char_tot END), 0) AS ctot_5,
        coalesce(max(CASE WHEN kind = '5' THEN dup_mass END), 0) AS dup_5,
        coalesce(max(CASE WHEN kind = '10' THEN char_tot END), 0)
          AS ctot_10,
        coalesce(max(CASE WHEN kind = '10' THEN dup_mass END), 0)
          AS dup_10
      FROM per GROUP BY doc_id
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
      round((tot_l - dist_l) * 1.0 / tot_l, 6) AS dup_line_frac,
      CASE WHEN ctot_l > 0
           THEN round(cdup_l * 1.0 / ctot_l, 6) ELSE 0.0
      END AS dup_line_char_frac,
      round((tot_p - dist_p) * 1.0 / tot_p, 6) AS dup_para_frac,
      CASE WHEN ctot_p > 0
           THEN round(cdup_p * 1.0 / ctot_p, 6) ELSE 0.0
      END AS dup_para_char_frac,
      CASE WHEN ctot_2 > 0
           THEN round(top_2 * 1.0 / ctot_2, 6) ELSE 0.0
      END AS top2_char_frac,
      CASE WHEN ctot_3 > 0
           THEN round(top_3 * 1.0 / ctot_3, 6) ELSE 0.0
      END AS top3_char_frac,
      CASE WHEN ctot_4 > 0
           THEN round(top_4 * 1.0 / ctot_4, 6) ELSE 0.0
      END AS top4_char_frac,
      CASE WHEN ctot_5 > 0
           THEN round(dup_5 * 1.0 / ctot_5, 6) ELSE 0.0
      END AS dup5_char_frac,
      CASE WHEN ctot_10 > 0
           THEN round(dup_10 * 1.0 / ctot_10, 6) ELSE 0.0
      END AS dup10_char_frac,
      (CAST(10 * (tot_l - dist_l) <= 3 * tot_l AS BIGINT)
       + CAST(10 * cdup_l <= 2 * ctot_l AS BIGINT)
       + CAST(10 * (tot_p - dist_p) <= 3 * tot_p AS BIGINT)
       + CAST(10 * cdup_p <= 2 * ctot_p AS BIGINT)
       + CAST(5 * top_2 <= ctot_2 AS BIGINT)
       + CAST(50 * top_3 <= 9 * ctot_3 AS BIGINT)
       + CAST(25 * top_4 <= 4 * ctot_4 AS BIGINT)
       + CAST(20 * dup_5 <= 3 * ctot_5 AS BIGINT)
       + CAST(10 * dup_10 <= ctot_10 AS BIGINT)) AS gates_passed
    FROM wide
    ORDER BY doc_id
    """,
    tags=("text", "quality", "llm", "dedup", "agg"),
)
def gopher_repetition_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher within-document repetition filters (Rae et al. 2021 App.
    A.1.2) per document: duplicate line / paragraph fraction (occurrence
    and character-mass forms), top-n-gram character fraction (n=2,3,4)
    and duplicated-n-gram character-mass fraction (n=5,10), plus the
    count of the 9 published gates the document passes.

    Two documented exact-integer variants of the paper's prose (chosen
    so both engines agree bit-for-bit with no position-marking pass):
    the "top n-gram" statistic is max over grams of count·len — the
    maximum single-gram character mass, a deterministic strengthening
    of argmax-by-count that needs no tie-break — and the duplicated
    mass counts every occurrence of a gram with count > 1 against the
    total n-gram mass Σ count·len for that n, so the ratio is bounded
    in [0, 1] without the overlap-dedup position scan.

    Scale shape: ONE generated-column explode produces every unit
    stream (lines, paragraphs, and all five n-gram orders as (kind,
    unit) structs built JVM-side from a single split — no UDF, no
    second scan), so the shuffle is one exchange keyed (doc_id, kind,
    unit) whose volume is ~6× token count; the two-level aggregate
    combines map-side, and the final per-doc pivot is a conditional
    aggregation over ≤ 8 rows per doc. At 100 TB this is the same
    scan-and-count shape as the minhash signature stage — no pair
    enumeration, no skew (keys are salted by the doc itself)."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    w = _tokens()
    u_struct = "array<struct<kind:string,unit:string>>"

    def unit_stream(kind: str, arr):
        return F.transform(
            arr,
            lambda u: F.struct(
                F.lit(kind).alias("kind"), u.alias("unit")
            ),
        )

    def gram_stream(n: int):
        return F.when(
            F.size(w) >= n,
            F.transform(
                F.sequence(F.lit(0), F.size(w) - n),
                lambda i: F.struct(
                    F.lit(str(n)).alias("kind"),
                    F.concat_ws(" ", F.slice(w, i + 1, n)).alias("unit"),
                ),
            ),
        ).otherwise(F.array().cast(u_struct))

    units = F.flatten(
        F.array(
            unit_stream("L", F.split(F.col("text"), "\n")),
            unit_stream("P", F.split(F.col("text"), "\n\n")),
            *[gram_stream(n) for n in GOPHER_TOP_NS + GOPHER_DUP_NS],
        )
    )
    counts = (
        d.select("doc_id", F.explode(units).alias("u"))
        .select("doc_id", F.col("u.kind").alias("kind"),
                F.col("u.unit").alias("unit"))
        .groupBy("doc_id", "kind", "unit")
        .agg(F.count("*").alias("c"))
        .withColumn("ulen", F.length("unit").cast("long"))
    )
    per = counts.groupBy("doc_id", "kind").agg(
        F.sum("c").alias("tot_occ"),
        F.count("*").alias("n_dist"),
        F.sum(F.col("c") * F.col("ulen")).alias("char_tot"),
        F.sum(
            F.when(F.col("c") > 1, (F.col("c") - 1) * F.col("ulen"))
            .otherwise(F.lit(0))
        ).alias("char_dup"),
        F.sum(
            F.when(F.col("c") > 1, F.col("c") * F.col("ulen"))
            .otherwise(F.lit(0))
        ).alias("dup_mass"),
        F.max(F.col("c") * F.col("ulen")).alias("top_mass"),
    )

    def pick(kind: str, col: str, default=None):
        v = F.max(F.when(F.col("kind") == kind, F.col(col)))
        return F.coalesce(v, F.lit(default)) if default is not None else v

    wide = per.groupBy("doc_id").agg(
        pick("L", "tot_occ").alias("tot_l"),
        pick("L", "n_dist").alias("dist_l"),
        pick("L", "char_tot").alias("ctot_l"),
        pick("L", "char_dup").alias("cdup_l"),
        pick("P", "tot_occ").alias("tot_p"),
        pick("P", "n_dist").alias("dist_p"),
        pick("P", "char_tot").alias("ctot_p"),
        pick("P", "char_dup").alias("cdup_p"),
        pick("2", "char_tot", 0).alias("ctot_2"),
        pick("2", "top_mass", 0).alias("top_2"),
        pick("3", "char_tot", 0).alias("ctot_3"),
        pick("3", "top_mass", 0).alias("top_3"),
        pick("4", "char_tot", 0).alias("ctot_4"),
        pick("4", "top_mass", 0).alias("top_4"),
        pick("5", "char_tot", 0).alias("ctot_5"),
        pick("5", "dup_mass", 0).alias("dup_5"),
        pick("10", "char_tot", 0).alias("ctot_10"),
        pick("10", "dup_mass", 0).alias("dup_10"),
    )

    def frac(num, den):
        return F.when(
            den > 0, F.round(num * F.lit(1.0) / den, 6)
        ).otherwise(F.lit(0.0))

    def gate(lhs, rhs):
        return (lhs <= rhs).cast("long")

    c = F.col
    return wide.select(
        c("doc_id").cast("long").alias("doc_id"),
        F.round(
            (c("tot_l") - c("dist_l")) * F.lit(1.0) / c("tot_l"), 6
        ).alias("dup_line_frac"),
        frac(c("cdup_l"), c("ctot_l")).alias("dup_line_char_frac"),
        F.round(
            (c("tot_p") - c("dist_p")) * F.lit(1.0) / c("tot_p"), 6
        ).alias("dup_para_frac"),
        frac(c("cdup_p"), c("ctot_p")).alias("dup_para_char_frac"),
        frac(c("top_2"), c("ctot_2")).alias("top2_char_frac"),
        frac(c("top_3"), c("ctot_3")).alias("top3_char_frac"),
        frac(c("top_4"), c("ctot_4")).alias("top4_char_frac"),
        frac(c("dup_5"), c("ctot_5")).alias("dup5_char_frac"),
        frac(c("dup_10"), c("ctot_10")).alias("dup10_char_frac"),
        (
            gate(10 * (c("tot_l") - c("dist_l")), 3 * c("tot_l"))
            + gate(10 * c("cdup_l"), 2 * c("ctot_l"))
            + gate(10 * (c("tot_p") - c("dist_p")), 3 * c("tot_p"))
            + gate(10 * c("cdup_p"), 2 * c("ctot_p"))
            + gate(5 * c("top_2"), c("ctot_2"))
            + gate(50 * c("top_3"), 9 * c("ctot_3"))
            + gate(25 * c("top_4"), 4 * c("ctot_4"))
            + gate(20 * c("dup_5"), 3 * c("ctot_5"))
            + gate(10 * c("dup_10"), c("ctot_10"))
        ).alias("gates_passed"),
    ).orderBy("doc_id")


@register(
    "rake_keyword_scores",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, g.i AS pos, t[g.i] AS w
      FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
           LATERAL (SELECT unnest(range(1, len(t) + 1)) AS i) AS g
    ),
    cand AS (
      SELECT doc_id, pos, w,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
               AS isl
      FROM toks
      WHERE NOT list_contains({_STOP_SQL}, w)
    ),
    plen AS (
      SELECT doc_id, isl, count(*) AS p_len
      FROM cand GROUP BY doc_id, isl
    ),
    wstat AS (
      SELECT c.w,
             CAST(count(*) AS BIGINT) AS freq,
             CAST(sum(p.p_len) AS BIGINT) AS deg
      FROM cand c JOIN plen p USING (doc_id, isl)
      GROUP BY c.w
    ),
    wscore AS (
      SELECT w, deg * 1000000 // freq AS ws FROM wstat
    ),
    phrases AS (
      SELECT c.doc_id, c.isl,
             string_agg(c.w, ' ' ORDER BY c.pos) AS phrase,
             CAST(count(*) AS BIGINT) AS n_words,
             CAST(sum(s.ws) AS BIGINT) AS score_scaled
      FROM cand c JOIN wscore s USING (w)
      GROUP BY c.doc_id, c.isl
    )
    SELECT phrase, CAST(min(n_words) AS BIGINT) AS n_words,
           CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(min(score_scaled) AS BIGINT) AS score_scaled
    FROM phrases
    GROUP BY phrase
    ORDER BY score_scaled DESC, phrase
    LIMIT 50
    """,
    tags=("text", "keywords", "window", "topk"),
)
def rake_keyword_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010): candidate phrases
    are maximal stopword-free token runs; each word scores
    degree/frequency where degree sums the lengths of every phrase the
    word appears in; a phrase scores the sum of its word scores; top 50
    phrases corpus-wide. Exactness: word scores are integer-scaled
    floor divisions (deg·10⁶ // freq) so phrase sums are exact integers
    — no float ratio anywhere. Distributed shape: one posexplode scan,
    the island id from a per-doc window (single hash shuffle on doc_id
    — docs bound the partition, never the corpus), word stats via two
    map-side-combinable groupBys, then a broadcast-sized word-score
    join back (vocabulary ≪ corpus at any scale)."""
    from pyspark.sql import Window

    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.posexplode(_tokens()).alias("pos0", "w")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "w")
    cand = toks.filter(~F.col("w").isin(*STOPWORDS)).select(
        "doc_id",
        "pos",
        "w",
        (
            F.col("pos")
            - F.row_number().over(
                Window.partitionBy("doc_id").orderBy("pos")
            )
        ).alias("isl"),
    )
    plen = cand.groupBy("doc_id", "isl").agg(F.count("*").alias("p_len"))
    wstat = (
        cand.join(plen, ["doc_id", "isl"])
        .groupBy("w")
        .agg(
            F.count("*").cast("long").alias("freq"),
            F.sum("p_len").cast("long").alias("deg"),
        )
    )
    wscore = wstat.select(
        "w", F.expr("div(deg * 1000000, freq)").alias("ws")
    )
    phrases = (
        cand.join(F.broadcast(wscore), "w")
        .groupBy("doc_id", "isl")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "w"))),
                    lambda s: s.w,
                ),
                " ",
            ).alias("phrase"),
            F.count("*").cast("long").alias("n_words"),
            F.sum("ws").cast("long").alias("score_scaled"),
        )
    )
    return (
        phrases.groupBy("phrase")
        .agg(
            F.min("n_words").cast("long").alias("n_words"),
            F.count("*").cast("long").alias("n_occurrences"),
            F.min("score_scaled").cast("long").alias("score_scaled"),
        )
        .orderBy(F.desc("score_scaled"), "phrase")
        .limit(50)
    )
