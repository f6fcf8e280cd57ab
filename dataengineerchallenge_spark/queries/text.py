"""Text-analysis query battery over ``documents`` (SURVEY.md §2.11 N4;
driver north-star: language-ID, quality scoring, token counting,
fingerprinting, TF-IDF — the per-document stages of an LLM data
pipeline).

Everything here is pure DataFrame algebra (explode → join → aggregate)
with DuckDB twins: at 100 TB these are embarrassingly parallel per-doc
maps plus broadcast-joined side tables (lexicon, per-lang model), so the
only real shuffle is the per-term document-frequency aggregate — exactly
the shape Catalyst partial-aggregates well.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dataengineerchallenge_spark.operators.dedup import word_shingles
from dataengineerchallenge_spark.registry import register
from dataengineerchallenge_spark.sources.tables import load_table, local_frame, spread

_STOPWORDS = ("the", "a")  # the corpus' function words
_POS_WORDS = ("fast", "small")  # tiny sentiment lexicon over the fixture vocab
_NEG_WORDS = ("slow", "error")


@register(
    "doc_token_stats",
    oracle="""
    SELECT doc_id,
           len(string_split(text, ' '))::BIGINT              AS n_ws_tokens,
           len(regexp_extract_all(text, '[a-z]+'))::BIGINT   AS n_re_tokens,
           len(list_distinct(string_split(text, ' ')))::BIGINT AS n_distinct,
           round(len(list_distinct(string_split(text, ' ')))::DOUBLE
                 / len(string_split(text, ' ')), 4)          AS type_token_ratio
    FROM documents
    """,
)
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N4 token counting: whitespace tokens, regex ("BPE-ish" word-piece)
    tokens, distinct tokens, type-token ratio. Per-row map — no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    ws = F.split("text", " ")
    return docs.select(
        "doc_id",
        F.size(ws).cast("long").alias("n_ws_tokens"),
        F.regexp_count("text", F.lit("[a-z]+")).cast("long").alias("n_re_tokens"),
        F.size(F.array_distinct(ws)).cast("long").alias("n_distinct"),
        F.round(F.size(F.array_distinct(ws)) / F.size(ws), 4).alias("type_token_ratio"),
    )


_QUALITY_ORACLE = (
    f"""
    WITH m AS (
      SELECT doc_id,
             length(text) AS n_chars_actual,
             len(string_split(text, ' ')) AS n_words,
             round((length(text) - length(replace(text, ' ', '')))::DOUBLE
                   / len(string_split(text, ' ')), 4) AS _unused_sep_ratio,
             round(length(replace(text, ' ', ''))::DOUBLE
                   / len(string_split(text, ' ')), 4) AS mean_word_len,
             round(len(list_filter(string_split(text, ' '),
                       w -> list_contains({list(_STOPWORDS)}, w)))::DOUBLE
                   / len(string_split(text, ' ')), 4) AS stopword_ratio,
             round(len(list_distinct(string_split(text, ' ')))::DOUBLE
                   / len(string_split(text, ' ')), 4) AS type_token_ratio
      FROM documents
    )
    SELECT doc_id, n_chars_actual, n_words, mean_word_len, stopword_ratio,
           type_token_ratio,
           round(0.4 * least(n_words / 50.0, 1.0)
                 + 0.3 * type_token_ratio
                 + 0.3 * (1.0 - stopword_ratio), 5) AS quality
    FROM m
    """
)


def quality_frame(docs: DataFrame) -> DataFrame:
    """Quality metrics + composite score for any (doc_id, text, …) frame
    (reused by the corpus_curation_pipeline). Ratios are rounded to 4
    BEFORE entering the composite so the oracle twin is bit-stable."""
    ws = F.split("text", " ")
    n_words = F.size(ws)
    stop_arr = F.array(*[F.lit(w) for w in _STOPWORDS])
    m = docs.withColumns(
        {
            "n_chars_actual": F.length("text"),
            "n_words": n_words,
            "mean_word_len": F.round(
                F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))) / n_words, 4
            ),
            "stopword_ratio": F.round(
                F.size(F.filter(ws, lambda w: F.array_contains(stop_arr, w))) / n_words, 4
            ),
            "type_token_ratio": F.round(F.size(F.array_distinct(ws)) / n_words, 4),
        }
    )
    # round to 5, not 4: the composite of round-4 components lies on a
    # 1e-5 grid, so ROUND(x,4) sits exactly on the .00005 tie where Spark
    # (shortest-decimal HALF_UP) and DuckDB (scaled std::round) disagree;
    # round-5 snaps the 1e-15 float noise to the grid point tie-free
    # (observed: 3/5000 docs flipped at sf0.1 before this change)
    quality = F.round(
        0.4 * F.least(F.col("n_words") / 50.0, F.lit(1.0))
        + 0.3 * F.col("type_token_ratio")
        + 0.3 * (1.0 - F.col("stopword_ratio")),
        5,
    )
    return m.withColumn("quality", quality)


@register("doc_quality_scores", oracle=_QUALITY_ORACLE)
def doc_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N4 quality scoring: length / stopword / lexical-diversity signals
    composed into one score — the filter stage of a pretraining pipeline
    (drop quality < τ). Per-row map; the lexicon is an in-expression
    literal (would be a broadcast join for a real stopword list)."""
    docs = load_table(spark, sf_dir, "documents")
    return quality_frame(docs).select(
        "doc_id", "n_chars_actual", "n_words", "mean_word_len",
        "stopword_ratio", "type_token_ratio", "quality",
    )


@register(
    "doc_lang_id",
    oracle="""
    WITH tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w FROM documents),
    lw AS (SELECT lang AS l, w, count(*)::DOUBLE AS c FROM tok GROUP BY lang, w),
    ltot AS (SELECT lang AS l, count(*)::DOUBLE AS n FROM tok GROUP BY lang),
    vocab AS (SELECT count(DISTINCT w)::DOUBLE AS v FROM tok),
    langs AS (SELECT DISTINCT lang AS l FROM documents),
    scores AS (
      SELECT t.doc_id, langs.l,
             sum(ln((coalesce(lw.c, 0) + 1) / (ltot.n + vocab.v))) AS score
      FROM tok t CROSS JOIN langs
      LEFT JOIN lw ON lw.l = langs.l AND lw.w = t.w
      JOIN ltot ON ltot.l = langs.l CROSS JOIN vocab
      GROUP BY t.doc_id, langs.l
    )
    SELECT doc_id, l AS pred_lang
    FROM scores
    QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, l) = 1
    """,
)
def doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N4 language-ID: corpus-trained multinomial unigram model with
    Laplace smoothing, scored per document, argmax language.

    The "model" (per-lang token log-probs) is a tiny frame broadcast into
    the scoring join; the scoring pass is one aggregate over exploded
    tokens × |langs| — linear, partial-aggregatable, no driver loop.
    Fixture langs are only weakly separable (~36% accuracy vs 20% chance);
    the query checks the machinery, not the fixture. Min top-2 margin
    5.4e-4 ≫ cross-engine float drift."""
    return lang_id_frame(load_table(spark, sf_dir, "documents"))


def lang_id_scores(docs: DataFrame) -> DataFrame:
    """(doc_id, l, score) log-likelihood frame for any (doc_id, lang,
    text) corpus frame — the model trains on exactly the frame it
    scores. Shared by ``lang_id_frame`` and tools/profile_lang_id.py
    (which times this boundary as the score stage).

    The score stage exploits the likelihood's algebra (VERDICT r9 next
    #6 — the stage was over half the query's wall time):

        score(d, l) = Σ_tokens log((c+1)/(n_l+v))
                    = Σ_{distinct w in d} tf(d,w)·log(c_{l,w}+1)
                      − n_tokens(d)·log(n_l+v)

    so (a) tokens collapse to per-(doc, word) term frequencies BEFORE
    the ×|langs| expansion (2.33× fewer rows through the scoring joins
    and log() at sf0.1 — the fixture repeats words), and (b) the
    denominator folds into one per-lang constant inside the same
    per-row term, keeping the original single aggregate-then-window
    plan shape. Measured honestly (interleaved best-of-5 A/B at sf0.1):
    wall time is FLAT vs the token-level form — 1.28 s vs 1.31 s, inside
    noise — because at 270k tokens the stage is scheduling/shuffle-
    overhead-bound, not per-row-bound; the row cut is the lever that
    pays when per-row work dominates (the 100 TB regime), and it costs
    nothing here. Output parity is exact; float reassociation drift
    ~1e-13 ≪ the 5.4e-4 min top-2 margin."""
    tok = spread(docs).select("doc_id", "lang", F.explode(F.split("text", " ")).alias("w"))
    lw = tok.groupBy(F.col("lang").alias("l"), "w").agg(F.count("*").cast("double").alias("c"))
    # the tiny trained model is staged once (lazy local checkpoint): its
    # derivations below would otherwise each re-explode and re-aggregate
    # the corpus (no ReuseExchange across differently pruned branches;
    # measured 3.0 -> 2.4s warm at sf0.1)
    lw = lw.localCheckpoint(eager=False)
    # ltot / vocab all derive from the staged lw aggregate, not from
    # another scan of the corpus
    ltot = lw.groupBy("l").agg(F.sum("c").alias("n"))
    vocab = lw.agg(F.countDistinct("w").cast("double").alias("v"))
    # per-(doc, word) term frequencies: the ×|langs| expansion and the
    # scoring aggregate run over DISTINCT words per doc, weighted by tf
    dtf = tok.groupBy("doc_id", "w").agg(F.count("*").cast("double").alias("tf"))
    # one constant per lang — log(n_l + v) — folded into the per-row
    # term (tf·(log(c+1) − lpden) sums to exactly the token-level
    # likelihood), so the plan keeps the original's single
    # aggregate-then-window shape: no post-aggregate join to pay for
    lden = ltot.crossJoin(F.broadcast(vocab)).select(
        "l", F.log(F.col("n") + F.col("v")).alias("lpden")
    )
    return (
        dtf.crossJoin(F.broadcast(lden))
        .join(F.broadcast(lw), ["l", "w"], "left")
        .groupBy("doc_id", "l")
        .agg(
            F.sum(
                F.col("tf")
                * (
                    F.log(F.coalesce(F.col("c"), F.lit(0.0)) + 1)
                    - F.col("lpden")
                )
            ).alias("score")
        )
    )


def lang_id_frame(docs: DataFrame) -> DataFrame:
    """(doc_id, pred_lang) for any (doc_id, lang, text) corpus frame —
    argmax language over ``lang_id_scores`` (reused by
    corpus_curation_pipeline on the deduped/filtered survivors)."""
    scores = lang_id_scores(docs)
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("l"))
    return (
        scores.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("doc_id", F.col("l").alias("pred_lang"))
    )


@register(
    "doc_fingerprints",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    s AS (SELECT doc_id,
                 list_sort(list_distinct(
                   list_transform([array_to_string(ws[i:i+2], ' ')
                                   FOR i IN range(1, len(ws)-1)], x -> md5(x)))) AS h
          FROM t)
    SELECT doc_id, h[1] AS fingerprint, array_to_string(h[1:4], '|') AS sketch
    FROM s
    """,
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N4 fingerprinting: hash every 3-word shingle (the rolling-window
    pass), keep the minimum as the document fingerprint and the bottom-4
    as a containment sketch (bottom-k MinHash). md5 on both engines so
    the oracle hash-matches; winnowing (per-window minima) is the scale
    refinement noted for real plagiarism-style matching. Per-row map.
    Sketch serialized with array_join: the driver's pandas canonicalizer
    cannot sort list cells (CORRECTNESS_r02 'unhashable type: list')."""
    docs = load_table(spark, sf_dir, "documents")
    hashes = F.array_sort(
        F.array_distinct(F.transform(word_shingles("text", 3), lambda s: F.md5(s)))
    )
    # F.get, not element_at: docs shorter than the shingle width have an
    # empty hash array, and under ANSI mode (Spark 4 default) element_at
    # throws on it; get returns NULL, matching the oracle's h[1] on [].
    return docs.select(
        "doc_id",
        F.get(hashes, 0).alias("fingerprint"),
        F.array_join(F.slice(hashes, 1, 4), "|").alias("sketch"),
    )


@register(
    "tfidf_top_terms",
    oracle="""
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
    tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok GROUP BY doc_id, term),
    df AS (SELECT term, count(DISTINCT doc_id)::DOUBLE AS df FROM tok GROUP BY term),
    n AS (SELECT count(*)::DOUBLE AS n FROM documents)
    SELECT doc_id, term, round(tf.tf * ln(n.n / df.df), 4) AS tfidf
    FROM tf JOIN df USING (term) CROSS JOIN n
    QUALIFY row_number() OVER (PARTITION BY doc_id
                               ORDER BY tf.tf * ln(n.n / df.df) DESC, term) <= 3
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N4 TF-IDF: top-3 characteristic terms per document. DF table and
    corpus size are broadcast; the only big shuffle is the per-(doc,term)
    TF aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    tok = spread(docs).select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").cast("double").alias("tf"))
    df = tok.groupBy("term").agg(F.countDistinct("doc_id").cast("double").alias("df"))
    n = docs.agg(F.count("*").cast("double").alias("n"))
    scored = (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(n))
        .withColumn("_tfidf", F.col("tf") * F.log(F.col("n") / F.col("df")))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("_tfidf"), F.asc("term"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 3)
        .select("doc_id", "term", F.round("_tfidf", 4).alias("tfidf"))
    )


@register(
    "doc_sentiment",
    oracle=f"""
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
    lex AS (
      SELECT unnest({list(_POS_WORDS)}) AS w, 1 AS polarity
      UNION ALL
      SELECT unnest({list(_NEG_WORDS)}) AS w, -1 AS polarity
    )
    SELECT t.doc_id,
           sum(coalesce(lex.polarity, 0))::BIGINT AS sentiment_sum,
           round(sum(coalesce(lex.polarity, 0))::DOUBLE / count(*), 4) AS sentiment
    FROM tok t LEFT JOIN lex ON t.w = lex.w
    GROUP BY t.doc_id
    """,
)
def doc_sentiment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N4 lexicon sentiment (EDBT'16 pattern per SURVEY §2.11): token
    explode ⋈ broadcast polarity lexicon → per-doc normalized sum. The
    lexicon join is the pattern that scales to real lexicons (thousands
    of entries) where an in-expression literal array would not."""
    docs = load_table(spark, sf_dir, "documents")
    tok = spread(docs).select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    lex = local_frame(
        spark,
        [(w, 1) for w in _POS_WORDS] + [(w, -1) for w in _NEG_WORDS],
        "w string, polarity int",
    )
    return (
        tok.join(F.broadcast(lex), "w", "left")
        .groupBy("doc_id")
        .agg(
            F.sum(F.coalesce(F.col("polarity"), F.lit(0))).cast("long").alias("sentiment_sum"),
            F.round(F.sum(F.coalesce(F.col("polarity"), F.lit(0))) / F.count("*"), 4).alias("sentiment"),
        )
    )


# PII scrub: the synthetic corpus is PII-free, so — like the dedup
# queries' self-union / planted-twin pattern — the query plants its own
# deterministic PII (an email on doc_id % 10 = 0, a phone on % 10 = 5),
# then redacts and audits. Patterns stay in the regex subset Java and RE2
# execute identically (char classes + bounded repeats, no backrefs).
_EMAIL_RE = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z][a-z]+"
_PHONE_RE = "[0-9][0-9][0-9]-[0-9][0-9][0-9]-[0-9][0-9][0-9][0-9]"


@register(
    "pii_redact_corpus",
    oracle=f"""
    WITH planted AS (
      SELECT doc_id,
             CASE
               WHEN doc_id % 10 = 0 THEN text || ' contact user' || doc_id || '@example.com now'
               WHEN doc_id % 10 = 5 THEN text || ' call 555-867-' ||
                    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' today'
               ELSE text
             END AS text
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_EMAIL_RE}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(text, '{_PHONE_RE}')) AS BIGINT) AS n_phones,
           regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                          '{_PHONE_RE}', '<PHONE>', 'g') AS redacted_text
    FROM planted
    """,
)
def pii_redact_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N4+ PII redaction: detect and mask email/phone spans before a
    corpus ships to training, with per-doc audit counts — a pure per-row
    regex map (no shuffle at any scale; the patterns compile once per
    task and run inside whole-stage codegen, no Python)."""
    docs = load_table(spark, sf_dir, "documents")
    planted = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 10 == 0,
            F.concat(F.col("text"), F.lit(" contact user"), F.col("doc_id").cast("string"), F.lit("@example.com now")),
        )
        .when(
            F.col("doc_id") % 10 == 5,
            F.concat(
                F.col("text"),
                F.lit(" call 555-867-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                F.lit(" today"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return planted.select(
        "doc_id",
        F.regexp_count("text", F.lit(_EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count("text", F.lit(_PHONE_RE)).cast("long").alias("n_phones"),
        F.regexp_replace(
            F.regexp_replace("text", _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
        ).alias("redacted_text"),
    )


@register(
    "sequence_packing_manifest",
    oracle="""
    WITH tok AS (
      SELECT doc_id, source, len(string_split(text, ' ')) AS n_tok
      FROM documents
    ),
    packed AS (
      SELECT source, doc_id, n_tok,
             CAST(floor(COALESCE(SUM(n_tok) OVER (
                 PARTITION BY source ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 256.0) AS BIGINT)
               AS pack_id
      FROM tok
    )
    SELECT source, pack_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS pack_tokens,
           min(doc_id) AS first_doc
    FROM packed GROUP BY source, pack_id
    """,
)
def sequence_packing_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N4+ sequence packing: assign documents to fixed token-budget packs
    (256 tokens) per source shard — the batch-construction step before
    LLM training. Deterministic capacity chunking: a doc joins the pack
    its exclusive running token count falls in, so packs can overflow by
    at most one doc (the distributed-friendly variant of greedy first-fit,
    which is inherently sequential).

    Scale hygiene: one shuffle on the shard key (source) feeds both the
    running-sum window and the pack rollup — Catalyst reuses the exchange;
    shards are independent so parallelism is the shard count."""
    docs = load_table(spark, sf_dir, "documents")
    tok = spread(docs).select("doc_id", "source", F.size(F.split("text", " ")).alias("n_tok"))
    w = Window.partitionBy("source").orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
    packed = tok.withColumn(
        "pack_id", F.floor(F.coalesce(F.sum("n_tok").over(w), F.lit(0)) / 256.0).cast("long")
    )
    return packed.groupBy("source", "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("long").alias("pack_tokens"),
        F.min("doc_id").alias("first_doc"),
    )


@register(
    "doc_token_entropy",
    oracle="""
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
    cnt AS (SELECT doc_id, w, count(*)::DOUBLE AS c FROM tok GROUP BY doc_id, w),
    tot AS (SELECT doc_id, sum(c) AS n, sum(c * ln(c)) AS clogc FROM cnt GROUP BY doc_id)
    SELECT doc_id,
           ROUND(ln(n) - clogc / n, 4) AS token_entropy,
           CAST(n AS BIGINT) AS n_tokens
    FROM tot
    """,
)
def doc_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N4 lexical-diversity score: Shannon entropy of the per-document
    unigram distribution (H = ln n − Σ c·ln c / n) — low entropy flags
    repetitive/boilerplate docs for the quality cut. Explode → two
    partial-aggregatable group-bys, both keyed on doc_id, so one exchange
    serves both (tokens of a doc start co-located in its row)."""
    docs = load_table(spark, sf_dir, "documents")
    tok = spread(docs).select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    cnt = tok.groupBy("doc_id", "w").agg(F.count(F.lit(1)).cast("double").alias("c"))
    tot = cnt.groupBy("doc_id").agg(
        F.sum("c").alias("n"), F.sum(F.col("c") * F.log("c")).alias("clogc")
    )
    return tot.select(
        "doc_id",
        F.round(F.log("n") - F.col("clogc") / F.col("n"), 4).alias("token_entropy"),
        F.col("n").cast("long").alias("n_tokens"),
    )


@register(
    "doc_repetition_scores",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    g AS (
      SELECT doc_id,
             len(toks) AS n,
             list_transform(generate_series(1, len(toks) - 1),
                            i -> toks[i] || ' ' || toks[i + 1]) AS bigrams,
             list_transform(generate_series(1, len(toks) - 2),
                            i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])
                 AS trigrams
      FROM t
    )
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_tokens,
           ROUND(CASE WHEN len(bigrams) > 0
                 THEN 1.0 - len(list_distinct(bigrams))::DOUBLE / len(bigrams)
                 ELSE 0.0 END, 4) AS dup_bigram_frac,
           ROUND(CASE WHEN len(trigrams) > 0
                 THEN 1.0 - len(list_distinct(trigrams))::DOUBLE / len(trigrams)
                 ELSE 0.0 END, 4) AS dup_trigram_frac
    FROM g
    """,
)
def doc_repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N4 repetition scoring (the Gopher-rules duplicate-n-gram heuristic,
    Rae et al. 2021 §A1.1): fraction of a document's word bigrams and
    trigrams that are repeats of an earlier n-gram in the same document —
    high values flag boilerplate/spam for the quality cut, complementing
    the distribution-level view of ``doc_token_entropy``.

    Everything is per-row higher-order-function algebra (slice + zip_with
    to build n-grams, array_distinct to count uniques) — JVM-side, zero
    shuffle, embarrassingly parallel at 100 TB. The slice lengths are
    clamped with greatest(…, 0) so 1-token docs yield empty n-gram arrays
    instead of a negative-length slice error (and never hit Spark's
    descending-sequence surprise for sequence(1, 0))."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n = F.size(toks)

    def ngrams(k: int):
        ln = F.greatest(n - (k - 1), F.lit(0))
        parts = [F.slice(toks, i + 1, ln) for i in range(k)]
        out = parts[0]
        for p in parts[1:]:
            out = F.zip_with(out, p, lambda x, y: F.concat(x, F.lit(" "), y))
        return out

    def dup_frac(arr):
        m = F.size(arr)
        return F.round(
            F.when(m > 0, 1.0 - F.size(F.array_distinct(arr)).cast("double") / m)
            .otherwise(F.lit(0.0)),
            4,
        )

    return docs.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        dup_frac(ngrams(2)).alias("dup_bigram_frac"),
        dup_frac(ngrams(3)).alias("dup_trigram_frac"),
    )


# bpe_merge_table / bpe_token_counts (rows-only) were DEREGISTERED in
# r16: the `_explicit` twins below run the IDENTICAL 16-merge training
# chain (same operators/bpe.py train/apply, same tie-breaks) but carry
# the unrolled MATERIALIZED-CTE oracle, so keeping the rows-only pair
# registered only duplicated the computation with a weaker check
# (VERDICT r15 #1's "rows-only block shrinks" done-criterion). The
# pure-Python-reference parity pins in tests/test_bpe.py still cover
# the operators directly.

_BPE_MERGES = 16


def _bpe_oracle_prefix(n_merges: int) -> str:
    """Unrolled greedy BPE training chain as MATERIALIZED CTEs (the
    HITS/LPA/coreness discipline): w0 is the (word, freq, syms) table;
    each round k explodes symbol positions (p{k}), picks the argmax pair
    with the same (freq DESC, lhs ASC, rhs ASC) tie-break the Spark
    trainer uses (t{k}), marks greedy-left non-overlapping candidate
    positions — within a run of consecutive candidates (only possible
    when lhs == rhs) exactly the odd-ranked ones merge, the positional
    twin of the fold in operators/bpe.py:_merge_pair_in_syms — (c{k},
    k{k}), and rebuilds the symbol lists (w{k}). All integer/string, so
    the chain hash-checks round-for-round."""
    steps = []
    for k in range(1, n_merges + 1):
        steps.append(
            f"""p{k} AS MATERIALIZED (
      SELECT word, freq, i, syms[i] AS s,
             CASE WHEN i < len(syms) THEN syms[i+1] END AS s2
      FROM w{k - 1}, UNNEST(generate_series(1, len(syms))) AS t(i)
    ), t{k} AS MATERIALIZED (
      SELECT s AS lhs, s2 AS rhs, CAST(SUM(freq) AS BIGINT) AS pair_freq
      FROM p{k} WHERE s2 IS NOT NULL
      GROUP BY s, s2
      ORDER BY pair_freq DESC, lhs ASC, rhs ASC LIMIT 1
    ), c{k} AS MATERIALIZED (
      SELECT p.word, p.i,
             p.i - row_number() OVER (PARTITION BY p.word ORDER BY p.i) AS grp
      FROM p{k} p, t{k} t WHERE p.s = t.lhs AND p.s2 = t.rhs
    ), k{k} AS MATERIALIZED (
      SELECT word, i FROM (
        SELECT word, i,
               row_number() OVER (PARTITION BY word, grp ORDER BY i) AS rn
        FROM c{k}) WHERE rn % 2 = 1
    ), w{k} AS MATERIALIZED (
      SELECT p.word, p.freq,
             list(CASE WHEN m.i IS NOT NULL THEN p.s || p.s2 ELSE p.s END
                  ORDER BY p.i) AS syms
      FROM p{k} p
      LEFT JOIN k{k} m ON p.word = m.word AND p.i = m.i
      LEFT JOIN k{k} x ON p.word = x.word AND p.i = x.i + 1
      WHERE x.i IS NULL
      GROUP BY p.word, p.freq
    )"""
        )
    chain = ",\n    ".join(steps)
    return f"""WITH wf AS MATERIALIZED (
      SELECT w AS word, CAST(count(*) AS BIGINT) AS freq
      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE len(w) > 0 GROUP BY w
    ), w0 AS MATERIALIZED (
      SELECT word, freq, list_append(string_split(word, ''), '</w>') AS syms
      FROM wf
    ),
    {chain}"""


def _bpe_merge_table_oracle(n_merges: int) -> str:
    sel = "\n      UNION ALL ".join(
        f"SELECT {k - 1} AS merge_rank, lhs, rhs, lhs || rhs AS merged,"
        f" pair_freq FROM t{k}"
        for k in range(1, n_merges + 1)
    )
    return _bpe_oracle_prefix(n_merges) + f"\n    {sel}"


def _bpe_token_counts_oracle(n_merges: int) -> str:
    return (
        _bpe_oracle_prefix(n_merges)
        + f""",
    nt AS MATERIALIZED (
      SELECT word, CAST(len(syms) AS BIGINT) AS n_tok FROM w{n_merges}
    )
    SELECT doc_id,
           CAST(SUM(n.n_tok) AS BIGINT) AS n_bpe_tokens,
           CAST(count(*) AS BIGINT) AS n_ws_tokens
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
          FROM documents) t
    JOIN nt n USING (word)
    WHERE len(t.word) > 0
    GROUP BY doc_id"""
    )


def _staged_bpe_merges(spark: SparkSession, sf_dir: str) -> str:
    """Build-once staged MERGE TABLE (r18, VERDICT r17 What's-wrong #3):
    the 16-merge greedy train chain runs ONCE per fixture content
    version and publishes its 16-row table content-addressed; every
    consumer (merge-table rung, apply rung, fertility rollup) serves
    from the staged rows instead of replaying training inline — the
    same staged-store discipline as the edge/index/band stores. Before
    this split the fertility query executed 38 sub-queries / 59 scans
    per call (PLAN_AUDIT r17) because the train chain re-ran inside it."""
    from pathlib import Path

    from dataengineerchallenge_spark.sources.sinks import write_result
    from dataengineerchallenge_spark.staging import staged

    def build(out: Path) -> None:
        from dataengineerchallenge_spark.operators.bpe import train_bpe

        docs = load_table(spark, sf_dir, "documents")
        merges = train_bpe(docs, "text", n_merges=_BPE_MERGES)
        write_result(
            spark.createDataFrame(
                [
                    (m["rank"], m["left"], m["right"], m["merged"], m["pair_freq"])
                    for m in merges
                ],
                "merge_rank int, lhs string, rhs string, merged string,"
                " pair_freq bigint",
            ),
            str(out),
            coalesce_to=1,
        )

    return staged(
        spark,
        "bpe_merges",
        Path(sf_dir) / "documents.parquet",
        f"bpe:m{_BPE_MERGES}",
        build,
    )


def _staged_bpe_merges_list(spark: SparkSession, sf_dir: str) -> list[dict]:
    """The staged merge table rematerialized as the rank-ordered list
    apply_bpe consumes (16 rows — the drained-store KB-scale shape)."""
    rows = spark.read.parquet(_staged_bpe_merges(spark, sf_dir)).collect()
    rows.sort(key=lambda r: r["merge_rank"])
    return [
        {
            "rank": r["merge_rank"],
            "left": r["lhs"],
            "right": r["rhs"],
            "merged": r["merged"],
            "pair_freq": r["pair_freq"],
        }
        for r in rows
    ]


@register("bpe_merge_table_explicit", oracle=_bpe_merge_table_oracle(_BPE_MERGES))
def bpe_merge_table_explicit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N4 tokenizer training, HASH-GREEN twin of ``bpe_merge_table``: the
    identical 16-merge greedy chain (operators/bpe.py:train_bpe — max
    pair frequency, ties broken lexicographically on (lhs, rhs)), but
    oracled by an unrolled MATERIALIZED-CTE replay of the same rounds:
    per round the oracle re-derives the argmax pair FROM THE DATA and
    re-applies the greedy-left rewrite positionally (runs of consecutive
    candidates — only when lhs == rhs — merge at odd ranks, exactly the
    fold semantics). This upgrades the only deterministic rows-only text
    family to a value-hash check: the merge table is a pure function of
    the corpus, so both engines must agree symbol-for-symbol.

    Scale: training cost is one corpus-wide word-frequency shuffle; the
    16 merge rounds iterate on the distinct-word table (KB-scale here,
    MB-scale at 100 TB) with a 1-row argmax collect per round — the same
    driver-side stance as an MLlib fit. The chain runs ONCE through the
    staged store (r18); this rung is build+serve."""
    return spark.read.parquet(_staged_bpe_merges(spark, sf_dir)).select(
        "merge_rank", "lhs", "rhs", "merged", "pair_freq"
    )


@register("bpe_token_counts_explicit", oracle=_bpe_token_counts_oracle(_BPE_MERGES))
def bpe_token_counts_explicit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N4 tokenizer applied, HASH-GREEN twin of ``bpe_token_counts``:
    per-document BPE token counts under the 16-merge vocabulary, oracled
    end-to-end — the unrolled training replay (see
    ``bpe_merge_table_explicit``) feeds a word → token-count join that
    re-aggregates per document. Train → apply is now value-checked as
    one composed pipeline, the budget-in-real-tokens primitive sequence
    packing needs.

    Scale: apply is a broadcast join of the rewritten distinct-word
    table onto one exploded corpus pass (operators/bpe.py:apply_bpe) —
    corpus bytes are touched exactly once; the merge table is SERVED
    from the staged store (r18), never re-trained inline."""
    from dataengineerchallenge_spark.operators.bpe import apply_bpe

    docs = load_table(spark, sf_dir, "documents")
    merges = _staged_bpe_merges_list(spark, sf_dir)
    return apply_bpe(docs, merges, "text", "doc_id")


@register(
    "bm25_keyword_search",
    oracle="""
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
    stats AS (SELECT count(*)::DOUBLE AS n,
                     avg(len(string_split(text, ' ')))::DOUBLE AS avgdl FROM documents),
    dl AS (SELECT doc_id, len(string_split(text, ' '))::DOUBLE AS dl FROM documents),
    tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok
           WHERE term IN ('vector', 'stream', 'hash') GROUP BY doc_id, term),
    df AS (SELECT term, count(DISTINCT doc_id)::DOUBLE AS df FROM tok
           WHERE term IN ('vector', 'stream', 'hash') GROUP BY term),
    scored AS (
      SELECT tf.doc_id,
             CAST(ROUND(ln(1 + (stats.n - df.df + 0.5) / (df.df + 0.5))
                  * tf.tf * 2.2
                  / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl))
                  * 1000000) AS BIGINT) AS term_micropoints
      FROM tf JOIN df USING (term) JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats)
    SELECT doc_id, CAST(SUM(term_micropoints) AS BIGINT) AS bm25_micropoints
    FROM scored GROUP BY doc_id
    ORDER BY bm25_micropoints DESC, doc_id LIMIT 20
    """,
)
def bm25_keyword_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N4 text retrieval: Okapi BM25 (k1=1.2, b=0.75) top-20 documents for
    a fixed keyword query — the scoring pass of a retrieval-based
    curation/decontamination filter. Per-term scores are integerized to
    micropoints (exact.py discipline, scale 6) before the per-doc SUM so
    the 1-3-term addition is order-free bigint arithmetic; the double
    expression inside ROUND is the same operand DAG in both engines.

    Scale hygiene: the token explode is filtered to the query terms
    BEFORE the TF aggregate (predicate on the generator output — at
    100 TB this is the difference between shuffling every token and
    shuffling only query-term hits); the 3-row DF table and the 1-row
    corpus stats join broadcast. The per-doc-length table is one row per
    CORPUS document, so it must NOT be broadcast — the tf⋈dl join is
    left unhinted and AQE picks the physical side (tf, post-filter, is
    the small one; at sf0.1 AQE plans it broadcast in the correct
    direction, and at 100 TB it degrades gracefully to a shuffle join
    instead of OOMing every executor). Top-20 is TakeOrderedAndProject,
    never a global sort."""
    return (
        bm25_micropoints_frame(load_table(spark, sf_dir, "documents"))
        .orderBy(F.desc("bm25_micropoints"), F.asc("doc_id"))
        .limit(20)
    )


def bm25_micropoints_frame(docs: DataFrame, terms=("vector", "stream", "hash")) -> DataFrame:
    """(doc_id, bm25_micropoints) for the fixed keyword query — the
    scoring half of `bm25_keyword_search`, shared with the hybrid-RRF
    fusion rung (identical expressions, so both consumers ride the same
    oracle arithmetic)."""
    toks = spread(docs).select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).filter(F.col("term").isin(*terms))
    dl = docs.select("doc_id", F.size(F.split("text", " ")).cast("double").alias("dl"))
    # one corpus scan feeds both per-doc lengths and the (n, avgdl) scalar;
    # df folds over tf's (doc, term) rows — never a second token explode
    stats = dl.agg(
        F.count("*").cast("double").alias("n"), F.avg("dl").alias("avgdl")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").cast("double").alias("tf"))
    df = tf.groupBy("term").agg(F.count("*").cast("double").alias("df"))
    idf = F.log(F.lit(1) + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    denom = F.col("tf") + 1.2 * (F.lit(1) - 0.75 + 0.75 * F.col("dl") / F.col("avgdl"))
    scored = (
        tf.join(F.broadcast(df), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.round(idf * F.col("tf") * 2.2 / denom * 1_000_000, 0)
            .cast("bigint")
            .alias("term_micropoints"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.sum("term_micropoints").alias("bm25_micropoints")
    )


@register(
    "doc_chunk_windows",
    oracle="""
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    s AS (SELECT doc_id, toks,
                 unnest(range(0, len(toks), 30)) AS start_token FROM d)
    SELECT doc_id,
           CAST(start_token / 30 AS BIGINT) AS chunk_idx,
           CAST(start_token AS BIGINT) AS start_token,
           CAST(LEAST(40, len(toks) - start_token) AS BIGINT) AS chunk_tokens,
           array_to_string(
             toks[start_token + 1 : start_token + LEAST(40, len(toks) - start_token)],
             ' ') AS chunk_text
    FROM s
    """,
)
def doc_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N4 document chunking: sliding token windows (40 tokens, stride 30,
    10-token overlap) — the context-window splitter that precedes
    embedding / training-example construction. Complements
    sequence_packing_manifest (which packs whole short docs; this splits
    long ones). Pure per-row generate-and-slice: sequence() + explode +
    slice + array_join, no shuffle at all — at 100 TB this is a map-only
    stage whose output is larger than its input (overlap), which is why
    it must NOT cost a shuffle.

    The window grid is anchored at token 0 (start = 0, 30, 60, ... <
    n_tokens), so the final window may be shorter than the stride; both
    engines enumerate the identical grid (DuckDB exclusive-stop range ==
    Spark inclusive-stop sequence over 0..n-1)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n = F.size(toks)
    chunk_len = F.least(F.lit(40), F.size("toks") - F.col("start_token"))
    return (
        spread(docs)
        .select(
            "doc_id",
            toks.alias("toks"),
            F.explode(F.sequence(F.lit(0), n - 1, F.lit(30))).alias("start_token"),
        )
        .select(
            "doc_id",
            (F.col("start_token") / 30).cast("bigint").alias("chunk_idx"),
            F.col("start_token").cast("bigint").alias("start_token"),
            chunk_len.cast("bigint").alias("chunk_tokens"),
            F.array_join(
                F.slice(F.col("toks"), F.col("start_token") + 1, chunk_len), " "
            ).alias("chunk_text"),
        )
    )


@register(
    "doc_lm_perplexity",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    v AS (
      SELECT COUNT(DISTINCT w) AS vsz
      FROM (SELECT unnest(ws) AS w FROM t)
    ),
    bg AS (
      SELECT doc_id,
             unnest([ws[i] || ' ' || ws[i + 1] FOR i IN range(1, len(ws))]) AS bg
      FROM t WHERE len(ws) >= 2
    ),
    bgx AS (SELECT doc_id, bg, split_part(bg, ' ', 1) AS ctx FROM bg),
    cbg AS (SELECT bg, count(*)::DOUBLE AS cb FROM bgx GROUP BY bg),
    cctx AS (SELECT ctx, count(*)::DOUBLE AS cc FROM bgx GROUP BY ctx),
    scored AS (
      SELECT x.doc_id,
             -log2((cbg.cb + 1.0) / (cctx.cc + v.vsz)) AS nll
      FROM bgx x JOIN cbg USING (bg) JOIN cctx USING (ctx) CROSS JOIN v
    )
    SELECT doc_id,
           count(*)::BIGINT AS n_bigrams,
           ROUND(avg(nll), 4) AS bits_per_bigram,
           ROUND(pow(2.0, avg(nll)), 4) AS perplexity
    FROM scored GROUP BY doc_id
    """,
)
def doc_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N4 statistical-LM quality score (the CCNet signal — Wenzek et
    al. LREC'20 filter corpora by LM perplexity; Heafield's KenLM is
    the usual scorer): train a Laplace-smoothed bigram model on the
    corpus itself and score every document by bits-per-bigram,
    -avg log2 P(w2|w1) with P = (C(w1 w2)+1) / (C(w1 .)+V).
    Formulaic/boilerplate text scores low (predictable), lexical noise
    and mid-document language flips score high — a quality axis the
    length/stopword heuristics (doc_quality_scores) and unigram entropy
    (doc_token_entropy) both miss because neither conditions on order.

    Train and score are ONE pass over the exploded bigram frame: count
    tables group on the bigram / context key (partial-agg friendly),
    scoring re-joins them on the same keys, V rides in as a broadcast
    1-row aggregate. At 100 TB the bigram count table is the only large
    side table and both joins are equi-joins on its natural key — no
    all-pairs step anywhere. Self-training is the fixture stand-in for
    CCNet's external reference corpus; pointing the count tables at a
    curated reference table changes one load, not the shape."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    toks = docs.select("doc_id", F.split("text", " ").alias("ws"))
    vocab = toks.select(F.explode("ws").alias("w")).agg(
        F.count_distinct("w").cast("double").alias("vsz")
    )
    bgx = (
        toks.filter(F.size("ws") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(ws) - 2),"
                    " i -> concat(ws[i], ' ', ws[i + 1]))"
                )
            ).alias("bg"),
        )
        .withColumn("ctx", F.substring_index("bg", " ", 1))
    )
    cbg = bgx.groupBy("bg").agg(F.count(F.lit(1)).cast("double").alias("cb"))
    cctx = bgx.groupBy("ctx").agg(F.count(F.lit(1)).cast("double").alias("cc"))
    scored = (
        bgx.join(cbg, "bg")
        .join(cctx, "ctx")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            (-F.log2((F.col("cb") + F.lit(1.0)) / (F.col("cc") + F.col("vsz")))).alias(
                "nll"
            ),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.round(F.avg("nll"), 4).alias("bits_per_bigram"),
        F.round(F.pow(F.lit(2.0), F.avg("nll")), 4).alias("perplexity"),
    )


_KN_DISCOUNT = 0.75


def kn_perplexity_frame(docs: DataFrame) -> DataFrame:
    """(doc_id, n_bigrams, bits_micropoints, perplexity) under an
    INTERPOLATED KNESER-NEY bigram model (Kneser & Ney, ICASSP 1995;
    Chen & Goodman, CSL 1999 — the public formulation) trained on the
    corpus itself with a fixed absolute discount D = 0.75:

        P(w2|w1) = max(c(w1 w2) - D, 0)/c(w1 ·)
                   + D · N1+(w1,·)/c(w1 ·) · N1+(·,w2)/|bigram types|

    The continuation probability N1+(·,w2)/T is KN's signature: a word
    seen often but only inside one collocation ("Francisco") gets LOW
    continuation mass — exactly the repetition/boilerplate signal a
    curation filter wants that Laplace smoothing (doc_lm_perplexity)
    blurs. Scoring the training corpus means every scored bigram has
    c >= 1, so the max() never clips and log2 never sees 0.

    Every model statistic is an integer function of the corpus (counts,
    distinct-continuation counts, type count), so both engines derive
    identical doubles per bigram; each bigram's -log2 P is integerized
    to nano-points BEFORE the per-doc sum (order-free bigint addition)
    and the per-doc mean closes with one rounded division.

    Scale shape: identical to doc_lm_perplexity plus two more count
    tables (forward/backward distinct-continuation counts), all
    partial-agg aggregates on natural keys re-joined as equi-joins; the
    1-row type count broadcasts. No all-pairs step anywhere."""
    toks = docs.select("doc_id", F.split("text", " ").alias("ws"))
    bgx = (
        toks.filter(F.size("ws") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(ws) - 2),"
                    " i -> concat(ws[i], ' ', ws[i + 1]))"
                )
            ).alias("bg"),
        )
        .withColumn("ctx", F.substring_index("bg", " ", 1))
        .withColumn("nxt", F.substring_index("bg", " ", -1))
    )
    cbg = bgx.groupBy("bg").agg(F.count(F.lit(1)).cast("double").alias("cb"))
    cctx = bgx.groupBy("ctx").agg(F.count(F.lit(1)).cast("double").alias("cc"))
    types = bgx.select("bg").distinct()
    n1_fwd = types.select(
        F.substring_index("bg", " ", 1).alias("ctx")
    ).groupBy("ctx").agg(F.count(F.lit(1)).cast("double").alias("nf"))
    n1_bwd = types.select(
        F.substring_index("bg", " ", -1).alias("nxt")
    ).groupBy("nxt").agg(F.count(F.lit(1)).cast("double").alias("nb"))
    ttot = types.agg(F.count(F.lit(1)).cast("double").alias("tt"))
    d = F.lit(_KN_DISCOUNT)
    p = (F.col("cb") - d) / F.col("cc") + d * F.col("nf") / F.col("cc") * (
        F.col("nb") / F.col("tt")
    )
    scored = (
        bgx.join(cbg, "bg")
        .join(cctx, "ctx")
        .join(n1_fwd, "ctx")
        .join(n1_bwd, "nxt")
        .crossJoin(F.broadcast(ttot))
        .select(
            "doc_id",
            F.round(-F.log2(p) * 1000000000.0, 0).cast("bigint").alias("nll_nano"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.round(F.sum("nll_nano") / (F.count(F.lit(1)) * 1000.0), 0)
        .cast("bigint")
        .alias("bits_micropoints"),
        F.round(
            F.pow(
                F.lit(2.0),
                F.sum("nll_nano") / (F.count(F.lit(1)) * 1000000000.0),
            ),
            4,
        ).alias("perplexity"),
    )


@register(
    "doc_kn_perplexity",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    bgx AS (
      SELECT doc_id, bg,
             split_part(bg, ' ', 1) AS ctx,
             split_part(bg, ' ', 2) AS nxt
      FROM (
        SELECT doc_id,
               unnest([ws[i] || ' ' || ws[i + 1] FOR i IN range(1, len(ws))]) AS bg
        FROM t WHERE len(ws) >= 2
      )
    ),
    cbg AS (SELECT bg, count(*)::DOUBLE AS cb FROM bgx GROUP BY bg),
    cctx AS (SELECT ctx, count(*)::DOUBLE AS cc FROM bgx GROUP BY ctx),
    types AS (SELECT DISTINCT bg FROM bgx),
    n1f AS (SELECT split_part(bg, ' ', 1) AS ctx, count(*)::DOUBLE AS nf
            FROM types GROUP BY 1),
    n1b AS (SELECT split_part(bg, ' ', 2) AS nxt, count(*)::DOUBLE AS nb
            FROM types GROUP BY 1),
    tt AS (SELECT count(*)::DOUBLE AS tt FROM types),
    scored AS (
      SELECT x.doc_id,
             CAST(ROUND(-log2((cbg.cb - 0.75) / cctx.cc
                              + 0.75 * n1f.nf / cctx.cc * (n1b.nb / tt.tt))
                        * 1000000000.0, 0) AS BIGINT) AS nll_nano
      FROM bgx x JOIN cbg USING (bg) JOIN cctx USING (ctx)
      JOIN n1f USING (ctx) JOIN n1b USING (nxt) CROSS JOIN tt
    )
    SELECT doc_id,
           count(*)::BIGINT AS n_bigrams,
           CAST(ROUND(SUM(nll_nano) / (count(*) * 1000.0), 0) AS BIGINT)
             AS bits_micropoints,
           ROUND(pow(2.0, SUM(nll_nano) / (count(*) * 1000000000.0)), 4)
             AS perplexity
    FROM scored GROUP BY doc_id
    """,
)
def doc_kn_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N4 Kneser-Ney LM quality score — see kn_perplexity_frame. The
    production-grade counterpart of doc_lm_perplexity's Laplace model
    (KenLM's default smoothing, hence what CCNet-style filters really
    run)."""
    return kn_perplexity_frame(spread(load_table(spark, sf_dir, "documents")))


# Shared CTE chain ending at `b` = (doc_id, pred_lang, perplexity,
# n_tokens, bucket): the per-doc CCNet grid assignment, reused by the
# bucketing rollup below and the grid-mix sampler in queries/mixing.py
# (same discipline as the Spark side's _lang_quality_bucket_frame).
LANG_QUALITY_GRID_CTES = """
    tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w FROM documents),
    lw AS (SELECT lang AS l, w, count(*)::DOUBLE AS c FROM tok GROUP BY lang, w),
    ltot AS (SELECT lang AS l, count(*)::DOUBLE AS n FROM tok GROUP BY lang),
    vocab AS (SELECT count(DISTINCT w)::DOUBLE AS v FROM tok),
    langs AS (SELECT DISTINCT lang AS l FROM documents),
    lscores AS (
      SELECT t.doc_id, langs.l,
             sum(ln((coalesce(lw.c, 0) + 1) / (ltot.n + vocab.v))) AS score
      FROM tok t CROSS JOIN langs
      LEFT JOIN lw ON lw.l = langs.l AND lw.w = t.w
      JOIN ltot ON ltot.l = langs.l CROSS JOIN vocab
      GROUP BY t.doc_id, langs.l
    ),
    pred AS (
      SELECT doc_id, l AS pred_lang FROM lscores
      QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, l) = 1
    ),
    t2 AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    v2 AS (
      SELECT COUNT(DISTINCT w) AS vsz
      FROM (SELECT unnest(ws) AS w FROM t2)
    ),
    bg AS (
      SELECT doc_id,
             unnest([ws[i] || ' ' || ws[i + 1] FOR i IN range(1, len(ws))]) AS bg
      FROM t2 WHERE len(ws) >= 2
    ),
    bgx AS (SELECT doc_id, bg, split_part(bg, ' ', 1) AS ctx FROM bg),
    cbg AS (SELECT bg, count(*)::DOUBLE AS cb FROM bgx GROUP BY bg),
    cctx AS (SELECT ctx, count(*)::DOUBLE AS cc FROM bgx GROUP BY ctx),
    nll AS (
      SELECT x.doc_id,
             -log2((cbg.cb + 1.0) / (cctx.cc + v2.vsz)) AS nll
      FROM bgx x JOIN cbg USING (bg) JOIN cctx USING (ctx) CROSS JOIN v2
    ),
    ppl AS (
      SELECT doc_id, ROUND(pow(2.0, avg(nll)), 4) AS perplexity
      FROM nll GROUP BY doc_id
    ),
    ntok AS (
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    j AS (
      SELECT p.doc_id, pred.pred_lang, p.perplexity, ntok.n_tokens
      FROM ppl p JOIN pred USING (doc_id) JOIN ntok USING (doc_id)
    ),
    r AS (
      SELECT *,
             row_number() OVER (PARTITION BY pred_lang
                                ORDER BY perplexity, doc_id) AS rn,
             count(*) OVER (PARTITION BY pred_lang) AS n
      FROM j
    ),
    th AS (
      SELECT pred_lang,
             MAX(CASE WHEN rn = (n + 2) // 3 THEN perplexity END) AS t1,
             MAX(CASE WHEN rn = (2 * n + 2) // 3 THEN perplexity END) AS t2
      FROM r GROUP BY pred_lang
    ),
    b AS (
      SELECT j.*,
             CASE WHEN perplexity <= t1 THEN 'head'
                  WHEN perplexity <= t2 THEN 'middle'
                  ELSE 'tail' END AS bucket
      FROM j JOIN th USING (pred_lang)
    )"""

_LANG_QUALITY_ORACLE = f"""
    WITH {LANG_QUALITY_GRID_CTES},
    g AS (
      SELECT pred_lang AS lang, bucket,
             count(*)::BIGINT AS n_docs,
             sum(n_tokens)::BIGINT AS bucket_tokens
      FROM b GROUP BY 1, 2
    )
    SELECT lang, bucket, n_docs, bucket_tokens,
           ROUND(bucket_tokens /
                 CAST(sum(bucket_tokens) OVER (PARTITION BY lang) AS DOUBLE),
                 4) AS token_share
    FROM g
    """


def lang_quality_bucket_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, pred_lang, perplexity, n_tokens, bucket) — the per-doc
    CCNet grid assignment shared by the bucketing rollup and the
    grid-mix sampler (queries/mixing.py:ccnet_grid_mix). Tercile
    thresholds are nearest-rank selections over ROUND(4) perplexities,
    so bucket labels are grid-exact cross-engine."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    lang = lang_id_frame(docs)
    ppl = doc_lm_perplexity(spark, sf_dir).select("doc_id", "perplexity")
    ntok = docs.select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    )
    # j is consumed TWICE (tercile-threshold aggregate + final bucket
    # join); without a materialization point the whole lang-id scoring
    # and bigram-LM subtree re-executes for each consumer — the r20
    # before-plan showed 25 parquet scans / 95 HashAggregates with only
    # 4 ReusedExchange across the two copies (plans/r20/
    # corpus_lang_quality_buckets_before.txt). Checkpointing the
    # |docs|-row (doc_id, pred_lang, perplexity, n_tokens) frame runs
    # the text passes once; values are identical (perplexity is already
    # ROUND(4)-gridded before this point).
    j = ppl.join(lang, "doc_id").join(ntok, "doc_id").localCheckpoint()
    part = Window.partitionBy("pred_lang")
    ranked = j.withColumn(
        "rn", F.row_number().over(part.orderBy("perplexity", "doc_id"))
    ).withColumn("n", F.count(F.lit(1)).over(part))
    sel = lambda k: F.max(  # noqa: E731
        F.when(F.col("rn") == k, F.col("perplexity"))
    )
    th = ranked.groupBy("pred_lang").agg(
        sel(((F.col("n") + 2) / 3).cast("long")).alias("t1"),
        sel(((2 * F.col("n") + 2) / 3).cast("long")).alias("t2"),
    )
    return (
        j.join(F.broadcast(th), "pred_lang")
        .withColumn(
            "bucket",
            F.when(F.col("perplexity") <= F.col("t1"), "head")
            .when(F.col("perplexity") <= F.col("t2"), "middle")
            .otherwise("tail"),
        )
        .select("doc_id", "pred_lang", "perplexity", "n_tokens", "bucket")
    )


@register("corpus_lang_quality_buckets", oracle=_LANG_QUALITY_ORACLE)
def corpus_lang_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N4+++ CCNet corpus partitioning (Wenzek et al. LREC'20 — the
    signature output of that pipeline, VERDICT r14 #3): compose the two
    hash-green quality axes the repo already has — lang-ID winners
    (`doc_lang_id`) and bigram-LM perplexity (`doc_lm_perplexity`) —
    into per-language HEAD / MIDDLE / TAIL buckets by perplexity
    terciles, the grid CCNet samples pretraining corpora from (head =
    most-fluent third of each language; tercile thresholds are
    nearest-rank selections, k = ceil(n/3) and ceil(2n/3), so both
    engines pick an ACTUAL rounded datum — no interpolation drift).
    Emits (lang, bucket, n_docs, bucket_tokens, token_share) where
    token_share is the bucket's fraction of its LANGUAGE's tokens —
    exactly the number a mixing stage weights by.

    Scale shape: both signal queries are linear passes (their own
    docstrings); the composition adds one |docs|-row equi-join chain,
    one window per language (bounded by language cardinality, the same
    shuffle key as the final aggregate), and a broadcast-sized
    threshold frame. At 100 TB the ranked-window tercile would swap to
    the mergeable approx-percentile form `elb_backend_latency_
    percentiles_approx` documents — one conf, same columns."""
    from pyspark.sql import Window

    b = lang_quality_bucket_frame(spark, sf_dir)
    g = b.groupBy(F.col("pred_lang").alias("lang"), "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("bucket_tokens"),
    )
    lw = Window.partitionBy("lang")
    return g.select(
        "lang",
        "bucket",
        "n_docs",
        "bucket_tokens",
        F.round(
            F.col("bucket_tokens") / F.sum("bucket_tokens").over(lw).cast("double"),
            4,
        ).alias("token_share"),
    )


@register(
    "doc_gopher_repetition_flags",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), base AS (
      SELECT doc_id, ws, len(ws) AS n_words,
             [ws[i] || ' ' || ws[i + 1] FOR i IN range(1, len(ws))] AS bg,
             [ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2]
              FOR i IN range(1, len(ws) - 1)] AS tg
      FROM t WHERE len(ws) >= 3
    ), wf AS (
      SELECT doc_id, max(c) AS top_word_n FROM (
        SELECT doc_id, count(*) AS c
        FROM (SELECT doc_id, unnest(ws) AS w FROM base)
        GROUP BY doc_id, w
      ) GROUP BY doc_id
    )
    SELECT b.doc_id,
           CAST(b.n_words AS BIGINT) AS n_words,
           ROUND(wf.top_word_n / CAST(b.n_words AS DOUBLE), 4)
             AS top_word_share,
           (wf.top_word_n / CAST(b.n_words AS DOUBLE) > 0.20
            OR 1.0 - len(list_distinct(b.bg)) / CAST(len(b.bg) AS DOUBLE) > 0.30
            OR 1.0 - len(list_distinct(b.tg)) / CAST(len(b.tg) AS DOUBLE) > 0.20)
             AS repetitive
    FROM base b JOIN wf ON wf.doc_id = b.doc_id
    """,
)
def doc_gopher_repetition_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N4++++ the COMPOSED Gopher repetition DECISION (Rae et al. 2021
    §A1.1 drop rules): `doc_repetition_scores` already measures the
    duplicate-bigram/trigram fractions; this rung adds the missing
    top-word-share rule (a doc dominated by one token — keyword
    stuffing, generation loops) and composes all three into the
    `repetitive` drop flag at published-style thresholds (top word >
    20%, dup bigrams > 30%, dup trigrams > 20%; the fixture corpus has
    no newlines, so the line-level Gopher rules have no domain here).

    Why a separate flag rung matters: the quality ladder's other axes
    can't substitute — stopword/length heuristics miss repetition
    entirely, and perplexity REWARDS it (repeated bigrams are maximally
    predictable), which is exactly why Gopher applies repetition rules
    BEFORE the LM filter.

    Scale shape: one explode + two-level aggregate for the top-word
    count (partial-agg friendly, keys are (doc, word)); the n-gram
    fractions are array-local inside one projection — no shuffle
    beyond the doc-keyed join; ratios are exact-integer divisions,
    thresholds compared on the raw ratio in BOTH engines."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    t = docs.select("doc_id", F.split("text", " ").alias("ws")).filter(
        F.size("ws") >= 3
    )
    mk = lambda n: F.transform(  # noqa: E731
        F.sequence(F.lit(0), F.size("ws") - n),
        lambda i: F.concat_ws(" ", F.slice(F.col("ws"), i + 1, n)),
    )
    base = t.select(
        "doc_id",
        "ws",
        F.size("ws").alias("n_words"),
        mk(2).alias("bg"),
        mk(3).alias("tg"),
    )
    wf = (
        base.select("doc_id", F.explode("ws").alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_word_n"))
    )
    tws = F.col("top_word_n") / F.col("n_words").cast("double")
    dbg = 1.0 - F.size(F.array_distinct("bg")) / F.size("bg").cast("double")
    dtg = 1.0 - F.size(F.array_distinct("tg")) / F.size("tg").cast("double")
    return base.join(wf, "doc_id").select(
        "doc_id",
        F.col("n_words").cast("long").alias("n_words"),
        F.round(tws, 4).alias("top_word_share"),
        ((tws > 0.20) | (dbg > 0.30) | (dtg > 0.20)).alias("repetitive"),
    )


def _staged_lang_quality_signals(spark: SparkSession, sf_dir: str) -> str:
    """Build-once per-doc CCNet SIGNAL STORE: (doc_id, pred_lang,
    perplexity, n_tokens, bucket) staged content-addressed — the text-
    quality family's build/serve split (the last family without one;
    graph/ANN/dedup already stage their state). CCNet's real lifecycle
    is exactly this: the lang-ID and LM scores are computed once per
    corpus snapshot, while bucketing rollups and mix draws re-run many
    times with different rates — each such re-run should read a
    |docs|-row parquet, not re-train two models (the inline rungs are
    the 2 heaviest new plans in PLAN_AUDIT at 22-23 shuffles each;
    the staged serves are one scan + one aggregate)."""
    from pathlib import Path

    from dataengineerchallenge_spark.sources.sinks import write_result
    from dataengineerchallenge_spark.staging import staged

    def build(out: Path) -> None:
        write_result(lang_quality_bucket_frame(spark, sf_dir), str(out))

    return staged(
        spark,
        "langq",
        Path(sf_dir) / "documents.parquet",
        "lang_quality_v1",
        build,
    )


@register("corpus_lang_quality_buckets_staged", oracle=_LANG_QUALITY_ORACLE)
def corpus_lang_quality_buckets_staged(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SERVE rung of `corpus_lang_quality_buckets`: the rollup reads the
    staged signal store only — no model training, no window, one scan +
    one aggregate + one per-language share window. Same oracle, same
    hash as the inline twin."""
    from pyspark.sql import Window

    b = spark.read.parquet(_staged_lang_quality_signals(spark, sf_dir))
    g = b.groupBy(F.col("pred_lang").alias("lang"), "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("bucket_tokens"),
    )
    lw = Window.partitionBy("lang")
    return g.select(
        "lang",
        "bucket",
        "n_docs",
        "bucket_tokens",
        F.round(
            F.col("bucket_tokens") / F.sum("bucket_tokens").over(lw).cast("double"),
            4,
        ).alias("token_share"),
    )


_RAKE_TOP = 3


def _rake_oracle() -> str:
    stops = ", ".join(f"'{w}'" for w in _STOPWORDS)
    return f"""
    WITH s AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    toks AS (
      SELECT doc_id, ws, unnest(range(0, len(ws))) AS pos FROM s
    ),
    marked AS (
      SELECT doc_id, pos, ws[pos + 1] AS w,
             CASE WHEN ws[pos + 1] IN ({stops}) THEN 1 ELSE 0 END AS b
      FROM toks
    ),
    grp AS (
      SELECT doc_id, pos, w, b,
             SUM(b) OVER (PARTITION BY doc_id ORDER BY pos) AS g
      FROM marked
    ),
    mem AS (SELECT doc_id, pos, w, g FROM grp WHERE b = 0),
    ph AS (
      SELECT doc_id, g, string_agg(w, ' ' ORDER BY pos) AS phrase,
             count(*) AS plen
      FROM mem GROUP BY doc_id, g
    ),
    wstat AS (
      SELECT m.doc_id, m.w, count(*) AS freq, CAST(SUM(p.plen) AS BIGINT) AS deg
      FROM mem m JOIN ph p ON p.doc_id = m.doc_id AND p.g = m.g
      GROUP BY m.doc_id, m.w
    ),
    cand AS (SELECT DISTINCT doc_id, phrase, plen FROM ph),
    pw AS (
      SELECT doc_id, phrase, unnest(string_split(phrase, ' ')) AS w FROM cand
    ),
    psc AS (
      SELECT pw.doc_id, pw.phrase,
             CAST(SUM(ws.deg) AS BIGINT) AS deg_score,
             ROUND(SUM(ws.deg * 1.0 / ws.freq), 4) AS ratio_score
      FROM pw JOIN wstat ws ON ws.doc_id = pw.doc_id AND ws.w = pw.w
      GROUP BY pw.doc_id, pw.phrase
    ),
    ranked AS (
      SELECT c.doc_id, c.phrase, c.plen, p.deg_score, p.ratio_score,
             row_number() OVER (PARTITION BY c.doc_id
                                ORDER BY p.deg_score DESC, c.phrase) AS kp_rank
      FROM cand c JOIN psc p ON p.doc_id = c.doc_id AND p.phrase = c.phrase
    )
    SELECT doc_id, kp_rank, phrase,
           CAST(plen AS BIGINT) AS n_words, deg_score, ratio_score
    FROM ranked WHERE kp_rank <= {_RAKE_TOP}
    """


@register("rake_keyphrases", oracle=_rake_oracle())
def rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N4 keyphrase EXTRACTION by RAKE (Rose et al. 2010, "Automatic
    Keyword Extraction from Individual Documents" — a public design):
    candidate phrases are the maximal stopword-free word runs; each
    word scores by its document-local co-occurrence degree (sum of
    candidate lengths it appears in), each phrase by the sum of its
    words' scores; top-3 phrases per document. This is the
    DOCUMENT-LOCAL multiword complement to `tfidf_top_terms` (corpus-
    level unigram weighting): RAKE needs no corpus statistics at all,
    so it parallelizes per document with zero global state — the
    labeling sweep a curation pipeline runs to give every document
    browsable topic handles before any clustering exists.

    Ranking uses the INTEGER degree score (one of the three word-score
    variants Rose et al. evaluate), so ordering is exact cross-engine
    with zero float-tie risk; the classic deg/freq ratio rides along
    ROUND(4) as an output column only. Repeated phrase occurrences
    collapse to one candidate BEFORE scoring (distinct text, then one
    explode+join per distinct phrase) so both engines score each
    candidate from identical summand sets.

    Scale shape (100 TB corpus): tokenize/mark/cumsum-group are all
    keyed on doc_id — one shuffle partitions the corpus by document
    and every window/aggregate after that is partition-local; word
    stats and phrase scores are doc-keyed equi-joins of frames that
    never exceed the token count. No corpus-global aggregate anywhere
    (the property that makes RAKE the cheap first labeling pass)."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "w")
    )
    stop = F.col("w").isin(*_STOPWORDS)
    w_cum = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    marked = toks.withColumn("b", stop.cast("int")).withColumn(
        "g", F.sum("b").over(w_cum)
    )
    mem = marked.filter(F.col("b") == 0).select("doc_id", "pos", "w", "g")
    ph = mem.groupBy("doc_id", "g").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "w"))), lambda x: x["w"]
            ),
            " ",
        ).alias("phrase"),
        F.count(F.lit(1)).alias("plen"),
    )
    wstat = (
        mem.join(ph.select("doc_id", "g", "plen"), ["doc_id", "g"])
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("freq"), F.sum("plen").alias("deg"))
    )
    cand = ph.select("doc_id", "phrase", "plen").distinct()
    pw = cand.select(
        "doc_id", "phrase", F.explode(F.split("phrase", " ")).alias("w")
    )
    psc = (
        pw.join(wstat, ["doc_id", "w"])
        .groupBy("doc_id", "phrase")
        .agg(
            F.sum("deg").alias("deg_score"),
            F.round(
                F.sum(F.col("deg").cast("double") / F.col("freq")), 4
            ).alias("ratio_score"),
        )
    )
    w_rank = Window.partitionBy("doc_id").orderBy(
        F.desc("deg_score"), F.asc("phrase")
    )
    return (
        cand.join(psc, ["doc_id", "phrase"])
        .withColumn("kp_rank", F.row_number().over(w_rank))
        .filter(F.col("kp_rank") <= _RAKE_TOP)
        .select(
            "doc_id",
            "kp_rank",
            "phrase",
            F.col("plen").cast("long").alias("n_words"),
            F.col("deg_score").cast("long").alias("deg_score"),
            "ratio_score",
        )
    )


_TWQ_PCTS = (25, 50, 75, 90)


def _twq_oracle() -> str:
    sel = " UNION ALL ".join(f"SELECT {p} AS pct" for p in _TWQ_PCTS)
    return f"""
    WITH m AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_words,
             round(len(list_filter(string_split(text, ' '),
                       w -> list_contains({list(_STOPWORDS)}, w)))::DOUBLE
                   / len(string_split(text, ' ')), 4) AS stopword_ratio,
             round(len(list_distinct(string_split(text, ' ')))::DOUBLE
                   / len(string_split(text, ' ')), 4) AS type_token_ratio
      FROM documents
    ),
    q AS (
      SELECT doc_id, n_words,
             round(0.4 * least(n_words / 50.0, 1.0)
                   + 0.3 * type_token_ratio
                   + 0.3 * (1.0 - stopword_ratio), 5) AS quality
      FROM m
    ),
    c AS (
      SELECT doc_id, quality, n_words,
             SUM(n_words) OVER (ORDER BY quality, doc_id) AS cumw,
             row_number() OVER (ORDER BY quality, doc_id) AS cumd
      FROM q
    ),
    t AS (SELECT SUM(n_words) AS tw, count(*) AS td FROM q),
    sel AS ({sel})
    SELECT s.pct,
           MIN(CASE WHEN c.cumd >= (t.td * s.pct + 99) // 100
                    THEN c.quality END) AS doc_weighted_quality,
           MIN(CASE WHEN c.cumw >= (t.tw * s.pct + 99) // 100
                    THEN c.quality END) AS token_weighted_quality
    FROM c CROSS JOIN t CROSS JOIN sel s
    GROUP BY s.pct
    """


@register("token_weighted_quality_percentiles", oracle=_twq_oracle())
def token_weighted_quality_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11+ WEIGHTED nearest-rank percentiles — the corpus-curation
    distinction the unweighted family can't see: the median DOCUMENT's
    quality vs the quality of the median TOKEN. Long documents dominate
    token mass, so if length correlates with quality (it does here: the
    composite's length term saturates at 50 words) the token-weighted
    curve sits above the doc-weighted one, and a curation threshold
    tuned on doc counts silently keeps a different share of the TOKEN
    budget — the number that actually prices a training run. Weighted
    nearest-rank: the smallest quality value whose cumulative token
    weight crosses ceil(p*W/100), all-integer threshold arithmetic on
    the ROUND(5) quality grid with doc_id tie-break, so both engines
    select the identical actual datum (no interpolation, no float
    rounding) — same discipline as `elb_backend_latency_percentiles`.

    Scale shape: the fixture-grain global cumsum is one total-order
    window; at 100 TB this becomes the two-level rank
    `sorted_neighborhood_near_dups` already demonstrates (per-shard
    cumsum + p-row offset lift) or the mergeable GK sketch of the
    `_approx` percentile family — the selection rule is unchanged."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    qf = quality_frame(docs).select(
        "doc_id", F.col("n_words").cast("long").alias("w"), "quality"
    )
    w_cum = Window.orderBy("quality", "doc_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = qf.select(
        "quality",
        F.sum("w").over(w_cum).alias("cumw"),
        F.row_number().over(Window.orderBy("quality", "doc_id")).alias("cumd"),
    )
    tot = qf.agg(
        F.sum("w").alias("tw"), F.count(F.lit(1)).alias("td")
    )
    j = cum.crossJoin(F.broadcast(tot))
    aggs = []
    for p in _TWQ_PCTS:
        aggs.append(
            F.min(
                F.when(
                    F.col("cumd")
                    >= ((F.col("td") * p + 99) / 100).cast("long"),
                    F.col("quality"),
                )
            ).alias(f"d{p}")
        )
        aggs.append(
            F.min(
                F.when(
                    F.col("cumw")
                    >= ((F.col("tw") * p + 99) / 100).cast("long"),
                    F.col("quality"),
                )
            ).alias(f"t{p}")
        )
    wide = j.agg(*aggs)
    stack = ", ".join(f"{p}, d{p}, t{p}" for p in _TWQ_PCTS)
    return wide.selectExpr(
        f"stack({len(_TWQ_PCTS)}, {stack}) as "
        "(pct, doc_weighted_quality, token_weighted_quality)"
    )


@register(
    "lang_id_confusion",
    oracle="""
    WITH tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w FROM documents),
    lw AS (SELECT lang AS l, w, count(*)::DOUBLE AS c FROM tok GROUP BY lang, w),
    ltot AS (SELECT lang AS l, count(*)::DOUBLE AS n FROM tok GROUP BY lang),
    vocab AS (SELECT count(DISTINCT w)::DOUBLE AS v FROM tok),
    langs AS (SELECT DISTINCT lang AS l FROM documents),
    scores AS (
      SELECT t.doc_id, langs.l,
             sum(ln((coalesce(lw.c, 0) + 1) / (ltot.n + vocab.v))) AS score
      FROM tok t CROSS JOIN langs
      LEFT JOIN lw ON lw.l = langs.l AND lw.w = t.w
      JOIN ltot ON ltot.l = langs.l CROSS JOIN vocab
      GROUP BY t.doc_id, langs.l
    ),
    pred AS (
      SELECT doc_id, l AS pred_lang
      FROM scores
      QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, l) = 1
    ),
    cells AS (
      SELECT d.lang AS true_lang, p.pred_lang, count(*) AS n_docs
      FROM documents d JOIN pred p ON p.doc_id = d.doc_id
      GROUP BY d.lang, p.pred_lang
    ),
    rows_ AS (SELECT true_lang, SUM(n_docs) AS tot FROM cells GROUP BY true_lang)
    SELECT c.true_lang, c.pred_lang,
           CAST(c.n_docs AS BIGINT) AS n_docs,
           CAST(r.tot AS BIGINT) AS class_total,
           CAST(ROUND(c.n_docs * 1000000.0 / r.tot) AS BIGINT) AS share_mp,
           CASE WHEN c.true_lang = c.pred_lang THEN 1 ELSE 0 END AS is_correct
    FROM cells c JOIN rows_ r ON r.true_lang = c.true_lang
    """,
)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N4-eval the lang-id CONFUSION MATRIX in-engine — third member of
    the r15 eval trio (forecast backtest for the load models, label
    relevance for retrieval, this for the classifier): per
    (true, predicted) cell counts with row-normalized shares, so the
    diagonal rows read as per-class recall and every off-diagonal cell
    names exactly which language pair the n-gram scorer confuses —
    the artifact a curation pipeline inspects before trusting
    `corpus_lang_quality_buckets`' partitions. Shares ship as integer
    micropoints over exact counts; the predictions come from the SAME
    scorer frame the hash-green `doc_lang_id` registers, so the eval
    never drifts from what it evaluates.

    Scale shape: the scorer's cost profile is doc_lang_id's (one token
    explode, broadcast language model tables); the eval adds one
    broadcast label join and an L^2-bounded aggregate — KB-scale at
    any corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    pred = lang_id_frame(docs)
    cells = (
        docs.select("doc_id", F.col("lang").alias("true_lang"))
        .join(pred, "doc_id")
        .groupBy("true_lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    rows_ = cells.groupBy("true_lang").agg(F.sum("n_docs").alias("tot"))
    return cells.join(rows_, "true_lang").select(
        "true_lang",
        "pred_lang",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("tot").cast("long").alias("class_total"),
        F.round(F.col("n_docs") * 1000000.0 / F.col("tot"), 0)
        .cast("bigint")
        .alias("share_mp"),
        F.when(F.col("true_lang") == F.col("pred_lang"), 1).otherwise(0).alias(
            "is_correct"
        ),
    )


@register(
    "vocab_coverage_estimate",
    oracle="""
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ),
    tf AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
    spec AS (
      SELECT count(*) AS vocab,
             SUM(c) AS n_tokens,
             SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS f1,
             SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS f2
      FROM tf
    )
    SELECT CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(vocab AS BIGINT) AS vocab,
           CAST(f1 AS BIGINT) AS f1,
           CAST(f2 AS BIGINT) AS f2,
           CAST(ROUND((vocab + CASE WHEN f2 > 0 THEN f1 * f1 / (2.0 * f2)
                                    ELSE f1 * (f1 - 1) / 2.0 END) * 1000.0, 0)
                AS BIGINT) AS chao1_millipoints,
           CAST(ROUND(f1 * 1000000.0 / n_tokens, 0) AS BIGINT)
             AS unseen_mass_micropoints
    FROM spec
    """,
)
def vocab_coverage_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-richness scorecard for corpus growth planning: the
    token frequency spectrum's singleton/doubleton counts feed Chao1
    (Chao, Scand. J. Stat. 1984 — lower-bound estimate of the TOTAL
    vocabulary including unseen types, with the standard bias-corrected
    f1(f1-1)/2 fallback when f2 = 0) and the Good-Turing unseen-mass
    estimate f1/N (Good, Biometrika 1953 — the probability the next
    token is a NEW type). Together they answer the curation question
    "how much unseen vocabulary is left in this source?" before paying
    to crawl 10x more of it.

    All spectrum quantities are exact integer aggregates of one token
    explode + one (word) count + one 4-way conditional sum — two
    partial-agg shuffles at any corpus size; the two estimator
    divisions are single rounded doubles from identical integers."""
    toks = spread(load_table(spark, sf_dir, "documents")).select(
        F.explode(F.split("text", " ")).alias("w")
    )
    tf = toks.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    spec = tf.agg(
        F.count(F.lit(1)).alias("vocab"),
        F.sum("c").alias("n_tokens"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).alias("f1"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0)).alias("f2"),
    )
    chao1 = F.when(
        F.col("f2") > 0,
        F.col("vocab") + F.col("f1") * F.col("f1") / (2.0 * F.col("f2")),
    ).otherwise(F.col("vocab") + F.col("f1") * (F.col("f1") - 1) / 2.0)
    return spec.select(
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("vocab").cast("long").alias("vocab"),
        F.col("f1").cast("long").alias("f1"),
        F.col("f2").cast("long").alias("f2"),
        F.round(chao1 * 1000.0, 0).cast("bigint").alias("chao1_millipoints"),
        F.round(F.col("f1") * 1000000.0 / F.col("n_tokens"), 0)
        .cast("bigint")
        .alias("unseen_mass_micropoints"),
    )


_PMI_MIN_COUNT = 5
_PMI_TOP = 20


@register(
    "token_pmi_collocations",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    bg AS (
      SELECT unnest([ws[i] || ' ' || ws[i + 1] FOR i IN range(1, len(ws))]) AS bg
      FROM t WHERE len(ws) >= 2
    ),
    cbg AS (SELECT bg, count(*) AS cxy FROM bg GROUP BY bg),
    uni AS (
      SELECT w, count(*) AS c FROM (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents
      ) GROUP BY w
    ),
    n AS (SELECT SUM(c) AS nt FROM uni),
    scored AS (
      SELECT cbg.bg, cbg.cxy,
             CAST(ROUND(ln(cbg.cxy * 1.0 * n.nt / (u1.c * 1.0 * u2.c))
                        * 1000000.0, 0) AS BIGINT) AS pmi_micropoints
      FROM cbg
      JOIN uni u1 ON u1.w = split_part(cbg.bg, ' ', 1)
      JOIN uni u2 ON u2.w = split_part(cbg.bg, ' ', 2)
      CROSS JOIN n
      WHERE cbg.cxy >= {_PMI_MIN_COUNT}
    )
    SELECT bg AS bigram, CAST(cxy AS BIGINT) AS n_cooccur, pmi_micropoints
    FROM scored ORDER BY pmi_micropoints DESC, bg LIMIT {_PMI_TOP}
    """,
)
def token_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation extraction by pointwise mutual information (Church &
    Hanks, CL 1990): PMI(w1,w2) = ln(c(w1w2)·N / (c(w1)·c(w2))) over
    corpus bigrams with a min-count support floor (PMI's known failure
    mode is hapax pairs — the floor is part of the operator, not a
    fixture convenience). Top-{_PMI_TOP} by PMI is how tokenizer/phrase
    vocabularies get seeded ("New York" becomes one unit) and how
    boilerplate collocations get surfaced for dedup review.

    Counts are exact integers; PMI is one rounded double per surviving
    bigram (identical operand DAG both engines); the unigram count
    table joins twice on the word key (broadcast at any realistic
    vocabulary — a vocab that won't broadcast shuffles on the word key,
    same plan). Top-k is TakeOrderedAndProject with a bigram
    tie-break."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    toks = docs.select("doc_id", F.split("text", " ").alias("ws"))
    bg = toks.filter(F.size("ws") >= 2).select(
        F.explode(
            F.expr(
                "transform(sequence(0, size(ws) - 2),"
                " i -> concat(ws[i], ' ', ws[i + 1]))"
            )
        ).alias("bg")
    )
    cbg = bg.groupBy("bg").agg(F.count(F.lit(1)).alias("cxy"))
    uni = docs.select(F.explode(F.split("text", " ")).alias("w")).groupBy(
        "w"
    ).agg(F.count(F.lit(1)).alias("c"))
    nt = uni.agg(F.sum("c").alias("nt"))
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    scored = (
        cbg.filter(F.col("cxy") >= _PMI_MIN_COUNT)
        .withColumn("w1", F.substring_index("bg", " ", 1))
        .withColumn("w2", F.substring_index("bg", " ", -1))
        .join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(nt))
        .select(
            F.col("bg").alias("bigram"),
            F.col("cxy").cast("long").alias("n_cooccur"),
            F.round(
                F.log(
                    F.col("cxy") * 1.0 * F.col("nt") / (F.col("c1") * 1.0 * F.col("c2"))
                )
                * 1000000.0,
                0,
            )
            .cast("bigint")
            .alias("pmi_micropoints"),
        )
    )
    return scored.orderBy(F.desc("pmi_micropoints"), F.asc("bigram")).limit(
        _PMI_TOP
    )


@register(
    "source_jsd_matrix",
    oracle="""
    WITH tok AS (
      SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    cnt AS (SELECT source, w, count(*) AS c FROM tok GROUP BY source, w),
    vocab AS (SELECT DISTINCT w FROM tok),
    v AS (SELECT count(*) AS vsz FROM vocab),
    srcs AS (SELECT DISTINCT source FROM tok),
    tot AS (SELECT source, count(*) AS n FROM tok GROUP BY source),
    dense AS (
      SELECT s.source, vb.w, COALESCE(cnt.c, 0) AS c, tot.n
      FROM srcs s CROSS JOIN vocab vb
      LEFT JOIN cnt ON cnt.source = s.source AND cnt.w = vb.w
      JOIN tot ON tot.source = s.source
    ),
    p AS (
      SELECT source, w, (c + 1.0) / (n + (SELECT vsz FROM v)) AS p FROM dense
    ),
    pairs AS (
      SELECT a.source AS sa, b.source AS sb, a.w,
             a.p AS pa, b.p AS pb, (a.p + b.p) / 2.0 AS m
      FROM p a JOIN p b ON a.w = b.w AND a.source < b.source
    ),
    terms AS (
      SELECT sa, sb,
             CAST(ROUND((pa * ln(pa / m) + pb * ln(pb / m)) / 2.0
                        * 1000000000.0, 0) AS BIGINT) AS term_nano
      FROM pairs
    )
    SELECT sa AS source_a, sb AS source_b,
           CAST(ROUND(SUM(term_nano) / 1000.0, 0) AS BIGINT)
             AS jsd_micropoints
    FROM terms GROUP BY sa, sb
    """,
)
def source_jsd_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between every two sources'
    unigram distributions (Laplace-smoothed over the shared vocabulary)
    — the source-redundancy matrix a mixing strategy reads before
    assigning domain weights: near-zero JSD pairs are interchangeable
    (down-weight one), high-JSD pairs add coverage. JSD over natural
    log is bounded by ln 2 =~ 0.693, symmetric, and finite even on
    disjoint support (unlike KL) — the reason it is the standard
    corpus-similarity measure.

    Per-word terms are identical double expressions on integer counts,
    integerized to nano-points before the per-pair sum. Scale shape:
    the per-source distribution is dense over the vocabulary by
    construction (smoothing), so the pair join is |S|²/2 x V rows — at
    real scale V is capped to the top-V vocabulary first (the standard
    practice; one extra count-ordered filter), sources number in the
    hundreds, and every stage is a partial-agg equi-join keyed on the
    word."""
    tok = spread(load_table(spark, sf_dir, "documents")).select(
        "source", F.explode(F.split("text", " ")).alias("w")
    )
    cnt = tok.groupBy("source", "w").agg(F.count(F.lit(1)).alias("c"))
    vocab = tok.select("w").distinct()
    vsz = vocab.agg(F.count(F.lit(1)).alias("vsz"))
    srcs = tok.select("source").distinct()
    tot = tok.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    dense = (
        srcs.crossJoin(vocab)
        .join(cnt, ["source", "w"], "left")
        .join(tot, "source")
        .select(
            "source", "w", F.coalesce("c", F.lit(0)).alias("c"), "n"
        )
    )
    p = dense.crossJoin(F.broadcast(vsz)).select(
        "source",
        "w",
        ((F.col("c") + 1.0) / (F.col("n") + F.col("vsz"))).alias("p"),
    )
    a = p.select(
        F.col("source").alias("sa"), "w", F.col("p").alias("pa")
    )
    b = p.select(
        F.col("source").alias("sb"), F.col("w").alias("wb"), F.col("p").alias("pb")
    )
    pairs = a.join(
        b, (F.col("w") == F.col("wb")) & (F.col("sa") < F.col("sb"))
    )
    m = (F.col("pa") + F.col("pb")) / 2.0
    terms = pairs.select(
        "sa",
        "sb",
        F.round(
            (
                F.col("pa") * F.log(F.col("pa") / m)
                + F.col("pb") * F.log(F.col("pb") / m)
            )
            / 2.0
            * 1000000000.0,
            0,
        )
        .cast("bigint")
        .alias("term_nano"),
    )
    return terms.groupBy("sa", "sb").agg(
        F.round(F.sum("term_nano") / 1000.0, 0)
        .cast("bigint")
        .alias("jsd_micropoints")
    ).select(
        F.col("sa").alias("source_a"),
        F.col("sb").alias("source_b"),
        "jsd_micropoints",
    )


# Top-V cap. Fidelity vs the uncapped matrix is a measured curve on
# this fixture (Spearman over the 190 pairs): V=16 -> 0.64, V=20 ->
# 0.77, V=24 -> 0.90, V=28 -> 0.98 — the synthetic sources differ
# mostly in TAIL words, so aggressive caps reorder near-tied pairs.
# V=24 (24 of 31 words) is the knee: a real cut that keeps rank
# agreement >= 0.9 (pinned in tests/test_text_r17.py). On a real
# corpus the trade runs the other way: Zipf tails are enormous and
# carry per-word probabilities too small to move the matrix.
_JSD_TOPV = 24


@register(
    "source_jsd_matrix_topv",
    oracle=f"""
    WITH tok AS (
      SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    vocab AS (
      SELECT w FROM (
        SELECT w, count(*) AS c FROM tok GROUP BY w
        QUALIFY row_number() OVER (ORDER BY c DESC, w) <= {_JSD_TOPV}
      )
    ),
    tokv AS (SELECT tok.source, tok.w FROM tok JOIN vocab USING (w)),
    cnt AS (SELECT source, w, count(*) AS c FROM tokv GROUP BY source, w),
    v AS (SELECT count(*) AS vsz FROM vocab),
    srcs AS (SELECT DISTINCT source FROM tok),
    tot AS (SELECT source, count(*) AS n FROM tokv GROUP BY source),
    dense AS (
      SELECT s.source, vb.w, COALESCE(cnt.c, 0) AS c, tot.n
      FROM srcs s CROSS JOIN vocab vb
      LEFT JOIN cnt ON cnt.source = s.source AND cnt.w = vb.w
      JOIN tot ON tot.source = s.source
    ),
    p AS (
      SELECT source, w, (c + 1.0) / (n + (SELECT vsz FROM v)) AS p FROM dense
    ),
    pairs AS (
      SELECT a.source AS sa, b.source AS sb, a.w,
             a.p AS pa, b.p AS pb, (a.p + b.p) / 2.0 AS m
      FROM p a JOIN p b ON a.w = b.w AND a.source < b.source
    ),
    terms AS (
      SELECT sa, sb,
             CAST(ROUND((pa * ln(pa / m) + pb * ln(pb / m)) / 2.0
                        * 1000000000.0, 0) AS BIGINT) AS term_nano
      FROM pairs
    )
    SELECT sa AS source_a, sb AS source_b,
           CAST(ROUND(SUM(term_nano) / 1000.0, 0) AS BIGINT)
             AS jsd_micropoints
    FROM terms GROUP BY sa, sb
    """,
)
def source_jsd_matrix_topv(
    spark: SparkSession, sf_dir: str, top_v: int = _JSD_TOPV
) -> DataFrame:
    """The CAPPED-VOCABULARY form of ``source_jsd_matrix`` — the at-
    scale variant that query's docstring prescribes, now registered
    rather than asserted (the r15 hard-negatives lesson): vocabulary is
    cut to the top ``top_v`` words by corpus frequency (count-desc,
    word-asc tie-break — a SELECTED set, deterministic in both
    engines) BEFORE densification, so the |S|² × V pair frame is
    |S|² × top_v regardless of how the long tail grows. Counts and
    per-source totals are restricted to the capped vocabulary and the
    Laplace smoothing renormalizes over it — the standard top-V
    practice. On the fixture the cap bites (24 of 31 words) and the
    capped matrix keeps Spearman 0.90 pair-rank agreement with the
    uncapped one (the measured V-vs-fidelity curve is above _JSD_TOPV;
    pinned in tests/test_text_r17.py)."""
    tok = spread(load_table(spark, sf_dir, "documents")).select(
        "source", F.explode(F.split("text", " ")).alias("w")
    )
    wv = Window.orderBy(F.desc("c"), F.asc("w"))
    vocab = (
        tok.groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("_rn", F.row_number().over(wv))
        .filter(F.col("_rn") <= top_v)
        .select("w")
    )
    tokv = tok.join(F.broadcast(vocab), "w")
    cnt = tokv.groupBy("source", "w").agg(F.count(F.lit(1)).alias("c"))
    vsz = vocab.agg(F.count(F.lit(1)).alias("vsz"))
    srcs = tok.select("source").distinct()
    tot = tokv.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    dense = (
        srcs.crossJoin(F.broadcast(vocab))
        .join(cnt, ["source", "w"], "left")
        .join(tot, "source")
        .select("source", "w", F.coalesce("c", F.lit(0)).alias("c"), "n")
    )
    p = dense.crossJoin(F.broadcast(vsz)).select(
        "source",
        "w",
        ((F.col("c") + 1.0) / (F.col("n") + F.col("vsz"))).alias("p"),
    )
    a = p.select(F.col("source").alias("sa"), "w", F.col("p").alias("pa"))
    b = p.select(
        F.col("source").alias("sb"), F.col("w").alias("wb"), F.col("p").alias("pb")
    )
    pairs = a.join(b, (F.col("w") == F.col("wb")) & (F.col("sa") < F.col("sb")))
    m = (F.col("pa") + F.col("pb")) / 2.0
    terms = pairs.select(
        "sa",
        "sb",
        F.round(
            (
                F.col("pa") * F.log(F.col("pa") / m)
                + F.col("pb") * F.log(F.col("pb") / m)
            )
            / 2.0
            * 1000000000.0,
            0,
        )
        .cast("bigint")
        .alias("term_nano"),
    )
    return (
        terms.groupBy("sa", "sb")
        .agg(
            F.round(F.sum("term_nano") / 1000.0, 0)
            .cast("bigint")
            .alias("jsd_micropoints")
        )
        .select(
            F.col("sa").alias("source_a"),
            F.col("sb").alias("source_b"),
            "jsd_micropoints",
        )
    )


def _textrank_oracle(iters: int = 5) -> str:
    """Weighted-pagerank unroll over the word co-occurrence graph —
    the _weighted_pagerank_oracle CTE shape with the token-window edge
    build swapped in."""
    steps = []
    for i in range(iters):
        steps.append(
            f"""r{i + 1} AS (
      SELECT n.node, 0.15 + 0.85 * COALESCE(s.inflow, 0.0) AS pr
      FROM nodes n LEFT JOIN (
        SELECT e.dst AS node, SUM(r.pr * e.w / od.sw) AS inflow
        FROM e
        JOIN r{i} r ON e.src = r.node
        JOIN od ON e.src = od.src
        GROUP BY e.dst
      ) s ON n.node = s.node
    )"""
        )
    chain = ",\n    ".join(steps)
    return f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    tok AS (
      SELECT doc_id, generate_subscripts(ws, 1) AS i, unnest(ws) AS w FROM t
    ),
    dc AS (
      SELECT a.w AS src, b.w AS dst, count(*) AS c
      FROM tok a JOIN tok b
        ON a.doc_id = b.doc_id AND b.i - a.i BETWEEN 1 AND 2
       AND a.w != b.w
      GROUP BY 1, 2
    ),
    e AS (
      SELECT src, dst, SUM(c)::DOUBLE AS w FROM (
        SELECT src, dst, c FROM dc
        UNION ALL SELECT dst AS src, src AS dst, c FROM dc
      ) GROUP BY src, dst
    ),
    nodes AS (SELECT DISTINCT src AS node FROM e),
    od AS (SELECT src, SUM(w) AS sw FROM e GROUP BY src),
    r0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS pr FROM nodes),
    {chain}
    SELECT node AS word, ROUND(pr, 4) AS textrank FROM r{iters}
    """


@register("textrank_keywords", oracle=_textrank_oracle())
def textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword scoring (Mihalcea & Tarau, EMNLP 2004):
    weighted PageRank over the word CO-OCCURRENCE graph — words within
    a ±2-token window are linked, edge weight = corpus co-occurrence
    count — reusing the graph family's pagerank operator verbatim on a
    text-derived graph (the RAKE rung's graph-based sibling; together
    they cover both classic unsupervised keyphrase schools). Unlike
    frequency ranking, TextRank rewards words that co-occur with many
    DIFFERENT well-connected words, which on a Zipfian corpus
    separates topical terms from uniformly-spread function words.

    Scale shape: the token-window self-join fans out ≤ 2 pairs per
    token (position-banded, never all-pairs within a doc); the edge
    aggregate collapses to a VOCABULARY-sized graph, so the 5
    power iterations run on |V| nodes no matter the corpus size —
    the same aggregate-then-iterate shape as the hourly analytics."""
    from dataengineerchallenge_spark.operators.graph import pagerank

    toks = spread(load_table(spark, sf_dir, "documents")).select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "w")
    )
    a = toks.select("doc_id", F.col("pos").alias("pa"), F.col("w").alias("wa"))
    b = toks.select(
        F.col("doc_id").alias("doc_b"),
        F.col("pos").alias("pb"),
        F.col("w").alias("wb"),
    )
    dc = (
        a.join(
            b,
            (F.col("doc_id") == F.col("doc_b"))
            & (F.col("pb") - F.col("pa")).between(1, 2)
            & (F.col("wa") != F.col("wb")),
        )
        .groupBy(F.col("wa").alias("src"), F.col("wb").alias("dst"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    e = (
        dc.select("src", "dst", "c")
        .unionByName(
            dc.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), "c"
            )
        )
        .groupBy("src", "dst")
        .agg(F.sum("c").cast("double").alias("w"))
    )
    ranks = pagerank(e, iters=5, damping=0.85, weight="w")
    return ranks.select(
        F.col("node").alias("word"), F.round("pr", 4).alias("textrank")
    )


def _bpe_fertility_oracle(n_merges: int) -> str:
    return (
        _bpe_oracle_prefix(n_merges)
        + f""",
    nt AS MATERIALIZED (
      SELECT word, CAST(len(syms) AS BIGINT) AS n_tok FROM w{n_merges}
    ),
    pd AS (
      SELECT t.source, SUM(n.n_tok) AS nb, COUNT(*) AS nw
      FROM (SELECT source, unnest(string_split(text, ' ')) AS word
            FROM documents) t
      JOIN nt n USING (word)
      WHERE len(t.word) > 0
      GROUP BY t.source
    )
    SELECT source,
           CAST(nw AS BIGINT) AS n_ws_tokens,
           CAST(nb AS BIGINT) AS n_bpe_tokens,
           CAST(ROUND(nb * 1000000.0 / nw, 0) AS BIGINT)
             AS fertility_micropoints
    FROM pd"""
    )


@register("bpe_fertility_by_source", oracle=_bpe_fertility_oracle(_BPE_MERGES))
def bpe_fertility_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY per source — BPE tokens emitted per
    whitespace word under the trained 16-merge vocabulary, the
    standard tokenizer-fit diagnostic (fertility ≈ 1 on well-covered
    text, rising on domains the merges never saw; the number
    multilingual tokenizer papers report per language, e.g. mBERT's
    fertility tables): a source with outlier fertility pays
    proportionally more of the token budget per word, which reprices
    both packing and the domain-mix weights. Composes the hash-green
    train → apply chain (`bpe_token_counts_explicit`) with one extra
    source rollup, all inside the same unrolled-replay oracle.

    Scale: identical to the apply rung (one exploded corpus pass
    joined against the broadcast rewritten-word table) plus a
    |sources|-row aggregate. Serves the merge table from the staged
    store (r18, VERDICT r17 What's-wrong #3: the inline train replay
    made this query execute 38 sub-queries / 59 scans per call —
    staging cuts it to the apply pass + a 16-row store read)."""
    from dataengineerchallenge_spark.operators.bpe import apply_bpe

    docs = load_table(spark, sf_dir, "documents")
    merges = _staged_bpe_merges_list(spark, sf_dir)
    per_doc = apply_bpe(docs, merges, "text", "doc_id")
    src = spread(docs).select("doc_id", "source")
    return (
        per_doc.join(src, "doc_id")
        .groupBy("source")
        .agg(
            F.sum("n_ws_tokens").cast("long").alias("n_ws_tokens"),
            F.sum("n_bpe_tokens").cast("long").alias("n_bpe_tokens"),
        )
        .select(
            "source",
            "n_ws_tokens",
            "n_bpe_tokens",
            F.round(
                F.col("n_bpe_tokens") * 1000000.0 / F.col("n_ws_tokens"), 0
            )
            .cast("bigint")
            .alias("fertility_micropoints"),
        )
    )
