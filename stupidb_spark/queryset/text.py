"""Text-analysis queries over ``documents``: language ID, quality scoring,
token counting, fingerprinting. Beyond-reference extension surface
(SURVEY.md §7), all pure Column expressions.

Oracle notes: token/stopword logic is mirrored in DuckDB with list lambdas
(list_filter/list_contains) over the same regex splits, so both engines
compute identical integer counts — no float drift anywhere except explicitly
rounded ratios.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stupidb_spark.functions import exact as X
from stupidb_spark.functions import text as T
from stupidb_spark.operators.dedup import corpus_join_strategy
from stupidb_spark.queryset import q
from stupidb_spark.sources import load_table
from stupidb_spark.verbs import aggregate, group_by, select


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def _duck_stoplist(lang: str) -> str:
    return "[" + ", ".join(f"'{s}'" for s in T.STOPWORDS[lang]) + "]"


def _duck_words() -> str:
    return "list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), t -> t != '')"


def _duck_score(lang: str) -> str:
    return f"len(list_filter({_duck_words()}, t -> list_contains({_duck_stoplist(lang)}, t)))"


@q(
    "text_lang_id",
    f"""
    WITH scored AS (
        SELECT doc_id,
               {_duck_score('en')} AS score_en,
               {_duck_score('fr')} AS score_fr,
               {_duck_score('de')} AS score_de,
               {_duck_score('es')} AS score_es
        FROM documents
    )
    SELECT doc_id, score_en, score_fr, score_de, score_es,
           CASE WHEN score_en + score_fr + score_de + score_es = 0 THEN 'und'
                WHEN score_en >= score_fr AND score_en >= score_de
                     AND score_en >= score_es THEN 'en'
                WHEN score_fr >= score_de AND score_fr >= score_es THEN 'fr'
                WHEN score_de >= score_es THEN 'de'
                ELSE 'es' END AS pred_lang
    FROM scored
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    scores = T.lang_scores(F.col("text"))
    return _docs(spark, sf_dir) >> select(
        "doc_id",
        score_en=scores["en"],
        score_fr=scores["fr"],
        score_de=scores["de"],
        score_es=scores["es"],
        pred_lang=T.lang_id("text"),
    )


@q(
    "text_quality",
    f"""
    WITH m AS (
        SELECT doc_id,
               len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                               t -> t != ''))                      AS n_tokens,
               length(text)                                        AS n_chars_raw,
               length(text) - length(regexp_replace(text,
                   '[.,;:!?''"()\\[\\]-]', '', 'g'))               AS n_punct,
               {_duck_score('en')}                                 AS n_stop
        FROM documents
    )
    SELECT doc_id, n_tokens, n_chars_raw, n_punct, n_stop,
           {X.sql_dround('CAST(n_punct AS DOUBLE) / n_chars_raw')}  AS punct_ratio,
           {X.sql_dround('CAST(n_stop AS DOUBLE) / n_tokens')}      AS stop_ratio,
           (n_tokens >= 5 AND n_tokens <= 10000
            AND CAST(n_punct AS DOUBLE) / n_chars_raw < 0.2) AS passes_quality
    FROM m
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Length / punctuation / stopword quality heuristics — the standard
    # cheap pre-filter stage of a training-data pipeline.
    n_tokens = T.token_count("text")
    n_chars_raw = F.length("text")
    n_punct = T.punct_count("text")
    n_stop = T.stopword_count("text", "en")
    return (
        _docs(spark, sf_dir)
        >> select(
            "doc_id",
            n_tokens=n_tokens,
            n_chars_raw=n_chars_raw,
            n_punct=n_punct,
            n_stop=n_stop,
            punct_ratio=X.dround(n_punct.cast("double") / n_chars_raw),
            stop_ratio=X.dround(n_stop.cast("double") / n_tokens),
            passes_quality=(
                (n_tokens >= 5)
                & (n_tokens <= 10000)
                & (n_punct.cast("double") / n_chars_raw < 0.2)
            ),
        )
    )


@q(
    "text_token_stats",
    """
    WITH t AS (
        SELECT source,
               len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                               t -> t != '')) AS n_tokens,
               n_chars
        FROM documents
    )
    SELECT source,
           count(*)                      AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           {avg_tok}                     AS avg_tokens,
           CAST(sum(n_chars) AS BIGINT)  AS total_chars
    FROM t GROUP BY source
    """.format(
        avg_tok=X.sql_dround(
            "CAST(sum(n_tokens) AS DOUBLE) / count(n_tokens)", 4
        )
    ),
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Corpus token accounting per source — the "how many tokens do we have"
    # query every pretraining pipeline runs first.
    return (
        _docs(spark, sf_dir)
        .withColumn("n_tokens", T.token_count("text"))
        >> group_by("source")
        >> aggregate(
            n_docs=F.count(F.lit(1)),
            total_tokens=F.sum("n_tokens"),
            avg_tokens=X.dround(
                F.sum("n_tokens").cast("double") / F.count("n_tokens"), 4
            ),
            total_chars=F.sum("n_chars"),
        )
    )


@q(
    "text_fingerprint_md5",
    """
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
    FROM documents
    """,
)
def text_fingerprint_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Deterministic content fingerprint; identical hex on both engines.
    return _docs(spark, sf_dir) >> select("doc_id", fp=T.fingerprint_md5("text"))


@q(
    "text_metrics",
    f"""
    WITH m AS (
        SELECT doc_id,
               {_duck_score('en')} AS score_en,
               {_duck_score('fr')} AS score_fr,
               {_duck_score('de')} AS score_de,
               {_duck_score('es')} AS score_es,
               len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                               t -> t != ''))                      AS n_tokens,
               length(text)                                        AS n_chars_raw,
               length(text) - length(regexp_replace(text,
                   '[.,;:!?''"()\\[\\]-]', '', 'g'))               AS n_punct,
               md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
               list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                                [CAST(ascii(t[i]) AS BIGINT)
                                 for i in range(1, len(t) + 1)]),
                   (acc, c) -> (acc * 31 + c) % 2147483647
               ) AS fp_roll
        FROM (SELECT *,
                     trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
              FROM documents)
    )
    SELECT doc_id,
           CASE WHEN score_en + score_fr + score_de + score_es = 0 THEN 'und'
                WHEN score_en >= score_fr AND score_en >= score_de
                     AND score_en >= score_es THEN 'en'
                WHEN score_fr >= score_de AND score_fr >= score_es THEN 'fr'
                WHEN score_de >= score_es THEN 'de'
                ELSE 'es' END AS pred_lang,
           n_tokens, n_chars_raw, n_punct, score_en AS n_stop,
           {X.sql_dround('CAST(n_punct AS DOUBLE) / n_chars_raw')} AS punct_ratio,
           {X.sql_dround('CAST(score_en AS DOUBLE) / n_tokens')}   AS stop_ratio,
           (n_tokens >= 5 AND n_tokens <= 10000
            AND CAST(n_punct AS DOUBLE) / n_chars_raw < 0.2) AS passes_quality,
           fp, fp_roll
    FROM m
    """,
)
def text_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass per-document text profile: language ID + quality heuristics
    + content fingerprints — the combined form of ``text_lang_id`` /
    ``text_quality`` / ``text_fingerprint_md5`` / ``text_fingerprint_rolling``
    (single scan, single projection; the metric families a pretraining
    pipeline computes together before filtering).

    All pure Column expressions inside one whole-stage-codegen projection —
    at 100 TB this runs at scan speed with zero shuffles.
    """
    n_tokens = T.token_count("text")
    n_chars_raw = F.length("text")
    n_punct = T.punct_count("text")
    n_stop = T.stopword_count("text", "en")
    return _docs(spark, sf_dir) >> select(
        "doc_id",
        pred_lang=T.lang_id("text"),
        n_tokens=n_tokens,
        n_chars_raw=n_chars_raw,
        n_punct=n_punct,
        n_stop=n_stop,
        punct_ratio=X.dround(n_punct.cast("double") / n_chars_raw),
        stop_ratio=X.dround(n_stop.cast("double") / n_tokens),
        passes_quality=(
            (n_tokens >= 5)
            & (n_tokens <= 10000)
            & (n_punct.cast("double") / n_chars_raw < 0.2)
        ),
        fp=T.fingerprint_md5("text"),
        fp_roll=T.fingerprint_rolling("text"),
    )


@q(
    "pipeline_prep",
    f"""
    WITH m AS (
        SELECT doc_id,
               md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
               {_duck_score('en')} AS score_en,
               {_duck_score('fr')} AS score_fr,
               {_duck_score('de')} AS score_de,
               {_duck_score('es')} AS score_es,
               len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                               t -> t != ''))                      AS n_tokens,
               length(text)                                        AS n_chars_raw,
               length(text) - length(regexp_replace(text,
                   '[.,;:!?''"()\\[\\]-]', '', 'g'))               AS n_punct
        FROM documents
    ),
    f AS (
        SELECT doc_id, fp, n_tokens,
               CASE WHEN score_en + score_fr + score_de + score_es = 0 THEN 'und'
                    WHEN score_en >= score_fr AND score_en >= score_de
                         AND score_en >= score_es THEN 'en'
                    WHEN score_fr >= score_de AND score_fr >= score_es THEN 'fr'
                    WHEN score_de >= score_es THEN 'de'
                    ELSE 'es' END AS pred_lang
        FROM m
        WHERE n_tokens >= 5 AND n_tokens <= 10000
          AND CAST(n_punct AS DOUBLE) / n_chars_raw < 0.2
    ),
    kept AS (
        SELECT fp,
               arg_min(n_tokens, doc_id)  AS n_tokens,
               arg_min(pred_lang, doc_id) AS pred_lang
        FROM f GROUP BY fp
    )
    SELECT pred_lang,
           count(*)                      AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           {X.sql_dround('CAST(sum(n_tokens) AS DOUBLE) / count(*)', 4)} AS avg_tokens
    FROM kept GROUP BY pred_lang
    """,
)
def pipeline_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data prep, composed in ONE Catalyst plan:
    quality filter → exact dedup (keep lowest doc_id per content
    fingerprint) → per-language token accounting.

    The composition is the point: filter/projection fuse into the scan,
    the dedup is a single shuffle on the fingerprint, the final rollup is
    a map-side-combined hash agg over the (already small) keeper set — at
    100 TB this is one full scan + one dedup-key shuffle, which is the
    floor for this pipeline. ``min_by`` keeps the keeper's own metrics
    (duplicate copies may differ in raw whitespace, hence in token count).
    """
    n_tokens = T.token_count("text")
    n_chars_raw = F.length("text")
    n_punct = T.punct_count("text")
    kept = (
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            T.fingerprint_md5("text").alias("fp"),
            T.lang_id("text").alias("pred_lang"),
            n_tokens.alias("n_tokens"),
        )
        .filter(
            (n_tokens >= 5)
            & (n_tokens <= 10000)
            & (n_punct.cast("double") / n_chars_raw < 0.2)
        )
        .groupBy("fp")
        .agg(
            F.min_by("n_tokens", "doc_id").alias("n_tokens"),
            F.min_by("pred_lang", "doc_id").alias("pred_lang"),
        )
    )
    return kept.groupBy("pred_lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        X.dround(F.sum("n_tokens").cast("double") / F.count(F.lit(1)), 4).alias(
            "avg_tokens"
        ),
    )


@q(
    "pack_sequences",
    """
    WITH t AS (
        SELECT doc_id,
               len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                               t -> t != '')) AS n_tokens
        FROM documents
    ),
    p AS (
        SELECT doc_id, n_tokens,
               CAST(floor((sum(n_tokens) OVER (ORDER BY doc_id) - n_tokens)
                          / 2048.0) AS BIGINT) AS pack_id
        FROM t
    )
    SELECT pack_id,
           count(*)                       AS n_docs,
           CAST(sum(n_tokens) AS BIGINT)  AS pack_tokens,
           min(doc_id)                    AS first_doc,
           max(doc_id)                    AS last_doc
    FROM p GROUP BY pack_id
    """,
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sequence packing to a 2048-token context budget
    (operators/packing.py::pack_by_cumsum), rolled up per pack.

    The running sum is the two-phase bucketed cumsum — per-bucket windows
    plus broadcast bucket offsets, never a single-partition global sort —
    over (doc_id, n_tokens) longs; the document text never shuffles. The
    greedy first-fit variant (pack_greedy) is exercised in
    tests/test_packing.py; this form is the SQL-expressible oracle path.
    """
    from stupidb_spark.operators.packing import pack_by_cumsum

    t = _docs(spark, sf_dir).select(
        "doc_id", T.token_count("text").alias("n_tokens")
    )
    p = pack_by_cumsum(
        t, token_col="n_tokens", order_col="doc_id", capacity=2048
    )
    return p.groupBy("pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("pack_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


@q(
    "text_fingerprint_rolling",
    """
    WITH n AS (
        SELECT doc_id,
               trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
        FROM documents
    )
    SELECT doc_id,
           list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                            [CAST(ascii(t[i]) AS BIGINT)
                             for i in range(1, len(t) + 1)]),
               (acc, c) -> (acc * 31 + c) % 2147483647
           ) AS fp_roll
    FROM n
    """,
)
def text_fingerprint_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Polynomial rolling hash as a pure Catalyst fold (F.aggregate) — the
    # document-fingerprinting shape from SURVEY.md §7. The modulus 2^31-1
    # keeps every intermediate < 2^36, so the 64-bit fold never wraps and
    # the DuckDB list_reduce oracle (and the Python reference in
    # tests/test_text.py) reproduce it bit-exactly.
    return _docs(spark, sf_dir) >> select(
        "doc_id", fp_roll=T.fingerprint_rolling("text")
    )


@q(
    "text_repetition",
    f"""
    WITH toks AS (
        SELECT doc_id, unnest({_duck_words()}) AS w
        FROM documents
    ),
    counts AS (
        SELECT doc_id, w, count(*) AS c FROM toks GROUP BY doc_id, w
    )
    SELECT doc_id,
           CAST(sum(c) AS BIGINT)   AS n_words,
           CAST(count(*) AS BIGINT) AS n_uniq,
           CAST(count(*) AS DOUBLE) / sum(c) AS uniq_frac,
           CAST(max(c) AS DOUBLE) / sum(c)   AS top_frac
    FROM counts
    GROUP BY doc_id
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Repetition-based quality signals (the Gopher-rules family): unique-
    # word fraction and most-frequent-word fraction per document — the
    # standard filters for template/boilerplate junk in a pretraining
    # corpus. Two partial-agg shuffles ((doc, word) then doc), each carrying
    # only ids+counts; the single divisions are correctly-rounded IEEE ops
    # so both engines agree bit-for-bit. Zero-token docs drop identically
    # from both engines at the explode.
    toks = _docs(spark, sf_dir).select(
        "doc_id", F.explode(T.words(F.col("text"))).alias("w")
    )
    counts = toks.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("c"))
    return (
        counts.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_words"),
            F.count(F.lit(1)).alias("n_uniq"),
            F.max("c").alias("top_cnt"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_uniq",
            (F.col("n_uniq").cast("double") / F.col("n_words")).alias("uniq_frac"),
            (F.col("top_cnt").cast("double") / F.col("n_words")).alias("top_frac"),
        )
    )


@q(
    "text_tfidf_topterm",
    f"""
    WITH toks AS (
        SELECT doc_id, unnest({_duck_words()}) AS w
        FROM documents
    ),
    tf AS (SELECT doc_id, w, count(*) AS c FROM toks GROUP BY doc_id, w),
    dfreq AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
    n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tf),
    scored AS (
        SELECT tf.doc_id, tf.w,
               CAST(tf.c * n.n_docs AS DOUBLE) / dfreq.df AS score
        FROM tf JOIN dfreq ON tf.w = dfreq.w CROSS JOIN n
    ),
    ranked AS (
        SELECT doc_id, w, score,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, w) AS rk
        FROM scored
    )
    SELECT doc_id, w AS top_term, score FROM ranked WHERE rk = 1
    """,
)
def text_tfidf_topterm(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Per-document top tf-idf term (rational idf tf·N/df — products and ONE
    # division stay bit-identical across engines, unlike log-based idf whose
    # libm rounding may differ). Shuffle story: tf on (doc, word), document
    # frequency on word, a word-keyed join (broadcastable only while the
    # vocabulary is dim-sized — shuffle_hash-PINNED because at corpus
    # scale the vocab is a fact and the post-explode estimate undercounts
    # it, see text_rarity_score), and the per-doc top-1 window. The N
    # scalar rides a 1-row broadcast cross join, never a driver round-trip.
    toks = _docs(spark, sf_dir).select(
        "doc_id", F.explode(T.words(F.col("text"))).alias("w")
    )
    tf = toks.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("c"))
    dfreq = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    n = tf.agg(F.count_distinct("doc_id").alias("n_docs"))
    scored = (
        tf.hint(corpus_join_strategy())
        .join(dfreq.hint(corpus_join_strategy()), "w")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "w",
            ((F.col("c") * F.col("n_docs")).cast("double") / F.col("df")).alias(
                "score"
            ),
        )
    )
    # Per-doc top-1 as a HASH AGGREGATE (min_by over a total ordering), not
    # a row_number window: WindowExec sorts one partition per document in a
    # single task — the mega-document straggler shape doc_shingles guards
    # against — while min_by flows through the ordinary two-phase agg with
    # map-side partials and never buffers a document's terms. The ordering
    # struct (-score, w) is total on (doc_id, w)-unique rows, so the winner
    # is deterministic and identical to the window form (max score,
    # tie → lexicographically first term).
    best = scored.groupBy("doc_id").agg(
        F.min_by(
            F.struct(F.col("w"), F.col("score")),
            F.struct((-F.col("score")).alias("s"), F.col("w")),
        ).alias("b")
    )
    return best.select(
        "doc_id", F.col("b.w").alias("top_term"), F.col("b.score").alias("score")
    )


@q(
    "text_rarity_score",
    f"""
    WITH toks AS (
        SELECT DISTINCT doc_id, unnest({_duck_words()}) AS term
        FROM documents
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
    df AS (
        SELECT term, CAST(count(*) AS BIGINT) AS df FROM toks GROUP BY term
    )
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_terms,
           CAST(sum(n.n_docs - df.df) AS BIGINT) AS rarity
    FROM toks t JOIN df USING (term) CROSS JOIN n
    GROUP BY t.doc_id
    """,
)
def text_rarity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Corpus-trained rare-token density — the integer-exact cousin of an
    # idf-weighted quality score (weight = N - df instead of log(N/df):
    # same ranking signal, zero libm drift, exact under any partitioning).
    # Plan: distinct (doc, term) pairs -> term-df agg (map-side combined)
    # -> join df back on term -> per-doc sum. The df relation is the full
    # vocabulary, so it is NOT broadcast (billions of terms at 100 TB);
    # the join shuffles on term, where the (doc, term) stream is already
    # clustered after the distinct. The corpus size rides a broadcast
    # 1-row cross join. For a capped-vocabulary broadcast variant, compose
    # with operators/heavyhitters.py.
    #
    # The no-broadcast intent is HINTED, not assumed: the 100x probe
    # (SCALE.md) showed Catalyst's post-explode aggregate estimates sit
    # under the auto-broadcast threshold far past the corpus size where
    # the real hashed relation stops fitting, so at 500k docs the static
    # plan broadcast this very df table. shuffle_hash pins the scale-safe
    # strategy (pinned by test_vocab_joins_never_broadcast).
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id", F.explode(T.words(F.col("text"))).alias("term")
    ).distinct()
    df_tab = toks.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    tot = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        toks.hint(corpus_join_strategy())
        .join(df_tab.hint(corpus_join_strategy()), "term")
        .join(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.sum(F.col("n_docs") - F.col("df")).alias("rarity"),
        )
    )


@q(
    "text_lm_perplexity",
    """
    WITH w AS (
        SELECT doc_id, lang,
               list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                           t -> t != '') AS w
        FROM documents
    ),
    bg AS (
        SELECT doc_id, lang,
               unnest([w[i] for i in range(1, len(w))])     AS w1,
               unnest([w[i + 1] for i in range(1, len(w))]) AS w2
        FROM w
    ),
    ref AS (SELECT * FROM bg WHERE doc_id % 5 = 0),
    c2 AS (SELECT lang, w1, w2, count(*) AS c2 FROM ref GROUP BY 1, 2, 3),
    c1 AS (SELECT lang, w1, count(*) AS c1 FROM ref GROUP BY 1, 2),
    v AS (
        SELECT lang, count(DISTINCT w) AS v
        FROM (SELECT lang, w1 AS w FROM ref
              UNION ALL SELECT lang, w2 FROM ref)
        GROUP BY 1
    ),
    j AS (
        SELECT d.doc_id, d.lang,
               CAST(floor(
                   ln((coalesce(c2.c2, 0) + 0.5)
                      / (coalesce(c1.c1, 0) + 0.5 * coalesce(v.v, 0)))
                   * 1000000.0 + 0.5) AS BIGINT) AS q
        FROM bg d
        LEFT JOIN c2 USING (lang, w1, w2)
        LEFT JOIN c1 USING (lang, w1)
        JOIN v USING (lang)
    )
    SELECT doc_id, lang,
           count(*) AS n_bigrams,
           (CAST(sum(q) AS DOUBLE) / 1000000.0) / count(*) AS avg_logp
    FROM j GROUP BY 1, 2
    """,
)
def text_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # CCNet-style LM quality filter: every document scored by mean bigram
    # log-probability under a per-language add-0.5 model trained on the
    # deterministic doc_id % 5 == 0 reference slice (SQL-expressible, so
    # the WHOLE pipeline — train and score — is oracled). Model state is
    # relations (vocab-sized count tables, pinned joins, no driver model);
    # the mean is an exact long sum of 1e-6-grid-quantized logps, so the
    # score is order-independent and engine-identical (ppl = exp(-avg) is
    # a bijection of avg_logp and stays un-oracled: one more libm call,
    # zero more information). See operators/lm.py.
    from stupidb_spark.operators.lm import ngram_lm_score

    docs = load_table(spark, sf_dir, "documents")
    ref = docs.filter(F.col("doc_id") % 5 == 0)
    out = ngram_lm_score(
        docs, ref, id_col="doc_id", text_col="text", lang_col="lang", k=0.5
    )
    return out.select(
        F.col("doc").alias("doc_id"), "lang", "n_bigrams", "avg_logp"
    )


@q(
    "text_lm_backoff",
    """
    WITH w AS (
        SELECT doc_id, lang,
               list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                           t -> t != '') AS w
        FROM documents
    ),
    tg AS (
        SELECT doc_id, lang,
               unnest([w[i] for i in range(1, len(w) - 1)])     AS w1,
               unnest([w[i + 1] for i in range(1, len(w) - 1)]) AS w2,
               unnest([w[i + 2] for i in range(1, len(w) - 1)]) AS w3
        FROM w
    ),
    bg AS (
        SELECT doc_id, lang,
               unnest([w[i] for i in range(1, len(w))])     AS w1,
               unnest([w[i + 1] for i in range(1, len(w))]) AS w2
        FROM w
    ),
    ug AS (SELECT doc_id, lang, unnest(w) AS w1 FROM w),
    c3 AS (SELECT lang, w1, w2, w3, count(*) AS c3
           FROM tg WHERE doc_id % 5 = 0 GROUP BY 1, 2, 3, 4),
    c2 AS (SELECT lang, w1, w2, count(*) AS c2
           FROM bg WHERE doc_id % 5 = 0 GROUP BY 1, 2, 3),
    c1 AS (SELECT lang, w1, count(*) AS c1
           FROM ug WHERE doc_id % 5 = 0 GROUP BY 1, 2),
    tot AS (SELECT lang, CAST(sum(c1) AS BIGINT) AS n_tokens
            FROM c1 GROUP BY 1),
    j AS (
        SELECT d.doc_id, d.lang,
               CAST(floor(ln(
                   CASE WHEN c3.c3 IS NOT NULL
                            THEN CAST(c3.c3 AS DOUBLE) / c2a.c2
                        WHEN c2b.c2 IS NOT NULL
                            THEN CAST(0.4 AS DOUBLE)
                                 * (CAST(c2b.c2 AS DOUBLE) / c1b.c1)
                        ELSE CAST(0.4 AS DOUBLE) * CAST(0.4 AS DOUBLE)
                             * ((coalesce(c1c.c1, 0) + CAST(0.5 AS DOUBLE))
                                / tot.n_tokens)
                   END) * 1000000.0 + 0.5) AS BIGINT) AS q
        FROM tg d
        LEFT JOIN c3     ON c3.lang = d.lang AND c3.w1 = d.w1
                         AND c3.w2 = d.w2 AND c3.w3 = d.w3
        LEFT JOIN c2 c2a ON c2a.lang = d.lang AND c2a.w1 = d.w1
                         AND c2a.w2 = d.w2
        LEFT JOIN c2 c2b ON c2b.lang = d.lang AND c2b.w1 = d.w2
                         AND c2b.w2 = d.w3
        LEFT JOIN c1 c1b ON c1b.lang = d.lang AND c1b.w1 = d.w2
        LEFT JOIN c1 c1c ON c1c.lang = d.lang AND c1c.w1 = d.w3
        JOIN tot         ON tot.lang = d.lang
    )
    SELECT doc_id, lang,
           count(*) AS n_trigrams,
           (CAST(sum(q) AS DOUBLE) / 1000000.0) / count(*) AS avg_logs
    FROM j GROUP BY 1, 2
    """,
)
def text_lm_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Stupid Backoff (Brants et al., EMNLP 2007) — the LM scoring recipe
    # DESIGNED for distributed count tables: raw per-order counts, no
    # normalization, fixed backoff factor 0.4, with an add-0.5 unigram
    # floor (documented deviation) keeping ln finite for unseen words.
    # Same reference slice, quantized-grid mean, and modeled-language
    # contract as text_lm_perplexity; trained AND scored under the oracle.
    from stupidb_spark.operators.lm import backoff_lm_score

    docs = load_table(spark, sf_dir, "documents")
    ref = docs.filter(F.col("doc_id") % 5 == 0)
    out = backoff_lm_score(
        docs, ref, id_col="doc_id", text_col="text", lang_col="lang",
        alpha=0.4, k0=0.5,
    )
    return out.select(
        F.col("doc").alias("doc_id"), "lang", "n_trigrams", "avg_logs"
    )


# Window width (tokens) for the duplicated-span detector. 5 keeps the
# fixture corpus interesting (its vocabulary is small, so 5-grams repeat
# across documents but are not universal); real pipelines use 50 (Lee et
# al. 2022) — the plan shape is width-independent.
_SPAN_W = 5


def _dup_span_positions(sized: DataFrame) -> DataFrame:
    """``(doc_id, p)`` rows: every token position of ``sized`` (``doc_id``,
    token array ``t``) inside a ``_SPAN_W``-token window whose exact text
    also occurs in another document, once per such window. The shared
    inverted-index subtree of the two duplicated-span queries."""
    from stupidb_spark.operators.lineage import cut_lineage

    W = _SPAN_W
    # spans feeds TWO consumers (the dup-df aggregate and the hit join
    # probe); the lazy localCheckpoint keeps the tokenize+enumerate pass
    # to ONE execution (the components.py idiom). Rows are (doc, pos, ng)
    # — gram-scale but with the token arrays already projected away.
    spans = cut_lineage(
        sized.select(
            "doc_id", F.posexplode(T.word_ngrams("t", W)).alias("pos", "g")
        ).select("doc_id", "pos", T.ngram_text(F.col("g"), W).alias("ng")),
        eager=False,
    )
    dup = (
        spans.groupBy("ng")
        .agg(F.count_distinct("doc_id").alias("df"))
        .where(F.col("df") >= 2)
        .select("ng")
    )
    hits = spans.hint(corpus_join_strategy()).join(
        dup.hint(corpus_join_strategy()), "ng"
    )
    return hits.select(
        "doc_id",
        F.explode(F.sequence(F.col("pos"), F.col("pos") + F.lit(W - 1))).alias("p"),
    )


@q(
    "text_dup_spans",
    f"""
    WITH base AS (
        SELECT doc_id, {_duck_words()} AS t FROM documents
    ),
    sized AS (SELECT doc_id, t, len(t) AS n_tokens FROM base),
    starts AS (
        SELECT doc_id, t, unnest(range(0, n_tokens - {_SPAN_W - 1})) AS pos
        FROM sized WHERE n_tokens >= {_SPAN_W}
    ),
    ngrams AS (
        SELECT doc_id, pos,
               array_to_string(t[pos + 1 : pos + {_SPAN_W}], ' ') AS ng
        FROM starts
    ),
    dup AS (
        SELECT ng FROM ngrams GROUP BY ng
        HAVING count(DISTINCT doc_id) >= 2
    ),
    cov AS (
        SELECT DISTINCT doc_id, p FROM (
            SELECT doc_id, unnest(range(pos, pos + {_SPAN_W})) AS p
            FROM ngrams WHERE ng IN (SELECT ng FROM dup)
        )
    ),
    cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_pos
            FROM cov GROUP BY doc_id)
    SELECT s.doc_id,
           CAST(s.n_tokens AS BIGINT) AS n_tokens,
           coalesce(c.n_dup_pos, 0) AS n_dup_pos,
           CASE WHEN s.n_tokens = 0 THEN 0.0
                ELSE CAST(coalesce(c.n_dup_pos, 0) AS DOUBLE) / s.n_tokens
           END AS dup_frac
    FROM sized s LEFT JOIN cnt c USING (doc_id)
    """,
)
def text_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Duplicated-span coverage (the ExactSubstr dedup signal of Lee et al.
    # 2022, "Deduplicating Training Data Makes Language Models Better",
    # re-expressed relationally): a position is "duplicated" when it sits
    # inside a W-token window whose exact text also occurs in ANOTHER
    # document; each doc reports the fraction of its token positions so
    # covered. The suffix-array machinery of the paper is replaced by the
    # n-gram inverted index Spark already does well — same signal, two hash
    # shuffles instead of a global sort.
    #
    # Scale story: window enumeration is map-side inside the scan task
    # (functions/text.py::word_ngrams — no per-doc WindowExec, so no
    # mega-doc straggler; the doc_shingles byte guard applies upstream for
    # prep pipelines). Shuffles: (1) ngram df partial-agg, (2) the ngram-keyed
    # hit join — both sides corpus-sized post-explode, hence
    # corpus_join_strategy-PINNED (never estimate-broadcast, cf. the 100x
    # probe), (3) distinct covered positions, (4) the doc-keyed rollup
    # join. At 100 TB you would shuffle xxhash64(ng) instead of the raw
    # 5-gram string to cut shuffle bytes ~6x; the oracled form keeps the
    # exact string so both engines compare the identical relation.
    from stupidb_spark.operators.dedup import spread_small_scan

    # spread before the tokenize+window-enumeration pass: the fixture scan
    # arrives as 1-2 partitions, which serialized the whole regex+explode
    # onto one core (r14 profile: two ~1 s single-task corpus passes); at
    # 100 TB the scan already splits and this is a no-op.
    sized = (
        spread_small_scan(_docs(spark, sf_dir).select("doc_id", "text"))
        .select("doc_id", T.words(F.col("text")).alias("t"))
        .withColumn("n_tokens", F.size("t"))
    )
    cov = _dup_span_positions(sized).distinct()
    cnt = cov.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_dup_pos"))
    return (
        sized.select("doc_id", F.col("n_tokens").cast("long").alias("n_tokens"))
        .hint(corpus_join_strategy())
        .join(cnt.hint(corpus_join_strategy()), "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce(F.col("n_dup_pos"), F.lit(0).cast("long")).alias(
                "n_dup_pos"
            ),
            F.when(F.col("n_tokens") == 0, F.lit(0.0))
            .otherwise(
                F.coalesce(F.col("n_dup_pos"), F.lit(0)).cast("double")
                / F.col("n_tokens")
            )
            .alias("dup_frac"),
        )
    )


@q(
    "text_entropy",
    f"""
    WITH toks AS (
        SELECT doc_id, unnest({_duck_words()}) AS w FROM documents
    ),
    tf AS (SELECT doc_id, w, count(*) AS c FROM toks GROUP BY doc_id, w),
    qd AS (
        SELECT doc_id, c,
               CAST(floor(ln(CAST(c AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)
                   AS qc
        FROM tf
    ),
    agg AS (
        SELECT doc_id,
               CAST(sum(c) AS BIGINT) AS n_words,
               CAST(count(*) AS BIGINT) AS n_uniq,
               CAST(sum(c * qc) AS BIGINT) AS s
        FROM qd GROUP BY doc_id
    )
    SELECT doc_id, n_words, n_uniq,
           CAST(n_words * CAST(floor(ln(CAST(n_words AS DOUBLE)) * 1000000.0
                                     + 0.5) AS BIGINT) - s AS DOUBLE)
               / (CAST(n_words AS DOUBLE) * 1000000.0) AS entropy
    FROM agg
    """,
)
def text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Per-document word-distribution Shannon entropy (nats) — the
    # third leg of the quality triad next to text_repetition's unique/top
    # fractions: low entropy flags template and keyword-stuffed junk that
    # uniq_frac alone misses. H = (n·ln n − Σ c_w·ln c_w) / n via the
    # 1e-6 quantized-ln grid (the text_lm_perplexity construction): every
    # ln is floored once onto the grid and everything after is exact long
    # arithmetic with ONE final double division, so the result is
    # order-independent AND engine-identical (ln's ≤1-ulp wobble is ~1e9x
    # finer than the grid). Two partial-agg shuffles ((doc, word) then
    # doc), ids+counts only — the text_repetition plan shape exactly.
    toks = _docs(spark, sf_dir).select(
        "doc_id", F.explode(T.words(F.col("text"))).alias("w")
    )
    tf = toks.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("c"))
    qc = F.floor(
        F.log(F.col("c").cast("double")) * F.lit(1000000.0) + F.lit(0.5)
    ).cast("long")
    agg = tf.groupBy("doc_id").agg(
        F.sum("c").alias("n_words"),
        F.count(F.lit(1)).alias("n_uniq"),
        F.sum(F.col("c") * qc).alias("s"),
    )
    qn = F.floor(
        F.log(F.col("n_words").cast("double")) * F.lit(1000000.0) + F.lit(0.5)
    ).cast("long")
    return agg.select(
        "doc_id",
        "n_words",
        "n_uniq",
        (
            (F.col("n_words") * qn - F.col("s")).cast("double")
            / (F.col("n_words").cast("double") * F.lit(1000000.0))
        ).alias("entropy"),
    )


@q(
    "text_strip_dup_spans",
    f"""
    WITH base AS (
        SELECT doc_id, {_duck_words()} AS t FROM documents
    ),
    sized AS (SELECT doc_id, t, len(t) AS n_tokens FROM base),
    starts AS (
        SELECT doc_id, t, unnest(range(0, n_tokens - {_SPAN_W - 1})) AS pos
        FROM sized WHERE n_tokens >= {_SPAN_W}
    ),
    ngrams AS (
        SELECT doc_id, pos,
               array_to_string(t[pos + 1 : pos + {_SPAN_W}], ' ') AS ng
        FROM starts
    ),
    dup AS (
        SELECT ng FROM ngrams GROUP BY ng
        HAVING count(DISTINCT doc_id) >= 2
    ),
    cov AS (
        SELECT doc_id, list(DISTINCT p) AS cov_ps FROM (
            SELECT doc_id, unnest(range(pos, pos + {_SPAN_W})) AS p
            FROM ngrams WHERE ng IN (SELECT ng FROM dup)
        ) GROUP BY doc_id
    ),
    joined AS (
        SELECT s.doc_id, s.t, s.n_tokens,
               coalesce(c.cov_ps, []) AS cov_ps
        FROM sized s LEFT JOIN cov c USING (doc_id)
    )
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(len(cov_ps) AS BIGINT) AS n_removed,
           coalesce(array_to_string(
               list_transform(
                   list_filter(range(1, len(t) + 1),
                               i -> NOT list_contains(cov_ps, i - 1)),
                   i -> t[i]),
               ' '), '') AS clean_text
    FROM joined
    """,
)
def text_strip_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The ACTION to text_dup_spans' signal: rewrite each document with
    # every cross-document duplicated W-token span REMOVED (the
    # ExactSubstr-dedup cut of Lee et al. 2022, where duplicated substrings
    # are excised rather than whole documents dropped). A token survives
    # iff no duplicated window covers its position; survivors rejoin in
    # original order.
    #
    # Same inverted-index subtree as text_dup_spans
    # (_dup_span_positions). The reassembly avoids a
    # second corpus explode: covered positions fold into ONE per-doc
    # collect_set (bounded by the doc's own token count — the mega-doc
    # guard upstream bounds that), and the surviving tokens are selected
    # array-side with a positional filter, so the doc-keyed join carries
    # one compact int set per doc instead of re-shuffled token rows.
    from stupidb_spark.operators.dedup import spread_small_scan
    from stupidb_spark.operators.lineage import cut_lineage

    # Same spread as text_dup_spans (see there); the lazy localCheckpoint
    # stops the tokenize pass re-running for the reassembly join.
    sized = cut_lineage(
        spread_small_scan(_docs(spark, sf_dir).select("doc_id", "text"))
        .select("doc_id", T.words(F.col("text")).alias("t"))
        .withColumn("n_tokens", F.size("t")),
        eager=False,
    )
    cov = (
        _dup_span_positions(sized)
        .groupBy("doc_id")
        .agg(F.collect_set("p").alias("cov_ps"))
    )
    joined = (
        sized.hint(corpus_join_strategy())
        .join(cov.hint(corpus_join_strategy()), "doc_id", "left")
        .select(
            "doc_id",
            "t",
            "n_tokens",
            F.coalesce(F.col("cov_ps"), F.array().cast("array<int>")).alias(
                "cov_ps"
            ),
        )
    )
    return joined.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.size("cov_ps").cast("long").alias("n_removed"),
        F.array_join(
            F.filter(F.col("t"), lambda x, i: ~F.array_contains("cov_ps", i)),
            " ",
        ).alias("clean_text"),
    )


@q(
    "text_nb_lang",
    f"""
    WITH toks AS (
        SELECT doc_id, lang, unnest({_duck_words()}) AS w FROM documents
    ),
    rtoks AS (SELECT * FROM toks WHERE doc_id % 5 = 0),
    wc AS (SELECT lang AS cls, w, count(*) AS cw FROM rtoks GROUP BY 1, 2),
    cc AS (SELECT cls, CAST(sum(cw) AS BIGINT) AS ct FROM wc GROUP BY 1),
    vv AS (SELECT count(DISTINCT w) AS v FROM rtoks),
    nd AS (SELECT lang AS cls, count(*) AS nd FROM documents
           WHERE doc_id % 5 = 0 GROUP BY 1),
    nn AS (SELECT count(*) AS n FROM documents WHERE doc_id % 5 = 0),
    classes AS (
        SELECT cls,
               CAST(floor(ln(CAST(nd AS DOUBLE) / n) * 1000000.0 + 0.5)
                    AS BIGINT) AS q_prior,
               CAST(floor(ln(0.5 / (ct + 0.5 * v)) * 1000000.0 + 0.5)
                    AS BIGINT) AS q_def
        FROM nd JOIN cc USING (cls) CROSS JOIN vv CROSS JOIN nn
    ),
    wq AS (
        SELECT cls, w,
               CAST(floor(ln((cw + 0.5) / (ct + 0.5 * v)) * 1000000.0 + 0.5)
                    AS BIGINT) AS qw
        FROM wc JOIN cc USING (cls) CROSS JOIN vv
    ),
    tf AS (SELECT doc_id, w, count(*) AS c FROM toks GROUP BY 1, 2),
    per_cls AS (
        SELECT tf.doc_id, cl.cls,
               CAST(any_value(cl.q_prior)
                    + sum(tf.c * coalesce(wq.qw, cl.q_def)) AS BIGINT)
                   AS total,
               CAST(sum(tf.c) AS BIGINT) AS n_tokens
        FROM tf CROSS JOIN classes cl
        LEFT JOIN wq ON wq.cls = cl.cls AND wq.w = tf.w
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT doc_id, cls, total, n_tokens,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY total DESC, cls) AS rk
        FROM per_cls
    )
    SELECT doc_id, cls AS pred_lang, total AS score_q, n_tokens
    FROM ranked WHERE rk = 1
    """,
)
def text_nb_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TRAINED language identification: add-0.5 multinomial Naive Bayes fit
    # on the labeled reference slice (doc_id % 5 == 0), scored over the
    # whole corpus under every class, argmax per doc — the learned upgrade
    # of text_lang_id's stopword heuristic, and the "train a classifier,
    # sweep the corpus" pipeline step with count relations as the model
    # (operators/nb.py; the NgramLM lifecycle one level up). Training AND
    # classification both run under the oracle: scores are exact int64
    # sums of 1e-6-grid quantized log-likelihoods, so prediction ties and
    # argmax order are engine-identical by construction.
    from stupidb_spark.operators.nb import nb_classify, nb_train

    docs = _docs(spark, sf_dir)
    model = nb_train(
        docs.filter(F.col("doc_id") % 5 == 0),
        id_col="doc_id",
        text_col="text",
        cls_col="lang",
        k=0.5,
    )
    out = nb_classify(docs, model, id_col="doc_id", text_col="text")
    return out.select(
        F.col("doc").alias("doc_id"),
        F.col("pred_cls").alias("pred_lang"),
        "score_q",
        "n_tokens",
    )


_DUCK_WTOKS = (
    "list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t != '')"
)


@q(
    "text_gopher_rules",
    f"""
    -- Gopher-style composite quality filter (Rae et al. 2021, §A1.1),
    -- adapted to the signals computable identically in both engines.
    -- Every PASS/FAIL gate is exact integer arithmetic (cross-multiplied
    -- ratios), so the booleans can never diverge on a double boundary.
    WITH m AS (
        SELECT doc_id,
               len({_DUCK_WTOKS}) AS n_words,
               CAST(list_sum(list_transform({_DUCK_WTOKS},
                    t -> length(t))) AS BIGINT) AS sum_wlen,
               len(list_filter({_DUCK_WTOKS},
                    t -> regexp_matches(lower(t), '[a-z]'))) AS n_alpha,
               len({_duck_words()}) AS n_aw,
               len(list_distinct({_duck_words()})) AS n_dw,
               {_duck_score('en')} AS n_stop,
               len(regexp_extract_all(text, '#'))
                 + len(regexp_extract_all(text, '\\.\\.\\.')) AS n_sym
        FROM documents
    )
    SELECT doc_id, n_words,
           {X.sql_dround('CAST(sum_wlen AS DOUBLE) / greatest(n_words, 1)', 4)} AS mean_word_len,
           {X.sql_dround('CAST(n_alpha AS DOUBLE) / greatest(n_words, 1)', 4)} AS alpha_frac,
           {X.sql_dround('CAST(n_dw AS DOUBLE) / greatest(n_aw, 1)', 4)} AS distinct_ratio,
           n_stop,
           (n_words >= 50 AND n_words <= 100000)               AS ok_n_words,
           (3 * n_words <= sum_wlen AND sum_wlen <= 10 * n_words) AS ok_mean_len,
           (5 * n_alpha >= 4 * n_words)                        AS ok_alpha,
           (10 * n_sym < n_words)                              AS ok_symbols,
           (n_stop >= 2)                                       AS ok_stopwords,
           (5 * n_dw >= n_aw)                                  AS ok_distinct,
           (n_words >= 50 AND n_words <= 100000
            AND 3 * n_words <= sum_wlen AND sum_wlen <= 10 * n_words
            AND 5 * n_alpha >= 4 * n_words
            AND 10 * n_sym < n_words
            AND n_stop >= 2
            AND 5 * n_dw >= n_aw)                              AS passes_gopher
    FROM m
    """,
)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style composite quality filter (Rae et al. 2021, §A1.1):
    word-count bounds, mean-word-length bounds, alphabetic-word fraction,
    symbol(#/ellipsis)-to-word ratio, required stopwords, and a
    distinct-word-ratio repetition proxy — the standard cheap rule stack a
    training-data pipeline runs before any model-based scoring.

    Scale shape: one map-only pass, every signal a codegen'd Column
    expression over the document's own row (no shuffle, no UDF); at 100 TB
    the filter fuses into the scan. Each PASS/FAIL gate is exact integer
    arithmetic (cross-multiplied ratios rather than double thresholds), so
    the booleans are engine-identical by construction; the displayed
    ratios use the shared deterministic rounding grid (functions/exact.py).
    Beyond-reference surface (SURVEY.md §7 — the reference has no text
    operators)."""
    return _docs(spark, sf_dir) >> select(
        "doc_id", **T.gopher_signals("text")
    )


@q(
    "pipeline_training_mix",
    f"""
    -- End-to-end round-9 prep composition in ONE plan: Gopher quality
    -- gate -> leakage-safe grouped split -> exact dedup (keep lowest id
    -- per fingerprint) -> per-split token budget. The rollup a curator
    -- reads to size train/val/test before a run.
    WITH m AS (
        SELECT doc_id, source, text,
               md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
               len({_DUCK_WTOKS}) AS n_words,
               CAST(list_sum(list_transform({_DUCK_WTOKS},
                    t -> length(t))) AS BIGINT) AS sum_wlen,
               len(list_filter({_DUCK_WTOKS},
                    t -> regexp_matches(lower(t), '[a-z]'))) AS n_alpha,
               len({_duck_words()}) AS n_aw,
               len(list_distinct({_duck_words()})) AS n_dw,
               {_duck_score('en')} AS n_stop,
               len(regexp_extract_all(text, '#'))
                 + len(regexp_extract_all(text, '\\.\\.\\.')) AS n_sym
        FROM documents
    ),
    gated AS (
        SELECT doc_id, source, fp, n_words,
               CASE WHEN (CAST(substr(source, 4) AS BIGINT) * 2654435761 + 40503) % 1000 < 800 THEN 'train'
                    WHEN (CAST(substr(source, 4) AS BIGINT) * 2654435761 + 40503) % 1000 < 900 THEN 'val'
                    ELSE 'test' END AS split
        FROM m
        WHERE n_words >= 50 AND n_words <= 100000
          AND 3 * n_words <= sum_wlen AND sum_wlen <= 10 * n_words
          AND 5 * n_alpha >= 4 * n_words
          AND 10 * n_sym < n_words
          AND n_stop >= 2
          AND 5 * n_dw >= n_aw
    ),
    kept AS (
        SELECT split, fp,
               arg_min(n_words, doc_id) AS n_words
        FROM gated GROUP BY split, fp
    )
    SELECT split,
           count(*)                     AS n_docs,
           CAST(sum(n_words) AS BIGINT) AS total_tokens,
           {X.sql_dround('CAST(sum(n_words) AS DOUBLE) / count(*)', 4)} AS avg_tokens
    FROM kept GROUP BY split
    """,
)
def pipeline_training_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-9 surface composed end-to-end in one Catalyst plan:
    Gopher-rule gate (``functions/text.py::gopher_signals``) →
    group-cohesive split tag (``operators/splits.py`` semantics, the
    portable-hash twin) → exact dedup within each split (min-id per
    content fingerprint — a dup pair can only straddle splits if its two
    sources differ, which the matrix query measures) → per-split token
    budget.

    Scale shape: the gate and both tags fuse into the scan (zero extra
    passes), the dedup is the single (split, fp) shuffle with map-side
    combine, the rollup is 3 rows. Splits stay leakage-safe through the
    composition because the tag is a pure group hash — no sampling job,
    no membership join, nothing to drift between pipeline stages."""
    from stupidb_spark.operators.splits import split_column as _sc  # noqa: F401
    from stupidb_spark.queryset.sampling import _SA, _SC, _SM

    sig = T.gopher_signals("text")
    fp = T.fingerprint_md5(F.col("text"))
    src_num = F.substring("source", 4, 10).cast("long")
    h = F.pmod(src_num * _SA + _SC, F.lit(_SM))
    split = (
        F.when(h < 800, F.lit("train"))
        .when(h < 900, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    gated = (
        _docs(spark, sf_dir)
        .filter(sig["passes_gopher"])
        .select(
            "doc_id",
            split.alias("split"),
            fp.alias("fp"),
            sig["n_words"].alias("n_words"),
        )
    )
    kept = gated.groupBy("split", "fp").agg(
        F.min_by("n_words", "doc_id").alias("n_words")
    )
    return kept.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").cast("long").alias("total_tokens"),
        X.dround(
            F.sum("n_words").cast("double") / F.count(F.lit(1)), 4
        ).alias("avg_tokens"),
    )


def _dsir_sql() -> str:
    from stupidb_spark.operators.dsir import DSIR_SCALE, sql_bucket_hash

    b = 4096
    s = f"{DSIR_SCALE:.1f}"
    return f"""
    -- DSIR importance weights (Xie et al. 2023): distinct word-bigram
    -- buckets, add-1-smoothed target(lang='en')/raw likelihood ratios,
    -- per-bucket log-ratio QUANTIZED to the 2^-20 grid so the per-doc
    -- score is an exact int sum (order- and engine-independent); the
    -- final /2^20 is exact in IEEE double. Same arithmetic as
    -- operators/dsir.py value-for-value.
    WITH w AS (
        SELECT doc_id, lang = 'en' AS t,
               list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                           x -> x != '') AS w
        FROM documents
    ),
    sh AS (
        SELECT doc_id, t,
               list_distinct([w[i] || ' ' || w[i+1]
                              for i in range(1, len(w))]) AS s
        FROM w
    ),
    ex AS (
        SELECT doc_id, t,
               {sql_bucket_hash('shingle', b)} AS bucket
        FROM (SELECT doc_id, t, unnest(s) AS shingle FROM sh)
    ),
    dist AS (
        SELECT bucket,
               count(CASE WHEN t THEN 1 END) AS ct,
               count(*) AS cr
        FROM ex GROUP BY bucket
    ),
    tot AS (SELECT sum(ct) AS tc, sum(cr) AS rc FROM dist),
    ratios AS (
        SELECT bucket,
               CAST(floor((ln((ct + 1.0) / (tc + {float(b):.1f}))
                           - ln((cr + 1.0) / (rc + {float(b):.1f})))
                          * {s} + 0.5) AS BIGINT) AS lr_q
        FROM dist, tot
    )
    SELECT e.doc_id,
           count(*) AS n_grams,
           sum(r.lr_q) / {s} AS log_weight
    FROM ex e JOIN ratios r USING (bucket)
    GROUP BY e.doc_id
    """


@q("text_dsir_weights", _dsir_sql())
def text_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection scores: every document scored by the
    add-1-smoothed log likelihood ratio of its hashed word bigrams
    between the target corpus (lang = 'en') and the whole raw corpus —
    the importance-resampling weight that shifts a selected sample
    toward the target distribution (compose with the sampling
    operators for the resampling step). Fully oracled: the md5 bucket
    hash, the smoothing arithmetic, and the 2^-20 grid quantization are
    replayed value-for-value by DuckDB."""
    from stupidb_spark.operators.dsir import dsir_logweights

    docs = load_table(spark, sf_dir, "documents")
    return dsir_logweights(
        docs, F.col("lang") == "en", k=2, buckets=4096, alpha=1.0
    )
