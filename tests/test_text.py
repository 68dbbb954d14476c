"""Text-function validation: the rolling fingerprint against its pure-Python
reference implementation, and language-ID sanity against the fixture's
declared language labels."""

from __future__ import annotations

from pyspark.sql import functions as F

from stupidb_spark.queryset import QUERIES
from stupidb_spark.sources import load_table
from tests.conftest import SF_DIR
from tests.mirrors import rolling_hash_py


def test_rolling_fingerprint_matches_python_reference(spark):
    rows = QUERIES["text_fingerprint_rolling"](spark, SF_DIR).limit(50).collect()
    fps = {r.doc_id: r.fp_roll for r in rows}
    src = (
        load_table(spark, SF_DIR, "documents")
        .filter(F.col("doc_id").isin(*fps.keys()))
        .collect()
    )
    assert len(src) == len(fps)
    for r in src:
        assert rolling_hash_py(r.text) == fps[r.doc_id], r.doc_id


def test_lang_id_heuristic_on_real_sentences(spark):
    # The fixture's `lang` column is random metadata over English-ish word
    # salads (no signal to recover), so the heuristic is validated on real
    # sentences in each target language instead.
    from stupidb_spark.functions.text import lang_id as predict_lang

    samples = [
        (1, "the cat was in the house and it is you that was there", "en"),
        (2, "le chat est dans la maison et les enfants sont des amis", "fr"),
        (3, "der hund ist ein tier und die katze ist das haustier von ihm", "de"),
        (4, "el perro esta en la casa y los gatos no se ven por la noche", "es"),
        (5, "", "und"),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t, _ in samples], "doc_id long, text string"
    )
    out = df.select("doc_id", predict_lang(F.col("text")).alias("pred"))
    got = {r.doc_id: r.pred for r in out.collect()}
    for i, _, want in samples:
        assert got[i] == want, f"doc {i}: want {want}, got {got[i]}"


#: small public per-language vocabularies: the engine's stopword lists plus
#: a handful of common words — enough signal for the stopword-hit heuristic,
#: deterministic enough to score accuracy against.
_LANG_VOCAB = {
    "en": ("house", "water", "day", "good", "time", "people", "friend"),
    "fr": ("maison", "jour", "temps", "bon", "ami", "ville", "monde"),
    "de": ("haus", "tag", "zeit", "gut", "freund", "stadt", "welt"),
    "es": ("casa", "dia", "tiempo", "bueno", "amigo", "ciudad", "mundo"),
}
#: language-neutral loanwords = realistic noise every language shares
_NEUTRAL = ("internet", "taxi", "hotel", "radio", "metro", "kiosk")


def labeled_sentences(n_per_lang: int = 50, noise: float = 0.2):
    """Deterministic labeled corpus: sentences of 8-14 tokens drawn ~80%
    from the language's stopword+vocab pool and ~20% from neutral loanwords.
    Seeded per (lang, i) — same corpus every run."""
    import random

    from stupidb_spark.functions.text import STOPWORDS

    rows = []
    doc_id = 0
    for lang in STOPWORDS:
        pool = list(STOPWORDS[lang]) + list(_LANG_VOCAB[lang])
        for i in range(n_per_lang):
            rng = random.Random(f"{lang}:{i}")
            n_tok = rng.randint(8, 14)
            toks = [
                rng.choice(_NEUTRAL) if rng.random() < noise else rng.choice(pool)
                for _ in range(n_tok)
            ]
            rows.append((doc_id, " ".join(toks), lang))
            doc_id += 1
    return rows


def test_lang_id_accuracy_floor_on_labeled_corpus(spark):
    """Measurable accuracy (not just stability): ≥ 90% on a deterministic
    200-sentence labeled corpus with 20% loanword noise. The fixture's own
    `lang` labels are random metadata, so the floor is pinned here."""
    from stupidb_spark.functions.text import lang_id as predict_lang

    rows = labeled_sentences()
    df = spark.createDataFrame(
        [(i, t) for i, t, _ in rows], "doc_id long, text string"
    )
    got = {
        r.doc_id: r.pred
        for r in df.select("doc_id", predict_lang(F.col("text")).alias("pred")).collect()
    }
    correct = sum(1 for i, _, want in rows if got[i] == want)
    accuracy = correct / len(rows)
    assert accuracy >= 0.90, f"lang_id accuracy {accuracy:.3f} below floor"


def test_lang_id_query_runs_and_is_total(spark):
    out = QUERIES["text_lang_id"](spark, SF_DIR)
    docs_n = load_table(spark, SF_DIR, "documents").count()
    assert out.count() == docs_n
    assert out.filter(F.col("pred_lang").isNull()).count() == 0


def test_ngram_lm_score_hand_computed(spark):
    """Add-k bigram scoring against a hand-computed model: reference corpus
    of one doc, scored docs with seen and unseen bigrams, exact expected
    log-probs (to the operator's 1e-6 quantization grid)."""
    import math

    from stupidb_spark.operators.lm import ngram_lm_score

    # reference: "a b a b c" -> bigrams ab, ba, ab, bc
    # C(a,b)=2 C(b,a)=1 C(b,c)=1 ; C(a.)=2 C(b.)=2 ; V={a,b,c}=3
    ref = spark.createDataFrame(
        [(0, "a b a b c", "xx")], "doc_id long, text string, lang string"
    )
    docs = spark.createDataFrame(
        [
            (0, "a b a b c", "xx"),
            (1, "a b", "xx"),      # one seen bigram
            (2, "a z", "xx"),      # unseen bigram, seen context a
            (3, "q r", "xx"),      # unseen bigram, unseen context
        ],
        "doc_id long, text string, lang string",
    )
    out = {
        r.doc: (r.n_bigrams, r.avg_logp, r.ppl)
        for r in ngram_lm_score(
            docs, ref, id_col="doc_id", text_col="text", lang_col="lang", k=0.5
        ).collect()
    }
    k, V = 0.5, 3

    def q(p):  # the operator's grid quantization of one bigram logp
        return math.floor(math.log(p) * 1e6 + 0.5)

    p_ab = (2 + k) / (2 + k * V)
    p_ba = (1 + k) / (2 + k * V)
    p_bc = (1 + k) / (2 + k * V)
    p_az = (0 + k) / (2 + k * V)
    p_qr = (0 + k) / (0 + k * V)
    exp0 = (q(p_ab) * 2 + q(p_ba) + q(p_bc)) / 1e6 / 4
    assert out[0][0] == 4 and abs(out[0][1] - exp0) < 1e-12
    assert out[1][0] == 1 and abs(out[1][1] - q(p_ab) / 1e6) < 1e-12
    assert abs(out[2][1] - q(p_az) / 1e6) < 1e-12
    assert abs(out[3][1] - q(p_qr) / 1e6) < 1e-12
    # ppl is the bijection of avg_logp
    assert abs(out[3][2] - math.exp(-out[3][1])) < 1e-9
    # languages are independent models, and a language with NO reference
    # data has no model: its documents are omitted (documented contract),
    # not scored against a zero denominator
    docs_other = spark.createDataFrame(
        [(9, "a b", "yy")], "doc_id long, text string, lang string"
    )
    got = ngram_lm_score(
        docs_other, ref, id_col="doc_id", text_col="text", lang_col="lang", k=0.5
    ).collect()
    assert got == []


def test_ngram_lm_never_broadcasts_and_is_guarded(spark):
    """The LM count tables are vocabulary-sized: no corpus/vocab side may
    ever ride an estimate-driven broadcast (only the 1-row-per-language V
    table broadcasts); the mega-document guard threads through."""
    import re

    import pytest

    from stupidb_spark.plans import formatted_plan
    from stupidb_spark.queryset import QUERIES

    plan = formatted_plan(QUERIES["text_lm_perplexity"](spark, SF_DIR))
    assert "ShuffledHashJoin" in plan
    for m in re.finditer(
        r"\(\d+\) BroadcastHashJoin[^\n]*\n(?:[^\n]*\n){0,3}", plan
    ):
        # the only BHJ allowed is the per-language V join (key: lang)
        assert "lang" in m.group(0)
    from stupidb_spark.operators.lm import ngram_lm_score

    big = spark.createDataFrame(
        [(1, "word " * 2000, "xx")], "doc_id long, text string, lang string"
    )
    with pytest.raises(Exception, match="max_doc_bytes"):
        ngram_lm_score(
            big, big, id_col="doc_id", text_col="text", lang_col="lang",
            max_doc_bytes=1024,
        ).count()


def test_backoff_lm_hand_computed(spark):
    """Stupid Backoff against a hand-computed model: all three tiers (hit,
    bigram backoff, floored unigram backoff) with exact expected scores on
    the quantization grid."""
    import math

    from stupidb_spark.operators.lm import backoff_lm_score

    ref = spark.createDataFrame(
        [(0, "a b c a b d", "xx")], "doc_id long, text string, lang string"
    )
    # N=6; C1: a2 b2 c1 d1; C2: ab2 bc1 ca1 bd1; C3: abc1 bca1 cab1 abd1
    docs = spark.createDataFrame(
        [
            (1, "a b c", "xx"),   # trigram hit: 1/C2(ab)=0.5
            (2, "c a b", "xx"),   # trigram hit: 1/C2(ca)=1.0 -> ln 0
            (3, "x b d", "xx"),   # bigram backoff: 0.4*C2(bd)/C1(b)=0.2
            (4, "a b x", "xx"),   # unigram floor: 0.4^2*(0+0.5)/6
        ],
        "doc_id long, text string, lang string",
    )
    out = {
        r.doc: (r.n_trigrams, r.avg_logs)
        for r in backoff_lm_score(
            docs, ref, id_col="doc_id", text_col="text", lang_col="lang"
        ).collect()
    }

    def q(s):
        return math.floor(math.log(s) * 1e6 + 0.5) / 1e6

    assert out[1] == (1, q(0.5))
    assert out[2] == (1, q(1.0)) == (1, 0.0)
    assert out[3] == (1, q(0.4 * (1 / 2)))
    assert out[4] == (1, q(0.4 * 0.4 * ((0 + 0.5) / 6)))
    # unmodeled language drops out; <3-token docs have no trigrams
    extra = spark.createDataFrame(
        [(9, "a b c", "yy"), (10, "a b", "xx")],
        "doc_id long, text string, lang string",
    )
    assert (
        backoff_lm_score(
            extra, ref, id_col="doc_id", text_col="text", lang_col="lang"
        ).count()
        == 0
    )


def test_nb_hostile_class_labels(spark):
    """Class labels are user data and must never become column names: a
    label with a backtick or one shadowing an internal column ('doc', 'w',
    'c') has to classify identically to the same data under safe labels."""
    from stupidb_spark.operators.nb import nb_classify, nb_train

    hostile = ["a`b", "doc", "w"]
    safe = ["c0", "c1", "c2"]
    texts = {
        0: "apple apple banana",
        1: "car car car road",
        2: "wind rain wind storm",
    }
    ref_rows = [
        (i * 10 + j, texts[i] + f" extra{i}", lab)
        for i, lab in enumerate(hostile)
        for j in range(3)
    ]
    docs_rows = [
        (100, "apple banana banana"),
        (101, "road car"),
        (102, "storm wind"),
        (103, "unseen words only"),
    ]

    def run(labels):
        remap = dict(zip(hostile, labels))
        ref = spark.createDataFrame(
            [(i, t, remap[l]) for i, t, l in ref_rows],
            "id long, text string, cls string",
        )
        docs = spark.createDataFrame(docs_rows, "id long, text string")
        model = nb_train(ref, id_col="id", text_col="text", cls_col="cls")
        out = nb_classify(docs, model, id_col="id", text_col="text")
        return {
            r.doc: (r.pred_cls, r.score_q, r.n_tokens) for r in out.collect()
        }

    got = run(hostile)
    want = run(safe)
    remap = dict(zip(safe, hostile))
    assert got == {
        d: (remap[c], s, n) for d, (c, s, n) in want.items()
    }
    assert got[100][0] == "a`b" and got[101][0] == "doc" and got[102][0] == "w"


def test_nb_null_class_label_is_dropped_not_fatal(spark):
    """A NULL class label forms no class (SQL join semantics) but its row
    still counts toward the document total behind every prior."""
    import math

    from stupidb_spark.operators.nb import nb_classify, nb_train

    ref = spark.createDataFrame(
        [(1, "apple banana", "fruit"), (2, "car road", "auto"), (3, "apple car", None)],
        "id long, text string, cls string",
    )
    model = nb_train(ref, id_col="id", text_col="text", cls_col="cls")
    priors = {r.cls: r.q_prior for r in model.classes.collect()}
    assert priors == {
        c: math.floor(math.log(1 / 3) * 1e6 + 0.5) for c in ("auto", "fruit")
    }
    docs = spark.createDataFrame([(10, "banana apple")], "id long, text string")
    out = nb_classify(docs, model, id_col="id", text_col="text").collect()
    assert [(r.doc, r.pred_cls) for r in out] == [(10, "fruit")]


def test_dsir_weights_shift_toward_target(spark):
    """Semantic pin for the DSIR scores: averaged over the corpus, target
    (lang='en') documents must score strictly higher than non-target ones
    — the whole point of the likelihood-ratio weight. (Value-level
    correctness is the DuckDB oracle's job; this pins the direction.)"""
    from pyspark.sql import functions as F

    from stupidb_spark.queryset import QUERIES
    from stupidb_spark.sources import load_table
    from tests.conftest import SF_DIR

    w = QUERIES["text_dsir_weights"](spark, SF_DIR)
    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", (F.col("lang") == "en").alias("t")
    )
    means = (
        w.join(docs, "doc_id")
        .groupBy("t")
        .agg(F.avg(F.col("log_weight") / F.col("n_grams")).alias("m"))
        .collect()
    )
    by = {r.t: r.m for r in means}
    assert by[True] > by[False]
