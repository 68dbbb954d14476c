"""Approximate-dedup validation against exact ground truth (the check the
queryset docstring promises): MinHash-LSH must recover the exact-Jaccard
pair set on the fixtures (near-identical dups ⇒ S-curve recall ~1), and the
banded SimHash pipeline must agree with the reference column-fold
implementation of the fingerprint."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from stupidb_spark.functions.text import words
from stupidb_spark.operators.dedup import (
    jaccard_pairs,
    minhash_band_index,
    minhash_lsh_pairs,
    minhash_probe_candidates,
    simhash64,
    simhash_fingerprints,
    simhash_pairs,
    spread_small_scan,
    word_shingles,
)
from stupidb_spark.sources import load_table
from tests.conftest import SF_DIR


def _docs(spark):
    return load_table(spark, SF_DIR, "documents")


def _edge_docs(spark):
    """Shingling edge cases beside two near-duplicate pairs: an empty text,
    a text under k words, a doc_id on two rows (identical text, so its
    interleaved tokens shingle deterministically), a NULL doc_id and a
    NULL text."""
    base = "the quick brown fox jumps over the lazy dog near the river bank"
    colors = "red green blue cyan pink gray"
    return spark.createDataFrame(
        [
            (1, base),
            (2, base + " today"),
            (3, ""),
            (4, "two words"),
            (5, colors),
            (5, colors),
            (6, " ".join(w for w in colors.split() for _ in range(2))),
            (None, base),
            (7, None),
        ],
        "doc_id long, text string",
    )


def test_minhash_recovers_exact_jaccard_pairs(spark):
    kw = dict(id_col="doc_id", text_col="text", threshold=0.5)
    for docs in (_docs(spark), _edge_docs(spark)):
        exact = {
            (r.id_a, r.id_b): r.jaccard
            for r in jaccard_pairs(docs, uncapped_ok=True, **kw).collect()
        }
        approx = {
            (r.id_a, r.id_b): r.jaccard
            for r in minhash_lsh_pairs(docs, **kw).collect()
        }
        # verification scores candidates with exact jaccard ⇒ no false
        # positives and equal scores; the dups are near-identical ⇒ LSH
        # recall is 1 here (deterministic)
        assert approx == exact
        assert len(exact) > 0


@pytest.mark.parametrize(
    "op", ["minhash_lsh_pairs", "jaccard_pairs", "minhash_probe_candidates"]
)
def test_null_text_shingles_to_nothing(spark, op):
    """SQL semantics for a NULL text: it has no tokens, so it contributes
    no shingles and matches nothing; the doc-bytes guard lets it pass."""
    kw = dict(id_col="doc_id", text_col="text")
    run = {
        "minhash_lsh_pairs": lambda d: minhash_lsh_pairs(d, **kw),
        "jaccard_pairs": lambda d: jaccard_pairs(d, uncapped_ok=True, **kw),
        "minhash_probe_candidates": lambda d: minhash_probe_candidates(
            minhash_band_index(d, **kw), d, **kw
        ),
    }[op]
    docs = _docs(spark).filter(F.col("doc_id") < 100).select("doc_id", "text")
    null_text = spark.createDataFrame([(10_000, None)], docs.schema)
    expected = sorted(run(docs).collect())
    assert expected
    assert sorted(run(docs.unionByName(null_text)).collect()) == expected


def test_pair_orientation_and_threshold(spark):
    out = minhash_lsh_pairs(
        _docs(spark), id_col="doc_id", text_col="text", threshold=0.5
    )
    bad = out.filter((F.col("id_a") >= F.col("id_b")) | (F.col("jaccard") < 0.5))
    assert bad.count() == 0


def test_simhash_pipeline_matches_column_fold(spark):
    """The banded (explode → 64 SUM votes) pipeline and the single-column
    HOF fold must produce identical fingerprints — two implementations, one
    definition."""
    docs = _docs(spark).limit(100)
    fold = docs.select(
        F.col("doc_id").alias("doc"), simhash64(F.col("text")).alias("fp_fold")
    )
    toks = spread_small_scan(docs.select(F.col("doc_id").alias("doc"), "text")).select(
        "doc", F.explode(words(F.col("text"))).alias("t")
    )
    h = F.xxhash64("t")
    votes = toks.groupBy("doc").agg(
        *[
            F.sum(
                F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"v{b}")
            for b in range(64)
        ]
    )
    fp_col = F.lit(0).cast("long")
    for b in range(64):
        bit_val = F.lit(-(2**63) if b == 63 else (1 << b)).cast("long")
        fp_col = fp_col.bitwiseOR(
            F.when(F.col(f"v{b}") > 0, bit_val).otherwise(F.lit(0).cast("long"))
        )
    agg = votes.select("doc", fp_col.alias("fp_agg"))
    diff = fold.join(agg, "doc").filter(F.col("fp_fold") != F.col("fp_agg"))
    assert diff.count() == 0


def test_simhash_pairs_sane(spark):
    out = simhash_pairs(_docs(spark), id_col="doc_id", text_col="text", max_hamming=8)
    assert out.filter((F.col("id_a") >= F.col("id_b")) | (F.col("hamming") > 8)).count() == 0
    # exact duplicates (jaccard 1.0) have identical fingerprints → hamming 0,
    # so every exact-dup pair must be present
    exact_dups = {
        (r.id_a, r.id_b)
        for r in jaccard_pairs(
            _docs(spark), id_col="doc_id", text_col="text", threshold=0.999,
            uncapped_ok=True,
        ).collect()
    }
    found = {(r.id_a, r.id_b) for r in out.collect()}
    assert exact_dups <= found


def test_simhash_recall_equals_popcount_ground_truth(spark):
    """The banding contract: with the default max_hamming+1 bands, the
    output is EXACTLY the brute-force popcount(xor) ≤ max_hamming pair set —
    100% recall at the advertised radius (pigeonhole), no false positives
    (exact verification)."""
    docs = _docs(spark)
    fp = simhash_fingerprints(docs, id_col="doc_id", text_col="text")
    a, b = fp.alias("a"), fp.alias("b")
    truth = {
        (r.id_a, r.id_b)
        for r in a.join(b, F.col("a.doc") < F.col("b.doc"))
        .select(
            F.col("a.doc").alias("id_a"),
            F.col("b.doc").alias("id_b"),
            F.bit_count(F.col("a.fp").bitwiseXOR(F.col("b.fp"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= 8)
        .collect()
    }
    found = {
        (r.id_a, r.id_b)
        for r in simhash_pairs(
            docs, id_col="doc_id", text_col="text", max_hamming=8
        ).collect()
    }
    assert found == truth
    assert len(truth) > 0


def test_simhash_adversarial_spread_flips_and_empty_docs(spark):
    """Two hand-built hazards: (a) a near-dup whose 8 differing tokens
    spread bit flips across the fingerprint — the case coarse banding
    (4×16 bits) can miss and max_hamming+1 bands cannot; (b) documents with
    no alphabetic tokens, which must pair with each other (fp=0 on both)
    instead of being dropped by the explode."""
    base = "the quick brown fox jumps over the lazy dog again and again today"
    docs = spark.createDataFrame(
        [
            (1, base + " alpha beta gamma delta"),
            (2, base + " alpha beta gamma delta"),  # exact dup of 1
            (3, base),  # near dup of 1/2
            (4, "12345 67890 !!!"),  # no alphabetic tokens
            (5, "???"),  # no alphabetic tokens
        ],
        "doc_id long, text string",
    )
    fp = {r.doc: r.fp for r in simhash_fingerprints(
        docs, id_col="doc_id", text_col="text"
    ).collect()}
    assert fp[4] == 0 and fp[5] == 0
    truth = {
        (a, b)
        for a in fp
        for b in fp
        if a < b and bin((fp[a] ^ fp[b]) & (2**64 - 1)).count("1") <= 8
    }
    found = {
        (r.id_a, r.id_b)
        for r in simhash_pairs(
            docs, id_col="doc_id", text_col="text", max_hamming=8
        ).collect()
    }
    assert found == truth
    assert (1, 2) in found and (4, 5) in found


def test_word_shingles_short_doc_guard(spark):
    df = spark.createDataFrame(
        [(1, "one two"), (2, "one two three four"), (3, "")], "id long, t string"
    )
    out = df.withColumn("_w", words(F.col("t"))).select(
        "id", word_shingles(F.col("_w"), 3).alias("sh")
    )
    rows = {r.id: r.sh for r in out.collect()}
    assert rows[1] == []  # < k words ⇒ no shingles (not garbage slices)
    assert rows[2] == ["one two three", "two three four"]
    assert rows[3] == []


@pytest.mark.parametrize(
    "texts, expected",
    [
        # two texts under one id: the union of each row's own shingles,
        # never a window that runs from one row into the other
        (
            ["alpha beta gamma delta", "one two three four"],
            [
                "alpha beta gamma",
                "beta gamma delta",
                "one two three",
                "two three four",
            ],
        ),
        # identical texts under one id: each shingle once
        (
            ["alpha beta gamma delta", "alpha beta gamma delta"],
            ["alpha beta gamma", "beta gamma delta"],
        ),
    ],
)
def test_doc_shingles_duplicate_id_rows(spark, texts, expected):
    from stupidb_spark.operators.dedup import doc_shingles

    docs = spark.createDataFrame(
        [(5, t) for t in texts] + [(6, "alpha beta")], "doc_id long, text string"
    )
    out = doc_shingles(docs, id_col="doc_id", text_col="text", k=3)
    assert sorted(map(tuple, out.collect())) == [(5, sh) for sh in expected]


def test_jaccard_max_doc_freq_recall_contract(spark):
    # the skew guard drops hot (boilerplate) shingles from both the index
    # and the per-doc counts: planted near-dups sharing informative
    # shingles are still found with exact capped-universe scores, while a
    # pair related ONLY through the hot shingle is dropped by design
    boiler = "terms of service apply"  # 4 words -> 2 hot 3-shingles
    rows = [
        (1, f"alpha beta gamma delta epsilon eta theta {boiler}"),
        (2, f"alpha beta gamma delta epsilon eta iota {boiler}"),  # near-dup
        (3, f"one two three four five six seven {boiler}"),
        (4, f"ten eleven twelve thirteen fourteen fifteen sixteen {boiler}"),
        (5, f"red green blue cyan violet indigo amber {boiler}"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    kw = dict(id_col="doc_id", text_col="text", k=3, threshold=0.1)
    capped = {
        (r.id_a, r.id_b): r.jaccard
        for r in jaccard_pairs(docs, max_doc_freq=2, **kw).collect()
    }
    # planted pair survives; every boilerplate-only pair is gone
    assert set(capped) == {(1, 2)}
    # exact score over the informative universe: docs 1/2 keep 7 sub-cap
    # shingles each (the two df=5 boilerplate shingles are dropped), 4 common
    assert abs(capped[(1, 2)] - 4 / (7 + 7 - 4)) < 1e-12
    # uncapped finds every boilerplate-only pair too (the skew the cap
    # guards: all 5 docs meet through the 2 hot shingles)
    uncapped = jaccard_pairs(docs, uncapped_ok=True, **kw).collect()
    assert len(uncapped) == 10


def test_doc_shingles_mega_document_guard(spark):
    # one pathological mega-document must fail the job LOUDLY (with its id
    # and size in the message), not straggle/OOM a WindowExec task — same
    # philosophy as the navigation partition guard
    import pytest
    from pyspark.errors import SparkRuntimeException

    from stupidb_spark.operators.dedup import doc_shingles

    rows = [(1, "small normal document"), (2, "word " * 2000)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    guarded = doc_shingles(
        docs, id_col="doc_id", text_col="text", k=3, max_doc_bytes=1024
    )
    with pytest.raises(SparkRuntimeException) as exc:
        guarded.count()
    msg = str(exc.value)
    assert "max_doc_bytes" in msg and "document 2" in msg
    # capped universe: the guard passes when every doc fits, results
    # identical to the waived form
    ok = doc_shingles(
        docs.filter(F.col("doc_id") == 1),
        id_col="doc_id",
        text_col="text",
        max_doc_bytes=1024,
    )
    waived = doc_shingles(
        docs.filter(F.col("doc_id") == 1),
        id_col="doc_id",
        text_col="text",
        max_doc_bytes=None,
    )
    assert sorted(map(tuple, ok.collect())) == sorted(map(tuple, waived.collect()))


def test_jaccard_and_minhash_thread_doc_bytes_cap(spark):
    # the cap flows through both pair emitters: an oversized doc fails the
    # whole pipeline loudly at the shingle source. AQE may wrap the
    # USER_RAISED_EXCEPTION in a stage-materialization SparkException when
    # several stages fail concurrently, so match on the message.
    import pytest

    rows = [(1, "alpha beta gamma delta"), (2, "word " * 2000)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    kw = dict(id_col="doc_id", text_col="text", k=3, threshold=0.1)
    with pytest.raises(Exception, match="max_doc_bytes"):
        jaccard_pairs(docs, max_doc_bytes=1024, uncapped_ok=True, **kw).count()
    with pytest.raises(Exception, match="max_doc_bytes"):
        minhash_lsh_pairs(docs, max_doc_bytes=1024, **kw).count()


def test_uncapped_jaccard_warns_scale_envelope(spark):
    # max_doc_freq=None without uncapped_ok=True is correct but unaffordable
    # at corpus scale — plan construction must say so loudly
    import warnings

    import pytest

    from stupidb_spark.operators.dedup import ScaleWarning

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta")], "doc_id long, text string"
    )
    kw = dict(id_col="doc_id", text_col="text", k=3, threshold=0.5)
    with pytest.warns(ScaleWarning, match="max_doc_freq"):
        jaccard_pairs(docs, **kw)
    # explicit opt-ins are silent
    with warnings.catch_warnings():
        warnings.simplefilter("error", ScaleWarning)
        jaccard_pairs(docs, uncapped_ok=True, **kw)
        jaccard_pairs(docs, max_doc_freq=8, **kw)


def test_simhash_radius_stats_estimates_density(spark):
    """The radius-selection tool: estimated pair counts per max_hamming must
    be monotone, deterministic, and calibrated against the TRUE pair count
    (exact by enumeration at fixture scale, where the sample IS the corpus,
    so est_pairs == true pairs exactly)."""
    from stupidb_spark.operators.dedup import simhash_pairs, simhash_radius_stats

    docs = _docs(spark)
    stats = simhash_radius_stats(
        docs, id_col="doc_id", text_col="text", radii=(0, 3, 8)
    )
    rows = {r.max_hamming: r for r in stats.collect()}
    assert set(rows) == {0, 3, 8}
    # monotone in the radius
    assert rows[0].est_pairs <= rows[3].est_pairs <= rows[8].est_pairs
    # fixture corpus fits entirely in the default sample -> the "estimate"
    # is the exact census: compare against the enumerated truth
    n = docs.count()
    assert n <= 4096
    for r in (3, 8):
        true_pairs = simhash_pairs(
            docs, id_col="doc_id", text_col="text", max_hamming=r
        ).count()
        assert rows[r].sample_pairs == true_pairs
        assert abs(rows[r].est_pairs - true_pairs) < 1e-6
        assert abs(rows[r].pairs_per_doc - true_pairs / n) < 1e-9
    # deterministic
    again = {r.max_hamming: r.est_pairs for r in
             simhash_radius_stats(docs, id_col="doc_id", text_col="text",
                                  radii=(0, 3, 8)).collect()}
    assert again == {k: v.est_pairs for k, v in rows.items()}


def test_simhash_radius_stats_subsample_scales(spark):
    """When the sample is smaller than the corpus, the estimate scales the
    sample fraction to N(N-1)/2 — check the arithmetic on a corpus built so
    the true density is known (every doc identical -> all pairs at
    hamming 0)."""
    from stupidb_spark.operators.dedup import simhash_radius_stats

    docs = spark.createDataFrame(
        [(i, "same words everywhere") for i in range(200)],
        "doc_id long, text string",
    )
    stats = {
        r.max_hamming: r
        for r in simhash_radius_stats(
            docs, id_col="doc_id", text_col="text", radii=(0,), n_sample=50
        ).collect()
    }
    # sample: 50*49/2 pairs all at hamming 0 -> fraction 1.0 -> est = full
    # corpus pair count
    assert stats[0].sample_pairs == 50 * 49 // 2
    assert abs(stats[0].est_pairs - 200 * 199 / 2) < 1e-6


class TestIngestCandidates:
    """minhash_band_index + minhash_probe_candidates: the dedup-at-ingest
    primitive. The probe side rebuilds the signature with array HOFs (the
    streaming-safe path) — these tests pin that it produces EXACTLY the
    index's hash construction."""

    def test_identical_text_always_caught(self, spark):
        from stupidb_spark.operators.dedup import (
            minhash_band_index,
            minhash_probe_candidates,
        )

        corpus = _docs(spark).filter(F.col("doc_id") % 5 != 0)
        idx = minhash_band_index(corpus, id_col="doc_id", text_col="text")
        # re-ingest 10 corpus docs verbatim under fresh ids: every one
        # must collide with its source in every band (exact recall on
        # exact re-ingests — the signature construction matches bit-wise)
        probes = (
            corpus.orderBy("doc_id")
            .limit(10)
            .select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
        )
        got = {
            (r.probe_id, r.corpus_doc)
            for r in minhash_probe_candidates(
                idx, probes, id_col="doc_id", text_col="text"
            ).collect()
        }
        for r in probes.select("doc_id").collect():
            assert any(p == r.doc_id and c == r.doc_id - 1000000 for p, c in got)

    def test_probe_banding_matches_index_banding(self, spark):
        # Self-probe: band the SAME corpus through both code paths (index:
        # exploded rows + window shingles + hash agg; probe: array HOF
        # shingles + signature fold). Identical (doc, bucket) relations —
        # the strongest equivalence check between the two constructions.
        from stupidb_spark.operators.dedup import minhash_band_index
        from stupidb_spark.operators.dedup import (
            _doc_bytes_guard,  # noqa: F401 (documents the shared guard)
        )

        corpus = _docs(spark).filter(F.col("doc_id") < 100)
        idx = {
            (r.doc, r.bucket)
            for r in minhash_band_index(
                corpus, id_col="doc_id", text_col="text"
            ).collect()
        }
        # probe path exposed through minhash_probe_candidates' internals:
        # run it against a 1-row dummy index per bucket is awkward, so
        # rebuild the probe projection directly
        from stupidb_spark.functions.text import words
        from stupidb_spark.operators.dedup import (
            minhash_signature,
            word_shingles,
        )

        n_hashes, n_bands = 32, 8
        rpb = n_hashes // n_bands
        base = (
            corpus.select(F.col("doc_id").alias("doc"), "text")
            .withColumn("__w", words(F.col("text")))
            .withColumn("__sh", word_shingles(F.col("__w"), 3))
            .where(F.size("__sh") >= 1)
            .withColumn(
                "__sig", minhash_signature(F.col("__sh"), n_hashes)
            )
        )
        probe = {
            (r.doc, r.bucket)
            for r in base.select(
                "doc",
                F.explode(
                    F.array(
                        *[
                            F.xxhash64(
                                F.lit(b),
                                *[
                                    F.element_at("__sig", b * rpb + r + 1)
                                    for r in range(rpb)
                                ],
                            )
                            for b in range(n_bands)
                        ]
                    )
                ).alias("bucket"),
            ).collect()
        }
        assert probe == idx

    def test_no_self_matches_and_deterministic(self, spark):
        from stupidb_spark.queryset import QUERIES
        from tests.conftest import SF_DIR

        a = sorted(
            map(tuple, QUERIES["dedup_ingest_candidates"](spark, SF_DIR).collect())
        )
        b = sorted(
            map(tuple, QUERIES["dedup_ingest_candidates"](spark, SF_DIR).collect())
        )
        assert a == b
        assert all(p != c for p, c in a)


def test_containment_catches_subset_docs(spark):
    # A short document pasted verbatim inside a much longer one: containment
    # is exactly 1.0 while Jaccard ~ |A|/|B| stays under any useful
    # resemblance threshold — the asymmetric operator exists for this pair.
    from stupidb_spark.operators.dedup import containment_pairs

    small = "alpha beta gamma delta epsilon zeta eta theta"
    big = small + (
        " iota kappa lam mu nu xi omicron pi rho sigma tau upsilon phi chi"
        " psi omega one two three four five six seven eight nine ten eleven"
        " twelve thirteen fourteen fifteen sixteen"
    )
    docs = spark.createDataFrame(
        [(1, small), (2, big)], "doc_id long, text string"
    )
    kw = dict(id_col="doc_id", text_col="text", k=3, uncapped_ok=True)
    cont = {
        (r.id_a, r.id_b): r.containment
        for r in containment_pairs(docs, threshold=0.9, **kw).collect()
    }
    assert cont[(1, 2)] == 1.0
    jac = {
        (r.id_a, r.id_b)
        for r in jaccard_pairs(docs, threshold=0.5, **kw).collect()
    }
    assert (1, 2) not in jac  # resemblance structurally misses the subset


def test_containment_dominates_jaccard(spark):
    # n_common/min(n_a,n_b) >= n_common/(n_a+n_b-n_common) always, so at the
    # same threshold the containment pair set is a superset of Jaccard's and
    # the per-pair score is never smaller (equality iff A == B as sets).
    from stupidb_spark.operators.dedup import containment_pairs

    kw = dict(id_col="doc_id", text_col="text", k=3, uncapped_ok=True)
    docs = _docs(spark)
    cont = {
        (r.id_a, r.id_b): r.containment
        for r in containment_pairs(docs, threshold=0.5, **kw).collect()
    }
    jac = {
        (r.id_a, r.id_b): r.jaccard
        for r in jaccard_pairs(docs, threshold=0.5, **kw).collect()
    }
    assert jac and set(jac) <= set(cont)
    for pair, j in jac.items():
        assert cont[pair] >= j - 1e-12


def test_containment_shares_scale_envelope_and_skew_guard(spark):
    # The shared candidate stage: same ScaleWarning contract and the same
    # max_doc_freq stop-shingle cap as jaccard_pairs.
    import warnings

    import pytest

    from stupidb_spark.operators.dedup import ScaleWarning, containment_pairs

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta")], "doc_id long, text string"
    )
    kw = dict(id_col="doc_id", text_col="text", k=3, threshold=0.5)
    with pytest.warns(ScaleWarning, match="containment_pairs"):
        containment_pairs(docs, **kw)
    with warnings.catch_warnings():
        warnings.simplefilter("error", ScaleWarning)
        containment_pairs(docs, uncapped_ok=True, **kw)
        containment_pairs(docs, max_doc_freq=8, **kw)
    # capped form executes end-to-end on the fixtures (shared helper, but
    # the projection must survive the join-back too)
    capped = containment_pairs(
        _docs(spark), id_col="doc_id", text_col="text", k=3,
        threshold=0.6, max_doc_freq=2,
    )
    assert capped.filter(
        (F.col("containment") < 0.6) | (F.col("id_a") >= F.col("id_b"))
    ).count() == 0


def test_components_df_cap_label_identical_on_fixture(spark):
    """The registered dedup_components pair source is df-capped
    (COMPONENTS_DF_CAP) — the 100 TB envelope guard. On the fixtures the
    cap must be provably inert: max shingle df sits far below the cap, so
    the capped labels equal the uncapped exact labels (which is why the
    uncapped recursive-CTE oracle still hash-matches at the driver gate)."""
    import pyspark.sql.functions as F

    from stupidb_spark.operators.components import connected_components
    from stupidb_spark.operators.dedup import doc_shingles, jaccard_pairs
    from stupidb_spark.queryset.dedup import COMPONENTS_DF_CAP
    from stupidb_spark.sources import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    max_df = (
        doc_shingles(docs, id_col="doc_id", text_col="text", k=3)
        .groupBy("shingle")
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    assert max_df < COMPONENTS_DF_CAP, (
        f"fixture max shingle df {max_df} reached the cap "
        f"{COMPONENTS_DF_CAP}; the capped gate queries would diverge from "
        "their uncapped oracles — regenerated fixture? raise the cap or "
        "re-adjudicate"
    )

    def labels(**kw):
        pairs = jaccard_pairs(
            docs, id_col="doc_id", text_col="text", k=3, threshold=0.5, **kw
        )
        lab = connected_components(
            pairs, src="id_a", dst="id_b", nodes=docs.select("doc_id")
        )
        return sorted(map(tuple, lab.collect()))

    assert labels(max_doc_freq=COMPONENTS_DF_CAP) == labels(uncapped_ok=True)


def test_jaccard_size_ratio_prefilter_is_exact(spark):
    """The in-join size-ratio prune (min ≥ t·max) must be invisible in the
    output: differential vs the unfiltered candidate stage on the fixture,
    plus a synthetic BOUNDARY pair where min == t·max exactly (jaccard
    exactly at threshold) that the >= comparison must keep."""
    from stupidb_spark.operators.dedup import _pair_overlap_counts

    def unfiltered(df, threshold):
        joined = _pair_overlap_counts(
            df,
            id_col="doc_id",
            text_col="text",
            k=3,
            max_doc_freq=None,
            max_doc_bytes=None,
            uncapped_ok=True,
            what="test",
            size_ratio_floor=None,
        )
        jac = F.col("n_common") / (
            F.col("n_a") + F.col("n_b") - F.col("n_common")
        )
        return joined.select("id_a", "id_b", jac.alias("jaccard")).filter(
            F.col("jaccard") >= threshold
        )

    docs = load_table(spark, SF_DIR, "documents")
    for t in (0.3, 0.5, 0.8):
        got = sorted(
            map(
                tuple,
                jaccard_pairs(
                    docs, id_col="doc_id", text_col="text", k=3, threshold=t,
                    uncapped_ok=True,
                ).collect(),
            )
        )
        want = sorted(map(tuple, unfiltered(docs, t).collect()))
        assert got == want, f"prefilter changed output at threshold {t}"

    # boundary: A's 4 shingles ⊂ B's 8 → jaccard = 4/8 = 0.5 = t and
    # min(4) == 0.5 · max(8) exactly; C(9 shingles ⊃ A) is 4/9 < t.
    vocab = ("alpha beta gamma delta epsilon zeta eta theta iota "
             "kappa lambda").split()
    wz = " ".join(vocab[:6])   # 4 shingles
    wb = " ".join(vocab[:10])  # 8 shingles
    wc = " ".join(vocab[:11])  # 9 shingles
    syn = spark.createDataFrame(
        [(1, wz), (2, wb), (3, wc)], "doc_id long, text string"
    )
    got = sorted(
        map(
            tuple,
            jaccard_pairs(
                syn, id_col="doc_id", text_col="text", k=3, threshold=0.5,
                uncapped_ok=True,
            ).select("id_a", "id_b").collect(),
        )
    )
    # (1,2) at exactly 0.5 kept; (1,3) at 4/9 and (2,3) at 8/9 -> only
    # (2,3) also qualifies (8/9 >= 0.5)
    assert got == [(1, 2), (2, 3)], got


def test_sem_centroid_grids_distinct_and_exactly_representable():
    """The literal quantizer grids must have pairwise-distinct rows (a
    duplicate centroid would silently produce a dead cell via the
    assignment tie-break) and every value a multiple of 0.25, so the
    Python floats and the SQL literals denote identical doubles."""
    from stupidb_spark.queryset.dedup import _SEM_CENTROIDS, _SEM_CENTROIDS64

    for grid in (_SEM_CENTROIDS, _SEM_CENTROIDS64):
        rows = [tuple(r) for r in grid]
        assert len(set(rows)) == len(rows)
        assert all(x * 4 == int(x * 4) for r in rows for x in r)
