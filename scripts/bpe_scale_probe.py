#!/usr/bin/env python
"""Deep-merge BPE training measurement (SCALE.md round-10/11 envelope).

Round 10 measured the adaptive-batch trainer through 8192 merges on a
Zipf 200k-word corpus and PROJECTED the 32k point (~165 rounds) from the
256-cap tail; VERDICT round-10 item 5 asks for the real measurement. This
probe runs it:

- ``deep8k``: adaptive batch 32 -> 256, 8192 merges, on a seeded Zipf
  corpus of 200k words / 8k vocab (same size class as the round-10 table;
  the ad-hoc round-10 harness was not committed, so the corpus here is a
  fresh deterministic draw — the 8192 row is re-measured on it to anchor
  continuity before reading the 32k row).
- ``deep32k``: adaptive batch 32 -> 256, 32768 merges, on a 4x corpus
  (800k words / 32k vocab — a 200k-word corpus cannot support 32k
  distinct merges at min_pair_count=2, so the deep point needs the bigger
  draw; rounds are the metric being validated and depend on the cap walk,
  not the corpus volume).

Prints one markdown row per run and ONE trailing JSON line. The session is
the engine's (``get_session``, cores from ``SPARK_GRAFT_CPUS``); the
SCALE.md rows were taken on 32 cores.

Usage: python scripts/bpe_scale_probe.py [runs]
       runs = comma list from {deep8k,deep32k,fixed8k}; default deep8k,deep32k
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)
os.environ["PYTHONPATH"] = _REPO + os.pathsep + os.environ.get("PYTHONPATH", "")

SEED = 20260816
WORDS_PER_DOC = 100


def zipf_corpus(n_words: int, vocab_size: int) -> list[str]:
    """Deterministic Zipf-rank corpus: ``vocab_size`` distinct lowercase
    words (2-10 chars), sampled ``n_words`` times with p(rank) ~ 1/rank^1.1
    (word-frequency exponent ~1 per Zipf's law), packed into 100-word
    docs."""
    rng = np.random.default_rng(SEED)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab: list[str] = []
    seen = set()
    while len(vocab) < vocab_size:
        length = int(rng.integers(2, 11))
        w = "".join(rng.choice(letters, size=length))
        if w not in seen:
            seen.add(w)
            vocab.append(w)
    ranks = np.arange(1, vocab_size + 1, dtype=np.float64)
    p = 1.0 / ranks**1.1
    p /= p.sum()
    draw = rng.choice(vocab_size, size=n_words, p=p)
    words = [vocab[i] for i in draw]
    return [
        " ".join(words[i : i + WORDS_PER_DOC])
        for i in range(0, n_words, WORDS_PER_DOC)
    ]


RUNS = {
    # name: (n_words, vocab, n_merges, batch, adaptive)
    "fixed8k": (200_000, 8_192, 8_192, 32, False),
    "deep8k": (200_000, 8_192, 8_192, 32, True),
    "deep32k": (800_000, 32_768, 32_768, 32, True),
}


def main() -> int:
    names = (
        sys.argv[1].split(",") if len(sys.argv) > 1 else ["deep8k", "deep32k"]
    )
    from stupidb_spark.operators.bpe import bpe_train
    from stupidb_spark.session import get_session

    spark = get_session("bpe-scale-probe")
    spark.sparkContext.setLogLevel("ERROR")

    results = {}
    print("| run | n_merges | learned | rounds | sec | sec/round |")
    print("|---|---|---|---|---|---|")
    for name in names:
        n_words, vocab, n_merges, batch, adaptive = RUNS[name]
        docs = zipf_corpus(n_words, vocab)
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
        ).repartition(32)
        df = df.cache()
        df.count()
        stats: dict = {}
        t0 = time.perf_counter()
        merges = bpe_train(
            df,
            n_merges=n_merges,
            batch_size=batch,
            adaptive_batch=adaptive,
            max_batch_size=256,
            stats=stats,
        )
        secs = time.perf_counter() - t0
        df.unpersist()
        results[name] = {
            "n_words": n_words,
            "vocab": vocab,
            "n_merges": n_merges,
            "learned": len(merges),
            "adaptive": adaptive,
            "rounds": stats["rounds"],
            "delta_rounds": stats["delta_rounds"],
            "sec": round(secs, 1),
            "sec_per_round": round(secs / max(1, stats["rounds"]), 2),
            "tail_batch": stats["batch_sizes"][-5:],
        }
        r = results[name]
        print(
            f"| {name} | {n_merges} | {r['learned']} | {r['rounds']} | "
            f"{r['sec']} | {r['sec_per_round']} |",
            flush=True,
        )
    spark.stop()
    print(
        json.dumps(
            {"metric": "bpe_scale_probe", "seed": SEED, "runs": results},
            separators=(",", ":"),
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
