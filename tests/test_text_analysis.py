"""Text-analysis operator tests on crafted inputs."""

from __future__ import annotations

import math

import pytest
from hypothesis import given
from hypothesis import strategies as st

from stream_processing_system_spark.operators import text_analysis
from tests.helpers import FUZZ, py_det_round


def test_doc_stats_basic(spark):
    df = spark.createDataFrame([(1, "the cat  sat")], ["doc_id", "text"])
    r = text_analysis.doc_stats(df).collect()[0]
    assert r["n_chars"] == len("the cat  sat")
    assert r["n_tokens"] == 3  # doubled space → empty token dropped
    assert abs(r["avg_token_len"] - round((3 + 3 + 3) / 3, 6)) < 1e-9
    assert abs(r["stopword_ratio"] - round(1 / 3, 6)) < 1e-9


def test_lang_id_markers_and_unknown(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat is of the house and it is"),
            (2, "el la de y es el la"),
            (3, "zz qq ww"),
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r["lang_pred"] for r in text_analysis.lang_id(df).collect()}
    assert got == {1: "en", 2: "es", 3: "unknown"}


def test_lang_id_tiebreak_priority(spark):
    # 'la de' scores 2 for both es and fr → priority order picks es
    df = spark.createDataFrame([(1, "la de")], ["doc_id", "text"])
    assert text_analysis.lang_id(df).collect()[0]["lang_pred"] == "es"


def test_quality_score_bounds(spark):
    df = spark.createDataFrame(
        [(1, "x"), (2, " ".join(["the", "wonderful", "engine"] * 50))],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r["quality"] for r in text_analysis.quality_score(df).collect()}
    assert 0.0 <= got[1] < got[2] <= 1.0


def test_fingerprint_normalizes(spark):
    df = spark.createDataFrame(
        [(1, "  Hello World "), (2, "hello world")], ["doc_id", "text"]
    )
    fps = [r["fp"] for r in text_analysis.fingerprint(df).collect()]
    assert fps[0] == fps[1]


def test_winnow_is_subset_of_kgram_hashes_and_overlaps_for_neardups(spark):
    a = "one two three four five six seven eight nine ten"
    b = "one two three four five six seven eight nine zzz"
    df = spark.createDataFrame([(1, a), (2, b)], ["doc_id", "text"])
    rows = text_analysis.winnow_fingerprints(df, k=3, window=4).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], set()).add(r["fp_hash"])
    # near-identical docs share most fingerprints
    inter = by_doc[1] & by_doc[2]
    assert len(inter) >= 1
    # winnowing compresses: fewer fingerprints than k-grams (8 grams per doc)
    assert len(by_doc[1]) <= 8


def test_inverted_index_planted(spark):
    from stream_processing_system_spark.operators.text_analysis import inverted_index

    df = spark.createDataFrame(
        [
            (1, "apple banana apple"),
            (2, "banana cherry"),
            (3, "apple banana"),
            (4, "the the the"),
        ],
        ["doc_id", "text"],
    )
    rows = {
        r["term"]: r
        for r in inverted_index(df, min_df=2, max_df=2).collect()
    }
    # banana: df=3 > max_df → pruned; apple: df=2, tf=3 (doc1 twice)
    assert set(rows) == {"apple"}
    assert rows["apple"]["df"] == 2
    assert rows["apple"]["tf"] == 3
    assert rows["apple"]["postings"] == [1, 3]


def test_corpus_card_planted(spark):
    from stream_processing_system_spark.operators.text_analysis import corpus_card

    df = spark.createDataFrame(
        [
            ("web", "en", "a bb ccc"),
            ("web", "en", "dddd"),
            ("web", "fr", "le chat"),
        ],
        ["source", "lang", "text"],
    )
    rows = {(r["source"], r["lang"]): r for r in corpus_card(df).collect()}
    en = rows[("web", "en")]
    assert en["n_docs"] == 2 and en["sum_tokens"] == 4
    assert en["sum_chars"] == len("a bb ccc") + len("dddd")
    assert en["avg_tokens"] == 2.0
    assert rows[("web", "fr")]["sum_tokens"] == 2


def test_ngram_diversity_planted(spark):
    from stream_processing_system_spark.operators.text_analysis import ngram_diversity

    df = spark.createDataFrame(
        [
            ("tpl", "a b a b"),   # unigrams: 4 tot / 2 dist; bigrams: 3 tot / 2 dist
            ("var", "w x y z"),   # all distinct
        ],
        ["source", "text"],
    )
    rows = {r["source"]: r for r in ngram_diversity(df).collect()}
    t = rows["tpl"]
    assert (t["n_unigrams"], t["d_unigrams"], t["n_bigrams"], t["d_bigrams"]) == (4, 2, 3, 2)
    assert rows["var"]["ttr_unigram"] == 1.0 and rows["var"]["ttr_bigram"] == 1.0


def test_inverted_index_matches_python_reference(spark):
    """Third implementation: inverted index on a small random-ish
    corpus vs a dict-based Python build."""
    from stream_processing_system_spark.operators.text_analysis import inverted_index

    texts = {
        1: "a b a c d",
        2: "b b e",
        3: "a e e f",
        4: "c a b",
        5: "",
    }
    df = spark.createDataFrame(list(texts.items()), ["doc_id", "text"])
    got = {
        r["term"]: (r["df"], r["tf"], r["postings"])
        for r in inverted_index(df, min_df=1, max_df=10).collect()
    }
    want: dict[str, dict] = {}
    for doc, text in texts.items():
        for w in text.split(" "):
            if w:
                want.setdefault(w, {}).setdefault(doc, 0)
                want[w][doc] += 1
    expect = {
        w: (len(pl), sum(pl.values()), sorted(pl)) for w, pl in want.items()
    }
    assert got == expect


def test_zipf_fit_recovers_planted_power_law(spark):
    """A corpus constructed with freq(rank) = round(1000 * rank^-1)
    must fit slope ~ -1 — the property the health metric reports."""
    import pandas as pd

    from stream_processing_system_spark.operators.text_analysis import zipf_fit

    words = []
    for rank in range(1, 51):
        words += [f"w{rank:03d}"] * max(1, round(1000 / rank))
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0], "text": [" ".join(words)]})
    )
    row = zipf_fit(docs, top=50).collect()[0]
    assert row["n_ranks"] == 50
    assert abs(row["slope"] - (-1.0)) < 0.05, row["slope"]


def test_rake_segments_on_stopwords_and_scores_degree_over_freq(spark):
    """Known-answer RAKE: phrases split at stopwords; a word
    appearing in longer phrases outscores an equally-frequent word
    living in short phrases."""
    import pandas as pd

    from stream_processing_system_spark.operators.text_analysis import (
        rake_keyphrases,
    )

    text = "deep learning of neural networks and deep learning"
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1], "text": [text]})
    )
    out = {r["phrase"]: (r["n_occurrences"], r["score"]) for r in
           rake_keyphrases(docs, top=10).collect()}
    # segmentation: 'of' and 'and' are boundaries
    assert set(out) == {"deep learning", "neural networks"}
    assert out["deep learning"][0] == 2
    # deg(deep)=4 freq=2 -> 2.0; same for learning -> phrase 4.0;
    # neural/networks: deg 2 freq 1 -> 2.0 each -> phrase 4.0
    assert out["deep learning"][1] == 4.0
    assert out["neural networks"][1] == 4.0


def test_token_entropy_known_values(spark):
    from stream_processing_system_spark.operators.text_analysis import (
        token_entropy,
    )

    df = spark.createDataFrame(
        [
            (1, "a b a b"),          # 50/50 -> exactly 1 bit
            (2, "a a a a"),          # degenerate -> 0 bits
            (3, "a b c d"),          # uniform over 4 -> exactly 2 bits
            (4, "a a a b"),          # 3/4,1/4 -> 0.811278 bits
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in token_entropy(df).collect()}
    assert got[1]["entropy"] == 1.0 and got[1]["n_distinct"] == 2
    assert got[2]["entropy"] == 0.0 and got[2]["n_distinct"] == 1
    assert got[3]["entropy"] == 2.0 and got[3]["n_tokens"] == 4
    import math

    h = -(0.75 * math.log2(0.75) + 0.25 * math.log2(0.25))
    assert abs(got[4]["entropy"] - h) < 2e-6


# --- Flesch reading ease (honest re-count with Python re) --------


flesch_texts = st.lists(
    st.text(
        alphabet="ab e.!? xyzoui",
        min_size=1,
        max_size=60,
    ),
    min_size=1,
    max_size=6,
)


@pytest.mark.slow
@given(docs=flesch_texts)
@FUZZ
def test_fuzz_flesch(spark, docs):
    import re

    from stream_processing_system_spark.operators.text_analysis import (
        flesch_reading_ease,
    )

    df = spark.createDataFrame(
        [("s", t) for t in docs], "source string, text string"
    )
    out = flesch_reading_ease(df).collect()
    micros = []
    for t in docs:
        words = [w for w in t.split(" ") if w != ""]
        if not words:
            continue
        snt = max(1, len(re.findall(r"[.!?]+", t)))
        syl = sum(
            max(1, len(re.findall("[aeiouy]+", w.lower())))
            for w in words
        )
        score = (
            206.835
            - 1.015 * (float(len(words)) / float(snt))
            - 84.6 * (float(syl) / float(len(words)))
        )
        micros.append(math.floor(score * 1e6 + 0.5))
    if not micros:
        assert out == []
        return
    n = len(micros)
    assert out[0]["n_docs"] == n
    assert out[0]["avg_flesch"] == py_det_round(
        float(sum(micros)) / (float(n) * 1e6)
    )
    assert out[0]["plain_english_share"] == py_det_round(
        float(sum(1 for m in micros if m >= 60_000_000)) / float(n)
    )


# --- Chao1 / Good-Turing (exact frequency-of-frequencies) --------


vocab_texts = st.lists(
    st.text(alphabet="ab c", min_size=0, max_size=30),
    min_size=1,
    max_size=6,
)


@pytest.mark.slow
@given(docs=vocab_texts)
@FUZZ
def test_fuzz_vocab_richness(spark, docs):
    from stream_processing_system_spark.operators.text_analysis import (
        vocab_richness,
    )

    df = spark.createDataFrame(
        [("s", t) for t in docs], "source string, text string"
    )
    out = vocab_richness(df).collect()
    counts = {}
    for t in docs:
        for w in t.split(" "):
            if w:
                counts[w] = counts.get(w, 0) + 1
    if not counts:
        assert out == []
        return
    n = sum(counts.values())
    vocab = len(counts)
    f1 = sum(1 for c in counts.values() if c == 1)
    f2 = sum(1 for c in counts.values() if c == 2)
    row = out[0]
    assert (
        row["n_tokens"],
        row["vocab"],
        row["f1_hapax"],
        row["f2_doubletons"],
    ) == (n, vocab, f1, f2)
    assert row["chao1_vocab"] == py_det_round(
        float(vocab)
        + float(f1) * (float(f1) - 1.0) / (2.0 * (float(f2) + 1.0))
    )
    assert row["gt_unseen_mass"] == py_det_round(float(f1) / float(n))


# --- Per-source unigram KL (grid replay term-for-term) -----------


src_docs = st.lists(
    st.tuples(
        st.sampled_from(["s1", "s2"]),
        st.text(alphabet="ab c", min_size=0, max_size=30),
    ),
    min_size=1,
    max_size=8,
)


@pytest.mark.slow
@given(docs=src_docs)
@FUZZ
def test_fuzz_source_kl(spark, docs):
    from stream_processing_system_spark.operators.text_analysis import (
        source_unigram_kl,
    )

    df = spark.createDataFrame(
        list(docs), "source string, text string"
    )
    out = {r["source"]: r for r in source_unigram_kl(df).collect()}
    counts = {}
    for s, t in docs:
        for w in t.split(" "):
            if w:
                counts[(s, w)] = counts.get((s, w), 0) + 1
    if not counts:
        assert out == {}
        return
    ns = {}
    ctok = {}
    for (s, w), c in counts.items():
        ns[s] = ns.get(s, 0) + c
        ctok[w] = ctok.get(w, 0) + c
    n = sum(ns.values())
    for s in ns:
        grid = sum(
            math.floor(
                float(c)
                * (
                    math.log(float(c))
                    + math.log(float(n))
                    - math.log(float(ns[s]))
                    - math.log(float(ctok[w]))
                )
                * 1e9
                + 0.5
            )
            for (ss, w), c in counts.items()
            if ss == s
        )
        assert out[s]["n_tokens"] == ns[s]
        assert out[s]["kl_vs_corpus"] == py_det_round(
            float(grid) / 1e9 / float(ns[s])
        )
    assert set(out) == set(ns)
