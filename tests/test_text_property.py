"""Property-based checks: Spark text/dedup primitives vs independent
pure-Python references on hypothesis-generated corpora."""

from __future__ import annotations

import hashlib
import math

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators import dedup as DD

# words over a small alphabet maximize collision/overlap cases
words = st.text(alphabet="abc ", min_size=0, max_size=30)


def _py_tokens(text: str) -> list[str]:
    return text.strip().split() if text.strip() else [""] if text.strip() == "" else []


def _py_tokens_split(text: str) -> list[str]:
    # Spark split(trim(x), '\s+') on "" yields [""]
    t = text.strip()
    import re

    return re.split(r"\s+", t) if t else [""]


def _py_ngrams(text: str, n: int) -> list[str]:
    toks = _py_tokens_split(text)
    if len(toks) - (n - 1) < 1:
        return []
    out, seen = [], set()
    for i in range(len(toks) - n + 1):
        g = " ".join(toks[i : i + n])
        if g not in seen:
            seen.add(g)
            out.append(g)
    return out


@settings(max_examples=30, deadline=None)
@given(st.lists(words, min_size=1, max_size=8))
def test_token_ngrams_matches_python(spark, texts):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["i", "t"])
    got = {
        r["i"]: r["g"]
        for r in df.select("i", DD.token_ngrams("t", 2).alias("g")).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == _py_ngrams(t, 2), (t, got[i])


@settings(max_examples=20, deadline=None)
@given(st.lists(words, min_size=2, max_size=6))
def test_simhash_matches_python(spark, texts):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["i", "t"])
    got = {
        r["i"]: r["simhash"]
        for r in DD.simhash_signatures(df, "i", "t").collect()
    }

    def py_simhash(text: str) -> int:
        toks = list(dict.fromkeys(_py_tokens_split(text)))
        counters = [0] * 60
        for t in toks:
            h = int(hashlib.md5(t.encode()).hexdigest()[:15], 16)
            for j in range(60):
                counters[j] += 1 if (h >> j) & 1 else -1
        return sum(1 << j for j in range(60) if counters[j] > 0)

    for i, t in enumerate(texts):
        assert got[i] == py_simhash(t), (t, got[i])


def _py_simhash(text: str) -> int:
    toks = list(dict.fromkeys(_py_tokens_split(text)))
    counters = [0] * 60
    for t in toks:
        h = int(hashlib.md5(t.encode()).hexdigest()[:15], 16)
        for j in range(60):
            counters[j] += 1 if (h >> j) & 1 else -1
    return sum(1 << j for j in range(60) if counters[j] > 0)


def test_simhash_pairs_known_corpus(spark):
    """Pigeonhole chunk-bucketed pairs are EXACT at hamming <= 3: equal to
    brute-force popcount pairs on a corpus with known near-duplicates."""
    texts = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over the lazy cat",  # 1-word edit of 0
        "the quick brown fox jumps over the lazy dog",  # exact dup of 0
        "completely different content about spark engines",
        "completely different content about spark engines here",
        "unrelated text with no overlap whatsoever at all",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["i", "t"])
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in DD.simhash_near_dup_pairs(df, "i", "t", max_hamming=3).collect()
    }
    sigs = [_py_simhash(t) for t in texts]
    want = {
        (i, j): bin(sigs[i] ^ sigs[j]).count("1")
        for i in range(len(texts))
        for j in range(i + 1, len(texts))
        if bin(sigs[i] ^ sigs[j]).count("1") <= 3
    }
    assert got == want, (got, want)
    assert (0, 2) in got and got[(0, 2)] == 0  # the exact dup must surface


@settings(max_examples=20, deadline=None)
@given(st.lists(words, min_size=2, max_size=6))
def test_simhash_pairs_match_bruteforce(spark, texts):
    """Chunk-bucketed near-dup pairs equal brute-force hamming<=3 pairs on
    arbitrary corpora (guaranteed-recall property of the 4x15 pigeonhole)."""
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["i", "t"])
    got = {
        (r["id_a"], r["id_b"])
        for r in DD.simhash_near_dup_pairs(df, "i", "t", max_hamming=3).collect()
    }
    sigs = [_py_simhash(t) for t in texts]
    want = {
        (i, j)
        for i in range(len(texts))
        for j in range(i + 1, len(texts))
        if bin(sigs[i] ^ sigs[j]).count("1") <= 3
    }
    assert got == want, (texts, got, want)


@settings(max_examples=20, deadline=None)
@given(st.lists(words, min_size=2, max_size=6))
def test_minhash_pairs_match_bruteforce(spark, texts):
    """The LSH funnel's output equals brute-force Jaccard-threshold
    pairs on arbitrary small corpora (recall-1 property)."""
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["i", "t"])
    got = {
        (r["id_a"], r["id_b"])
        for r in DD.minhash_near_dup_pairs(df, "i", "t", threshold=0.6).collect()
    }

    def jacc(a: str, b: str) -> float:
        sa, sb = set(_py_tokens_split(a)), set(_py_tokens_split(b))
        return len(sa & sb) / len(sa | sb) if sa | sb else math.nan

    want = {
        (i, j)
        for i in range(len(texts))
        for j in range(i + 1, len(texts))
        if jacc(texts[i], texts[j]) >= 0.6
    }
    assert got == want, (texts, got, want)


@settings(max_examples=15, deadline=None)
@given(st.lists(words, min_size=2, max_size=6))
def test_simhash_pairs_exact_at_wider_hamming(spark, texts):
    """The adaptive chunk split (max_hamming+1 chunks) keeps the
    operator EXACT at hamming budgets beyond the classic 4x15 split."""
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["i", "t"])
    got = {
        (r["id_a"], r["id_b"])
        for r in DD.simhash_near_dup_pairs(df, "i", "t", max_hamming=7).collect()
    }
    sigs = [_py_simhash(t) for t in texts]
    want = {
        (i, j)
        for i in range(len(texts))
        for j in range(i + 1, len(texts))
        if bin(sigs[i] ^ sigs[j]).count("1") <= 7
    }
    assert got == want, (texts, got, want)


def test_pii_redaction_on_synthetic_pii(spark):
    """The registered text_pii_redaction pipeline is a no-op on the
    digit-free synthetic corpus; this pins its semantics on rows that DO
    carry email- and id-shaped tokens."""
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.plans.llm_queries import (
        _EMAIL_RE,
        _IDTOK_RE,
    )

    rows = [
        (1, "contact alice.smith+spam@example.co.uk for details"),
        (2, "order A12B34 shipped, ref 99x, plain words stay"),
        (3, "two mails a@b.io c@d.org and id X9"),
        (4, "nothing to redact here at all"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    no_email = F.regexp_replace(F.col("text"), _EMAIL_RE, "<EMAIL>")
    redacted = F.regexp_replace(no_email, _IDTOK_RE, "<ID>")
    n_red = F.size(F.regexp_extract_all("text", F.lit(_EMAIL_RE), 0)) + F.size(
        F.regexp_extract_all(no_email, F.lit(_IDTOK_RE), 0)
    )
    got = {
        r["doc_id"]: (r["n"], r["red"])
        for r in df.select(
            "doc_id", n_red.alias("n"), redacted.alias("red")
        ).collect()
    }
    assert got[1] == (1, "contact <EMAIL> for details")
    assert got[2] == (2, "order <ID> shipped, ref <ID>, plain words stay")
    assert got[3] == (3, "two mails <EMAIL> <EMAIL> and id <ID>")
    assert got[4] == (0, "nothing to redact here at all")


def test_packed_lane2_disagreements_match_python(spark):
    """_pack_low2 + _lane2_disagreements must count exactly the
    components whose low-2-bit truncations differ — the quantity the
    minhash prefilter's margin math assumes."""
    import random

    rng = random.Random(7)
    rows = []
    for i in range(50):
        a = [rng.getrandbits(63) for _ in range(128)]
        b = [
            x if rng.random() < 0.6 else rng.getrandbits(63)
            for x in a
        ]
        rows.append((i, a, b))
    df = spark.createDataFrame(
        rows, "i long, siga array<long>, sigb array<long>"
    )
    packed = df.select(
        "i",
        DD._pack_low2("siga", 128).alias("_sig_a"),
        DD._pack_low2("sigb", 128).alias("_sig_b"),
    )
    got = {
        r["i"]: r["d"]
        for r in packed.select(
            "i", DD._lane2_disagreements(4).alias("d")
        ).collect()
    }
    for i, a, b in rows:
        want = sum(1 for x, y in zip(a, b) if (x & 3) != (y & 3))
        assert got[i] == want, (i, got[i], want)


def test_minhash_pairs_lazy_equals_eager(spark):
    """eager=False builds a fully lazy plan (no checkpoint, no size
    gate) whose output is identical to the default eager path."""
    texts = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over the lazy cat",
        "a completely different sentence about spark engines",
        "the quick brown fox jumps over the lazy dog",
        "spark engines process completely different sentences",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["i", "t"])

    def pairs(eager):
        return {
            (r["id_a"], r["id_b"], round(r["jaccard"], 9))
            for r in DD.minhash_near_dup_pairs(
                df, "i", "t", threshold=0.6, eager=eager
            ).collect()
        }

    assert pairs(False) == pairs(True)


@settings(max_examples=10, deadline=None)
@given(st.lists(words, min_size=2, max_size=8))
def test_incremental_pairs_match_bruteforce(spark, texts):
    """The asymmetric batch-vs-indexed-corpus funnel equals brute-force
    cross Jaccard on arbitrary small corpora — the recall-1 + exact-
    verify property of the symmetric funnel must carry over to the
    persisted-index probe path."""
    import tempfile

    half = max(1, len(texts) // 2)
    corpus, new = texts[:half], texts[half:] or [texts[0]]
    cdf = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], ["i", "t"]
    )
    ndf = spark.createDataFrame(
        [(1000 + i, t) for i, t in enumerate(new)], ["i", "t"]
    )
    idx = tempfile.mkdtemp(prefix="hyp_inc_idx_")
    DD.build_minhash_index(cdf, "i", "t", idx, threshold=0.6)
    got = {
        (r["corpus_id"], r["new_id"])
        for r in DD.incremental_near_dup_pairs(spark, idx, ndf, "i", "t").collect()
    }

    def jacc(a: str, b: str) -> float:
        sa, sb = set(_py_tokens_split(a)), set(_py_tokens_split(b))
        return len(sa & sb) / len(sa | sb) if sa | sb else math.nan

    want = {
        (ci, 1000 + ni)
        for ci in range(len(corpus))
        for ni in range(len(new))
        if jacc(corpus[ci], new[ni]) >= 0.6
    }
    assert got == want, (corpus, new, got, want)


@settings(max_examples=20, deadline=None)
@given(
    texts=st.lists(
        st.lists(
            st.sampled_from(
                # mix of stopwords from several languages + non-stopwords
                ["the", "and", "de", "la", "und", "der", "que", "en", "xyz", "qq"]
            ),
            min_size=0,
            max_size=12,
        ).map(" ".join),
        min_size=1,
        max_size=6,
    )
)
def test_lang_id_argmax_matches_python(spark, texts):
    """Stopword-overlap argmax (its registry query was retired in round
    6 under the size budget; the expression stays pinned here): per-lang
    hits = |distinct tokens ∩ stopwords|, argmax with alphabetical tie
    break, zero hits everywhere -> 'und'."""
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.functions.text import (
        LANG_STOPWORDS,
        lang_id,
        stopword_hits,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["pred"], *[r[f"h_{lg}"] for lg in sorted(LANG_STOPWORDS)])
        for r in df.select(
            "doc_id",
            lang_id(F.col("text")).alias("pred"),
            *[
                stopword_hits(F.col("text"), lg).alias(f"h_{lg}")
                for lg in sorted(LANG_STOPWORDS)
            ],
        ).collect()
    }
    for i, t in enumerate(texts):
        toks = set(_py_tokens_split(t))
        hits = {lg: len(toks & set(ws)) for lg, ws in LANG_STOPWORDS.items()}
        best = max(sorted(hits), key=lambda lg: hits[lg])
        want = "und" if hits[best] == 0 else best
        assert got[i] == (want, *[hits[lg] for lg in sorted(hits)]), (t, got[i])


@settings(max_examples=25, deadline=None)
@given(texts=st.lists(words, min_size=1, max_size=12))
def test_unigram_logprob_matches_python(spark, texts):
    """avg_logprob (the float the oracle certifies only via the bounds
    flag) must equal a pure-Python unigram-LM recomputation; the exact
    integer columns must match exactly."""
    from collections import Counter

    from cdc_from_sql_and_nosql_to_data_warehouse_spark.functions.text import (
        unigram_logprob_scores,
    )

    min_count = 2
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r
        for r in unigram_logprob_scores(docs, min_count=min_count).collect()
    }

    corpus = [_py_tokens_split(t) for t in texts]
    counts = Counter(tok for toks in corpus for tok in toks)
    model = {t: c for t, c in counts.items() if c >= min_count}
    total = sum(counts.values())
    assert set(got) == set(range(len(texts)))
    for i, toks in enumerate(corpus):
        r = got[i]
        in_vocab = [model[t] for t in toks if t in model]
        assert r["n_tokens"] == len(toks)
        assert r["n_oov"] == len(toks) - len(in_vocab)
        assert r["sum_token_count"] == sum(in_vocab)
        assert r["min_token_count"] == (min(in_vocab) if in_vocab else None)
        assert r["max_token_count"] == (max(in_vocab) if in_vocab else None)
        if in_vocab:
            want = sum(math.log(c / total) for c in in_vocab) / len(in_vocab)
            assert r["avg_logprob"] == pytest.approx(want, rel=1e-12)
        else:
            assert r["avg_logprob"] is None
        assert r["logprob_in_bounds"] is True


@settings(max_examples=15, deadline=None)
@given(st.lists(st.lists(words, min_size=0, max_size=9), min_size=1, max_size=8))
def test_corpus_frequent_ngrams_matches_python(spark, token_lists):
    """corpus_frequent_ngrams == a pure-Python counter over the same
    tokenization, including the deterministic (count desc, ngram asc)
    top-k cut and doc-frequency counts."""
    from collections import Counter

    from cdc_from_sql_and_nosql_to_data_warehouse_spark.functions.text import (
        corpus_frequent_ngrams,
    )

    n, k = 3, 5
    texts = [" ".join(toks) for toks in token_lists]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = [
        (r["ngram"], r["n_occurrences"], r["n_docs"])
        for r in corpus_frequent_ngrams(docs, "doc_id", "text", n=n, top_k=k).collect()
    ]

    occ, dfreq = Counter(), Counter()
    for t in texts:
        toks = _py_tokens_split(t)
        grams = [
            " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
        ] if len(toks) >= n else []
        occ.update(grams)
        dfreq.update(set(grams))
    want = sorted(
        ((g, c, dfreq[g]) for g, c in occ.items()),
        key=lambda x: (-x[1], x[0]),
    )[:k]
    assert got == want
