"""Property tests for the round-7 operators: randomized inputs checked
against pure-Python brute force (unit tests pin crafted cases; these
sweep the input space)."""

from __future__ import annotations

import hashlib

from hypothesis import given, settings
from hypothesis import strategies as st

from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.operators import (
    text_profile,
)

# small alphabets force gram collisions, where counting logic breaks
WORDS = st.lists(
    st.sampled_from(["aa", "bb", "ab", "the", "x1"]), max_size=10
)


@settings(max_examples=8, deadline=None)
@given(st.lists(WORDS, min_size=1, max_size=5))
def test_lm_surprisal_matches_brute_force(spark, word_lists):
    docs = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(word_lists)],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (
            r["n_bigrams"],
            r["mean_invp_scaled"],
            r["max_invp_scaled"],
        )
        for r in text_profile.lm_surprisal_stats(docs).collect()
    }
    # brute force
    toks = {i: ws for i, ws in enumerate(word_lists)}
    grams: dict[int, list[tuple[str, str]]] = {
        i: list(zip(ws, ws[1:])) for i, ws in toks.items()
    }
    from collections import Counter

    c2 = Counter(g for gs in grams.values() for g in gs)
    c1 = Counter()
    for (w1, _), n in c2.items():
        c1[w1] += n
    vocab = {w for g in c2 for w in g}
    s = text_profile.LM_SCALE
    for i, gs in grams.items():
        if not gs:
            assert got[i] == (0, None, None)
            continue
        invps = [
            (c1[g[0]] + len(vocab)) * s // (c2[g] + 1) for g in gs
        ]
        assert got[i] == (
            len(gs),
            sum(invps) // len(gs),
            max(invps),
        ), (i, toks[i])
