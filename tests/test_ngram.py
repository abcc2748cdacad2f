"""No-repeat-n-gram suppression kernel tests."""

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from deepseek_ocr_2_spark.functions.ngram import (
    DEFAULT_WHITELIST,
    banned_next_tokens,
)


class TestBannedNextTokens:
    def test_too_short_history(self):
        assert banned_next_tokens([1, 2], ngram_size=3) == set()

    def test_basic_ban(self):
        # history [1,2,3,1,2]; 3-grams: (1,2,3),(2,3,1),(3,1,2); prefix (1,2)
        # matches (1,2,3) -> ban 3
        assert banned_next_tokens([1, 2, 3, 1, 2], ngram_size=3, window_size=100) == {3}

    def test_window_excludes_old_ngrams(self):
        seq = [1, 2, 3] + [9] * 100 + [1, 2]
        assert banned_next_tokens(seq, ngram_size=3, window_size=10) == set()
        assert 3 in banned_next_tokens(seq, ngram_size=3, window_size=len(seq) + 5)

    def test_whitelist_never_banned(self):
        wl = next(iter(DEFAULT_WHITELIST))
        seq = [1, 2, wl, 1, 2]
        assert banned_next_tokens(seq, ngram_size=3, window_size=100) == set()
        # same shape with a non-whitelisted token is banned
        assert banned_next_tokens([1, 2, 7, 1, 2], ngram_size=3, window_size=100) == {7}

    def test_validation(self):
        with pytest.raises(ValueError):
            banned_next_tokens([1], ngram_size=0)
        with pytest.raises(ValueError):
            banned_next_tokens([1], ngram_size=2, window_size=0)

    @given(st.lists(st.integers(0, 50), max_size=120))
    @settings(max_examples=200, deadline=None)
    def test_property_whitelist(self, seq):
        banned = banned_next_tokens(seq, ngram_size=4, window_size=30)
        assert banned.isdisjoint(DEFAULT_WHITELIST)


def _greedy_replay(tokens, **kw):
    """Replay ``tokens`` as a sampler masking ``banned_next_tokens`` would:
    a token the rule bans at its position is dropped."""
    out = []
    for tok in tokens:
        if tok not in banned_next_tokens(out, **kw):
            out.append(tok)
    return out


class TestApplyFilter:
    def test_repeat_loop_broken(self):
        loop = [1, 2, 3, 4] * 10
        out = _greedy_replay(loop, ngram_size=4, window_size=40)
        # after the first full cycle plus prefix, the repeat is suppressed
        assert len(out) < len(loop)

    def test_no_false_positives_on_unique(self):
        seq = list(range(100))
        assert _greedy_replay(seq, ngram_size=4, window_size=40) == seq
