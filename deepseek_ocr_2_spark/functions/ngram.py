"""Windowed no-repeat-n-gram suppression as a pure function.

Semantics match the reference logits processor
(``DeepSeek-OCR2-master/DeepSeek-OCR2-vllm/process/ngram_norepeat.py``,
studied read-only): given the generated token history, ban the
completion token of every ``ngram_size``-gram whose (n-1)-prefix equals
the current (n-1)-suffix, searching only the last ``window_size`` tokens;
whitelisted token ids (``<td>``/``</td>`` = {128821, 128822} in the
reference config) are never banned.

Here it is a pure function over integer sequences so it can be
unit/property-tested without torch; the vLLM decode path
(``operators/decode.py``) builds its logits processor on it.
"""

from __future__ import annotations

from typing import FrozenSet, Sequence, Set

# deepseek_ocr2_api/config.py:291-301 / run_dpsk_ocr2_pdf.py:46
DEFAULT_WHITELIST: FrozenSet[int] = frozenset({128821, 128822})
DEFAULT_NGRAM_SIZE = 20
DEFAULT_WINDOW_SIZE = 90


def banned_next_tokens(
    input_ids: Sequence[int],
    ngram_size: int = DEFAULT_NGRAM_SIZE,
    window_size: int = DEFAULT_WINDOW_SIZE,
    whitelist_token_ids: FrozenSet[int] = DEFAULT_WHITELIST,
) -> Set[int]:
    """Token ids that may not follow ``input_ids`` under the n-gram rule."""
    if not isinstance(ngram_size, int) or ngram_size <= 0:
        raise ValueError(f"ngram_size must be a positive int, got {ngram_size!r}")
    if not isinstance(window_size, int) or window_size <= 0:
        raise ValueError(f"window_size must be a positive int, got {window_size!r}")
    if len(input_ids) < ngram_size:
        return set()

    current_prefix = tuple(input_ids[-(ngram_size - 1):])
    search_start = max(0, len(input_ids) - window_size)
    search_end = len(input_ids) - ngram_size + 1

    banned: Set[int] = set()
    for i in range(search_start, search_end):
        ngram = tuple(input_ids[i : i + ngram_size])
        if ngram[:-1] == current_prefix:
            banned.add(ngram[-1])
    return banned - set(whitelist_token_ids)
