"""Deterministic correction kernel — the heuristics-corrector (M15) analog.

Reimplements the *semantics* of the reference's dictionary + confusion +
Levenshtein-argmin corrector (misc/heuristics/heuristics.py:19-52,130-199):
for a flagged token, generate alternative spellings by substituting noisy
confusion patterns with their clean counterparts (1:1 / 1:many / many:1 /
many:many classes, ocr_errors.txt pattern table), keep candidates found in
the dictionary, and return the candidate with minimal edit distance to the
original — ties broken lexicographically so the result is fully
deterministic (the reference's plain ``min`` tie-break is insertion-order
dependent; we pin it).

Chosen over the torch seq2seq Translator because the graft's verified path
must be byte-identical under distribution and retries (SURVEY.md §7.3).

Almost every out-of-vocabulary token the detector and corrector look up
is one that no confusion repair turns into a dictionary word; on pages
with a long tail of such tokens, generating their candidates only to find
none in the dictionary was most of the kernel's time. ``best_correction``
therefore first looks the token up in ``_REACHABLE``, the 1,193 strings
(a ~65 KB set table for the 95-word dictionary, built in a few ms at
import) from which some dictionary word is reachable by one or two
noisy→clean substitutions, and answers None at once for the rest. The
prune is exact: see ``best_correction``.
"""

from __future__ import annotations

from functools import lru_cache

from .textkit import levenshtein
from .wordlists import CONFUSION_PAIRS, DICTIONARY

_MAX_SUBS_PER_PATTERN = 4  # cap the candidate fan-out per pattern


def _noisy_variants(words) -> set[str]:
    """Every string that one clean→noisy replacement, at any occurrence
    (overlapping included), makes of a word in `words` — the inverse of
    one noisy→clean substitution step of `candidates`."""
    out: set[str] = set()
    for w in words:
        for noisy, clean in CONFUSION_PAIRS:
            i = w.find(clean)
            while i >= 0:
                out.add(w[:i] + noisy + w[i + len(clean):])
                i = w.find(clean, i + 1)
    return out


_ONE_STEP = _noisy_variants(DICTIONARY)
# tokens from which candidates() can reach a dictionary word
_REACHABLE: frozenset[str] = frozenset(_ONE_STEP | _noisy_variants(_ONE_STEP))
del _ONE_STEP


def candidates(token: str) -> set[str]:
    """Alternative spellings of `token` via single- and double-pattern
    substitutions (heuristics.py:130-178 semantics, bounded)."""
    out: set[str] = set()
    first: set[str] = set()
    for noisy, clean in CONFUSION_PAIRS:
        start = 0
        n_hits = 0
        while n_hits < _MAX_SUBS_PER_PATTERN:
            i = token.find(noisy, start)
            if i < 0:
                break
            first.add(token[:i] + clean + token[i + len(noisy):])
            start = i + 1
            n_hits += 1
    out |= first
    # second round over first-round candidates (two independent errors)
    for cand in sorted(first):
        for noisy, clean in CONFUSION_PAIRS:
            i = cand.find(noisy)
            if i >= 0:
                out.add(cand[:i] + clean + cand[i + len(noisy):])
    out.discard(token)
    return out


@lru_cache(maxsize=65536)
def best_correction(token: str) -> str | None:
    """Dictionary candidate with minimal edit distance, tie-break
    lexicographic (heuristics.py:196-199 argmin, determinism pinned).
    Returns None when no candidate lands in the dictionary.

    A token outside ``_REACHABLE`` gets None after one set lookup, without
    generating candidates. This cannot change the answer: every candidate
    is the token with one noisy→clean substitution applied, or two in
    sequence. If candidate c is a dictionary word, undoing those steps
    (clean→noisy at the same positions) rebuilds the token from c, so the
    token is one or two clean→noisy replacements away from a dictionary
    word — which is how ``_REACHABLE`` is built, over every occurrence and
    without candidates()' per-pattern caps, making it a superset of every
    token with a dictionary candidate. Tokens inside it take the full
    candidate search unchanged."""
    if token not in _REACHABLE:
        return None
    hits = [c for c in candidates(token) if c in DICTIONARY]
    if not hits:
        return None
    return min(hits, key=lambda c: (levenshtein(token, c), c))


def correct_token(token: str) -> str:
    """Correct one raw token, preserving leading/trailing punctuation and
    title-case of the core (punctuation-aware detokenize, F16 analog)."""
    start = 0
    end = len(token)
    while start < end and not token[start].isalnum():
        start += 1
    while end > start and not token[end - 1].isalnum():
        end -= 1
    core = token[start:end]
    if not core:
        return token
    fixed = best_correction(core.lower())
    if fixed is None:
        return token
    if core[:1].isupper():
        fixed = fixed[:1].upper() + fixed[1:]
    return token[:start] + fixed + token[end:]
