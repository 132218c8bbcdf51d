"""Oracle-kernel tests: extraction, detection, correction (pure Python)."""

import random
import re
from functools import lru_cache

from hypothesis import given, settings, strategies as st

from sbb_ocr_postcorrection_spark import correct
from sbb_ocr_postcorrection_spark.correct import (
    _REACHABLE,
    best_correction,
    candidates,
    correct_token,
)
from sbb_ocr_postcorrection_spark.datagen import generate_pages, make_page, make_rich_page
from sbb_ocr_postcorrection_spark.detect import core_token, flag_spans, is_noisy_token
from sbb_ocr_postcorrection_spark.extract import extract_blocks, content_text
from sbb_ocr_postcorrection_spark.kernel import detect_document, oracle_extract, run_document
from sbb_ocr_postcorrection_spark.textkit import levenshtein
from sbb_ocr_postcorrection_spark.wordlists import CONFUSION_PAIRS, DICTIONARY, NOISE_SUBS


HTML = b"""<!DOCTYPE html><html><head><script>nav()</script></head><body>
<nav><ul><li><a href="/">home</a></li><li><a href="/a">about</a></li></ul></nav>
<main>
<p>Das ist ein langer Absatz mit genug Text um als Inhalt erkannt zu werden.</p>
<div class="promo"><a href="/x">subscribe newsletter now</a></div>
<p>Noch ein zweiter langer Absatz mit noch mehr Text und weiteren Worten darin.</p>
</main>
<footer><a href="/i">imprint</a> <a href="/p">privacy</a></footer>
</body></html>"""


def test_boilerplate_stripped():
    blocks = extract_blocks(HTML)
    text = content_text(blocks)
    assert "langer Absatz" in text
    assert "zweiter langer Absatz" in text
    assert "home" not in text
    assert "imprint" not in text
    # link-dominated promo between two content blocks is NOT rescued
    assert "subscribe" not in text


def test_island_rescue():
    html = (b"<body><main><p>Ein erster langer Absatz mit vielen Worten und "
            b"Zeichen darin enthalten.</p><p>kurz</p><p>Ein dritter langer "
            b"Absatz mit vielen weiteren Worten und Zeichen.</p></main></body>")
    text = content_text(extract_blocks(html))
    assert "kurz" in text  # short block sandwiched between content → rescued


def test_detector_flags_noisy_not_clean():
    assert not is_noisy_token("wasser")
    assert not is_noisy_token("Wasser.")
    assert not is_noisy_token("1234")   # numeric never flagged
    assert not is_noisy_token("...")
    assert is_noisy_token("wasscr")      # e→c confusion of dictionary word
    assert is_noisy_token("strasse1x")   # digit/letter mix


def test_corrector_restores_confusions():
    assert best_correction("wasscr") == "wasser"
    assert best_correction("hirnrnel") == "himmel"  # m→rn
    assert best_correction("wasser") is None  # already clean → no candidates
    assert correct_token("Wasscr,") == "Wasser,"  # case + punct preserved


def test_flag_spans_offsets():
    spans = flag_spans("das wasscr ist")
    assert [(s[0], s[1]) for s in spans] == [(0, 3), (4, 10), (11, 14)]
    assert [bool(s[2]) for s in spans] == [False, True, False]


def test_clean_page_extracts_byte_exact():
    for i in range(10):
        p = make_page(42, i, noise_rate=0.0)
        assert oracle_extract(p.html) == p.text


def test_noise_fully_corrected():
    # the detect→correct loop restores the injected confusion noise exactly
    for i in range(20):
        clean = make_page(11, i, noise_rate=0.0)
        noisy = make_page(11, i, noise_rate=0.12)
        assert oracle_extract(noisy.html) == clean.text


def test_metrics_consistent():
    p = make_page(3, 1, noise_rate=0.2)
    r = run_document(p.html)
    assert r.chars_in == len(p.html)
    assert r.chars_out == len(r.extracted_text)
    assert 0 <= r.n_flagged <= r.n_spans
    assert r.n_content_blocks <= r.n_blocks
    # spans cover tokens of extracted_text exactly
    for start, end, _ in r.spans:
        tok = r.extracted_text[start:end]
        assert tok and not tok[0].isspace() and not tok[-1].isspace()


def test_determinism():
    pages_a = generate_pages(25, seed=9)
    pages_b = generate_pages(25, seed=9)
    assert [(p.url, p.html) for p in pages_a] == [(p.url, p.html) for p in pages_b]
    assert [run_document(p.html) for p in pages_a] == [run_document(p.html) for p in pages_b]


def test_host_skew_present():
    pages = generate_pages(500, seed=42)
    from collections import Counter
    hosts = Counter(p.url.split("/")[2] for p in pages)
    top2 = sum(c for _, c in hosts.most_common(2))
    assert top2 >= 0.15 * len(pages)  # heavy hitters for salting tests


# --- the _REACHABLE prune in best_correction is exact -----------------------

def _full_search(token):
    """best_correction without the prune: the full candidate search."""
    hits = candidates(token) & DICTIONARY
    return min(hits, key=lambda c: (levenshtein(token, c), c)) if hits else None


def _with_long_tail(html: bytes, i: int) -> bytes:
    """Add a noised two-word compound after every paragraph word: the
    out-of-vocabulary long tail of real pages, which the detector (letter
    noise) and the corrector (digit noise, always flagged) both look up."""
    rng = random.Random(i)
    words = sorted(DICTIONARY)

    def compound() -> str:
        w = rng.choice(words) + rng.choice(words)
        clean, noisy = rng.choice([(c, n) for c, n in NOISE_SUBS if c in w])
        k = w.find(clean)
        return w[:k] + noisy + w[k + len(clean):]

    def para(m):
        ws = m.group(1).decode().split(" ")
        return ("<p>" + " ".join(f"{w} {compound()}" for w in ws) + "</p>").encode()

    return re.sub(rb"<p>(.*?)</p>", para, html)


@lru_cache(maxsize=None)
def _rich_pages() -> tuple[bytes, ...]:
    return tuple(
        _with_long_tail(make_rich_page(21, i, noise_rate=0.4).html, i) for i in range(200)
    )

_ALPHABET = "".join(sorted(
    {ch for pair in CONFUSION_PAIRS for s in pair for ch in s}
    | {ch for w in DICTIONARY for ch in w}
))


@st.composite
def _noised_words(draw):
    """A dictionary word with up to three clean→noisy replacements and a
    few stray characters around it: near the reachable boundary."""
    w = draw(st.sampled_from(sorted(DICTIONARY)))
    for _ in range(draw(st.integers(0, 3))):
        noisy, clean = draw(st.sampled_from(CONFUSION_PAIRS))
        hits = [i for i in range(len(w)) if w.startswith(clean, i)]
        if hits:
            i = draw(st.sampled_from(hits))
            w = w[:i] + noisy + w[i + len(clean):]
    pad = st.text(_ALPHABET, max_size=2)
    return (draw(pad) + w + draw(pad))[:16]


_TOKENS = st.one_of(st.text(_ALPHABET, max_size=16), _noised_words())


def test_prune_exact_on_rich_page_tokens():
    cores = set()
    for p in _rich_pages():
        for d in detect_document(p)[0]:
            cores.update(core_token(t) for t in d.text.split())
    # both sides of the prune are exercised
    assert any(t not in _REACHABLE for t in cores)
    assert any(best_correction(t) for t in cores)
    for t in cores:
        assert best_correction(t) == _full_search(t), t


@given(_TOKENS)
@settings(max_examples=3000, deadline=None, derandomize=True)
def test_prune_exact_and_sound(token):
    want = _full_search(token)
    assert best_correction(token) == want
    if candidates(token) & DICTIONARY:
        assert token in _REACHABLE


def test_kernel_generates_candidates_only_for_reachable_tokens(monkeypatch):
    """Work-count guard: candidate generation runs only for tokens that
    can reach the dictionary, however many tokens the pages hold."""
    seen = []
    real = correct.candidates

    def counted(token):
        seen.append(token)
        return real(token)

    monkeypatch.setattr(correct, "candidates", counted)
    caches = (is_noisy_token, correct.best_correction)
    for c in caches:
        c.cache_clear()
    try:
        for p in _rich_pages():
            run_document(p)
    finally:
        for c in caches:
            c.cache_clear()
    assert seen
    assert [t for t in seen if t not in _REACHABLE] == []
