"""Porter stemmer — classic 1980 algorithm, pure Python, dependency-free.

The reference stems English tokens with ``nltk.stem.PorterStemmer``
(/root/reference/core/utils/text_processor.py:65,187-189).  NLTK is not
available in this environment, so we implement the published Porter
algorithm (M.F. Porter, "An algorithm for suffix stripping", Program 1980)
directly.  NLTK's default mode adds a handful of extensions beyond the
paper; the divergences only affect rare words and are documented in
tests/test_analyzer.py.  The implementation is deterministic and identical
between the single-process oracle and the Arrow UDFs (both import this
module), which is the property our rank-identity tests rely on.
"""

from __future__ import annotations

from functools import lru_cache

_VOWELS = "aeiou"


def _is_cons(word: str, i: int) -> bool:
    c = word[i]
    if c in _VOWELS:
        return False
    if c == "y":
        return i == 0 or not _is_cons(word, i - 1)
    return True


def _measure(stem: str) -> int:
    """Number of VC sequences: [C](VC){m}[V]."""
    m = 0
    i = 0
    n = len(stem)
    # skip initial consonants
    while i < n and _is_cons(stem, i):
        i += 1
    while i < n:
        # in vowel run
        while i < n and not _is_cons(stem, i):
            i += 1
        if i >= n:
            break
        m += 1
        while i < n and _is_cons(stem, i):
            i += 1
    return m


def _has_vowel(stem: str) -> bool:
    return any(not _is_cons(stem, i) for i in range(len(stem)))


def _ends_double_cons(word: str) -> bool:
    return (
        len(word) >= 2
        and word[-1] == word[-2]
        and _is_cons(word, len(word) - 1)
    )


def _ends_cvc(word: str) -> bool:
    if len(word) < 3:
        return False
    n = len(word)
    return (
        _is_cons(word, n - 3)
        and not _is_cons(word, n - 2)
        and _is_cons(word, n - 1)
        and word[-1] not in "wxy"
    )


@lru_cache(maxsize=1 << 17)
def porter_stem(word: str) -> str:
    """Memoized: web-text vocabulary is Zipfian, so the per-worker cache
    hit rate is >95% and stemming drops out of the tokenize profile."""
    if len(word) <= 2:
        return word
    w = word

    # Step 1a
    if w.endswith("sses"):
        w = w[:-2]
    elif w.endswith("ies"):
        w = w[:-2]
    elif w.endswith("ss"):
        pass
    elif w.endswith("s"):
        w = w[:-1]

    # Step 1b
    step1b_flag = False
    if w.endswith("eed"):
        stem = w[:-3]
        if _measure(stem) > 0:
            w = w[:-1]
    elif w.endswith("ed"):
        stem = w[:-2]
        if _has_vowel(stem):
            w = stem
            step1b_flag = True
    elif w.endswith("ing"):
        stem = w[:-3]
        if _has_vowel(stem):
            w = stem
            step1b_flag = True
    if step1b_flag:
        if w.endswith(("at", "bl", "iz")):
            w = w + "e"
        elif _ends_double_cons(w) and not w.endswith(("l", "s", "z")):
            w = w[:-1]
        elif _measure(w) == 1 and _ends_cvc(w):
            w = w + "e"

    # Step 1c
    if w.endswith("y") and _has_vowel(w[:-1]):
        w = w[:-1] + "i"

    # Step 2
    step2 = [
        ("ational", "ate"), ("tional", "tion"), ("enci", "ence"),
        ("anci", "ance"), ("izer", "ize"), ("abli", "able"),
        ("alli", "al"), ("entli", "ent"), ("eli", "e"), ("ousli", "ous"),
        ("ization", "ize"), ("ation", "ate"), ("ator", "ate"),
        ("alism", "al"), ("iveness", "ive"), ("fulness", "ful"),
        ("ousness", "ous"), ("aliti", "al"), ("iviti", "ive"),
        ("biliti", "ble"),
    ]
    for suf, repl in step2:
        if w.endswith(suf):
            stem = w[: len(w) - len(suf)]
            if _measure(stem) > 0:
                w = stem + repl
            break

    # Step 3
    step3 = [
        ("icate", "ic"), ("ative", ""), ("alize", "al"), ("iciti", "ic"),
        ("ical", "ic"), ("ful", ""), ("ness", ""),
    ]
    for suf, repl in step3:
        if w.endswith(suf):
            stem = w[: len(w) - len(suf)]
            if _measure(stem) > 0:
                w = stem + repl
            break

    # Step 4
    step4 = [
        "al", "ance", "ence", "er", "ic", "able", "ible", "ant", "ement",
        "ment", "ent", "ion", "ou", "ism", "ate", "iti", "ous", "ive", "ize",
    ]
    for suf in step4:
        if w.endswith(suf):
            stem = w[: len(w) - len(suf)]
            if suf == "ion" and not stem.endswith(("s", "t")):
                break
            if _measure(stem) > 1:
                w = stem
            break

    # Step 5a
    if w.endswith("e"):
        stem = w[:-1]
        m = _measure(stem)
        if m > 1 or (m == 1 and not _ends_cvc(stem)):
            w = stem

    # Step 5b
    if _measure(w) > 1 and _ends_double_cons(w) and w.endswith("l"):
        w = w[:-1]

    return w
