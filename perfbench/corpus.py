"""Seeded corpus and query-log generators owned by the benchmark.

Everything here runs in the benchmark's own Python process on numpy (and
pandas for the table), so the program under test receives nothing but
generated inputs:
an edit to the program's own webtext generator cannot change what is
measured. The same seed always gives the same corpus and the same log.

The corpus keeps, for every word, the sorted doc ids of the documents that
contain it, keyed by the word's folded lower-case form; the build check and
the query-log generator both read those sets.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass

import numpy as np

# Letters the vocabulary is made of. 'q' and 'x' never occur in a word, so
# the no-match class can build strings that share no n-gram with the corpus.
_ONSETS = (
    "b c d f g h j k l m n p r s t v w z br cr dr fr gr kr pr tr "
    "bl kl pl sl st sk sp sm sn ch sh th"
).split()
_VOWELS = "a e i o u y".split()
_CODAS = ["", "", "", "n", "r", "s", "t", "l", "m", "k", "nd", "st", "nt"]
_TYPO_LETTERS = "abcdefghijklmnoprstuvwyz"
_NOMATCH_LETTERS = "qx"

# Czech diacritics: ASCII letter -> accented forms. Folding an accented
# word gives back the ASCII word it was made from.
_ACCENTS = {
    "a": "á", "e": "éě", "i": "í", "o": "ó", "u": "úů", "y": "ý",
    "c": "č", "d": "ď", "n": "ň", "r": "ř", "s": "š", "t": "ť", "z": "ž",
}
_FOLD = {ord(acc): base for base, accs in _ACCENTS.items() for acc in accs}
_FOLD.update({ord(acc.upper()): base.upper() for base, accs in _ACCENTS.items() for acc in accs})

QUERY_CLASSES = (
    "exact", "multi", "typo", "split_typo", "prefix",
    "short", "hot", "diacritic", "nomatch",
)

N_EN, N_CS = 27_000, 3_000  # vocabulary: ASCII and Czech words
WORDS_ZIPF_S = 1.05  # word frequency by rank
MEAN_WORDS = 150.0  # mean document length (lognormal, sigma 0.6)
POOL = 64  # distinct queries per class
QUERIES_ZIPF_S = 1.0  # query popularity by rank within a class
REPEATS = 3  # repeated queries per class in each round of the log
# The vocabulary is the same for every seed, like the language of a crawl;
# the seed draws the documents and the query log, so that runs with other
# seeds differ in documents and queries only: a vocabulary drawn per seed
# would move the hot words' lengths and the n-gram statistics, and every
# latency with them.
VOCAB_SEED = 0

_EPOCH = dt.datetime(2024, 1, 1)


def fold(word: str) -> str:
    """Fold the generator's Czech diacritics and lower-case the word."""
    return word.translate(_FOLD).lower()


@dataclass
class Corpus:
    doc_ids: np.ndarray  # int64, dense 0..n-1 = rank of url
    doc_keys: np.ndarray  # int64, distinct, not equal to doc_id
    urls: list[str]
    warc_ts: list[dt.datetime]
    texts: list[str]
    langs: list[str]
    words: list[str]  # vocabulary as written (Czech words accented)
    folded: list[str]  # folded lower-case form, distinct per word
    n_cs: int  # the last n_cs words of the vocabulary are Czech
    word_docs: dict[str, np.ndarray]  # folded word -> sorted doc ids
    text_bytes: int  # UTF-8 bytes of all texts

    def rows(self):
        """(doc_key, text) in doc_id order — the kernel oracle's input."""
        order = np.argsort(self.doc_ids)
        return [(int(self.doc_keys[i]), self.texts[i]) for i in order]

    def pandas(self):
        """The webtext table (url, warc_ts, html, text, lang) plus the
        doc_id/doc_key columns the index build takes."""
        import pandas as pd

        return pd.DataFrame(
            {
                "doc_id": self.doc_ids,
                "doc_key": self.doc_keys,
                "url": self.urls,
                "warc_ts": self.warc_ts,
                "html": [
                    f"<html><body><p>{t}</p></body></html>".encode("utf-8")
                    for t in self.texts
                ],
                "text": self.texts,
                "lang": self.langs,
            }
        )


def _vocabulary(rng: np.random.Generator, n_words: int) -> list[str]:
    """n_words distinct ASCII words, shortest-ish first (Zipf rank order:
    frequent words are short, as in natural text)."""
    seen: set[str] = set()
    out: list[str] = []
    while len(out) < n_words:
        n_syl = int(rng.choice([1, 1, 2, 2, 2, 3, 3, 4]))
        w = "".join(
            _ONSETS[rng.integers(len(_ONSETS))]
            + _VOWELS[rng.integers(len(_VOWELS))]
            + _CODAS[rng.integers(len(_CODAS))]
            for _ in range(n_syl)
        )
        if len(w) < 2 or w in seen:
            continue
        seen.add(w)
        out.append(w)
    # a handful of 1-letter function words at the head
    heads = ["a", "i", "o", "u"]
    out = heads + [w for w in out if w not in heads][: n_words - len(heads)]
    key = np.array([len(w) for w in out], dtype=np.float64)
    key += rng.normal(0.0, 2.5, size=key.size)
    key[:4] = -100.0
    return [out[i] for i in np.argsort(key, kind="stable")]


def _accent(rng: np.random.Generator, word: str) -> str:
    chars = list(word)
    slots = [i for i, c in enumerate(chars) if c in _ACCENTS]
    if not slots:
        return ""
    hit = [i for i in slots if rng.random() < 0.4] or [slots[rng.integers(len(slots))]]
    for i in hit:
        accs = _ACCENTS[chars[i]]
        chars[i] = accs[rng.integers(len(accs))]
    return "".join(chars)


def _zipf_cdf(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    cdf = np.cumsum(w)
    return cdf / cdf[-1]


def make_corpus(seed: int, n_docs: int) -> Corpus:
    n_en, n_cs = N_EN, N_CS
    vrng = np.random.default_rng([VOCAB_SEED, 0xC0])
    base = _vocabulary(vrng, n_en + n_cs)
    # Czech words: accented copies of distinct ASCII words, so every word of
    # the vocabulary folds to a distinct string
    stride = (n_en + n_cs) // n_cs
    is_cs = [i % stride == stride // 2 and i // stride < n_cs for i in range(len(base))]
    en = [w for w, c in zip(base, is_cs) if not c]
    cs: list[str] = []
    for w in (w for w, c in zip(base, is_cs) if c):
        a = _accent(vrng, w)
        cs.append(a if a else w)
    words = en + cs
    folded = [fold(w) for w in words]
    if len(set(folded)) != len(folded):
        raise ValueError("two vocabulary words fold to the same string")

    rng = np.random.default_rng([seed, 0xC0])
    cdf_en = _zipf_cdf(n_en, WORDS_ZIPF_S)
    cdf_cs = _zipf_cdf(n_cs, WORDS_ZIPF_S)
    is_cs_doc = rng.random(n_docs) < 0.12
    sigma = 0.6
    lens = rng.lognormal(np.log(MEAN_WORDS) - sigma**2 / 2, sigma, n_docs)
    lens = np.clip(lens.astype(np.int64), 8, 2000)
    total = int(lens.sum())
    starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
    doc_of_tok = np.repeat(np.arange(n_docs), lens)
    cs_frac = np.where(is_cs_doc, 0.6, 0.03)[doc_of_tok]
    from_cs = rng.random(total) < cs_frac
    u = rng.random(total)
    tok = np.where(
        from_cs,
        n_en + np.searchsorted(cdf_cs, u, side="right").clip(0, n_cs - 1),
        np.searchsorted(cdf_en, u, side="right").clip(0, n_en - 1),
    )
    # sentence ends (".") and commas, drawn per token
    punct = rng.random(total)
    words_arr = np.array(words, dtype=object)

    texts: list[str] = []
    for d in range(n_docs):
        s, n = int(starts[d]), int(lens[d])
        ws = words_arr[tok[s : s + n]].tolist()
        p = punct[s : s + n]
        cap = True
        out = []
        for w, r in zip(ws, p):
            if cap:
                w = w.capitalize()
                cap = False
            if r < 0.08:
                w += "."
                cap = True
            elif r < 0.13:
                w += ","
            out.append(w)
        texts.append(" ".join(out))

    # doc ids are url rank; doc keys a seeded permutation offset from them
    hosts = rng.integers(0, 97, n_docs)
    urls = [f"https://site{int(h):02d}.example.org/page/{i:07d}" for i, h in enumerate(hosts)]
    rank = np.empty(n_docs, dtype=np.int64)
    rank[np.argsort(np.array(urls), kind="stable")] = np.arange(n_docs)
    doc_keys = 1_000_000 + rng.permutation(n_docs).astype(np.int64)
    warc_ts = [_EPOCH + dt.timedelta(seconds=int(x)) for x in rng.integers(0, 86400 * 365, n_docs)]

    # word -> sorted doc ids (by folded form)
    pair = np.unique(rank[doc_of_tok] * len(words) + tok)
    pw = pair % len(words)
    pd_ = pair // len(words)
    order = np.argsort(pw, kind="stable")
    pw, pd_ = pw[order], pd_[order]
    cuts = np.flatnonzero(np.diff(pw)) + 1
    word_docs = {
        folded[int(g[0])]: np.sort(docs)
        for g, docs in zip(np.split(pw, cuts), np.split(pd_, cuts))
    }
    return Corpus(
        doc_ids=rank,
        doc_keys=doc_keys,
        urls=urls,
        warc_ts=warc_ts,
        texts=texts,
        langs=["cs" if c else "en" for c in is_cs_doc],
        words=words,
        folded=folded,
        n_cs=n_cs,
        word_docs=word_docs,
        text_bytes=sum(len(t.encode("utf-8")) for t in texts),
    )


# --------------------------------------------------------------- query log


def _typo(rng: np.random.Generator, w: str) -> str:
    i = int(rng.integers(len(w)))
    c = _TYPO_LETTERS[rng.integers(len(_TYPO_LETTERS))]
    op = int(rng.integers(4))
    if op == 0:
        return w[:i] + c + w[i + 1 :]  # substitute
    if op == 1:
        return w[:i] + w[i + 1 :]  # delete
    if op == 2:
        return w[:i] + c + w[i:]  # insert
    i = min(i, len(w) - 2)
    return w[:i] + w[i + 1] + w[i] + w[i + 2 :]  # transpose


class QueryLog:
    """Per-class pools of distinct queries drawn from the corpus, and a
    seeded Zipf-popular stream over them.

    The stream goes in rounds of 9 + 27 queries. The first 9 ask one query
    of every class, in class order, drawn by Zipf popularity over the
    class's pool. The other 27 repeat, three per class, queries drawn
    uniformly from those the log has already asked in that class (the
    temporal locality of real logs: refreshes, next pages). Every class thus
    has first-seen and repeated queries from the first round on."""

    def __init__(self, corpus: Corpus, seed: int):
        self.pools = _pools(corpus, np.random.default_rng([seed, 0x51]), POOL)
        self._rng = np.random.default_rng([seed, 0x52])
        self._cdf = {c: _zipf_cdf(len(p), QUERIES_ZIPF_S) for c, p in self.pools.items()}
        self._asked: dict[str, list[str]] = {c: [] for c in QUERY_CLASSES}

    def round(self) -> list[tuple[str, str]]:
        out = []
        for c in QUERY_CLASSES:
            j = int(np.searchsorted(self._cdf[c], self._rng.random(), side="right"))
            q = self.pools[c][min(j, len(self.pools[c]) - 1)]
            if q not in self._asked[c]:
                self._asked[c].append(q)
            out.append((c, q))
        for ci in self._rng.permutation(REPEATS * len(QUERY_CLASSES)):
            c = QUERY_CLASSES[int(ci) % len(QUERY_CLASSES)]
            seen = self._asked[c]
            out.append((c, seen[int(self._rng.integers(len(seen)))]))
        return out


def _pools(corpus: Corpus, rng: np.random.Generator, n: int) -> dict[str, list[str]]:
    """n distinct queries per class. Each class has a fixed word count and
    takes one query path: the rerank's cold cost grows with the number of
    query words, and a class mixing paths or word counts has a bimodal
    latency whose per-run median swings with the seed."""
    n_docs = len(corpus.texts)
    vocab_folded = set(corpus.folded)
    df = {w: len(d) for w, d in corpus.word_docs.items()}
    n_en = len(corpus.words) - corpus.n_cs
    mid = [
        w for w in corpus.folded[:n_en]
        if len(w) >= 4 and 3 <= df.get(w, 0) <= max(n_docs // 20, 4)
    ]
    long_mid = [w for w in mid if len(w) >= 7]
    cs_words = [w for w in corpus.folded[n_en:] if len(w) >= 4 and df.get(w, 0) >= 2]
    hot = corpus.folded[:30]

    def pick(seq):
        return seq[int(rng.integers(len(seq)))]

    def doc_words(min_len: int) -> list[str]:
        t = corpus.texts[int(rng.integers(n_docs))]
        return [fold(w.strip(".,")) for w in t.split() if len(w.strip(".,")) >= min_len]

    def fill(make) -> list[str]:
        out: list[str] = []
        seen: set[str] = set()
        while len(out) < n:
            q = make()
            if q and q not in seen:
                seen.add(q)
                out.append(q)
        return out

    def exact():
        return pick(mid)

    def multi():
        ws = doc_words(3)
        if len(ws) < 2:
            return ""
        i = int(rng.integers(len(ws) - 1))
        return f"{ws[i]} {ws[i + 1]}"

    def typo():
        t = _typo(rng, pick([w for w in mid if len(w) >= 5] or mid))
        return t if t not in vocab_folded else ""

    def split_typo():
        w = pick(long_mid or mid)
        cut = int(rng.integers(3, len(w) - 2))
        a, b = w[:cut], w[cut:]
        if rng.random() < 0.5:
            a = _typo(rng, a)
        else:
            b = _typo(rng, b)
        return f"{a} {b}"

    def prefix():
        ws = doc_words(2)
        for _ in range(8):
            if len(ws) < 2:
                return ""
            i = int(rng.integers(len(ws) - 1))
            if len(ws[i + 1]) >= 4:
                m = int(rng.integers(2, len(ws[i + 1])))
                return f"{ws[i]} {ws[i + 1][:m]}"
        return ""

    def short():
        # 2 characters: the live short-query path (3 already take the
        # n-gram path like any word; 1 takes the champion-list lookup)
        ws = doc_words(2)
        return pick(ws)[:2] if ws else ""

    def hot_q():
        return f"{pick(hot)} {pick(hot)}"

    def diacritic():
        return pick(cs_words)

    def nomatch():
        return "".join(_NOMATCH_LETTERS[rng.integers(2)] for _ in range(int(rng.integers(4, 9))))

    makers = {
        "exact": exact, "multi": multi, "typo": typo, "split_typo": split_typo,
        "prefix": prefix, "short": short, "hot": hot_q, "diacritic": diacritic,
        "nomatch": nomatch,
    }
    return {c: fill(makers[c]) for c in QUERY_CLASSES}
