"""Seeded generator of code-like documents and known-item queries.

Documents and queries are a pure function of the seed (numpy
``default_rng`` streams keyed on ``[seed, stream]``), so the same seed gives
byte-identical inputs and a different seed gives different ones. The
vocabulary (stems, identifiers and their Zipf ranks) is the same for every
seed, like the language of a code base, so that seeds vary the sample and
not the shape of the corpus.

The corpus is built to have a long tail, unlike ``corpus.synth_corpus``
(a ~440-word vocabulary where every term sits in about a fifth of the
documents):

* identifiers are camelCase / PascalCase / snake_case compounds of 1-3
  stems, drawn Zipf-like from 2·10^4 distinct identifiers, so most indexed
  terms (the compounds) appear in well under 1% of documents while stems
  and hot keywords (``def``, ``import``, ...) appear in most of them;
* document lengths are log-normal (heavy right tail), taken at evenly
  spaced quantiles so that every seed has the same total size;
* a known-item query takes 1-5 distinct tokens of one seeded document,
  which is its single relevant document (qrel); every tenth query carries
  an extra out-of-vocabulary token.
"""

from __future__ import annotations

import math
from statistics import NormalDist

import numpy as np
import pandas as pd

KEYWORDS = [
    "def", "import", "return", "self", "if", "for", "in", "class", "None",
    "from", "not", "else", "with", "as", "try", "except", "True", "False",
    "while", "and", "or", "is", "elif", "raise", "lambda", "yield", "pass",
    "break", "continue", "assert",
]
#: no q or x: stems can never spell an OOV token (which starts with "qx")
_CONSONANTS = list("bcdfghjklmnprstvwz")
_VOWELS = list("aeiou")
_SEPARATORS = np.array([" ", " ", " = ", "(", ", ", ")\n    ", ".", "\n"])
_LANGS = np.array(["py", "java", "go", "ts", "rs"])
_LANG_P = [0.4, 0.2, 0.15, 0.15, 0.1]
_EXT = {"py": "py", "java": "java", "go": "go", "ts": "ts", "rs": "rs"}

#: random-stream ids, so resizing one input never shifts another
_VOCAB, _DOCS, _QUERIES = 1, 2, 3
#: distinct identifiers: a code base of a few thousand files has a few 10^4
N_IDENTIFIERS = 20_000
N_STEMS = 3_000
#: share of tokens that are hot keywords
KEYWORD_SHARE = 0.3
#: every OOV_PERIOD-th query carries an out-of-vocabulary token
OOV_PERIOD = 10


def _zipf_cdf(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    c = np.cumsum(w)
    return c / c[-1]


def _draw(rng: np.random.Generator, cdf: np.ndarray, size) -> np.ndarray:
    return np.minimum(np.searchsorted(cdf, rng.random(size)), cdf.size - 1)


def _lognormal_lengths(n: int, mu: float = 4.0, sigma: float = 1.0):
    """``n`` document lengths (tokens) at evenly spaced quantiles of a
    log-normal: the same multiset for every seed, so the corpus size does
    not move with the seed (the seed only shuffles which file gets which
    length)."""
    dist = NormalDist(mu, sigma)
    q = [math.exp(dist.inv_cdf((i + 0.5) / n)) for i in range(n)]
    return np.clip(np.array(q), 3, 1500).astype(np.int64)


class CodeCorpus:
    """Vocabulary plus document / query factories for one seed."""

    def __init__(self, seed: int) -> None:
        self.seed = int(seed)
        rng = np.random.default_rng([_VOCAB, N_IDENTIFIERS, N_STEMS])
        stems = self._stems(rng, N_STEMS)
        self.identifiers = self._identifiers(rng, stems, N_IDENTIFIERS)
        self._ident_cdf = _zipf_cdf(len(self.identifiers), 1.0)
        self._kw = np.array(KEYWORDS)
        self._kw_cdf = _zipf_cdf(len(KEYWORDS), 1.0)

    @staticmethod
    def _stems(rng: np.random.Generator, n: int) -> list[str]:
        out: dict[str, None] = {}
        while len(out) < n:
            m = 2 * n
            cons = rng.integers(0, len(_CONSONANTS), size=(m, 3))
            vows = rng.integers(0, len(_VOWELS), size=(m, 3))
            syl = rng.integers(1, 4, size=m)
            for c, v, k in zip(cons.tolist(), vows.tolist(), syl.tolist()):
                s = "".join(
                    _CONSONANTS[c[j]] + _VOWELS[v[j]] for j in range(k)
                )
                out.setdefault(s, None)
        return list(out)[:n]

    @staticmethod
    def _identifiers(
        rng: np.random.Generator, stems: list[str], n: int
    ) -> np.ndarray:
        stem_cdf = _zipf_cdf(len(stems), 1.0)
        out: dict[str, None] = {}
        while len(out) < n:
            m = n // 2
            parts = _draw(rng, stem_cdf, (m, 3)).tolist()
            n_parts = rng.choice([1, 2, 2, 3], size=m).tolist()
            styles = rng.integers(0, 3, size=m).tolist()
            for idx, k, style in zip(parts, n_parts, styles):
                ps = [stems[i] for i in idx[:k]]
                if style == 0 or k == 1 and style == 2:
                    ident = ps[0] + "".join(p.capitalize() for p in ps[1:])
                elif style == 1:
                    ident = "".join(p.capitalize() for p in ps)
                else:
                    ident = "_".join(ps)
                out.setdefault(ident, None)
        ids = np.array(list(out)[:n])
        rng.shuffle(ids)  # Zipf rank is independent of generation order
        return ids

    def docs(self, n: int, start: int = 0):
        """``n`` documents numbered ``start..start+n-1``.

        Returns ``(frame, tokens)``: the corpus rows (repo, path, commit,
        lang, content) and each document's raw token list. ``path`` holds
        the document number, so it is unique across calls with disjoint
        ranges."""
        rng = np.random.default_rng([self.seed, _DOCS, start])
        lens = rng.permutation(_lognormal_lengths(n))
        total = int(lens.sum())
        is_kw = rng.random(total) < KEYWORD_SHARE
        toks = self.identifiers[_draw(rng, self._ident_cdf, total)]
        toks[is_kw] = self._kw[_draw(rng, self._kw_cdf, int(is_kw.sum()))]
        seps = _SEPARATORS[rng.integers(0, _SEPARATORS.size, total)]
        bounds = np.concatenate([[0], np.cumsum(lens)])
        tokens, contents = [], []
        for i in range(n):
            t = toks[bounds[i]:bounds[i + 1]].tolist()
            s = seps[bounds[i]:bounds[i + 1]].tolist()
            tokens.append(t)
            contents.append("".join(a + b for a, b in zip(t, s)))
        langs = rng.choice(_LANGS, size=n, p=_LANG_P)
        repos = rng.integers(0, 500, size=n)
        commits = rng.integers(0, 1 << 62, size=n)
        frame = pd.DataFrame(
            {
                "repo": [f"org{r % 37}/repo{r}" for r in repos],
                "path": [
                    f"src/m{start + i}.{_EXT[lang]}"
                    for i, lang in enumerate(langs)
                ],
                "commit": [f"{c:040x}" for c in commits],
                "lang": langs,
                "content": contents,
            }
        )
        return frame, tokens

    def queries(
        self,
        tokens: list[list[str]],
        n: int,
        stream: int = _QUERIES,
        start: int = 0,
    ) -> pd.DataFrame:
        """``n`` known-item queries over documents given by their tokens.

        Query ``j`` (counting from ``start``) takes ``1 + j % 5`` distinct
        tokens of its document, and every ``OOV_PERIOD``-th query adds
        an out-of-vocabulary token: consecutive queries have the same mix
        of lengths whatever the seed, which only picks the documents and
        their tokens. Returns (query_id, query, doc): ``doc`` is the
        position in ``tokens`` of the query's relevant document."""
        rng = np.random.default_rng([self.seed, stream])
        docs = rng.integers(0, len(tokens), size=n)
        qs = []
        for j, d in enumerate(docs.tolist(), start):
            distinct = sorted(set(tokens[d]))
            m = min(1 + j % 5, len(distinct))
            picked = [distinct[i] for i in rng.choice(len(distinct), m, replace=False)]
            if j % OOV_PERIOD == OOV_PERIOD // 2:
                picked.append(f"qx{int(rng.integers(0, 10**9)):09d}")
            qs.append(" ".join(picked))
        return pd.DataFrame(
            {"query_id": np.arange(n, dtype=np.int64), "query": qs, "doc": docs}
        )
