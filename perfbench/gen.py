"""Seeded input generators for the benchmark.

Every generator is a pure function of its ``numpy.random.Generator``: the
same ``--seed`` gives byte-identical inputs.  Two corpus shapes:

* ``fixture_documents`` mimics the test fixture ``documents.parquet``
  (FIXTURES.md §2): 30 head words drawn uniformly plus the rare ``dup``,
  10–100 words per doc, the fixture's language mix, ``src0..src19``.
* ``code_documents`` is code-like: identifiers follow a Zipf law over
  ~10^5 lowercase alphanumeric identifiers whose head is the fixture's 31
  words, joined with code punctuation.  The Zipf exponent, the log-normal
  file length and the separator mix are fitted to the repository's own
  Python sources by ``fit_corpus.py`` (values below).  It exercises the
  long tail of small (term, salt) groups and a realistic ``term_stats``
  size.

Both return the fixture's ``documents`` schema (doc_id, text, lang,
source, n_chars).  ``expected_corpus`` derives the engine's corpus table
from it the way ``zsolr.corpus.synth_corpus`` does (FIXTURES.md §1), plus
the expected docIDs, hashes and token counts the checks compare against.
"""

from __future__ import annotations

import hashlib
import re
from statistics import NormalDist

import numpy as np
import pandas as pd
from queryset import VOCAB as FIXTURE_VOCAB  # the fixture's 31 words

LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
TOKEN_RE = re.compile(r"[a-z0-9]+")

# code-like corpus shape, as fit_corpus.py printed it for the 50 Python
# files under zsolr/, tests/ and tools/ (104906 tokens, 4162 distinct):
# rank-frequency exponent over the top 1000 ranks, log-normal tokens per
# file, and the 16 most frequent strings between consecutive tokens
CODE_ZIPF_S = 1.048
CODE_LEN_MU, CODE_LEN_SIGMA = 6.954, 1.269
CODE_LEN_MIN, CODE_LEN_MAX = 7, 23546
CODE_SEPS = [
    (" ", 0.4001), ("_", 0.1265), (".", 0.0981), ("(", 0.0856),
    (", ", 0.0722), (" = ", 0.038), ("-", 0.0319), ("=", 0.0233),
    ('("', 0.0225), (": ", 0.0193), ("\n    ", 0.0168), ("[", 0.0146),
    ('["', 0.0144), (" (", 0.0132), ('", "', 0.012), (")\n    ", 0.0113),
]


def frame(texts: list[str], rng: np.random.Generator) -> pd.DataFrame:
    """``texts`` as a ``documents`` table with seeded languages."""
    n = len(texts)
    ids = np.arange(n, dtype=np.int64)
    return pd.DataFrame({
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(LANGS, size=n, p=LANG_P),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def fixture_texts(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` fixture-like texts: 10–100 words, uniform over the 30 head
    words, ``dup`` at ~0.1% of tokens."""
    head = np.array(FIXTURE_VOCAB[:-1])
    lens = rng.integers(10, 101, size=n)
    words = head[rng.integers(0, len(head), size=int(lens.sum()))]
    words[rng.random(len(words)) < 0.001] = "dup"
    cuts = np.cumsum(lens)[:-1]
    return [" ".join(w) for w in np.split(words, cuts)]


def fixture_documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    return frame(fixture_texts(rng, n), rng)


def identifiers(rng: np.random.Generator, n: int) -> list[str]:
    """The fixture's 31 words followed by ``n - 31`` distinct seeded
    lowercase alphanumeric identifiers (3–12 chars, leading letter)."""
    out = list(FIXTURE_VOCAB)
    seen = set(out)
    alpha = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    alnum = np.array(list("abcdefghijklmnopqrstuvwxyz0123456789"))
    while len(out) < n:
        m = 2 * (n - len(out))
        lens = rng.integers(3, 13, size=m)
        first = alpha[rng.integers(0, 26, size=m)]
        rest = alnum[rng.integers(0, 36, size=(m, 11))]
        for f, r, ln in zip(first, rest, lens):
            s = f + "".join(r[:ln - 1])
            if s not in seen:
                seen.add(s)
                out.append(s)
                if len(out) == n:
                    break
    return out


def code_lengths(rng: np.random.Generator, n: int) -> np.ndarray:
    """Tokens per file for ``n`` files: the log-normal's quantiles at
    (i + 0.5) / n in seeded order, so every seed gets the same total
    size (a free draw from this heavy tail moves the total by ~20% at a
    few hundred files)."""
    z = NormalDist(CODE_LEN_MU, CODE_LEN_SIGMA)
    lens = [z.inv_cdf((i + 0.5) / n) for i in range(n)]
    lens = np.clip(np.exp(lens), CODE_LEN_MIN, CODE_LEN_MAX)
    return rng.permutation(lens.astype(np.int64))


def code_texts(rng: np.random.Generator, n: int,
               vocab: list[str]) -> list[str]:
    """``n`` code-like texts: fitted lengths, Zipf(``CODE_ZIPF_S``)
    identifier ranks, fitted separators between them."""
    p = 1.0 / np.arange(1, len(vocab) + 1) ** CODE_ZIPF_S
    p /= p.sum()
    lens = code_lengths(rng, n)
    total = int(lens.sum())
    words = np.array(vocab)[rng.choice(len(vocab), size=total, p=p)]
    seps = np.array([s for s, _p in CODE_SEPS], dtype=object)
    sp = np.array([p for _s, p in CODE_SEPS])
    glue = seps[rng.choice(len(seps), size=total, p=sp / sp.sum())]
    cuts = np.cumsum(lens)[:-1]
    return ["".join(a + b for a, b in zip(w, g))
            for w, g in zip(np.split(words, cuts), np.split(glue, cuts))]


def code_documents(rng: np.random.Generator, n: int,
                   vocab: list[str]) -> pd.DataFrame:
    return frame(code_texts(rng, n, vocab), rng)


def expected_corpus(docs: pd.DataFrame) -> pd.DataFrame:
    """The corpus table ``synth_corpus`` derives (FIXTURES.md §1) plus the
    engine's expected docID — the rank of ``(repo, path, commit)`` — each
    row's content sha256 and epoch-seconds ``ts_s``, and ``src_id``, the
    generator's row number."""
    from zsolr.corpus import LANG_EXT, TS_EPOCH0, TS_MULT, TS_YEAR_S

    repo = docs["source"].tolist()
    ids = docs["doc_id"].tolist()
    path = [f"dir{i % 13}/file_{i}.{LANG_EXT[lg]}"
            for i, lg in zip(ids, docs["lang"])]
    commit = [hashlib.sha256(f"{r}/{p}@{i}".encode()).hexdigest()[:40]
              for r, p, i in zip(repo, path, ids)]
    out = pd.DataFrame({
        "src_id": ids, "repo": repo, "path": path, "commit": commit,
        "lang": docs["lang"].tolist(), "content": docs["text"].tolist(),
        "ts_s": [TS_EPOCH0 + (i * TS_MULT) % TS_YEAR_S for i in ids],
    })
    out["content_sha256"] = [hashlib.sha256(c.encode()).hexdigest()
                             for c in out["content"]]
    out = out.sort_values(["repo", "path", "commit"], kind="stable")
    out["doc_id"] = np.arange(len(out), dtype=np.int64)
    return out.reset_index(drop=True)


def distinct_term_doc_pairs(texts) -> int:
    """Σ over docs of distinct analyzed tokens — what Σ term_stats.df of
    the content field must equal."""
    return sum(len(set(TOKEN_RE.findall(t.lower()))) for t in texts)
