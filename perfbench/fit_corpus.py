"""Fit the code-like corpus parameters of gen.py to a source tree.

    python3 perfbench/fit_corpus.py [ROOT]     # default: the checkout root

Reads every ``*.py`` file under ``ROOT/zsolr``, ``ROOT/tests`` and
``ROOT/tools`` (the benchmark's own files are left out) and prints, as one
JSON object:

* ``zipf_s`` — the exponent of the rank-frequency law of the analyzed
  tokens (lowercased ``[a-z0-9]+`` runs, the engine's analyzer), from a
  least-squares fit of log frequency on log rank over ranks 1..``fit_ranks``;
* ``len_mu``, ``len_sigma``, ``len_min``, ``len_max`` — a log-normal fit of
  tokens per file (mean and standard deviation of the log), and the range
  seen;
* ``seps`` — the most frequent strings between consecutive tokens and
  their shares (renormalised over the ones listed).

gen.py keeps the values this printed for the tree it was fitted on as
constants, so the generated corpus does not change when the program's
sources do.
"""

from __future__ import annotations

import collections
import json
import math
import os
import re
import sys

TOKEN_RE = re.compile(r"[a-z0-9]+")
DIRS = ("zsolr", "tests", "tools")
FIT_RANKS = 1000
N_SEPS = 16


def sources(root: str) -> list[str]:
    out = []
    for d in DIRS:
        for r, _dirs, files in os.walk(os.path.join(root, d)):
            out.extend(os.path.join(r, f) for f in sorted(files)
                       if f.endswith(".py"))
    return sorted(out)


def fit(root: str) -> dict:
    freq: collections.Counter = collections.Counter()
    seps: collections.Counter = collections.Counter()
    lens = []
    for path in sources(root):
        with open(path, encoding="utf-8") as fh:
            text = fh.read().lower()
        spans = [m.span() for m in TOKEN_RE.finditer(text)]
        if not spans:
            continue
        lens.append(len(spans))
        freq.update(text[a:b] for a, b in spans)
        seps.update(text[b:a2] for (_a, b), (a2, _b2)
                    in zip(spans, spans[1:]))
    counts = sorted(freq.values(), reverse=True)[:FIT_RANKS]
    xs = [math.log(r) for r in range(1, len(counts) + 1)]
    ys = [math.log(c) for c in counts]
    mx, my = sum(xs) / len(xs), sum(ys) / len(ys)
    slope = (sum((x - mx) * (y - my) for x, y in zip(xs, ys))
             / sum((x - mx) ** 2 for x in xs))
    logs = [math.log(n) for n in lens]
    mu = sum(logs) / len(logs)
    sigma = math.sqrt(sum((v - mu) ** 2 for v in logs) / len(logs))
    top = seps.most_common(N_SEPS)
    total = sum(c for _s, c in top)
    return {
        "files": len(lens), "tokens": sum(lens), "distinct": len(freq),
        "fit_ranks": len(counts), "zipf_s": round(-slope, 3),
        "len_mu": round(mu, 3), "len_sigma": round(sigma, 3),
        "len_min": min(lens), "len_max": max(lens),
        "seps": [[s, round(c / total, 4)] for s, c in top],
    }


if __name__ == "__main__":
    here = os.path.dirname(os.path.abspath(__file__))
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.dirname(here)
    print(json.dumps(fit(root)))
