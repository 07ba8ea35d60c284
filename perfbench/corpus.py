"""Seeded generators for the benchmark's inputs.

Everything here is a pure function of the seed, independent of the library
under test: a library edit cannot shift the workload. The source-code table
has the shape a code-search deployment ingests, ``(repo, path, commit,
lang, content)``; doc ids are NOT assigned here — the library's
``with_doc_ids`` derives them from ``repo/path`` during the build, so ids
are spread over the full 64-bit space as in production (sequential ids would
make varint deltas one byte and doc-range pruning unrealistically cheap).
"""

from __future__ import annotations

from statistics import NormalDist

import numpy as np
import pandas as pd

KEYWORDS = ["def", "return", "import", "class", "self", "if", "else", "for",
            "while", "none", "true", "false", "try", "except", "with", "yield",
            "lambda", "struct", "const", "void", "int", "string", "public",
            "static", "async", "await", "c++", "c#"]
LANGS = {"py": "python", "go": "go", "rs": "rust", "ts": "typescript",
         "java": "java", "cpp": "c++", "c": "c"}
_SYLL = ["ba", "ko", "ri", "ta", "ne", "lu", "mi", "so", "pe", "da", "zu",
         "fi", "ga", "ho", "je", "wa", "xo", "qi", "vy", "cu"]
# trailing punctuation the tokenizer trims, so the text reads like code while
# every token stays one vocabulary word
_TRAIL = np.array(["", "", "", "", "(", ")", ":", ",", ";", "()", "):", "."])


def vocabulary(size: int) -> np.ndarray:
    """Keywords first (the hot head of the Zipf curve), then identifiers."""
    words = list(KEYWORDS)
    i = 0
    while len(words) < size:
        a, b, c = i % 20, (i // 20) % 20, (i // 400) % 20
        words.append(f"{_SYLL[a]}{_SYLL[b]}{_SYLL[c]}_{i // 8000}" if i >= 8000
                     else f"{_SYLL[a]}{_SYLL[b]}{_SYLL[c]}")
        i += 1
    return np.asarray(words[:size], dtype=object)


def _zipf_ranks(rng: np.random.Generator, n_items: int, s: float,
                size) -> np.ndarray:
    """Ranks 0..n_items-1 drawn from a truncated Zipf(s) by inverse CDF."""
    w = 1.0 / np.arange(1, n_items + 1, dtype=np.float64) ** s
    cdf = np.cumsum(w)
    cdf /= cdf[-1]
    return np.minimum(np.searchsorted(cdf, rng.random(size)), n_items - 1)


# Document shape from FIXTURES.md section 1 (the benchmark scale factor):
# 50-5000 tokens per file and about 10M tokens over about 10k files, i.e. a
# mean near 1000 tokens. A lognormal with median 600 and sigma 1.0 has mean
# 600 * e^0.5 = 989 before clipping. FIXTURES names a Zipfian vocabulary but
# not its size or exponent: VOCAB_SIZE and ZIPF_S are this benchmark's
# choice, sized so the mid and rare bands of BANDS keep short lists.
#
# The seed draws the tokens and the commits; the corpus's shape does not
# depend on it. The lengths are the lognormal's quantiles at (i + 0.5) / n,
# and each file's length and extension (so its path, and the doc id
# ``with_doc_ids`` hashes from it) come from a generator keyed on the file
# numbers alone. The doc-partitioned layout hashes doc ids into buckets and
# a query waits for its heaviest bucket, so a seeded assignment of long
# files to buckets would move query throughput from seed to seed.
MIN_TOKENS, MAX_TOKENS = 50, 5000
MEDIAN_TOKENS, SIGMA_TOKENS = 600, 1.0
VOCAB_SIZE, ZIPF_S = 20000, 1.05


def source_table(seed: int, n_docs: int, start: int = 0) -> pd.DataFrame:
    """``n_docs`` source files. ``start`` offsets the file numbering so
    batches generated for one seed never collide with the base corpus."""
    rng = np.random.default_rng([seed, start, n_docs])
    shape = np.random.default_rng([start, n_docs])
    vocab = vocabulary(VOCAB_SIZE)
    exts = np.array(list(LANGS))
    normal = NormalDist(np.log(MEDIAN_TOKENS), SIGMA_TOKENS)
    lens = np.clip(np.exp([normal.inv_cdf((i + 0.5) / n_docs) for i in range(n_docs)])
                   .astype(np.int64), MIN_TOKENS, MAX_TOKENS)
    lens = shape.permutation(lens)
    ext = exts[shape.integers(0, len(exts), n_docs)]
    toks = _zipf_ranks(rng, VOCAB_SIZE, ZIPF_S, int(lens.sum()))
    trail = _TRAIL[rng.integers(0, len(_TRAIL), len(toks))]
    words = vocab[toks] + trail
    # a newline every ~8 tokens keeps lines code-shaped
    seps = np.where(rng.random(len(toks)) < 0.125, "\n", " ").astype(object)
    pieces = words + seps
    ends = np.cumsum(lens)
    content = ["".join(pieces[e - n:e]) for e, n in zip(ends, lens)]
    ids = np.arange(start, start + n_docs)
    repo = np.char.add("org/repo", (ids % 97).astype(str))
    path = [f"src/m{i % 13}/file_{i}.{e}" for i, e in zip(ids, ext)]
    commit = [f"{x:016x}" for x in rng.integers(0, 1 << 62, n_docs)]
    return pd.DataFrame({
        "repo": repo.astype(object), "path": path, "commit": commit,
        "lang": [LANGS[e] for e in ext], "content": content,
    })


# The query kinds of FIXTURES.md section 2 and of the benchmark's
# specification: single terms, AND and OR of 2 and 3 terms mixing hot, mid
# and rare lists, a term no document contains ("-"), a duplicated term
# (searched once), more than 10 words (truncated to the first 10 by
# ``query_max_words``), and punctuation only, which tokenizes to nothing
# and is the router's third ("dist") route. No production query log is
# available to weight them, so every kind gets an equal share. A kind's
# queries cycle through its band patterns, so every seed gets the same mix
# of hot and rare posting lists; "=" repeats the previous term.
SHAPES = [
    ("single", "or", ["h", "m", "r"]),
    ("and2", "and", ["hm", "mm", "hr", "mr"]),
    ("and3", "and", ["hmr", "hhm", "mmr"]),
    ("or2", "or", ["hm", "mr", "hh", "mm"]),
    ("or3", "or", ["hmr", "mmm"]),
    ("absent_single", "or", ["-"]),
    ("absent_and", "and", ["h-", "m-"]),
    ("absent_or", "or", ["h-", "m-"]),
    ("dup_and", "and", ["h=m", "m=r"]),
    ("dup_or", "or", ["m=", "h=r"]),
    ("long_and", "and", ["hhhhhhhhhhhh"]),
    ("long_or", "or", ["hhmmmmrrrrrr", "mmmmrrrrrrrr"]),
    ("vacuous", "and", [""]),
]
# vocabulary ranks of each band: the keywords (each in most files), then
# two identifier ranges
BANDS = {"h": (0, len(KEYWORDS)), "m": (len(KEYWORDS), 600), "r": (600, None)}


def query_set(seed: int, n_queries: int) -> list[tuple[str, str, str]]:
    """Distinct ``(shape, query, mode)`` triples, ``n_queries`` rounded up
    to a whole number per kind, terms drawn uniformly within their
    popularity band; ``vacuous`` queries are punctuation only."""
    rng = np.random.default_rng([seed, 7])
    vocab = vocabulary(VOCAB_SIZE)
    per_shape = -(-n_queries // len(SHAPES))
    out: list[tuple[str, str, str]] = []
    seen: set[tuple[str, str]] = set()
    for shape, mode, patterns in SHAPES:
        got = 0
        while got < per_shape:
            words = []
            for band in patterns[got % len(patterns)]:
                if band == "-":
                    words.append(f"zq{int(rng.integers(0, 1 << 30)):x}x")
                elif band == "=":
                    words.append(words[-1])
                else:
                    lo, hi = BANDS[band]
                    words.append(str(vocab[rng.integers(lo, hi or VOCAB_SIZE)]))
            if not patterns[0]:
                words = list(rng.choice(["()", "):", ";", "--", "..."], 3))
            q = " ".join(words)
            # distinct words, apart from the deliberate repeats
            want = sum(c != "=" for c in patterns[got % len(patterns)])
            if (patterns[0] and len(set(words)) != want) or (q, mode) in seen:
                continue
            seen.add((q, mode))
            out.append((shape, q, mode))
            got += 1
    return out
