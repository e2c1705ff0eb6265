"""Seeded input generators for the three benchmark workloads.

Every row is a pure function of ``(seed, row)``: each row draws from its own
counter-keyed generator ``default_rng((seed, stream, row))``, and the only
cross-row structure (text lengths, family sizes) comes from closed-form
quantiles permuted by a seeded affine bijection of the row index.  The
multiset of lengths is therefore identical for every seed, so the amount of
work per run does not drift with the seed; only the content changes.

Each generator returns its rows plus the ground truth the checks compare
against: planted link pairs, planted duplicate families, exact distinct
counts.  ``write_parquet`` writes a table as several files, the shape of a
real multi-file dataset, so Spark reads it as parallel splits.
"""

from __future__ import annotations

import hashlib
import json
import math
from pathlib import Path
from statistics import NormalDist

import numpy as np

_SYLLABLES = (
    "ka ri to mi na lo se an el ar ber ton mar li sa do ve ra ne un is "
    "ha jo ku pe ti ol en as qu ze wi by ch st"
).split()
_STREAMS = {name: i for i, name in enumerate(
    ["vocab", "person", "typo", "newperson", "page", "family", "doc", "edit"]
)}


def _rng(seed: int, stream: str, row: int = 0) -> np.random.Generator:
    return np.random.default_rng((seed, _STREAMS[stream], row))


def _bijection(seed: int, stream: str, n: int):
    """Seeded permutation of ``range(n)`` as ``row -> (a*row + b) % n``."""
    rng = _rng(seed, stream, n)
    while True:
        a = int(rng.integers(1, max(n, 2)))
        if math.gcd(a, n) == 1:
            break
    b = int(rng.integers(0, n))
    return lambda row: (a * row + b) % n


def _word(rng: np.random.Generator, lo: int, hi: int) -> str:
    n = int(rng.integers(lo, hi + 1))
    return "".join(_SYLLABLES[i] for i in rng.integers(0, len(_SYLLABLES), n))


def vocabulary(seed: int, size: int) -> list[str]:
    rng = _rng(seed, "vocab")
    words: dict[str, None] = {}
    while len(words) < size:
        words.setdefault(_word(rng, 1, 4), None)
    return list(words)


def _zipf_cdf(size: int, s: float = 1.1) -> np.ndarray:
    w = 1.0 / np.arange(1, size + 1) ** s
    return np.cumsum(w) / w.sum()


def _words(rng: np.random.Generator, vocab: list[str], cdf: np.ndarray, n: int) -> list[str]:
    idx = np.minimum(np.searchsorted(cdf, rng.random(n)), len(vocab) - 1)
    return [vocab[i] for i in idx]


def digest(rows: list[dict]) -> str:
    """sha256 of the canonical JSON of the rows: equal seeds give equal digests."""
    h = hashlib.sha256()
    for r in rows:
        h.update(json.dumps(r, sort_keys=True, separators=(",", ":")).encode())
    return h.hexdigest()


def write_parquet(rows: list[dict], path: Path, files: int = 8) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    path.mkdir(parents=True, exist_ok=True)
    step = -(-len(rows) // files)
    for i in range(files):
        part = rows[i * step:(i + 1) * step]
        if part:
            pq.write_table(pa.Table.from_pylist(part), path / f"part-{i:03d}.parquet")


# ------------------------------------------------------------ link_records

CITIES = 200


def _person(rng: np.random.Generator, cities: list[str]) -> dict:
    day = int(rng.integers(0, 365 * 70))
    y, rem = divmod(day, 365)
    city = int(rng.integers(0, CITIES))
    return {
        "first": _word(rng, 2, 3).capitalize(),
        "last": _word(rng, 2, 4).capitalize(),
        "dob": f"{1940 + y:04d}-{rem // 31 + 1:02d}-{rem % 28 + 1:02d}",
        "city": cities[city],
        "zip": f"{10000 + city * 37 + int(rng.integers(0, 30)):05d}",
    }


def _typo(value: str, rng: np.random.Generator) -> str:
    """One substitution, deletion or transposition away from ``value``."""
    i = int(rng.integers(1, max(len(value) - 1, 2)))
    op = int(rng.integers(0, 3))
    if op == 0:
        return value[:i] + "aeiou"[int(rng.integers(0, 5))] + value[i + 1:]
    if op == 1 and len(value) > 3:
        return value[:i] + value[i + 1:]
    return value[:i - 1] + value[i] + value[i - 1] + value[i + 1:]


def link_records(seed: int, n: int, overlap: float = 0.5):
    """Parties A and B, ``n`` records each (first, last, dob, city, zip).

    B row ``j < overlap*n`` is A's subject ``perm(j)`` with one typo in one
    or two name fields; the rest of B are new subjects.  Returns
    ``(a_rows, b_rows, true_pairs)`` with ``true_pairs`` a set of
    ``(a_id, b_id)``."""
    shared = int(n * overlap)
    pick = _bijection(seed, "typo", n)
    cities = [_word(_rng(seed, "vocab", 1000 + c), 2, 4).capitalize() for c in range(CITIES)]
    a_rows = [{"id": f"a{i:07d}", **_person(_rng(seed, "person", i), cities)} for i in range(n)]
    b_rows, truth = [], set()
    for j in range(n):
        bid = f"b{j:07d}"
        if j < shared:
            src = pick(j)
            rec = {k: v for k, v in a_rows[src].items() if k != "id"}
            rng = _rng(seed, "typo", j)
            for field in rng.choice(["first", "last", "city"], int(rng.integers(1, 3)), replace=False):
                rec[field] = _typo(rec[field], rng)
            truth.add((a_rows[src]["id"], bid))
        else:
            rec = _person(_rng(seed, "newperson", j), cities)
        b_rows.append({"id": bid, **rec})
    return a_rows, b_rows, truth


# ----------------------------------------------------- crawl_encode_sketch

LANGS = ["en", "de", "fr", "es", "ru", "ja", "zh", "pt", "it", "nl", "pl"]
_LANG_CDF = np.cumsum([0.6] + [0.4 * w / sum(1 / k for k in range(1, 11)) for w in
                               (1 / k for k in range(1, 11))])
_RECRAWL = 0.1  # share of rows that re-fetch an earlier url


def crawl_pages(seed: int, n: int, median_words: int = 500, sigma: float = 1.0,
                max_words: int = 5000):
    """Common-Crawl-shaped ``pages(url, warc_ts, text, lang)``.

    Text length in words follows a lognormal quantile (heavy right tail,
    capped) assigned through a seeded permutation of the rows; ``lang`` is
    60 % ``en`` and Zipf over ten others; ``_RECRAWL`` of the rows re-fetch
    an earlier row's url.  Returns ``(rows, truth)`` where ``truth`` holds
    exact distinct-url counts, overall and per lang, exact lang counts and
    every text length in characters."""
    vocab = vocabulary(seed, 4000)
    cdf = _zipf_cdf(len(vocab))
    slot = _bijection(seed, "page", n)
    dist = NormalDist(math.log(median_words), sigma)
    rows = []
    for i in range(n):
        rng = _rng(seed, "page", i)
        q = (slot(i) + 0.5) / n
        words = min(max_words, max(3, int(math.exp(dist.inv_cdf(q)))))
        src = i
        if i > 0 and rng.random() < _RECRAWL:
            src = int(rng.integers(0, i))
        host = _rng(seed, "vocab", 10_000 + src).integers(0, 500)
        rows.append({
            "url": f"https://h{host}.example.org/p/{src:07d}",
            "warc_ts": 1_700_000_000 + i * 7,
            "text": " ".join(_words(rng, vocab, cdf, words)),
            "lang": LANGS[int(np.searchsorted(_LANG_CDF, rng.random()))],
        })
    by_lang: dict[str, set] = {}
    for r in rows:
        by_lang.setdefault(r["lang"], set()).add(r["url"])
    truth = {
        "distinct_urls": len({r["url"] for r in rows}),
        "distinct_urls_by_lang": {k: len(v) for k, v in by_lang.items()},
        "lang_counts": {k: sum(1 for r in rows if r["lang"] == k) for k in by_lang},
        "text_lengths": [len(r["text"]) for r in rows],
    }
    return rows, truth


# --------------------------------------------------------- near_dup_corpus

BOILERPLATE = 12


def _family_sizes(n: int, hot: int, small_frac: float) -> list[int]:
    """One hot family, small families of size 2..5, singleton background."""
    sizes, budget = [hot], int(n * small_frac)
    k = 0
    while budget > 1:
        s = min(2 + k % 4, budget)
        sizes.append(s)
        budget -= s
        k += 1
    return sizes + [1] * (n - sum(sizes))


def near_dup_docs(seed: int, n: int, hot: int = 120, small_frac: float = 0.3,
                  words: int = 70, edit_rate: float = 0.02):
    """Documents in planted near-duplicate families.

    Family members copy the family base text and substitute ``edit_rate``
    of its words; every document also carries 0-2 boilerplate lines from a
    shared pool, which pushes unrelated documents into shared buckets.
    Family sizes are fixed by ``(n, hot, small_frac)`` and base lengths by
    the family index, so both multisets are the same for every seed, and
    the vocabulary is fixed: which 5-grams are common, and so how many
    unrelated documents collide in MinHash buckets, does not vary with the
    seed.  A seeded bijection scatters family members over the ids.
    Returns ``(rows, families)`` with ``families`` a list of id lists
    (singletons omitted)."""
    vocab = vocabulary(0, 3000)
    cdf = _zipf_cdf(len(vocab), 1.0)
    boiler_rng = _rng(0, "vocab", 7)
    boilerplate = [" ".join(_words(boiler_rng, vocab, cdf, 12)) for _ in range(BOILERPLATE)]
    sizes = _family_sizes(n, hot, small_frac)
    slot = _bijection(seed, "doc", n)
    family_of, member_of = [0] * n, [0] * n
    pos = 0
    for f, s in enumerate(sizes):
        for m in range(s):
            family_of[pos + m], member_of[pos + m] = f, m
        pos += s
    rows, families = [], {}
    for i in range(n):
        p = slot(i)
        fam, member = family_of[p], member_of[p]
        base_rng = _rng(seed, "family", fam)
        span = int(words * (0.6 + 0.8 * (fam * 0.618034 % 1.0)))
        text = _words(base_rng, vocab, cdf, span)
        if member:
            rng = _rng(seed, "edit", i)
            hits = np.flatnonzero(rng.random(span) < edit_rate)
            for h, w in zip(hits, _words(rng, vocab, cdf, len(hits))):
                text[h] = w
        rng = _rng(seed, "doc", i)
        lines = [boilerplate[b] for b in rng.integers(0, BOILERPLATE, int(rng.integers(0, 3)))]
        rows.append({"doc_id": i, "text": "\n".join([" ".join(text), *lines])})
        if sizes[fam] > 1:
            families.setdefault(fam, []).append(i)
    return rows, list(families.values())
