"""Seeded input generators with ground truth.

Each generator writes a workload's input files from a seed and returns
the ground truth the checks compare against.  The program under test
only ever receives the file paths; the truth stays in this process.

Translate inputs model the reference data: items (Wikidata-style ``Q``
ids) with per-site pageviews drawn from a heavy-tailed popularity times
a site scale, rounded to integers so low counts tie.  Site coverage
falls off with site index, so a few large sites hold most items and the
tail sites are sparse.  The curation corpus plants exact duplicates
(case and whitespace variants), near duplicates, short documents and
blocklisted documents over ~20 sources.
"""

from __future__ import annotations

import itertools
import json
import math
import os
import random
import string
from dataclasses import dataclass, field

__all__ = [
    "TranslateTruth",
    "CurateTruth",
    "site_codes",
    "gen_translate",
    "gen_curate",
    "BLOCKED_TERM",
    "CURATE_MIN_WORDS",
]

BLOCKED_TERM = "zzblocked"
CURATE_MIN_WORDS = 5


@dataclass
class TranslateTruth:
    targets: list[str]
    # (id, site) pairs that reach the parsed data
    present: set[tuple[str, str]]
    # target site -> ids that exist on some site but not on the target
    missing: dict[str, set[str]] = field(default_factory=dict)
    input_pairs: int = 0
    # target site -> RMSE of predicting the mean label, the no-skill model
    baseline_rmse: dict[str, float] = field(default_factory=dict)


@dataclass
class CurateTruth:
    input: int
    after_exact_dedup: int


def site_codes(n: int) -> list[str]:
    """``n`` two-letter language codes, the same for every seed."""
    codes = ("".join(p) for p in itertools.product(string.ascii_lowercase, repeat=2))
    return sorted(itertools.islice(codes, n))


def _pageviews(rng: random.Random, pop: float, scale: float) -> int:
    return max(1, int(pop * scale * rng.lognormvariate(0.0, 0.3)))


def _mean_rank_rmse(n: int) -> float:
    """RMSE of predicting the mean label on a site of ``n`` items.

    The label is the site's normalized rank, ``row_number / n`` with
    ties broken (operators/rank.py), so the labels are exactly
    ``1/n, 2/n, ..., 1`` whatever the pageviews; their standard
    deviation is ``sqrt((n^2 - 1) / 12) / n``, about 0.289.
    """
    return math.sqrt((n * n - 1) / 12.0) / n


def gen_translate(out_dir: str, seed: int, n_sites: int, n_ids: int,
                  n_targets: int, split: bool) -> tuple[dict[str, str], TranslateTruth]:
    """Write translate inputs under ``out_dir``.

    ``split=False`` writes one combined ``(id, site, title, pageviews)``
    TSV (the S2 path).  ``split=True`` writes a sitelinks TSV and a
    space-separated pagecounts dump (the S1 join S3 path); the dump also
    holds rows of non-``.z`` projects, which the reader filters, and
    some sitelinks have no pagecounts row, which the join drops.

    Returns the CLI params for the inputs and the ground truth.
    """
    rng = random.Random(seed)
    codes = site_codes(n_sites)
    sites = [f"{c}wiki" for c in codes]
    # big sites first: coverage falls off with index
    order = list(range(n_sites))
    coverage = [max(0.12, 0.95 / (1 + 0.15 * k)) for k in order]
    site_scale = [1.0 / (1 + 0.05 * k) for k in order]

    present: set[tuple[str, str]] = set()
    rows: list[tuple[str, str, str, int]] = []
    orphan_links: list[tuple[str, str, str]] = []
    for i in range(n_ids):
        qid = f"Q{i + 1}"
        pop = rng.paretovariate(1.2)
        on = [k for k in order if rng.random() < coverage[k]]
        if not on:
            on = [rng.randrange(n_sites)]
        for k in on:
            title = f"T{i + 1}_{codes[k]}"
            if split and rng.random() < 0.03:
                orphan_links.append((qid, sites[k], title))
                continue
            rows.append((qid, sites[k], title, _pageviews(rng, pop, site_scale[k])))
            present.add((qid, sites[k]))

    # targets: the best-covered sites, so every target has training rows
    counts = {s: 0 for s in sites}
    for _, s in present:
        counts[s] += 1
    targets = sorted(sorted(sites, key=lambda s: (-counts[s], s))[:n_targets])
    ids = {q for q, _ in present}
    missing = {t: {q for q in ids if (q, t) not in present} for t in targets}
    truth = TranslateTruth(targets=targets, present=present, missing=missing,
                           input_pairs=len(rows),
                           baseline_rmse={t: _mean_rank_rmse(counts[t]) for t in targets})

    os.makedirs(out_dir, exist_ok=True)
    rng.shuffle(rows)
    if not split:
        path = os.path.join(out_dir, "raw.tsv")
        with open(path, "w") as f:
            f.write("\tid\tsite\ttitle\tpageviews\n")
            for n, (q, s, t, pv) in enumerate(rows):
                f.write(f"{n}\t{q}\t{s}\t{t}\t{pv}\n")
        return {"raw_data": path}, truth

    links = [(q, s, t) for q, s, t, _ in rows] + orphan_links
    rng.shuffle(links)
    sl_path = os.path.join(out_dir, "sitelinks.tsv")
    with open(sl_path, "w") as f:
        f.write("id\tsite\ttitle\n")
        for q, s, t in links:
            f.write(f"{q}\t{s}\t{t}\n")
    pc_path = os.path.join(out_dir, "pagecounts")
    noise_projects = ("b", "d", "q")
    with open(pc_path, "w") as f:
        for q, s, t, pv in rows:
            code = s[: -len("wiki")]
            f.write(f"{code}.z {t} {pv}\n")
            if rng.random() < 0.25:
                f.write(f"{code}.{rng.choice(noise_projects)} {t} {pv + 1}\n")
    return {"raw_sitelinks": sl_path, "raw_pagecounts": pc_path}, truth


def _normalize(text: str) -> str:
    return " ".join(text.lower().split())


def gen_curate(out_dir: str, seed: int, n_docs: int, n_sources: int = 20,
               exact_dup: float = 0.15, near_dup: float = 0.10,
               short: float = 0.03, blocked: float = 0.03) -> tuple[str, CurateTruth]:
    """Write a JSONL corpus of ``n_docs`` documents (doc_id, text,
    source, lang) and return its path and ground truth.

    Every document is lowercase words of 3-8 letters, so the quality
    gates keep it unless it was planted short (< ``CURATE_MIN_WORDS``
    words) or carries ``BLOCKED_TERM``.  Exact duplicates vary case and
    whitespace only; near duplicates swap a few words.
    """
    rng = random.Random(seed)
    vocab = sorted({
        "".join(rng.choice(string.ascii_lowercase) for _ in range(rng.randint(3, 8)))
        for _ in range(3000)
    })
    vocab = [w for w in vocab if w != BLOCKED_TERM]
    sources = [f"src{k:02d}" for k in range(n_sources)]
    langs = ("en", "de", "fr")

    docs: list[tuple[int, str, str, str]] = []
    for i in range(n_docs):
        r = rng.random()
        base = docs[rng.randrange(len(docs))][1] if docs else None
        if base is not None and r < exact_dup:
            words = base.split()
            text = "  ".join(w.upper() if rng.random() < 0.1 else w for w in words)
        elif base is not None and r < exact_dup + near_dup:
            words = base.split()
            for _ in range(max(1, len(words) // 20)):
                words[rng.randrange(len(words))] = rng.choice(vocab)
            text = " ".join(words)
        elif r < exact_dup + near_dup + short:
            text = " ".join(rng.choice(vocab) for _ in range(CURATE_MIN_WORDS - 2))
        else:
            words = [rng.choice(vocab) for _ in range(rng.randint(30, 120))]
            if r < exact_dup + near_dup + short + blocked:
                words[rng.randrange(len(words))] = BLOCKED_TERM
            text = " ".join(words)
        docs.append((i + 1, text, rng.choice(sources), rng.choice(langs)))

    passing = {
        _normalize(t) for _, t, _, _ in docs
        if len(t.split()) >= CURATE_MIN_WORDS and BLOCKED_TERM not in _normalize(t).split()
    }
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "docs.jsonl")
    with open(path, "w") as f:
        for doc_id, text, src, lang in docs:
            f.write(json.dumps({"doc_id": doc_id, "text": text,
                                "source": src, "lang": lang}) + "\n")
    return path, CurateTruth(input=n_docs, after_exact_dedup=len(passing))
