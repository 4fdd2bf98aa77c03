"""Seeded input generators, one per workload.

Each generator is a pure function of its seed and size arguments: the same
seed gives byte-identical inputs.  Each returns the generated rows plus a
``props`` dict that records the measured share of every property the
generator promises, so a run states what its input actually contained.
"""

from __future__ import annotations

import numpy as np

# Reference chunker limit (pages longer than this take the split path).
MAX_CHUNK_CHARS = 7500
PAGES_PER_FILE = 20


def _vocab(rng: np.random.Generator, n: int) -> np.ndarray:
    """``n`` distinct lowercase latin words of 3-9 letters."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    while len(words) < n:
        ln = int(rng.integers(3, 10))
        words.add("".join(rng.choice(letters, ln)))
    return np.array(sorted(words))


def _zipf_p(n: int) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1, dtype=np.float64)
    return p / p.sum()


def _zipf_words(rng, vocab: np.ndarray, n: int, p: np.ndarray | None = None) -> np.ndarray:
    """``n`` words drawn with a Zipf-like rank law over ``vocab``."""
    return rng.choice(vocab, n, p=_zipf_p(len(vocab)) if p is None else p)


# --------------------------------------------------------------------------
# rag: pages of varying length, ~20 pages per file
# --------------------------------------------------------------------------

def rag_pages(seed: int, n_pages: int, long_share: float = 0.2):
    """Pages for ``pipeline.ingest_documents``: rows ``(source, doc_id, text)``.

    - about ``long_share`` of pages exceed 7,500 chars, so the chunker's
      split path runs (some exceed 15,000, giving three or more chunks);
    - sentences end in the reference's punctuation set (``. ; ! ?`` and
      the CJK forms), so the split search finds a boundary;
    - newlines and runs of spaces are scattered through the text for the
      normalizer;
    - ``PAGES_PER_FILE`` pages per file (``source``), page number in
      ``doc_id``.
    """
    rng = np.random.default_rng([seed, 1])
    vocab = _vocab(rng, 4000)
    puncts = np.array([". ", ". ", ". ", "; ", "! ", "? ", "。", "？"])
    seps = np.array([" ", " ", " ", " ", " ", " ", " ", " ", "\n", "  ", " \n  "])
    p = _zipf_p(len(vocab))
    rows = []
    for i in range(n_pages):
        if rng.random() < long_share:
            target = int(rng.integers(MAX_CHUNK_CHARS + 200, 2 * MAX_CHUNK_CHARS + 2000))
        else:
            target = int(rng.integers(300, MAX_CHUNK_CHARS - 300))
        # ~6.5 chars per word with its separator; trim to the target below.
        words = _zipf_words(rng, vocab, target // 5 + 10, p)
        gaps = rng.choice(seps, len(words))
        ends = rng.random(len(words)) < 1 / 14
        gaps[ends] = rng.choice(puncts, int(ends.sum()))
        text = "".join(w + g for w, g in zip(words, gaps))[:target].rstrip() + "."
        rows.append((f"file{i // PAGES_PER_FILE:05d}.pdf", i % PAGES_PER_FILE + 1, text))
    texts = [r[2] for r in rows]
    props = {
        "pages": n_pages,
        "files": len({r[0] for r in rows}),
        "pages_per_file": n_pages / len({r[0] for r in rows}),
        "share_over_7500_chars": float(np.mean([len(t) > MAX_CHUNK_CHARS for t in texts])),
        "share_over_15000_chars": float(np.mean([len(t) > 2 * MAX_CHUNK_CHARS for t in texts])),
        "share_with_newline": float(np.mean(["\n" in t for t in texts])),
        "share_with_space_run": float(np.mean(["  " in t for t in texts])),
        "mean_chars": float(np.mean([len(t) for t in texts])),
    }
    return rows, props


def rag_questions(seed: int, n: int) -> list[str]:
    """Seeded question strings for the search loop."""
    rng = np.random.default_rng([seed, 2])
    vocab = _vocab(rng, 500)
    return [
        "What does the document say about "
        + " ".join(_zipf_words(rng, vocab, int(rng.integers(2, 6))))
        + f"? (q{j})"
        for j in range(n)
    ]


# --------------------------------------------------------------------------
# curation: mixed-language docs with planted exact and near duplicates
# --------------------------------------------------------------------------

LANGS = ("en", "de", "fr", "es", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)


def curation_docs(
    seed: int,
    n_docs: int,
    exact_share: float = 0.1,
    near_share: float = 0.1,
    boiler_share: float = 0.3,
):
    """Docs for ``curation_v3_pipeline``: rows ``(doc_id, text, lang,
    source, n_chars)`` — the ``documents`` fixture schema (FIXTURES.md).

    - languages mixed per ``LANG_P``; each language has its own
      vocabulary, so DSIR's target (``en``) differs from the rest;
    - about ``exact_share`` of docs are exact copies of an earlier doc
      (some with newline/space variation that the normalized fingerprint
      folds away);
    - about ``near_share`` are one-token edits of an earlier doc;
    - about ``boiler_share`` carry one of a few shared 12-word spans,
      which the substring strip stage cuts;
    - a few docs are short or symbol-heavy, so every Gopher rule gates
      something.  The stop-word overlay is applied by the query itself
      (even ``doc_id``).
    """
    rng = np.random.default_rng([seed, 3])
    vocabs = {lang: _vocab(rng, 3000) for lang in LANGS}
    boiler = [" ".join(_zipf_words(rng, vocabs["en"], 12)) for _ in range(6)]
    texts: list[str] = []
    langs: list[str] = []
    kinds: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < exact_share:
            j = int(rng.integers(0, i))
            t = texts[j]
            if rng.random() < 0.5:
                t = t.replace(" ", "\n", 1).replace(" ", "  ", 1)
            texts.append(t)
            langs.append(langs[j])
            kinds.append("exact")
            continue
        if i > 10 and r < exact_share + near_share:
            j = int(rng.integers(0, i))
            toks = texts[j].split()
            pos = int(rng.integers(0, len(toks)))
            toks[pos] = str(rng.choice(vocabs[langs[j]]))
            texts.append(" ".join(toks))
            langs.append(langs[j])
            kinds.append("near")
            continue
        lang = LANGS[int(rng.choice(len(LANGS), p=LANG_P))]
        n_words = int(rng.integers(30, 320))
        words = list(_zipf_words(rng, vocabs[lang], n_words))
        if rng.random() < boiler_share:
            pos = int(rng.integers(0, len(words)))
            words[pos:pos] = boiler[int(rng.integers(0, len(boiler)))].split()
        if rng.random() < 0.03:
            words = [w + " #" if k % 5 == 0 else w for k, w in enumerate(words)]
        texts.append(" ".join(words))
        langs.append(lang)
        kinds.append("base")
    rows = [
        (i, texts[i], langs[i], f"src{i % 20}", len(texts[i]))
        for i in range(n_docs)
    ]
    props = {
        "docs": n_docs,
        "share_exact_dup": kinds.count("exact") / n_docs,
        "share_near_dup": kinds.count("near") / n_docs,
        "share_en": langs.count("en") / n_docs,
        "share_with_boilerplate": float(np.mean([any(b in t for b in boiler) for t in texts])),
        "share_under_50_words": float(np.mean([len(t.split()) < 50 for t in texts])),
    }
    return rows, props


# --------------------------------------------------------------------------
# ann_batch: clustered 64-d vectors and probes from the same mixture
# --------------------------------------------------------------------------

def ann_vectors(seed: int, n_items: int, n_probes: int, dim: int = 64, clusters: int = 32):
    """Gaussian mixture: ``clusters`` centres ~ N(0, 1), points = centre +
    N(0, 0.35²) per coordinate, float32.  Probes are fresh draws from the
    same mixture.  Returns ``(items, probes, props)`` as float32 arrays."""
    rng = np.random.default_rng([seed, 4])
    centres = rng.standard_normal((clusters, dim))
    lab = rng.integers(0, clusters, n_items)
    items = (centres[lab] + 0.35 * rng.standard_normal((n_items, dim))).astype(np.float32)
    plab = rng.integers(0, clusters, n_probes)
    probes = (centres[plab] + 0.35 * rng.standard_normal((n_probes, dim))).astype(np.float32)
    props = {
        "items": n_items,
        "probes": n_probes,
        "dim": dim,
        "clusters": clusters,
        "clusters_present": int(len(np.unique(lab))),
        "largest_cluster_share": float(np.bincount(lab).max() / n_items),
    }
    return items, probes, props
