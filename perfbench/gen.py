"""Seeded input generators for the three benchmark workloads.

Each generator is a pure function of its seed and size: it draws from
one ``numpy.random.Generator`` and writes one uncompressed parquet file
with pyarrow, so the same seed gives byte-identical files. The program
under test only ever sees these files; generation runs before any timed
region and is outside every metric.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_SYLLABLES = [
    "ba", "ce", "di", "fo", "gu", "ha", "je", "ki", "lo", "mu", "na", "pe",
    "qui", "ro", "su", "ta", "ve", "wi", "xo", "yu", "za", "bre", "cla",
    "dro", "fle", "gri", "plo", "tra", "sto", "mer", "lin", "dor", "van",
]
_STATES = ["CA", "NY", "TX", "WA", "FL", "IL", "MA", "GA", "NC", "CO", "OH", "PA"]
_EMPLOYMENT = [
    "Full-time", "Part-time", "Contract", "Temporary", "Internship",
    "Volunteer", "Other",
]
_SENIORITY = [
    "Entry level", "Mid-Senior level", "Associate", "Director",
    "Executive", "Internship",
]
# Stopwords the language gate keys on (operators.text_analysis markers);
# the Spanish list leaves out the words it shares with French.
_MARKERS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "a"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu"],
    "fr": ["le", "la", "les", "et", "est", "pas", "pour", "que", "une", "dans"],
    "es": ["el", "los", "las", "es", "y", "por", "para", "una"],
}


_MARKER_WORDS = {w for words in _MARKERS.values() for w in words}


def vocabulary(rng: np.random.Generator, n_words: int) -> np.ndarray:
    """``n_words`` distinct pseudo-words of 2-4 syllables, none of them a
    marker stopword, so stopword density is set by the generator alone."""
    words: set[str] = set()
    while len(words) < n_words:
        k = int(rng.integers(2, 5))
        words.add("".join(rng.choice(_SYLLABLES, size=k)))
        words -= _MARKER_WORDS
    return np.array(sorted(words))


def _topic_words(rng, vocab: np.ndarray, n: int) -> list[str]:
    """``n`` words: a quarter Zipf-drawn from the 100 most common words,
    the rest uniform from one of 40 disjoint topic slices. Unrelated
    documents then sit at cosine ~0.1-0.3 under a bag-of-words
    embedding, as random job-post pairs did in the reference (FIXTURES
    F-3), so only planted copies cross a 0.9 threshold."""
    common = vocab[:100]
    ranks = np.arange(1, len(common) + 1, dtype=np.float64)
    p = 1.0 / ranks
    p /= p.sum()
    topics = np.array_split(vocab[100:], 40)
    topic = topics[int(rng.integers(len(topics)))]
    is_common = rng.random(n) < 0.25
    out = np.where(
        is_common,
        common[rng.choice(len(common), size=n, p=p)],
        topic[rng.integers(len(topic), size=n)],
    )
    return [str(w) for w in out]


def _edit(rng, words: list[str], vocab: np.ndarray, share: float) -> list[str]:
    """Replace ``share`` of the words (at least one) with random words."""
    out = list(words)
    n_edit = max(1, int(round(share * len(out))))
    for i in rng.choice(len(out), size=n_edit, replace=False):
        out[int(i)] = str(vocab[int(rng.integers(len(vocab)))])
    return out


def _null_mask(rng, n: int, rate: float) -> np.ndarray:
    """Exactly max(1, round(rate*n)) nulls, so small inputs keep every
    null phenomenon of the reference table."""
    mask = np.zeros(n, dtype=bool)
    mask[rng.choice(n, size=max(1, int(round(rate * n))), replace=False)] = True
    return mask


def _write(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="none")
    return path


def _html(rng, words: list[str]) -> str:
    """Wrap a description in <div>/<p> markup with entities and
    whitespace runs, as scraped job boards deliver it."""
    cut = sorted(rng.choice(np.arange(1, len(words)), size=2, replace=False))
    parts = [words[: cut[0]], words[cut[0] : cut[1]], words[cut[1] :]]
    paras = [" ".join(p) for p in parts]
    paras[1] = paras[1].replace(" ", "  \n ", 1)
    return (
        "<div class=\"job\"><p>" + paras[0] + " &amp; more</p>\n"
        "<p>" + paras[1] + "&nbsp;</p><ul><li>" + paras[2] + "</li></ul></div>"
    )


def jobs_raw(seed: int, n_posts: int, path: str) -> str:
    """F-1-shaped raw job-posts table (FIXTURES.md), all string columns.

    Descriptions are 100-600 topic-drawn words wrapped in HTML. About
    10% of rows repeat an earlier description exactly (the reference had
    90,535 distinct of 100k); about 12% are near-duplicate copies of an
    earlier post with 1-12% of their words edited, so the 0.90 cosine
    threshold falls inside the edit range.
    """
    rng = np.random.default_rng([seed, 1])
    vocab = vocabulary(rng, 4000)
    descs: list[str] = []
    bases: list[list[str]] = []
    for _ in range(n_posts):
        u = rng.random()
        if bases and u < 0.10:
            descs.append(descs[int(rng.integers(len(descs)))])
            continue
        if bases and u < 0.22:
            src = bases[int(rng.integers(len(bases)))]
            words = _edit(rng, src, vocab, float(rng.uniform(0.01, 0.12)))
        else:
            words = _topic_words(rng, vocab, int(rng.integers(100, 601)))
            bases.append(words)
        descs.append(_html(rng, words))

    titles = [
        " ".join(rng.choice(vocab[:300], size=int(rng.integers(2, 5)))).title()
        for _ in range(n_posts)
    ]
    companies = [f"{w.title()} Inc" for w in rng.choice(vocab[:800], size=n_posts)]
    lid = [rng.bytes(16).hex() for _ in range(n_posts)]
    states = []
    for s in rng.choice(_STATES, size=n_posts):
        r = rng.random()
        states.append(s + "," if r < 0.35 else s + " ," if r < 0.40 else str(s))
    zips = []
    for _ in range(n_posts):
        r = rng.random()
        zips.append(
            ("remote", "Remote", "REMOTE")[int(rng.integers(3))]
            if r < 0.05
            else f"{int(rng.integers(10000, 99999)):05d}"
        )
    cities = [
        ("new " if rng.random() < 0.3 else "") + w for w in rng.choice(vocab[:500], size=n_posts)
    ]
    dates = [f"2025-{int(m):02d}-{int(d):02d} 00:00:00" for m, d in zip(
        rng.integers(1, 13, n_posts), rng.integers(1, 29, n_posts))]

    def with_nulls(values: list[str], rate: float) -> list[str | None]:
        mask = _null_mask(rng, n_posts, rate)
        return [None if m else v for v, m in zip(values, mask)]

    def nlp_list(empty_share: float) -> list[str]:
        return [
            "[]" if rng.random() < empty_share
            else "['" + "', '".join(rng.choice(vocab[:200], size=3)) + "']"
            for _ in range(n_posts)
        ]

    table = pa.table({
        "jobTitle": titles,
        "companyName": with_nulls(companies, 0.0033),
        "lid": lid,
        "jobDescRaw": descs,
        "finalZipcode": with_nulls(zips, 0.0205),
        "finalState": with_nulls(states, 0.0142),
        "finalCity": with_nulls(cities, 0.0180),
        "companyBranchName": with_nulls(
            [f"{c} || {t}, {s}" for c, t, s in zip(companies, cities, states)], 0.0033
        ),
        "jobDescUrl": [f"https://jobs.example/{x}" for x in lid],
        "nlpBenefits": nlp_list(0.39),
        "nlpSkills": nlp_list(0.09),
        "nlpSoftSkills": nlp_list(0.24),
        "nlpDegreeLevel": nlp_list(0.41),
        "nlpEmployment": list(rng.choice(_EMPLOYMENT, size=n_posts, p=[.7, .1, .1, .04, .03, .02, .01])),
        "nlpSeniority": list(rng.choice(_SENIORITY, size=n_posts, p=[.4, .3, .15, .08, .04, .03])),
        "correctDate": with_nulls(dates, 0.00014),
        "scrapedLocation": [f"{c}, {s}" for c, s in zip(cities, states)],
    }, schema=pa.schema([(c, pa.string()) for c in (
        "jobTitle", "companyName", "lid", "jobDescRaw", "finalZipcode",
        "finalState", "finalCity", "companyBranchName", "jobDescUrl",
        "nlpBenefits", "nlpSkills", "nlpSoftSkills", "nlpDegreeLevel",
        "nlpEmployment", "nlpSeniority", "correctDate", "scrapedLocation")]))
    return _write(table, path)


def corpus_docs(seed: int, n_docs: int, path: str) -> tuple[str, dict[int, int]]:
    """Pretraining-corpus ``documents`` table (doc_id, text, lang,
    source, n_chars) and the planted near-duplicate groups.

    Input properties the curation pipeline depends on:
    - language mix: ~80% English, the rest German/French/Spanish;
    - stopword density drawn from 0-30%, so short documents straddle
      the 0.5 quality gate (long ones pass on length alone);
    - token length drawn from 20-300, the cost driver of MinHash and
      the n-gram verify;
    - ~8% exact copies (after tags and case) and planted near-duplicate
      groups of 2-4 English members of 60+ tokens, so every member
      passes the gates, with 0.5-2% of their words edited.

    Returns the path and ``{doc_id: group}`` for every planted
    near-duplicate member (group = the base document's id).
    """
    rng = np.random.default_rng([seed, 2])
    vocab = vocabulary(rng, 3000)
    texts: list[str] = []
    langs: list[str] = []
    groups: dict[int, int] = {}
    while len(texts) < n_docs:
        doc_id = len(texts)
        u = rng.random()
        if texts and u < 0.08:
            # exact copies are drawn from ungrouped documents only, so a
            # copy never replaces a planted member in the exact dedup
            j = int(rng.integers(len(texts)))
            if j not in groups:
                texts.append("<p>" + texts[j].upper() + "</p>")
                langs.append(langs[j])
                continue
        lang = "en" if rng.random() < 0.8 else str(rng.choice(["de", "fr", "es"]))
        n_tok = int(rng.integers(20, 301))
        density = float(rng.uniform(0.0, 0.30))
        words = _topic_words(rng, vocab, n_tok)
        is_sw = rng.random(n_tok) < density
        markers = _MARKERS[lang]
        words = [str(rng.choice(markers)) if s else w for w, s in zip(words, is_sw)]
        texts.append(" ".join(words) + ".")
        langs.append(lang)
        if u < 0.30 and lang == "en" and n_tok >= 60:
            for _ in range(int(rng.integers(1, 4))):
                if len(texts) >= n_docs:
                    break
                groups[doc_id] = doc_id
                groups[len(texts)] = doc_id
                copy = _edit(rng, words, vocab, float(rng.uniform(0.005, 0.02)))
                texts.append(" ".join(copy) + ".")
                langs.append(lang)
    order = rng.permutation(n_docs)  # planted copies are not adjacent ids
    new_id = {int(old): int(i) for i, old in enumerate(order)}
    table = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": [texts[int(o)] for o in order],
        "lang": [langs[int(o)] for o in order],
        "source": [("web", "books", "forum")[int(o) % 3] for o in order],
        "n_chars": pa.array([len(texts[int(o)]) for o in order], pa.int64()),
    })
    planted = {new_id[d]: new_id[g] for d, g in groups.items()}
    return _write(table, path), planted


def clustered_vectors(
    seed: int, n_rows: int, dim: int, n_clusters: int, spread: float, first_id: int,
) -> tuple[np.ndarray, np.ndarray]:
    """Unit vectors around ``n_clusters`` seeded unit centres."""
    rng = np.random.default_rng([seed, 3, first_id])
    centres = np.random.default_rng([seed, 4]).standard_normal((n_clusters, dim))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    x = centres[rng.integers(n_clusters, size=n_rows)]
    x = x + spread * rng.standard_normal((n_rows, dim)) / np.sqrt(dim)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return np.arange(first_id, first_id + n_rows, dtype=np.int64), x


def vectors_file(ids: np.ndarray, mat: np.ndarray, path: str) -> str:
    """(vec_id bigint, embedding array<double>) parquet."""
    emb = pa.FixedSizeListArray.from_arrays(pa.array(mat.ravel()), mat.shape[1])
    table = pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": emb.cast(pa.list_(pa.float64())),
    })
    return _write(table, path)
