"""Seeded input generators for the benchmark workloads.

Every generator takes a ``random.Random`` (or a seed) and returns plain
Python data, so the same seed gives the same documents, dictionaries,
refresh deltas and near-duplicate corpus. The program under test only
ever receives these generated inputs.
"""

from __future__ import annotations

import random

# The 30-word vocabulary of the reference's published document set
# (sf0.1 `documents.parquet`): documents are 10..100 words drawn
# uniformly from it, ~297 characters on average.
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()

# Accented words carried by the accented share of the mixed documents;
# they exercise the non-ASCII tokenizer path and the ascii-fold config.
ACCENTED = (
    "café crème naïve schön über straße niño señor façade déjà élan "
    "résumé garçon jalapeño müller zürich"
).split()

_SUFFIXES = ("s", "ing", "ed", "er")

ACCENTED_SHARE = 0.2  # share of mixed documents carrying accented words
N_FUZZY = 12  # fuzzy entries per mixed dictionary
MATCHING_SHARE = 0.05  # matching share of a mixed dictionary's exact phrases
REFRESH_SHARE = 0.01  # share of entries replaced per dictionary version
NEARDUP_VOCAB = 4_000  # distinct words of the near-duplicate corpus
NEARDUP_DOC_CLUSTER = 40  # largest document cluster (bucket_cap is 1000)
NEARDUP_VEC_CLUSTER = 20  # largest embedding cluster
EMBEDDING_DIM = 64
# Cluster sizes come from this fixed seed, not from the run's: every
# seed then gives the same cluster-size histogram, and so about the same
# number of candidate and verified pairs, and only the content varies.
CLUSTER_SIZE_SEED = 0


def sf_docs(rng: random.Random, n: int) -> list[str]:
    """Documents shaped like the reference's sf0.1 corpus."""
    return [
        " ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 100)))
        for _ in range(n)
    ]


def mixed_docs(rng: random.Random, n: int) -> list[str]:
    """sf0.1-shaped documents with inflected and capitalised words, so
    the stemmed and lowercased configs differ, and accented words in
    ``ACCENTED_SHARE`` of the documents."""
    out = []
    for _ in range(n):
        words = []
        for _ in range(rng.randint(10, 100)):
            w = rng.choice(VOCAB)
            r = rng.random()
            if r < 0.25:
                w += rng.choice(_SUFFIXES)
            elif r < 0.35:
                w = w.capitalize()
            words.append(w)
        if rng.random() < ACCENTED_SHARE:
            for _ in range(rng.randint(2, 6)):
                words.insert(rng.randrange(len(words) + 1), rng.choice(ACCENTED))
        out.append(" ".join(words))
    return out


def _city(rng: random.Random) -> str:
    """A phrase that matches no generated document (the reference's
    mostly-non-matching city-name dictionaries)."""
    return f"city{rng.randrange(10**6):06d} name{rng.randrange(10**4):04d}"


def exact_dictionary(rng: random.Random, n: int) -> list[dict]:
    """The bench-style dictionary: ~5% distinct vocabulary word pairs
    (matching work), the rest non-matching city-style names; all
    case-insensitive exact phrases."""
    n_match = n // 20
    pairs = rng.sample([(a, b) for a in VOCAB for b in VOCAB if a != b], n_match)
    out = [
        {"text": f"{a} {b}", "id": f"m{i}", "case-sensitive?": False}
        for i, (a, b) in enumerate(pairs)
    ]
    out += [
        {"text": _city(rng), "id": f"s{i}", "case-sensitive?": False}
        for i in range(n - n_match)
    ]
    rng.shuffle(out)
    return out


# the three analysis configs of the mixed dictionaries
_CONFIGS = (
    {"case-sensitive?": False},
    {"case-sensitive?": False, "stem?": True},
    {"case-sensitive?": False, "ascii-fold?": True},
)


def _mixed_entry(rng: random.Random, ident: str, matching: bool, shape: float) -> dict:
    conf = dict(rng.choice(_CONFIGS))
    if matching:
        pool = VOCAB + [a for a in ACCENTED if conf.get("ascii-fold?")]
        text = " ".join(rng.sample(pool, rng.randint(2, 3)))
    else:
        text = _city(rng)
    entry = {"text": text, "id": ident, **conf}
    if shape < 0.10:
        entry["slop"] = rng.randint(1, 3)
    elif shape < 0.14:
        entry["slop"] = rng.randint(1, 3)
        entry["in-order?"] = True
    return entry


def mixed_dictionary(rng: random.Random, n: int, n_general_matching: int) -> list[dict]:
    """A dictionary over three analysis configs (lowercased, stemmed,
    ascii-folded). ~86% exact phrases, ~10% sloppy, ~4% ordered; nearly
    all are non-matching so the candidate prefilter has work.
    ``n_general_matching`` sloppy/ordered entries use vocabulary words
    (they become verify candidates on most documents), ``MATCHING_SHARE``
    of the rest are matching exact phrases, and ``N_FUZZY`` fuzzy entries
    are verified on every document."""
    out = []
    for i in range(n_general_matching):
        e = _mixed_entry(rng, f"g{i}", True, rng.random() * 0.14)
        out.append(e)
    for i in range(N_FUZZY):
        a, b = rng.sample(VOCAB, 2)
        out.append({"text": f"{a}x {b}", "id": f"f{i}", "fuzzy?": True,
                    "case-sensitive?": False})
    rest = n - len(out)
    for i in range(rest):
        matching = rng.random() < MATCHING_SHARE
        shape = 0.5 if matching else rng.random()
        out.append(_mixed_entry(rng, f"x{i}", matching, shape))
    rng.shuffle(out)
    return out


def refresh_versions(rng: random.Random, base: list[dict], n_versions: int) -> list[list[dict]]:
    """Dictionary versions 0..n_versions-1: version v+1 is version v with
    ``REFRESH_SHARE`` of its entries replaced by new ones under new ids. About a
    tenth of the replacements are matching vocabulary phrases, so the
    annotations a document receives depend on the active version."""
    versions = [base]
    for v in range(1, n_versions):
        cur = list(versions[-1])
        for j in rng.sample(range(len(cur)), max(1, int(len(cur) * REFRESH_SHARE))):
            matching = rng.random() < 0.1
            cur[j] = _mixed_entry(rng, f"v{v}-{j}", matching, 0.5)
        versions.append(cur)
    return versions


def _cluster_sizes(n: int, cap: int) -> list[int]:
    """Heavy-tailed cluster sizes (Pareto, capped at ``cap``) summing to
    ``n``, the same for every run seed."""
    sizes_rng = random.Random(CLUSTER_SIZE_SEED)
    sizes: list[int] = []
    while sum(sizes) < n:
        sizes.append(min(cap, int(sizes_rng.paretovariate(1.2)), n - sum(sizes)))
    return sizes


def neardup_corpus(rng: random.Random, n_docs: int) -> list[str]:
    """Documents in near-duplicate clusters with heavy-tailed sizes
    (capped at ``NEARDUP_DOC_CLUSTER`` — far below the LSH
    ``bucket_cap``). Members copy the cluster's base document with 0..4
    word substitutions, so some pairs verify at Jaccard >= 0.8 and some
    fall short."""
    words = [f"w{i:04d}" for i in range(NEARDUP_VOCAB)]
    out: list[str] = []
    for size in _cluster_sizes(n_docs, NEARDUP_DOC_CLUSTER):
        base = [rng.choice(words) for _ in range(rng.randint(20, 60))]
        for _ in range(size):
            doc = list(base)
            for _ in range(rng.randint(0, 4)):
                doc[rng.randrange(len(doc))] = rng.choice(words)
            out.append(" ".join(doc))
    rng.shuffle(out)
    return out


def neardup_embeddings(rng: random.Random, n: int) -> list[list[float]]:
    """Unit-scale embeddings in heavy-tailed clusters: members are a
    shared centre plus Gaussian noise."""
    out: list[list[float]] = []
    for size in _cluster_sizes(n, NEARDUP_VEC_CLUSTER):
        centre = [rng.gauss(0.0, 1.0) for _ in range(EMBEDDING_DIM)]
        for _ in range(size):
            out.append([c + rng.gauss(0.0, 0.6) for c in centre])
    rng.shuffle(out)
    return out
