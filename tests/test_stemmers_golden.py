"""Golden-pinned stemmer parity: (word, stem) pairs generated by the
real Snowball 2.x implementations (PostgreSQL 15's dict_snowball.so —
the same generated sources as Lucene 8.x, which the reference runs:
/root/reference/deps.edn lucene 8.9.0) via tools/snowball_oracle.py.

Each language's full probe vocabulary (>100k generated + real words)
matched the oracle 100% at generation time; these files pin a 1200-word
sample so regressions are caught offline. The five languages the oracle
does not cover (porter, german2, kp, estonian, lovins) are pinned to the
in-repo implementation instead; each file's header names its source."""

import pathlib

import pytest

from beagle_spark.analysis.stem import get_stemmer

GOLDEN = pathlib.Path(__file__).parent / "golden"
LANGS = sorted(p.stem.replace("stem_", "") for p in GOLDEN.glob("stem_*.tsv"))


@pytest.mark.parametrize("lang", LANGS)
def test_golden_stem_parity(lang):
    fn = get_stemmer(lang)
    bad = []
    for line in (GOLDEN / f"stem_{lang}.tsv").read_text(encoding="utf-8").splitlines():
        if not line or line.startswith("#"):
            continue
        word, expect = line.split("\t")
        got = fn(word)
        if got != expect:
            bad.append((word, expect, got))
    assert not bad, f"{lang}: {len(bad)} mismatches, first 10: {bad[:10]}"
