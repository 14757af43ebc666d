"""Dev-only harness: verify pure-Python Snowball stemmers against the
real Snowball implementations compiled into PostgreSQL's
dict_snowball.so (PostgreSQL 15 ships Snowball 2.x — the same
generated sources Lucene 8.x runs for the reference,
/root/reference/deps.edn lucene 8.9.0).

Not used at runtime and not imported by the package: it requires a
local throwaway postgres (initdb to /tmp/pgdata, socket /tmp/pgsock)
and is the tool that generated the oracle-pinned tests/golden/stem_*.tsv
files (probe words from tools/gen_vocab.py).

Usage:
    python tools/snowball_oracle.py diff <lang> <wordfile>
    python tools/snowball_oracle.py golden <lang> <wordfile> <out.tsv>
"""

from __future__ import annotations

import subprocess
import sys
import tempfile
from collections import Counter

# postgres dictionary name per beagle_spark language name
PG_DICT = {
    "arabic": "arabic_stem", "armenian": "armenian_stem",
    "basque": "basque_stem", "catalan": "catalan_stem",
    "danish": "danish_stem", "dutch": "dutch_stem",
    "english": "english_stem", "finnish": "finnish_stem",
    "french": "french_stem", "german": "german_stem",
    "hungarian": "hungarian_stem", "irish": "irish_stem",
    "italian": "italian_stem", "lithuanian": "lithuanian_stem",
    "norwegian": "norwegian_stem", "portuguese": "portuguese_stem",
    "romanian": "romanian_stem", "russian": "russian_stem",
    "spanish": "spanish_stem", "swedish": "swedish_stem",
    "turkish": "turkish_stem",
}


def pg_stem_bulk(lang: str, words: list[str]) -> list[str]:
    """Stem `words` through postgres ts_lexize, preserving order.

    Uses a no-stopword scratch dictionary so built-in stopword lists
    (english, french, ...) can't hide a word from the comparison.
    """
    dict_lang = PG_DICT[lang].replace("_stem", "")
    with tempfile.NamedTemporaryFile(
        "w", suffix=".txt", dir="/tmp", delete=False, encoding="utf-8"
    ) as f:
        for w in words:
            f.write(w + "\n")
        wordfile = f.name
    sql = f"""
SET client_encoding TO 'UTF8';
DROP TEXT SEARCH DICTIONARY IF EXISTS _oracle_ns;
CREATE TEXT SEARCH DICTIONARY _oracle_ns
    (TEMPLATE = snowball, Language = {dict_lang});
CREATE TEMP TABLE _w(id serial, x text);
\\copy _w(x) FROM '{wordfile}'
\\copy (SELECT coalesce((ts_lexize('_oracle_ns', x))[1], x) FROM _w ORDER BY id) TO '{wordfile}.out'
"""
    import os

    os.chmod(wordfile, 0o644)
    with open(wordfile + ".sql", "w", encoding="utf-8") as f:
        f.write(sql)
    os.chmod(wordfile + ".sql", 0o644)
    res = subprocess.run(
        ["su", "postgres", "-c",
         f"cd /tmp && psql -h /tmp/pgsock -q -v ON_ERROR_STOP=1 "
         f"-f {wordfile}.sql"],
        text=True, capture_output=True,
    )
    if res.returncode != 0:
        raise RuntimeError(res.stderr)
    with open(wordfile + ".out", encoding="utf-8") as f:
        out = [line.rstrip("\n") for line in f]
    assert len(out) == len(words), (len(out), len(words))
    return out


def py_stem_bulk(lang: str, words: list[str]) -> list[str]:
    sys.path.insert(0, "/root/repo")
    from beagle_spark.analysis.stem import get_stemmer

    fn = get_stemmer(lang)
    return [fn(w) for w in words]


def load_words(path: str) -> list[str]:
    with open(path, encoding="utf-8") as f:
        seen, out = set(), []
        for line in f:
            w = line.strip().lower()
            if w and w not in seen:
                seen.add(w)
                out.append(w)
    return out


def cmd_diff(lang: str, wordfile: str, limit: int = 40) -> int:
    words = load_words(wordfile)
    oracle = pg_stem_bulk(lang, words)
    mine = py_stem_bulk(lang, words)
    bad = [(w, o, m) for w, o, m in zip(words, oracle, mine) if o != m]
    print(f"{lang}: {len(bad)}/{len(words)} mismatches "
          f"({100 * (1 - len(bad) / max(1, len(words))):.2f}% exact)")
    by_end = Counter(w[-3:] for w, _, _ in bad)
    for (w, o, m) in bad[:limit]:
        print(f"  {w!r}: oracle={o!r} mine={m!r}")
    if bad:
        print("top mismatching endings:", by_end.most_common(15))
    return len(bad)


def cmd_golden(lang: str, wordfile: str, out_tsv: str) -> None:
    words = load_words(wordfile)
    oracle = pg_stem_bulk(lang, words)
    with open(out_tsv, "w", encoding="utf-8") as f:
        f.write(f"# {lang}: word<TAB>stem pairs from PostgreSQL 15 "
                "dict_snowball.so (Snowball 2.x)\n")
        for w, o in zip(words, oracle):
            f.write(f"{w}\t{o}\n")
    print(f"wrote {len(words)} pairs to {out_tsv}")


if __name__ == "__main__":
    cmd = sys.argv[1]
    if cmd == "diff":
        sys.exit(1 if cmd_diff(*sys.argv[2:]) else 0)
    elif cmd == "golden":
        cmd_golden(*sys.argv[2:])
    else:
        raise SystemExit(f"unknown command {cmd!r}")
