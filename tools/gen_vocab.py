"""Dev-only: generate a probe vocabulary for one stemmer language.

Used with tools/snowball_oracle.py (diff against the Snowball programs
compiled into PostgreSQL's dict_snowball.so) and for before/after
diffs of the in-repo stemmers. Covers all 26 language names.

Probe words are stem x suffix combinations plus seeded random strings:

- suffixes: every string held in the module-level tables of the
  language's in-repo implementation, plus, when a dump from
  tools/extract_among.py is given, the language's among tables from
  dict_snowball.so; each suffix also appears with its first letter
  dropped and with a vowel added on either side;
- stems: the PostgreSQL stopword list for the language (real inflected
  words, when installed) topped up with seeded random cores.

Randomness is seeded, so the output is reproducible for a given tree.

Usage:
    python tools/extract_among.py > tables.txt      # optional
    python tools/gen_vocab.py <lang> <out.txt> [tables.txt]
"""

from __future__ import annotations

import ast
import importlib
import random
import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

# among-table ids (UTF-8 variants) in an extract_among.py dump
TABLE_IDS = {
    "danish": range(147, 150), "dutch": range(150, 156),
    "english": range(156, 166), "finnish": range(166, 176),
    "french": range(176, 183), "german": range(183, 187),
    "hungarian": range(308, 317), "italian": range(326, 334),
    "lithuanian": range(334, 338), "norwegian": range(342, 345),
    "portuguese": range(351, 360), "russian": range(365, 390),
    "spanish": range(394, 404), "swedish": range(404, 407),
    "turkish": range(430, 447),
}
TABLE_IDS.update(porter=TABLE_IDS["english"], lovins=TABLE_IDS["english"],
                 german2=TABLE_IDS["german"], kp=TABLE_IDS["dutch"])

ALPHABET = {
    "arabic": "ابتثجحخدذرزسشصضطظعغفقكلمنهويةىأإآؤئءـًٌٍَُِّْ",
    "armenian": "աբգդեզէըթժիլխծկհձղճմյնշոչպջռսվտրցւփքօֆ",
    "basque": "abdefghijklmnoprstuxzñ",
    "catalan": "abcdefghijlmnopqrstuvxyzàèéíïòóúüç·'-",
    "danish": "abcdefghijklmnopqrstuvwxyzæøå",
    "dutch": "abcdefghijklmnopqrstuvwxyzëïèéäöü",
    "english": "abcdefghijklmnopqrstuvwxyz'",
    "estonian": "abdefghijklmnoprstuvõäöüšž",
    "finnish": "abcdefghijklmnopqrstuvwxyzäö",
    "french": "abcdefghijklmnopqrstuvwxyzàâçèéêëîïôùûü",
    "german": "abcdefghijklmnopqrstuvwxyzäöüß",
    "hungarian": "abcdefghijklmnopqrstuvwxyzáéíóöúüőű",
    "irish": "abcdefghilmnoprstuáéíóú'-",
    "italian": "abcdefghijklmnopqrstuvwxyzàèéìòùáíóú",
    "lithuanian": "abcdefghijklmnoprstuvyzążčęėįšūųž",
    "norwegian": "abcdefghijklmnopqrstuvwxyzæøå",
    "portuguese": "abcdefghijklmnopqrstuvwxyzáâãàçéêíóôõú",
    "romanian": "abcdefghijlmnoprstuvzâîășțşţ",
    "russian": "абвгдежзийклмнопрстуфхцчшщъыьэюяё",
    "spanish": "abcdefghijklmnopqrstuvwxyzáéíñóúü",
    "swedish": "abcdefghijklmnopqrstuvwxyzäåö",
    "turkish": "abcçdefgğhıijklmnoöprsştuüvyz",
}
ALPHABET.update(porter=ALPHABET["english"], lovins=ALPHABET["english"],
                german2=ALPHABET["german"], kp=ALPHABET["dutch"])

STOPWORDS = "/usr/share/postgresql/15/tsearch_data/{}.stop"


def _strings(obj, depth: int = 0):
    """Every str inside a (nested) table value."""
    if isinstance(obj, str):
        yield obj
    elif depth < 4 and isinstance(obj, (tuple, list, set, frozenset)):
        for x in obj:
            yield from _strings(x, depth + 1)
    elif depth < 4 and isinstance(obj, dict):
        for k, v in obj.items():
            yield from _strings(k, depth + 1)
            yield from _strings(v, depth + 1)


def repo_suffixes(lang: str) -> set[str]:
    """Strings from the module-level tables of the in-repo stemmer."""
    from beagle_spark.analysis import stem

    fn = stem.get_stemmer(lang)
    mod = importlib.import_module(fn.__module__)
    mods = {mod}
    if fn.__module__ != stem.__name__:
        mods.add(importlib.import_module("beagle_spark.analysis.snowball_tables"))
    alpha = set(ALPHABET[lang])
    out: set[str] = set()
    for m in mods:
        for name, val in vars(m).items():
            if name.startswith("__") or callable(val):
                continue
            out.update(s for s in _strings(val)
                       if 0 < len(s) <= 12 and set(s.lower()) <= alpha)
    return {s.lower() for s in out}


def dump_suffixes(lang: str, dump: str) -> set[str]:
    ids = set(TABLE_IDS.get(lang, ()))
    out: set[str] = set()
    cur = None
    for line in open(dump, encoding="utf-8"):
        m = re.match(r"=== t(\d+) ", line)
        if m:
            cur = int(m.group(1))
            continue
        if cur in ids:
            m = re.match(r"  (.*)\t(-?\d+)\t(-?\d+)\t(\d)$", line.rstrip("\n"))
            if m:
                out.add(ast.literal_eval(m.group(1)))
    return out


def gen(lang: str, dump: str | None = None) -> list[str]:
    rng = random.Random(1234)
    alpha = ALPHABET[lang]
    vowels = [c for c in alpha if c in "aeiouyàáâãäåæèéêëìíîïòóôõöøùúûüőűąęėįųūıõ"
              "аеиоуыэюяёաեէըիոօւاوي"] or list(alpha[:5])
    sufs = repo_suffixes(lang)
    if dump:
        sufs |= dump_suffixes(lang, dump)
    pool = set(sufs)
    for s in sufs:
        if len(s) > 1:
            pool.add(s[1:])
        for v in vowels[:5]:
            pool.add(s + v)
            pool.add(v + s)
    stems: set[str] = set()
    vocab: set[str] = set()
    try:
        with open(STOPWORDS.format(lang), encoding="utf-8") as f:
            for w in f:
                if w.strip():
                    stems.add(w.strip())
    except OSError:
        pass
    vocab |= stems
    stems = set(sorted(stems)[:40])
    while len(stems) < 60:
        stems.add("".join(rng.choice(alpha) for _ in range(rng.randint(2, 7))))
    for st in sorted(stems):
        for suf in pool:
            vocab.add(st + suf)
    vocab |= pool
    for _ in range(6000):
        vocab.add("".join(rng.choice(alpha) for _ in range(rng.randint(2, 14))))
    return sorted(w for w in vocab if w)


if __name__ == "__main__":
    lang, out = sys.argv[1], sys.argv[2]
    words = gen(lang, sys.argv[3] if len(sys.argv) > 3 else None)
    with open(out, "w", encoding="utf-8") as f:
        f.write("\n".join(words) + "\n")
    print(f"{lang}: {len(words)} words -> {out}")
