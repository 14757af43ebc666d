"""`match_batch` against an independent per-row oracle.

The oracle is the per-document matcher this package had before the
batch kernel: each row is analyzed on its own (the tokenizer's full
pattern, then lowercase, fold and stem per token), exact phrases are
found by the dict-of-dicts window probe copied below, general (sloppy,
ordered, fuzzy) entries by the program's counter prefilter and
`find_matches`, and merging by the annotation merger copied below. Its
rows, built with `pa.array`, must equal the batch column exactly
(`pa.Array.equals`), and `match_text` must equal them row by row.
"""

import random

import pyarrow as pa
import pytest

from beagle_spark.analysis import AnalysisConfig, Tokens, ascii_fold, lower, merge_config
from beagle_spark.analysis.stem import get_stemmer
from beagle_spark.analysis.tokenizers import (_CLASSIC_TYPED, _PATTERNS, _resolve,
                                              tokenize_classic_typed)
from beagle_spark.matcher import compile_dictionary, match_batch, match_text
from beagle_spark.matcher.core import build_token_index, find_matches
from beagle_spark.schema import ANNOTATION_ARROW_TYPE, DictionaryEntry


# ---------------------------------------------------------------------------
# The oracle
# ---------------------------------------------------------------------------
def _classic_filtered_tokenize(text: str) -> Tokens:
    """ClassicFilter over classic-typed tokens (Lucene ClassicFilter):
    APOSTROPHE tokens lose a trailing 's / 'S; ACRONYM tokens lose all
    dots. Offsets keep the ORIGINAL token span (the filter shrinks the
    term text only), so highlights cover e.g. the whole "John's"."""
    out = Tokens([], [], [])
    for t, typ in tokenize_classic_typed(text):
        s = t.text
        if typ == "APOSTROPHE" and len(s) >= 2 and s[-2] == "'" and s[-1] in "sS":
            s = s[:-2]
        elif typ == "ACRONYM":
            s = s.replace(".", "")
        out.texts.append(s)
        out.begins.append(t.begin)
        out.ends.append(t.end)
    return out


def oracle_analyze(text: str, conf: AnalysisConfig) -> list[tuple[str, int, int]]:
    if (conf.tokenizer == "classic" and not conf.stem and conf.case_sensitive
            and not conf.ascii_fold):
        toks = _classic_filtered_tokenize(text)
        return list(zip(toks.texts, toks.begins, toks.ends))
    name = _resolve(conf.tokenizer)
    pattern = _CLASSIC_TYPED if name == "classic" else _PATTERNS[name]
    stem = get_stemmer(conf.stemmer) if conf.stem else None
    out = []
    for m in pattern.finditer(text):
        s = m.group()
        if not conf.case_sensitive:
            s = lower(s)
        if conf.ascii_fold:
            s = ascii_fold(s)
        if stem is not None:
            s = stem(s)
        if s:
            out.append((s, m.start(), m.end()))
    return out


def exact_index(phrases):
    """The dict-of-dicts phrase table: {1: {term -> emits}}; {n > 1:
    {first term -> {rest-terms tuple -> emits}}}."""
    exact: dict[int, dict] = {}
    for terms, emission in phrases:
        exact.setdefault(len(terms), {}).setdefault(tuple(terms), []).append(emission)
    index = {}
    for n, table in exact.items():
        if n == 1:
            index[1] = {k[0]: tuple(v) for k, v in table.items()}
            continue
        nested: dict = {}
        for terms, emits in table.items():
            nested.setdefault(terms[0], {})[terms[1:]] = tuple(emits)
        index[n] = nested
    return index


def probe_exact(index, texts):
    """The window probe: per phrase length, per position, per emission."""
    out = []
    n_tok = len(texts)
    for n in sorted(index):
        table = index[n]
        if n == 1:
            for pos, txt in enumerate(texts):
                for e in table.get(txt, ()):
                    out.append((e, pos, pos))
        elif n <= n_tok:
            for pos in range(n_tok - n + 1):
                sub = table.get(texts[pos])
                if sub is None:
                    continue
                for e in sub.get(tuple(texts[pos + 1 : pos + n]), ()):
                    out.append((e, pos, pos + n - 1))
    return out


def oracle_merge(annotations):
    by_type: dict = {}
    for a in annotations:
        by_type.setdefault(a["type"], []).append(a)
    out = []
    for anns in by_type.values():
        anns = sorted(anns, key=lambda a: a["begin_offset"])
        parent = anns[0]
        result = []
        for child in anns[1:]:
            if parent["begin_offset"] <= child["begin_offset"] <= parent["end_offset"]:
                nested = (child["begin_offset"] >= parent["begin_offset"]
                          and child["end_offset"] <= parent["end_offset"])
                nested_back = (parent["begin_offset"] >= child["begin_offset"]
                               and parent["end_offset"] <= child["end_offset"])
                if not (nested and not nested_back):
                    parent = child
            else:
                result.append(parent)
                parent = child
        result.append(parent)
        out.extend(result)
    return out


def oracle_rows(texts, dictionary, cd, merge):
    """Per-row annotations: exact phrases from ``dictionary`` entries
    analyzed by the oracle (an entry is exact when it has no slop and
    is not fuzzy), general queries from the compiled programs."""
    phrases: dict = {}
    for entry in dictionary:
        conf = merge_config(vars(DictionaryEntry.from_dict(entry)))
        terms = [t for t, _, _ in oracle_analyze(entry["text"], conf)]
        if terms and not entry.get("slop") and not entry.get("fuzzy?"):
            emission = (entry["id"], entry.get("type") or "PHRASE", entry.get("meta") or {})
            phrases.setdefault(conf, []).append((terms, emission))
    indexes = {conf: exact_index(p) for conf, p in phrases.items()}
    rows = []
    for text in texts:
        out = []
        if text is not None and text.strip():
            for prog in cd.fields:
                toks = oracle_analyze(text, prog.conf)
                if not toks:
                    continue
                words = [t for t, _, _ in toks]
                hits = [(e, toks[p0][1], toks[p1][2])
                        for e, p0, p1 in probe_exact(indexes.get(prog.conf, {}), words)]
                tokens = Tokens(words, [b for _, b, _ in toks], [e for _, _, e in toks])
                index = build_token_index(tokens)
                for qi in prog.candidates(index.keys()):
                    hits += [(prog.emits[qi], b, e)
                             for b, e in find_matches(tokens, prog.queries[qi], index)]
                out += [{"text": text[b:e], "type": t, "dict_entry_id": i, "meta": m,
                         "begin_offset": b, "end_offset": e} for (i, t, m), b, e in hits]
            if merge:
                out = oracle_merge(out)
        rows.append(out)
    return rows


def arrow_rows(rows):
    return pa.array([[{**a, "meta": list(a["meta"].items())} for a in r] for r in rows],
                    type=ANNOTATION_ARROW_TYPE)


# ---------------------------------------------------------------------------
# Random batches and dictionaries
# ---------------------------------------------------------------------------
WORDS = ["a", "A", "b", "ab", "Ab", "run", "Running", "runs", "U.S.", "U.S.A", "x'y",
         "3.14", "1,000", "café", "Café", "café", "straße", "naïve", "日本", "テキスト",
         "İstanbul", "ΣΑΣ", "#tag", "c++", "a@b", "foo@bar.com", "AT&T", "don’t", "e.g."]
SEPS = [" ", " ", " ", "  ", "\t", "\n", ", ", ". ", "\x0b", "\x1c", "-", "'", ".", "\xa0"]
TOKENIZERS = ["standard", "classic", "letter", "whitespace", "unicode-whitespace",
              "strict", "keyword"]


def random_text(rng, phrases):
    """Words and separators, with some dictionary texts spliced in."""
    words = [rng.choice(phrases) if rng.random() < 0.3 else rng.choice(WORDS)
             for _ in range(rng.randint(0, 14))]
    text = "".join(w + rng.choice(SEPS) for w in words)
    return text[: rng.randint(0, len(text))] if rng.random() < 0.2 else text


def random_batch(rng, dictionary):
    phrases = [e["text"] for e in dictionary]
    texts = [random_text(rng, phrases) for _ in range(rng.randint(1, 40))]
    texts += [None, "", "", "   ", "\x0b", "\x1c", " \t\n", "　", "U.S.", "A b", "x.", "1.",
              "ab", "", "cd"]
    rng.shuffle(texts)
    return texts


def random_dictionary(rng, confs):
    out = []
    stems = [rng.choice(WORDS) for _ in range(4)]
    for i in range(rng.randint(5, 40)):
        k = rng.randint(1, 5)
        head = stems[: rng.randint(0, min(k, len(stems)))]  # shared prefixes
        text = " ".join(head + [rng.choice(WORDS) for _ in range(k - len(head))])
        entry = {"text": text, "id": f"e{i}", **rng.choice(confs)}
        shape = rng.random()
        if shape < 0.15:
            entry["slop"] = rng.randint(1, 3)
        elif shape < 0.22:
            entry["slop"] = rng.randint(1, 3)
            entry["in-order?"] = True
        elif shape < 0.27:
            entry["fuzzy?"] = True
        if rng.random() < 0.2:
            entry["type"] = rng.choice(["T1", "T2"])
        if rng.random() < 0.2:
            entry["meta"] = {"k": str(i)}
        out.append(entry)
        if rng.random() < 0.15:  # the same phrase under another id
            out.append({**entry, "id": f"d{i}"})
    return out


def all_confs():
    return [{"tokenizer": t, "case-sensitive?": cs, "ascii-fold?": fold, "stem?": stem}
            for t in TOKENIZERS for cs in (True, False) for fold in (False, True)
            for stem in (False, True)]


@pytest.mark.parametrize("seed", range(12))
def test_match_batch_equals_per_row_oracle(seed):
    rng = random.Random(seed)
    confs = all_confs()
    rng.shuffle(confs)
    for part in range(0, len(confs), 8):  # every tokenizer x {case, fold, stem}
        dictionary = random_dictionary(rng, confs[part : part + 8])
        texts = random_batch(rng, dictionary)
        for merge in (False, True):
            cd = compile_dictionary(dictionary, merge_annotations=merge)
            want = oracle_rows(texts, dictionary, cd, merge)
            assert match_batch(pa.array(texts, type=pa.string()), cd).equals(arrow_rows(want))
            for text, rows in zip(texts, want):
                assert match_text(text, cd) == rows, text
            # a slice: the batch starts at a non-zero offset
            lo = rng.randint(0, len(texts) - 1)
            sliced = pa.array(texts, type=pa.string())[lo:]
            assert sliced.offset == lo
            assert match_batch(sliced, cd).equals(arrow_rows(want[lo:]))
            # match_text's per-call merge flag overrides the compiled one
            flipped = oracle_rows(texts, dictionary, cd, not merge)
            for text, rows in zip(texts, flipped):
                assert match_text(text, cd, merge=not merge) == rows, text


def test_joiners_and_runs_stop_at_row_ends():
    """A row ending `U.S.` followed by a row starting `A`, and a row
    ending in a letter followed by one starting with a letter: no token
    or joiner crosses the row boundary."""
    dictionary = [{"text": "U.S.A", "id": "usa"}, {"text": "a", "id": "a"},
                  {"text": "xy", "id": "xy"}, {"text": "3.1", "id": "pi"},
                  {"text": "s a", "id": "sa"}]
    texts = ["in the U.S.", "A day", "x", "y", "3.", "1", "3.1", "it's", "s", "a",
             "x", "", None, "y", "a"]
    cd = compile_dictionary(dictionary)
    got = match_batch(pa.array(texts), cd).to_pylist()
    assert [[(a["dict_entry_id"], a["text"]) for a in r] for r in got] == [
        [], [], [], [], [], [], [("pi", "3.1")], [], [], [("a", "a")],
        [], [], [], [], [("a", "a")]]
    assert got == [[{**a, "meta": []} for a in match_text(t, cd)] for t in texts]


def test_large_string_input_and_chunked():
    cd = compile_dictionary([{"text": "hash join", "id": "h", "case-sensitive?": False}])
    texts = ["a Hash join", None, "hash", "join hash join"]
    want = match_batch(pa.array(texts), cd)
    assert match_batch(pa.array(texts, type=pa.large_string()), cd).equals(want)
    assert match_batch(pa.chunked_array([texts[:2], texts[2:]]), cd).equals(want)
    assert [len(r) for r in want.to_pylist()] == [1, 0, 0, 1]


def test_long_non_ascii_rows_and_lone_surrogates():
    """Hits in non-ASCII rows take their text bytes through the UTF-8
    char starts of the batch (one pass, however many hits); a Python
    string with a lone surrogate still matches one row at a time."""
    cd = compile_dictionary([{"text": "table scan", "id": "t", "case-sensitive?": False}])
    row = "naïve Straße 日本 \U0001F469 Table scan, " * 400
    got = match_batch(pa.array([row, "x", row[:50]]), cd).to_pylist()
    assert [len(r) for r in got] == [400, 0, 1]
    assert all(a["text"] == row[a["begin_offset"] : a["end_offset"]] == "Table scan"
               for a in got[0])
    assert got == [[{**a, "meta": []} for a in match_text(t, cd)] for t in (row, "x", row[:50])]
    text = "a \ud800 table scan"
    assert [(a["begin_offset"], a["end_offset"]) for a in match_text(text, cd)] == [(4, 14)]
