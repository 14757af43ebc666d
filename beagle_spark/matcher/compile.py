"""Dictionary -> compiled, broadcast-able match program.

Replaces the reference's Monitor setup + MonitorQuery compilation
(reference: src/beagle/monitor.clj:27-71, src/beagle/phrases.clj:125-215).

Driver-side: validate/normalize entries, expand synonyms, analyze each
entry's text under its merged config, choose the query shape
(exact/sloppy vs ordered-span vs fuzzy), and build a presearcher-style
inverted index term -> query ids per analysis config (the Lucene Monitor
candidate-pruning trick, SURVEY.md O1). The resulting CompiledDictionary
is a plain picklable object, broadcast once to executors.

Matching a document then costs:
  tokenize once per distinct config (O2)
  + one trie walk for the exact phrases
  + posting-list counter sweep over distinct tokens (candidate pruning)
  + full positional verification only for candidate queries.
The query-string annotator (`lucene_query`) compiles its leaves to the
same programs, with its regexps and ranges as token tests.
"""

from __future__ import annotations

import logging
import uuid
from collections import Counter
from dataclasses import dataclass, field, replace
from itertools import chain, repeat
from operator import attrgetter

import numpy as np
import pyarrow as pa

from ..analysis import (DEFAULT_CONF, AnalysisConfig, Scan, TextBatch, Tokens, analyze_batch,
                        merge_config)
from ..kernel import column, list_column, string_array
from ..schema import ANNOTATION_ARROW_TYPE, DictionaryEntry
from .core import CompiledQuery, build_token_index, find_matches, normalize_slop

logger = logging.getLogger(__name__)


@dataclass
class FieldProgram:
    """All queries sharing one analysis config (== one Lucene field,
    monitor.clj:48-59), with two complementary pruning structures and
    a list of token tests:

    - a prefix trie over term ids of the slop-0 non-fuzzy phrase
      queries (the overwhelming majority of real dictionaries).
      ``trie_keys[0]`` maps a term id to its root node (-1 if no phrase
      starts with it); level l > 0 is one sorted int64 key array, key =
      parent node x (n_terms + 1) + term id, ending with a sentinel key
      that matches nothing, and a node is its key's index in its level.
      ``trie_emit[l]`` holds the emissions of the phrases that end at
      level l: None if none do, else the node's one emission id (-1 for
      none) and, when some node has several, their compressed-row
      offsets and ids. Matching walks the trie level by level with
      `np.searchsorted` over a whole batch's token positions (`walk`) —
      O(tokens x trie depth x log keys); a position whose token starts
      no phrase drops out at level 0. This subsumes Lucene's
      presearcher for exact phrases (stronger: zero false candidates).
    - postings/required counter prefilter for the general queries
      (slop/ordered), Lucene-Monitor-style; fuzzy queries bypass it
      (`always`) since exact term presence can't prune them.
    - ``tests``: (token predicate, emission) pairs, the query-string
      annotator's regexp and range leaves (phrase dictionaries have
      none). A test is checked once per distinct token of a batch
      (`token_hits`).
    """

    conf: AnalysisConfig
    queries: list[CompiledQuery] = field(default_factory=list)
    # emits[i]: resolved (entry_id, type, meta) of the kept queries[i]
    emits: list = field(default_factory=list)
    # exact_emits[e]: resolved (entry_id, type, meta) of exact phrase e
    exact_emits: list = field(default_factory=list)
    term_ids: dict = field(default_factory=dict)  # exact-phrase term -> id
    trie_keys: list = field(default_factory=list)
    trie_emit: list = field(default_factory=list)
    general: list = field(default_factory=list)  # query idxs needing verify
    postings: dict = field(default_factory=dict)
    required: list = field(default_factory=list)
    always: list = field(default_factory=list)
    tests: list = field(default_factory=list)
    # global id of this program's first emission: exact phrases first,
    # then the general queries, then the tests (set by `CompiledDictionary`)
    eid_base: int = field(default=0, init=False)

    @property
    def n_exact(self) -> int:
        return len(self.exact_emits)

    def finalize(self, type_name: str = "PHRASE"):
        """Split queries into the exact-phrase trie and the general
        verification list.

        Exact-phrase queries (slop 0, non-fuzzy, non-ordered — the bulk
        of real dictionaries) are compiled DOWN to emission tuples
        (resolved_entry_id, resolved_type, meta) reached through the
        trie, and their CompiledQuery objects are dropped entirely: at
        80k entries this shrinks the per-worker structure several-fold,
        which matters because many worker processes share the CPU cache
        (broadcast size and probe locality, not matching arithmetic, are
        the throughput limiters at scale). Synonym re-attribution and
        default-type resolution (phrases.clj:217-226,269) happen here,
        once, instead of per match: for the kept general queries too,
        in `emits`."""
        phrases: list[tuple] = []
        keep: list[CompiledQuery] = []
        for q in self.queries:
            if not q.fuzzy and q.slop == 0 and not q.ordered:
                phrases.append(q.terms)
                self.exact_emits.append(_emission(q, type_name))
                continue
            keep.append(q)
        self.queries = keep
        self.emits = [_emission(q, type_name) for q in keep]
        self._build_trie(phrases)

        self.required = [0] * len(keep)
        post: dict[str, list[int]] = {}
        for i, q in enumerate(keep):
            if q.fuzzy:
                self.always.append(i)
                continue
            self.general.append(i)
            distinct = set(q.terms)
            self.required[i] = len(distinct)
            for t in distinct:
                post.setdefault(t, []).append(i)
        self.postings = {t: tuple(v) for t, v in post.items()}

    def _build_trie(self, phrases: list[tuple]) -> None:
        """The level arrays of the trie over ``phrases`` (exact emission
        e is phrases[e]); a node's emissions keep query order. Terms are
        compared as whole strings, so a term may hold any character."""
        ids = self.term_ids
        seqs = [[ids.setdefault(t, len(ids)) for t in terms] for terms in phrases]
        width = len(ids) + 1  # term ids and the no-term id len(ids)
        lengths = np.array([len(q) for q in seqs], dtype=np.int64)
        depth = int(lengths.max(initial=0))
        grid = np.zeros((len(seqs), depth), dtype=np.int64)  # phrase x level -> term id
        grid[np.arange(depth) < lengths[:, None]] = list(chain.from_iterable(seqs))
        node = np.zeros(len(seqs), dtype=np.int64)  # each phrase's node at the level built
        for level in range(depth):
            live = np.flatnonzero(lengths > level)
            uniq, node[live] = np.unique(node[live] * width + grid[live, level],
                                         return_inverse=True)
            ending = live[lengths[live] == level + 1]  # in query order
            at = node[ending]
            count = np.bincount(at, minlength=len(uniq))
            off = np.zeros(len(uniq) + 1, dtype=np.int64)
            np.cumsum(count, out=off[1:])
            emit_ids = ending[np.argsort(at, kind="stable")]
            one = np.full(len(uniq), -1, dtype=np.int64)
            one[count == 1] = emit_ids[off[:-1][count == 1]]
            if level == 0:  # the roots by term id
                root = np.full(width, -1, dtype=np.int64)
                root[uniq] = np.arange(len(uniq))
                self.trie_keys.append(root)
            else:
                self.trie_keys.append(np.append(uniq, np.iinfo(np.int64).max))
            # per level: None when no phrase ends at it, else (the one
            # emission id per node or -1, and the offsets and ids when
            # some node has several)
            self.trie_emit.append(
                None if not len(ending) else (one, None) if count.max() == 1
                else (one, (off, emit_ids)))

    def walk(self, tid: np.ndarray, row: np.ndarray) -> tuple:
        """Exact-phrase hits over a token sequence of term ids (``tid``;
        ``len(term_ids)`` for a token that is no phrase term) whose
        tokens belong to rows ``row``: (start position, phrase length,
        exact emission id) arrays, ordered by phrase length, then
        position, then query order. A phrase never spans two rows."""
        found = []
        if not self.trie_keys:
            empty = np.empty(0, dtype=np.int64)
            return empty, empty, empty
        width = len(self.term_ids) + 1
        # the term id of the token after each one; a row's first token,
        # and the end, continue no phrase
        follow = np.append(tid, width - 1)
        if len(row) and row[0] != row[-1]:
            follow[(row[1:] != row[:-1]).nonzero()[0] + 1] = width - 1
        node = self.trie_keys[0][tid]
        pos = (node >= 0).nonzero()[0]
        node = node[pos]
        for level, keys in enumerate(self.trie_keys):
            if level:
                key = node * width + follow[pos + level]
                node = keys.searchsorted(key)  # keys end with a sentinel
                hit = (keys[node] == key).nonzero()[0]
                pos, node = pos[hit], node[hit]
            if not len(pos):
                break
            emit = self.trie_emit[level]
            if emit is None:
                continue
            one, several = emit
            if several is not None:
                off, ids = several
                count = off[node + 1] - off[node]
                found.append((np.repeat(pos, count), np.full(int(count.sum()), level + 1),
                              ids[_slices(off[node], count)]))
            else:
                eid = one[node]
                ends = (eid >= 0).nonzero()[0]
                if len(ends):
                    found.append((pos[ends], np.full(len(ends), level + 1), eid[ends]))
        if not found:
            empty = np.empty(0, dtype=np.int64)
            return empty, empty, empty
        if len(found) == 1:
            return found[0]
        return tuple(np.concatenate(parts) for parts in zip(*found))

    def term_id_array(self, vocab: list) -> np.ndarray:
        """The term id of each vocabulary string, ``len(term_ids)`` if
        none."""
        ids = self.term_ids
        return np.fromiter(map(ids.get, vocab, repeat(len(ids))), np.int64, len(vocab))

    def candidates(self, token_texts) -> list[int]:
        """Counter-prefilter candidates among the general (slop/ordered)
        queries; fuzzy `always` entries appended."""
        postings, req = self.postings, self.required
        counts = Counter(qi for tok in token_texts for qi in postings.get(tok, ()))
        return [qi for qi, c in counts.items() if c == req[qi]] + self.always

    # NOTE: we deliberately ship the derived pruning structures in the
    # broadcast rather than rebuilding them per worker — measured: the
    # rebuild (0.9s at 80k entries) costs more than the ~13% payload
    # saving is worth for worker cold-start.

    def probe_exact(self, tokens: Tokens) -> list:
        """The trie walk over one document's tokens: ((entry_id, type,
        meta), begin_pos, end_pos) per exact-phrase hit, in `walk`
        order."""
        tid = self.term_id_array(tokens.texts)
        pos, length, eid = self.walk(tid, np.zeros(len(tid), dtype=np.int64))
        emits = self.exact_emits
        return [(emits[e], p, p + n - 1)
                for p, n, e in zip(pos.tolist(), length.tolist(), eid.tolist())]

    def verify(self, toks: Scan, n_rows: int) -> tuple:
        """General-query hits of a batch, row by row: the counter
        prefilter, then `find_matches` for each candidate on the row's
        `Tokens`. (row, emission id, begin, end) arrays, per row in
        candidate order."""
        out = []
        base = self.eid_base + self.n_exact
        for r, tokens in enumerate(toks.per_row(n_rows)):
            if tokens:
                index = build_token_index(tokens)
                out += [(r, base + qi, b, e) for qi in self.candidates(index.keys())
                        for b, e in find_matches(tokens, self.queries[qi], index)]
        return tuple(np.array(out, dtype=np.int64).reshape(-1, 4).T)

    def token_hits(self, toks: Scan) -> tuple:
        """Token-test hits of a batch: each test is checked once per
        entry of the batch vocabulary, and each token whose entry passes
        is a hit with its span. Entries are read through ``toks.code``:
        the vocabulary may hold filter-emptied strings that no token
        has. (row, emission id, begin, end) arrays, by test."""
        vocab = toks.vocab
        passes = np.fromiter((test(v) for test, _ in self.tests for v in vocab), bool,
                             len(self.tests) * len(vocab))
        test, code = np.nonzero(passes.reshape(len(self.tests), len(vocab)))
        # the tokens of each passing entry: a slice of the tokens by code
        count = np.bincount(toks.code, minlength=len(vocab))
        at = np.argsort(toks.code, kind="stable")[_slices((np.cumsum(count) - count)[code],
                                                          count[code])]
        eid = np.repeat(test + self.eid_base + self.n_exact + len(self.queries), count[code])
        return toks.row[at], eid, toks.begin[at], toks.end[at]


def _slices(first: np.ndarray, count: np.ndarray) -> np.ndarray:
    """The indices ``first[i]``, ..., ``first[i] + count[i] - 1`` of
    every i, concatenated."""
    return np.repeat(first - (np.cumsum(count) - count), count) + np.arange(count.sum())


def _emission(q: CompiledQuery, type_name: str) -> tuple:
    """(entry_id, type, meta) an annotation of `q` carries
    (phrases.clj:217-226): synonym hits are re-attributed to the parent
    entry id, a missing type falls back to the dictionary default, and
    `_type` never leaks (it is never put in meta)."""
    meta = q.meta or {}
    qtype = q.type if q.type is not None else type_name
    return meta.get("query-id", q.query_id), qtype, meta


@dataclass
class CompiledDictionary:
    """Broadcastable compiled dictionary: one FieldProgram per distinct
    analysis config + the default annotation type.

    Derived from the programs, never passed in, and not pickled (they
    are rebuilt on load, so the broadcast carries one copy of the
    emission data): ``emissions`` holds every program's emissions by
    global id (exact phrases, then general queries, per program from
    its `eid_base`), and ``columns`` the same as the Arrow `type`,
    `dict_entry_id` and `meta` columns that the batch emit takes rows
    from."""

    fields: list[FieldProgram]
    type_name: str = "PHRASE"
    merge_annotations: bool = False
    emissions: list = field(init=False, repr=False, compare=False)
    columns: tuple = field(init=False, repr=False, compare=False)

    def __post_init__(self):
        self.emissions = []
        for prog in self.fields:
            prog.eid_base = len(self.emissions)
            self.emissions += prog.exact_emits + prog.emits + [e for _, e in prog.tests]
        self.columns = emission_columns(self.emissions)

    def __getstate__(self):
        return {k: v for k, v in vars(self).items() if k not in ("emissions", "columns")}

    def __setstate__(self, state):
        vars(self).update(state)
        self.__post_init__()

    @property
    def n_queries(self) -> int:
        return sum(len(f.queries) + f.n_exact + len(f.tests) for f in self.fields)


def emission_columns(emissions: list) -> tuple:
    """(type, dict_entry_id, meta) Arrow columns of ``emissions``."""
    metas = [e[2] for e in emissions]
    offsets = np.zeros(len(metas) + 1, dtype=np.int32)
    np.cumsum([len(m) for m in metas], out=offsets[1:])
    meta = pa.MapArray.from_arrays(
        column(offsets),
        string_array([k for m in metas for k in m]),
        string_array([v for m in metas for v in m.values()]),
        type=ANNOTATION_ARROW_TYPE.value_type.field("meta").type,
    )
    return (string_array([e[1] for e in emissions]),
            string_array([e[0] for e in emissions]), meta)


def entries(dictionary):
    """The front end of both compilers: `(query id, DictionaryEntry)`
    for every entry that converts (`DictionaryEntry.from_dict`); one
    that does not is logged and skipped (per-query failure isolation,
    monitor.clj:34-46). An entry keeps its id unless it is None, and
    then its id is its position (phrases.clj:206-215)."""
    for idx, raw in enumerate(dictionary):
        try:
            entry = raw if isinstance(raw, DictionaryEntry) else DictionaryEntry.from_dict(raw)
            query_id = str(entry.id if entry.id is not None else idx)
        except Exception:
            logger.exception("Failed to compile dictionary entry %r", raw)
            continue
        yield query_id, entry


def _prepare_synonyms(query_id: str, entry: DictionaryEntry) -> list[DictionaryEntry]:
    """Each synonym becomes its own query with a fresh UUID id, meta
    synonym?=true + query-id=parent (reference: phrases.clj:125-140);
    inherits every analysis/match option of the parent."""
    return [
        replace(entry, text=syn, id=str(uuid.uuid4()), synonyms=None,
                meta={**(entry.meta or {}), "synonym?": "true", "query-id": query_id})
        for syn in entry.synonyms or []
        if syn is not None and str(syn).strip()
    ]


# the entry fields that make its analysis config
_conf_key = attrgetter(*DEFAULT_CONF)


def conf_for(entry: DictionaryEntry, defaults: DictionaryEntry, cache: dict) -> AnalysisConfig:
    """Per-entry analysis config, the entry's fields over the defaults'
    (the highlighter options), memoized: dictionaries have few
    distinct configs (the reference memoizes analyzers the same way,
    text_analysis.clj:98-99)."""
    key = _conf_key(entry)
    conf = cache.get(key)
    if conf is None:
        conf = cache[key] = merge_config(vars(entry), vars(defaults))
    return conf


def _compile_entry(entry: DictionaryEntry, query_id: str, defaults: DictionaryEntry,
                   terms: tuple) -> CompiledQuery | None:
    if not terms:
        # 0-token entries, and entries without text, are discarded
        # with a warning (phrases.clj:204)
        logger.warning("Discarding dictionary entry (no tokens): %r", entry.text)
        return None

    # slop/in_order cascade separately from analysis opts
    # (phrases.clj:146-158)
    slop_raw = entry.slop if entry.slop is not None else defaults.slop
    in_order = entry.in_order if entry.in_order is not None else defaults.in_order
    fuzzy = bool(entry.fuzzy)
    slop = normalize_slop(slop_raw)

    # query-shape choice (phrases.clj:169-176): ordered-span path when
    # (slop>0 and in_order and >1 term) or fuzzy; fuzzy with in_order
    # unspecified defaults to ORDERED.
    span_path = (slop_raw is not None and slop > 0 and bool(in_order) and len(terms) > 1) or fuzzy
    if span_path:
        ordered = True if in_order else (in_order is None and fuzzy)
    else:
        ordered = False

    meta = dict(entry.meta or {})
    if span_path:
        # "_in-order" flag kept in metadata (phrases.clj:192)
        meta["_in-order"] = "true"

    return CompiledQuery(query_id=query_id, terms=terms, slop=slop, ordered=bool(ordered),
                         fuzzy=fuzzy, type=entry.type, meta=meta,
                         fuzziness=entry.fuzziness if entry.fuzziness is not None else 1)


def _entry_terms(pending: list) -> list:
    """The analyzed terms of each pending ``(entry, query id, conf)``,
    None for an entry whose analysis fails: the entry texts of one
    config are analyzed as one batch, and one by one if the batch
    fails, so that only the failing entry is skipped."""
    by_conf: dict[AnalysisConfig, list[int]] = {}
    for i, (_, _, conf) in enumerate(pending):
        by_conf.setdefault(conf, []).append(i)
    terms: list = [None] * len(pending)
    for conf, idxs in by_conf.items():
        texts = [pending[i][0].text or "" for i in idxs]
        try:
            toks = analyze_batch(TextBatch.from_strings(texts), conf)
            rows = [t.texts for t in toks.per_row(len(idxs))]
        except Exception:
            rows = [None] * len(idxs)
            for j, text in enumerate(texts):
                try:
                    rows[j] = analyze_batch(TextBatch.from_strings([text]), conf).tokens().texts
                except Exception:
                    logger.exception("Failed to compile dictionary entry %r", pending[idxs[j]][0])
        for i, words in zip(idxs, rows):
            terms[i] = tuple(words) if words is not None else None
    return terms


def compile_dictionary(dictionary, default_conf: dict | None = None, type_name: str = "PHRASE",
                       merge_annotations: bool = False) -> CompiledDictionary:
    """dictionary: iterable of dicts or DictionaryEntry; `default_conf`
    holds the highlighter options, defaults for the entry fields they
    name. Mirrors dict-entries->monitor-queries (phrases.clj:206-215):
    ordinal default ids are position-stable; synonyms appended right
    after their parent; per-entry compile errors logged and skipped
    (monitor.clj:34-46)."""
    defaults = DictionaryEntry.from_dict(default_conf or {})
    conf_cache: dict = {}
    pending = []  # (entry, query id, conf)
    for query_id, entry in entries(dictionary):
        todo = [(entry, query_id)]
        try:
            todo += [(syn, syn.id) for syn in _prepare_synonyms(query_id, entry)]
        except Exception:
            logger.exception("Failed to expand the synonyms of %r", entry)
        for ent, qid in todo:
            try:  # per-query failure isolation (monitor.clj:41-46)
                if not isinstance(ent.text or "", str):
                    raise TypeError(f"entry text is not a string: {ent.text!r}")
                pending.append((ent, qid, conf_for(ent, defaults, conf_cache)))
            except Exception:
                logger.exception("Failed to compile dictionary entry %r", ent)

    by_conf: dict[AnalysisConfig, FieldProgram] = {}
    for (ent, qid, conf), terms in zip(pending, _entry_terms(pending)):
        if terms is None:
            continue
        try:
            q = _compile_entry(ent, qid, defaults, terms)
        except Exception:
            logger.exception("Failed to compile dictionary entry %r", ent)
            q = None
        if q is None:
            continue
        prog = by_conf.get(conf)
        if prog is None:
            prog = by_conf[conf] = FieldProgram(conf=conf)
        prog.queries.append(q)

    programs = list(by_conf.values())
    for p in programs:
        p.finalize(type_name)
    return CompiledDictionary(fields=programs, type_name=type_name,
                              merge_annotations=merge_annotations)


def hits(batch: TextBatch, cd: CompiledDictionary, merge: bool | None) -> tuple:
    """Every annotation of ``batch`` as (row, emission id, begin, end)
    arrays, char offsets into the row's text, in the reference's
    per-document order: per row, per program, the exact-phrase hits (by
    phrase length, then position) before the general-query hits and the
    token-test hits. Null and blank rows get none. `merge` overrides the
    compile-time merge_annotations flag."""
    live = ~batch.blank
    scans: dict = {}
    parts = []
    for prog in cd.fields:
        toks = analyze_batch(batch, prog.conf, live, scans)
        if not len(toks.row):
            continue
        tid = prog.term_id_array(toks.vocab)[toks.code]
        pos, length, eid = prog.walk(tid, toks.row)
        parts.append((toks.row[pos], eid + prog.eid_base if prog.eid_base else eid,
                      toks.begin[pos], toks.end[pos + length - 1]))
        if prog.general or prog.always:
            parts.append(prog.verify(toks, batch.n))
        if prog.tests:
            parts.append(prog.token_hits(toks))
    if not parts:
        empty = np.empty(0, dtype=np.int64)
        return empty, empty, empty, empty
    row, eid, begin, end = parts[0] if len(parts) == 1 else (
        np.concatenate(c) for c in zip(*parts))
    merging = cd.merge_annotations if merge is None else merge
    if batch.n == 1 and not merging:
        return row, eid, begin, end
    order = np.argsort(row, kind="stable")
    if merging:
        order = _merged(order, row, eid, begin, end, cd.emissions)
    return row[order], eid[order], begin[order], end[order]


def _merged(order, row, eid, begin, end, emissions) -> np.ndarray:
    """``order`` with each row's hits merged as
    `merge_same_type_annotations` merges a document's annotations."""
    row, eid, begin, end = (a[order].tolist() for a in (row, eid, begin, end))
    order = order.tolist()
    out = []
    lo = 0
    while lo < len(row):
        hi = lo
        while hi < len(row) and row[hi] == row[lo]:
            hi += 1
        kept = _merge_order([emissions[e][1] for e in eid[lo:hi]], begin[lo:hi], end[lo:hi])
        out += [order[lo + i] for i in kept]
        lo = hi
    return np.array(out, dtype=np.int64)


def match_batch(texts, cd: CompiledDictionary) -> pa.Array:
    """Annotate a whole Arrow batch of texts: the `array<struct>`
    annotations column, one row per text (null and blank text give
    `[]`), of exactly ``ANNOTATION_ARROW_TYPE``. Each analysis config
    scans and encodes the batch once (`analyze_batch`), the exact
    phrases are one trie walk over the batch (`FieldProgram.walk`), and
    the column is built from buffers (`_column`)."""
    batch = TextBatch.from_arrow(texts)
    return _column(batch, cd, *hits(batch, cd, None))


def _column(batch: TextBatch, cd: CompiledDictionary, row, eid, begin, end) -> pa.Array:
    """The annotations column of ``batch``'s hits: the `text` bytes are
    gathered from the input's data, and `type`, `dict_entry_id` and
    `meta` are taken by emission id from ``cd.columns``."""
    # the first byte of each hit, and its length: char offsets are byte
    # offsets in ASCII rows; elsewhere char i of a row is the row's i-th
    # byte that is no UTF-8 continuation byte
    start, stop = batch.offsets[row] + begin, batch.offsets[row] + end
    other = np.flatnonzero(~batch.ascii[row])
    if len(other):
        data = batch.data
        chars = np.append(np.flatnonzero((data & 0xC0) != 0x80), len(data))
        first = np.searchsorted(chars, batch.offsets[row[other]])
        start[other], stop[other] = chars[first + begin[other]], chars[first + end[other]]
    lengths = stop - start
    text_off = np.zeros(len(row) + 1, dtype=np.int32)
    np.cumsum(lengths, out=text_off[1:])
    src = np.repeat(start - text_off[:-1], lengths)
    src += np.arange(len(src))
    text = pa.StringArray.from_buffers(len(row), pa.py_buffer(text_off),
                                       pa.py_buffer(batch.data[src]))
    take = column(eid)
    types, ids, metas = (col.take(take) for col in cd.columns)
    return list_column([text, types, ids, metas, column(begin.astype(np.int32)),
                        column(end.astype(np.int32))], row, batch.n, ANNOTATION_ARROW_TYPE)


def match_text(text: str, cd: CompiledDictionary, merge: bool | None = None) -> list[dict]:
    """Match one document against the compiled dictionary; returns
    annotation dicts (the reference's per-document `match`,
    phrases.clj:228-234, incl. blank guard and post-processing): the
    one-row case of `match_batch`, with the dicts built from the same
    hits. `merge` overrides the compile-time merge_annotations flag (the
    reference accepts it per call, phrases.clj:271-273)."""
    if text is None or not text.strip():
        return []
    _, eid, begin, end = hits(TextBatch.from_strings([text]), cd, merge)
    return [{"text": text[b:e], "type": cd.emissions[i][1], "dict_entry_id": cd.emissions[i][0],
             "meta": cd.emissions[i][2], "begin_offset": b, "end_offset": e}
            for i, b, e in zip(eid.tolist(), begin.tolist(), end.tolist())]


# ---------------------------------------------------------------------------
# Annotation merger (reference: src/beagle/annotation_merger.clj).
# ---------------------------------------------------------------------------
def _sweep(idx: list, begins: list, ends: list) -> list:
    """Linear sweep over begin-sorted annotations ``idx``;
    overlapping/nested runs collapse: strictly-nested child is absorbed
    by the parent, otherwise the later-starting annotation wins
    (annotation_merger.clj:10-24)."""
    if not idx:
        return []
    parent = idx[0]
    result = []
    for child in idx[1:]:
        pb, pe, cb, ce = begins[parent], ends[parent], begins[child], ends[child]
        if pb <= cb <= pe:  # related
            child_in_parent = cb >= pb and ce <= pe
            parent_in_child = pb >= cb and pe <= ce
            if not (child_in_parent and not parent_in_child):
                parent = child
        else:
            result.append(parent)
            parent = child
    result.append(parent)
    return result


def _merge_order(types: list, begins: list, ends: list) -> list[int]:
    """Indices of the annotations that survive merging, in output order:
    per type (first-seen order), the `_sweep` of its begin-sorted
    annotations."""
    by_type: dict = {}
    for i, t in enumerate(types):
        by_type.setdefault(t, []).append(i)
    out: list[int] = []
    for idx in by_type.values():
        out += _sweep(sorted(idx, key=begins.__getitem__), begins, ends)
    return out


def _offsets(annotations: list[dict]) -> tuple[list, list]:
    return ([a["begin_offset"] for a in annotations], [a["end_offset"] for a in annotations])


def merge_annotations(annotations: list[dict]) -> list[dict]:
    """Collapse overlapping and nested annotations (`_sweep` over them
    in begin order)."""
    begins, ends = _offsets(annotations)
    order = sorted(range(len(annotations)), key=begins.__getitem__)
    return [annotations[i] for i in _sweep(order, begins, ends)]


def merge_same_type_annotations(annotations: list[dict]) -> list[dict]:
    """`merge_annotations` within each type, types in first-seen order."""
    begins, ends = _offsets(annotations)
    kept = _merge_order([a["type"] for a in annotations], begins, ends)
    return [annotations[i] for i in kept]
