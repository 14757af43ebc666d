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
  + posting-list counter sweep over distinct tokens (candidate pruning)
  + full positional verification only for candidate queries.
"""

from __future__ import annotations

import logging
import uuid
from dataclasses import dataclass, field, replace
from operator import attrgetter

from ..analysis import DEFAULT_CONF, AnalysisConfig, Tokens, analyze, merge_config
from ..schema import DictionaryEntry
from .core import CompiledQuery, build_token_index, find_matches, normalize_slop

logger = logging.getLogger(__name__)


@dataclass
class FieldProgram:
    """All queries sharing one analysis config (== one Lucene field,
    monitor.clj:48-59), with two complementary pruning structures:

    - exact_index: per phrase length, a first-term-keyed (nested for
      n>1) table of slop-0 non-fuzzy phrase queries (the overwhelming
      majority of real dictionaries). Matching is a direct n-gram
      window probe over the document — O(doc_tokens x distinct phrase
      lengths), independent of dictionary size; a position whose token
      starts no phrase costs a single dict miss. This subsumes Lucene's
      presearcher for exact phrases (stronger: zero false candidates).
    - postings/required counter prefilter for the general queries
      (slop/ordered), Lucene-Monitor-style; fuzzy queries bypass it
      (`always`) since exact term presence can't prune them.
    """

    conf: AnalysisConfig
    queries: list[CompiledQuery] = field(default_factory=list)
    # emits[i]: resolved (entry_id, type, meta) of the kept queries[i]
    emits: list = field(default_factory=list)
    # {1: {term -> emits}}; {n>1: {first term -> {rest-terms tuple -> emits}}}
    exact_index: dict = field(default_factory=dict)
    ngram_lengths: tuple = ()
    n_exact: int = 0
    general: list = field(default_factory=list)  # query idxs needing verify
    postings: dict = field(default_factory=dict)
    required: list = field(default_factory=list)
    always: list = field(default_factory=list)

    def finalize(self, type_name: str = "PHRASE"):
        """Split queries into the lean exact-phrase table and the
        general verification list.

        Exact-phrase queries (slop 0, non-fuzzy, non-ordered — the bulk
        of real dictionaries) are compiled DOWN to emission tuples
        (resolved_entry_id, resolved_type, meta) keyed by their joined
        terms, and their CompiledQuery objects are dropped entirely: at
        80k entries this shrinks the per-worker structure several-fold,
        which matters because many worker processes share the CPU cache
        (broadcast size and probe locality, not matching arithmetic, are
        the throughput limiters at scale). Synonym re-attribution and
        default-type resolution (phrases.clj:217-226,269) happen here,
        once, instead of per match: for the kept general queries too,
        in `emits`."""
        exact: dict[int, dict] = {}
        keep: list[CompiledQuery] = []
        for q in self.queries:
            if not q.fuzzy and q.slop == 0 and not q.ordered:
                # keyed by the TERMS TUPLE, never a joined string: tokens
                # from the whitespace/keyword tokenizers may themselves
                # contain any byte (including NUL), so a join/re-split
                # round-trip is ambiguous (a first term containing NUL
                # used to be truncated at the separator -> silent probe
                # miss)
                exact.setdefault(len(q.terms), {}).setdefault(
                    tuple(q.terms), []
                ).append(_emission(q, type_name))
                continue
            keep.append(q)
        self.queries = keep
        self.emits = [_emission(q, type_name) for q in keep]
        # n==1: flat term -> emits. n>1: NESTED first term -> {REST
        # terms tuple -> emits}: a position whose token isn't the first
        # term of ANY n-phrase costs ONE dict miss (no window-tuple
        # allocation, no big-table probe) — on mostly-non-matching
        # dictionaries that is the overwhelming case; a hit pays a
        # second lookup keyed by the (n-1)-term rest tuple.
        self.exact_index = {}
        for n, table in exact.items():
            if n == 1:
                self.exact_index[1] = {k[0]: tuple(v) for k, v in table.items()}
                continue
            nested: dict = {}
            for terms, emits in table.items():
                nested.setdefault(terms[0], {})[terms[1:]] = tuple(emits)
            self.exact_index[n] = nested
        self.ngram_lengths = tuple(sorted(exact))
        self.n_exact = sum(len(v) for t in exact.values() for v in t.values())

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

    def candidates(self, token_texts) -> list[int]:
        """Counter-prefilter candidates among the general (slop/ordered)
        queries; fuzzy `always` entries appended."""
        counts: dict[int, int] = {}
        postings = self.postings
        for tok in token_texts:
            for qi in postings.get(tok, ()):
                counts[qi] = counts.get(qi, 0) + 1
        req = self.required
        out = [qi for qi, c in counts.items() if c == req[qi]]
        if self.always:
            out.extend(self.always)
        return out

    # NOTE: we deliberately ship the derived pruning structures in the
    # broadcast rather than rebuilding them per worker — measured: the
    # rebuild (0.9s at 80k entries) costs more than the ~13% payload
    # saving is worth for worker cold-start.

    def probe_exact(self, tokens: Tokens) -> list:
        """Direct phrase-table probe: slide an n-gram window per distinct
        phrase length over the token strings; emit ((entry_id, type,
        meta), begin_pos, end_pos)."""
        out = []
        texts = tokens.texts
        n_tok = len(texts)
        tables = self.exact_index
        for n in self.ngram_lengths:
            table = tables[n]
            if n == 1:
                for pos, txt in enumerate(texts):
                    emits = table.get(txt)
                    if emits:
                        for e in emits:
                            out.append((e, pos, pos))
            elif n <= n_tok:
                get_first = table.get
                for pos in range(n_tok - n + 1):
                    sub = get_first(texts[pos])
                    if sub is None:
                        continue
                    emits = sub.get(tuple(texts[pos + 1 : pos + n]))
                    if emits:
                        for e in emits:
                            out.append((e, pos, pos + n - 1))
        return out


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
    analysis config + the default annotation type."""

    fields: list[FieldProgram]
    type_name: str = "PHRASE"
    merge_annotations: bool = False

    @property
    def n_queries(self) -> int:
        return sum(len(f.queries) + f.n_exact for f in self.fields)


def _entries(dictionary):
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


def _conf_for(entry: DictionaryEntry, defaults: DictionaryEntry, cache: dict) -> AnalysisConfig:
    """Per-entry analysis config, the entry's fields over the defaults'
    (the highlighter options), memoized: dictionaries have few
    distinct configs (the reference memoizes analyzers the same way,
    text_analysis.clj:98-99)."""
    key = _conf_key(entry)
    conf = cache.get(key)
    if conf is None:
        conf = cache[key] = merge_config(vars(entry), vars(defaults))
    return conf


def _compile_entry(
    entry: DictionaryEntry,
    query_id: str,
    defaults: DictionaryEntry,
    conf_cache: dict,
) -> tuple[AnalysisConfig, CompiledQuery] | None:
    conf = _conf_for(entry, defaults, conf_cache)
    terms = tuple(analyze(entry.text or "", conf).texts)
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

    q = CompiledQuery(
        query_id=query_id,
        terms=terms,
        slop=slop,
        ordered=bool(ordered),
        fuzzy=fuzzy,
        fuzziness=entry.fuzziness if entry.fuzziness is not None else 1,
        type=entry.type,
        meta=meta,
    )
    return conf, q


def compile_dictionary(
    dictionary,
    default_conf: dict | None = None,
    type_name: str = "PHRASE",
    merge_annotations: bool = False,
) -> CompiledDictionary:
    """dictionary: iterable of dicts or DictionaryEntry; `default_conf`
    holds the highlighter options, defaults for the entry fields they
    name. Mirrors dict-entries->monitor-queries (phrases.clj:206-215):
    ordinal default ids are position-stable; synonyms appended right
    after their parent; per-entry compile errors logged and skipped
    (monitor.clj:34-46)."""
    defaults = DictionaryEntry.from_dict(default_conf or {})
    by_conf: dict[AnalysisConfig, FieldProgram] = {}
    conf_cache: dict = {}
    for query_id, entry in _entries(dictionary):
        todo = [(entry, query_id)]
        try:
            todo += [(syn, syn.id) for syn in _prepare_synonyms(query_id, entry)]
        except Exception:
            logger.exception("Failed to expand the synonyms of %r", entry)
        for ent, qid in todo:
            try:
                compiled = _compile_entry(ent, qid, defaults, conf_cache)
            except Exception:  # per-query failure isolation (monitor.clj:41-46)
                logger.exception("Failed to compile dictionary entry %r", ent)
                compiled = None
            if compiled is None:
                continue
            conf, q = compiled
            prog = by_conf.get(conf)
            if prog is None:
                prog = by_conf[conf] = FieldProgram(conf=conf)
            prog.queries.append(q)

    programs = list(by_conf.values())
    for p in programs:
        p.finalize(type_name)
    return CompiledDictionary(
        fields=programs, type_name=type_name, merge_annotations=merge_annotations
    )


def match_text(text: str, cd: CompiledDictionary, merge: bool | None = None) -> list[dict]:
    """Match one document against the compiled dictionary; returns
    annotation dicts (the reference's per-document `match`,
    phrases.clj:228-234, incl. blank guard and post-processing).
    `merge` overrides the compile-time merge_annotations flag (the
    reference accepts it per call, phrases.clj:271-273)."""
    if text is None or not text.strip():
        return []
    out: list[dict] = []
    for prog in cd.fields:
        tokens = analyze(text, prog.conf)
        if not tokens:
            continue
        # (emission, begin, end): exact-phrase window probe first, then
        # counter prefilter + positional verification; offsets are read
        # only for the hits
        begins, ends = tokens.begins, tokens.ends
        hits = [(e, begins[p0], ends[p1]) for e, p0, p1 in prog.probe_exact(tokens)]
        if prog.general or prog.always:
            index = build_token_index(tokens)
            for qi in prog.candidates(index.keys()):
                e = prog.emits[qi]
                hits.extend(
                    (e, b, end) for b, end in find_matches(tokens, prog.queries[qi], index)
                )
        for (entry_id, qtype, meta), begin, end in hits:
            out.append(
                {
                    "text": text[begin:end],
                    "type": qtype,
                    "dict_entry_id": entry_id,
                    "meta": meta,
                    "begin_offset": begin,
                    "end_offset": end,
                }
            )
    if cd.merge_annotations if merge is None else merge:
        out = merge_same_type_annotations(out)
    return out


# ---------------------------------------------------------------------------
# Annotation merger (reference: src/beagle/annotation_merger.clj).
# ---------------------------------------------------------------------------
def _related(a: dict, b: dict) -> bool:
    return a["begin_offset"] <= b["begin_offset"] <= a["end_offset"]


def _nested(parent: dict, child: dict) -> bool:
    return (
        child["begin_offset"] >= parent["begin_offset"]
        and child["end_offset"] <= parent["end_offset"]
    )


def merge_annotations(annotations: list[dict]) -> list[dict]:
    """Linear sweep over begin-sorted annotations; overlapping/nested
    runs collapse: strictly-nested child is absorbed by the parent,
    otherwise the later-starting annotation wins
    (annotation_merger.clj:10-24)."""
    if not annotations:
        return []
    anns = sorted(annotations, key=lambda a: a["begin_offset"])
    parent = anns[0]
    result = []
    for child in anns[1:]:
        if _related(parent, child):
            if not (_nested(parent, child) and not _nested(child, parent)):
                parent = child
        else:
            result.append(parent)
            parent = child
    result.append(parent)
    return result


def merge_same_type_annotations(annotations: list[dict]) -> list[dict]:
    by_type: dict = {}
    for a in annotations:
        by_type.setdefault(a["type"], []).append(a)
    out: list[dict] = []
    for anns in by_type.values():
        out.extend(merge_annotations(anns))
    return out
