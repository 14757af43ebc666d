"""Dictionary optimizer: merge equivalent entries before compilation
(reference: src/beagle/dictionary_optimizer.clj).

Grouping key: the full analysis identity (text, case-sensitivity,
ascii-folding, stemming, stemmer, tokenizer) plus the match shape
(slop, in-order, fuzzy, fuzziness), each key read through
`schema.norm_key` so both spellings group together. NOTE this deliberately
deviates from the reference's code, which groups only on
[text case-sensitive? ascii-fold?] (dictionary_optimizer.clj:41-42) and
therefore merges entries that differ in stemming/tokenizer — its own
README (README.md:284-285) documents the stricter intent. We follow the
README semantics: strictly safer (SURVEY.md A24 fidelity note).

Within a group, entries merge only when their shared meta keys agree
(mergeable-meta?, dictionary_optimizer.clj:24-26): the merged entry is
the first one with synonyms unioned (minus the primary text) and metas
merged, so its id and every other key come from the first entry.
"""

from __future__ import annotations

from ..schema import FIELD_TYPES, norm_keys

# Entries merge only when all of these agree: every field but the
# annotation's own (type, id) and the merged ones (synonyms, meta), i.e.
# the text, the analysis identity and the match shape (a merged entry
# must match what each input did).
_GROUP_FIELDS = tuple(f for f in FIELD_TYPES if f not in ("type", "id", "synonyms", "meta"))


def _group_key(entry: dict):
    keys = norm_keys(entry)
    return tuple(keys.get(f) for f in _GROUP_FIELDS)


def _mergeable_meta(a: dict, b: dict) -> bool:
    ma, mb = a.get("meta") or {}, b.get("meta") or {}
    return all(ma[k] == mb[k] for k in set(ma) & set(mb))


def _merge_entries(entries: list[dict]) -> dict:
    """A copy of the first entry (keys keep their spelling) with the
    synonyms unioned and the metas merged."""
    first = entries[0]
    text = first.get("text")
    synonyms: list[str] = []
    seen = set()
    for e in entries:
        for s in e.get("synonyms") or []:
            if s != text and s not in seen:
                seen.add(s)
                synonyms.append(s)
    meta: dict = {}
    for e in entries:
        meta.update(e.get("meta") or {})
    out = {k: v for k, v in first.items() if k not in ("synonyms", "meta")}
    if synonyms:
        out["synonyms"] = synonyms
    if meta:
        out["meta"] = meta
    return out


def _aggregate_by_meta(entries: list[dict]) -> list[dict]:
    """Pairwise merge with an exceptions queue (reference
    aggregate-entries-by-meta, dictionary_optimizer.clj:28-38)."""
    acc: list[dict] = []
    pending = list(entries)
    while pending:
        current, rest = pending[0], pending[1:]
        exceptions: list[dict] = []
        for e in rest:
            if _mergeable_meta(current, e):
                current = _merge_entries([current, e])
            else:
                exceptions.append(e)
        acc.append(current)
        pending = exceptions
    return acc


def _group(dictionary) -> dict:
    groups: dict = {}
    for e in dictionary:
        if hasattr(e, "to_dict"):
            e = e.to_dict()
        groups.setdefault(_group_key(e), []).append(e)
    return groups


def optimize(dictionary) -> list[dict]:
    out: list[dict] = []
    for entries in _group(dictionary).values():
        out.extend(_aggregate_by_meta(entries))
    return out


def dry_run(dictionary) -> list[dict]:
    """Merge suggestions without applying (dictionary_optimizer.clj:47-58)."""
    out = []
    for entries in _group(dictionary).values():
        if len(entries) > 1:
            names = [e.get("id") or e.get("text") for e in entries]
            out.append(
                {
                    "suggestion": (
                        f"Dictionary items '{names}' have identical "
                        "`[text case-sensitivity ascii-folding]` features."
                    ),
                    "dictionary_items": entries,
                }
            )
    return out
