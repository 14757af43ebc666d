"""Dictionary validation (reference: src/beagle/validator.clj,
src/beagle/schema.clj:25-29) + CLI entry point.

The reference validates with clojure.spec; here we check the same
constraints explicitly: `text` required non-blank string; optional
fields type-checked; tokenizer/stemmer enums.
"""

from __future__ import annotations

import sys

from ..analysis import stem, tokenizers


def _err(errors, idx, msg):
    errors.append(f"entry {idx}: {msg}")


def validate_entry(entry: dict, idx: int, errors: list[str]) -> None:
    text = entry.get("text")
    if not isinstance(text, str) or not text.strip():
        _err(errors, idx, f"`text` must be a non-blank string, got {text!r}")
    for key in ("type", "id"):
        v = entry.get(key)
        if v is not None and not isinstance(v, str):
            _err(errors, idx, f"`{key}` must be a string, got {v!r}")
    syn = entry.get("synonyms")
    if syn is not None:
        if not isinstance(syn, (list, tuple)) or any(
            not isinstance(s, str) or not s.strip() for s in syn
        ):
            _err(errors, idx, f"`synonyms` must be non-blank strings, got {syn!r}")
    for key in ("case-sensitive?", "ascii-fold?", "stem?", "in-order?", "fuzzy?",
                "case_sensitive", "ascii_fold", "stem", "in_order", "fuzzy"):
        v = entry.get(key)
        if v is not None and not isinstance(v, bool):
            _err(errors, idx, f"`{key}` must be boolean, got {v!r}")
    slop = entry.get("slop")
    if slop is not None and (not isinstance(slop, (int, float)) or slop < 0):
        _err(errors, idx, f"`slop` must be a number >= 0, got {slop!r}")
    tok = entry.get("tokenizer")
    if tok is not None and str(tok).lstrip(":") not in tokenizers._PATTERNS:
        _err(errors, idx, f"unknown tokenizer {tok!r}")
    stemmer = entry.get("stemmer")
    if stemmer is not None and str(stemmer).lstrip(":") not in stem._SNOWBALL_LANGS:
        _err(errors, idx, f"unknown stemmer {stemmer!r}")
    meta = entry.get("meta")
    if meta is not None and not isinstance(meta, dict):
        _err(errors, idx, f"`meta` must be a map, got {meta!r}")


def validate_dictionary(dictionary, raise_on_error: bool = False) -> list[str]:
    """Returns a list of error strings (empty == valid)."""
    errors: list[str] = []
    if not isinstance(dictionary, (list, tuple)):
        errors.append("dictionary must be a sequence of entries")
    else:
        for i, e in enumerate(dictionary):
            if hasattr(e, "to_dict"):
                e = e.to_dict()
            if not isinstance(e, dict):
                _err(errors, i, f"entry must be a map, got {type(e).__name__}")
                continue
            validate_entry({str(k).lstrip(":"): v for k, v in e.items()}, i, errors)
    if errors and raise_on_error:
        raise ValueError("invalid dictionary: " + "; ".join(errors))
    return errors


def valid_dictionary(dictionary) -> bool:
    try:
        return bool(dictionary) and not validate_dictionary(dictionary)
    except Exception:
        return False


SUPPORTED_FILE_TYPES = {"csv", "json", "edn"}


def valid_dictionary_file(path: str, file_type: str) -> bool:
    """Reference valid-dictionary-file? (validator.clj:17-24)."""
    from . import readers

    if file_type not in SUPPORTED_FILE_TYPES:
        print(f"File type not supported: `{file_type}`", file=sys.stderr)
        return False
    try:
        d = {"csv": readers.read_csv, "json": readers.read_json,
             "edn": readers.read_edn}[file_type](path)
        return valid_dictionary(d)
    except Exception as e:
        print(f"Failed to read {path}: {e}", file=sys.stderr)
        return False


def main(args: list[str] | None = None) -> int:
    """CLI: `python -m beagle_spark.dictionary.validator dict.csv csv ...`
    (reference -main, validator.clj:26-30): exit 1 on invalid."""
    args = sys.argv[1:] if args is None else args
    if len(args) % 2 == 1:
        print(
            "Even number of arguments must be present - "
            "'dictionary-name dictionary-type ...'",
            file=sys.stderr,
        )
        return 1
    pairs = [(args[i], args[i + 1]) for i in range(0, len(args), 2)]
    if any(not valid_dictionary_file(f, t) for f, t in pairs):
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
