"""Dictionary validation (reference: src/beagle/validator.clj,
src/beagle/schema.clj:25-29) + CLI entry point.

The reference validates with clojure.spec; here each field of the
entry format (`schema`) has one explicit check, applied to the entry
with its keys normalized: `text` required; tokenizer/stemmer enums.
"""

from __future__ import annotations

import sys

from ..analysis import stem, tokenizers
from ..schema import BOOL_FIELDS, INT_FIELDS, entry_key


def _err(errors, idx, msg):
    errors.append(f"entry {idx}: {msg}")


def _string(v):
    return isinstance(v, str)


# field -> (check of a non-None value, what the check wants)
_CHECKS = {
    "text": (lambda v: _string(v) and bool(v.strip()), "a non-blank string"),
    "type": (_string, "a string"),
    "id": (_string, "a string"),
    "synonyms": (
        lambda v: isinstance(v, (list, tuple)) and all(_string(s) and s.strip() for s in v),
        "a list of non-blank strings",
    ),
    "stemmer": (lambda v: str(v).lstrip(":") in stem._SNOWBALL_LANGS, "a known stemmer"),
    "tokenizer": (lambda v: str(v).lstrip(":") in tokenizers._PATTERNS, "a known tokenizer"),
    "meta": (lambda v: isinstance(v, dict), "a map"),
    **dict.fromkeys(BOOL_FIELDS, (lambda v: isinstance(v, bool), "boolean")),
    **dict.fromkeys(
        INT_FIELDS,
        (lambda v: isinstance(v, int) and not isinstance(v, bool) and v >= 0, "an integer >= 0"),
    ),
}


def validate_entry(entry: dict, idx: int, errors: list[str]) -> None:
    """Check one entry whose keys are spelled by `schema.entry_key`."""
    for key, (ok, want) in _CHECKS.items():
        v = entry.get(key)
        if (v is not None or key == "text") and not ok(v):
            _err(errors, idx, f"`{key}` must be {want}, got {v!r}")


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
            validate_entry({entry_key(k): v for k, v in e.items()}, i, errors)
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
