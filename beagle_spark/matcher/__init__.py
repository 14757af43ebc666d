from .compile import (
    CompiledDictionary,
    compile_dictionary,
    match_batch,
    match_text,
    merge_annotations,
    merge_same_type_annotations,
)
from .core import CompiledQuery, find_matches, normalize_slop

__all__ = [
    "CompiledDictionary",
    "CompiledQuery",
    "compile_dictionary",
    "match_batch",
    "match_text",
    "merge_annotations",
    "merge_same_type_annotations",
    "find_matches",
    "normalize_slop",
]
