from . import dedup, multimodal, rollup, similarity, textstats  # noqa: F401
