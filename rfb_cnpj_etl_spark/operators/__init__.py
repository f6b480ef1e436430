from . import audit, dedup, explode, merge, multimodal, similarity  # noqa: F401
