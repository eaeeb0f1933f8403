from . import collapse, dedup, sampling, similarity, text

__all__ = ["collapse", "dedup", "sampling", "similarity", "text"]
