from .bm25 import bm25_search, hybrid_search

__all__ = ["bm25_search", "hybrid_search"]
