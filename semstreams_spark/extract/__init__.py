from .triples import extract_triples

__all__ = ["extract_triples"]
