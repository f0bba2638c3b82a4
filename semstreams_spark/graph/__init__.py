from .traversal import bounded_traversal, traversal_paths
from .pagerank import pagerank_exact
from .lpa import lpa_communities, lpa_hierarchy

__all__ = [
    "bounded_traversal",
    "traversal_paths",
    "pagerank_exact",
    "lpa_communities",
    "lpa_hierarchy",
]
