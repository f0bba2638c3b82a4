from .merge import entity_states, edges_table, predicate_to_edge_type

__all__ = ["entity_states", "edges_table", "predicate_to_edge_type"]
