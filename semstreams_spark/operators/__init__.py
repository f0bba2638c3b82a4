from .merge import entity_states

__all__ = ["entity_states"]
