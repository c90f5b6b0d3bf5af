from .tables import TABLES, load_table, register_views, spread, top_k, top_k_per

__all__ = [
    "TABLES",
    "load_table",
    "register_views",
    "spread",
    "top_k",
    "top_k_per",
]
