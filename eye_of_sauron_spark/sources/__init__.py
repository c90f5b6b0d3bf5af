from .tables import TABLES, load_table, register_views, spread

__all__ = [
    "TABLES",
    "load_table",
    "register_views",
    "spread",
]
