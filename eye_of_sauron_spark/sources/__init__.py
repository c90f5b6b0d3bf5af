from .tables import TABLES, load_table, register_views, spread

__all__ = [
    "TABLES",
    "load_table",
    "register_views",
    "spread",
    "streams",
]


def __getattr__(name):
    # lazy: streams pulls in the streaming package, which imports back
    # into sources — deferring breaks the cycle without import-order tricks
    if name == "streams":
        import importlib

        mod = importlib.import_module(f".{name}", __name__)
        globals()[name] = mod
        return mod
    raise AttributeError(name)
