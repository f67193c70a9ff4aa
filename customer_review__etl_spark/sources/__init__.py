from .tables import TABLE_NAMES, load

__all__ = ["TABLE_NAMES", "load"]
