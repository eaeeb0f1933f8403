from . import csvgz, jdbc, warehouse

__all__ = ["csvgz", "jdbc", "warehouse"]
