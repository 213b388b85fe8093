from .predicates import P

__all__ = ["P"]
