from .vectors import as_double, cosine, dot, norm

__all__ = ["as_double", "cosine", "dot", "norm"]
