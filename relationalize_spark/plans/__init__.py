from .diagnose import skew_report
from .session import get_spark

__all__ = ["get_spark", "skew_report"]
