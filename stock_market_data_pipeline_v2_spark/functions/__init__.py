from .core import safe_divide, null_if_zero_divide, count_if  # noqa: F401
