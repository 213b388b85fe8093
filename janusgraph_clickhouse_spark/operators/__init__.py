from .kcvs import (
    slice_query,
    multi_key_slice,
    key_range_scan,
    multi_range_scan,
    mutate,
    top_k,
)

__all__ = [
    "slice_query",
    "multi_key_slice",
    "key_range_scan",
    "multi_range_scan",
    "mutate",
    "top_k",
]
