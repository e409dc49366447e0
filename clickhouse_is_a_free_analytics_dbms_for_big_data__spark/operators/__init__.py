from .asof import asof_join
from .exact_sum import exact_sum_scaled
from .skew import salted_collect_set, salted_join

__all__ = [
    "asof_join",
    "exact_sum_scaled",
    "salted_collect_set",
    "salted_join",
]
