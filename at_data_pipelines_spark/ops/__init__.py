from .asof import asof_join  # noqa: F401
from .range_join import range_join  # noqa: F401
from .rank import ntile_from, percent_rank_from, with_global_rank  # noqa: F401
from .sketch import kmv_distinct, uniform_hash  # noqa: F401
