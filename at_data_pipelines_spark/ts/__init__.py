from .resample import (  # noqa: F401
    adjust_bars,
    align_to_calendar,
    cascade_rollup,
    resample_bars,
)
from .windows import (  # noqa: F401
    entity_window,
    ewm_mean,
    pct_change,
    rolling_std,
    rolling_sum,
    zscore_global,
)
