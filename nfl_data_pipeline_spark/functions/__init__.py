"""Scalar/aggregate function library: R-semantics shims (``rsem``) and
the domain scalar vocabulary (``scalars``) the reference uses."""

from nfl_data_pipeline_spark.functions.rsem import (  # noqa: F401
    r_cor,
    r_first,
    r_mean,
    r_mean_nan,
    r_round,
    r_cumsum,
    r_ifelse_na,
    r_sum,
)
from nfl_data_pipeline_spark.functions.scalars import (  # noqa: F401
    american_odds_to_prob,
    calibration_bin,
    clamp,
    logit,
    inv_logit,
    log_loss_expr,
    minmax_rescale,
)
