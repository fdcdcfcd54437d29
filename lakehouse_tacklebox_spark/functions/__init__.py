from lakehouse_tacklebox_spark.functions.money import (  # noqa: F401
    CENTS_SQL,
    DISC_PRICE_SQL,
    REV_CENTS_SQL,
    cents,
    disc_price,
    dmoney,
    drate,
    dsum_dbl,
    ppm,
    rev_cents,
    round_dbl,
)
