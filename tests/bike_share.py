"""Seeded stand-in for the reference's ``bike_share_day.csv`` fixture.

The reference's dietML example fits ridge on the UCI bike-sharing daily table
(731 days, 2011-2012). The hermetic tests need a frame of the same shape:
an integer ``instant`` id, integer calendar columns (season, yr, mnth,
holiday, weekday, workingday, weathersit), continuous normalised weather
columns (temp, atemp, hum, windspeed) and the three counts with
``casual + registered == cnt``, so a linear model on every column fits the
count almost exactly, as it does on the real table.

    from bike_share import bike_share_day
    pdf = bike_share_day()          # pandas, 731 rows, same seed every call
"""

from __future__ import annotations

import numpy as np
import pandas as pd

N_DAYS = 731
SEED = 2011


def bike_share_day(seed: int = SEED) -> pd.DataFrame:
    """The 731-row daily table; every draw comes from one seeded generator."""
    rng = np.random.default_rng(seed)
    dates = pd.date_range("2011-01-01", periods=N_DAYS, freq="D")
    month = dates.month.to_numpy()
    # the dataset's coding: 0 = Sunday, season 1..4 starting with winter
    weekday = ((dates.dayofweek.to_numpy() + 1) % 7).astype(np.int64)
    season = (month % 12 // 3 + 1).astype(np.int64)
    yr = (dates.year.to_numpy() - 2011).astype(np.int64)
    holiday = (rng.random(N_DAYS) < 0.03).astype(np.int64)
    workingday = ((weekday >= 1) & (weekday <= 5) & (holiday == 0)).astype(np.int64)
    weathersit = rng.choice([1, 2, 3], N_DAYS, p=[0.63, 0.34, 0.03]).astype(np.int64)

    seasonal = np.sin(2 * np.pi * (dates.dayofyear.to_numpy() - 105) / 365.25)
    temp = np.clip(0.5 + 0.28 * seasonal + rng.normal(0, 0.07, N_DAYS), 0.06, 0.86)
    atemp = np.clip(0.93 * temp + 0.03 + rng.normal(0, 0.02, N_DAYS), 0.08, 0.84)
    hum = np.clip(0.55 + 0.1 * (weathersit - 1) + rng.normal(0, 0.12, N_DAYS), 0.0, 0.97)
    windspeed = np.clip(rng.gamma(4.0, 0.048, N_DAYS), 0.02, 0.51)

    bad_weather = weathersit - 1
    casual = np.maximum(
        2.0,
        150 + 1900 * temp * (1 - 0.6 * workingday) + 250 * yr
        - 300 * bad_weather - 400 * windspeed + rng.normal(0, 220, N_DAYS),
    ).round().astype(np.int64)
    registered = np.maximum(
        20.0,
        900 + 1700 * yr + 3200 * temp + 900 * workingday - 700 * bad_weather
        - 1200 * (hum - 0.55) - 1500 * windspeed + rng.normal(0, 450, N_DAYS),
    ).round().astype(np.int64)
    return pd.DataFrame(
        {
            "instant": np.arange(1, N_DAYS + 1, dtype=np.int64),
            "season": season,
            "yr": yr,
            "mnth": month.astype(np.int64),
            "holiday": holiday,
            "weekday": weekday,
            "workingday": workingday,
            "weathersit": weathersit,
            "temp": temp.round(6),
            "atemp": atemp.round(6),
            "hum": hum.round(6),
            "windspeed": windspeed.round(6),
            "casual": casual,
            "registered": registered,
            "cnt": casual + registered,
        }
    )
